"""Every Parquet file the engine writes is zstd through one session
default (``spark.sql.parquet.compression.codec`` in ``ENGINE_CONF``),
and the readers the engine is checked against read those files back
row for row: Spark, DuckDB and pyarrow."""

import glob
import hashlib

import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pydin_spark import (Delta, Filesystem, Parquet, Pipeline, Select,
                         SourceRegistry, Table, load_table)
from pydin_spark.functions.maintenance import compact
from pydin_spark.operators.rollup import ContinuousRollup
from pydin_spark.operators.similarity import IVFIndex
from pydin_spark.operators.stored import CommitLog

KEY = "pd_process_id"
NATION = "select n_nationkey, n_name, n_regionkey from nation"


def _files(root):
    return sorted(glob.glob(f"{root}/**/*.parquet", recursive=True))


def _codecs(root):
    """Codec of every column chunk of every ``*.parquet`` under root."""
    out = set()
    for path in _files(root):
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            out |= {group.column(c).compression
                    for c in range(group.num_columns)}
    return out


def _registry(root):
    reg = SourceRegistry(autoload=False)
    reg.register(Filesystem("lake", str(root)))
    return reg


def _snappy(df, path):
    df.write.mode("append").option("compression", "snappy").parquet(path)


def test_every_engine_write_path_is_zstd(spark, views, sf_dir, tmp_path,
                                         monkeypatch):
    written = {}
    reg = _registry(tmp_path)

    sink = Parquet(file_name="sink", path=str(tmp_path), partition_by=[KEY],
                   key_field="process_id")
    table = Table(source_name="lake", schema_name="s", table_name="t",
                  key_field="process_id")
    for pid in (1, 2):
        Pipeline(Select(text=NATION), sink, spark=spark,
                 process_id=pid).run()
        Pipeline(Select(text=NATION), table, spark=spark, registry=reg,
                 process_id=pid).run()
    written["Parquet._write"] = sink.resolved_path
    written["Table.load"] = table.fs_path

    # a per-write option still wins over the session default; the
    # recycle survivors and the compaction are then engine writes
    mixed = Parquet(file_name="mixed", path=str(tmp_path))
    _snappy(spark.range(10).withColumn(KEY, F.col("id") % 2).coalesce(1),
            mixed.resolved_path)
    assert _codecs(mixed.resolved_path) == {"SNAPPY"}
    mixed.recycle(KEY, 1)
    written["_recycle_files survivors"] = mixed.resolved_path

    frag = str(tmp_path / "frag")
    for i in range(3):
        _snappy(spark.range(i * 10, i * 10 + 10), frag)
    compact(spark, frag)
    written["compact"] = frag

    log = CommitLog(str(tmp_path / "log"), ("rows",))
    log.commit(spark, {"rows": spark.range(5)})
    written["CommitLog.commit"] = log.path

    rollup = ContinuousRollup(str(tmp_path / "rollup"), bucket="1 day")
    rollup.refresh(spark.table("events").limit(200))
    written["ContinuousRollup.refresh"] = rollup.path

    corpus = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>")
    index = IVFIndex(str(tmp_path / "ivf"), nlist=2, max_iter=2)
    index.build(corpus)
    written["IVFIndex.build"] = index.path

    staged = tmp_path / "staged"
    monkeypatch.setenv("PYDIN_STAGED_DIR", str(staged))
    load_table(spark, sf_dir, "events")
    written["_stage_converted"] = str(staged)

    for name, root in written.items():
        assert _files(root), name
        assert _codecs(root) == {"ZSTD"}, name


def test_delta_sink_is_zstd(spark, views, tmp_path):
    pytest.importorskip("delta")
    delta = Delta(file_name="delta", path=str(tmp_path))
    Pipeline(Select(text=NATION), delta, spark=spark).run()
    assert _files(delta.resolved_path)
    assert _codecs(delta.resolved_path) == {"ZSTD"}


def _digest(rows):
    return hashlib.sha256(
        repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


def test_duckdb_and_pyarrow_read_engine_parquet(spark, views, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    reg = _registry(tmp_path)
    sink = Parquet(file_name="sink", path=str(tmp_path),
                   key_field="process_id")
    table = Table(source_name="lake", schema_name="s", table_name="t",
                  key_field="process_id")
    for pid in (1, 2):
        for target in (sink, table):
            Pipeline(Select(text=NATION), target, spark=spark,
                     registry=reg, process_id=pid).run()

    cols = ["n_nationkey", "n_name", "n_regionkey", KEY]
    for root in (sink.resolved_path, table.fs_path):
        spark.catalog.refreshByPath(root)
        want = _digest(spark.read.parquet(root).select(*cols).collect())
        files = _files(root)
        con = duckdb.connect()
        got_duckdb = _digest(con.execute(
            f"select {', '.join(cols)} from read_parquet(?)",
            [files]).fetchall())
        con.close()
        arrow = pads.dataset(files, format="parquet").to_table(columns=cols)
        got_arrow = _digest(zip(*(arrow.column(c).to_pylist()
                                  for c in cols)))
        assert got_duckdb == want, root
        assert got_arrow == want, root
        assert _codecs(root) == {"ZSTD"}
