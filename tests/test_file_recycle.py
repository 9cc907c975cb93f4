"""File-scoped recycle on Parquet sinks and lakehouse Tables: only the
files holding the recycled run's rows are deleted or rewritten; other
runs' files keep their identity, and a failure part-way never loses
another run's rows."""

import glob
import os

import pytest
from pyspark.sql import DataFrameWriter

from pydin_spark import (Filesystem, Parquet, Pipeline, Select,
                         SourceRegistry, Table, fs)

KEY = "pd_process_id"


class Injected(RuntimeError):
    pass


def _rows(spark, path, *cols):
    spark.catalog.refreshByPath(path)
    return sorted(tuple(r) for r in spark.read.parquet(path)
                  .select(*cols).collect())


def test_recycle_escaped_partition_values(spark, tmp_path):
    """input_file_name() URL-encodes the partition directory Spark
    escaped on write (c=x:y lives in c=x%3Ay); the recycle must delete
    the real files and the directories it empties."""
    sink = Parquet(file_name="esc", path=str(tmp_path), partition_by=["c"])
    sink.pipeline = None
    runs = {1: [(1, "a b"), (2, "x:y"), (3, "p%q"), (4, None)],
            2: [(5, "x:y"), (6, None), (7, "z")]}
    for pid, rows in runs.items():
        sink._write(spark.createDataFrame(
            [(i, c, pid) for i, c in rows], f"id long, c string, {KEY} long"))
    path = sink.resolved_path
    assert {"c=a b", "c=p%25q", "c=x%3Ay"} <= set(os.listdir(path))

    sink.recycle(KEY, 1)
    assert _rows(spark, path, "id", "c", KEY) == [
        (5, "x:y", 2), (6, None, 2), (7, "z", 2)]
    parts = {d for d in os.listdir(path) if d.startswith("c=")}
    assert parts == {"c=x%3Ay", "c=__HIVE_DEFAULT_PARTITION__", "c=z"}

    sink.recycle(KEY, 2)
    assert not [d for d in os.listdir(path) if d.startswith("c=")]
    sink.recycle(KEY, 2)  # no data file left: nothing to do


@pytest.mark.parametrize("partitioned", [False, True])
@pytest.mark.parametrize("crash", [False, True])
def test_recycle_mixed_file_rolls_forward(spark, tmp_path, monkeypatch,
                                         partitioned, crash):
    """One file holds rows of runs 1 and 2 (and a NULL key): only its
    survivors are rewritten. A crash after the delete and before the
    move is rolled forward by the next recycle."""
    rows = [(i, "x:y", 1 + i % 2) for i in range(10)] + [(10, "x:y", None)]
    df = spark.createDataFrame(rows, f"id long, c string, {KEY} long")
    sink = Parquet(file_name="mixed", path=str(tmp_path),
                   partition_by=["c"] if partitioned else None)
    sink.pipeline = None
    sink._write(df.coalesce(1))
    path = sink.resolved_path
    assert len(glob.glob(f"{path}/**/*.parquet", recursive=True)) == 1
    want = [(i, k) for i, _, k in rows if k != 1]

    if crash:
        def no_rename(*args, **kwargs):
            raise Injected("crash before the move")
        monkeypatch.setattr(fs, "rename", no_rename)
        with pytest.raises(Injected):
            sink.recycle(KEY, 1)
        monkeypatch.undo()
        assert os.path.isdir(os.path.join(path, "_recycle"))
    sink.recycle(KEY, 1)
    assert sorted(_rows(spark, path, "id", KEY),
                  key=lambda r: r[0]) == want
    assert not os.path.exists(os.path.join(path, "_recycle"))
    if partitioned:
        assert _rows(spark, path, "c") == [("x:y",)] * len(want)


def _two_run_table(spark, tmp_path):
    reg = SourceRegistry(autoload=False)
    reg.register(Filesystem("lake", str(tmp_path)))
    table = Table(source_name="lake", schema_name="mart", table_name="t",
                  key_field="process_id")
    spark.createDataFrame([(i, f"v{i}") for i in range(40)],
                          "id long, v string").createOrReplaceTempView(
                              "recycle_src")
    path = str(tmp_path / "mart" / "t")
    files = {}
    for pid in (1, 2):
        before = set(glob.glob(f"{path}/*.parquet"))
        Pipeline(Select(text="SELECT * FROM recycle_src"), table,
                 spark=spark, registry=reg, process_id=pid).run()
        files[pid] = set(glob.glob(f"{path}/*.parquet")) - before
    assert len(files[1]) >= 2 and files[2]
    return table, path, files


def test_table_recycle_keeps_other_run_files(spark, tmp_path):
    table, path, files = _two_run_table(spark, tmp_path)
    stamps = {f: os.stat(f).st_mtime_ns for f in files[2]}
    table.recycle(KEY, 1)
    after = set(glob.glob(f"{path}/*.parquet"))
    assert after == files[2], "run 2 files renamed or new files written"
    assert {f: os.stat(f).st_mtime_ns for f in after} == stamps
    assert _rows(spark, path, KEY) == [(2,)] * 40
    table.recycle(KEY, 2)  # the last run: the table stays readable
    assert _rows(spark, path, KEY) == []


@pytest.mark.parametrize("fail_in", ["write", "delete"])
def test_table_recycle_failure_keeps_other_run(spark, tmp_path,
                                              monkeypatch, fail_in):
    table, path, _ = _two_run_table(spark, tmp_path)
    if fail_in == "write":
        def boom(*args, **kwargs):
            raise Injected("write failed")
        monkeypatch.setattr(DataFrameWriter, "save", boom)
        monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    else:
        real, calls = fs.delete, []

        def flaky(*args, **kwargs):
            calls.append(args)
            if len(calls) > 1:
                raise Injected("delete failed")
            return real(*args, **kwargs)
        monkeypatch.setattr(fs, "delete", flaky)
    try:
        table.recycle(KEY, 1)
    except Injected:
        pass
    monkeypatch.undo()
    assert [r for r in _rows(spark, path, "id", KEY) if r[1] == 2] == [
        (i, 2) for i in range(40)]
    table.recycle(KEY, 1)  # a re-run finishes the job
    assert _rows(spark, path, "id", KEY) == [(i, 2) for i in range(40)]
