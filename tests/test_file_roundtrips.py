"""File-format round-trips (SURVEY §5 item 4): CSV with reference
defaults, JSON single-array file, XML <data><record> — read→write→read
fixed-point, order-insensitive. Plus Filenames/FileManager behavior."""

import datetime as dt
import gzip
import os
import time

from pyspark.sql import functions as F

from pydin_spark import (CSV, JSON, XML, FileManager, Filenames, Pipeline,
                         Select)


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_csv_roundtrip_reference_defaults(spark, views, tmp_path):
    src = Select(text="SELECT c_custkey, c_name, c_mktsegment FROM customer")
    sink = CSV(file_name="c.csv", path=str(tmp_path), single_file=True)
    Pipeline(src, sink, spark=spark).run()
    raw = open(tmp_path / "c.csv", encoding="utf-8").read()
    assert ";" in raw.splitlines()[0]          # reference delimiter default
    back = CSV(file_name="c.csv", path=str(tmp_path))
    back.pipeline = None
    df2 = back.extract()
    df1 = spark.sql("SELECT c_custkey, c_name, c_mktsegment FROM customer")
    assert _rows(df2) == _rows(df1)


def test_csv_header_written_once_on_append(spark, views, tmp_path):
    for _ in range(2):
        Pipeline(Select(text="SELECT r_regionkey, r_name FROM region"),
                 CSV(file_name="r.csv", path=str(tmp_path), single_file=True),
                 spark=spark).run()
    raw = open(tmp_path / "r.csv", "rb").read()
    assert b"\r\n" in raw                      # reference terminator default
    lines = [ln for ln in raw.decode("utf-8").split("\r\n") if ln]
    # appended twice; header only counted per part write — reference
    # writes header iff file empty; our single-file append keeps one file
    data_lines = [ln for ln in lines if not ln.startswith("r_regionkey")]
    assert len(data_lines) == 10


def test_json_array_roundtrip(spark, views, tmp_path):
    import json as _json
    Pipeline(Select(text="SELECT n_nationkey, n_name FROM nation"),
             JSON(file_name="n.json", path=str(tmp_path), single_file=True),
             spark=spark).run()
    payload = _json.load(open(tmp_path / "n.json", encoding="utf-8"))
    assert isinstance(payload, list) and len(payload) == 25
    back = JSON(file_name="n.json", path=str(tmp_path)).extract()
    assert _rows(back, ["n_nationkey", "n_name"]) == _rows(
        spark.sql("SELECT n_nationkey, n_name FROM nation"),
        ["n_nationkey", "n_name"])


def test_json_append_rewrites_array(spark, views, tmp_path):
    import json as _json
    for _ in range(2):
        Pipeline(Select(text="SELECT r_regionkey FROM region"),
                 JSON(file_name="r.json", path=str(tmp_path),
                      single_file=True),
                 spark=spark).run()
    payload = _json.load(open(tmp_path / "r.json", encoding="utf-8"))
    assert len(payload) == 10  # appended to one array (models.py:1405-1409)


def test_xml_roundtrip_stringified(spark, views, tmp_path):
    Pipeline(Select(text="SELECT r_regionkey, r_name FROM region"),
             XML(file_name="r.xml", path=str(tmp_path)),
             spark=spark).run()
    content = open(tmp_path / "r.xml", encoding="utf-8").read()
    assert "<data>" in content and "<record>" in content
    back = XML(file_name="r.xml", path=str(tmp_path)).extract()
    # reference stringifies all values on load (models.py:1448)
    assert dict(back.dtypes)["r_regionkey"] == "string"
    assert back.count() == 5


def test_filenames_mask_and_window(spark, tmp_path):
    old = tmp_path / "a_old.txt"
    new = tmp_path / "b_new.log"
    other = tmp_path / "c_new.txt"
    for f in (old, new, other):
        f.write_text("x")
    past = time.time() - 7 * 86400
    os.utime(old, (past, past))
    df = Filenames(path=str(tmp_path), mask=r"\.txt$").extract()
    assert {r["file"] for r in df.collect()} == {"a_old.txt", "c_new.txt"}
    recent = Filenames(path=str(tmp_path), mask=r"\.txt$",
                       date_from=dt.datetime.now() - dt.timedelta(days=1))
    assert {r["file"] for r in recent.extract().collect()} == {"c_new.txt"}
    cols = set(df.columns)
    assert {"server", "path", "dir", "file", "isdir", "isfile", "mtime",
            "size"} <= cols


def test_filemanager_copy_move_delete_gzip(tmp_path):
    src = tmp_path / "in"
    dst = tmp_path / "out"
    src.mkdir()
    (src / "data1.csv").write_text("hello")
    (src / "data2.csv").write_text("world")
    (src / "skip.log").write_text("no")
    # copy with gzip
    n = FileManager(path=str(src), mask=r"\.csv$", action="copy",
                    destination=str(dst), zip=True).execute()
    assert n == 2
    assert gzip.open(dst / "data1.csv.gz").read() == b"hello"
    # move
    FileManager(path=str(src), mask=r"skip\.log$", action="move",
                destination=str(dst)).execute()
    assert not (src / "skip.log").exists() and (dst / "skip.log").exists()
    # delete
    FileManager(path=str(src), mask=r"\.csv$", action="delete").execute()
    assert list(src.iterdir()) == []
    # unzip back
    FileManager(path=str(dst), mask=r"\.gz$", action="copy",
                destination=str(tmp_path / "back"), unzip=True).execute()
    assert (tmp_path / "back" / "data1.csv").read_text() == "hello"


def test_asof_tolerance(spark):
    from pydin_spark.operators.relational import asof_join
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, 10, base + dt.timedelta(hours=3))],
        "id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(10, base, 100)], "user_id long, ts timestamp, rid long")
    hit = asof_join(left, right, right_cols=("rid",)).collect()[0]
    assert hit["r_rid"] == 100
    miss = asof_join(left, right, right_cols=("rid",),
                     tolerance="1 HOUR").collect()[0]
    assert miss["r_rid"] is None


def test_delta_model_gated_on_package(tmp_path):
    """Without delta-spark installed, the Delta model must fail fast at
    construction with the dependency to add (not at action time)."""
    import importlib.util

    import pytest as _pytest

    from pydin_spark import Delta
    if importlib.util.find_spec("delta") is not None:
        _pytest.skip("delta-spark installed; gating not applicable")
    with _pytest.raises(ImportError, match="delta-spark"):
        Delta(file_name="t", path=str(tmp_path))


def test_orc_roundtrip_and_partitioned_recycle(spark, tmp_path):
    """ORC inherits the Parquet model surface: roundtrip, lineage key,
    file-scoped recycle through the format-generic reader."""
    from pyspark.sql import functions as F

    from pydin_spark import ORC, Pipeline, Select

    src = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
        "k long, part string, v long")
    src.createOrReplaceTempView("orc_src")
    sink = ORC(file_name="t", path=str(tmp_path), partition_by=["part"],
               key_field="process_id")
    Pipeline(Select(text="SELECT * FROM orc_src"), sink).run()
    spark.catalog.refreshByPath(str(tmp_path / "t"))
    df = spark.read.orc(str(tmp_path / "t"))
    assert df.count() == 3 and "pd_process_id" in df.columns
    pid = df.select(F.max("pd_process_id")).first()[0]

    # second run for the same key then recycle -> no duplicates
    sink2 = ORC(file_name="t", path=str(tmp_path), partition_by=["part"],
                key_field="process_id")
    Pipeline(Select(text="SELECT * FROM orc_src"), sink2).run(recycle=pid)
    spark.catalog.refreshByPath(str(tmp_path / "t"))
    out = spark.read.orc(str(tmp_path / "t"))
    assert out.count() == 3
    assert out.select("k").distinct().count() == 3


def test_avro_gated_on_connector(spark, tmp_path):
    """Without spark-avro on the classpath, Avro fails with the exact
    dependency to add."""
    import pytest as _pytest

    from pydin_spark import Avro

    model = Avro(file_name="t.avro", path=str(tmp_path))
    probe = spark.createDataFrame([(1,)], "k long")
    try:
        spark.range(1).write.format("avro").mode("overwrite").save(
            str(tmp_path / "probe"))
        has_avro = True
    except Exception:
        has_avro = False
    if has_avro:
        model.spark = spark
        model._write(probe)
        assert model.extract().count() == 1
    else:
        with _pytest.raises(RuntimeError, match="spark-avro"):
            model._write(probe)
