"""End-to-end pipeline tests: bind/compile/run, branch fan-out, metrics,
error limit, recycle — the reference's ETL semantics on Spark
(SURVEY.md §5 items 1, 3).
"""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from pydin_spark import (CSV, Day, ErrorLimitExceeded, Mapper, Parquet,
                         Pipeline, SQL, Select, Table)
from pydin_spark.sources import Filesystem, SourceRegistry


def fs_registry(tmp_path):
    reg = SourceRegistry(autoload=False)
    reg.register(Filesystem("lake", str(tmp_path)))
    return reg


def test_compile_shapes(spark, tmp_path):
    src = Parquet(file_name="in.parquet", path=str(tmp_path))
    mapper = Mapper(rename={"a": "b"})
    dst = Parquet(file_name="out.parquet", path=str(tmp_path))
    p = Pipeline(src, mapper, dst, spark=spark)
    assert [s.step_type for s in p.steps] == ["ETL"]
    p2 = Pipeline(Parquet(file_name="x", path="."),
                  Parquet(file_name="y", path="."), spark=spark)
    assert [s.step_type for s in p2.steps] == ["EL"]


def test_el_pipeline_parquet_roundtrip(spark, sf_dir, tmp_path):
    src = Parquet(file_name="customer.parquet", path=sf_dir)
    dst = Parquet(file_name="out.parquet", path=str(tmp_path), mode="overwrite")
    p = Pipeline(src, dst, spark=spark).run()
    expected = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    got = spark.read.parquet(str(tmp_path / "out.parquet")).count()
    assert got == expected
    assert p.steps[0].records_read == expected
    assert p.steps[0].records_written == expected
    assert p.status == "D"


def test_etl_with_mapper_columns(spark, sf_dir, tmp_path):
    src = Parquet(file_name="nation.parquet", path=sf_dir)
    mapper = Mapper(rename={"n_name": "nation_name"},
                    cast={"n_nationkey": "long"},
                    with_columns={"upper_name": F.upper("nation_name")})
    dst = Parquet(file_name="out.parquet", path=str(tmp_path))
    Pipeline(src, mapper, dst, spark=spark).run()
    out = spark.read.parquet(str(tmp_path / "out.parquet"))
    assert "nation_name" in out.columns and "upper_name" in out.columns
    assert dict(out.dtypes)["n_nationkey"] == "bigint"


def test_etl_with_mapper_func_schema_inference(spark, sf_dir, tmp_path):
    src = Parquet(file_name="region.parquet", path=sf_dir)

    def rename(record):
        return {"key": record["r_regionkey"], "name": record["r_name"].lower()}

    dst = Parquet(file_name="out.parquet", path=str(tmp_path))
    Pipeline(src, Mapper(func=rename), dst, spark=spark).run()
    out = spark.read.parquet(str(tmp_path / "out.parquet"))
    assert set(out.columns) == {"key", "name"}
    assert out.count() == spark.read.parquet(
        f"{sf_dir}/region.parquet").count()


def test_branch_fanout(spark, sf_dir, tmp_path):
    src = Parquet(file_name="region.parquet", path=sf_dir)
    a = Parquet(file_name="a.parquet", path=str(tmp_path))
    b = Parquet(file_name="b.parquet", path=str(tmp_path))
    p = Pipeline(src, [a, b], spark=spark).run()
    na = spark.read.parquet(str(tmp_path / "a.parquet")).count()
    nb = spark.read.parquet(str(tmp_path / "b.parquet")).count()
    assert na == nb > 0
    assert len(p.steps) == 2


def test_ex_step_sql(spark, views):
    p = Pipeline(SQL(text="SELECT * FROM region"), spark=spark).run()
    assert p.steps[0].step_type == "EX"
    assert p.steps[0].result_value == 5


def test_select_date_window(spark, views, sf_dir, tmp_path):
    # reference semantics: BETWEEN is inclusive on both second-granularity
    # bounds (models.py:856-860)
    day = dt.datetime(2024, 1, 2)
    src = Select(text="SELECT * FROM events", date_field="ts")
    dst = Parquet(file_name="out.parquet", path=str(tmp_path))
    Pipeline(src, dst, date=Day(day), spark=spark).run()
    out = spark.read.parquet(str(tmp_path / "out.parquet"))
    got = out.count()
    expected = (spark.table("events")
                .where(F.col("ts").between(F.lit(dt.datetime(2024, 1, 2)),
                                           F.lit(dt.datetime(2024, 1, 2, 23, 59, 59))))
                .count())
    assert got == expected > 0


def test_watermark_incremental_load(spark, views, sf_dir, tmp_path):
    reg = fs_registry(tmp_path)
    dst = Table(source_name="lake", schema_name="stage",
                table_name="orders_inc", value_field="o_orderkey")
    # run 1: load orders with key <= median via explicit query
    median = spark.table("orders").approxQuantile("o_orderkey", [0.5], 0.0)[0]
    src1 = Select(text=f"SELECT * FROM orders WHERE o_orderkey <= {int(median)}",
                  value_field="o_orderkey")
    Pipeline(src1, dst, spark=spark, registry=reg).run()
    n1 = spark.read.parquet(str(tmp_path / "stage/orders_inc")).count()
    # run 2: full select; watermark must restrict to strictly greater keys
    src2 = Select(text="SELECT * FROM orders", value_field="o_orderkey")
    dst2 = Table(source_name="lake", schema_name="stage",
                 table_name="orders_inc", value_field="o_orderkey")
    Pipeline(src2, dst2, spark=spark, registry=reg).run()
    total = spark.read.parquet(str(tmp_path / "stage/orders_inc")).count()
    expected_total = spark.table("orders").count()
    assert total == expected_total
    dup = (spark.read.parquet(str(tmp_path / "stage/orders_inc"))
           .groupBy("o_orderkey").count().where("count > 1").count())
    assert dup == 0
    assert n1 < total


def test_recycle_idempotent_rerun(spark, views, tmp_path):
    reg = fs_registry(tmp_path)

    def build(pid):
        src = Select(text="SELECT * FROM lineitem WHERE l_orderkey <= 1000")
        dst = Table(source_name="lake", schema_name="stage",
                    table_name="li", key_field="process_id")
        return Pipeline(src, dst, spark=spark, registry=reg, process_id=pid)

    build(111).run()
    n1 = spark.read.parquet(str(tmp_path / "stage/li")).count()
    # re-run for the same business date with recycle → no duplicates
    build(111).run(recycle=111)
    n2 = spark.read.parquet(str(tmp_path / "stage/li")).count()
    assert n1 == n2
    out = spark.read.parquet(str(tmp_path / "stage/li"))
    assert out.where(F.col("pd_process_id") == 111).count() == n1


def test_error_limit_aborts(spark, tmp_path):
    bad = tmp_path / "bad.csv"
    bad.write_text("a;b\n1;2\n3;4\nnot_a_number;x;y;z;5\n9;10\n",
                   encoding="utf-8")
    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("a", T.IntegerType()),
        T.StructField("b", T.IntegerType()),
        T.StructField("_corrupt_record", T.StringType()),
    ])
    src = CSV(file_name="bad.csv", path=str(tmp_path), delimiter=";",
              schema=schema, infer_schema=False)
    dst = Parquet(file_name="out.parquet", path=str(tmp_path))
    with pytest.raises(ErrorLimitExceeded):
        Pipeline(src, dst, spark=spark, error_limit=1).run()
    # generous budget → bad row dropped, load succeeds
    p = Pipeline(CSV(file_name="bad.csv", path=str(tmp_path), delimiter=";",
                     schema=schema, infer_schema=False),
                 Parquet(file_name="ok.parquet", path=str(tmp_path)),
                 spark=spark, error_limit=10).run()
    out = spark.read.parquet(str(tmp_path / "ok.parquet"))
    assert out.count() == 3
    assert p.records_error == 1


def test_cleanup_overwrites(spark, sf_dir, tmp_path):
    reg = fs_registry(tmp_path)

    def run():
        src = Parquet(file_name="region.parquet", path=sf_dir)
        dst = Table(source_name="lake", schema_name="s", table_name="r",
                    cleanup=True)
        Pipeline(src, dst, spark=spark, registry=reg).run()

    run()
    run()
    assert spark.read.parquet(str(tmp_path / "s/r")).count() == 5


def test_cleanup_overwrites_on_uri_root(spark, tmp_path):
    """A Filesystem root given as a URI: cleanup=True still empties the
    Table and the Parquet sink before each run."""
    reg = SourceRegistry(autoload=False)
    reg.register(Filesystem("lake", tmp_path.as_uri()))
    rows = "select * from values (1), (2), (3) as t(x)"

    def run():
        Pipeline(Select(text=rows),
                 Table(source_name="lake", schema_name="s", table_name="t",
                       cleanup=True),
                 spark=spark, registry=reg).run()
        Pipeline(Select(text=rows),
                 Parquet(source_name="lake", file_name="p", cleanup=True),
                 spark=spark, registry=reg).run()

    run()
    run()
    for sub in ("s/t", "p"):
        path = f"{tmp_path.as_uri()}/{sub}"
        spark.catalog.refreshByPath(path)
        assert spark.read.parquet(path).count() == 3
