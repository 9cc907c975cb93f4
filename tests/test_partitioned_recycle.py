"""Recycle on a partitioned sink touches only the recycled run's files;
untouched partition files must keep their identity (mtime/inode)."""

import glob
import os

from pyspark.sql import functions as F

from pydin_spark import Parquet


def test_partitioned_recycle_rewrites_only_affected(spark, views, tmp_path):
    sink = Parquet(file_name="ev", path=str(tmp_path),
                   partition_by=["event_type"], mode="append")
    sink.pipeline = None
    base = spark.table("events").limit(500)
    run1 = base.where("event_type = 'click'") \
        .withColumn("pd_process_id", F.lit(1))
    run2 = base.where("event_type = 'view'") \
        .withColumn("pd_process_id", F.lit(2))
    sink._write(run1)
    sink._write(run2)
    path = str(tmp_path / "ev")
    view_files_before = set(glob.glob(f"{path}/event_type=view/*.parquet"))
    n_click = run1.count()

    # recycle run 1: only the click partition may change
    sink.recycle("pd_process_id", 1)
    out = spark.read.parquet(path)
    assert out.where("pd_process_id = 1").count() == 0
    assert out.where("pd_process_id = 2").count() == run2.count()
    view_files_after = set(glob.glob(f"{path}/event_type=view/*.parquet"))
    assert view_files_before == view_files_after, \
        "untouched partition was rewritten"
    # the click partition became empty and its directory is gone
    assert not os.path.isdir(f"{path}/event_type=click") or not glob.glob(
        f"{path}/event_type=click/*.parquet")
    assert n_click > 0


def test_partitioned_recycle_partial_partition(spark, views, tmp_path):
    sink = Parquet(file_name="ev2", path=str(tmp_path),
                   partition_by=["event_type"], mode="append")
    sink.pipeline = None
    base = spark.table("events").where("event_type = 'click'").limit(100)
    sink._write(base.limit(60).withColumn("pd_process_id", F.lit(1)))
    sink._write(base.orderBy(F.col("event_id").desc()).limit(40)
                .withColumn("pd_process_id", F.lit(2)))
    path = str(tmp_path / "ev2")
    sink.recycle("pd_process_id", 1)
    out = spark.read.parquet(path)
    assert out.where("pd_process_id = 1").count() == 0
    assert out.where("pd_process_id = 2").count() == 40
