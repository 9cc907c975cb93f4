"""Session-conf scoping: scheduler threads share one SparkSession, so
no library call may flip a session-global conf outside
``session.scoped_conf``, and the toggles that remain must not leak
when blocks on different threads overlap."""

import datetime as dt
import pathlib
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import pydin_spark
from pydin_spark import Parquet
from pydin_spark.operators.graph import pagerank
from pydin_spark.operators.rollup import StoredCMS
from pydin_spark.session import scoped_conf

SHARED_CONFS = ("spark.sql.adaptive.enabled",
                "spark.sql.sources.partitionOverwriteMode")


def test_only_session_module_sets_session_conf():
    root = pathlib.Path(pydin_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "session.py":
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if ".conf.set(" in line or ".conf.unset(" in line:
                offenders.append(f"{path.relative_to(root)}:{n}")
            if ("partitionOverwriteMode" in line
                    and '.option("partitionOverwriteMode"' not in line):
                offenders.append(f"{path.relative_to(root)}:{n}")
    assert not offenders, offenders


def test_scoped_conf_blocks_do_not_interleave(spark):
    """Overlapping blocks on many threads: inside its block a thread
    sees its own value (nested blocks included), and the conf is unset
    again once every block has exited."""
    key = "spark.pydin.test.scoped"
    seen_foreign = []

    def worker(i):
        for _ in range(20):
            with scoped_conf(spark, **{key: str(i)}):
                with scoped_conf(spark, **{key: f"{i}-inner"}):
                    if spark.conf.get(key) != f"{i}-inner":
                        seen_foreign.append(i)
                if spark.conf.get(key) != str(i):
                    seen_foreign.append(i)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert not seen_foreign
    assert spark.conf.get(key, None) is None


def _ranks(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 4), (4, 5)],
        "src long, dst long")
    return sorted(map(tuple, pagerank(edges, iterations=5).collect()))


def _cms_then_recycle(spark, root):
    t0 = dt.datetime(2024, 3, 1)
    ev = spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=20 * i), f"i{i % 5}")
         for i in range(12)], "ts timestamp, item string")
    sc = StoredCMS(f"{root}/cms", "item", width=64, depth=2)
    sc.refresh(ev.where(F.col("ts") < F.lit(t0 + dt.timedelta(hours=2))))
    sc.refresh(ev)
    cms = sorted(map(tuple, sc.serve(spark).collect()))

    sink = Parquet(file_name="sink", path=root, partition_by=["item"],
                   mode="append")
    sink.pipeline = None
    for pid in (1, 2):
        sink._write(ev.where(F.col("ts") < F.lit(t0 + dt.timedelta(
            hours=pid))).withColumn("pd_process_id", F.lit(pid)))
    sink.recycle("pd_process_id", 1)
    kept = sorted(map(tuple, spark.read.parquet(f"{root}/sink")
                      .select("ts", "item", "pd_process_id").collect()))
    return cms, kept


def test_pagerank_and_stored_refresh_share_a_session(spark, tmp_path):
    before = {k: spark.conf.get(k, None) for k in SHARED_CONFS}
    want_ranks = _ranks(spark)
    want_state = _cms_then_recycle(spark, str(tmp_path / "serial"))

    with ThreadPoolExecutor(max_workers=2) as pool:
        ranks = pool.submit(_ranks, spark)
        state = pool.submit(_cms_then_recycle, spark,
                            str(tmp_path / "threaded"))
        assert ranks.result(timeout=600) == want_ranks
        assert state.result(timeout=600) == want_state
    assert {k: spark.conf.get(k, None) for k in SHARED_CONFS} == before
