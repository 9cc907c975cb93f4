"""SparkSession factory with scale-aware defaults.

The reference engine (pydin) owns no compute session — it delegates SQL to
source databases via SQLAlchemy engines (reference ``pydin/sources.py:104-141``).
Here the SparkSession *is* the engine: every model compiles to lazy
DataFrames and Catalyst plans the execution.

Defaults are chosen for correctness at small SF and sanity at cluster
scale: AQE on (runtime coalesce + skew-join handling), Arrow on (fast
pandas interchange for the Pandas-UDF operators), UTC session timezone
(deterministic timestamp semantics vs the DuckDB oracle).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Config applied to every session this engine builds. Values hold at
#: cluster scale too. :func:`get_session` adds the env-driven entries:
#: the codec and the two shuffle widths sized from ``SPARK_GRAFT_CPUS``
#: (AQE re-plans partition counts at runtime, so
#: ``spark.sql.shuffle.partitions`` is only an upper bound pre-AQE).
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Broadcast joins for dimension tables (region/nation/… at any SF).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # never wait for data locality: the 3 s default stalls any task
    # whose preferred location can't be satisfied — measured as a flat
    # +3.4 s on every coalesce(1) metadata write in local mode, where
    # locality is meaningless. On the target deployments (parquet on
    # object stores / fast networks) waiting for node-local executors
    # buys nothing either; set it back explicitly for HDFS-collocated
    # clusters if needed.
    "spark.locality.wait": "0s",
    # Let AQE size shuffle stages INSIDE cached plans too (round 10):
    # the default (false) pins every Exchange under a persist() at
    # initialPartitionNum — the dedup/similarity operators persist
    # posting/bucket frames, so their window/cap/aggregate stages ran
    # 256 tasks regardless of data size AND every downstream stage
    # inherited 256 tiny cache partitions (measured: the ngram-jaccard
    # entry query fell from 1599 to 72 completed tasks at sf0.1 with
    # identical results). This is the same data-driven coalescing every
    # uncached stage already gets, applied to cached plans — scale-
    # adaptive by construction, not a local-mode tune. Frames whose
    # partitioning is load-bearing (graph/IVF iteration state) use
    # explicit repartition(N, key) + localCheckpoint, which AQE never
    # coalesces and the SQL cache never sees.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Generated-code cache (round 10): the default 100-entry LRU
    # thrashes whenever a session cycles through more than ~100
    # distinct codegen'd stages (any multi-query ETL session; the
    # 20-query bench round-robin is the worst case — every pass
    # re-evicts every class), forcing janino recompilation AND fresh
    # JIT warm-up of the replacement classes on the single AQE
    # planning thread. 2000 entries is a few tens of MB of class
    # metadata on the driver — noise next to any real driver heap.
    # NOTE: this is a STATIC SQL conf — it only takes effect when this
    # process launches the JVM. When getOrCreate attaches to a
    # pre-existing session (spark-submit with its own conf, a shared
    # gateway, a second get_session with different extra_conf) the
    # value is silently ignored, same caveat as driver-memory below.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # Parquet page codec for every file the engine writes: sinks,
    # lakehouse Tables, recycle staging, compaction, stored states,
    # rollup/similarity indexes and the staged tables of
    # register_tables (ORC already defaults to zstd). Unlike the
    # shuffle bytes below, these are at rest: written once, then kept
    # and scanned many times.
    # Measured on a 4-core host, perfbench etl_daily (seed 17, ten
    # alternating pairs): a pass wrote 2.55 MB instead of 3.67 MB with
    # snappy (median, -30%), its final sink files 1.75 instead of
    # 2.72 MB, while the traced sink-write time (3.98 vs 3.95 s) and
    # executor CPU (1.10 vs 1.03 s) stayed within 1% and 7%. Spark,
    # DuckDB and pyarrow all read it.
    # For readers without zstd, pass
    # extra_conf={"spark.sql.parquet.compression.codec": "snappy"} to
    # get_session, or .option("compression", "snappy") on one write.
    "spark.sql.parquet.compression.codec": "zstd",
    # Single-threaded native BLAS inside Python workers (round 11,
    # guide §4): Spark's task parallelism already fills every core, so
    # each worker's numpy must NOT spawn its own ncpu BLAS threads —
    # with 32 concurrent tasks the default OpenBLAS threading runs
    # 32x32 threads and the block-matmul stages collapse (measured on
    # this host: 32 concurrent block matmuls take 212 s wall uncapped
    # vs 8.4 s capped — 25x). One thread per task is the standard
    # cluster discipline and also removes any thread-count dependence
    # from BLAS reduction order. These executorEnv entries cover real
    # cluster managers; local mode inherits the driver env set in
    # get_session below.
    # Shuffle/broadcast/spill stream compression (round 11, guide §2.3
    # "shuffle fewer bytes — measure both"). Measured BOTH ways:
    # zstd halves shuffle bytes at the 100x replica (1112 → 557 MB on
    # the heaviest shuffle, wall at-or-better in every interleaved
    # pair) but costs ~15-20% wall on the small-SF bench, where
    # shuffles are KB-to-MB and the compression CPU never pays for
    # itself (interleaved A/B: dedup_ngram 2.4-2.7 s lz4 vs 3.0-3.1 s
    # zstd at sf0.1; no-shuffle queries unaffected). The right codec
    # is a function of shuffle volume, so it is an env knob with the
    # small-data default: export PYDIN_SHUFFLE_CODEC=zstd on
    # deployments whose shuffles are GB-per-stage and up — at 100 TB
    # the halved network/disk bytes dominate the compression tax.
    # get_session reads and validates the env var on every call.
    "spark.io.compression.codec": "lz4",
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    "spark.ui.enabled": "false",
}

#: env vars that cap native-library threading in Python workers; set
#: (not overridden) on the driver process in get_session so local-mode
#: workers, which inherit the driver env, get the same cap
_BLAS_THREAD_ENV = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                    "MKL_NUM_THREADS")


def _local_driver_memory() -> str | None:
    """Driver-heap default for LOCAL masters only: Spark's 1g default
    is undersized for a many-thread local master (the driver JVM IS
    the executor), but the setting only takes effect when this process
    launches the JVM — under spark-submit or a pre-existing gateway it
    is silently ignored, and on small hosts a fixed 8g can fail JVM
    startup. So: honor ``PYDIN_DRIVER_MEMORY`` verbatim, else size to
    half of physical RAM capped at 8g, and never set it at all when
    the amount can't be determined."""
    env = os.environ.get("PYDIN_DRIVER_MEMORY")
    if env:
        return env
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return None
    half_mb = total // (2 * 1024 * 1024)
    if half_mb < 512:
        return None  # tiny host: leave Spark's default alone
    return f"{min(half_mb, 8192)}m"


#: codecs Spark accepts for ``spark.io.compression.codec``
_SHUFFLE_CODECS = ("lz4", "zstd", "snappy", "lzf")


def _shuffle_codec() -> str:
    """``$PYDIN_SHUFFLE_CODEC`` (default: the ENGINE_CONF codec),
    rejected up front when Spark would not accept it."""
    codec = os.environ.get("PYDIN_SHUFFLE_CODEC",
                           ENGINE_CONF["spark.io.compression.codec"])
    if codec not in _SHUFFLE_CODECS:
        raise ValueError(f"PYDIN_SHUFFLE_CODEC={codec!r} is not one of "
                         f"{', '.join(_SHUFFLE_CODECS)}")
    return codec


def _cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` (default 32): the local master's core
    count and the shuffle width, rejected up front unless a positive
    integer."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not raw.strip().isdecimal() or int(raw) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS={raw!r} is not a positive "
                         "integer")
    return int(raw)


def get_session(app_name: str = "pydin-spark", master: str | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    manager is configured; on a real cluster, leave ``master`` unset in
    the environment-provided config and spark-submit decides. The env
    knobs are read and validated on each call, before the builder is
    touched.
    """
    cpus = _cpus()
    conf = dict(ENGINE_CONF)
    conf["spark.io.compression.codec"] = _shuffle_codec()
    conf["spark.sql.shuffle.partitions"] = str(cpus)
    # Let AQE size each shuffle from the DATA, not a fixed number: it
    # coalesces down from this initial width per-stage, so light
    # shuffles still land at ~core-count partitions while heavy ones
    # (Expand x distinct aggregates, wide joins) keep enough reducers
    # that per-task hash state fits in memory instead of spilling.
    # Measured on COUNT(DISTINCT) ROLLUP at the 100x tier: 32 fixed
    # reducers spill and swing 15-80 s run-to-run; 8x initial width
    # is stable at a fraction of that (ROUND8_NOTES). This is the
    # standard cluster discipline — initial width >> cores, AQE
    # owns the runtime number.
    conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = \
        str(8 * cpus)
    # cap BLAS threads BEFORE any python worker can spawn (local-mode
    # workers inherit this process's env); a user-exported value wins
    for var in _BLAS_THREAD_ENV:
        os.environ.setdefault(var, "1")
    builder = SparkSession.builder.appName(app_name)
    resolved_master = master or f"local[{cpus}]"
    builder = builder.master(resolved_master)
    if resolved_master.startswith("local"):
        mem = _local_driver_memory()
        if mem is not None:
            conf["spark.driver.memory"] = mem
    conf.update(extra_conf or {})
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: serializes every :func:`scoped_conf` block in the process
_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark, **kv):
    """Set session confs ``kv`` for the block, then restore each to its
    previous value (unset when it had none).

    Session confs are global to every thread sharing ``spark`` (the
    scheduler runs jobs on threads over one session), so the whole
    block holds one process-wide re-entrant lock: two overlapping
    save/set/restore sequences could otherwise interleave and leave
    the first block's value behind. Other threads' queries still see
    the scoped values while the block runs — use a per-write option
    instead wherever Spark offers one. Keys contain dots, so pass them
    as ``**{"spark.sql.adaptive.enabled": "false"}``.
    """
    with _CONF_LOCK:
        saved = {k: spark.conf.get(k, None) for k in kv}
        try:
            for k, v in kv.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
