"""Bucketed staging as a stored-state family (VERDICT r6 item 1).

At 100 TB the dominant cost of the fact-fact TPC-H shapes (q3, q5,
q18: ``lineitem ⋈ orders`` on orderkey) is the shuffle of BOTH fact
tables on the join key — every query pays it again. Staging the facts
``bucketBy(key)`` ONCE moves that shuffle into the write: every later
join (and aggregate) on the key reads co-located buckets and the
SortMergeJoin plans with NO Exchange on either bucketed side (gated
in ``tests/test_plans.py``). One staging shuffle amortizes across
every downstream join on the same key — the set-based ELT staging
pattern of the reference (``pydin/models.py:939-1188`` Insert: stage
into a schema table once, query it repeatedly), re-expressed as
Spark's bucketed datasource tables.

:class:`StoredBuckets` is a stored-state family and keeps the
family discipline (:mod:`pydin_spark.operators.stored`): every
``stage()`` lands a fresh ``data_{seq}_{batch}/`` directory, then ONE
commit row LAST — a crashed writer's files stay invisible, and
concurrent readers attached to the previous version never see a
half-written table. ``attach()`` re-registers the newest committed
version in the session catalog (bucketed table metadata is
session-scoped in Spark, the files + commit log are the durable
truth), so a fresh session — or a different cluster — picks up staged
state with one metadata-only DDL.

Bucket-count sizing at scale: buckets are the unit of read
parallelism AND the match requirement (two tables co-join
exchange-free when bucketed by the same key into the same count), so
pick one count per key domain and size it so a bucket of the LARGEST
staged table fits an executor core's working set (e.g. 100 TB
lineitem / 8192 buckets ≈ 12 GB per bucket before column pruning).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .stored import append_commit, collapse_to_newest, newest, next_seq

# explicit commit schema: inference would widen buckets int -> bigint
# and poison later appends
_LOG_SCHEMA = ("batch string, seq long, key string, buckets int, "
               "sorted boolean, schema_json string")


class StoredBuckets:
    """Persisted bucketed staging area for one logical table.

    State under ``path``: ``data_{seq}_{batch}/`` — the bucketed
    parquet files exactly as ``bucketBy`` wrote them (bucket id is
    encoded in the file names, which is what Spark's scan uses to
    prove co-location); ``commits/`` — (batch, seq, key, buckets,
    sorted, schema_json), one row per committed ``stage()``, written
    LAST. The newest committed row is the live version; ``maintain()``
    collapses the log to it and deletes unreferenced data dirs.
    """

    def __init__(self, path: str, key: str, buckets: int = 32,
                 sort: bool = True):
        if int(buckets) < 1:
            raise ValueError("buckets must be >= 1")
        # path and key are interpolated into attach()'s DDL (LOCATION
        # '<path>' / CLUSTERED BY (`<key>`)); a quote or backtick in
        # either would break — or worse, rewrite — the statement, so
        # reject at construction rather than at first attach
        if "'" in str(path) or "`" in str(path):
            raise ValueError(f"path must not contain quote characters "
                             f"(' or `): {path!r}")
        if "`" in key or "'" in key:
            raise ValueError(f"key must not contain quote characters "
                             f"(' or `): {key!r}")
        self.path = str(path).rstrip("/")
        self.key = key
        self.buckets = int(buckets)
        self.sort = bool(sort)

    # -- API -----------------------------------------------------------

    def stage(self, df: DataFrame, mode: str = "overwrite") -> int:
        """Write ``df`` hash-bucketed (and per-bucket sorted) by the
        key into a fresh version directory, then commit it. Returns
        the committed sequence number.

        ``mode="overwrite"`` is the only mode: bucketed staging is a
        full-snapshot family (the reference's Insert staging likewise
        rebuilds the staged set per run); incremental keyed state
        belongs to the other families. The ONE shuffle here
        (hashpartitioning on the key into ``buckets`` write tasks) is
        the shuffle every downstream join no longer pays.
        """
        if mode != "overwrite":
            raise ValueError("StoredBuckets.stage supports only "
                             "mode='overwrite' (full-snapshot family)")
        if self.key not in df.columns:
            raise ValueError(f"key column {self.key!r} not in frame "
                             f"columns {df.columns}")
        spark = df.sparkSession
        batch = uuid.uuid4().hex[:12]
        seq = next_seq(spark, self.path)
        loc = f"{self.path}/data_{seq}_{batch}"
        tmp = f"sb_stage_{batch}"
        writer = (df.write.format("parquet").mode("errorifexists")
                  .bucketBy(self.buckets, self.key))
        if self.sort:
            writer = writer.sortBy(self.key)
        # bucketBy is only reachable through saveAsTable; register
        # under a throwaway name, then drop the ENTRY (external table:
        # the files stay) — the catalog is rebuilt by attach()
        writer.option("path", loc).saveAsTable(tmp)
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        # extra columns carry what attach() needs to rebuild the
        # catalog DDL in a fresh session
        append_commit(spark, self.path,
                      (batch, seq, self.key, self.buckets, self.sort,
                       df.schema.json()), _LOG_SCHEMA)
        return seq

    def attach(self, spark: SparkSession, table: str) -> DataFrame:
        """Register the newest committed version as catalog table
        ``table`` and return it. Metadata-only (one DDL); safe to call
        per session/query — re-attaching is how a fresh session (or a
        second cluster reading the same store) picks up staged state.
        """
        row = newest(spark, self.path)
        if row is None:
            raise ValueError(f"no committed bucketed state under "
                             f"{self.path}; stage() first")
        if "`" in table or "'" in table:
            raise ValueError(f"table name must not contain quote "
                             f"characters (' or `): {table!r}")
        loc = f"{self.path}/data_{row['seq']}_{row['batch']}"
        schema = StructType.fromJson(json.loads(row["schema_json"]))
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                         for f in schema.fields)
        sorted_by = (f"SORTED BY (`{row['key']}` ASC) "
                     if row["sorted"] else "")
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        spark.sql(
            f"CREATE TABLE `{table}` ({cols}) USING PARQUET "
            f"CLUSTERED BY (`{row['key']}`) {sorted_by}"
            f"INTO {int(row['buckets'])} BUCKETS LOCATION '{loc}'")
        return spark.table(table)

    def maintain(self, spark: SparkSession) -> dict:
        """Collapse the commit log to the newest version and delete
        every unreferenced data dir (stale versions + crashed
        writers' uncommitted files). Log rewrite lands FIRST (the
        family's overwrite sequencing): a crash after it leaves
        orphan dirs that are invisible and swept by the next call —
        never a log pointing at deleted data. Returns counts."""
        return collapse_to_newest(spark, self.path, _LOG_SCHEMA)
