"""The commit log behind every stored-state family.

Every stored-state class keeps its data and a ``commits/`` log under
one root. A writer lands its data first and ONE commit row last, so a
crashed writer's files stay invisible. This module is the only code
that reads or writes a commit log; the families keep their table
names, their collapse summary and their serve/ingest logic.

Two shapes share the log:

- :class:`CommitLog` — append-only tables whose rows carry a
  ``batch`` column (IncrementalDeduper, IncrementalLineDeduper,
  StoredBigramLM, StoredSnapshot, StoredHistogram). Readers keep the
  rows of committed batches; a collapse appends the summary under a
  fresh batch and swaps in a one-row log.
- versioned directories (StoredBuckets, StatsIndex) — each version is
  a ``data_{seq}_{batch}/`` dir; :func:`newest` serves the newest
  commit row and :func:`collapse_to_newest` drops the rest.

Every log swap goes through :func:`pydin_spark.fs.replace_dir`, and
:func:`has_commit_state` restores the ``.__old__`` backup a crashed
swap leaves behind, so a crash at any point serves either the old
state or the new one.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fs

LOG_SCHEMA = "batch string, seq long"


def _is_missing(exc: Exception) -> bool:
    msg = f"{type(exc).__name__}: {exc}"
    return ("PATH_NOT_FOUND" in msg or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
            or "Unable to infer schema" in msg)


def _read_healed(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, first restoring the backup of a
    swap that crashed between its two renames."""
    try:
        return spark.read.parquet(path)
    except Exception as exc:  # noqa: BLE001 - classify, don't blanket
        if _is_missing(exc) and fs.heal_replaced_dir(spark, path):
            spark.catalog.refreshByPath(path)
            return spark.read.parquet(path)
        raise


def has_commit_state(spark, path: str) -> bool:
    """True iff a commit log exists under ``path``/commits. Probes
    through the Spark reader (any Hadoop filesystem) and classifies
    missing-path errors; anything else re-raises. A missing log
    self-heals first: if a swap crashed between its renames, the
    ``commits.__old__`` backup is restored before answering —
    otherwise the family would read as EMPTY, next_seq would reset to
    0, and committed data would become unreachable."""
    try:
        _read_healed(spark, f"{path}/commits").schema
        return True
    except Exception as exc:  # noqa: BLE001 - classify, don't blanket
        if _is_missing(exc):
            return False
        raise


def next_seq(spark, path: str) -> int:
    """Next monotone sequence number for a commit row."""
    if not has_commit_state(spark, path):
        return 0
    row = spark.read.parquet(f"{path}/commits") \
        .agg(F.max("seq")).first()
    return 0 if row[0] is None else int(row[0]) + 1


def append_commit(spark, path: str, row: tuple,
                  schema: str = LOG_SCHEMA) -> None:
    """Land the ONE commit row that makes a batch visible. ``row``
    starts with (batch, seq); a family that needs more columns passes
    its explicit ``schema`` (inference would widen int columns)."""
    spark.createDataFrame([row], schema).repartition(1) \
        .write.mode("append").parquet(f"{path}/commits")
    spark.catalog.refreshByPath(f"{path}/commits")


def newest(spark, path: str):
    """Newest commit row by (seq, batch) descending, or None before
    the first commit. The batch tie-break makes a violated
    single-writer contract resolve reproducibly."""
    if not has_commit_state(spark, path):
        return None
    return (spark.read.parquet(f"{path}/commits")
            .orderBy(F.col("seq").desc(), F.col("batch").desc())
            .first())


def collapse_to_newest(spark, path: str, schema: str) -> dict:
    """Rewrite the log of a versioned-directory family to its newest
    row (with the family's explicit ``schema``), swap it in, then
    delete every other ``data_*`` dir and crashed ``commits_next_*``
    temp. The swap lands before the sweep: a crash after it leaves
    orphan dirs the next call removes, never a log pointing at
    deleted data."""
    row = newest(spark, path)
    if row is None:
        return {"kept": 0, "deleted": 0}
    live = f"data_{row['seq']}_{row['batch']}"
    tmp = f"{path}/commits_next_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame([tuple(row)], schema).repartition(1) \
        .write.mode("overwrite").parquet(tmp)
    fs.replace_dir(spark, tmp, f"{path}/commits")
    spark.catalog.refreshByPath(f"{path}/commits")
    deleted = 0
    for name in fs.listdir(spark, path):
        if (name.startswith("data_") and name != live) \
                or name.startswith("commits_next_"):
            fs.delete(spark, f"{path}/{name}", ignore_errors=True)
            deleted += 1
    return {"kept": 1, "deleted": deleted}


class CommitLog:
    """Commit log of an append-only family: data ``tables`` under
    ``path`` whose rows carry a ``batch`` column, plus ``commits/``
    with one (batch, seq) row per committed batch. Readers keep the
    rows of committed batches, so an append is atomic across tables
    and a crashed writer's rows are invisible until swept."""

    def __init__(self, path: str, tables: tuple):
        self.path = str(path).rstrip("/")
        self.tables = tuple(tables)

    def _dir(self, name: str) -> str:
        return f"{self.path}/{name}"

    def has_state(self, spark) -> bool:
        return has_commit_state(spark, self.path)

    def _batches(self, spark) -> list:
        return [r["batch"] for r in
                spark.read.parquet(self._dir("commits"))
                .select("batch").collect()]

    def read(self, spark, name: str, with_seq: bool = False) -> DataFrame:
        """Committed rows of table ``name`` without the ``batch``
        column — the broadcast join on the (tiny) log is a map-side
        filter, no shuffle. ``with_seq`` adds each row's commit
        ``seq``."""
        rows = _read_healed(spark, self._dir(name))
        commits = spark.read.parquet(self._dir("commits"))
        if with_seq:
            return rows.join(F.broadcast(commits.select("batch", "seq")),
                             "batch").drop("batch")
        return rows.join(F.broadcast(commits.select("batch")), "batch",
                         "left_semi").drop("batch")

    def commit(self, spark, frames: dict, replace: bool = False) -> str:
        """Append each frame of ``{table: frame}`` tagged with a fresh
        ``batch``, then land the commit row last; returns the batch.

        ``replace=True`` makes the batch the whole state: the last
        step is a one-row log staged beside ``commits/`` and swapped
        in by :func:`~pydin_spark.fs.replace_dir`, so readers see the
        old batches or the new one, never both and never neither. Each
        replaced table is then compacted down to the new batch, so
        superseded rows do not outlive the swap."""
        batch = uuid.uuid4().hex
        seq = next_seq(spark, self.path)
        for name, df in frames.items():
            df.withColumn("batch", F.lit(batch)) \
                .write.mode("append").parquet(self._dir(name))
        if replace:
            staging = self._dir("commits") + ".__staged__"
            spark.createDataFrame([(batch, seq)], LOG_SCHEMA) \
                .repartition(1).write.mode("overwrite").parquet(staging)
            fs.replace_dir(spark, staging, self._dir("commits"))
        else:
            append_commit(spark, self.path, (batch, seq))
        for name in tuple(frames) + ("commits",):
            spark.catalog.refreshByPath(self._dir(name))
        if replace:
            from ..functions.maintenance import compact
            for name in frames:
                compact(spark, self._dir(name),
                        row_filter=F.col("batch") == batch)
        return batch

    def collapse(self, spark, summary) -> dict:
        """Replace every committed batch with ONE batch holding
        ``summary(spark)`` (``{table: frame}`` built from the committed
        rows). Refuses when the log names batches none of whose rows
        exist while the data files hold rows: that log and those
        files disagree, and collapsing would commit empty state over
        surviving data."""
        n = len(self._batches(spark))
        # tested on committed rows, not on the summary: a summary can
        # be legitimately empty (an all-tombstoned snapshot registry)
        if all(self.read(spark, t).isEmpty() for t in self.tables) \
                and not all(spark.read.parquet(self._dir(t)).isEmpty()
                            for t in self.tables):
            raise ValueError(
                f"stored state at {self.path}: commit log names {n} "
                "batches but none of their rows exist while the data "
                "files are non-empty — refusing to collapse (it would "
                "commit empty state over surviving data). Rebuild the "
                "state or repair the commit log.")
        batch = self.commit(spark, summary(spark), replace=True)
        return {"collapsed_batches": n, "batch": batch}

    def maintain(self, spark, summary, collapse_above: int,
                 max_files: int = 64,
                 target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Stored-state upkeep (the ``maintain_states`` contract):
        :meth:`collapse` once the log holds more than
        ``collapse_above`` batches (it is broadcast on every read),
        then compact every table and the log past ``max_files``
        fragments. The data compaction keeps committed batches only,
        sweeping the orphan rows of crashed writers."""
        from ..functions.maintenance import compact_if_fragmented
        out: dict[str, object] = {}
        if not self.has_state(spark):
            return out
        batches = self._batches(spark)
        if len(batches) > collapse_above:
            res = self.collapse(spark, summary)
            out["collapsed_batches"] = res["collapsed_batches"]
            batches = [res["batch"]]
        for name in self.tables + ("commits",):
            keep = None if name == "commits" \
                else F.col("batch").isin(batches)
            res = compact_if_fragmented(
                spark, self._dir(name), max_files=max_files,
                target_file_bytes=target_file_bytes, row_filter=keep)
            if res:
                out[name] = res
        return out
