"""Lakehouse maintenance: small-file compaction and partitioned layout.

The silent killer of 100 TB tables is file-count explosion — thousands
of KB-sized part files from frequent incremental appends turn every scan
into a metadata storm. ``compact`` rewrites a parquet dataset into
size-targeted files; ``write_partitioned`` is the standard
date-partitioned layout so date-window queries partition-prune.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import fs


def dataset_stats(spark: SparkSession, path: str) -> dict:
    """File count + byte size of a parquet dataset.  Routed through the
    Hadoop FileSystem API (:mod:`pydin_spark.fs`) so the same walk
    works on ``file://``, ``hdfs://`` and ``s3a://`` paths alike."""
    return fs.tree_stats(spark, path, suffix=".parquet")


def compact(spark: SparkSession, path: str,
            target_file_bytes: int = 128 * 1024 * 1024,
            partition_by: list[str] | None = None,
            row_filter=None) -> dict:
    """Rewrite a parquet dataset with size-targeted files.

    File count = ceil(total_bytes / target_file_bytes); data is
    round-robin repartitioned (or hash-partitioned by ``partition_by``
    for partitioned layouts) and rewritten atomically via a staging
    directory + rename. ``row_filter`` (a Column predicate) drops rows
    during the rewrite — used to sweep tombstoned/uncommitted rows in
    the same pass that fixes the file layout.
    """
    stats = dataset_stats(spark, path)
    n_out = max(1, -(-stats["bytes"] // target_file_bytes))
    df = spark.read.parquet(path)
    if row_filter is not None:
        df = df.where(row_filter)
    staging = path.rstrip("/") + ".__compact__"
    writer = df.repartition(n_out)
    if partition_by:
        writer = df.repartition(n_out, *partition_by)
    w = writer.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    fs.replace_dir(spark, staging, path)
    spark.catalog.refreshByPath(path)
    return {"before": stats, "after": dataset_stats(spark, path)}


def compact_if_fragmented(spark: SparkSession, path: str,
                          max_files: int = 64,
                          target_file_bytes: int = 128 * 1024 * 1024,
                          partition_by: list[str] | None = None,
                          row_filter=None) -> dict:
    """Compact a parquet dataset only when its file count exceeds
    ``max_files`` — the idempotent building block every stored-state
    ``maintain()`` shares (high refresh cadence appends/overwrites
    small files; reads degrade without a periodic rewrite, but
    rewriting a healthy table every tick is wasted IO). Returns
    ``{}`` when the dataset doesn't exist, ``{"skipped": stats}``
    when healthy, else ``compact``'s before/after stats."""
    try:
        stats = dataset_stats(spark, path)
        spark.read.parquet(path).schema
    except Exception:  # noqa: BLE001 - state not built yet
        return {}
    if stats["files"] <= max_files:
        return {"skipped": stats}
    return compact(spark, path, target_file_bytes=target_file_bytes,
                   partition_by=partition_by, row_filter=row_filter)


def maintain_states(spark: SparkSession, states, **kwargs) -> dict:
    """Run ``maintain()`` across every stored-state object in one
    sweep — the single scheduler-driven upkeep entry point for a
    deployment's whole state fleet (incremental dedupers, continuous
    rollups, heavy-hitter/bloom sketch stores, line-dedup state, IVF
    indexes). Each family's ``maintain`` is idempotent and bounded
    (compaction only past a file-count threshold, commit-log collapse
    only past a batch-count threshold, orphan sweep always safe), so
    the sweep can run on any cron cadence.

    ``states`` is an iterable of objects exposing
    ``maintain(spark, **kwargs)``; results key by ``ClassName[path]``.
    A family that raises doesn't abort its siblings — the error
    string lands in the result so the scheduler job can alarm on it
    (same error-tolerance philosophy as the pipeline's
    ``error_limit``)."""
    import inspect
    out: dict[str, object] = {}
    for st in states:
        key = f"{type(st).__name__}[{getattr(st, 'path', '?')}]"
        try:
            accepted = inspect.signature(st.maintain).parameters
            kw = {k: v for k, v in kwargs.items() if k in accepted}
            out[key] = st.maintain(spark, **kw)
        except Exception as exc:  # noqa: BLE001 - isolate families
            out[key] = {"error": f"{type(exc).__name__}: {exc}"}
    return out


def write_partitioned(df: DataFrame, path: str, date_col: str,
                      granularity: str = "day",
                      mode: str = "overwrite") -> None:
    """Write date-partitioned parquet (``pd_date=YYYY-MM-DD`` dirs) so
    date-window scans prune partitions instead of reading everything.
    """
    trunc = {"day": "yyyy-MM-dd", "month": "yyyy-MM",
             "hour": "yyyy-MM-dd-HH"}[granularity]
    (df.withColumn("pd_date", F.date_format(F.col(date_col), trunc))
     .write.mode(mode).partitionBy("pd_date").parquet(path))


# ---- Z-order layout + file-stats data skipping -------------------------
#
# The multi-dimensional complement to write_partitioned: partition dirs
# prune ONE column; a Z-order (Morton) sort makes parquet min/max stats
# tight on SEVERAL columns at once, so range predicates on any subset
# skip most files/row groups. The layout job costs exactly what a
# 100 TB table can afford: one map-side min/max aggregate + one range
# shuffle; skipping at read time is a metadata-only decision against a
# files×columns stats frame (the Delta/Iceberg data-skipping shape,
# engine-independent here).


def _spread_bits(col, stride: int, bits: int):
    """Interleave-ready bit spread: bit j of ``col`` moves to position
    j*stride. A sum of (bits) shift-and terms — pure JVM Column
    arithmetic that whole-stage codegen flattens, and simple enough
    that an oracle recomputes it verbatim in SQL."""
    terms = [F.shiftleft(F.shiftright(col, j).bitwiseAND(F.lit(1)),
                         j * stride) for j in range(bits)]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_key(df: DataFrame, cols: list[str],
               bits: int = 16) -> DataFrame:
    """Append ``zkey``: the Morton interleave of ``cols`` rank-scaled
    to ``bits``-bit integers.

    Each column is normalized with exact BIGINT arithmetic: shift the
    zero-based value ``v - min`` right by ``s = bit_length(max - min)
    - bits`` (s >= 0), a power-of-two bucket width — no
    multiplication or float division anywhere, so there is nothing to
    overflow or round and an oracle recomputes it verbatim. Bit j of
    column i lands at position j*len(cols)+i. NULL reads as the
    column minimum (sorts first, the same choice a NULLS FIRST sort
    makes). Constant columns contribute 0 bits. Values must be
    integer-like (cast dates/timestamps to BIGINT upstream).

    One K-row driver aggregate (the per-column min/max) + one linear
    scan: the 100 TB layout-job cost model. ``len(cols) * bits`` must
    stay under 63 so the key fits a BIGINT.
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits > 63-bit key; "
                         f"lower bits to <= {63 // n}")
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("long")).alias(f"__min_{c}"),
                 F.max(F.col(c).cast("long")).alias(f"__max_{c}")]
    stats = df.agg(*aggs).first()
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo = stats[f"__min_{c}"]
        hi = stats[f"__max_{c}"]
        if lo is None or hi is None or hi == lo:
            continue  # all-NULL or constant: contributes nothing
        if int(hi) - int(lo) >= 1 << 63:
            # (v - min) runs in Spark LONG arithmetic: a span past
            # the signed-64 range would WRAP under non-ANSI semantics
            # and silently scramble the clustering (reads stay correct
            # via the residual filter, but skipping quality dies) —
            # refuse instead; rescale the column upstream
            raise ValueError(
                f"zorder_key column {c!r} spans [{lo}, {hi}] — "
                f"max-min exceeds the signed 64-bit range, so the "
                f"BIGINT normalization would wrap; rescale or bucket "
                f"the column before layout")
        shift = max(0, int(hi - lo).bit_length() - bits)
        v = F.coalesce(F.col(c).cast("long"), F.lit(lo))
        scaled = F.shiftright(v - F.lit(lo), shift)
        key = key + F.shiftleft(_spread_bits(scaled, n, bits), i)
    return df.withColumn("zkey", key)


def zorder_write(df: DataFrame, path: str, cols: list[str],
                 n_files: int, bits: int = 16,
                 mode: str = "overwrite") -> None:
    """Write ``df`` as ``n_files`` parquet files clustered by the
    Z-order of ``cols``: range-partition on zkey (contiguous key
    ranges per file) + sort within, so every file owns a compact
    hyper-rectangle-ish region and its per-column min/max stats are
    tight. The zkey itself is dropped — the ORIGINAL columns' stats
    are what both parquet row-group pushdown and :func:`file_stats`
    skipping prune on."""
    keyed = zorder_key(df, cols, bits=bits)
    (keyed.repartitionByRange(n_files, "zkey")
     .sortWithinPartitions("zkey")
     .drop("zkey")
     .write.mode(mode).parquet(path))


def zorder_fragmentation(spark: SparkSession, path: str,
                         cols: list[str], bits: int = 16) -> list[dict]:
    """Per-file Z-order clustering health: ``[{file, zmin, zmax,
    bytes, overlaps}]`` sorted by zmin, where ``overlaps`` counts the
    OTHER files whose [zmin, zmax] interval intersects this one. A
    freshly :func:`zorder_write`-laid dataset has overlaps ≈ 0
    (range-partitioned files own disjoint key ranges); appended files
    overlap many. ONE column-pruned scan (the zkey is recomputed
    on the fly under one shared normalization — it was deliberately
    dropped at write time) + a files-count-sized driver pass."""
    keyed = zorder_key(spark.read.parquet(path), cols, bits=bits)
    rows = (keyed.groupBy(F.input_file_name().alias("file"))
            .agg(F.min("zkey").alias("zmin"),
                 F.max("zkey").alias("zmax"))
            .collect())
    sizes = {f.rsplit("/", 1)[-1]: b
             for f, b in fs.list_file_sizes(spark, path).items()}
    from urllib.parse import unquote
    out = sorted(({"file": unquote(r["file"]),
                   "zmin": r["zmin"], "zmax": r["zmax"],
                   "bytes": sizes.get(
                       unquote(r["file"]).rsplit("/", 1)[-1], 0)}
                  for r in rows), key=lambda d: (d["zmin"], d["file"]))
    for i, d in enumerate(out):
        d["overlaps"] = sum(
            1 for j, e in enumerate(out) if j != i
            and e["zmin"] <= d["zmax"] and d["zmin"] <= e["zmax"])
    return out


def _overlap_clusters(frag: list[dict]) -> list[list[dict]]:
    """Connected components of interval overlap over zmin-sorted file
    stats: one linear pass — a new cluster starts where zmin exceeds
    the running max zmax (intervals are sorted by zmin)."""
    clusters: list[list[dict]] = []
    cur: list[dict] = []
    reach = None
    for d in frag:
        if cur and d["zmin"] > reach:
            clusters.append(cur)
            cur = []
            reach = None
        cur.append(d)
        reach = d["zmax"] if reach is None else max(reach, d["zmax"])
    if cur:
        clusters.append(cur)
    return clusters


def zorder_maintain(spark: SparkSession, path: str, cols: list[str],
                    bits: int = 16,
                    target_file_bytes: int = 128 * 1024 * 1024,
                    min_cluster_files: int = 2) -> dict:
    """Incremental Z-order upkeep (ROADMAP 29b): re-cluster ONLY the
    fragmented key ranges instead of rewriting the whole layout.
    Appends degrade a Z-ordered dataset locally — the new files
    overlap existing key ranges — but the untouched ranges stay
    perfectly clustered, and at 100 TB rewriting them again is the
    cost difference between a maintenance tick and a full layout job.

    Mechanics: per-file [zmin, zmax] intervals (one scan) → connected
    overlap clusters (driver, files-count-sized) → every cluster of
    ``min_cluster_files``+ files is rewritten with
    :func:`zorder_write` sized to ``target_file_bytes``; files in
    singleton clusters are MOVED (metadata-only rename, zero data IO)
    into the dedicated ``__moved__/`` staging subdir untouched. The
    whole new tree then swaps in via :func:`fs.replace_dir` — the
    same backup-rename crash story as every stored family — and the
    ``__moved__`` files flatten into the live root AFTER the swap
    (rename only, no data IO). Crash recovery is name-free (ADVICE
    r9: rewrite outputs in the staging root used to be mistakable
    for moved originals and got restored NEXT TO their still-live
    sources, duplicating rows): the moved singletons are exactly the
    ``__moved__/`` contents and are the ONLY originals in staging —
    everything else there is reproducible rewrite output and is
    dropped. Rewrites are read from the ORIGINAL files (never the
    half-built staging), so a crash at any point loses nothing:
    every original file exists in exactly one of
    live/staging-``__moved__``/backup.

    Single-writer contract: run from the maintenance job that owns
    the dataset (readers mid-swap see the replace_dir window).
    Rebuild :func:`file_stats`/:class:`StatsIndex` afterwards — the
    file set changed. Returns
    ``{rewritten_files, moved_files, clusters_rewritten}`` or
    ``{"skipped": n_files}`` when nothing is fragmented."""
    staging = path.rstrip("/") + ".__zorder__"
    # A crash inside the final replace_dir can leave the live dir
    # absent (renamed to .__old__ before staging took its place) —
    # heal FIRST so every recovery rename below has a parent to land
    # in and the dataset never wedges unreadable (ADVICE r9).
    fs.heal_replaced_dir(spark, path)
    moved_live = f"{path}/__moved__"
    if fs.exists(spark, moved_live):
        # swap completed but the post-swap flatten crashed: finish it
        # (each rename is atomic and removes its source, so a re-run
        # sees only the not-yet-flattened remainder)
        for name in fs.listdir(spark, moved_live):
            fs.rename(spark, f"{moved_live}/{name}", f"{path}/{name}")
        fs.delete(spark, moved_live, ignore_errors=True)
        spark.catalog.refreshByPath(path)
    if fs.exists(spark, staging):
        # crashed prior run: restore the moved singletons (the only
        # originals in staging, segregated under __moved__), then drop
        # the rest of the tree — rewrite outputs, finished (z{ci}_*)
        # or half-built (__rewrite_*), are reproducible because their
        # source files never left the live tree before the swap
        moved_root = f"{staging}/__moved__"
        if fs.exists(spark, moved_root):
            for name in fs.listdir(spark, moved_root):
                fs.rename(spark, f"{moved_root}/{name}",
                          f"{path}/{name}")
        fs.delete(spark, staging, ignore_errors=True)
        spark.catalog.refreshByPath(path)
    frag = zorder_fragmentation(spark, path, cols, bits=bits)
    clusters = _overlap_clusters(frag)
    rewrite = [c for c in clusters if len(c) >= min_cluster_files]
    if not rewrite:
        return {"skipped": len(frag)}
    fs.mkdirs(spark, staging)
    keep = [d for c in clusters if len(c) < min_cluster_files
            for d in c]
    moved = 0
    if keep:
        fs.mkdirs(spark, f"{staging}/__moved__")
    for d in keep:
        name = d["file"].rsplit("/", 1)[-1]
        fs.rename(spark, f"{path}/{name}",
                  f"{staging}/__moved__/{name}")
        moved += 1
    rewritten = 0
    for ci, cluster in enumerate(rewrite):
        files = [d["file"] for d in cluster]
        n_out = max(1, -(-sum(d["bytes"] for d in cluster)
                         // target_file_bytes))
        tmp = f"{staging}/__rewrite_{ci}"
        zorder_write(spark.read.parquet(*files), tmp, cols,
                     n_files=n_out, bits=bits)
        for name in fs.listdir(spark, tmp):
            if name.endswith(".parquet"):
                fs.rename(spark, f"{tmp}/{name}",
                          f"{staging}/z{ci}_{name}")
                rewritten += 1
        fs.delete(spark, tmp, ignore_errors=True)
    fs.replace_dir(spark, staging, path)
    # flatten the moved singletons into the live root (metadata-only;
    # a crash mid-flatten is finished by the recovery block above)
    if fs.exists(spark, moved_live):
        for name in fs.listdir(spark, moved_live):
            fs.rename(spark, f"{moved_live}/{name}", f"{path}/{name}")
        fs.delete(spark, moved_live, ignore_errors=True)
    spark.catalog.refreshByPath(path)
    return {"rewritten_files": rewritten, "moved_files": moved,
            "clusters_rewritten": len(rewrite)}


def file_stats(spark: SparkSession, path: str,
               cols: list[str]) -> DataFrame:
    """Per-file min/max of ``cols``: rows (file, <c>_min, <c>_max …).

    ONE column-pruned scan grouped by ``input_file_name()`` — at
    100 TB this is the stats-collection job that runs once per layout
    rewrite; the result is files-count-sized and persists/broadcasts.
    (Parquet footers hold the same numbers; reading them portably
    without a connector is what the scan is for.)"""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return (spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("file"))
            .agg(*aggs))


def prune_files(stats: DataFrame, ranges: dict) -> list[str]:
    """Files that can contain rows matching the conjunctive range
    predicate ``{col: (lo, hi)}`` (either bound may be None): a file
    survives iff every queried column's [min, max] overlaps [lo, hi].
    Driver-side over the files-count-sized stats frame — the
    metadata-only skipping decision.

    Returned paths are URL-DECODED: ``input_file_name()`` (the stats
    key) emits URI-encoded paths, and feeding ``%20``-style encodings
    back to ``spark.read.parquet`` breaks on datasets whose path
    contains URL-encodable characters (ADVICE r7)."""
    from urllib.parse import unquote
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            cond = cond & (F.col(f"{c}_max") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(f"{c}_min") <= F.lit(hi))
    return [unquote(r["file"])
            for r in stats.where(cond).select("file").collect()]


def read_skipping(spark: SparkSession, path: str, stats: DataFrame,
                  ranges: dict, check_stats: bool = True) -> DataFrame:
    """Range query over a dataset with a stats frame: open ONLY the
    files :func:`prune_files` admits, then apply the exact residual
    predicate (skipping is a superset decision; the filter makes it
    exact — same result as a full scan, fraction of the I/O on a
    Z-ordered layout).

    ``check_stats`` (default on) guards the one invariant skipping
    rests on: the stats frame must COVER the dataset. A file added
    after :func:`file_stats` ran is invisible to pruning, so a stale
    frame would silently DROP its rows from results (ADVICE r7). The
    guard compares the stats' file-name set against a live directory
    listing (one metadata walk, no data read) and raises on any
    difference — rebuild stats after every rewrite/append. Pass
    ``check_stats=False`` only where the caller already serializes
    stats rebuilds with writes (e.g. a maintenance job that owns the
    dataset)."""
    from urllib.parse import unquote

    from .. import fs as _fs
    if check_stats:
        # Coverage guard cost: ONE driver-side collect of the stats
        # frame's file column (files-count-sized by construction) plus
        # one recursive metadata listing — no data reads. At the
        # many-million-file scale pay it once per maintenance epoch
        # instead: the owning layout job passes check_stats=False and
        # serializes rebuilds with writes (StatsIndex documents this).
        # Paths compare RELATIVE to the dataset root, not by basename
        # (ADVICE r8): a same-named file relocated to a different
        # subdirectory must read as a difference, and the root prefix
        # is what differs between input_file_name's URI form and the
        # Hadoop listing's. Relativity is computed by stripping the
        # CANONICALIZED root prefix, not by searching for the root's
        # basename as a segment (ADVICE r9: a dataset whose basename
        # also appears as an earlier path segment or as a nested
        # subdirectory name truncated both sides at the wrong
        # segment, blinding the relocated-file detection).
        import re as _re

        def canon(p: str) -> str:
            # drop any URI scheme (+ optional //authority) so
            # input_file_name's "file:///x", the Hadoop listing's
            # "file:/x" and a caller's bare "/x" all compare equal
            m = _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?", p)
            if m:
                p = p[m.end():]
            return os.path.normpath(p)

        root = canon(unquote(path)).rstrip("/") + "/"

        def rel(p: str) -> str:
            c = canon(p)
            return c[len(root):] if c.startswith(root) else c

        known = {rel(unquote(r["file"]))
                 for r in stats.select("file").collect()}
        live = {rel(p) for p in _fs.list_files(spark, path)}
        if known != live:
            raise ValueError(
                f"stats frame is stale for {path}: "
                f"{sorted(live - known)[:3]} on disk but unindexed, "
                f"{sorted(known - live)[:3]} indexed but gone — "
                f"rebuild file_stats() after every rewrite/append")
    files = prune_files(stats, ranges)
    if not files:
        return spark.read.parquet(path).where(F.lit(False))
    df = spark.read.parquet(*files)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.where(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(c) <= F.lit(hi))
    return df


_STATS_LOG_SCHEMA = ("batch string, seq long, cols_json string, "
                     "dataset_path string")


class StatsIndex:
    """File-stats skipping index as a stored-state family (ROADMAP
    item 29): the per-file min/max frame :func:`file_stats` computes
    is collected ONCE per layout rewrite and committed under a state
    path; every reader session attaches the newest committed version
    instead of re-scanning the dataset — at 100 TB the stats scan is
    the expensive part, and it belongs to the (rare) layout job, not
    to every query session.

    Family discipline (shared with every stored family via
    :mod:`pydin_spark.operators.stored`): each :meth:`rebuild` lands a
    ``data_{seq}_{batch}/`` stats frame first, then ONE commit row —
    a crashed collector stays invisible; readers resolve the newest
    committed seq. ``maintain()`` collapses the log and sweeps
    unreferenced versions through the Hadoop-FS helper (any scheme).

    Staleness is handled, not assumed: :meth:`read_skipping` keeps the
    coverage guard ON by default — the committed stats must name
    exactly the dataset's current files or the read raises (the
    invariant is "rebuild after every rewrite"; the guard is one
    metadata listing). The guard makes the stored index safe to share
    across sessions that cannot see each other's writes.
    """

    def __init__(self, path: str, cols: list[str]):
        if not cols:
            raise ValueError("StatsIndex needs at least one column")
        self.path = str(path).rstrip("/")
        self.cols = list(cols)

    def _newest(self, spark: SparkSession):
        from ..operators.stored import newest
        return newest(spark, self.path)

    # -- API -----------------------------------------------------------

    def rebuild(self, spark: SparkSession, dataset_path: str) -> dict:
        """Collect per-file min/max of ``cols`` over ``dataset_path``
        (ONE column-pruned scan) and commit it as the new serving
        version. Call from the same job that rewrites the layout."""
        import json as _json
        import uuid as _uuid

        from ..operators.stored import append_commit, next_seq
        batch = _uuid.uuid4().hex[:12]
        seq = next_seq(spark, self.path)
        frame = file_stats(spark, dataset_path, self.cols)
        loc = f"{self.path}/data_{seq}_{batch}"
        frame.repartition(1).write.mode("errorifexists").parquet(loc)
        n = spark.read.parquet(loc).count()
        append_commit(spark, self.path,
                      (batch, seq, _json.dumps(self.cols), dataset_path),
                      _STATS_LOG_SCHEMA)
        return {"seq": seq, "files_indexed": n}

    def read(self, spark: SparkSession) -> DataFrame:
        """The newest committed stats frame (files-count-sized)."""
        row = self._newest(spark)
        if row is None:
            raise ValueError(f"no committed stats under {self.path}; "
                             "rebuild() first")
        return spark.read.parquet(
            f"{self.path}/data_{row['seq']}_{row['batch']}")

    def read_skipping(self, spark: SparkSession, ranges: dict,
                      check_stats: bool = True) -> DataFrame:
        """Range query over the indexed dataset via the committed
        stats — :func:`read_skipping` with the stored frame and the
        dataset path recorded at rebuild time."""
        row = self._newest(spark)
        if row is None:
            raise ValueError(f"no committed stats under {self.path}; "
                             "rebuild() first")
        stats = spark.read.parquet(
            f"{self.path}/data_{row['seq']}_{row['batch']}")
        return read_skipping(spark, row["dataset_path"], stats, ranges,
                             check_stats=check_stats)

    def maintain(self, spark: SparkSession) -> dict:
        """Collapse the commit log to the newest version and sweep
        unreferenced/crashed version dirs (log rewrite FIRST, same
        sequencing as every family). Hadoop-FS routed — any scheme."""
        from ..operators.stored import collapse_to_newest
        return collapse_to_newest(spark, self.path, _STATS_LOG_SCHEMA)
