"""Continuous rollup: an incrementally-maintained tumbling pre-aggregate
(the hypertable/continuous-aggregate pattern) over an event table.

Engine extension beyond the reference surface, composing two reference
semantics the engine already has: the incremental high-watermark load
(reference ``models.py:862-867`` — strict ``>`` against the sink's max)
and tumbling-window aggregation. The rollup sink holds one row per
(bucket, group); ``refresh`` appends/overwrites only the buckets that
new events can still touch, so a 100 TB event history is never
re-aggregated — each refresh reads only the tail beyond the sink's
high-water bucket.

Scale notes:
- the refresh scan is bounded below by the sink's max bucket (a
  1-row aggregate on the pre-aggregated sink, not the event table) and
  the filter is a Column predicate, so partition/row-group pruning on
  the event source applies;
- the open bucket (and only it) is recomputed every refresh — buckets
  strictly below the high-water mark are immutable, the classic
  correctness rule when events can arrive late within the current
  bucket but not before it (bound late arrivals with ``lateness``
  buckets to widen the recompute window);
- writes go through dynamic partition overwrite on the bucket column,
  so a refresh rewrites exactly the touched bucket partitions.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, functions as F


def rollup_aggregate(df: DataFrame, ts_col: str = "ts",
                     bucket: str = "1 hour",
                     group_cols: tuple[str, ...] = ("event_type",),
                     value_col: str = "value",
                     distinct_col: str | None = None,
                     lg_config_k: int | None = None,
                     quantile_col: str | None = None,
                     kll_k: int | None = None) -> DataFrame:
    """One tumbling-bucket aggregate row per (bucket, group): count and
    an exact decimal sum (re-castable to double for consumers). The
    canonical shape served by the rollup sink.

    ``distinct_col`` adds a *mergeable* distinct-count: an Apache
    DataSketches HLL sketch per row (``hll_sketch_agg``, stored as
    binary). Unlike a plain COUNT(DISTINCT) — which cannot be combined
    across buckets — sketches re-merge losslessly (register-wise max),
    so :func:`coarsen` can serve daily/weekly distincts from an hourly
    rollup without ever rescanning the event history. Estimates are
    exact while a bucket stays in the sketch's sparse regime and ~2%
    beyond it; ``lg_config_k`` (Spark default 12) widens the exact
    regime at 4 bytes/register cost — lgK=14 keeps day-level user
    counts exact through the sf0.1 bench fixtures and ~2% at 100 TB.

    ``quantile_col`` does the same for order statistics: a KLL sketch
    (``kll_sketch_agg_double``) per row — mergeable, so
    :func:`coarsen` serves daily/weekly percentiles from the hourly
    pre-aggregate; exact while a bucket's item count stays below the
    sketch's k (``kll_k``, library default 200), bounded-rank-error
    beyond. In the exact regime the returned quantile is the item at
    1-based rank ``ceil(q*n)`` (DataSketches inclusive convention —
    pinned empirically and by the rollup_quantile oracle).
    """
    aggs = [F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(25,4)"))
            .cast("double").alias("total_value")]
    cols = ["n_events", "total_value"]
    if distinct_col is not None:
        sk = (F.hll_sketch_agg(distinct_col)
              if lg_config_k is None
              else F.hll_sketch_agg(distinct_col, F.lit(int(lg_config_k))))
        aggs.append(sk.alias("distinct_sketch"))
        cols.append("distinct_sketch")
    if quantile_col is not None:
        qc = F.col(quantile_col).cast("double")
        sk = (F.kll_sketch_agg_double(qc)
              if kll_k is None
              else F.kll_sketch_agg_double(qc, F.lit(int(kll_k))))
        aggs.append(sk.alias("quantile_sketch"))
        cols.append("quantile_sketch")
    return (df.groupBy(F.window(ts_col, bucket).alias("w"), *group_cols)
            .agg(*aggs)
            .select(F.col("w.start").alias("bucket_start"),
                    *group_cols, *cols))


def with_distinct_estimate(rollup_df: DataFrame,
                           out_col: str = "approx_distinct") -> DataFrame:
    """Serve-time helper: materialize the HLL estimate next to the
    sketch column (kept, so the frame stays mergeable)."""
    return rollup_df.withColumn(
        out_col, F.hll_sketch_estimate("distinct_sketch"))


def with_quantile_estimate(rollup_df: DataFrame, q: float = 0.5,
                           out_col: str = "approx_quantile") -> DataFrame:
    """Serve-time helper for the KLL sketch column: the q-quantile
    estimate next to the sketch (kept, so the frame stays mergeable)."""
    return rollup_df.withColumn(
        out_col, F.kll_sketch_get_quantile_double("quantile_sketch",
                                                  F.lit(float(q))))


def coarsen(rollup_df: DataFrame, bucket: str,
            group_cols: tuple[str, ...] = ("event_type",)) -> DataFrame:
    """Re-aggregate a finer rollup to a coarser bucket width — pure
    pre-aggregate math, the event history is never touched: counts and
    sums add, HLL sketches union (``hll_union_agg``, exactly the sketch
    the coarse bucket would have built from raw events)."""
    has_sketch = "distinct_sketch" in rollup_df.columns
    aggs = [F.sum("n_events").alias("n_events"),
            F.sum("total_value").alias("total_value")]
    cols = ["n_events", "total_value"]
    if has_sketch:
        aggs.append(F.hll_union_agg("distinct_sketch")
                    .alias("distinct_sketch"))
        cols.append("distinct_sketch")
    if "quantile_sketch" in rollup_df.columns:
        aggs.append(F.kll_merge_agg_double("quantile_sketch")
                    .alias("quantile_sketch"))
        cols.append("quantile_sketch")
    return (rollup_df
            .groupBy(F.window("bucket_start", bucket).alias("w"),
                     *group_cols)
            .agg(*aggs)
            .select(F.col("w.start").alias("bucket_start"),
                    *group_cols, *cols))


class _BucketState:
    """Machinery shared by the stored bucket states
    (:class:`ContinuousRollup`, :class:`StoredHeavyHitters`,
    :class:`StoredBloom`, :class:`StoredCMS`): per-bucket state stored
    as parquet at ``path``, partitioned by ``bucket_start``.

    A family supplies ``_summarize(events)`` (its per-bucket state,
    keyed by ``bucket_start``), ``_columns`` (the stored columns after
    ``bucket_start``, in canonical order) and ``_kind`` (its name in
    the no-state error), plus its own serve-time merge.
    """

    def __init__(self, path: str, ts_col: str, bucket: str,
                 lateness: int):
        self.path = path
        self.ts_col = ts_col
        self.bucket = bucket
        self.lateness = int(lateness)

    def _exists(self, spark) -> bool:
        try:
            spark.read.parquet(self.path).schema
            return True
        except Exception as exc:  # noqa: BLE001 - classify, don't blanket
            # only a genuinely absent/empty sink means "first build";
            # any other read failure (e.g. a corrupt footer from a
            # killed writer) must surface, NOT silently reroute refresh
            # into a full overwrite that erases history
            text = f"{type(exc).__name__}: {exc}"
            if ("PATH_NOT_FOUND" in text or "Path does not exist" in text
                    or "UNABLE_TO_INFER_SCHEMA" in text
                    or "Unable to infer schema" in text):
                return False
            raise

    def read(self, spark) -> DataFrame:
        """The stored state in canonical column order (partitioned
        parquet reads append the partition column last; its value
        round-trips as a timestamp via partition type inference).
        Raises a clear error when no state has been stored yet — an
        all-empty refresh history leaves nothing on disk."""
        if not self._exists(spark):
            raise ValueError(
                f"no stored {self._kind} state at {self.path} — "
                "refresh() with a non-empty source first")
        return (spark.read.parquet(self.path)
                .select(F.col("bucket_start").cast("timestamp"),
                        *self._columns))

    def maintain(self, spark, max_files: int = 64,
                 target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Compact the bucket-partitioned state once refreshes have
        fragmented it past ``max_files`` (each dynamic partition
        overwrite rewrites its partitions as task-count file sets;
        at high cadence the read side degrades into a metadata
        storm). Idempotent and bounded — the shared stored-state
        upkeep contract (:func:`~pydin_spark.functions.maintenance.
        maintain_states`)."""
        from ..functions.maintenance import compact_if_fragmented
        return compact_if_fragmented(
            spark, self.path, max_files=max_files,
            target_file_bytes=target_file_bytes,
            partition_by=["bucket_start"])

    def _bucket_seconds(self, spark, bucket: str | None = None) -> int:
        # derive the bucket width from a probe window rather than
        # parsing the duration string ourselves
        probe = (spark.range(1)
                 .select(F.window(F.lit("1970-01-01 00:00:00")
                                  .cast("timestamp"),
                                  bucket or self.bucket).alias("w"))
                 .select((F.unix_timestamp("w.end")
                          - F.unix_timestamp("w.start")).alias("s")))
        return probe.first()["s"]

    def refresh(self, events: DataFrame) -> DataFrame:
        """Fold the append-only event source into the stored state;
        returns the refreshed state (a typed empty frame while an
        empty source leaves nothing stored).

        CONTRACT: ``events`` must be the full event source (or at
        minimum contain EVERY event of every bucket in the recompute
        window) — recomputed buckets are rebuilt from this frame alone
        and dynamically overwritten, so passing only the new tail would
        replace the open bucket's state with a partial one. The
        source is only ever *scanned* from the recompute floor (the
        Column predicate prunes partitions/row groups), so passing the
        full table costs the tail, not the history.

        Recompute window: all buckets >= (stored max bucket − lateness
        buckets). Everything older is immutable and untouched. Bucket
        arithmetic assumes fixed-width buckets (epoch-aligned, as the
        session pins UTC — with a DST-shifting session timezone,
        calendar-width buckets like '1 day' would misalign).
        """
        spark = events.sparkSession
        first = not self._exists(spark)
        if not first:
            # recompute floor = high-water bucket minus `lateness` whole
            # buckets, done in Python on the plain timestamp (the max
            # bucket is a 1-row aggregate on the stored state, never a
            # scan of the event history)
            high = (self.read(spark)
                    .agg(F.max("bucket_start").alias("m")).first()["m"])
            floor = high - dt.timedelta(
                seconds=self._bucket_seconds(spark) * self.lateness)
            events = events.where(F.col(self.ts_col) >= F.lit(floor))
        # cluster by the partition column before the partitioned write
        # (tasks x buckets sliver files otherwise). The overwrite mode
        # is a per-write option, not the session conf, so threads
        # sharing the session keep their own: a first build replaces
        # the path, a refresh only the recomputed bucket partitions.
        out = self._summarize(events).repartition("bucket_start")
        (out.write.mode("overwrite").partitionBy("bucket_start")
         .option("partitionOverwriteMode", "static" if first else "dynamic")
         .parquet(self.path))
        spark.catalog.refreshByPath(self.path)
        if first and not self._exists(spark):
            # an empty source writes no data files (partitioned parquet
            # keeps no schema for zero rows): stay in the "first build
            # pending" state and return a typed empty
            return spark.createDataFrame([], out.schema)
        return self.read(spark)

    def _at_grain(self, spark, bucket: str | None):
        """The stored state for a serve at ``bucket`` and the group
        columns its merge keeps: as stored with none for
        ``bucket=None`` (one merge over the whole history), else
        re-bucketed to ``bucket``. Finer or misaligned grains are
        refused: re-bucketing day-grain state to hours would pile each
        day's state onto its first hour and serve it as exact —
        confidently wrong, so error out."""
        s = self.read(spark)
        if bucket is None:
            return s, ()
        stored_s = self._bucket_seconds(spark)
        req_s = self._bucket_seconds(spark, bucket)
        if req_s < stored_s or req_s % stored_s:
            raise ValueError(
                f"serve bucket {bucket!r} ({req_s}s) must be a whole "
                f"multiple of the stored bucket {self.bucket!r} "
                f"({stored_s}s)")
        return (s.withColumn("bucket_start",
                             F.window("bucket_start", bucket)["start"]),
                ("bucket_start",))


class ContinuousRollup(_BucketState):
    """Incrementally-maintained rollup stored as bucket-partitioned
    parquet at ``path``.

    ``refresh(events_df)`` recomputes only buckets >= the sink's
    high-water bucket minus ``lateness`` buckets and rewrites exactly
    those partitions (dynamic partition overwrite). A fresh sink is a
    full build. ``read()`` returns the current rollup; ``lag/lateness``
    semantics follow streaming watermarks: events older than the
    recompute window are ignored by design (bound it generously).
    """

    _kind = "rollup"

    def __init__(self, path: str, ts_col: str = "ts",
                 bucket: str = "1 hour",
                 group_cols: tuple[str, ...] = ("event_type",),
                 value_col: str = "value", lateness: int = 0,
                 distinct_col: str | None = None):
        super().__init__(path, ts_col, bucket, lateness)
        self.group_cols = tuple(group_cols)
        self.value_col = value_col
        self.distinct_col = distinct_col
        self._columns = (*self.group_cols, "n_events", "total_value",
                         *(("distinct_sketch",) if distinct_col is not None
                           else ()))

    def _summarize(self, events: DataFrame) -> DataFrame:
        return rollup_aggregate(events, self.ts_col, self.bucket,
                                self.group_cols, self.value_col,
                                self.distinct_col)


def theta_slice_sketches(df: DataFrame, slice_col: str,
                         id_col: str) -> DataFrame:
    """One mergeable Theta sketch of ``id_col``'s distinct values per
    ``slice_col`` slice — the pre-aggregate for cross-source set
    algebra. Unlike HLL (union-only), Theta sketches support
    intersection and difference, so slice-vs-slice overlap questions
    ("how many users does source A share with source B?") are answered
    from K stored sketches instead of re-joining the raw history per
    pair. Exact below the sketch's nominal entry count (4096 default),
    ~1-2% beyond — at 100 TB the K sketches are the only state that
    moves. One shuffle on the slice key.
    """
    return (df.groupBy(slice_col)
            .agg(F.theta_sketch_agg(id_col).alias("sketch"),
                 F.count_distinct(F.col(id_col)).alias("n_exact")))


def theta_overlap(df: DataFrame, slice_col: str, id_col: str,
                  sketches: DataFrame | None = None) -> DataFrame:
    """Pairwise distinct-overlap matrix between slices:
    (slice_a, slice_b, n_a, n_b, n_union, n_intersection, n_only_a)
    for every slice_a < slice_b, via Theta sketch set algebra on the
    per-slice pre-aggregates (pass ``sketches`` to reuse stored ones).

    The pairwise stage works on K sketches (K = #slices — driver-tiny
    by construction), never on the raw ids: a K² matrix over 100 TB of
    history costs K² sketch ops after one linear sketching pass.
    Estimates are exact in the sketches' exact regime — the
    correctness-gate operating point (fixture cardinalities sit well
    below the 4096-entry nominal).
    """
    sk = sketches if sketches is not None \
        else theta_slice_sketches(df, slice_col, id_col)
    a = sk.select(F.col(slice_col).alias("slice_a"),
                  F.col("sketch").alias("sk_a"),
                  F.col("n_exact").alias("n_a"))
    b = sk.select(F.col(slice_col).alias("slice_b"),
                  F.col("sketch").alias("sk_b"),
                  F.col("n_exact").alias("n_b"))
    pairs = a.join(b, F.col("slice_a") < F.col("slice_b"))
    inter = F.theta_sketch_estimate(
        F.theta_intersection("sk_a", "sk_b")).cast("long")
    union = F.theta_sketch_estimate(
        F.theta_union("sk_a", "sk_b")).cast("long")
    only_a = F.theta_sketch_estimate(
        F.theta_difference("sk_a", "sk_b")).cast("long")
    return pairs.select(
        "slice_a", "slice_b", "n_a", "n_b",
        union.alias("n_union"), inter.alias("n_intersection"),
        only_a.alias("n_only_a"))


def heavy_hitters(df: DataFrame, item_col: str, k: int = 50,
                  capacity: int = 4096,
                  group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distributed Misra-Gries heavy hitters: the top-``k`` most
    frequent values of ``item_col`` with deterministic error bounds,
    from bounded per-partition state — the frequent-items member of
    the mergeable-sketch family (HLL distinct / KLL quantiles / Theta
    set algebra), which Spark has no built-in for (``count_min_sketch``
    can be built but not merged/queried from SQL).

    Each partition maintains at most ``capacity`` counters (classic
    Misra-Gries: when a new item would exceed capacity, all counters
    drop by the overflow decrement — counts become LOWER bounds with
    per-partition error ≤ the accumulated decrement). Summaries merge
    by item-wise sum (Agarwal et al., "Mergeable Summaries": the
    merged error is the sum of per-partition errors). Output:
    (item, est_count, err_ub, rank) — the true count lies in
    [est_count, est_count + err_ub]; when every partition sees at most
    ``capacity`` distinct items the decrement never fires and the
    counts are EXACT with err_ub = 0 (the oracle operating point).

    Scale shape: one pass, per-task state O(capacity) per group seen,
    one shuffle of ≤ capacity rows per (partition, group), top-k via
    TakeOrdered (global) or a per-group rank window (grouped). The
    rank orders by (est_count DESC, item) so the exact regime is fully
    deterministic; under pruning the kept set can depend on partition
    order, as with any MG sketch.

    ``group_cols`` (e.g. a rollup's ``("bucket_start", "event_type")``)
    keeps one independent summary per group — the per-time-bucket
    frequent-items column next to the HLL/KLL sketch columns: top-k
    and error are computed within each group, output gains the group
    columns.
    """
    # one source of truth: build the mergeable summary, serve from it
    # (Catalyst fuses the two same-key aggregates into one shuffle)
    return hh_topk(heavy_hitter_summaries(df, item_col, capacity,
                                          group_cols),
                   k=k, group_cols=group_cols)


#: sentinel item carrying a summary's accumulated MG error — a plain
#: counter, so merging summaries (summing est per item) sums errors too
HH_ERR_ITEM = "\x00__err__"


def _mg_map(df: DataFrame, item_col: str, capacity: int,
            gcols: list) -> DataFrame:
    """Map phase shared by :func:`heavy_hitters` and
    :func:`heavy_hitter_summaries`: per-(partition, group) Misra-Gries
    counters as (group..., item, est, err) rows, one ``HH_ERR_ITEM``
    sentinel per (partition, group)."""
    import pandas as pd

    src = df.select(*[F.col(c) for c in gcols],
                    F.col(item_col).cast("string").alias("item"))

    def mg(batches):
        state: dict = {}   # group key tuple -> [counters dict, err]
        for pdf in batches:
            counted = (pdf.groupby(gcols + ["item"], sort=False,
                                   dropna=False).size()
                       if gcols else pdf["item"].value_counts())
            for key, cnt in counted.items():
                if gcols:
                    gkey = key[:-1] if len(gcols) > 0 else ()
                    item = key[-1]
                else:
                    gkey, item = (), key
                counters, _ = st = state.setdefault(gkey, [{}, 0])
                counters[item] = counters.get(item, 0) + int(cnt)
            for gkey, st in state.items():
                counters, err = st
                if len(counters) > capacity:
                    # batched MG reduction: subtract the
                    # (capacity+1)-th largest value from everything,
                    # drop the non-positive
                    vals = sorted(counters.values(), reverse=True)
                    d = vals[capacity]
                    st[0] = {i: c - d for i, c in counters.items()
                             if c - d > 0}
                    st[1] = err + d
        rows = []
        for gkey, (counters, err) in state.items():
            for item, est in counters.items():
                rows.append((*gkey, item, est, err))
            rows.append((*gkey, HH_ERR_ITEM, 0, err))
        yield pd.DataFrame(
            rows, columns=gcols + ["item", "est", "err"])

    gschema = "".join(
        f"{c} {df.schema[c].dataType.simpleString()}, " for c in gcols)
    return src.mapInPandas(
        mg, schema=f"{gschema}item string, est long, err long")


def heavy_hitter_summaries(df: DataFrame, item_col: str,
                           capacity: int = 4096,
                           group_cols: tuple[str, ...] = ()
                           ) -> DataFrame:
    """STORED-STATE form of :func:`heavy_hitters`: the mergeable
    summary rows themselves — (group..., item, est) with one sentinel
    row per group (``HH_ERR_ITEM``) whose ``est`` is the group's
    accumulated Misra-Gries error.

    The sentinel convention makes the error just another counter, so
    EVERY later operation is a plain sum: write hourly summaries once,
    then :func:`coarsen_hh` rolls them to coarser grains and
    :func:`hh_topk` serves top-k with the correct merged bound — no
    rescan of the raw history, the same serve-from-pre-aggregate story
    as the HLL/KLL/Theta columns. No ranking window runs here (the
    summary can be much larger than any top-k) — trim happens at
    serve time.
    """
    gcols = list(group_cols)
    raw = _mg_map(df, item_col, capacity, gcols)
    return (raw.groupBy(*gcols, "item")
            .agg(F.sum(F.when(F.col("item") == HH_ERR_ITEM,
                              F.col("err")).otherwise(F.col("est")))
                 .alias("est")))


def coarsen_hh(summary: DataFrame, group_exprs: dict,
               keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Merge stored heavy-hitter summaries to a coarser grouping —
    e.g. hourly → daily: ``coarsen_hh(s, {"bucket_start":
    F.date_trunc('day', F.col('bucket_start'))}, keep_cols=
    ('event_type',))``. Pure sum per (new group, item); the sentinel
    error rows sum with everything else, which IS the mergeable-
    summaries error rule (merged error = Σ source errors). The result
    is again a summary frame — coarsen further or serve with
    :func:`hh_topk`. No re-trim is applied: a merged summary can hold
    more than ``capacity`` items (union of sources); trim at serve
    time by taking top-k.
    """
    sel = [expr.alias(name) for name, expr in group_exprs.items()] + \
          [F.col(c) for c in keep_cols] + [F.col("item"), F.col("est")]
    out_groups = list(group_exprs) + list(keep_cols)
    return (summary.select(*sel)
            .groupBy(*out_groups, "item")
            .agg(F.sum("est").alias("est")))


def hh_topk(summary: DataFrame, k: int = 50,
            group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Serve top-k from a stored/merged summary frame:
    (group..., item, est_count, err_ub, rank) — identical contract to
    :func:`heavy_hitters`, but reading K summary rows instead of the
    raw history."""
    gcols = list(group_cols)
    from pyspark.sql import Window
    sentinels = summary.where(F.col("item") == HH_ERR_ITEM)
    items = summary.where(F.col("item") != HH_ERR_ITEM)
    if not gcols:
        err = sentinels.agg(
            F.coalesce(F.sum("est"), F.lit(0)).alias("err_ub"))
        merged = (items.groupBy("item")
                  .agg(F.sum("est").alias("est_count"))
                  .crossJoin(F.broadcast(err)))
        top = merged.orderBy(F.desc("est_count"), "item").limit(int(k))
        w = Window.orderBy(F.desc("est_count"), "item")
        return (top.withColumn("rank", F.row_number().over(w))
                .select("item", "est_count", "err_ub", "rank"))
    err = (sentinels.groupBy(*gcols)
           .agg(F.coalesce(F.sum("est"), F.lit(0)).alias("err_ub")))
    grouped = (items.groupBy(*gcols, "item")
               .agg(F.sum("est").alias("est_count")))
    # NULL group keys are legitimate groups (_mg_map keeps them with
    # dropna=False) — a null-unsafe equi-join would silently drop
    # them. Both sides derive from `summary`, so alias them before
    # joining: df[c] == other[c] on shared lineage resolves to the
    # same attribute and Spark warns "trivially true equals predicate"
    ga, ea = grouped.alias("__hh_g"), err.alias("__hh_e")
    cond = None
    for c in gcols:
        piece = F.col(f"__hh_g.{c}").eqNullSafe(F.col(f"__hh_e.{c}"))
        cond = piece if cond is None else (cond & piece)
    merged = (ga.join(ea, cond)
              .select(*[F.col(f"__hh_g.{c}") for c in gcols],
                      F.col("__hh_g.item"),
                      F.col("__hh_g.est_count"),
                      F.col("__hh_e.err_ub")))
    w = Window.partitionBy(*gcols).orderBy(F.desc("est_count"), "item")
    return (merged.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(k))
            .select(*gcols, "item", "est_count", "err_ub", "rank"))


class StoredHeavyHitters(_BucketState):
    """Incrementally-maintained per-bucket heavy-hitter STATE stored as
    bucket-partitioned parquet — the frequent-items companion to
    :class:`ContinuousRollup`'s HLL/KLL/Theta sketch columns.

    The sink holds one Misra-Gries summary per (bucket, group): rows
    ``(bucket_start, *group_cols, item, est)`` with the
    :data:`HH_ERR_ITEM` sentinel carrying each group's accumulated
    error as just another counter. ``refresh(events)`` recomputes only
    buckets >= the sink's high-water bucket minus ``lateness`` buckets
    and rewrites exactly those partitions (dynamic partition
    overwrite, same contract as :class:`ContinuousRollup.refresh` —
    pass the full event source; the Column predicate prunes the scan
    to the tail). ``serve()`` answers top-k at the stored grain, any
    coarser grain, or globally, by merging stored summaries
    (:func:`coarsen_hh` + :func:`hh_topk`) — the 100 TB event history
    is never rescanned; the only state that moves is
    O(buckets x groups x capacity) summary rows.

    Exactness follows the MG contract: while every (partition, bucket,
    group) sees at most ``capacity`` distinct items, stored counts are
    exact with err_ub = 0 — the oracle operating point; beyond it the
    served bound est <= true <= est + err_ub degrades gracefully and
    merging sums the error, never hides it.
    """

    _kind = "heavy-hitter"

    def __init__(self, path: str, item_col: str, ts_col: str = "ts",
                 bucket: str = "1 hour", capacity: int = 4096,
                 group_cols: tuple[str, ...] = (), lateness: int = 0):
        super().__init__(path, ts_col, bucket, lateness)
        self.item_col = item_col
        self.capacity = int(capacity)
        self.group_cols = tuple(group_cols)
        self._columns = (*self.group_cols, "item", "est")

    def _summarize(self, events: DataFrame) -> DataFrame:
        bucketed = events.withColumn(
            "bucket_start",
            F.window(self.ts_col, self.bucket)["start"])
        return heavy_hitter_summaries(
            bucketed, self.item_col, self.capacity,
            ("bucket_start", *self.group_cols))

    def serve(self, spark, k: int = 50,
              bucket: str | None = None) -> DataFrame:
        """Top-k frequent items from the stored state, no raw rescan.

        ``bucket=None`` merges every stored bucket into one global
        summary (per ``group_cols`` group if any); ``bucket='1 day'``
        re-buckets the stored (finer) summaries to that grain first.
        Output contract matches :func:`heavy_hitters` /
        :func:`hh_topk`: (…, item, est_count, err_ub, rank).
        """
        s, by = self._at_grain(spark, bucket)
        by = (*by, *self.group_cols)
        return hh_topk(coarsen_hh(s, {}, keep_cols=by), k=k,
                       group_cols=by)


# ---------------------------------------------------------------------------
# Bloom filters — the MEMBERSHIP member of the mergeable-sketch family
# (HLL = distinct counts, KLL = quantiles, Theta = set algebra,
# Misra-Gries = frequent items, Bloom = "have we seen this?").
# ---------------------------------------------------------------------------

_BLOOM_WORD_BITS = 63  # bits per packed word; 63 keeps 1<<bit positive
# in both Spark longs and DuckDB BIGINTs, so oracles reproduce the
# packed words without sign-extension edge cases


def _bloom_positions(item, j, m_bits: int):
    """Deterministic bit position for (item, hash j): first 15 hex
    chars of md5(item '#' j) -> 60-bit int -> mod m_bits. md5 exists in
    DuckDB, so an oracle rebuilds the identical filter bit-for-bit —
    false positives and all (FPs are deterministic, not random)."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws("#", item.cast("string"),
                          j.cast("string"))), 1, 15), 16, 10).cast("long")
    return h % F.lit(int(m_bits))


def bloom_build(df: DataFrame, item_col: str, m_bits: int = 1 << 17,
                k_hashes: int = 3,
                group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Build a Bloom filter of ``item_col``'s values as packed words:
    rows (group…, word_idx, bits) with ``word_idx = pos // 63`` and
    bit ``pos % 63`` set for each of ``k_hashes`` md5-derived
    positions. One filter per ``group_cols`` group (e.g. per source,
    per day — the incremental-build unit).

    Mergeable: filters over shards/batches/groups combine by
    ``bit_or`` per word (:func:`bloom_merge`) — the property that
    makes this the 100 TB membership answer: each executor sets bits
    map-side, the reduce moves at most ``m_bits/63`` longs per group
    (~16 KiB at the 2^17 default), and the finished filter broadcasts
    to probe ANY other table with zero shuffle. Duplicate items need
    no pre-distinct (re-setting a bit is idempotent under OR), so the
    build is a pure scan + one tiny aggregate.

    Size m_bits for ~10 bits/distinct item at k=3 for <2% FP; FPs are
    deterministic (md5), so two engines computing the same filter
    agree exactly — the oracle operating point.
    """
    ex = df.select(*group_cols,
                   F.col(item_col).cast("string").alias("__it"))
    # NULL is not a member under SQL equality semantics: it never
    # sets bits (and bloom_contains reads NULL probes as absent)
    ex = ex.where(F.col("__it").isNotNull())
    ex = ex.withColumn(
        "__j", F.explode(F.array(*[F.lit(j) for j in range(k_hashes)])))
    pos = _bloom_positions(F.col("__it"), F.col("__j"), m_bits)
    wb = F.lit(_BLOOM_WORD_BITS)
    return (ex.select(*group_cols,
                      (pos / wb).cast("long").alias("word_idx"),
                      (pos % wb).cast("int").alias("__bit"))
            .withColumn("__m",
                        F.expr("shiftleft(CAST(1 AS BIGINT), __bit)"))
            .groupBy(*group_cols, "word_idx")
            .agg(F.bit_or("__m").alias("bits")))


def bloom_merge(filters: DataFrame,
                group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Union Bloom filters built with the same (m_bits, k_hashes):
    bit-OR per word. Merging filters of different parameters is
    undefined — the caller owns that contract (same rule as every
    sketch in this family)."""
    return (filters.groupBy(*group_cols, "word_idx")
            .agg(F.bit_or("bits").alias("bits")))


def bloom_contains(df: DataFrame, bloom: DataFrame, item_col: str,
                   m_bits: int = 1 << 17, k_hashes: int = 3,
                   out_col: str = "maybe_in",
                   group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Probe a Bloom filter: adds boolean ``out_col`` — True iff ALL
    ``k_hashes`` probe bits are set (the standard "definitely absent /
    maybe present" contract; False is authoritative, True has the
    filter's FP rate).

    With ``group_cols``, ``bloom`` holds one filter per group (built
    with the same ``group_cols``) and each probe row is tested against
    ITS OWN group's filter — per-source / per-day membership in one
    pass; a probe row whose group has no filter reads "definitely
    absent".

    Scale shape: ``k_hashes`` broadcast hash joins of the ≤
    groups × m_bits/63 word table onto the probe stream — NO shuffle
    of ``df`` at all and no row-id regroup; each probe row picks up
    its k words via broadcast and the bit tests are codegen'd column
    ops. This is why the filter beats an exact semi-join for huge
    probe sides: the probe stays a pure scan.
    """
    out = df
    wb = F.lit(_BLOOM_WORD_BITS)
    hit = None
    for j in range(k_hashes):
        pos = _bloom_positions(F.col(item_col), F.lit(j), m_bits)
        w = bloom.select(
            *[F.col(g).alias(f"__g{j}_{i}")
              for i, g in enumerate(group_cols)],
            F.col("word_idx").alias(f"__w{j}"),
            F.col("bits").alias(f"__b{j}"))
        out = out.withColumn(f"__wi{j}", (pos / wb).cast("long")) \
            .withColumn(f"__bt{j}", (pos % wb).cast("int")) \
            .withColumn(f"__mk{j}",
                        F.expr(f"shiftleft(CAST(1 AS BIGINT), __bt{j})"))
        cond = F.col(f"__wi{j}") == F.col(f"__w{j}")
        for i, g in enumerate(group_cols):
            cond = cond & F.col(g).eqNullSafe(F.col(f"__g{j}_{i}"))
        out = out.join(F.broadcast(w), cond, "left")
        test = (F.coalesce(F.col(f"__b{j}"), F.lit(0))
                .bitwiseAND(F.col(f"__mk{j}")) != 0)
        hit = test if hit is None else (hit & test)
    drop = [c for j in range(k_hashes)
            for c in (f"__wi{j}", f"__bt{j}", f"__mk{j}",
                      f"__w{j}", f"__b{j}")]
    drop += [f"__g{j}_{i}" for j in range(k_hashes)
             for i in range(len(group_cols))]
    # NULL probes read definitively absent (SQL equality semantics:
    # NULL matches nothing; the build never set bits for NULL either)
    return out.withColumn(out_col,
                          F.col(item_col).isNotNull() & hit).drop(*drop)


class StoredBloom(_BucketState):
    """Incrementally-maintained per-bucket Bloom filters stored as
    bucket-partitioned parquet — the MEMBERSHIP member of the
    stored-state family next to :class:`ContinuousRollup` and
    :class:`StoredHeavyHitters`. Answers "has this id/n-gram/URL been
    seen, and roughly when?" from O(buckets × m_bits/63) longs of
    state — the 100 TB history is sketched once per refresh window and
    never rescanned.

    Same maintenance contract as its siblings: ``refresh(events)``
    recomputes only buckets >= high-water − ``lateness`` buckets and
    swaps exactly those partitions in (dynamic partition overwrite;
    pass the full source — the Column predicate prunes the scan to the
    tail). ``serve()`` returns the filter at the stored grain, any
    coarser grain, or merged globally; because bit-OR merging is EXACT
    (a bloom of a union IS the OR of the blooms), the served global
    filter is bit-identical to one built from the raw history in one
    shot — the oracle operating point, with no exactness-regime caveat
    at all. ``contains(df, col)`` probes the merged filter with the
    zero-probe-shuffle broadcast-join plan of :func:`bloom_contains`.
    """

    _kind = "bloom"
    _columns = ("word_idx", "bits")

    def __init__(self, path: str, item_col: str, ts_col: str = "ts",
                 bucket: str = "1 hour", m_bits: int = 1 << 17,
                 k_hashes: int = 3, lateness: int = 0):
        super().__init__(path, ts_col, bucket, lateness)
        self.item_col = item_col
        self.m_bits = int(m_bits)
        self.k_hashes = int(k_hashes)

    def _summarize(self, events: DataFrame) -> DataFrame:
        bucketed = events.withColumn(
            "bucket_start", F.window(self.ts_col, self.bucket)["start"])
        return bloom_build(bucketed, self.item_col, m_bits=self.m_bits,
                           k_hashes=self.k_hashes,
                           group_cols=("bucket_start",))

    def serve(self, spark, bucket: str | None = None) -> DataFrame:
        """The stored filter: global (bucket=None — one filter for the
        whole history), or per coarser-grain bucket. Finer/misaligned
        grains are refused."""
        s, by = self._at_grain(spark, bucket)
        return bloom_merge(s, group_cols=by)

    def contains(self, df: DataFrame, item_col: str,
                 out_col: str = "maybe_seen") -> DataFrame:
        """Probe the merged global filter — "was this ever seen?"."""
        merged = self.serve(df.sparkSession)
        return bloom_contains(df, merged, item_col, m_bits=self.m_bits,
                              k_hashes=self.k_hashes, out_col=out_col)


def mad_outliers(df: DataFrame, value_col: str = "value",
                 group_cols: tuple[str, ...] = ("event_type",),
                 threshold: float = 3.0,
                 only_outliers: bool = True,
                 approx_accuracy: int | None = None) -> DataFrame:
    """Robust per-group outlier detection via median absolute
    deviation: a row is flagged when
    ``abs(value - median) > threshold * MAD`` for its group, where
    ``MAD = median(abs(value - median))`` — the classic robust
    z-score family (Hampel / Iglewicz-Hoaglin), immune to the exact
    failure mode of mean/stddev gating (one extreme value inflates
    the very spread that is supposed to catch it). No reference
    counterpart (pydin has no statistics operators); engine extension
    for telemetry/quality screening on event streams.

    Output: the input columns plus ``med_value``, ``mad_value`` and
    ``robust_z`` (= ``(value - med) / mad``, signed, NULL when the
    group's MAD is 0 — a degenerate constant-majority group in which
    the robust score is undefined; such rows are never flagged, the
    caller can fall back to an exact-inequality rule there). With
    ``only_outliers=False`` every non-NULL-value row is returned with
    its scores (the screening-report shape); the default returns only
    the flagged rows. NULL ``value_col`` rows are dropped (they have
    no deviation; both engines' percentiles ignore NULLs).

    Scale shape: two aggregates on the group key and two
    broadcast-sized joins back (one row per group); the source is
    scanned THREE times (median aggregate, MAD aggregate, and the
    final scored projection — only the broadcast exchanges are
    reused; cache the input first if the scan dominates). The medians
    come in two tiers:

    - **exact tier** (default, the oracle/audit surface): exact
      interpolated medians via ``F.percentile`` — the same
      cross-engine percentile surface the q_percentiles gate pins.
      Exact percentile buffers EVERY value of a group in one
      aggregation buffer, so with few groups (a handful of event
      types over a 100 TB table) the final merge degenerates to a
      near-serial O(n log n) sort with spill — measured 17.6x wall
      at 10x data on this very operator. Audit tier only.
    - **sketch tier** (``approx_accuracy=N``, the 100 TB path):
      single-pass mergeable ``F.percentile_approx`` — fixed-size
      per-partition sketches, map-side combinable, rank error
      bounded by 1/N. MAD gating is robust to that rank error
      precisely because it only needs the bulk of the distribution,
      not the tails; ``accuracy=10000`` pins the median to the
      1e-4 rank neighborhood, far inside any sane threshold. The
      same tiering as :func:`with_quantile_estimate`'s stored KLL
      sketches, which can also serve these medians incrementally.

    Multipliers: MAD of a normal distribution is 0.6745 sigma, so
    ``threshold=3`` here is ~2 sigma; use ``threshold=4.45`` for the
    conventional 3-sigma gate (3/0.6745). The consistency constant is
    deliberately NOT baked in — it is distribution-specific and the
    gate threshold is the caller's policy knob.
    """
    gcols = list(group_cols)

    def _median(col):
        if approx_accuracy is not None:
            return F.percentile_approx(col, F.lit(0.5),
                                       F.lit(int(approx_accuracy)))
        return F.percentile(col, F.lit(0.5))

    vals = df.where(F.col(value_col).isNotNull())
    med = (vals.groupBy(*gcols)
           .agg(_median(F.col(value_col)).alias("med_value")))
    dev = vals.join(F.broadcast(med), gcols)
    mad = (dev.groupBy(*gcols)
           .agg(_median(F.abs(F.col(value_col) - F.col("med_value")))
                .alias("mad_value")))
    scored = (dev.join(F.broadcast(mad), gcols)
              .withColumn(
                  "robust_z",
                  (F.col(value_col) - F.col("med_value"))
                  / F.nullif(F.col("mad_value"), F.lit(0.0))))
    if only_outliers:
        scored = scored.where(
            F.abs(F.col("robust_z")) > F.lit(float(threshold)))
    return scored


# ---------------------------------------------------------------------------
# Count-Min sketch — the POINT-FREQUENCY member of the mergeable-sketch
# family (HLL = distinct counts, KLL = quantiles, Theta = set algebra,
# Misra-Gries = frequent items, Bloom = membership, CMS = "how many
# times was this item seen?"). Unlike Misra-Gries (which keeps only the
# top items), a CMS answers frequency queries for ANY item with a
# one-sided error: estimate >= true count, and estimate <= true count
# + eps*N with probability 1 - delta at width = e/eps, depth =
# ln(1/delta). Counter-based, so it also supports weighted increments.
# ---------------------------------------------------------------------------


def cms_build(df: DataFrame, item_col: str, width: int = 1 << 12,
              depth: int = 3, weight_col: str | None = None,
              group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Build a Count-Min sketch of ``item_col``: rows (group…, row_j,
    col_idx, cnt) — one counter per touched cell of the depth × width
    matrix, where ``col_idx = md5(item '#' j) -> 60-bit -> mod width``
    (the same deterministic hash family as :func:`bloom_build`, so an
    oracle rebuilds the identical sketch, collisions and all).
    ``weight_col`` makes increments weighted (e.g. bytes per URL
    instead of hits); default weight 1.

    Mergeable: sketches over shards/batches/groups combine by SUM per
    cell (:func:`cms_merge`) — the 100 TB shape: counters accumulate
    map-side (partial aggregation), the reduce moves at most
    depth × width longs per group (~96 KiB at the 3 × 2^12 default),
    and the finished sketch broadcasts to annotate ANY stream with
    frequency estimates at zero probe-side shuffle
    (:func:`cms_query`).

    NULL items never count (SQL equality semantics, as in the Bloom
    build); NULL probes read a NULL estimate.
    """
    ex = df.select(*group_cols,
                   F.col(item_col).cast("string").alias("__it"),
                   (F.col(weight_col).cast("long") if weight_col
                    else F.lit(1).cast("long")).alias("__w"))
    ex = ex.where(F.col("__it").isNotNull())
    ex = ex.withColumn(
        "__j", F.explode(F.array(*[F.lit(j) for j in range(depth)])))
    pos = _bloom_positions(F.col("__it"), F.col("__j"), width)
    return (ex.select(*group_cols, F.col("__j").alias("row_j"),
                      pos.alias("col_idx"), F.col("__w"))
            .groupBy(*group_cols, "row_j", "col_idx")
            .agg(F.sum("__w").alias("cnt")))


def cms_merge(sketches: DataFrame,
              group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Union Count-Min sketches built with the same (width, depth):
    counters SUM per cell. The merged sketch is bit-identical to one
    built from the concatenated input (sum is associative and the
    hash family is deterministic), so merging carries no extra error —
    the property that lets per-day / per-shard sketches roll up into
    arbitrary windows. Merging different (width, depth) is undefined —
    the caller owns that contract, as with every sketch here."""
    return (sketches.groupBy(*group_cols, "row_j", "col_idx")
            .agg(F.sum("cnt").alias("cnt")))


def cms_query(df: DataFrame, cms: DataFrame, item_col: str,
              width: int = 1 << 12, depth: int = 3,
              out_col: str = "est_count",
              group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Annotate each row of ``df`` with the sketch's frequency
    estimate for ``item_col``: min over the ``depth`` counters the
    item hashes to (missing cell = 0 — the item was definitely never
    counted there). The estimate is one-sided: >= the true count
    always, and exact whenever no heavier item collided in all rows.

    With ``group_cols``, ``cms`` holds one sketch per group and each
    probe row is tested against ITS OWN group's sketch; a probe whose
    group has no sketch reads 0.

    Scale shape: ``depth`` broadcast hash joins of the ≤
    groups × depth × width counter table onto the probe stream — NO
    shuffle of ``df``, mirroring :func:`bloom_contains`: the probe
    side stays a pure scan with codegen'd hash/min columns.

    ``cms`` is used lazily in all ``depth`` broadcast subtrees — on a
    fixture-scale build the three build stages run concurrently and
    beat an eager checkpoint (measured 2.5 s vs 3.4 s at sf0.1, 11 s
    vs 16 s at sf1). When the BUILD dominates (a 100 TB corpus feeding
    a small sketch), pass a materialized sketch instead —
    ``cms_build(...).localCheckpoint(eager=True)`` or a parquet-stored
    one — so the corpus scan runs once, not ``depth`` times.
    """
    out = df
    ests = []
    for j in range(depth):
        pos = _bloom_positions(F.col(item_col), F.lit(j), width)
        w = cms.where(F.col("row_j") == j).select(
            *[F.col(g).alias(f"__g{j}_{i}")
              for i, g in enumerate(group_cols)],
            F.col("col_idx").alias(f"__c{j}"),
            F.col("cnt").alias(f"__n{j}"))
        out = out.withColumn(f"__p{j}", pos)
        cond = F.col(f"__p{j}") == F.col(f"__c{j}")
        for i, g in enumerate(group_cols):
            cond = cond & F.col(g).eqNullSafe(F.col(f"__g{j}_{i}"))
        out = out.join(F.broadcast(w), cond, "left")
        ests.append(F.coalesce(F.col(f"__n{j}"), F.lit(0).cast("long")))
    est = ests[0] if depth == 1 else F.least(*ests)
    drop = [c for j in range(depth)
            for c in (f"__p{j}", f"__c{j}", f"__n{j}")]
    drop += [f"__g{j}_{i}" for j in range(depth)
             for i in range(len(group_cols))]
    # NULL probes get a NULL estimate (the item is not a value, so "0
    # occurrences" would over-claim; SQL equality semantics)
    return out.withColumn(
        out_col,
        F.when(F.col(item_col).isNotNull(), est)).drop(*drop)


class StoredCMS(_BucketState):
    """Incrementally-maintained per-bucket Count-Min sketches stored
    as bucket-partitioned parquet — the FREQUENCY member of the
    stored-state family (:class:`ContinuousRollup` /
    :class:`StoredHeavyHitters` / :class:`StoredBloom` siblings).
    Answers "roughly how often has this item occurred, in any time
    window?" from O(buckets × depth × width) longs of state; the raw
    history is sketched once per refresh window and never rescanned.

    Same maintenance contract as the siblings: ``refresh(events)``
    recomputes only buckets >= high-water − ``lateness`` buckets and
    swaps exactly those partitions (dynamic partition overwrite; pass
    the full source — the Column predicate prunes the scan to the
    tail). ``serve()`` merges to the stored grain, any coarser grain,
    or globally; cell-wise SUM merging is EXACT (the sketch of a
    concatenation IS the sum of the sketches), so the served sketch
    is bit-identical to a one-shot build over the whole history — no
    exactness-regime caveat, the same property StoredBloom gets from
    bit-OR. Unlike Bloom, counts make the recompute-window discipline
    LOAD-BEARING: a double-summarized bucket double-counts (bit-OR
    would shrug) — the stored gate's hash match proves the high-water
    fold is exact. ``estimate(df, col)`` probes the merged sketch
    with :func:`cms_query`'s zero-probe-shuffle broadcast plan.
    """

    _kind = "CMS"
    _columns = ("row_j", "col_idx", "cnt")

    def __init__(self, path: str, item_col: str, ts_col: str = "ts",
                 bucket: str = "1 hour", width: int = 1 << 12,
                 depth: int = 3, weight_col: str | None = None,
                 lateness: int = 0):
        super().__init__(path, ts_col, bucket, lateness)
        self.item_col = item_col
        self.width = int(width)
        self.depth = int(depth)
        self.weight_col = weight_col

    def _summarize(self, events: DataFrame) -> DataFrame:
        bucketed = events.withColumn(
            "bucket_start", F.window(self.ts_col, self.bucket)["start"])
        return cms_build(bucketed, self.item_col, width=self.width,
                         depth=self.depth, weight_col=self.weight_col,
                         group_cols=("bucket_start",))

    def serve(self, spark, bucket: str | None = None) -> DataFrame:
        """The stored sketch: global (bucket=None — one sketch for
        the whole history), or per coarser-grain bucket.
        Finer/misaligned grains are refused."""
        s, by = self._at_grain(spark, bucket)
        return cms_merge(s, group_cols=by)

    def estimate(self, df: DataFrame, item_col: str,
                 out_col: str = "est_count") -> DataFrame:
        """Probe the merged global sketch — "how often, ever?"."""
        merged = self.serve(df.sparkSession)
        return cms_query(df, merged, item_col, width=self.width,
                         depth=self.depth, out_col=out_col)


def group_median(df: DataFrame, value_col: str,
                 group_cols: list) -> DataFrame:
    """EXACT per-group median — the value-exact complement to the KLL
    sketch tier (:func:`with_quantile_estimate` serves approximate
    percentiles from rollup state; profiling and QA gates sometimes
    need the exact number, e.g. per-source median document length in
    a corpus report).

    Dual-rank rule, no driver collect, no single-task sort: rank
    WITHIN each group by value (ties are resolved arbitrarily by the
    window, but the value AT a sorted position is tie-invariant, so
    the output is deterministic), pick positions ``(n+1) div 2`` and
    ``(n+2) div 2`` (equal when n is odd), and average the selected
    values — a sum of at most TWO doubles (IEEE addition is
    commutative, so even the two-row sum is order-exact) and ONE
    division. NULL values drop (they carry no position).

    Scale shape: one per-group window (distributed across groups) +
    one group aggregate — never a global sort. Skew note: a single
    mega-group serializes its own window partition; at that shape use
    the sketch tier. Output: (*group_cols, n BIGINT, median DOUBLE).
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use the "
                         "sketch tier or an exact global rank for "
                         "ungrouped medians)")
    from pyspark.sql import Window
    base = df.where(F.col(value_col).isNotNull())
    w = Window.partitionBy(*group_cols).orderBy(value_col)
    wn = Window.partitionBy(*group_cols)
    ranked = (base.select(*group_cols, value_col)
              .withColumn("__rn", F.row_number().over(w))
              .withColumn("__n", F.count(F.lit(1)).over(wn)))
    mid = ranked.where(
        (F.col("__rn") == F.expr("(__n + 1) div 2"))
        | (F.col("__rn") == F.expr("(__n + 2) div 2")))
    return (mid.groupBy(*group_cols)
            .agg(F.max("__n").alias("n"),
                 F.try_divide(F.sum(F.col(value_col).cast("double")),
                              F.count(F.lit(1))).alias("median")))
