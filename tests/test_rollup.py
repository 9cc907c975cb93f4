"""Continuous rollup: incremental refresh must equal full recompute."""

import pytest
from pyspark.sql import functions as F

from pydin_spark import load_table
from pydin_spark.operators.rollup import (ContinuousRollup, StoredBloom,
                                          StoredCMS, StoredHeavyHitters,
                                          rollup_aggregate)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _canon(df):
    return sorted(map(str, (tuple(r) for r in df.collect())))


def test_incremental_refresh_equals_full_recompute(spark, events,
                                                   tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rollup") / "hourly")
    # time-prefix split (see the stored-HH test: an id split leans on
    # the fixture's id/ts correlation, which the sf1 replica breaks)
    cut = events.selectExpr(
        "percentile(unix_timestamp(ts), 0.5) AS c").first()["c"]
    first_half = events.where(F.unix_timestamp("ts") <= cut)

    r = ContinuousRollup(path, bucket="1 hour")
    r.refresh(first_half)           # initial build from the first half
    out = r.refresh(events)         # fold in the rest

    full = rollup_aggregate(events, bucket="1 hour")
    assert _canon(out) == _canon(full)


def test_refresh_is_idempotent(spark, events, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rollup") / "hourly")
    r = ContinuousRollup(path, bucket="1 hour")
    a = _canon(r.refresh(events))
    b = _canon(r.refresh(events))
    assert a == b


def test_lateness_window_recomputes_older_buckets(spark,
                                                  tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rollup") / "hourly")
    base = spark.createDataFrame(
        [(1, "2024-01-01 10:15:00", "click", 1.0),
         (2, "2024-01-01 11:20:00", "click", 2.0)],
        "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = ContinuousRollup(path, bucket="1 hour", lateness=1)
    r.refresh(base)

    # a late event for the 10:00 bucket (one bucket behind the
    # high-water mark) must be picked up because lateness=1
    late = base.union(spark.createDataFrame(
        [(3, "2024-01-01 10:45:00", "click", 4.0)],
        "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp")))
    out = {str(row["bucket_start"]): (row["n_events"], row["total_value"])
           for row in r.refresh(late).collect()}
    assert out["2024-01-01 10:00:00"] == (2, 5.0)
    assert out["2024-01-01 11:00:00"] == (1, 2.0)

    # with lateness=0 the closed 10:00 bucket would have been immutable
    path2 = str(tmp_path_factory.mktemp("rollup") / "strict")
    r2 = ContinuousRollup(path2, bucket="1 hour", lateness=0)
    r2.refresh(base)
    out2 = {str(row["bucket_start"]): row["n_events"]
            for row in r2.refresh(late).collect()}
    assert out2["2024-01-01 10:00:00"] == 1


def test_hll_rollup_merges_exactly(spark, events, tmp_path_factory):
    """Union of hourly sketches re-bucketed daily must equal the sketch
    built from raw events daily — register-wise max is order-free, so
    the estimates are identical, not just close. At fixture cardinality
    the sketch is in its sparse (exact) regime, so the estimate also
    equals true COUNT(DISTINCT)."""
    from pydin_spark.operators.rollup import (coarsen, rollup_aggregate,
                                              with_distinct_estimate)
    hourly = rollup_aggregate(events, bucket="1 hour",
                              distinct_col="user_id")
    daily_from_hourly = with_distinct_estimate(
        coarsen(hourly, "1 day"))
    daily_raw = with_distinct_estimate(
        rollup_aggregate(events, bucket="1 day",
                         distinct_col="user_id"))
    a = {(str(r["bucket_start"]), r["event_type"]): r["approx_distinct"]
         for r in daily_from_hourly.collect()}
    b = {(str(r["bucket_start"]), r["event_type"]): r["approx_distinct"]
         for r in daily_raw.collect()}
    assert a == b
    exact = {(str(r["d"]), r["event_type"]): r["n"]
             for r in events.selectExpr("date_trunc('DAY', ts) AS d",
                                        "event_type", "user_id")
             .groupBy("d", "event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert a == exact


def test_continuous_rollup_with_sketch_roundtrip(spark, events,
                                                 tmp_path_factory):
    from pydin_spark.operators.rollup import (ContinuousRollup,
                                              rollup_aggregate,
                                              with_distinct_estimate)
    path = str(tmp_path_factory.mktemp("rollup") / "hourly_hll")
    r = ContinuousRollup(path, bucket="1 hour", distinct_col="user_id")
    cut = events.selectExpr(
        "percentile(unix_timestamp(ts), 0.5) AS c").first()["c"]
    r.refresh(events.where(F.unix_timestamp("ts") <= cut))
    out = with_distinct_estimate(r.refresh(events))
    full = with_distinct_estimate(
        rollup_aggregate(events, bucket="1 hour",
                         distinct_col="user_id"))
    key = lambda rows: sorted(
        (str(r["bucket_start"]), r["event_type"], r["n_events"],
         r["approx_distinct"]) for r in rows)
    assert key(out.collect()) == key(full.collect())


def test_kll_quantile_rollup_merges(spark):
    """Daily median served from hourly KLL sketches: in the sketch's
    exact regime (bucket item counts < k=200) the merged estimate
    equals a discrete median of the raw values."""
    from pydin_spark.operators.rollup import (coarsen, rollup_aggregate,
                                              with_quantile_estimate)
    rows = [(i, "2024-01-01 %02d:%d0:00" % (i % 24, i % 6), "click",
             float(i % 97)) for i in range(1000)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    hourly = rollup_aggregate(ev, bucket="1 hour",
                              quantile_col="value")
    daily = with_quantile_estimate(coarsen(hourly, "1 day"), q=0.5)
    got = daily.first()["approx_quantile"]
    vals = sorted(r["value"] for r in ev.collect())
    # discrete quantile: the estimate must be an actual observed value
    # within one rank position of the true median
    lo, hi = vals[len(vals) // 2 - 2], vals[len(vals) // 2 + 2]
    assert lo <= got <= hi


def test_kll_exact_regime_inclusive_rank(spark):
    """With kll_k above the bucket count the sketch is EXACT: the
    quantile is the item at 1-based rank ceil(q*n) (DataSketches
    inclusive convention) — the contract the rollup_quantile oracle
    recomputes in SQL."""
    import math

    from pydin_spark.operators.rollup import (coarsen, rollup_aggregate,
                                              with_quantile_estimate)
    vals = [float(v) for v in (5, 1, 9, 3, 7, 2, 11)]
    rows = [(i, "2024-01-01 %02d:00:00" % (i % 3), "click", v)
            for i, v in enumerate(vals)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    hourly = rollup_aggregate(ev, bucket="1 hour", quantile_col="value",
                              kll_k=2048)
    for q in (0.25, 0.5, 0.75, 0.9):
        daily = with_quantile_estimate(coarsen(hourly, "1 day"), q=q)
        got = daily.first()["approx_quantile"]
        want = sorted(vals)[math.ceil(q * len(vals)) - 1]
        assert got == want, (q, got, want)


def test_theta_overlap_exact_algebra(spark):
    """Theta union/intersection/difference between slices equals the
    true distinct set algebra in the exact regime."""
    from pydin_spark.operators.rollup import theta_overlap
    rows = ([("a", u) for u in range(100)]
            + [("b", u) for u in range(50, 150)]
            + [("c", u) for u in range(200, 210)])
    df = spark.createDataFrame(rows, "src string, user_id long")
    out = {(r["slice_a"], r["slice_b"]):
           (r["n_a"], r["n_b"], r["n_union"], r["n_intersection"],
            r["n_only_a"]) for r in
           theta_overlap(df, "src", "user_id").collect()}
    assert out[("a", "b")] == (100, 100, 150, 50, 50)
    assert out[("a", "c")] == (100, 10, 110, 0, 100)
    assert out[("b", "c")] == (100, 10, 110, 0, 100)


def test_theta_sketches_reusable_pre_aggregate(spark):
    """The stored per-slice sketches answer overlap queries without
    the raw table (the mergeable pre-aggregate contract)."""
    from pydin_spark.operators.rollup import (theta_overlap,
                                              theta_slice_sketches)
    rows = [("a", u) for u in range(40)] + [("b", u) for u in range(20, 60)]
    df = spark.createDataFrame(rows, "src string, user_id long")
    stored = theta_slice_sketches(df, "src", "user_id")
    empty = df.limit(0)
    out = theta_overlap(empty, "src", "user_id", sketches=stored).first()
    assert (out["n_union"], out["n_intersection"]) == (60, 20)


def test_heavy_hitters_exact_regime(spark, views):
    from pydin_spark.operators.rollup import heavy_hitters
    ev = spark.table("events")
    got = heavy_hitters(ev, "user_id", k=10, capacity=4096).collect()
    true = {str(r.user_id): r.cnt for r in
            ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
            .collect()}
    want = sorted(true.items(), key=lambda t: (-t[1], t[0]))[:10]
    assert [(r.item, r.est_count) for r in
            sorted(got, key=lambda r: r.rank)] == want
    assert all(r.err_ub == 0 for r in got)


def test_heavy_hitters_pruned_bounds(spark, views):
    """Under pruning (capacity << distinct) the Misra-Gries contract
    must hold: est <= true <= est + err_ub for every reported item."""
    from pydin_spark.operators.rollup import heavy_hitters
    ev = spark.table("events")
    got = heavy_hitters(ev, "user_id", k=20, capacity=8).collect()
    true = {str(r.user_id): r.cnt for r in
            ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
            .collect()}
    assert got, "pruned sketch returned nothing"
    for r in got:
        t = true.get(r.item, 0)
        assert r.est_count <= t <= r.est_count + r.err_ub, \
            (r.item, r.est_count, t, r.err_ub)


def test_heavy_hitters_grouped_exact(spark, views):
    from pydin_spark.operators.rollup import heavy_hitters
    ev = spark.table("events")
    got = heavy_hitters(ev, "user_id", k=5, capacity=4096,
                        group_cols=("event_type",)).collect()
    true = {}
    for r in ev.groupBy("event_type", "user_id") \
               .agg(F.count(F.lit(1)).alias("c")).collect():
        true.setdefault(r.event_type, {})[str(r.user_id)] = r.c
    for et, counts in true.items():
        want = sorted(counts.items(), key=lambda t: (-t[1], t[0]))[:5]
        rows = sorted((r for r in got if r.event_type == et),
                      key=lambda r: r.rank)
        assert [(r.item, r.est_count) for r in rows] == want
        assert all(r.err_ub == 0 for r in rows)


def test_heavy_hitters_grouped_pruned_bounds(spark, views):
    from pydin_spark.operators.rollup import heavy_hitters
    ev = spark.table("events")
    got = heavy_hitters(ev, "user_id", k=10, capacity=8,
                        group_cols=("event_type",)).collect()
    true = {}
    for r in ev.groupBy("event_type", "user_id") \
               .agg(F.count(F.lit(1)).alias("c")).collect():
        true.setdefault(r.event_type, {})[str(r.user_id)] = r.c
    assert got
    for r in got:
        t = true.get(r.event_type, {}).get(r.item, 0)
        assert r.est_count <= t <= r.est_count + r.err_ub


def test_hh_summaries_serve_and_coarsen(spark, views):
    """Stored-summary path: hh_topk(summaries) == heavy_hitters
    directly, and hourly summaries coarsened to one day equal the
    summaries built from the day's raw events (exact regime — errors
    are zero, merge is plain addition)."""
    from pydin_spark.operators.rollup import (coarsen_hh,
                                              heavy_hitter_summaries,
                                              heavy_hitters, hh_topk)
    ev = spark.table("events").withColumn(
        "bucket_start", F.date_trunc("hour", F.col("ts")))
    canon = lambda df: sorted(map(tuple, (tuple(r) for r in df.collect())))
    # serve parity (grouped)
    direct = heavy_hitters(ev, "user_id", k=7, capacity=4096,
                           group_cols=("event_type",))
    served = hh_topk(heavy_hitter_summaries(ev, "user_id", 4096,
                                            ("event_type",)),
                     k=7, group_cols=("event_type",))
    assert canon(direct) == canon(served)
    # coarsen parity: hourly summaries -> daily == daily summaries
    hourly = heavy_hitter_summaries(ev, "user_id", 4096,
                                    ("bucket_start", "event_type"))
    daily_from_hourly = coarsen_hh(
        hourly, {"day": F.date_trunc("day", F.col("bucket_start"))},
        keep_cols=("event_type",))
    daily_direct = heavy_hitter_summaries(
        ev.withColumn("day", F.date_trunc("day", F.col("ts"))),
        "user_id", 4096, ("day", "event_type"))
    assert canon(daily_from_hourly) == canon(daily_direct)
    # ... and serving from the merged state matches serving from raw
    top_merged = hh_topk(daily_from_hourly, k=5,
                         group_cols=("day", "event_type"))
    top_raw = heavy_hitters(
        ev.withColumn("day", F.date_trunc("day", F.col("ts"))),
        "user_id", k=5, capacity=4096, group_cols=("day", "event_type"))
    assert canon(top_merged) == canon(top_raw)


def test_heavy_hitters_null_group_kept(spark):
    """A NULL group key is a legitimate group: it must appear in the
    grouped output (null-safe err join), not silently vanish."""
    from pydin_spark.operators.rollup import heavy_hitters
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"),
         (None, "x"), (None, "x"), (None, "z")],
        "grp string, item string")
    got = heavy_hitters(df, "item", k=5, capacity=16,
                        group_cols=("grp",)).collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r.grp, {})[r.item] = r.est_count
    assert by_grp["a"] == {"x": 2, "y": 1}
    assert by_grp[None] == {"x": 2, "z": 1}
    assert all(r.err_ub == 0 for r in got)


def test_stored_hh_incremental_equals_full(spark, events,
                                           tmp_path_factory):
    """StoredHeavyHitters refresh folds new events into the stored
    per-bucket summaries; an incremental build must equal a one-shot
    full build (exact regime: summaries are exact counts, so equality
    is structural, not just top-k)."""
    from pydin_spark.operators.rollup import StoredHeavyHitters
    base = tmp_path_factory.mktemp("hh_state")
    # a TIME prefix, not an id prefix: the refresh contract requires
    # the first build to cover whole leading buckets
    cut = events.selectExpr(
        "percentile(unix_timestamp(ts), 0.5) AS c").first()["c"]
    inc = StoredHeavyHitters(str(base / "inc"), "user_id",
                             bucket="1 hour",
                             group_cols=("event_type",))
    inc.refresh(events.where(F.unix_timestamp("ts") <= cut))
    out = inc.refresh(events)
    full = StoredHeavyHitters(str(base / "full"), "user_id",
                              bucket="1 hour",
                              group_cols=("event_type",))
    ref = full.refresh(events)
    canon = lambda df: sorted(map(str, (tuple(r) for r in df.collect())))
    assert canon(out) == canon(ref)


def test_stored_hh_serve_matches_direct(spark, events,
                                        tmp_path_factory):
    """Serving from stored state (global merge and a coarser daily
    grain) matches computing heavy_hitters straight from the raw
    events — the serve layer never needs the history."""
    from pydin_spark.operators.rollup import (StoredHeavyHitters,
                                              heavy_hitters)
    path = str(tmp_path_factory.mktemp("hh_state") / "hourly")
    st = StoredHeavyHitters(path, "user_id", bucket="1 hour",
                            group_cols=("event_type",))
    st.refresh(events)
    canon = lambda df: sorted(map(str, (tuple(r) for r in df.collect())))
    served = st.serve(spark, k=7)
    direct = heavy_hitters(events, "user_id", k=7, capacity=4096,
                           group_cols=("event_type",))
    assert canon(served) == canon(direct)
    served_daily = st.serve(spark, k=5, bucket="1 day")
    direct_daily = heavy_hitters(
        events.withColumn("bucket_start",
                          F.window("ts", "1 day")["start"]),
        "user_id", k=5, capacity=4096,
        group_cols=("bucket_start", "event_type"))
    assert canon(served_daily) == canon(direct_daily)


def test_stored_hh_lateness_window(spark, tmp_path_factory):
    """A late item one bucket behind the high-water mark is folded in
    when lateness covers it; the immutable older bucket is untouched."""
    from pydin_spark.operators.rollup import StoredHeavyHitters
    path = str(tmp_path_factory.mktemp("hh_state") / "hourly")
    mk = lambda rows: spark.createDataFrame(
        rows, "event_id long, ts string, user_id string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    base = mk([(1, "2024-01-01 10:15:00", "u1"),
               (2, "2024-01-01 11:20:00", "u2")])
    st = StoredHeavyHitters(path, "user_id", bucket="1 hour",
                            lateness=1)
    st.refresh(base)
    late = base.union(mk([(3, "2024-01-01 10:45:00", "u1")]))
    out = {(str(r.bucket_start), r.item): r.est
           for r in st.refresh(late).collect()
           if not r.item.startswith("\x00")}
    assert out[("2024-01-01 10:00:00", "u1")] == 2
    assert out[("2024-01-01 11:00:00", "u2")] == 1


@pytest.mark.parametrize("family", [StoredHeavyHitters, StoredBloom,
                                    StoredCMS], ids=lambda c: c.__name__)
def test_stored_serve_refuses_finer_grain(spark, events, family,
                                          tmp_path_factory):
    """Serving at a finer or misaligned grain than the stored bucket
    would silently misattribute state — it must raise instead."""
    path = str(tmp_path_factory.mktemp("stored") / "daily")
    st = family(path, "user_id", bucket="1 day")
    st.refresh(events)
    with pytest.raises(ValueError, match="whole multiple"):
        st.serve(spark, bucket="1 hour")
    with pytest.raises(ValueError, match="whole multiple"):
        st.serve(spark, bucket="90 minutes")
    # an aligned coarser grain still serves
    assert st.serve(spark, bucket="2 days").count() > 0


@pytest.mark.parametrize("family", [ContinuousRollup, StoredHeavyHitters,
                                    StoredBloom, StoredCMS],
                         ids=lambda c: c.__name__)
def test_stored_empty_first_build(spark, family, tmp_path):
    """An empty source stores nothing: refresh returns a typed empty
    frame shaped like the state, read refuses actionably, and the next
    non-empty refresh is the first build."""
    mk = lambda rows: spark.createDataFrame(
        rows, "ts string, user_id string, event_type string, "
              "value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    kw = {} if family is ContinuousRollup else {"item_col": "user_id"}
    st = family(str(tmp_path / "state"), bucket="1 hour", **kw)
    empty = st.refresh(mk([]))
    assert empty.count() == 0
    with pytest.raises(ValueError, match="refresh"):
        st.read(spark)
    built = st.refresh(mk([("2024-01-01 10:15:00", "u1", "click", 1.0)]))
    assert built.count() > 0
    assert empty.schema.names == built.schema.names
