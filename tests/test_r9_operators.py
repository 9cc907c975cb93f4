"""Round-9 additions (VERDICT r6 items): kcore convergence contract
(no silent superset), the skipif-gated real-PIL codec smoke, and the
committed zlib oracle fixture's integrity."""

import importlib.util

import duckdb
import pytest
from pyspark.sql import functions as F

from pydin_spark.operators import multimodal
from pydin_spark.operators.graph import kcore, kcore_oracle_sql


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _values_cte(pairs):
    vals = ", ".join(f"({a}, {b})" for a, b in pairs)
    return f"edges(src, dst) AS (SELECT * FROM (VALUES {vals}))"


# ---- kcore convergence contract (VERDICT r6 item 4) ----

#: a 17-node path: under k=2 each round peels one node from EACH end,
#: so the 2-core (empty) needs 8 rounds — 3 rounds leave a mid-path
#: superset whose endpoints still have degree 1 < k
PATH = [(i, i + 1) for i in range(1, 17)]


def test_kcore_flags_nonconverged_superset(spark):
    out = kcore(_edges(spark, PATH), k=2, rounds=3)
    rows = out.collect()
    assert rows, "3 rounds must leave a mid-path superset"
    assert all(r["converged"] is False for r in rows)
    # enough rounds: the path's true 2-core is empty, and emptiness
    # is trivially converged (nothing left below k)
    done = kcore(_edges(spark, PATH), k=2, rounds=9)
    assert done.count() == 0


def test_kcore_converged_true_on_fixed_point(spark):
    # a 4-cycle IS its own 2-core: round 1 removes nobody → converged
    cyc = [(1, 2), (2, 3), (3, 4), (4, 1)]
    rows = kcore(_edges(spark, cyc), k=2, rounds=1).collect()
    assert len(rows) == 4
    assert all(r["converged"] is True for r in rows)


def test_kcore_raise_mode(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(_edges(spark, PATH), k=2, rounds=3, check="raise")
    # converged run returns normally under raise mode, sans column
    cyc = [(1, 2), (2, 3), (3, 4), (4, 1)]
    out = kcore(_edges(spark, cyc), k=2, rounds=2, check="raise")
    assert out.columns == ["node", "core_deg"]
    assert out.count() == 4


def test_kcore_check_none_keeps_pure_fixed_round_contract(spark):
    out = kcore(_edges(spark, PATH), k=2, rounds=3, check=None)
    assert out.columns == ["node", "core_deg"]
    with pytest.raises(ValueError, match="check"):
        kcore(_edges(spark, PATH), k=2, check="maybe")


def test_kcore_oracle_mirrors_converged_flag(spark):
    # the unrolled-CTE oracle computes the SAME fixed-point predicate,
    # so the flag is oracle-verified in both states
    for rounds in (3, 9):
        got = sorted(tuple(r) for r in
                     kcore(_edges(spark, PATH), k=2,
                           rounds=rounds).collect())
        sql = kcore_oracle_sql(_values_cte(PATH), k=2, rounds=rounds)
        want = sorted(tuple(r) for r in
                      duckdb.connect().execute(sql).fetchall())
        assert got == want


# ---- real-codec smoke (VERDICT r6 item 7): skips until PIL lands ----

HAS_PIL = importlib.util.find_spec("PIL") is not None


@pytest.mark.skipif(not HAS_PIL, reason="PIL not in this container; "
                    "test self-activates the day the environment "
                    "grows a real codec")
def test_extract_features_real_pil_decoder(spark):
    """fake=False with NO injected decoder drives the PIL fallback in
    the Arrow workers end-to-end: real PNG bytes in, per-chunk
    grayscale means out, byte-exact vs a driver-side PIL decode."""
    import io

    import numpy as np
    from PIL import Image

    def png_bytes(seed, h=6, w=8):
        arr = (np.arange(h * w, dtype=np.uint32) * (seed + 7) % 251
               ).astype(np.uint8).reshape(h, w)
        buf = io.BytesIO()
        Image.fromarray(arr, mode="L").save(buf, format="PNG")
        return arr, buf.getvalue()

    pixels, payloads = {}, []
    for aid in range(1, 5):
        arr, png = png_bytes(aid)
        pixels[aid] = arr
        payloads.append((aid, "image", bytearray(png)))
    assets = spark.createDataFrame(
        payloads, "asset_id long, kind string, payload binary"
    ).withColumn("meta", F.struct(
        F.lit("image/png").alias("mime"),
        F.lit(8).alias("width"), F.lit(6).alias("height"),
        F.lit(None).cast("long").alias("duration_ms")))

    feats = {r["asset_id"]: r["feature"] for r in
             multimodal.extract_features(assets, dim=4,
                                         fake=False).collect()}
    assert len(feats) == 4
    for aid, arr in pixels.items():
        px = arr.ravel().astype(np.float64)
        expected = [float(c.mean()) for c in np.array_split(px, 4)]
        assert feats[aid] == expected

    resized = multimodal.resize_images(assets, width=4, height=4,
                                       fake=False).collect()
    assert all(len(bytes(r["payload"])) == 16 for r in resized)


# ---- zlib oracle fixture integrity (VERDICT r6 item 3) ----

def test_zlib_fixture_covers_gate_tiers(sf_dir):
    """The committed fixture must cover EVERY document text at the
    gate tiers and carry the exact stdlib-zlib level-6 lengths (the
    same call the operator makes per Arrow batch)."""
    import hashlib
    import os
    import zlib

    import pyarrow.parquet as pq

    fixture = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fixtures", "zlib_l6_ratio.parquet")
    fx = {r["text_md5"]: (r["n_bytes"], r["n_compressed"])
          for r in pq.read_table(fixture).to_pylist()}
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["text"]).column("text").to_pylist()
    for text in docs:
        s = text or ""
        key = hashlib.md5(s.encode("utf-8")).hexdigest()
        assert key in fx, "fixture stale: rerun tools/make_zlib_fixture.py"
        raw = s.encode("utf-8")
        want = (0, 0) if s == "" else (len(raw),
                                       len(zlib.compress(raw, 6)))
        assert fx[key] == want


# ---- StoredBuckets staging family (VERDICT r6 item 1) ----

@pytest.fixture(params=["plain", "file_uri"])
def sb_root(tmp_path, request):
    """Both path styles: the file:// leg proves maintain()'s
    rename/delete/list run through the Hadoop FS helper, not os.*"""
    p = str(tmp_path / "buckets")
    return f"file://{p}" if request.param == "file_uri" else p


def _local(p):
    return p[len("file://"):] if p.startswith("file://") else p


def _frame(spark, n=100, mul=1):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * mul).alias("v"))


def test_stored_buckets_stage_attach_roundtrip(spark, sb_root):
    from pydin_spark.operators.buckets import StoredBuckets
    sb = StoredBuckets(sb_root, "k", buckets=4)
    assert sb.stage(_frame(spark)) == 0
    got = sb.attach(spark, "sb_rt")
    assert got.count() == 100
    assert {tuple(r) for r in got.collect()} == {(i, i)
                                                 for i in range(100)}
    # restage: version bumps, attach serves the NEW snapshot
    assert sb.stage(_frame(spark, n=50, mul=3)) == 1
    assert sb.attach(spark, "sb_rt").count() == 50
    spark.sql("DROP TABLE IF EXISTS sb_rt")


def test_stored_buckets_bucketed_join_no_exchange(spark, sb_root):
    from pydin_spark.operators.buckets import StoredBuckets
    from tests.test_plans import plan_of
    a = StoredBuckets(f"{sb_root}/a", "k", buckets=4)
    b = StoredBuckets(f"{sb_root}/b", "k", buckets=4)
    a.stage(_frame(spark))
    b.stage(_frame(spark, mul=2))
    left = a.attach(spark, "sb_ja")
    right = b.attach(spark, "sb_jb")
    # co-bucketed equi-join: zero Exchange anywhere in the plan
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = left.join(right.withColumnRenamed("v", "w"), "k")
        plan = plan_of(joined)
        assert " Exchange" not in plan, plan
        assert plan.count("Bucketed: true") == 2, plan
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    for t in ("sb_ja", "sb_jb"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stored_buckets_crashed_writer_stays_invisible(spark, sb_root):
    """The family discipline: data files land BEFORE the commit row,
    so a writer that dies mid-stage leaves files attach() never
    serves."""
    import os
    from pydin_spark.operators.buckets import StoredBuckets
    sb = StoredBuckets(sb_root, "k", buckets=4)
    sb.stage(_frame(spark, n=10))
    # simulate a crashed second stage: bucketed files, NO commit row
    loc = f"{sb_root}/data_99_deadbeef"
    (_frame(spark, n=77).write.format("parquet")
     .bucketBy(4, "k").option("path", loc)
     .saveAsTable("sb_crash_tmp"))
    spark.sql("DROP TABLE IF EXISTS sb_crash_tmp")
    assert sb.attach(spark, "sb_cr").count() == 10  # not 77
    # maintain sweeps the orphan
    res = sb.maintain(spark)
    assert res["deleted"] == 1
    assert not os.path.exists(_local(loc))
    assert sb.attach(spark, "sb_cr").count() == 10
    spark.sql("DROP TABLE IF EXISTS sb_cr")


def test_stored_buckets_maintain_collapses_versions(spark, sb_root):
    import os
    from pydin_spark.operators.buckets import StoredBuckets
    sb = StoredBuckets(sb_root, "k", buckets=2)
    for n in (10, 20, 30):
        sb.stage(_frame(spark, n=n))
    assert sb.maintain(spark) == {"kept": 1, "deleted": 2}
    data_dirs = [d for d in os.listdir(_local(sb_root))
                 if d.startswith("data_")]
    assert len(data_dirs) == 1
    assert sb.attach(spark, "sb_mc").count() == 30
    # post-collapse staging keeps working (the explicit commit schema
    # survives the log rewrite — regression for the int64 widening)
    assert sb.stage(_frame(spark, n=5)) == 3
    assert sb.attach(spark, "sb_mc").count() == 5
    spark.sql("DROP TABLE IF EXISTS sb_mc")


def test_stored_buckets_validation(spark, sb_root):
    from pydin_spark.operators.buckets import StoredBuckets
    with pytest.raises(ValueError, match="buckets"):
        StoredBuckets(sb_root, "k", buckets=0)
    sb = StoredBuckets(sb_root, "missing")
    with pytest.raises(ValueError, match="key column"):
        sb.stage(_frame(spark))
    with pytest.raises(ValueError, match="stage"):
        sb.attach(spark, "sb_nope")
    with pytest.raises(ValueError, match="overwrite"):
        StoredBuckets(sb_root, "k").stage(_frame(spark), mode="append")
    assert sb.maintain(spark) == {"kept": 0, "deleted": 0}


# ---- q5-shape AQE skew evidence (VERDICT r6 item 6) ----

def test_q5_shape_aqe_splits_hot_supplier(spark, views):
    """The q5 snowflake's scale risk is a mega-supplier owning a
    chunk of lineitem (one tenant/bot dominating a fact table): with
    broadcast disabled (forcing the shuffled join skew handling
    applies to), AQE must mark the l_suppkey join skew-handled, and
    the split must not change the result. Both must hold at any
    shuffle width, i.e. whatever ``SPARK_GRAFT_CPUS`` sizes
    ``initialPartitionNum`` to. Complements the bucketed q5 path
    (StoredBuckets), which removes the orderkey shuffle entirely —
    SCALE rows 2.65x bucketed vs 4.22x plain at 10x."""
    # inflate the KB-sized sf0.001 fact 32x (the skew handler works
    # on byte sizes; a 6k-row fixture sits under any sane threshold),
    # then hand ~20% of all rows to supplier 1
    li = (spark.range(32).withColumnRenamed("id", "rep")
          .crossJoin(spark.table("lineitem").select(
              "l_orderkey", "l_linenumber", "l_suppkey",
              "l_extendedprice"))
          .withColumn(
              "l_suppkey",
              F.when(F.pmod(F.xxhash64("rep", "l_orderkey",
                                       "l_linenumber"),
                            F.lit(5)) == 0, F.lit(1))
              .otherwise(F.col("l_suppkey"))))
    orders = spark.table("orders")
    supp = spark.table("supplier")
    nation = spark.table("nation")
    shape = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .join(supp, li.l_suppkey == supp.s_suppkey)
             .join(nation, supp.s_nationkey == nation.n_nationkey)
             .select("l_orderkey", "l_suppkey", "n_name",
                     "l_extendedprice"))
    keys = ["spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin."
            "skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize"]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "-1")
        spark.conf.set(keys[1], "false")
        baseline = shape.count()
        spark.conf.set(keys[1], "true")
        # KB-sized fixture: scale the byte sizes down so the same
        # RELATIVE skew (hot partition >> median) triggers the split
        # a 256 MB threshold triggers at warehouse scale. That
        # includes the coalesce floor, by the advisory size's factor
        # (64 MB -> 4 KB, so 1 MB -> 64 B): left at 1 MB it folds
        # the upstream orderkey join into one task, so the hot
        # l_suppkey partition is a single map block, which AQE cannot
        # split (it splits only at map-block boundaries). The split
        # must not depend on SPARK_GRAFT_CPUS.
        spark.conf.set(keys[2], "4KB")
        spark.conf.set(keys[3], "4KB")
        spark.conf.set(keys[4], "2")
        spark.conf.set(keys[5], "64b")
        rows = shape.collect()
        assert len(rows) == baseline
        plan = shape._jdf.queryExecution().executedPlan().toString()
        # the l_suppkey join itself, not just any join, is split
        assert any("SortMergeJoin(skew=true) [l_suppkey" in line
                   for line in plan.splitlines()), plan[:4000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# ---- Count-Min sketch family (wired this round: the cms_* trio
# landed unreferenced in a prior snapshot — these are its first tests;
# gate queries rollup_cms / rollup_cms_query verify the md5 cell
# layout against DuckDB cell-for-cell) ----

from pydin_spark.operators import rollup as rollup_ops  # noqa: E402


def _items(spark, rows):
    return spark.createDataFrame(rows, "item string, grp string")


CMS_ROWS = ([("apple", "a")] * 5 + [("pear", "a")] * 3
            + [("plum", "b")] * 2 + [("quince", "b")] * 1)


def test_cms_exact_when_wide_one_sided_when_narrow(spark):
    df = _items(spark, CMS_ROWS)
    true = {"apple": 5, "pear": 3, "plum": 2, "quince": 1}
    probes = _items(spark, [(k, None) for k in true])
    wide = rollup_ops.cms_build(df, "item", width=1 << 14, depth=3)
    got = {r["item"]: r["est_count"]
           for r in rollup_ops.cms_query(probes, wide, "item",
                                         width=1 << 14, depth=3)
           .collect()}
    assert got == true, "4 items in 16K columns: no collision possible"
    # width 2 forces collisions: estimates stay one-sided (>= true)
    # and at least one must over-count (4 items into 2 columns)
    narrow = rollup_ops.cms_build(df, "item", width=2, depth=3)
    est = {r["item"]: r["est_count"]
           for r in rollup_ops.cms_query(probes, narrow, "item",
                                         width=2, depth=3).collect()}
    assert all(est[k] >= true[k] for k in true)
    assert any(est[k] > true[k] for k in true)
    # an item never counted reads 0 (some row has a missing cell only
    # if nothing hashed there — with width 2 every cell is occupied,
    # so the estimate is a pure-collision over-count, still >= 0)
    ghost = rollup_ops.cms_query(
        _items(spark, [("zz-never-seen", None)]), wide, "item",
        width=1 << 14, depth=3).first()
    assert ghost["est_count"] == 0


def test_cms_merge_equals_one_shot(spark):
    df = _items(spark, CMS_ROWS)
    half1 = df.where("grp = 'a'")
    half2 = df.where("grp = 'b'")
    a = rollup_ops.cms_build(half1, "item", width=64, depth=3)
    b = rollup_ops.cms_build(half2, "item", width=64, depth=3)
    merged = rollup_ops.cms_merge(a.unionByName(b))
    full = rollup_ops.cms_build(df, "item", width=64, depth=3)
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, full.collect())))


def test_cms_weighted_increments(spark):
    rows = [("u1", 10), ("u1", 5), ("u2", 7)]
    df = spark.createDataFrame(rows, "url string, nbytes long")
    sk = rollup_ops.cms_build(df, "url", width=1 << 12, depth=3,
                              weight_col="nbytes")
    probes = spark.createDataFrame([("u1",), ("u2",)], "url string")
    est = {r["url"]: r["est_count"]
           for r in rollup_ops.cms_query(probes, sk, "url",
                                         width=1 << 12, depth=3)
           .collect()}
    assert est == {"u1": 15, "u2": 7}


def test_cms_grouped_probes_own_group(spark):
    df = _items(spark, CMS_ROWS)
    sk = rollup_ops.cms_build(df, "item", width=1 << 12, depth=3,
                              group_cols=("grp",))
    # apple counted only under grp 'a': probing it under 'b' reads 0
    probes = _items(spark, [("apple", "a"), ("apple", "b"),
                            ("plum", "b"), ("plum", "zz")])
    est = {(r["item"], r["grp"]): r["est_count"]
           for r in rollup_ops.cms_query(probes, sk, "item",
                                         width=1 << 12, depth=3,
                                         group_cols=("grp",)).collect()}
    assert est == {("apple", "a"): 5, ("apple", "b"): 0,
                   ("plum", "b"): 2, ("plum", "zz"): 0}


def test_cms_null_semantics(spark):
    df = spark.createDataFrame([("x",), (None,), ("x",)], "item string")
    sk = rollup_ops.cms_build(df, "item", width=1 << 12, depth=3)
    # NULL rows never increment any cell: total mass = 2 per row
    assert (sk.groupBy("row_j").sum("cnt").collect()[0][1] == 2)
    probes = spark.createDataFrame([("x",), (None,)], "item string")
    got = rollup_ops.cms_query(probes, sk, "item", width=1 << 12,
                               depth=3).collect()
    by_item = {r["item"]: r["est_count"] for r in got}
    assert by_item["x"] == 2
    assert by_item[None] is None


# ---- collocations (word2phrase) + diverse_sample (SRP-stratified) ----

from pydin_spark.operators import curation as curation_ops  # noqa: E402
from pydin_spark.operators import text as text_ops  # noqa: E402


def test_collocations_scores_exact_and_ordered(spark):
    # "new york" repeats across docs; every other adjacency is a
    # unique per-doc filler pair (c_xy = 1 < min_count)
    docs = [(i, f"a{i} b{i} new york c{i} d{i}") for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = text_ops.collocations(df, k=5, min_count=2, delta=1).collect()
    assert [r["bigram"] for r in out] == ["new york"]
    r = out[0]
    assert (r["c_xy"], r["c_x"], r["c_y"]) == (10, 10, 10)
    # exact integer score: ((10-1) * 1e6 * 60 tokens) div (10 * 10)
    assert r["score"] == (9 * 10**6 * 60) // 100
    # dilution: a promiscuous token drags the score down — same c_xy,
    # bigger c_x
    docs2 = [(i, f"the x{i} the y{i} new york the z{i}")
             for i in range(10)]
    df2 = spark.createDataFrame(docs2, "doc_id long, text string")
    out2 = {r["bigram"]: r for r in
            text_ops.collocations(df2, k=50, min_count=2).collect()}
    assert "new york" in out2
    ny = out2["new york"]
    assert ny["score"] == (9 * 10**6 * 80) // 100
    # ranking is (score desc, bigram asc) — deterministic through ties
    scores = [(r["score"], r["bigram"]) for r in
              text_ops.collocations(df2, k=50, min_count=2).collect()]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))


def test_collocations_min_count_floor(spark):
    df = spark.createDataFrame(
        [(1, "rare pair common common common common")],
        "doc_id long, text string")
    got = {r["bigram"]
           for r in text_ops.collocations(df, k=10, min_count=2).collect()}
    assert "rare pair" not in got          # c_xy = 1 < 2
    assert "common common" in got          # c_xy = 3


def test_diverse_sample_caps_and_covers(spark):
    # two clusters on opposite sides of every projection hyperplane:
    # +1s and -1s; a dense +1 cluster must not crowd out the sparse one
    rows = ([(i, [1.0] * 64) for i in range(100)]
            + [(1000 + i, [-1.0] * 64) for i in range(3)])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = curation_ops.diverse_sample(df, k=5, out_dim=4).collect()
    by_orthant = {}
    for r in out:
        by_orthant.setdefault(r["orthant"], []).append(r["vec_id"])
    assert len(by_orthant) == 2, "both occupied orthants survive"
    sizes = sorted(len(v) for v in by_orthant.values())
    assert sizes == [3, 5], "dense capped at k, sparse keeps all"
    # determinism: the identical draw on rerun
    again = curation_ops.diverse_sample(df, k=5, out_dim=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_diverse_sample_validates(spark):
    df = spark.createDataFrame([(1, [1.0] * 64)],
                               "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="out_dim"):
        curation_ops.diverse_sample(df, k=5, out_dim=31)


# ---- percentile_normalize + table_fingerprint ----


def test_percentile_normalize_calibrates_across_strata(spark):
    # web scores in [100, 400], code scores in [1, 4]: raw thresholds
    # are incomparable, percentiles line up
    rows = ([("w%d" % i, "web", 100 * (i + 1)) for i in range(4)]
            + [("c%d" % i, "code", i + 1) for i in range(4)])
    df = spark.createDataFrame(rows, "doc_id string, src string, s long")
    out = curation_ops.percentile_normalize(
        df, "s", strata_col="src", id_col="doc_id")
    got = {r["doc_id"]: r["pct_q"] for r in out.collect()}
    for i in range(4):
        assert got[f"w{i}"] == got[f"c{i}"] == (i * 10**6) // 3
    # a single global threshold now means "top quarter of EACH source"
    keep = {r["doc_id"] for r in out.where("pct_q = 1000000").collect()}
    assert keep == {"w3", "c3"}


def test_percentile_normalize_singleton_and_ties(spark):
    rows = [("a", "x", 5), ("b", "y", 7), ("c", "y", 7), ("d", "y", 7)]
    df = spark.createDataFrame(rows, "doc_id string, src string, s long")
    got = {r["doc_id"]: (r["rank"], r["pct_q"]) for r in
           curation_ops.percentile_normalize(
               df, "s", strata_col="src", id_col="doc_id").collect()}
    assert got["a"] == (1, 0), "singleton stratum reads 0"
    # ties break by id: adjacent, not equal, percentiles
    assert [got[k][0] for k in ("b", "c", "d")] == [1, 2, 3]
    assert [got[k][1] for k in ("b", "c", "d")] == [0, 500000, 10**6]


def test_table_fingerprint_order_invariant_and_mergeable(spark):
    rows = [(i, f"t{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, t string")
    fp = curation_ops.table_fingerprint(df, ["id", "t"]).first()
    assert fp["n_rows"] == 200
    # partitioning/order invariance
    again = curation_ops.table_fingerprint(
        df.repartition(13, "t").sortWithinPartitions("id"),
        ["id", "t"]).first()
    assert (fp["n_rows"], fp["fp"]) == (again["n_rows"], again["fp"])
    # mergeable: shard fingerprints sum (mod 2^60) to the whole
    a = curation_ops.table_fingerprint(df.where("id < 80"),
                                       ["id", "t"]).first()
    b = curation_ops.table_fingerprint(df.where("id >= 80"),
                                       ["id", "t"]).first()
    assert (a["fp"] + b["fp"]) % (1 << 60) == fp["fp"]
    assert a["n_rows"] + b["n_rows"] == fp["n_rows"]


def test_table_fingerprint_sensitivity(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, t string")
    base = curation_ops.table_fingerprint(df, ["id", "t"]).first()["fp"]
    # any value change moves the fingerprint
    mut = spark.createDataFrame([(1, "x"), (2, "z")], "id long, t string")
    assert curation_ops.table_fingerprint(mut, ["id", "t"]).first()["fp"] != base
    # multiset: a duplicated row is NOT invisible
    dup = df.unionAll(df.where("id = 1"))
    assert curation_ops.table_fingerprint(dup, ["id", "t"]).first()["fp"] != base
    # NULL, empty string, and the literal '1' are all distinct
    trio = [(1, None), (1, ""), (1, "1")]
    fps = {curation_ops.table_fingerprint(
        spark.createDataFrame([r], "id long, t string"),
        ["id", "t"]).first()["fp"] for r in trio}
    assert len(fps) == 3
    with pytest.raises(ValueError, match="at least one"):
        curation_ops.table_fingerprint(df, [])


# ---- StoredCMS: the 10th stored-state family ----

import datetime as _dt


def _ts_events(spark, rows):
    return spark.createDataFrame(rows, "ts timestamp, item string")


def _t(h, m=0):
    return _dt.datetime(2024, 3, 1, h, m)


CMS_EVENTS = ([( _t(1), "a")] * 3 + [(_t(1, 30), "b")]
              + [(_t(2), "a")] * 2 + [(_t(2, 15), "c")]
              + [(_t(3), "b")] * 4)


def test_stored_cms_incremental_equals_one_shot(spark, tmp_path):
    from pydin_spark.operators import rollup as R
    ev = _ts_events(spark, CMS_EVENTS)
    inc = R.StoredCMS(str(tmp_path / "inc"), "item", width=256, depth=3)
    # prefix (through hour 2), then the full source: the high-water
    # fold must recompute hour >= 2 only, and double-count nothing
    inc.refresh(ev.where("ts < timestamp '2024-03-01 02:10:00'"))
    inc.refresh(ev)
    one = R.StoredCMS(str(tmp_path / "one"), "item", width=256, depth=3)
    one.refresh(ev)
    a = sorted(map(tuple, inc.serve(spark).collect()))
    b = sorted(map(tuple, one.serve(spark).collect()))
    assert a == b and a, "incremental must equal one-shot exactly"
    # estimates from the stored sketch match true occurrence counts
    probes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("zz",)], "item string")
    est = {r["item"]: r["est_count"]
           for r in inc.estimate(probes, "item").collect()}
    assert est == {"a": 5, "b": 5, "c": 1, "zz": 0}


def test_stored_cms_serve_grains_and_guard(spark, tmp_path):
    from pydin_spark.operators import rollup as R
    sc = R.StoredCMS(str(tmp_path / "s"), "item", width=256, depth=3)
    sc.refresh(_ts_events(spark, CMS_EVENTS))
    hourly = sc.serve(spark, "1 hour")
    assert hourly.select("bucket_start").distinct().count() == 3
    daily = sc.serve(spark, "1 day")
    assert daily.select("bucket_start").distinct().count() == 1
    # a day's cells == the global cells (all events are one day here)
    g = sorted(map(tuple, sc.serve(spark).collect()))
    d = sorted((r["row_j"], r["col_idx"], r["cnt"])
               for r in daily.collect())
    assert g == d
    with pytest.raises(ValueError, match="whole.*multiple"):
        sc.serve(spark, "30 minutes")
    with pytest.raises(ValueError, match="no stored CMS"):
        R.StoredCMS(str(tmp_path / "empty"), "item").read(spark)


def test_stored_cms_maintain_compacts_preserving_serve(spark, tmp_path):
    from pydin_spark.operators import rollup as R
    sc = R.StoredCMS(str(tmp_path / "m"), "item", width=128, depth=2)
    ev = _ts_events(spark, CMS_EVENTS)
    sc.refresh(ev.where("ts < timestamp '2024-03-01 02:00:00'"))
    sc.refresh(ev)
    before = sorted(map(tuple, sc.serve(spark).collect()))
    res = sc.maintain(spark, max_files=1)
    after = sorted(map(tuple, sc.serve(spark).collect()))
    assert after == before, f"maintain changed the served sketch: {res}"


def test_stream_rollup_feeds_stored_cms(spark, tmp_path):
    """The streaming front door generalizes to the 10th family:
    stream_rollup's landing + refresh contract drives StoredCMS, and
    the stream-built sketch equals the one-shot batch build exactly
    (SUM merge would expose any double-landed batch)."""
    import time

    from pydin_spark import load_table
    from pydin_spark.operators.rollup import StoredCMS, cms_build
    from pydin_spark.streaming.events import file_events, stream_rollup

    land = str(tmp_path / "landing")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    for lo, hi in [("2024-01-01", "2024-01-11"),
                   ("2024-01-11", "2024-01-21"),
                   ("2024-01-21", "2024-02-01")]:
        (ev.where(f"ts >= '{lo}' AND ts < '{hi}'").coalesce(1)
         .write.mode("append").parquet(land))
        time.sleep(1.1)

    sc = StoredCMS(str(tmp_path / "cms"), "event_type",
                   bucket="1 day", width=512, depth=3, lateness=1)
    stream = file_events(spark, land, max_files_per_trigger=1)
    q = stream_rollup(stream, sc, str(tmp_path / "bronze"),
                      str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    got = sorted(map(tuple, sc.serve(spark).collect()))
    want = sorted(map(tuple, cms_build(ev, "event_type", width=512,
                                       depth=3).collect()))
    assert got == want and got, "stream-built sketch == one-shot"


# ---- filter_agreement (Cohen's kappa) ----


def test_filter_agreement_known_kappa(spark):
    # hand-built confusion matrix: n11=40, n10=10, n01=10, n00=40
    rows = ([(True, True)] * 40 + [(True, False)] * 10
            + [(False, True)] * 10 + [(False, False)] * 40)
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    r = curation_ops.filter_agreement(df, "a", "b").first()
    assert (r["n"], r["n11"], r["n10"], r["n01"], r["n00"]) \
        == (100, 40, 10, 10, 40)
    assert r["po_q"] == 800000            # p_o = 0.8
    assert r["pe_q"] == 500000            # p_e = 0.5 (balanced)
    assert r["kappa_q"] == 600000         # kappa = 0.3/0.5 = 0.6


def test_filter_agreement_edges(spark):
    # perfect agreement -> kappa 1; NULL rows dropped
    rows = [(True, True)] * 5 + [(False, False)] * 5 + [(None, True)]
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    r = curation_ops.filter_agreement(df, "a", "b").first()
    assert r["n"] == 10 and r["kappa_q"] == 10**6
    # systematic disagreement -> negative kappa, same value both
    # division conventions (sign-split)
    anti = [(True, False)] * 5 + [(False, True)] * 5
    r2 = curation_ops.filter_agreement(
        spark.createDataFrame(anti, "a boolean, b boolean"),
        "a", "b").first()
    assert r2["kappa_q"] == -(10**6)
    # both filters constant and equal: chance agreement 1 -> NULL
    const = spark.createDataFrame([(True, True)] * 4,
                                  "a boolean, b boolean")
    assert curation_ops.filter_agreement(const, "a", "b") \
        .first()["kappa_q"] is None


def test_source_similarity_known_overlap(spark):
    rows = [(1, "a b c d", "s1"), (2, "c d e f", "s2"),
            (3, "x y", "s3")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r["source_a"], r["source_b"]): r for r in
           curation_ops.source_similarity(df).collect()}
    # s1 {a,b,c,d} vs s2 {c,d,e,f}: shared 2, union 6, J = 1/3
    r = got[("s1", "s2")]
    assert (r["n_vocab_a"], r["n_vocab_b"], r["n_shared"],
            r["n_union"]) == (4, 4, 2, 6)
    assert r["jaccard_q"] == (2 * 10**6) // 6
    # s3 is vocabulary-disjoint: absent from the matrix by contract
    assert ("s1", "s3") not in got and ("s2", "s3") not in got
    assert len(got) == 1
    # repeated tokens inside a source count once (set semantics)
    rep = spark.createDataFrame(
        [(1, "a a a b", "p"), (2, "a b b b", "q")],
        "doc_id long, text string, source string")
    rr = curation_ops.source_similarity(rep).first()
    assert (rr["n_shared"], rr["n_union"], rr["jaccard_q"]) \
        == (2, 2, 10**6)
