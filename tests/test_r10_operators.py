"""Round-10 additions not yet regrouped by family: quality-argmax
survivor selection, the StatsIndex stored family, and the CMS-capped
Jaccard tier. The per-bucket LSH cap tests live in
``tests/test_dedup_lsh.py``."""

import pytest

from tests.test_dedup_lsh import _bomb


def test_keep_best_survivor_quality_argmax(spark):
    """Per transitive cluster, the HIGHEST-quality member survives
    (ties to min id); singletons pass through untouched."""
    from pydin_spark.operators.dedup import keep_best_survivor
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, base + " one", 5), (2, base + " two", 9),   # cluster A
         (3, base + " six", 9),                           # ties w/ 2
         (10, "totally different prose about something else entirely "
              "unrelated words", 1),                      # singleton
         (20, "one two three four five six seven eight nine", 7),
         (21, "one two three four five six seven eight ten", 3)],
        "doc_id long, text string, q long")
    out = keep_best_survivor(docs, "q", threshold=0.3, method="exact",
                             max_shingle_freq=None)
    kept = sorted(r["doc_id"] for r in out.collect())
    # cluster {1,2,3}: q=9 tie between 2 and 3 -> min id 2 wins;
    # cluster {20,21}: 20 (q=7) beats 21; singleton 10 untouched
    assert kept == [2, 10, 20]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="quality column"):
        keep_best_survivor(docs, "nope")


# ---- StatsIndex: file-stats skipping as a stored family (ROADMAP 29) ----

@pytest.fixture(params=["plain", "file_uri"])
def si_root(tmp_path, request):
    p = str(tmp_path)
    return f"file://{p}" if request.param == "file_uri" else p


def test_stats_index_lifecycle(spark, si_root):
    from pydin_spark.functions.maintenance import StatsIndex, zorder_write
    ds = f"{si_root}/ds"
    df = spark.range(200).selectExpr("id AS x", "id * 2 AS y")
    zorder_write(df, ds, ["x"], n_files=4)
    idx = StatsIndex(f"{si_root}/stats", ["x"])
    with pytest.raises(ValueError, match="rebuild"):
        idx.read(spark)
    r = idx.rebuild(spark, ds)
    assert r["seq"] == 0 and r["files_indexed"] == 4
    got = idx.read_skipping(spark, {"x": (50, 59)})
    assert sorted(x["x"] for x in got.collect()) == list(range(50, 60))
    # rewrite the layout -> stale committed stats must REFUSE to serve
    zorder_write(df.where("x < 100"), ds, ["x"], n_files=2)
    spark.catalog.refreshByPath(ds)
    with pytest.raises(ValueError, match="stale"):
        idx.read_skipping(spark, {"x": (50, 59)}).collect()
    # rebuild-after-rewrite is the contract; serving resumes exactly
    assert idx.rebuild(spark, ds)["seq"] == 1
    got = idx.read_skipping(spark, {"x": (50, 59)})
    assert sorted(x["x"] for x in got.collect()) == list(range(50, 60))
    # maintain collapses to the newest version and sweeps the old
    assert idx.maintain(spark) == {"kept": 1, "deleted": 1}
    assert idx.read(spark).count() == 2
    got = idx.read_skipping(spark, {"x": (50, 59)})
    assert got.count() == 10


def test_stats_index_crashed_collector_invisible(spark, si_root):
    from pydin_spark.functions.maintenance import StatsIndex, zorder_write
    ds = f"{si_root}/ds"
    zorder_write(spark.range(50).selectExpr("id AS x"), ds, ["x"],
                 n_files=2)
    idx = StatsIndex(f"{si_root}/stats", ["x"])
    idx.rebuild(spark, ds)
    # a collector that died after writing its frame but BEFORE the
    # commit row: files exist, attach never serves them
    spark.range(1).selectExpr("'ghost' AS file", "id AS x_min",
                              "id AS x_max") \
        .write.parquet(f"{si_root}/stats/data_99_deadbeef")
    assert idx.read(spark).where("file = 'ghost'").count() == 0
    assert idx.maintain(spark)["deleted"] == 1  # orphan swept
    assert idx.read(spark).count() == 2


# ---- CMS-capped jaccard tier (ROADMAP 30) ----

def test_jaccard_cms_exact_when_sketch_wide(spark):
    """With a sketch wide enough that no two shingles collide, the
    CMS estimate IS the exact document frequency, so the CMS-capped
    tier must equal the exact-capped tier bit-for-bit (same shed set,
    same sizes, same jaccard values)."""
    from pydin_spark.operators.dedup import (ngram_jaccard_pairs,
                                             ngram_jaccard_pairs_cms)
    docs = _bomb(spark, n_bomb=40)  # boilerplate slab + genuine pairs
    exact = {tuple(r) for r in
             ngram_jaccard_pairs(docs, threshold=0.3,
                                 max_shingle_freq=30).collect()}
    wide = {tuple(r) for r in
            ngram_jaccard_pairs_cms(docs, threshold=0.3,
                                    max_shingle_freq=30,
                                    width=1 << 17, depth=3).collect()}
    assert wide == exact and len(exact) >= 3


def test_jaccard_cms_narrow_sheds_conservatively(spark):
    """A narrow sketch overestimates (one-sided), so it sheds a
    SUPERSET of the exact cap's victims — the run completes and every
    surviving pair's jaccard is still exact over its capped sets."""
    from pydin_spark.operators.dedup import ngram_jaccard_pairs_cms
    docs = _bomb(spark, n_bomb=40)
    got = ngram_jaccard_pairs_cms(docs, threshold=0.3,
                                  max_shingle_freq=30,
                                  width=64, depth=2)
    rows = got.collect()
    assert all(0.3 <= r["jaccard"] <= 1.0 for r in rows)


def test_jaccard_cms_plan_has_no_window_exchange(spark):
    """The point of the tier: the df cap costs broadcast probes, not
    a posting-list shuffle — the plan must contain no Window operator
    (the exact tier's cap mechanism) and must broadcast the sketch."""
    from pydin_spark.operators.dedup import ngram_jaccard_pairs_cms
    from tests.test_plans import plan_of
    docs = _bomb(spark, n_bomb=0)
    plan = plan_of(ngram_jaccard_pairs_cms(docs, threshold=0.3))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
