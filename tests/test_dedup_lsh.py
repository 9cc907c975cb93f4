"""Banded-LSH dedup (MinHash, ICWS): the one bucket-pair enumerator
behind ``minhash_lsh_pairs`` / ``icws_lsh_pairs`` / ``simhash_pairs``.

- The candidate set equals a pure-Python banding oracle built from the
  collected signatures, with and without a bucket cap.
- The per-bucket cap (the bucket analogue of ``max_shingle_freq``):
  a slab of identical boilerplate collapses whole bands into one
  bucket; with the cap the run completes, the shed is counted, and
  genuinely-distinct near-dup pairs still surface.
- The capped and shed oracle queries (``dedup_minhash_capped``,
  ``dedup_minhash_shed``) rest on two empirical facts pinned here: the
  fixture corpora never approach the cap (so capped == uncapped ==
  exact Jaccard), and the slab's vocabulary is disjoint from the
  corpus (so slab buckets hold exactly the slab and the shed removes
  precisely the slab pairs)."""

from collections import defaultdict
from itertools import combinations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from pydin_spark.operators import dedup
from pydin_spark.operators.dedup import icws_lsh_pairs, minhash_lsh_pairs


def _banded_pairs(rows, bands, cap):
    """Reference candidate set from collected (id, sig) rows: docs
    with an equal band tuple share a bucket, buckets of more than
    ``cap`` docs are dropped, pairs are (smaller id, larger id)."""
    buckets = defaultdict(set)
    for doc_id, sig in rows:
        r = len(sig) // bands
        for b in range(bands):
            buckets[(b, tuple(sig[b * r:(b + 1) * r]))].add(doc_id)
    return {p for ids in buckets.values()
            if cap is None or len(ids) <= cap
            for p in combinations(sorted(ids), 2)}


def _minhash_case(docs):
    sh = dedup.word_shingles(docs, hashed=True)
    sig = dedup.minhash_signatures(docs, num_hashes=32, shingles=sh)
    return sig, lambda **kw: minhash_lsh_pairs(docs, num_hashes=32,
                                               bands=8, **kw)


def _icws_case(docs):
    sig = dedup.icws_signatures(docs, num_hashes=16)
    return sig, lambda **kw: icws_lsh_pairs(docs, num_hashes=16,
                                            bands=8, **kw)


@pytest.mark.parametrize("cap", [None, 2])
@pytest.mark.parametrize("case", [_minhash_case, _icws_case],
                         ids=["minhash", "icws"])
def test_candidates_match_banding_oracle(spark, views, case, cap):
    docs = spark.table("documents").select("doc_id", "text")
    sig, pairs = case(docs)
    rows = [(r["doc_id"], r["sig"]) for r in sig.collect()]
    want = _banded_pairs(rows, 8, cap)
    got = [tuple(r) for r in
           pairs(verify=False, max_bucket_size=cap).collect()]
    assert len(got) == len(set(got))  # each pair once
    assert set(got) == want
    assert want  # the fixture has candidates at all
    if cap is not None:
        # some fixture bucket exceeds the cap, so the shed is exercised
        assert want != _banded_pairs(rows, 8, None)


def _bomb(spark, n_bomb=10_000):
    """n_bomb identical boilerplate docs + three genuine near-dup
    pairs of distinct prose (ids 1000000+)."""
    bomb = spark.range(n_bomb).select(
        F.col("id").alias("doc_id"),
        F.lit("the same legal boilerplate footer repeated on every "
              "page of the crawl again and again").alias("text"))
    pairs = spark.createDataFrame(
        [(1_000_000, "alpha beta gamma delta epsilon zeta eta theta "
                     "iota kappa"),
         (1_000_001, "alpha beta gamma delta epsilon zeta eta theta "
                     "iota lambda"),
         (1_000_002, "one two three four five six seven eight nine "
                     "ten eleven"),
         (1_000_003, "one two three four five six seven eight nine "
                     "ten twelve"),
         (1_000_004, "red orange yellow green blue indigo violet "
                     "cyan magenta white"),
         (1_000_005, "red orange yellow green blue indigo violet "
                     "cyan magenta black")],
        "doc_id long, text string")
    return bomb.unionByName(pairs)


def test_minhash_bucket_cap_survives_boilerplate_bomb(spark):
    docs = _bomb(spark)
    shed = {}
    got = minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=50,
                            shed_stats=shed)
    rows = got.collect()
    # the bomb is fully shed (every one of its buckets holds 10k docs)
    assert shed["shed_buckets"] >= 1
    assert shed["shed_rows"] >= 10_000
    found = {(r["id_a"], r["id_b"]) for r in rows}
    assert {(1_000_000, 1_000_001), (1_000_002, 1_000_003),
            (1_000_004, 1_000_005)} <= found
    # nothing from the bomb slab survives into the pair set
    assert all(a >= 1_000_000 for a, _ in found)
    # candidate fan-out is bounded by the cap, not the slab size
    n_cand = minhash_lsh_pairs(docs, verify=False,
                               max_bucket_size=50).count()
    assert n_cand <= 16 * 50 * 50  # bands * cap^2 hard ceiling
    assert n_cand < 100  # and in practice just the genuine pairs


def test_minhash_cap_noop_when_no_bucket_exceeds_it(spark):
    docs = _bomb(spark, n_bomb=0)
    uncapped = {tuple(r) for r in
                minhash_lsh_pairs(docs, threshold=0.5).collect()}
    shed = {}
    capped = {tuple(r) for r in
              minhash_lsh_pairs(docs, threshold=0.5,
                                max_bucket_size=1000,
                                shed_stats=shed).collect()}
    assert capped == uncapped
    assert shed == {"shed_buckets": 0, "shed_rows": 0}


def test_icws_bucket_cap_survives_boilerplate_bomb(spark):
    docs = _bomb(spark, n_bomb=2_000)
    shed = {}
    got = icws_lsh_pairs(docs, threshold=0.3, max_bucket_size=50,
                         max_shingle_freq=None, shed_stats=shed)
    found = {(r["id_a"], r["id_b"]) for r in got.collect()}
    assert shed["shed_rows"] >= 2_000
    assert {(1_000_000, 1_000_001), (1_000_002, 1_000_003),
            (1_000_004, 1_000_005)} <= found
    assert all(a >= 1_000_000 for a, _ in found)


def test_bucket_cap_validates(spark):
    docs = _bomb(spark, n_bomb=0)
    with pytest.raises(ValueError, match="max_bucket_size"):
        minhash_lsh_pairs(docs, max_bucket_size=1).count()


def test_fixture_buckets_far_below_cap(spark, views):
    """The dedup_minhash_capped oracle (exact Jaccard, i.e. the
    uncapped result) is valid because no fixture bucket comes within
    two orders of magnitude of the 1000-doc cap."""
    docs = spark.table("documents")
    sig = dedup.minhash_signatures(docs, num_hashes=32)
    buckets = dedup._band_buckets(sig, "doc_id", 32, 8)
    top = (buckets.groupBy("band", "bh").count()
           .agg(F.max("count")).first()[0])
    assert top < 1000, f"fixture bucket of {top} invalidates the oracle"
    assert top < 100  # two orders of margin in practice


def test_capped_equals_uncapped_on_fixture(spark, views, sf_dir):
    plain = entrymod.queries()["dedup_minhash_lsh"](spark, sf_dir)
    capped = entrymod.queries()["dedup_minhash_capped"](spark, sf_dir)
    assert sorted(map(tuple, plain.collect())) \
        == sorted(map(tuple, capped.collect()))


def test_slab_vocabulary_disjoint(spark, views):
    """No corpus token collides with the slab's zq<i> vocabulary, so
    slab buckets hold exactly the 150 slab docs."""
    hits = (spark.table("documents")
            .where(F.col("text").rlike(r"\bzq[0-9]+\b")).count())
    assert hits == 0


def test_shed_drops_exactly_the_slab(spark, views, sf_dir):
    """dedup_minhash_shed == the uncapped corpus pair set: every
    slab-internal pair is shed (all 8 of its band buckets hold 150 >
    cap=100 docs), cross pairs share no shingles, corpus pairs are
    untouched. shed_stats confirms the mechanism: exactly the slab's
    8 buckets, 150 rows each, were dropped."""
    corpus_pairs = sorted(
        map(tuple, entrymod.queries()["dedup_minhash_lsh"](
            spark, sf_dir).collect()))
    shed_result = sorted(
        map(tuple, entrymod.queries()["dedup_minhash_shed"](
            spark, sf_dir).collect()))
    assert shed_result == corpus_pairs

    docs = spark.table("documents").select("doc_id", "text")
    slab = (spark.range(entrymod._SLAB_N)
            .select((F.lit(entrymod._SLAB_ID0) + F.col("id"))
                    .alias("doc_id"),
                    F.lit(entrymod._SLAB_TEXT).alias("text")))
    stats: dict = {}
    dedup.minhash_lsh_pairs(docs.unionByName(slab), threshold=0.9,
                            num_hashes=32, bands=8,
                            max_bucket_size=100,
                            shed_stats=stats).count()
    assert stats["shed_buckets"] == 8
    assert stats["shed_rows"] == 8 * entrymod._SLAB_N


def test_capped_entry_is_in_bench_headline():
    import bench
    assert "dedup_minhash_capped" in bench.HEADLINE
