"""Cache-lifetime contract for the persisting pair operators
(VERDICT r10 #1): every operator that persists an internal substrate
must expose ``owned_frames`` so a long-lived caller can release the
cached frames once the result is materialized. Each test calls its
operator TWICE in one session (the accumulation scenario ADVICE r8/r10
flagged), materializes the result, unpersists the owned frames, and
asserts the executor block store is empty afterwards — i.e. repeated
library calls leak nothing.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pydin_spark.operators import dedup, similarity, text  # noqa: E402


def _cached_rdd_ids(spark):
    """Ids of RDDs currently holding blocks in the block store."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {infos[i].id() for i in range(len(infos))}


@pytest.fixture()
def clean_store(spark):
    # clearCache drops the SQL cache; localCheckpoint blocks left by
    # OTHER tests sharing this session survive it, so the contract is
    # "no NEW cached RDDs beyond the baseline", not global emptiness.
    spark.catalog.clearCache()
    yield spark
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def docs(spark, views):
    return (spark.read.parquet(f"{views}/documents.parquet")
            .select("doc_id", "text").limit(60))


@pytest.fixture(scope="module")
def vecs(spark, views):
    return (spark.read.parquet(f"{views}/embeddings.parquet")
            .select("vec_id", "embedding").limit(40))


def _assert_releases(spark, run_once):
    """Run the operator twice; after materialize + owned-frame release
    no operator-created blocks may remain in the block store."""
    baseline = _cached_rdd_ids(spark)
    for _ in range(2):
        owned = []
        out = run_once(owned)
        out.count()  # materialize: populates whatever caches exist
        for f in owned:
            f.unpersist(True)
        assert _cached_rdd_ids(spark) - baseline == set()


def test_ngram_jaccard_pairs_releases(clean_store, docs):
    _assert_releases(clean_store, lambda o: dedup.ngram_jaccard_pairs(
        docs, threshold=0.2, owned_frames=o))


def test_containment_pairs_releases(clean_store, docs):
    _assert_releases(clean_store, lambda o: dedup.containment_pairs(
        docs, threshold=0.5, owned_frames=o))


def test_edit_dup_pairs_releases(clean_store, docs):
    _assert_releases(clean_store, lambda o: dedup.edit_dup_pairs(
        docs, max_dist=8, owned_frames=o))


def test_weighted_jaccard_pairs_releases(clean_store, docs):
    _assert_releases(clean_store, lambda o: dedup.weighted_jaccard_pairs(
        docs, threshold=0.2, owned_frames=o))


def test_icws_lsh_pairs_releases(clean_store, docs):
    _assert_releases(clean_store, lambda o: dedup.icws_lsh_pairs(
        docs, num_hashes=8, bands=4, threshold=0.2, owned_frames=o))


def test_minhash_lsh_pairs_releases(clean_store, docs):
    _assert_releases(clean_store, lambda o: dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, threshold=0.2, owned_frames=o))


def test_simhash_pairs_releases(clean_store, docs):
    _assert_releases(clean_store, lambda o: dedup.simhash_pairs(
        docs, owned_frames=o))


def test_drop_near_dups_releases(clean_store, docs):
    _assert_releases(clean_store, lambda o: dedup.drop_near_dups(
        docs, threshold=0.2, method="exact", owned_frames=o))


def test_winnow_matches_releases(clean_store, docs):
    _assert_releases(clean_store, lambda o: text.winnow_matches(
        docs, min_shared=1, owned_frames=o))


def test_rewrite_with_provenance_releases(clean_store, docs):
    def run(o):
        rewritten, provenance = text.rewrite_with_provenance(
            docs, k=5, owned_frames=o)
        provenance.count()
        return rewritten

    _assert_releases(clean_store, run)


def test_bigram_logprob_releases(clean_store, docs):
    _assert_releases(clean_store, lambda o: text.bigram_logprob(
        docs, owned_frames=o))


def test_cosine_dup_pairs_block_releases(clean_store, vecs):
    _assert_releases(clean_store, lambda o: similarity.cosine_dup_pairs(
        vecs, threshold=0.5, rows_per_block=16, owned_frames=o))


def test_cosine_dup_pairs_lsh_releases(clean_store, vecs):
    _assert_releases(clean_store, lambda o: similarity.cosine_dup_pairs(
        vecs, threshold=0.5, method="lsh", planes=4, owned_frames=o))


def test_knn_graph_releases(clean_store, vecs):
    _assert_releases(clean_store, lambda o: similarity.knn_graph(
        vecs, k=3, rows_per_block=16, owned_frames=o))


def test_mutual_knn_pairs_releases(clean_store, vecs):
    _assert_releases(clean_store, lambda o: similarity.mutual_knn_pairs(
        vecs, k=3, owned_frames=o))


def test_semantic_dup_pairs_releases(clean_store, vecs):
    _assert_releases(clean_store, lambda o: similarity.semantic_dup_pairs(
        vecs, threshold=0.3, nlist=1, owned_frames=o))


def test_ivf_knn_graph_releases(clean_store, vecs):
    _assert_releases(clean_store, lambda o: similarity.ivf_knn_graph(
        vecs, k=3, nlist=2, nprobe=2, max_iter=2, owned_frames=o))


def test_mutual_knn_skips_persist_when_graph_cached(clean_store, vecs):
    """ADVICE r10: a caller-persisted graph must not be cached a second
    time by mutual_knn_pairs — the documented reuse pattern would
    otherwise hold the same rows twice with no release path."""
    baseline = _cached_rdd_ids(clean_store)
    inner = []
    g = similarity.knn_graph(vecs, k=3, rows_per_block=16,
                             owned_frames=inner).persist()
    g.count()
    for f in inner:  # the graph is materialized; release its substrate
        f.unpersist(True)
    cached_before = _cached_rdd_ids(clean_store)
    owned = []
    out = similarity.mutual_knn_pairs(vecs, k=3, graph=g,
                                      owned_frames=owned)
    out.count()
    assert owned == []  # nothing new persisted...
    assert _cached_rdd_ids(clean_store) == cached_before  # ...or cached
    g.unpersist(True)
    assert _cached_rdd_ids(clean_store) - baseline == set()


def test_mutual_knn_uncached_supplied_graph_is_owned(clean_store, vecs):
    """An UNcached supplied graph still gets the round-10 persist (it
    feeds three consumers) — but the frame must now be released via
    owned_frames."""
    def run(o):
        g = similarity.knn_graph(vecs, k=3, rows_per_block=16,
                                 owned_frames=o)
        return similarity.mutual_knn_pairs(vecs, k=3, graph=g,
                                           owned_frames=o)

    _assert_releases(clean_store, run)
