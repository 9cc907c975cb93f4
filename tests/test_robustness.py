"""Robustness: re-running the same Pipeline object, distributed
Filenames listing, Mapper on empty input."""

from pydin_spark import Filenames, Mapper, Parquet, Pipeline, Select


def test_pipeline_object_reruns(spark, views, tmp_path):
    p = Pipeline(Select(text="SELECT * FROM region"),
                 Parquet(file_name="out.parquet", path=str(tmp_path)),
                 spark=spark)
    p.run()
    p.run()  # same object, fresh Observations — must not collide
    assert spark.read.parquet(str(tmp_path / "out.parquet")).count() == 10


def test_filenames_distributed_matches_walk(spark, tmp_path):
    for i in range(5):
        (tmp_path / f"f{i}.dat").write_text("x" * (i + 1))
    # identical regex mask semantics in both paths
    walk = Filenames(path=str(tmp_path), mask=r"\.dat$")
    dist = Filenames(path=str(tmp_path), mask=r"\.dat$", distributed=True)
    a = {(r["file"], r["size"]) for r in walk.extract().collect()}
    b = {(r["file"], r["size"]) for r in dist.extract().collect()}
    assert a == b


def test_mapper_func_on_empty_input(spark, views, tmp_path):
    src = Select(text="SELECT r_regionkey, r_name FROM region WHERE 1 = 0")
    mapper = Mapper(func=lambda r: {"k": r["r_regionkey"]})
    dst = Parquet(file_name="empty.parquet", path=str(tmp_path))
    Pipeline(src, mapper, dst, spark=spark).run()
    out = spark.read.parquet(str(tmp_path / "empty.parquet"))
    assert out.count() == 0


def test_operators_on_empty_corpus(spark):
    """Every corpus operator must return an empty (not crashing) result
    on an empty input table — the first run of a new pipeline is always
    against nothing."""
    from pydin_spark.operators import curation, dedup, similarity, text
    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert text.token_stats(docs).count() == 0
    assert text.language_id_ngram(docs).count() == 0
    assert dedup.exact_dedup(docs).count() == 0
    assert dedup.ngram_jaccard_pairs(docs).count() == 0
    assert dedup.simhash_pairs(docs, max_hamming=3).count() == 0
    assert dedup.drop_near_dups(docs).count() == 0
    assert curation.sample_stratified(docs, 0.5).count() == 0
    assert curation.pack_sequences(docs, capacity=64).count() == 0
    assert similarity.cosine_dup_pairs(emb, 0.5).count() == 0
    assert similarity.cosine_dup_pairs(emb, 0.5, method="lsh").count() == 0
    q = emb.withColumnRenamed("vec_id", "query_id")
    assert similarity.lsh_topk(emb, q).count() == 0
    assert similarity.ivf_topk(emb, q, nlist=4).count() == 0
    assert dedup.dup_clusters(docs).count() == 0
    assert text.tfidf_top_terms(docs).count() == 0
    assert text.duplicate_spans(docs).count() == 0
    assert curation.hash_split(docs).count() == 0
    assert curation.oov_rate(docs).count() == 0
    assert curation.mixture_sample(docs, {"x": 1.0},
                                   strata_col="lang").count() == 0


def test_read_assets_binary_ingest(spark, tmp_path):
    """binaryFile ingest: raw files become asset rows with payload bytes
    and stable hashed ids."""
    from pydin_spark.operators import multimodal
    (tmp_path / "a.png").write_bytes(b"\x89PNG-fake")
    (tmp_path / "b.wav").write_bytes(b"RIFF-fake-audio")
    assets = multimodal.read_assets(spark, str(tmp_path))
    rows = {r["kind"]: r for r in assets.collect()}
    assert set(rows) == {"png", "wav"}
    assert bytes(rows["png"]["payload"]) == b"\x89PNG-fake"
    assert rows["wav"]["asset_id"] >= 0
    feats = multimodal.extract_features(assets, dim=4, fake=True)
    got = {r["kind"]: r["feature"] for r in feats.collect()}
    assert len(got["png"]) == 4


def test_theta_overlap_single_slice_and_empty(spark):
    from pydin_spark.operators.rollup import theta_overlap
    one = spark.createDataFrame([("a", 1), ("a", 2)],
                                "src string, user_id long")
    assert theta_overlap(one, "src", "user_id").count() == 0  # no pairs
    empty = one.limit(0)
    assert theta_overlap(empty, "src", "user_id").count() == 0


def test_leakage_safe_split_no_near_dups_degenerates_to_hash_split(spark):
    from pydin_spark.operators import curation
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(6)))
         for i in range(30)], "doc_id long, text string")
    safe = {r["doc_id"]: (r["group_id"], r["split"]) for r in
            curation.leakage_safe_split(docs, threshold=0.5).collect()}
    naive = {r["doc_id"]: r["split"]
             for r in curation.hash_split(docs).collect()}
    # all singletons: group is the doc itself and the split matches the
    # plain per-doc hash split exactly
    assert all(g == d for d, (g, _) in safe.items())
    assert all(s == naive[d] for d, (_, s) in safe.items())


def test_new_operators_survive_empty_input(spark):
    """Every second-pass operator must return an empty (not crashed)
    result on an empty corpus — the first thing a scheduled pipeline
    hits on a quiet day."""
    docs = spark.createDataFrame([], "doc_id long, text string, "
                                     "lang string, source string")
    emb = spark.createDataFrame([], "vec_id long, "
                                    "embedding array<float>")
    ev = spark.createDataFrame([], "user_id long, event_type string")

    from pydin_spark.operators.curation import (corpus_report,
                                                importance_resample,
                                                importance_weights)
    from pydin_spark.operators.rollup import (heavy_hitter_summaries,
                                              heavy_hitters, hh_topk)
    from pydin_spark.operators.similarity import (semantic_dedup,
                                                  semantic_dup_pairs)
    from pydin_spark.operators.text import (chunk_text,
                                            rewrite_with_provenance)

    assert importance_weights(docs, docs).count() == 0
    assert importance_resample(docs, docs, k=5).count() == 0
    assert corpus_report(docs).count() == 0
    assert chunk_text(docs).count() == 0
    rw, prov = rewrite_with_provenance(docs)
    assert rw.count() == 0 and prov.count() == 0
    assert semantic_dup_pairs(emb, nlist=1).count() == 0
    assert semantic_dedup(emb, nlist=1).count() == 0
    # the clustered path must not crash KMeans on zero training rows
    assert semantic_dedup(emb, nlist=4).count() == 0
    assert heavy_hitters(ev, "user_id", k=5, capacity=8).count() == 0
    summ = heavy_hitter_summaries(ev, "user_id", 8, ("event_type",))
    assert hh_topk(summ, k=5, group_cols=("event_type",)).count() == 0


def test_fourth_pass_operators_survive_empty_input(spark, tmp_path):
    """Empty-corpus sweep for the fourth-pass operators: graph, the
    three samplers, and the stored heavy-hitter state."""
    docs = spark.createDataFrame([], "doc_id long, text string, "
                                     "lang string, source string")
    emb = spark.createDataFrame([], "vec_id long, "
                                    "embedding array<float>")
    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id string")

    from pydin_spark.operators.curation import (keep_top_fraction,
                                                sample_exact_k,
                                                temperature_mixture)
    from pydin_spark.operators.rollup import StoredHeavyHitters
    from pydin_spark.operators.similarity import knn_graph

    assert knn_graph(emb, k=3).count() == 0
    from pydin_spark.operators.similarity import ivf_knn_graph
    assert ivf_knn_graph(emb, k=3, nlist=4).count() == 0
    assert temperature_mixture(docs, alpha=0.5).count() == 0
    assert keep_top_fraction(docs, "doc_id", 0.5).count() == 0
    assert keep_top_fraction(docs, "doc_id", 0.5,
                             approx=True).count() == 0
    assert sample_exact_k(docs, k=5).count() == 0
    st = StoredHeavyHitters(str(tmp_path / "hh"), "user_id")
    assert st.refresh(ev).count() == 0
    # nothing was ever stored: serving must fail actionably, not with
    # a schema-inference stack trace
    import pytest
    with pytest.raises(ValueError, match="refresh"):
        st.serve(spark, k=5)


def test_analytics_operators_survive_empty_input(spark):
    """Quiet-day sweep for the event-analytics family."""
    from pydin_spark.operators.relational import (event_paths,
                                                  fill_gaps_locf,
                                                  funnel,
                                                  retention_cohorts)
    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, "
            "event_type string, value double")
    # zero step-1 completers: conversion is undefined => NULL (the
    # ADVICE r3 fix; 0.0 would fabricate a "nobody converted" claim)
    out = funnel(ev, ["view", "click"]).collect()
    assert [(r.step, r.n_users, r.conversion) for r in out] == \
        [("view", 0, None), ("click", 0, None)]
    assert retention_cohorts(ev).count() == 0
    assert event_paths(ev).count() == 0
    assert fill_gaps_locf(ev).count() == 0


def test_round4_operators_survive_empty_input(spark, tmp_path):
    """Quiet-day sweep for the round-4 family: bloom, profile,
    line_dedup, linear scorer."""
    from pyspark.sql import functions as F

    from pydin_spark.operators import curation, text
    from pydin_spark.operators.rollup import (StoredBloom, bloom_build,
                                              bloom_contains)

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_items = spark.createDataFrame([], "it string")

    # empty bloom: no words; probing it says "definitely absent"
    bl = bloom_build(empty_items, "it", m_bits=1 << 10)
    assert bl.count() == 0
    probe = bloom_contains(
        spark.createDataFrame([("x",)], "it string"), bl, "it",
        m_bits=1 << 10)
    assert probe.first()["maybe_in"] is False

    # profile of an empty frame: one row per column, zero counts
    p = {r["column"]: r for r in curation.profile(empty_docs).collect()}
    assert p["text"]["n_rows"] == 0 and p["text"]["n_null"] == 0

    # line_dedup of nothing is nothing
    assert text.line_dedup(empty_docs).count() == 0

    # scorer with an empty model scores the bare intercept
    w = spark.createDataFrame([], "bucket long, w double")
    one = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    row = curation.apply_linear_scorer(one, w, intercept=0.5).first()
    assert row["margin"] == 0.5

    # StoredBloom: an all-empty refresh leaves the "first build
    # pending" state and serving fails actionably
    import pytest

    ev = spark.createDataFrame(
        [], "ts timestamp, user_id long")
    sb = StoredBloom(str(tmp_path / "eb"), "user_id")
    assert sb.refresh(ev).count() == 0
    with pytest.raises(ValueError, match="refresh"):
        sb.serve(spark)
