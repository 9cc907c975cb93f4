"""Operator tests: dedup (LSH recall vs exact Jaccard), similarity
(arrow path vs expression path), text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from pydin_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the ocean"),
        (3, "completely different words about spark engines and shuffles"),
        (4, "the quick brown fox jumps over the lazy dog near the river"),
        (5, "der hund und die katze und das haus und nicht hier"),
        (6, "le chat et la maison et les arbres et une riviere"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark, docs):
    out = {r["keep_id"]: r["n_copies"]
           for r in dedup.exact_dedup(docs).collect()}
    assert out[1] == 2          # docs 1 and 4 identical
    assert sum(out.values()) == 6


def test_ngram_jaccard_finds_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 4)] == 1.0                 # identical
    assert 0.5 < pairs[(1, 2)] < 1.0            # one word differs
    assert (1, 3) not in pairs


def test_short_docs_produce_no_shingles(spark):
    tiny = spark.createDataFrame(
        [(1, "only two"), (2, "one"), (3, "a b c d")],
        "doc_id long, text string")
    sh = dedup.word_shingles(tiny).collect()
    assert {r["doc_id"] for r in sh} == {3}
    # and the full pair pipeline survives short docs
    assert dedup.ngram_jaccard_pairs(tiny, threshold=0.1).count() == 0


def test_minhash_lsh_matches_exact_jaccard(spark, docs):
    exact = {(r["id_a"], r["id_b"])
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in dedup.minhash_lsh_pairs(docs, threshold=0.5,
                                            num_hashes=64, bands=32).collect()}
    # verify=True makes LSH precision exact; recall high with 32 bands
    assert lsh == exact


def test_drop_near_dups_methods_agree(spark, docs):
    exact = {r["doc_id"] for r in
             dedup.drop_near_dups(docs, threshold=0.5,
                                  max_shingle_freq=None).collect()}
    mh = {r["doc_id"] for r in
          dedup.drop_near_dups(docs, threshold=0.5,
                               method="minhash").collect()}
    assert exact == mh          # LSH verify makes precision exact;
    assert 4 not in exact       # doc 4 is a copy of doc 1 → dropped
    assert 1 in exact


def test_dup_clusters_auto_flips_to_minhash(spark, docs):
    """Default method='auto' must take the LSH-band path above the
    document threshold (proved with auto_minhash_above=1 instead of a
    100k-doc fixture) and agree with the explicit methods either way —
    a user clustering a big corpus with defaults never gets the Σfreq²
    inverted-index path."""
    as_tuples = lambda frame: {(r["doc_id"], r["component"])
                               for r in frame.collect()}
    auto_small = as_tuples(dedup.dup_clusters(docs, threshold=0.5))
    exact = as_tuples(dedup.dup_clusters(docs, threshold=0.5,
                                         method="exact",
                                         max_shingle_freq=None))
    assert auto_small == exact
    auto_large = as_tuples(dedup.dup_clusters(docs, threshold=0.5,
                                              auto_minhash_above=1))
    mh = as_tuples(dedup.dup_clusters(docs, threshold=0.5,
                                      method="minhash"))
    assert auto_large == mh == exact


def test_simhash_deterministic_and_near(spark, docs):
    sig1 = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    sig2 = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sig1 == sig2
    assert sig1[1] == sig1[4]  # identical docs → identical signature
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(sig1[1], sig1[2]) < ham(sig1[1], sig1[3])


def test_simhash_pairs_bucketing(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_pairs(docs, max_hamming=10).collect()}
    assert pairs[(1, 4)] == 0


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from pydin_spark import load_table
    return load_table(spark, sf_dir, "embeddings")


def test_cosine_topk_expression_vs_arrow(spark, emb):
    queries = emb.where("vec_id < 3").selectExpr("vec_id AS query_id",
                                                 "embedding")
    a = similarity.cosine_topk(emb, queries, k=5)
    b = similarity.cosine_topk_arrow(emb, queries, k=5)
    ra = {(r["query_id"], r["rnk"]): r["nbr_id"] for r in a.collect()}
    rb = {(r["query_id"], r["rnk"]): r["nbr_id"] for r in b.collect()}
    assert ra == rb  # same neighbors same order, modulo float sum order
    cos = {r["nbr_id"]: r["cosine"] for r in a.collect() if r["query_id"] == 0}
    assert all(-1.0001 <= v <= 1.0001 for v in cos.values())


def test_lsh_topk_recall(spark, emb):
    queries = emb.where("vec_id < 5").selectExpr("vec_id AS query_id",
                                                 "embedding")
    exact = similarity.cosine_topk(emb, queries, k=3)
    approx = similarity.lsh_topk(emb, queries, k=3, planes=2)
    e = {(r["query_id"], r["nbr_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["nbr_id"]) for r in approx.collect()}
    # 2 planes → 4 buckets → recall well above random; sanity: >= 20%
    assert len(e & a) >= len(e) * 0.2


def test_text_language_id_markers(spark, docs):
    out = {r["doc_id"]: r["pred_lang"]
           for r in text.language_id(docs).collect()}
    assert out[1] == "en"
    assert out[5] == "de"
    assert out[6] == "fr"
    assert out[3] == "und" or out[3] == "en"


def test_text_quality_bounds(spark, docs):
    for row in text.quality_score(docs).collect():
        assert 0.0 <= row["quality"] <= 1.0
        assert 0.0 < row["diversity"] <= 1.0


def test_multimodal_feature_plumbing(spark, docs):
    assets = docs.select(
        F.col("doc_id").alias("asset_id"), F.lit("text").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(F.lit("text/plain").alias("mime"),
                 F.lit(None).cast("int").alias("width"),
                 F.lit(None).cast("int").alias("height"),
                 F.lit(2500).cast("long").alias("duration_ms")).alias("meta"))
    feats = multimodal.extract_features(assets, dim=4, fake=True)
    rows = feats.collect()
    assert len(rows) == 6
    for r in rows:
        assert len(r["feature"]) == 4
        assert r["n_bytes"] > 0
    # deterministic: same input → same features
    again = {r["asset_id"]: r["feature"]
             for r in multimodal.extract_features(assets, dim=4,
                                                  fake=True).collect()}
    assert all(again[r["asset_id"]] == r["feature"] for r in rows)
    frames = multimodal.sample_frames(assets, every_ms=1000).collect()
    assert {f["frame_no"] for f in frames} == {0, 1, 2}  # 2500ms / 1000
    resized = multimodal.resize_images(assets, width=8, height=8).collect()
    assert all(len(r["payload"]) == 64 for r in resized)
    assert all(r["meta"]["width"] == 8 and r["meta"]["mime"] == "image/raw"
               for r in resized)


def test_multimodal_pluggable_decoder_seam(spark, docs):
    """The fake=False branches must drive an injected codec through
    the REAL Arrow path (VERDICT r5 #4): the decoder callable pickles
    into the mapInPandas closure — the only injection that reaches the
    separate worker processes — and its pixels/frames come back
    through the production schema."""
    import numpy as np

    assets = docs.select(
        F.col("doc_id").alias("asset_id"), F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(F.lit("image/fake").alias("mime"),
                 F.lit(None).cast("int").alias("width"),
                 F.lit(None).cast("int").alias("height"),
                 F.lit(2500).cast("long").alias("duration_ms")).alias("meta"))

    def fake_image_codec(payload):
        # deterministic 4x6 "image" derived from the payload bytes
        arr = np.frombuffer(payload, dtype=np.uint8)
        out = np.resize(arr, 24).reshape(4, 6)
        return out

    feats = {r["asset_id"]: r for r in multimodal.extract_features(
        assets, dim=4, fake=False, decoder=fake_image_codec).collect()}
    payloads = {r["asset_id"]: bytes(r["payload"])
                for r in assets.collect()}
    assert len(feats) == 6
    for aid, r in feats.items():
        # feature j is exactly the mean of the decoder's pixel chunk j
        px = fake_image_codec(payloads[aid]).ravel().astype(np.float64)
        expected = [float(c.mean()) for c in np.array_split(px, 4)]
        assert r["feature"] == expected

    resized = multimodal.resize_images(
        assets, width=8, height=8, fake=False,
        decoder=fake_image_codec).collect()
    assert all(len(r["payload"]) == 64 for r in resized)
    assert all(r["meta"]["width"] == 8 and r["meta"]["height"] == 8
               for r in resized)

    def fake_video_codec(payload, every_ms):
        return [(t, payload[:4] or b"\0") for t in
                range(0, 2000, every_ms)]

    frames = multimodal.sample_frames(
        assets, every_ms=500, fake=False,
        decoder=fake_video_codec).collect()
    assert {f["frame_no"] for f in frames} == {0, 1, 2, 3}
    assert all(f["ts_ms"] % 500 == 0 for f in frames)

    # without a decoder (and without codecs in this container) the
    # real path fails with the documented plug-point message; when PIL
    # is installed the image fallback becomes live instead (covered by
    # the skipif-gated real-codec smoke in test_r9_operators.py)
    import importlib.util
    if importlib.util.find_spec("PIL") is None:
        with pytest.raises(Exception, match="decoder="):
            multimodal.extract_features(assets, fake=False).collect()
    with pytest.raises(Exception, match="decoder="):
        multimodal.sample_frames(assets, fake=False).collect()


def test_language_id_ngram_classifies_known_text(spark):
    from pydin_spark.operators.text import language_id_ngram
    df = spark.createDataFrame([
        (1, "the quick brown fox is jumping over the lazy dog and then some"),
        (2, "der schnelle braune fuchs springt und die katze ist nicht da"),
        (3, "les enfants mangent une baguette et la mere est de retour"),
        (4, "los ninos comen una manzana y la madre esta de vuelta en casa"),
        (5, "zzz qqq xxx"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r["pred_lang"]
           for r in language_id_ngram(df).collect()}
    assert out[1] == "en" and out[2] == "de"
    assert out[3] == "fr" and out[4] == "es"
    assert out[5] == "und"


def test_language_id_ngram_short_docs(spark):
    from pydin_spark.operators.text import language_id_ngram
    df = spark.createDataFrame([(1, "ab"), (2, "")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in language_id_ngram(df).collect()}
    assert rows[1]["pred_lang"] == "und" and rows[2]["pred_lang"] == "und"


def test_sample_stratified_deterministic_and_rated(spark, views):
    from pydin_spark.operators import curation
    docs = spark.table("documents")
    a = curation.sample_stratified(docs, fraction=0.5, seed=7)
    b = curation.sample_stratified(docs, fraction=0.5, seed=7)
    ids_a = sorted(r[0] for r in a.select("doc_id").collect())
    assert ids_a == sorted(r[0] for r in b.select("doc_id").collect())
    n, total = len(ids_a), docs.count()
    assert 0.35 * total < n < 0.65 * total     # roughly the rate
    # per-stratum rates really differ per stratum
    s = curation.sample_stratified(docs, fraction=0.9, strata_col="lang",
                                   rates={"en": 0.1}, seed=7)
    by_lang = {r["lang"]: r["n"] for r in
               s.groupBy("lang").agg(__import__("pyspark.sql.functions",
                                                fromlist=["count"])
                                     .count("*").alias("n")).collect()}
    en_total = docs.where("lang = 'en'").count()
    de_total = docs.where("lang = 'de'").count()
    assert by_lang.get("en", 0) < 0.35 * en_total
    assert by_lang.get("de", 0) > 0.6 * de_total


def test_pack_sequences_invariants(spark, views):
    from pydin_spark.operators import curation
    docs = spark.table("documents")
    out = curation.pack_sequences(docs, capacity=512).collect()
    rows = sorted((r["doc_id"], r["n_tokens"], r["start_offset"],
                   r["bin_id"]) for r in out)
    # offsets are the exact running concatenation in id order
    expect = 0
    for doc_id, n_tokens, start, bin_id in rows:
        assert start == expect, (doc_id, start, expect)
        assert bin_id == start // 512
        expect += n_tokens
    assert expect == sum(r[1] for r in rows)


def test_curate_corpus_composition(spark, views):
    from pydin_spark.operators import curation, text
    docs = spark.table("documents")
    out = curation.curate_corpus(docs, language="en", min_quality=0.5,
                                 dedup_threshold=0.5)
    rows = out.collect()
    assert 0 < len(rows) < docs.count()
    kept_ids = {r["doc_id"] for r in rows}
    # every survivor is english and above the quality bar
    lang = {r["doc_id"]: r["pred_lang"]
            for r in text.language_id(docs).collect()}
    qual = {r["doc_id"]: r["quality"]
            for r in text.quality_score(docs).collect()}
    assert all(lang[i] == "en" and qual[i] >= 0.5 for i in kept_ids)


def test_asof_join_forward_direction(spark):
    """Forward as-of picks the EARLIEST right at-or-after each left ts;
    tolerance bounds the look-ahead."""
    import datetime as dt
    from pydin_spark.operators.relational import asof_join
    t = lambda m: dt.datetime(2024, 1, 1, 12, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 1, t(10)), (2, 1, t(40)), (3, 2, t(0))],
        "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(1, t(10), 100), (1, t(30), 101), (2, t(50), 200)],
        "user_id long, ts timestamp, rid long")
    out = {r["event_id"]: r["r_rid"] for r in
           asof_join(left, right, right_cols=("rid",),
                     direction="forward").collect()}
    assert out == {1: 100,   # inclusive: same-ts match
                   2: None,  # nothing after 12:40 for user 1
                   3: 200}   # next event after 12:00 for user 2
    # tolerance: user 2's match at +50min dropped with 30min bound
    out2 = {r["event_id"]: r["r_rid"] for r in
            asof_join(left, right, right_cols=("rid",),
                      direction="forward", tolerance="30 minutes")
            .collect()}
    assert out2[3] is None and out2[1] == 100


def test_range_join_matches_naive(spark):
    """Binned range join equals the naive BETWEEN cross filter for
    arbitrary bin widths (interval spans multiple bins)."""
    import datetime as dt
    from pydin_spark.operators.relational import range_join
    base = dt.datetime(2024, 3, 1)
    pts = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=7 * i)) for i in range(50)],
        "event_id long, ts timestamp")
    iv = spark.createDataFrame(
        [(100, base + dt.timedelta(minutes=10),
          base + dt.timedelta(minutes=65)),
         (200, base + dt.timedelta(minutes=60),
          base + dt.timedelta(minutes=62)),
         (300, base + dt.timedelta(minutes=300),
          base + dt.timedelta(minutes=301))],
        "incident_id long, w_start timestamp, w_end timestamp")
    for width in (60, 900, 7200):
        got = sorted((r["event_id"], r["incident_id"]) for r in
                     range_join(pts, iv, bin_width=width).collect())
        naive = sorted((r["event_id"], r["incident_id"]) for r in
                       pts.crossJoin(iv)
                       .where("ts BETWEEN w_start AND w_end").collect())
        assert got == naive and len(got) > 0


def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"),       # bigrams: ab ba ab ba ab -> 3 dups of 5
         (2, "x y z"),             # all bigrams distinct
         (3, "solo")],             # no bigrams at all
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert out[1]["dup_2gram_frac"] == pytest.approx(3 / 5)
    assert out[1]["top_token_frac"] == pytest.approx(3 / 6)
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[3]["dup_2gram_frac"] == 0.0
    assert out[3]["top_token_frac"] == 1.0


def test_gopher_filter_rules(spark):
    long_good = "the and " + " ".join(f"word{i:02d}" for i in range(40))
    repeated = " ".join(["the and"] * 30)                       # dup bigrams
    symbols = " ".join(["the and of"] * 12 + ["#"] * 9)
    df = spark.createDataFrame(
        [(1, long_good), (2, "too short"), (3, repeated), (4, symbols)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.gopher_quality_filter(df).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False          # below min_tokens
    assert out[3]["keep"] is False          # dup_2gram_frac ~ 1
    assert out[3]["dup_2gram_frac"] > 0.9
    assert out[4]["keep"] is False          # symbol ratio 9/45 = 0.2
    assert out[4]["symbol_ratio"] == pytest.approx(0.2)


def test_redact_pii_masks_and_counts(spark):
    from pydin_spark.operators import redact
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@sub.example.co.uk and jo@a.io now"),
         (2, "call +44 20 7946 0958 or +1 555 010 9999 ok"),
         (3, "hosts 192.168.0.1 and 10.0.255.255 up"),
         (4, "clean text with no pii at all")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact.redact_pii(df).collect()}
    assert out[1]["n_email"] == 2 and "<EMAIL>" in out[1]["redacted"]
    assert "@" not in out[1]["redacted"]
    assert out[2]["n_phone"] == 2
    assert "0958" not in out[2]["redacted"]
    assert out[3]["n_ip"] == 2
    assert out[3]["redacted"] == "hosts <IP> and <IP> up"
    assert out[4]["redacted"] == "clean text with no pii at all"
    assert (out[4]["n_email"], out[4]["n_phone"], out[4]["n_ip"]) == (0, 0, 0)


def test_quantize_int8_roundtrip(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5, 4.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in similarity.quantize_int8(emb).collect()}
    q1, s1 = out[1]["q"], out[1]["scale"]
    assert s1 == pytest.approx(127.0 / 4.0)
    assert q1 == [32, -63, 16, 127]         # floor(x*scale + 0.5)
    assert max(abs(v) for v in q1) == 127
    # dequantized error bounded by half a quantization step
    for orig, q in zip([1.0, -2.0, 0.5, 4.0], q1):
        assert abs(q / s1 - orig) <= 0.5 / s1 + 1e-12
    assert out[2]["scale"] == 1.0 and out[2]["q"] == [0, 0, 0, 0]


def test_vocab_counts_and_topk(spark):
    from pydin_spark.operators import curation
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "a")],
        "doc_id long, text string")
    out = {r["token"]: r for r in curation.vocab_counts(df).collect()}
    assert out["a"]["n_occurrences"] == 3 and out["a"]["n_docs"] == 2
    assert out["b"]["n_occurrences"] == 2 and out["b"]["n_docs"] == 2
    assert out["c"]["n_occurrences"] == 1 and out["c"]["n_docs"] == 1
    top = curation.vocab_counts(df, k=2).collect()
    assert [(r["token"], r["rank"]) for r in top] == [("a", 1), ("b", 2)]


def test_decontaminate_drops_exact_and_near(spark):
    from pydin_spark.operators import curation
    base = "the quick brown fox jumps over the lazy dog near the river"
    near = "the quick brown fox jumps over the lazy dog near the ocean"
    train = spark.createDataFrame(
        [(2, base),                       # exact dup of test doc 1
         (4, near),                       # near dup (1 word differs)
         (6, "completely unrelated words about engines and shuffles ok")],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(1, base)], "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  curation.decontaminate(train, test,
                                         threshold=0.5).collect())
    assert kept == [6]
    # higher threshold keeps the near-dup, still drops the exact one
    kept2 = sorted(r["doc_id"] for r in
                   curation.decontaminate(train, test,
                                          threshold=0.99).collect())
    assert kept2 == [4, 6]


def test_decontaminate_cap_is_symmetric(spark):
    """Hot-shingle truncation must shrink sizes and intersections
    together: an exact near-dup whose shared shingles are partly hot
    still scores jaccard 1.0 on the surviving shingles."""
    from pydin_spark.operators import curation
    unique = " ".join(f"u{i}" for i in range(12))
    hot = " ".join(f"h{i}" for i in range(12))
    fillers = [(100 + i, f"pad{i}a pad{i}b {hot}") for i in range(150)]
    test = spark.createDataFrame(
        fillers + [(1, f"{unique} {hot}")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(2, f"{unique} {hot}"),                      # same doc as test 1
         (4, "totally different text about other things entirely here")],
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  curation.decontaminate(train, test, threshold=0.9,
                                         max_shingle_freq=100).collect())
    assert kept == [4]


def test_connected_components_shapes(spark):
    """Chain, star, two components, isolated pair — the label must be the
    component minimum for every member, closed under transitivity."""
    pairs = spark.createDataFrame(
        [(1, 3), (2, 3),            # chain-through-3: {1,2,3}
         (10, 11), (10, 12), (10, 13),   # star: {10,11,12,13}
         (20, 21),                  # isolated pair
         (30, 31), (31, 32), (32, 33), (33, 34)],  # long path
        "id_a long, id_b long")
    out = {r["doc_id"]: r["component"]
           for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1,
                   10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20,
                   30: 30, 31: 30, 32: 30, 33: 30, 34: 30}


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(pairs).count() == 0


def test_dup_clusters_transitive_vs_greedy(spark):
    """A chain component (1,3),(2,3) where greedy pair-dedup keeps two
    survivors but the transitive cluster has exactly one representative."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "alpha beta gamma delta epsilon zeta eta"),
        (4, "totally different text about something else entirely here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clusters = dedup.dup_clusters(docs, threshold=0.3,
                                  max_shingle_freq=None).collect()
    comp = {r["doc_id"]: r["component"] for r in clusters}
    size = {r["doc_id"]: r["cluster_size"] for r in clusters}
    assert 4 not in comp                       # singleton never appears
    assert set(comp.values()) == {1}           # one transitive cluster
    assert all(size[d] == len(comp) for d in comp)


def test_tfidf_ranks_distinctive_terms(spark):
    docs = spark.createDataFrame(
        [(1, "apple apple apple shared"),
         (2, "banana banana shared shared"),
         (3, "cherry shared")],
        "doc_id long, text string")
    out = text.tfidf_top_terms(docs, k=2).collect()
    top = {r["doc_id"]: r["term"] for r in out if r["rnk"] == 1}
    # each doc's most characteristic term is its unique word, never the
    # corpus-wide 'shared'
    assert top == {1: "apple", 2: "banana", 3: "cherry"}
    by_doc = {(r["doc_id"], r["term"]): r for r in out}
    assert by_doc[(1, "apple")]["tf"] == 3
    assert by_doc[(1, "apple")]["df"] == 1


def test_hash_split_deterministic_partition(spark):
    from pydin_spark.operators import curation
    docs = spark.createDataFrame([(i,) for i in range(1000)],
                                 "doc_id long")
    a = curation.hash_split(docs).collect()
    b = curation.hash_split(docs).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    counts = {}
    for r in a:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > 800          # ~90%
    # append-consistency: adding docs never moves existing assignments
    more = spark.createDataFrame([(i,) for i in range(2000)],
                                 "doc_id long")
    bigger = {r["doc_id"]: r["split"]
              for r in curation.hash_split(more).collect()}
    for r in a:
        assert bigger[r["doc_id"]] == r["split"]


def test_mixture_sample_hits_target_shares(spark):
    from pydin_spark.operators import curation
    rows = [(i, "s%d" % (i % 2)) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # equal counts, 3:1 target — binding stratum s0 keeps all 1000,
    # s1 keeps ~333
    out = curation.mixture_sample(df, {"s0": 0.75, "s1": 0.25})
    counts = {r["source"]: r["n"] for r in out.groupBy("source")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["s0"] == 1000                  # binding stratum: all
    assert abs(counts["s1"] - 333) < 60          # hash-rate ~1/3
    # strata without a share are dropped entirely
    df2 = df.union(spark.createDataFrame([(9999, "other")],
                                         "doc_id long, source string"))
    out2 = curation.mixture_sample(df2, {"s0": 0.75, "s1": 0.25})
    assert out2.where("source = 'other'").count() == 0


def test_oov_rate_against_explicit_vocab(spark):
    from pydin_spark.operators import curation
    docs = spark.createDataFrame(
        [(1, "a a b zz"), (2, "a b"), (3, "zz qq")],
        "doc_id long, text string")
    vocab = spark.createDataFrame([("a",), ("b",)], "token string")
    out = {r["doc_id"]: (r["n_tokens"], r["n_oov"])
           for r in curation.oov_rate(docs, vocab=vocab).collect()}
    assert out == {1: (4, 1), 2: (2, 0), 3: (2, 2)}


def test_duplicate_spans_merges_overlaps(spark):
    # doc 1 and 2 share tokens 3..9 ('c d e f g h i'): three overlapping
    # hot 5-grams at starts 3,4,5 must merge into one span [3, 10)
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l"),
         (2, "x y c d e f g h i z w v"),
         (3, "p q r s t u m n o p2 q2 r2")],
        "doc_id long, text string")
    out = {(r["doc_id"]): (r["span_start"], r["span_end"],
                           r["n_dup_grams"])
           for r in text.duplicate_spans(docs, k=5).collect()}
    assert out == {1: (3, 10, 3), 2: (3, 10, 3)}


def test_duplicate_spans_within_doc_repeat(spark):
    # a 4-gram repeated twice inside ONE document counts toward
    # min_count (corpus-wide occurrences, not distinct docs)
    docs = spark.createDataFrame(
        [(1, "u v w x 1 2 3 u v w x 9 8 7")],
        "doc_id long, text string")
    spans = text.duplicate_spans(docs, k=4).collect()
    assert {(r["span_start"], r["span_end"]) for r in spans} \
        == {(1, 5), (8, 12)}


def test_drop_near_dups_transitive_fewer_survivors(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "alpha beta gamma delta epsilon zeta eta"),
        (4, "totally different text about something else entirely here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    greedy = {r["doc_id"] for r in dedup.drop_near_dups(
        docs, threshold=0.3, max_shingle_freq=None,
        method="exact").collect()}
    trans = {r["doc_id"] for r in dedup.drop_near_dups(
        docs, threshold=0.3, max_shingle_freq=None, method="exact",
        transitive=True).collect()}
    assert trans <= greedy
    assert trans == {1, 4}         # one survivor per component + singleton


def test_remove_duplicate_spans_keeps_first(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"),
         (2, "x y c d e f g z w v"),
         (3, "c d e f g m n o p q")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["text"], r["n_tokens_cut"])
           for r in text.remove_duplicate_spans(docs, k=5).collect()}
    # doc 1 owns the first (doc, pos) occurrence — untouched; later
    # occurrences are cut wherever they sit in the doc
    assert out[1] == ("a b c d e f g h i j", 0)
    assert out[2] == ("x y z w v", 5)
    assert out[3] == ("m n o p q", 5)
    # a doc shorter than k passes through verbatim
    short = spark.createDataFrame([(9, "tiny doc")],
                                  "doc_id long, text string")
    r = text.remove_duplicate_spans(short, k=5).first()
    assert (r["text"], r["n_tokens_cut"]) == ("tiny doc", 0)


def test_remove_duplicate_spans_keeps_null_text(spark):
    # a NULL-text doc passes through with NULL text and 0 tokens cut,
    # as in the text_dedup_spans oracle, in both rewrite operators
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, None), (4, "x y")],
        "doc_id long, text string")
    want = {1: ("a b c d e f", 0), 2: ("g", 5), 3: (None, 0),
            4: ("x y", 0)}
    owned = []
    rw, _ = text.rewrite_with_provenance(docs, k=5, owned_frames=owned)
    for out in (text.remove_duplicate_spans(docs, k=5), rw):
        assert {r["doc_id"]: (r["text"], r["n_tokens_cut"])
                for r in out.collect()} == want
    for f in owned:
        f.unpersist()


@pytest.mark.parametrize("op,kw", [
    ("duplicate_spans", {"k": 0}),
    ("remove_duplicate_spans", {"k": 0}),
    ("remove_duplicate_spans", {"k": -1}),
    ("span_provenance", {"k": 0}),
    ("rewrite_with_provenance", {"k": 0}),
    ("winnow_fingerprints", {"k": 0}),
    ("winnow_fingerprints", {"w": 0}),
])
def test_gram_operators_reject_nonpositive_sizes(spark, op, kw):
    docs = spark.createDataFrame([(1, "a b c d e f")],
                                 "doc_id long, text string")
    with pytest.raises(ValueError, match="must be >= 1"):
        getattr(text, op)(docs, **kw)


def test_remove_duplicate_spans_total_cut(spark):
    # two identical k-length docs: the second one is cut to nothing
    docs = spark.createDataFrame(
        [(1, "q w e r t"), (2, "q w e r t")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["text"], r["n_tokens_cut"])
           for r in text.remove_duplicate_spans(docs, k=5).collect()}
    assert out == {1: ("q w e r t", 0), 2: ("", 5)}


def test_incremental_deduper_batches(spark, tmp_path):
    d = dedup.IncrementalDeduper(str(tmp_path / "state"), threshold=0.5)
    b1 = spark.createDataFrame(
        [(i, f"unique doc number {i} alpha beta gamma delta epsilon {i}")
         for i in range(10)], "doc_id long, text string")
    assert d.check(b1).count() == 0            # no state yet
    assert d.ingest(b1).count() == 10
    b2 = spark.createDataFrame(
        [(100, f"unique doc number 3 alpha beta gamma delta epsilon 3"),
         (101, "completely novel content matching nothing else at all"),
         (102, "completely novel content matching nothing else at all")],
        "doc_id long, text string")
    pairs = d.check(b2).collect()
    assert {(r["id_new"], r["id_old"]) for r in pairs} == {(100, 3)}
    assert pairs[0]["jaccard"] == 1.0
    # ingest dedups within the batch (101/102) AND against state (100)
    assert sorted(r["doc_id"] for r in d.ingest(b2).collect()) == [101]
    # state now contains 101: a third batch duplicate of it is caught
    b3 = spark.createDataFrame(
        [(200, "completely novel content matching nothing else at all")],
        "doc_id long, text string")
    assert {(r["id_new"], r["id_old"])
            for r in d.check(b3).collect()} == {(200, 101)}


def test_incremental_matches_one_shot(spark, tmp_path):
    """Splitting the corpus into two batches must keep the same
    survivor set as one-shot minhash dedup (min-id policy holds because
    batches ingest in id order)."""
    rows = [(i, f"doc {i} with body tokens alpha beta gamma {i % 4}")
            for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    one_shot = {r["doc_id"] for r in dedup.drop_near_dups(
        docs, threshold=0.9, method="minhash").collect()}
    d = dedup.IncrementalDeduper(str(tmp_path / "st2"), threshold=0.9)
    got = set()
    for lo, hi in ((0, 10), (10, 20)):
        batch = docs.where(f"doc_id >= {lo} AND doc_id < {hi}")
        got |= {r["doc_id"] for r in d.ingest(batch).collect()}
    assert got == one_shot


def test_cluster_stats_and_survivor_policy(spark):
    pairs = spark.createDataFrame(
        [(1, 3, 0.9), (2, 3, 0.5), (10, 11, 0.7)],
        "id_a long, id_b long, jaccard double")
    stats = {r["component"]: (r["cluster_size"], r["n_pairs"],
                              r["min_weight"], r["max_weight"])
             for r in dedup.cluster_stats(pairs).collect()}
    assert stats == {1: (3, 2, 0.5, 0.9), 10: (2, 1, 0.7, 0.7)}
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (10, 5), (11, 7), (42, 1)],
        "doc_id long, quality long")
    edges = pairs.select("id_a", "id_b")
    best = {r["doc_id"] for r in dedup.pick_cluster_survivors(
        docs, edges, order_col="quality").collect()}
    assert best == {2, 11, 42}      # best-quality member per cluster
    by_id = {r["doc_id"] for r in dedup.pick_cluster_survivors(
        docs, edges).collect()}
    assert by_id == {1, 10, 42}     # min-id policy


def test_bigram_logprob_ranks_fluency(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "the cat sat on the mat"),
         (3, "mat the on sat cat the")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["avg_logprob"]
           for r in text.bigram_logprob(docs).collect()}
    assert out[1] == out[2]            # identical docs, identical score
    assert out[3] < out[1]             # scrambled order is less fluent
    # a one-token doc has no bigrams and is excluded, not crashed
    tiny = spark.createDataFrame([(9, "word")], "doc_id long, text string")
    assert text.bigram_logprob(tiny).count() == 0


def test_winnow_guarantee_shared_run(spark):
    """Any shared run of w+k-1 tokens must yield >= 1 shared
    fingerprint (the winnowing guarantee), and fingerprint density is
    far below one per position."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n"),
         (2, "z y a b c d e f g h w v u t")],   # shared 8-token run
        "doc_id long, text string")
    fp = text.winnow_fingerprints(docs, k=5, w=4)
    rows = fp.collect()
    shared = ({r["fp"] for r in rows if r["doc_id"] == 1}
              & {r["fp"] for r in rows if r["doc_id"] == 2})
    assert len(shared) >= 1
    # density: docs have 10 grams each; w=4 keeps well under all of them
    per_doc = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
    assert all(n < 10 for n in per_doc.values())


def test_winnow_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j % 7}x{j % 3}" for j in range(i, i + 20)))
         for i in range(5)], "doc_id long, text string")
    a = sorted(map(tuple, text.winnow_fingerprints(docs).collect()))
    b = sorted(map(tuple, text.winnow_fingerprints(docs).collect()))
    assert a == b


def test_incremental_deduper_maintain_compacts(spark, tmp_path):
    d = dedup.IncrementalDeduper(str(tmp_path / "st"), threshold=0.9)
    for b in range(3):
        d.ingest(spark.createDataFrame(
            [(b * 10 + i, f"doc {b * 10 + i} body alpha beta gamma {i}")
             for i in range(5)], "doc_id long, text string"))
    before = len(list((tmp_path / "st" / "buckets").glob("*.parquet")))
    out = d.maintain(spark, max_files=1)
    assert set(out) == {"buckets", "shingles", "sizes", "commits"}
    after = len(list((tmp_path / "st" / "buckets").glob("*.parquet")))
    assert after < before
    # state still answers correctly post-compaction
    hits = d.check(spark.createDataFrame(
        [(999, "doc 11 body alpha beta gamma 1")],
        "doc_id long, text string"))
    assert {r["id_old"] for r in hits.collect()} == {11}


def test_incremental_check_plan_stays_batch_bounded(spark, tmp_path):
    """The 100 TB contract of check(): per-batch work must not scan or
    aggregate the whole persisted state. Asserted at the plan level:
    (a) old sizes come from the persisted sizes/ table, never a
    groupBy over shingles/; (b) the candidate-id In filter is pushed
    into the parquet scans of shingles/ and sizes/."""
    d = dedup.IncrementalDeduper(str(tmp_path / "st"), threshold=0.5)
    for b in range(3):
        d.ingest(spark.createDataFrame(
            [(b * 10 + i, f"doc {b * 10 + i} text alpha beta gamma {i}")
             for i in range(5)], "doc_id long, text string"))
    batch = spark.createDataFrame(
        [(999, "doc 11 text alpha beta gamma 1")],
        "doc_id long, text string")
    owned = []
    lazy = d._check_lazy(batch, owned)
    plan = lazy._sc._jvm.PythonSQLUtils.explainString(
        lazy._jdf.queryExecution(), "formatted")
    for frame in owned:
        frame.unpersist()
    # every scan of the postings/sizes state carries the pushed In
    # filter on doc_id — state bytes read track the candidate set.
    # formatted explain lists each scan as a numbered node block with
    # Location / PushedFilters lines.
    blocks = plan.split("\n\n")
    state_blocks = [b for b in blocks
                    if "Location" in b and ("/shingles" in b
                                            or "/sizes" in b)]
    assert state_blocks, plan
    for blk in state_blocks:
        # a 1-element candidate set folds In(...) to EqualTo(...)
        assert "In(doc_id" in blk or "EqualTo(doc_id" in blk, blk
    # the bucket-state scan carries the batch's bucket-hash pushdown too
    bucket_blocks = [b for b in blocks
                     if "Location" in b and "/buckets" in b]
    assert bucket_blocks, plan
    for blk in bucket_blocks:
        assert "In(bh" in blk or "EqualTo(bh" in blk, blk
    # and the correct answer still comes out
    assert {r["id_old"] for r in d.check(batch).collect()} == {11}


def test_incremental_string_ids(spark, tmp_path):
    """Configurable id column with string type: the empty-state result
    and the stateful path agree on schema (no long/string cast)."""
    d = dedup.IncrementalDeduper(str(tmp_path / "st"), id_col="name",
                                 threshold=0.9)
    b1 = spark.createDataFrame(
        [("a", "the quick brown fox jumps over the lazy dog"),
         ("b", "completely different content about spark engines")],
        "name string, text string")
    empty = d.check(b1)
    assert [f.dataType.simpleString() for f in empty.schema.fields] \
        == ["string", "string", "double"]
    assert d.ingest(b1).count() == 2
    b2 = spark.createDataFrame(
        [("c", "the quick brown fox jumps over the lazy dog")],
        "name string, text string")
    pairs = d.check(b2)
    assert pairs.schema == empty.schema
    assert {(r["id_new"], r["id_old"]) for r in pairs.collect()} \
        == {("c", "a")}


def test_incremental_uncommitted_state_invisible(spark, tmp_path):
    """Atomic multi-table append: state rows whose batch id has no
    commit row are ignored by readers (crash between table writes
    can't corrupt answers) and swept by maintain()."""
    d = dedup.IncrementalDeduper(str(tmp_path / "st"), threshold=0.9)
    d.ingest(spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string"))
    # simulate a crashed append: bucket rows written, no commit row
    orphan = spark.createDataFrame(
        [(99, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    sh, buckets = d._new_state(orphan)
    buckets.select("*", F.lit("deadbeef").alias("batch")) \
        .write.mode("append").parquet(str(tmp_path / "st" / "buckets"))
    sh.unpersist()
    probe = spark.createDataFrame(
        [(500, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    # 99's orphaned buckets must not surface as a candidate; committed
    # doc 1 still matches
    assert {r["id_old"] for r in d.check(probe).collect()} == {1}
    out = d.maintain(spark, max_files=0)
    committed = spark.read.parquet(str(tmp_path / "st" / "buckets"))
    assert committed.where("batch = 'deadbeef'").count() == 0


def test_incremental_survivors_written_before_state(spark, tmp_path):
    """ingest(survivors_path=...) sinks survivors BEFORE the state
    commit, so a crash between the two replays to the same survivors
    (at-least-once, never silent loss)."""
    d = dedup.IncrementalDeduper(str(tmp_path / "st"), threshold=0.9)
    sink = str(tmp_path / "survivors")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string")
    # crash injection: fail the state append after the sink write
    boom = RuntimeError("crash between sink and state commit")
    orig = d._append_state
    def exploding(survivors, owned):
        raise boom
    d._append_state = exploding
    with pytest.raises(RuntimeError):
        d.ingest(docs, survivors_path=sink)
    # survivors reached the sink even though the state append died...
    assert spark.read.parquet(sink).count() == 1
    # ...and the replayed batch still yields (and re-sinks) the doc,
    # because nothing entered the state
    d._append_state = orig
    replay = d.ingest(docs, survivors_path=sink)
    assert replay.count() == 1
    by_id = spark.read.parquet(sink).groupBy("doc_id").count().collect()
    assert by_id[0]["count"] == 2  # at-least-once: dedup by id downstream


def test_winnow_matches_reports_pair(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n"),
         (2, "z y a b c d e f g h w v u t"),
         (3, "p q r s t0 u0 v0 w0 x0 y0 z0 a0 b0 c0")],
        "doc_id long, text string")
    out = text.winnow_matches(docs, k=5, w=3, min_shared=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    # the shared run 'a b c d e f g h' starts at pos 1 in doc 1 and
    # pos 3 in doc 2 — the extents must sit inside it
    assert r["a_min_pos"] >= 1 and r["b_min_pos"] >= 3
    assert r["n_shared"] >= 1


def test_winnow_matches_cross_corpus(spark):
    train = spark.createDataFrame(
        [(11, "a b c d e f g h i j k l m n")],
        "doc_id long, text string")
    ref = spark.createDataFrame(
        [(2, "z y a b c d e f g h w v u t"),
         (4, "totally unrelated reference corpus content here x y z q")],
        "doc_id long, text string")
    out = text.winnow_matches(train, k=5, w=3, min_shared=1,
                              other=ref).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(11, 2)}


def test_incremental_checkpoint_collapses_commit_log(spark, tmp_path):
    """checkpoint_state: N committed batches become one, answers are
    unchanged, and the dead per-batch rows are swept by compaction."""
    d = dedup.IncrementalDeduper(str(tmp_path / "st"), threshold=0.9)
    for b in range(4):
        d.ingest(spark.createDataFrame(
            [(b * 10 + i, f"doc {b * 10 + i} body alpha beta gamma {i}")
             for i in range(3)], "doc_id long, text string"))
    commits = str(tmp_path / "st" / "commits")
    assert spark.read.parquet(commits).count() == 4
    probe = spark.createDataFrame(
        [(999, "doc 21 body alpha beta gamma 1")],
        "doc_id long, text string")
    before = {(r["id_new"], r["id_old"]) for r in d.check(probe).collect()}

    out = d.checkpoint_state(spark)
    assert out["batches_before"] == 4
    spark.catalog.refreshByPath(commits)
    assert spark.read.parquet(commits).count() == 1
    after = {(r["id_new"], r["id_old"]) for r in d.check(probe).collect()}
    assert after == before == {(999, 21)}

    # the sweep drops the now-uncommitted per-batch rows
    d.maintain(spark, max_files=0)
    buckets = spark.read.parquet(str(tmp_path / "st" / "buckets"))
    assert buckets.select("batch").distinct().count() == 1
    assert {(r["id_new"], r["id_old"])
            for r in d.check(probe).collect()} == {(999, 21)}
    # and maintain() auto-checkpoints past the threshold
    d.ingest(spark.createDataFrame(
        [(500, "wholly new content zeta eta theta iota kappa")],
        "doc_id long, text string"))
    out = d.maintain(spark, max_files=10_000, checkpoint_above=1)
    assert out["collapsed_batches"] == 2


def test_leakage_safe_split_keeps_clusters_together(spark):
    """The contamination guard: near-dup documents always share a
    split; the naive per-doc hash split provably leaks on the same
    fixture (that's WHY the operator exists)."""
    from pydin_spark.operators import curation
    rows = []
    for g in range(40):                    # 40 clusters of 3 near-dups
        base = " ".join(f"tok{g}w{j}" for j in range(9))  # group-unique
        for v in range(3):
            rows.append((g * 10 + v, f"{base} tail{v}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curation.leakage_safe_split(docs, threshold=0.5,
                                      max_shingle_freq=None).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["group_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())   # never split up
    assert len(by_group) == 40
    splits = {r["split"] for r in out}
    assert "train" in splits and len(splits) >= 2
    # the naive split DOES separate near-dups here — the leak is real
    naive = curation.hash_split(docs).collect()
    naive_groups = {}
    for r in naive:
        naive_groups.setdefault(r["doc_id"] // 10, set()).add(r["split"])
    assert any(len(s) > 1 for s in naive_groups.values())
    # append-consistency carries over: re-running on a superset never
    # moves an existing cluster
    more = spark.createDataFrame(
        [(9000 + i, f"wholly new content alpha beta gamma {i} delta")
         for i in range(5)], "doc_id long, text string")
    out2 = curation.leakage_safe_split(docs.unionByName(more),
                                       threshold=0.5,
                                       max_shingle_freq=None).collect()
    before = {r["doc_id"]: r["split"] for r in out}
    after = {r["doc_id"]: r["split"] for r in out2}
    assert all(after[d] == s for d, s in before.items())


def test_span_provenance_points_at_first_occurrence(spark):
    from pydin_spark.operators import text as t
    docs = spark.createDataFrame(
        [(1, "a b c d e x1 x2 x3 x4 x5"),
         (2, "p q a b c d e r s t u v"),     # copies doc1 tokens 1-5
         (3, "m n o p2 q2 a b c d e w")],    # copies the same run
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           t.span_provenance(docs, k=5, min_count=2).collect()}
    assert set(out) == {2, 3}                # doc 1 is the keeper
    assert out[2]["src_doc_id"] == 1 and out[2]["src_pos"] == 1
    assert out[3]["src_doc_id"] == 1 and out[3]["src_pos"] == 1
    assert out[2]["span_start"] == 3         # 'a' at token 3 in doc 2
    assert out[2]["n_src_docs"] == 1
    # within-doc repetition: the second occurrence's keeper is the
    # first occurrence in the SAME document
    rep = spark.createDataFrame(
        [(9, "u v w x y z1 z2 z3 u v w x y")],
        "doc_id long, text string")
    r = t.span_provenance(rep, k=5, min_count=2).collect()
    assert len(r) == 1
    assert r[0]["src_doc_id"] == 9 and r[0]["src_pos"] == 1
    assert r[0]["span_start"] == 9


def test_sample_to_token_budget_semantics(spark):
    from pydin_spark.operators import curation
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(10 + i % 7)))
         for i in range(60)], "doc_id long, text string")
    budget = 300
    out = curation.sample_to_token_budget(docs, budget).collect()
    total = sum(r["n_tokens"] for r in out)
    last = max(out, key=lambda r: r["start_offset"])
    # the selection crosses the budget by at most the last doc
    assert total >= budget
    assert total - last["n_tokens"] < budget
    assert all(r["start_offset"] < budget for r in out)
    # deterministic + append-consistent: growing the corpus never
    # evicts an already-selected doc at the same budget
    more = docs.unionByName(spark.createDataFrame(
        [(1000 + i, " ".join(f"z{i}q{j}" for j in range(12)))
         for i in range(20)], "doc_id long, text string"))
    grown = {r["doc_id"] for r in
             curation.sample_to_token_budget(more, budget).collect()}
    first = {r["doc_id"] for r in out}
    # hash order is global: new docs can only be INSERTED into the
    # stream, pushing later docs out — but every kept doc that hashes
    # before all insertions keeps its offset; at minimum determinism:
    rerun = {r["doc_id"] for r in
             curation.sample_to_token_budget(docs, budget).collect()}
    assert rerun == first
    assert len(grown) > 0


def test_chunk_text_windows(spark):
    from pydin_spark.operators.text import chunk_text
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),   # 10 toks
         (2, "a b c"),                                 # short: 1 chunk
         (3, "")],                                     # degenerate
        "doc_id long, text string")
    out = chunk_text(docs, chunk_tokens=4, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 0,2,4,6 -> 4 chunks (start 6 covers tokens 7..10)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk for r in c1] == [
        "t0 t1 t2 t3", "t2 t3 t4 t5", "t4 t5 t6 t7", "t6 t7 t8 t9"]
    assert [r.n_tokens for r in c1] == [4, 4, 4, 4]
    # consecutive chunks share exactly `overlap` tokens
    for a, b in zip(c1, c1[1:]):
        assert a.chunk.split()[2:] == b.chunk.split()[:2]
    assert [r.chunk for r in by_doc[2]] == ["a b c"]
    assert len(by_doc[3]) == 1
    with pytest.raises(ValueError):
        chunk_text(docs, chunk_tokens=4, overlap=4)


def test_chunk_text_covers_every_token(spark, views):
    from pydin_spark.operators.text import chunk_text
    docs = spark.table("documents").limit(50)
    out = chunk_text(docs, chunk_tokens=32, overlap=8)
    # reassembling non-overlap prefixes + last chunk == original text
    rebuilt = (out.withColumn(
        "piece",
        F.when(F.col("chunk_id") == 0, F.col("chunk")).otherwise(
            F.array_join(F.slice(F.split(F.col("chunk"), " "), 9, 32),
                         " ")))
        .groupBy("doc_id")
        .agg(F.array_join(F.transform(
            F.array_sort(F.collect_list(F.struct("chunk_id", "piece"))),
            lambda s: s.getField("piece")), " ").alias("text2")))
    joined = docs.join(rebuilt, "doc_id")
    bad = joined.where(F.col("text") != F.col("text2")).count()
    assert bad == 0


def test_dsir_weights_prefer_target_like_docs(spark):
    from pydin_spark.operators.curation import (importance_resample,
                                                importance_weights)
    # target: docs about cats; raw: half cat-like, half noise
    tgt = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat with the cat") for i in range(8)],
        "doc_id long, text string")
    raw = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(10)]
        + [(50 + i, f"zx{i} qwerty uio asdf ghjk") for i in range(10)],
        "doc_id long, text string")
    w = {r.doc_id: r.log_weight
         for r in importance_weights(raw, tgt).collect()}
    cat_w = [w[i] for i in range(10)]
    noise_w = [w[50 + i] for i in range(10)]
    assert min(cat_w) > max(noise_w)
    # resample at k=10 should be dominated by cat-like docs
    top = importance_resample(raw, tgt, k=10).collect()
    assert len(top) == 10
    assert sorted(r.rank for r in top) == list(range(1, 11))
    assert sum(1 for r in top if r.doc_id < 50) >= 8
    # deterministic across invocations
    again = importance_resample(raw, tgt, k=10).collect()
    assert sorted(map(tuple, top)) == sorted(map(tuple, again))


def test_dsir_weights_cover_all_raw_docs(spark, views):
    from pydin_spark.operators.curation import importance_weights
    docs = spark.table("documents")
    w = importance_weights(docs, docs.where("lang = 'en'"))
    assert w.count() == docs.count()
    assert w.where(F.col("log_weight").isNull()).count() == 0


def test_rewrite_with_provenance_equals_separate_ops(spark, views):
    from pydin_spark.operators.text import (remove_duplicate_spans,
                                            rewrite_with_provenance,
                                            span_provenance)
    docs = spark.table("documents").limit(300)
    owned = []
    rw, prov = rewrite_with_provenance(docs, k=20, min_count=2,
                                       owned_frames=owned)
    got_rw = sorted(map(tuple, rw.collect()))
    got_prov = sorted(map(tuple, prov.collect()))
    want_rw = sorted(map(tuple,
                         remove_duplicate_spans(docs, k=20,
                                                min_count=2).collect()))
    want_prov = sorted(map(tuple,
                           span_provenance(docs, k=20,
                                           min_count=2).collect()))
    assert got_rw == want_rw
    assert got_prov == want_prov
    assert len(owned) == 1
    for f in owned:
        f.unpersist()


def test_semantic_dedup_properties(spark, emb):
    from pydin_spark.operators.similarity import semantic_dedup
    full = semantic_dedup(emb, threshold=0.4, nlist=1)
    clustered = semantic_dedup(emb, threshold=0.4, nlist=4, max_iter=3)
    s_full = {r.vec_id for r in full.collect()}
    s_clus = {r.vec_id for r in clustered.collect()}
    # clustering can only MISS cross-cluster pairs -> fewer drops:
    # the exact survivors are a subset of any pruned config's
    assert s_full <= s_clus
    assert len(s_full) < emb.count()  # the fixture does contain dups
    # keeper is always the smallest id of its duplicate set: id 0 (or
    # the overall min id) can never be dropped under first-wins
    assert min(r.vec_id for r in emb.select("vec_id").collect()) in s_full
    # deterministic across invocations (KMeans seeded)
    again = {r.vec_id for r in
             semantic_dedup(emb, threshold=0.4, nlist=4,
                            max_iter=3).collect()}
    assert again == s_clus


def test_pack_sequences_string_ids(spark):
    """Chunk ids (e.g. 'doc_chunk' strings) must pack as well as
    bigint doc ids — the output id keeps the input type instead of a
    hardcoded long schema."""
    from pydin_spark.operators import curation
    docs = spark.createDataFrame(
        [(f"d{i}_c0", "one two three four") for i in range(6)],
        "doc_id string, text string")
    out = curation.pack_sequences(docs, capacity=8)
    rows = out.collect()
    assert len(rows) == 6
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    assert {r.bin_id for r in rows} == {0, 1, 2}  # 4 tokens, 2 docs/bin
    budget = curation.sample_to_token_budget(docs, budget=9)
    assert budget.schema["doc_id"].dataType.simpleString() == "string"
    assert budget.count() >= 2


def test_corpus_report_hand_computed(spark):
    from pydin_spark.operators.curation import corpus_report
    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "a b c", "s2"),   # cross-source dup
         (3, "x y", "s1"), (4, "p q r s", "s2")],
        "doc_id long, text string, source string")   # no lang column
    got = {r.stratum: r for r in corpus_report(docs).collect()}
    assert got["s1"].n_docs == 2 and got["s1"].n_tokens == 5
    # the s1 copy of the cross-source pair counts as a dup in s1 too
    assert got["s1"].n_exact_dups == 1 and got["s2"].n_exact_dups == 1
    assert got["s1"].dup_rate == 0.5
    assert got["s2"].avg_tokens == 3.5
    assert got["s1"].n_langs == 0   # lang column absent -> 0 distinct


def test_leakage_split_on_embedding_pairs(spark, emb):
    """ROADMAP: leakage_safe_split grouping on EMBEDDING similarity —
    semantic_dup_pairs feeds the same cluster-closure split machinery
    via pairs=, so no near-identical vectors straddle splits."""
    from pydin_spark.operators.curation import leakage_safe_split
    from pydin_spark.operators.dedup import connected_components
    from pydin_spark.operators.similarity import semantic_dup_pairs
    pairs = semantic_dup_pairs(emb, threshold=0.4, nlist=1)
    split = leakage_safe_split(emb, id_col="vec_id", pairs=pairs)
    rows = split.collect()
    assert len(rows) == emb.count()
    by_id = {r.vec_id: r for r in rows}
    # every pair's two sides share group AND split
    for p in pairs.collect():
        a, b = by_id[p.id_a], by_id[p.id_b]
        assert a.group_id == b.group_id
        assert a.split == b.split
    # pair surface agrees with the survivor surface: survivors =
    # ids that never appear as the greater side of a pair
    from pydin_spark.operators.similarity import semantic_dedup
    surv = {r.vec_id for r in
            semantic_dedup(emb, threshold=0.4, nlist=1).collect()}
    losers = {p.id_b for p in pairs.collect()}
    assert surv == {r.vec_id for r in rows} - losers


def test_importance_weights_from_stored_features(spark, views):
    """Stored-feature path: precomputed (id, bucket, c) frames give
    bit-identical weights to the text path — the multi-domain sweep
    amortization."""
    from pydin_spark.operators.curation import (hashed_ngram_buckets,
                                                importance_weights)
    docs = spark.table("documents").limit(200)
    tgt = docs.where("lang = 'en'")
    direct = {r.doc_id: r.log_weight
              for r in importance_weights(docs, tgt).collect()}
    f_raw = hashed_ngram_buckets(docs)
    f_tgt = f_raw.join(tgt.select("doc_id"), "doc_id", "left_semi")
    stored = {r.doc_id: r.log_weight
              for r in importance_weights(
                  docs, tgt, raw_features=f_raw,
                  target_features=f_tgt).collect()}
    assert stored == direct


def _ref_bpe(word_freqs, k, min_pair_freq=2):
    """Driver-side reference BPE learner (Sennrich-style) for
    equivalence testing."""
    import collections
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(k):
        pairs = collections.Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        best, n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_freq:
            break
        merges.append(best)
        new = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == best[0]
                        and syms[i + 1] == best[1]):
                    out.append(best[0] + best[1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new[key] = new.get(key, 0) + f
        vocab = new
    return merges


def test_learn_bpe_merges_matches_reference(spark, views):
    from collections import Counter

    from pydin_spark.operators.text import bpe_tokenize, learn_bpe_merges
    docs = spark.table("documents").limit(80)
    freqs = Counter()
    for r in docs.collect():
        for w in r.text.split(" "):
            if w:
                freqs[w] += 1
    want = _ref_bpe(freqs, k=25)
    got = learn_bpe_merges(docs, k=25)
    assert got == want
    # encode: tokens reassemble to the original words, and the learned
    # merges actually compress (fewer symbols than characters)
    enc = bpe_tokenize(docs.limit(10), got)
    for r in enc.join(docs, "doc_id").collect():
        rebuilt = "".join(r.tokens).replace("</w>", " ").rstrip()
        assert rebuilt == r.text.replace("  ", " ").strip() \
            or rebuilt == "".join(r.text.split(" ")) \
            or rebuilt == " ".join(w for w in r.text.split(" ") if w)
        assert r.n_tokens < len(r.text.replace(" ", "")) + \
            len(r.text.split(" "))


def test_knn_graph_exact_with_ties(spark):
    """knn_graph must equal brute force even with exact-duplicate
    vectors (cosine ties at 1.0 across blocks) — the tie-slack
    candidate emission is what keeps the superset provable."""
    import math
    from pydin_spark.operators.similarity import (knn_graph, _dot,
                                                  _norm)
    from pyspark.sql import Window
    # 24 vectors in 3 duplicated groups of 8 → heavy tie structure
    rows = [(i, [math.cos(i % 3), math.sin(i % 3), float(i % 3)])
            for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = knn_graph(emb, k=4, rows_per_block=5)  # force several blocks
    v = emb.select("vec_id", F.col("embedding").alias("v"))
    a = v.select(F.col("vec_id").alias("src_id"), F.col("v").alias("va"))
    b = v.select(F.col("vec_id").alias("nbr_id"), F.col("v").alias("vb"))
    cos = (_dot(F.col("va"), F.col("vb"))
           / (_norm(F.col("va")) * _norm(F.col("vb"))))
    p = (a.join(b, F.col("src_id") != F.col("nbr_id"))
         .select("src_id", "nbr_id", cos.alias("cosine")))
    w = Window.partitionBy("src_id").orderBy(F.col("cosine").desc(),
                                             "nbr_id")
    ref = p.withColumn("rnk", F.row_number().over(w)).where("rnk <= 4")
    canon = lambda df: sorted(map(str, (tuple(r) for r in df.collect())))
    assert canon(got) == canon(ref)


def test_temperature_mixture_scaling(spark, views):
    """alpha=0.5: smallest stratum keeps everything (rate 1), larger
    strata keep ~sqrt(c_min/c_s); alpha=1 keeps the natural mixture
    (every row); the sample is deterministic."""
    from pydin_spark.operators.curation import temperature_mixture
    docs = spark.table("documents")
    natural = temperature_mixture(docs, alpha=1.0)
    assert natural.count() == docs.count()
    out = temperature_mixture(docs, alpha=0.5)
    again = temperature_mixture(docs, alpha=0.5)
    canon = lambda df: sorted(r.doc_id for r in df.select("doc_id").collect())
    assert canon(out) == canon(again)
    counts = {r.source: r.n for r in
              docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    kept = {r.source: r.n for r in
            out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    cmin = min(counts.values())
    smallest = min(counts, key=counts.get)
    assert kept[smallest] == counts[smallest]
    import math
    for s, c in counts.items():
        expect = c * math.sqrt(cmin / c)
        # md5 uniform: binomial deviation, generous 6-sigma bound
        sd = math.sqrt(expect) * 6 + 3
        assert abs(kept.get(s, 0) - expect) <= sd, (s, kept.get(s), expect)


def test_keep_top_fraction_quota_and_approx(spark):
    from pydin_spark.operators.curation import keep_top_fraction
    rows = [(i, "a" if i < 40 else "b", float(i % 37) + i * 1e-3)
            for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, src string, score double")
    out = keep_top_fraction(df, "score", 0.25, strata_col="src")
    kept = {r.src: r.n for r in
            out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert kept == {"a": 10, "b": 15}  # ceil(0.25*40), ceil(0.25*60)
    # every kept row outscores every dropped row within its stratum
    mins = {r.src: r.m for r in
            out.groupBy("src").agg(F.min("score").alias("m")).collect()}
    dropped = df.join(out.select("doc_id"), "doc_id", "left_anti")
    for r in dropped.collect():
        assert r.score <= mins[r.src]
    # the sketch threshold keeps a superset of the exact quota: the
    # cutoff is the value AT the (1-fraction) rank, which the >= filter
    # admits — at most one boundary row extra per stratum
    approx = keep_top_fraction(df, "score", 0.25, strata_col="src",
                               approx=True)
    canon = lambda d: sorted(r.doc_id for r in d.select("doc_id").collect())
    a_ids, e_ids = set(canon(approx)), set(canon(out))
    assert e_ids <= a_ids
    assert len(a_ids) - len(e_ids) <= 2  # one boundary row per stratum


def test_keep_top_fraction_tie_quota(spark):
    """All-equal scores: the (score DESC, id) quota still keeps exactly
    ceil(fraction*n) rows — deterministically the lowest ids."""
    from pydin_spark.operators.curation import keep_top_fraction
    df = spark.createDataFrame([(i, 1.0) for i in range(10)],
                               "doc_id long, score double")
    out = keep_top_fraction(df, "score", 0.3)
    assert sorted(r.doc_id for r in out.collect()) == [0, 1, 2]


def test_sample_exact_k(spark, views):
    """sample_exact_k: size guarantee per stratum, determinism, and
    small strata keep everything."""
    from pydin_spark.operators.curation import sample_exact_k
    docs = spark.table("documents")
    out = sample_exact_k(docs, k=7, strata_col="source")
    per = {r.source: r.n for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    totals = {r.source: r.n for r in
              docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for s, n in totals.items():
        assert per.get(s, 0) == min(7, n)
    canon = lambda d: sorted(r.doc_id for r in d.select("doc_id").collect())
    assert canon(out) == canon(sample_exact_k(docs, k=7,
                                              strata_col="source"))
    # global draw (no strata): exactly k rows
    assert sample_exact_k(docs, k=11).count() == 11
    # k beyond the corpus keeps everything
    assert sample_exact_k(docs.limit(3), k=100).count() == 3


def test_keep_top_fraction_quota_no_fp_overshoot(spark):
    """0.07 * 100 = 7.000000000000001 in doubles; the quota must still
    be ceil(7) = 7, not 8."""
    from pydin_spark.operators.curation import keep_top_fraction
    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               "doc_id long, score double")
    assert keep_top_fraction(df, "score", 0.07).count() == 7


def test_funnel_within_and_order(spark):
    """Hand-computed funnel: strictly-after chaining, first-completion
    semantics, and the `within` journey bound."""
    from pydin_spark.operators.relational import funnel
    rows = [
        # u1 completes all three in order
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:05:00", "click"),
        (1, "2024-01-01 10:10:00", "purchase"),
        # u2 clicks BEFORE viewing: click must not count
        (2, "2024-01-01 09:00:00", "click"),
        (2, "2024-01-01 10:00:00", "view"),
        # u3 views only
        (3, "2024-01-01 08:00:00", "view"),
        # u4 completes but the purchase is 2 days after the view
        (4, "2024-01-01 08:00:00", "view"),
        (4, "2024-01-01 08:30:00", "click"),
        (4, "2024-01-03 09:00:00", "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.step: (r.n_users, r.conversion)
           for r in funnel(ev, ["view", "click", "purchase"]).collect()}
    assert out["view"] == (4, 1.0)
    assert out["click"] == (2, 0.5)       # u1, u4 (u2 clicked early)
    assert out["purchase"] == (2, 0.5)    # u1, u4
    bounded = {r.step: r.n_users
               for r in funnel(ev, ["view", "click", "purchase"],
                               within="1 day").collect()}
    assert bounded["purchase"] == 1       # u4's purchase falls outside


def test_retention_cohorts_hand_case(spark):
    from pydin_spark.operators.relational import retention_cohorts
    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-02 11:00:00"),
        (1, "2024-01-04 09:00:00"),
        (2, "2024-01-01 12:00:00"),
        (3, "2024-01-02 08:00:00"), (3, "2024-01-03 08:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(str(r.cohort)[:10], r.offset): (r.n_active, r.n_cohort)
           for r in retention_cohorts(ev, bucket="1 day").collect()}
    assert out[("2024-01-01", 0)] == (2, 2)   # u1, u2
    assert out[("2024-01-01", 1)] == (1, 2)   # u1 back next day
    assert out[("2024-01-01", 3)] == (1, 2)   # u1 on day 4
    assert out[("2024-01-02", 0)] == (1, 1)   # u3's own cohort
    assert out[("2024-01-02", 1)] == (1, 1)
    assert ("2024-01-01", 2) not in out       # nobody active day 3


def test_event_paths_and_gap_fill_hand_cases(spark):
    from pydin_spark.operators.relational import (event_paths,
                                                  fill_gaps_locf)
    rows = [
        (1, 1, "2024-01-01 10:00:00", "view", 1.0),
        (2, 1, "2024-01-01 10:05:00", "click", 2.0),
        (3, 1, "2024-01-01 13:10:00", "purchase", 4.0),
        (4, 2, "2024-01-01 09:00:00", "view", 8.0),
        (5, 2, "2024-01-01 09:30:00", "click", 16.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, "
              "event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    paths = {r.path: r.n_users for r in event_paths(ev).collect()}
    assert paths == {"view>click>purchase": 1, "view>click": 1}
    filled = {(r.user_id, str(r.bucket)): (r.value_filled, r.is_gap)
              for r in fill_gaps_locf(ev, bucket="1 hour").collect()}
    # u1: observed 10:00 (max of 1,2), gaps 11:00/12:00 carry 2.0,
    # observed 13:00
    assert filled[(1, "2024-01-01 10:00:00")] == (2.0, False)
    assert filled[(1, "2024-01-01 11:00:00")] == (2.0, True)
    assert filled[(1, "2024-01-01 12:00:00")] == (2.0, True)
    assert filled[(1, "2024-01-01 13:00:00")] == (4.0, False)
    # u2: single bucket, no gaps
    assert filled[(2, "2024-01-01 09:00:00")] == (16.0, False)
    assert len(filled) == 5


def test_samplers_composite_strata(spark, views):
    """strata_col accepts a list of columns: quotas, temperature rates
    and exact-k draws are computed per (source, lang) combination."""
    from pydin_spark.operators.curation import (keep_top_fraction,
                                                sample_exact_k,
                                                temperature_mixture)
    docs = spark.table("documents")
    combos = {(r.source, r.lang): r.n for r in
              docs.groupBy("source", "lang")
              .agg(F.count("*").alias("n")).collect()}

    per = {(r.source, r.lang): r.n for r in
           sample_exact_k(docs, k=3, strata_col=["source", "lang"])
           .groupBy("source", "lang").agg(F.count("*").alias("n"))
           .collect()}
    for key, n in combos.items():
        assert per.get(key, 0) == min(3, n)

    kept = {(r.source, r.lang): r.n for r in
            keep_top_fraction(docs, "n_chars", 0.5,
                              strata_col=["source", "lang"])
            .groupBy("source", "lang").agg(F.count("*").alias("n"))
            .collect()}
    import math
    for key, n in combos.items():
        assert kept.get(key, 0) == math.ceil(round(0.5 * n, 9))

    # smallest (source, lang) combo keeps everything at alpha=0.5
    tm = temperature_mixture(docs, alpha=0.5,
                             strata_col=["source", "lang"])
    got = {(r.source, r.lang): r.n for r in
           tm.groupBy("source", "lang").agg(F.count("*").alias("n"))
           .collect()}
    smallest = min(combos, key=combos.get)
    assert got[smallest] == combos[smallest]
    # single-col str path unchanged (regression vs the oracle query)
    a = sorted(r.doc_id for r in
               temperature_mixture(docs, alpha=0.5,
                                   strata_col="source")
               .select("doc_id").collect())
    b = sorted(r.doc_id for r in
               temperature_mixture(docs, alpha=0.5,
                                   strata_col=["source"])
               .select("doc_id").collect())
    assert a == b
