"""Round-6 operator additions: edit-distance dedup, char entropy,
sentence segmentation, curriculum ordering, fixed-point PageRank,
seeded random projection."""

import math

import pytest
from pyspark.sql import functions as F

from pydin_spark.operators.curation import curriculum_order
from pydin_spark.operators.dedup import edit_dup_pairs
from pydin_spark.operators.graph import SCALE, pagerank
from pydin_spark.operators.similarity import (project_embeddings,
                                              projection_signs)
from pydin_spark.operators.text import char_entropy, split_sentences


# ---------------------------------------------------------------- text

def test_char_entropy_known_values(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abab"), (4, "")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in char_entropy(df).collect()}
    # constant string -> 0; two equally likely chars -> ln 2
    assert out[1]["entropy6"] == "0.000000"
    assert out[1]["n_chars"] == 4
    assert out[2]["entropy6"] == f"{math.log(2):.6f}"
    assert out[3]["entropy6"] == f"{math.log(2):.6f}"
    # empty text produces no row (per-token operator convention)
    assert 4 not in out


def test_char_entropy_matches_python_reference(spark):
    texts = ["the quick brown fox", "zzzzzz zz", "a b c d e f g"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id int, text string")
    got = {r["doc_id"]: r["entropy6"] for r in char_entropy(df).collect()}
    for i, t in enumerate(texts):
        hist = {}
        for ch in t:
            hist[ch] = hist.get(ch, 0) + 1
        n = sum(hist.values())
        h = math.log(n) - sum(c * math.log(c) for c in hist.values()) / n
        assert got[i] == f"{h:.6f}"


def test_split_sentences_rules(spark):
    df = spark.createDataFrame(
        [(1, "One. Two two! Three?"),
         (2, "No terminator here"),
         (3, "Dots.. and !! runs. end"),
         (4, "")],
        "doc_id int, text string")
    out = split_sentences(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["sent_idx"], r["sentence"], r["n_words"]))
    assert by_doc[1] == [(1, "One.", 1), (2, "Two two!", 2),
                         (3, "Three?", 1)]
    # a text with no terminator is one sentence
    assert by_doc[2] == [(1, "No terminator here", 3)]
    # terminator runs attach to the preceding fragment — including a
    # standalone '!!' run, which closes its own sentence
    assert by_doc[3] == [(1, "Dots..", 1), (2, "and !!", 2),
                         (3, "runs.", 1), (4, "end", 1)]
    # empty text -> no rows, and indexes are contiguous everywhere
    assert 4 not in by_doc
    for sents in by_doc.values():
        assert [i for i, _, _ in sents] == list(range(1, len(sents) + 1))


# --------------------------------------------------------------- dedup

@pytest.fixture()
def edit_corpus(spark):
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, base),
        (2, base + " zz"),              # dist 3 from 1
        (3, base.replace("beta", "besa")),  # dist 1 from 1
        (4, "completely different words entirely unrelated text here "
            "nothing shared with the greek letter documents at all ok"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_edit_dup_pairs_finds_small_edits(edit_corpus):
    out = {(r["id_a"], r["id_b"]): r["dist"]
           for r in edit_dup_pairs(edit_corpus, max_dist=4).collect()}
    assert out[(1, 2)] == 3
    assert out[(1, 3)] == 1
    assert (2, 3) in out  # zz-append vs 1-char patch: dist 4
    assert not any(4 in p for p in out)


def test_edit_dup_pairs_max_dist_and_length_prefilter(edit_corpus):
    out = {(r["id_a"], r["id_b"]): r["dist"]
           for r in edit_dup_pairs(edit_corpus, max_dist=1).collect()}
    # only the 1-char patch survives; the +3-char twin is cut by the
    # length lower bound before levenshtein even runs
    assert out == {(1, 3): 1}


def test_edit_dup_pairs_min_shared_keeps_true_pairs(edit_corpus):
    # a true small-edit pair shares nearly every shingle, so an
    # aggressive min_shared sheds nothing real
    lo = set((r["id_a"], r["id_b"]) for r in
             edit_dup_pairs(edit_corpus, max_dist=4,
                            min_shared=1).collect())
    hi = set((r["id_a"], r["id_b"]) for r in
             edit_dup_pairs(edit_corpus, max_dist=4,
                            min_shared=10).collect())
    assert hi == lo


def test_cross_corpus_dups_cross_side_only(spark):
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon "
            "phi chi psi omega one two three four five six")
    other = ("totally unrelated corpus text about ships and harbors "
             "with no overlap whatsoever in any trigram of the eval "
             "side at all nothing shared here believe me truly")
    ev = spark.createDataFrame([(1, base)], "doc_id int, text string")
    tr = spark.createDataFrame(
        [(100, base + " zz"),      # contamination hit
         (101, other),             # clean
         (102, other + " zz")],    # train-internal near-dup of 101
        "doc_id int, text string")
    from pydin_spark.operators.dedup import cross_corpus_dups
    out = cross_corpus_dups(ev, tr, threshold=0.9).collect()
    # only the eval->train hit appears; the 101~102 train-internal
    # pair is invisible at this grain
    assert [(r["eval_id"], r["train_id"]) for r in out] == [(1, 100)]
    assert out[0]["jaccard"] > 0.9


# ------------------------------------------------------------ curation

def test_curriculum_order_matches_local_sort(spark):
    rows = [(i, float((i * 37) % 11)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, score double")
    out = curriculum_order(df, score_col="score", n_shards=3,
                           id_col="doc_id")
    got = {r["doc_id"]: (r["rk"], r["shard"], r["pos"])
           for r in out.collect()}
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    n, total = 3, len(rows)
    for rk0, (i, _) in enumerate(ordered):
        rk = rk0 + 1
        shard = (rk - 1) * n // total
        pos = rk - (shard * total + n - 1) // n
        assert got[i] == (rk, shard, pos), i
    # shards are contiguous rank ranges and near-equal sized
    sizes = {}
    for rk, shard, _ in got.values():
        sizes[shard] = sizes.get(shard, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # pos restarts at 1 inside every shard
    firsts = {}
    for rk, shard, pos in sorted(got.values()):
        firsts.setdefault(shard, pos)
    assert all(p == 1 for p in firsts.values())


def test_curriculum_order_descending_and_tiny(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 5.0), (3, 1.0)],
                               "doc_id int, score double")
    out = {r["doc_id"]: r["rk"] for r in
           curriculum_order(df, "score", n_shards=10,
                            ascending=False).collect()}
    # descending: high scores first; ties broken by id DESC (the
    # mirror of the ascending total order)
    assert out == {2: 1, 1: 2, 3: 3}
    empty = curriculum_order(df.where("score > 99"), "score", 4)
    assert empty.count() == 0
    assert set(empty.columns) == {"doc_id", "score", "rk", "shard",
                                  "pos"}


def test_curriculum_order_drops_null_scores(spark):
    # engines disagree on NULL sort placement, so NULL scores are
    # excluded from the total order entirely
    df = spark.createDataFrame([(1, 2.0), (2, None), (3, 1.0)],
                               "doc_id int, score double")
    out = {r["doc_id"]: r["rk"] for r in
           curriculum_order(df, "score", 2).collect()}
    assert out == {3: 1, 1: 2}


def test_pagerank_ignores_null_endpoints(spark):
    edges = [(1, 2), (2, 1)]
    df = spark.createDataFrame(edges + [(None, 1), (2, None)],
                               "src int, dst int")
    got = {r["node"]: r["pr_fp"] for r in pagerank(df).collect()}
    # NULL endpoints contribute no edges and no nodes; keeping
    # (2, NULL) would inflate 2's out-degree and dilute its real
    # contribution, so the whole row is dropped
    assert got == _pagerank_reference(edges)


# --------------------------------------------------------------- graph

def _pagerank_reference(edges, damping=85, iterations=10, seeds=None):
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    if seeds is None:
        r = {u: SCALE // n for u in nodes}
        base = {u: (100 - damping) * SCALE // (100 * n) for u in nodes}
    else:
        k = len(seeds)
        r = {u: (SCALE // k if u in seeds else 0) for u in nodes}
        base = {u: ((100 - damping) * SCALE // (100 * k)
                    if u in seeds else 0) for u in nodes}
    for _ in range(iterations):
        s = {u: 0 for u in nodes}
        for a, b in edges:
            s[b] += r[a] // deg[a]
        r = {u: base[u] + damping * s[u] // 100 for u in nodes}
    return r


def test_pagerank_matches_reference_fixed_point(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 2), (4, 1), (2, 4)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["pr_fp"] for r in pagerank(df).collect()}
    assert got == _pagerank_reference(edges)


def test_pagerank_mass_and_dangling(spark):
    # node 9 has only an in-edge: its mass leaks each iteration but
    # it still receives base + damped inflow
    edges = [(1, 2), (2, 1), (1, 9)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["pr_fp"] for r in pagerank(df).collect()}
    assert got == _pagerank_reference(edges)
    assert got[9] > 0
    # total mass never exceeds SCALE (floor + dangling only lose)
    assert sum(got.values()) <= SCALE


def test_pagerank_personalized_matches_reference(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 2), (4, 5), (5, 1)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["pr_fp"] for r in
           pagerank(df, seeds=[1, 3]).collect()}
    assert got == _pagerank_reference(edges, seeds={1, 3})
    # trusted-set proximity: seeds and their direct targets hold the
    # mass; the far node holds the least
    assert got[1] > got[5]
    with pytest.raises(ValueError):
        pagerank(df, seeds=[])


def test_pagerank_validates_damping(spark):
    df = spark.createDataFrame([(1, 2)], "src int, dst int")
    with pytest.raises(ValueError):
        pagerank(df, damping=101)


# ---------------------------------------------------------- similarity

def test_projection_matches_numpy(spark):
    import numpy as np
    rng = [[float(((i * 7 + j * 13) % 9) - 4) / 3 for j in range(16)]
           for i in range(5)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)],
        "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r["proj"] for r in
           project_embeddings(df, out_dim=4, in_dim=16).collect()}
    signs = np.array(projection_signs(42, 4, 16), dtype=float)
    for i, v in enumerate(rng):
        want = signs @ np.array(v)
        assert np.allclose(out[i], want, rtol=0, atol=1e-12)


def test_projection_signs_deterministic_and_balanced(spark):
    a = projection_signs(42, 8, 64)
    assert a == projection_signs(42, 8, 64)
    assert a != projection_signs(43, 8, 64)
    flat = [s for row in a for s in row]
    assert set(flat) == {1, -1}
    # md5 bits are balanced: the matrix is not degenerate
    assert 0.3 < flat.count(1) / len(flat) < 0.7


def test_projection_infers_dim_and_rejects_empty(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])],
                               "vec_id int, embedding array<double>")
    out = project_embeddings(df, out_dim=2).collect()
    assert len(out[0]["proj"]) == 2
    with pytest.raises(ValueError):
        project_embeddings(df.where("vec_id < 0"), out_dim=2)


def test_pq_encode_matches_numpy(spark):
    import numpy as np
    from pydin_spark.operators.similarity import pq_codebook, pq_encode
    vecs = [[float(((i * 11 + t * 3) % 17) - 8) / 4 for t in range(16)]
            for i in range(20)]
    df = spark.createDataFrame(list(enumerate(vecs)),
                               "vec_id int, embedding array<double>")
    book = pq_codebook(seed=7, m=4, ksub=8, dsub=4)
    got = {r["vec_id"]: r["code"] for r in
           pq_encode(df, book).collect()}
    nb = np.array(book)  # (m, ksub, dsub)
    for i, v in enumerate(vecs):
        va = np.array(v).reshape(4, 4)
        want = [int(np.argmin(((nb[j] - va[j]) ** 2).sum(axis=1)))
                for j in range(4)]
        assert got[i] == want, i


def test_pq_train_beats_hash_codebook(spark, views):
    from pydin_spark.operators.similarity import (
        pq_codebook, pq_reconstruction_error, pq_train)
    emb = spark.table("embeddings").limit(200)
    trained = pq_train(emb, m=8, ksub=16, max_iter=5)
    hashed = pq_codebook(seed=42, m=8, ksub=16, dsub=8)

    def total_err(book):
        out = pq_reconstruction_error(emb, book)
        return sum(float(r["err6"]) for r in out.collect())

    # the whole point of training: materially lower distortion than
    # the deterministic hash codebook at the same code budget
    assert total_err(trained) < 0.7 * total_err(hashed)


def test_pq_train_validates_divisibility(spark):
    from pydin_spark.operators.similarity import pq_train
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])],
                               "vec_id int, embedding array<double>")
    with pytest.raises(ValueError):
        pq_train(df, m=2, ksub=2)


def test_pq_topk_matches_numpy_adc(spark):
    import numpy as np
    from pydin_spark.operators.similarity import (pq_codebook, pq_encode,
                                                  pq_topk)
    vecs = [[float(((i * 5 + t * 7) % 13) - 6) / 5 for t in range(16)]
            for i in range(30)]
    df = spark.createDataFrame(list(enumerate(vecs)),
                               "vec_id int, embedding array<double>")
    book = pq_codebook(seed=3, m=4, ksub=8, dsub=4)
    qs = df.where("vec_id < 3").selectExpr("vec_id AS query_id",
                                           "embedding")
    got = {}
    for r in pq_topk(df, qs, book, k=4).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rnk"], r["nbr_id"], r["adist"]))
    nb = np.array(book)
    va = np.array(vecs).reshape(30, 4, 4)
    codes = [[int(np.argmin(((nb[j] - va[i][j]) ** 2).sum(axis=1)))
              for j in range(4)] for i in range(30)]
    for qid in range(3):
        dists = []
        for i in range(30):
            if i == qid:
                continue
            d = sum(((va[qid][j] - nb[j][codes[i][j]]) ** 2).sum()
                    for j in range(4))
            dists.append((d, i))
        want = sorted(dists)[:4]
        have = sorted((d, i) for _, i, d in got[qid])
        assert [i for _, i in want] == [i for _, i in have]
        for (wd, _), (hd, _) in zip(want, have):
            assert abs(wd - hd) < 1e-9


def test_pq_topk_accepts_precomputed_codes(spark):
    from pydin_spark.operators.similarity import (pq_codebook, pq_encode,
                                                  pq_topk)
    vecs = [(i, [float((i + t) % 5) for t in range(8)])
            for i in range(12)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    book = pq_codebook(seed=1, m=2, ksub=4, dsub=4)
    qs = df.where("vec_id = 0").selectExpr("vec_id AS query_id",
                                           "embedding")
    direct = pq_topk(df, qs, book, k=3).collect()
    stored = pq_topk(df, qs, book, k=3,
                     codes=pq_encode(df, book)).collect()
    assert sorted(map(str, direct)) == sorted(map(str, stored))


def test_stored_pq_serve_equals_direct(spark, views, tmp_path):
    from pydin_spark.operators.similarity import (IVFIndex, pq_codebook,
                                                  pq_topk)
    emb = spark.table("embeddings").limit(100)
    emb = spark.createDataFrame(emb.collect(), emb.schema)
    q = emb.where("vec_id < 3").selectExpr("vec_id AS query_id",
                                           "embedding")
    book = pq_codebook(seed=42, m=8, ksub=16, dsub=8)
    idx = IVFIndex(str(tmp_path / "ivf"), nlist=4, max_iter=2)
    idx.build(emb)
    stats = idx.build_pq(spark, codebook=book)
    assert stats["n_codes"] == 100 and stats["m"] == 8
    served = IVFIndex(str(tmp_path / "ivf"), nlist=4)
    got = served.query_pq(spark, q, k=4).collect()
    want = pq_topk(emb, q, book, k=4).collect()
    assert sorted(map(str, got)) == sorted(map(str, want))
    # the stored book round-trips exactly
    assert served.pq_book(spark) == book


def test_stored_pq_trained_book_on_version_corpus(spark, views, tmp_path):
    from pydin_spark.operators.similarity import IVFIndex
    emb = spark.table("embeddings").limit(80)
    idx = IVFIndex(str(tmp_path / "ivf"), nlist=4, max_iter=2)
    idx.build(emb)
    stats = idx.build_pq(spark, m=8, ksub=8, max_iter=3)
    assert stats["ksub"] == 8
    book = idx.pq_book(spark)
    assert len(book) == 8 and len(book[0]) == 8 and len(book[0][0]) == 8


def test_maintain_reencodes_pq_after_drift_rebuild(spark, views,
                                                   tmp_path):
    from pyspark.sql import functions as F
    from pydin_spark.operators.similarity import IVFIndex, pq_codebook
    emb = spark.table("embeddings").limit(60)
    idx = IVFIndex(str(tmp_path / "ivf"), nlist=4, max_iter=2)
    idx.build(emb)
    book = pq_codebook(seed=42, m=8, ksub=16, dsub=8)
    idx.build_pq(spark, codebook=book)
    # drifted corpus: shifted vectors force drift_ratio over any
    # threshold; maintain must rebuild AND republish PQ codes from
    # the remembered codebook
    drifted = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double") + 10.0)
        .alias("embedding"))
    out = idx.maintain(spark, corpus=drifted, drift_threshold=0.5)
    assert "rebuilt" in out and "pq" in out
    assert out["pq"]["n_codes"] == 60
    # the new version serves codes immediately with the same book
    assert idx.pq_book(spark) == book
    q = drifted.where("vec_id < 2").selectExpr("vec_id AS query_id",
                                               "embedding")
    assert idx.query_pq(spark, q, k=3).count() == 6


def test_query_pq_nprobe_prunes_and_exhaustive_matches(spark, views,
                                                       tmp_path):
    from pydin_spark.operators.similarity import IVFIndex, pq_codebook
    emb = spark.table("embeddings").limit(120)
    emb = spark.createDataFrame(emb.collect(), emb.schema)
    book = pq_codebook(seed=42, m=8, ksub=16, dsub=8)
    idx = IVFIndex(str(tmp_path / "ivf"), nlist=4, max_iter=2)
    idx.build(emb)
    idx.build_pq(spark, codebook=book)
    q = emb.where("vec_id < 3").selectExpr("vec_id AS query_id",
                                           "embedding")
    # nprobe = nlist is exhaustive: identical to the all-codes scan
    full = idx.query_pq(spark, q, k=4)
    probed_all = idx.query_pq(spark, q, k=4, nprobe=4)
    assert sorted(map(str, full.collect())) == \
        sorted(map(str, probed_all.collect()))
    # nprobe=1: every returned neighbor's stored cell must be the
    # query's own nearest cell (the pruning contract), and adist can
    # only be >= the exhaustive k-th (approximation never invents
    # closer neighbors)
    pr = idx.query_pq(spark, q, k=4, nprobe=1)
    rows = pr.collect()
    assert rows and all(r["rnk"] <= 4 for r in rows)
    vid = idx._current_vid(spark)
    cells = {r[idx.id_col]: r["list_id"] for r in
             spark.read.parquet(
                 f"{idx._version_path(vid)}/pq/codes").collect()}
    for r in rows:
        assert cells[r["nbr_id"]] == cells[r["query_id"]]


# ---- streaming front door for the quality-screen chain ----

def test_streaming_entropy_screen_front_door(spark, tmp_path):
    """Docs stream in; char_entropy runs per micro-batch as the
    cheapest quality gate (no corpus pass, no token model — exactly
    why it front-doors a stream), keepers land with their sentence
    rows for downstream per-sentence ops. Both operators are pure
    column/explode transforms, so the batch semantics carry to the
    stream unchanged."""
    import json

    land = tmp_path / "land"
    land.mkdir()
    good = ("the quick brown fox jumps over the lazy dog. "
            "a second varied sentence keeps the histogram broad.")
    junk = "zzzz zzzz zzzz zzzz zzzz."          # near-zero entropy
    (land / "a.json").write_text("\n".join(
        json.dumps(d) for d in [{"doc_id": 1, "text": good},
                                {"doc_id": 2, "text": junk}]))
    (land / "b.json").write_text(json.dumps(
        {"doc_id": 3, "text": good + " third batch flavor."}))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).json(str(land)))
    out_docs = str(tmp_path / "kept")
    out_sents = str(tmp_path / "sents")

    def sink(batch_df, batch_id):
        ent = char_entropy(batch_df)
        kept = (batch_df.join(
            ent.where("CAST(entropy6 AS DOUBLE) >= 2.0"), "doc_id"))
        kept.select("doc_id", "text").write.mode("append") \
            .parquet(out_docs)
        split_sentences(kept.select("doc_id", "text")) \
            .write.mode("append").parquet(out_sents)

    q = (stream.writeStream.foreachBatch(sink).outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    kept = {r["doc_id"] for r in spark.read.parquet(out_docs).collect()}
    assert kept == {1, 3}          # the keyboard-mash doc is gone
    sents = spark.read.parquet(out_sents)
    assert sents.where("doc_id = 2").count() == 0
    assert sents.where("doc_id = 1").count() == 2
    assert sents.where("doc_id = 3").count() == 3


def test_interleave_by_rates_schedule(spark):
    from pydin_spark.operators.curation import interleave_by_rates
    rows = ([(f"a{i}", "a", float(i)) for i in range(30)]
            + [(f"b{i}", "b", float(i)) for i in range(10)])
    df = spark.createDataFrame(rows, "doc_id string, source string, "
                               "difficulty double")
    out = interleave_by_rates(df, {"a": 3, "b": 1},
                              order_col="difficulty", n_shards=4)
    seq = [r["source"] for r in out.orderBy("rk").collect()]
    # the 3:1 rate holds in every prefix, not just in aggregate:
    # after any 4k rows, exactly 3k 'a' and k 'b'
    for k in (4, 8, 20, 40):
        assert seq[:k].count("a") == 3 * k // 4, seq[:k]
    # within-source curriculum order is preserved
    a_rows = [r for r in out.orderBy("rk").collect()
              if r["source"] == "a"]
    assert [r["doc_id"] for r in a_rows] == [f"a{i}" for i in range(30)]
    # id type round-trips (string stays string), mix_key equals the
    # normalized stride value
    r0 = a_rows[0]
    assert r0["doc_id"] == "a0" and isinstance(r0["doc_id"], str)
    assert r0["mix_key"] == (1 - 0.5) / (3 / 4)


def test_interleave_by_rates_validates(spark):
    from pydin_spark.operators.curation import interleave_by_rates
    df = spark.createDataFrame([("x", "a"), ("y", "c")],
                               "doc_id string, source string")
    with pytest.raises(ValueError):
        interleave_by_rates(df, {"a": 1, "b": 1}).collect()
    with pytest.raises(ValueError):
        interleave_by_rates(df, {})
