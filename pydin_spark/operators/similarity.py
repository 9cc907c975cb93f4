"""Similarity search over embedding columns (``array<float>``).

Every exact tier shares one contract: generate candidate pairs, score
each with the sequential-fold double cosine (:func:`_cosine` over
:func:`_vectors` rows), then rank ``(cosine desc, nbr_id)``
(:func:`_rank_topk`) or cut at a threshold. The score is
IEEE-deterministic and matches the DuckDB oracles bit for bit whatever
candidate superset the first step produced, so the tiers differ only
in how they generate candidates:

- broadcast join of a small query set: ``cosine_topk``,
  ``hard_negatives``;
- random-hyperplane bucket join: ``lsh_topk``,
  ``cosine_dup_pairs(method='lsh')``;
- IVF inverted-list join: ``ivf_topk``, ``IVFIndex.query``;
- numpy block-matrix prefilter: ``cosine_dup_pairs``, ``knn_graph``;
- numpy IVF-cell prefilter: ``ivf_knn_graph``;
- k-means cluster self-join: ``semantic_dup_pairs``.

``cosine_topk_arrow`` scores in numpy (float summation order differs,
so it is benchmarked, not oracle-hashed) and shares only the rank; the
PQ tiers rank an asymmetric distance ascending through the same tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .stored import _is_missing


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _vectors(df: DataFrame, id_col: str, vec_col: str, side: str = "",
             id_as: str | None = None, keep=()) -> DataFrame:
    """The per-row scoring substrate: the id (renamed to ``id_as``),
    any ``keep`` columns, the vector cast to double as ``__v<side>``
    and its L2 norm as ``__n<side>``.

    The cast vector and the norm are row columns BELOW every pair
    join. Both are interpreted O(dim) folds: inlined into the per-pair
    cosine they re-ran once per candidate pair (and once per plane or
    centroid where a bucket key reads the vector); as row columns each
    runs once per vector. The fold and the ``dot / (na * nb)``
    association are unchanged, so values stay IEEE-identical. A vector
    that is already ``array<double>`` is not re-cast.
    """
    vec = F.col(vec_col)
    if dict(df.dtypes)[vec_col] != "array<double>":
        vec = F.transform(vec, lambda x: x.cast("double"))
    return (df.select(F.col(id_col).alias(id_as or id_col), *keep,
                      vec.alias(f"__v{side}"))
            .withColumn(f"__n{side}", _norm(F.col(f"__v{side}"))))


def _pair_sides(sub: DataFrame, id_col: str, ids: tuple, keep=()):
    """The ``a`` and ``b`` sides of a self-pair join over one
    :func:`_vectors` substrate, ids renamed to ``ids``. The substrate
    feeds both sides, so callers persist it: uncached, its scan, cast
    and norm fold run once per side."""
    return tuple(sub.select(*keep, F.col(id_col).alias(i),
                            F.col("__v").alias(f"__v{s}"),
                            F.col("__n").alias(f"__n{s}"))
                 for i, s in zip(ids, "ab"))


def _cosine():
    """The exact pair score over an ``a`` and a ``b`` side: sequential
    double folds, ``dot / (na * nb)``."""
    return (_dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb"))).alias("cosine")


def _rank_topk(scored: DataFrame, by: str, k: int, score: str = "cosine",
               ascending: bool = False) -> DataFrame:
    """The top-k tail: ``row_number`` per ``by`` ordered by ``score``
    (descending unless ``ascending``) with ties on ``nbr_id``, cut at
    ``k``. Output: (by, nbr_id, score, rnk)."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy(by).orderBy(order, F.col("nbr_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= int(k))
            .select(by, "nbr_id", score, "rnk"))


def _hyperplane_bits(df: DataFrame, vec_col: str, planes: int, seed: int):
    """Bucket-key builder of the random-hyperplane tiers: bit ``p`` of
    the key is set when the double vector's dot product with row ``p``
    of ``RandomState(seed).randn(planes, dim)`` is positive, ``dim``
    taken from the first row of ``df``. With no row there is no
    dimension to draw planes for; every key is then 0 and the
    caller's bucket join over the empty ``df`` is empty, with its
    usual schema."""
    import numpy as np

    first = df.select(vec_col).first()
    if first is None:
        return lambda v: F.lit(0)
    hyper = np.random.RandomState(seed).randn(planes, len(first[0]))

    def bits(v):
        key = F.lit(0)
        for p in range(planes):
            plane = F.array(*[F.lit(float(c)) for c in hyper[p]])
            key = key + F.when(_dot(v, plane) > 0,
                               F.lit(1 << p)).otherwise(0)
        return key
    return bits


def _map_groups(frame: DataFrame, keys: list, nparts: int, emit,
                schema: str) -> DataFrame:
    """Run ``emit(key, group_pdf)`` once per ``keys`` group through a
    fixed-``nparts`` repartition and a per-partition pandas groupby
    under ``mapInPandas`` — NOT groupBy().applyInPandas(): the matmul
    work per group far outweighs its shuffle bytes, so AQE's
    size-based coalescing would squash the groups onto a handful of
    tasks and serialize the compute."""

    def run(batches):
        import pandas as pd
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        for key, group in pdf.groupby(keys, sort=False):
            yield emit(key, group)

    return (frame.repartition(nparts, *keys)
            .mapInPandas(run, schema=schema))


def with_unit_norm(df: DataFrame, vec_col: str = "embedding",
                   out_col: str = "unit") -> DataFrame:
    """Attach a double-precision L2-normalized copy of the vector.

    The cast vector and its norm are materialized as columns first
    (round-10): with ``_norm(vec)`` inlined inside the transform
    lambda, the interpreted HOF evaluator re-folded the whole vector
    for EVERY element — O(dim²) per row. Same IEEE values (identical
    fold, one division per element), linear work.
    """
    staged = (df.withColumn("__pd_v",
                            F.transform(F.col(vec_col),
                                        lambda v: v.cast("double")))
              .withColumn("__pd_n", _norm(F.col("__pd_v"))))
    return (staged.withColumn(
        out_col, F.transform(F.col("__pd_v"),
                             lambda v: v / F.col("__pd_n")))
        .drop("__pd_v", "__pd_n"))


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization (the usual ANN-index
    compression step): ``scale = 127 / max|x|``, ``q_i = floor(x_i *
    scale + 0.5)``, so every component lands in [-127, 127] and the
    vector dequantizes as ``q / scale``.

    ``floor(x + 0.5)`` instead of ``round`` keeps the rounding rule
    engine-independent (Java HALF_UP vs banker's rounding), so the
    DuckDB oracle reproduces the integers exactly. Pure Column math —
    a 100 TB embedding table quantizes in one shuffle-free scan.
    """
    # scale materialized as a column before the quantize transform
    # (round-10): inlined, the interpreted HOF evaluator recomputed
    # array_max over the whole vector per element — O(dim²) per row.
    # Identical arithmetic per element, linear work.
    vec = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    staged = df.withColumn("__pd_v", vec)
    amax = F.array_max(F.transform(F.col("__pd_v"), F.abs))
    staged = staged.withColumn(
        "__pd_scale",
        F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(1.0)))
    q = F.transform(F.col("__pd_v"),
                    lambda x: F.floor(x * F.col("__pd_scale")
                                      + F.lit(0.5)).cast("int"))
    return staged.select(F.col(id_col), F.col("__pd_scale").alias("scale"),
                         q.alias("q"))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast (small side by construction); the join is a
    BroadcastNestedLoopJoin over the corpus — no shuffle of the corpus —
    followed by a per-query top-k window. Cosine is computed in double
    with sequential folds, so values are IEEE-deterministic and match the
    SQL oracle bit-for-bit. Ties break on neighbor id.
    """
    c = _vectors(corpus, id_col, vec_col, "a", id_as="nbr_id")
    q = _vectors(queries, query_id_col, vec_col, "b")
    pairs = c.join(F.broadcast(q), F.col("nbr_id") != F.col(query_id_col))
    return _rank_topk(pairs.select(query_id_col, "nbr_id", _cosine()),
                      query_id_col, k)


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   query_id_col: str = "query_id",
                   max_cosine: float | None = None) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each query vector, the ``k`` most-cosine-similar corpus vectors
    whose ``label_col`` DIFFERS from the query's — near in embedding
    space, different class, exactly the pairs a triplet/InfoNCE loss
    learns most from (Schroff et al. 2015's "hard" tier).

    ``max_cosine`` (e.g. 0.95) optionally drops negatives ABOVE the
    cap — the standard false-negative guard: a different-label vector
    at near-duplicate similarity is usually label noise, and training
    against it as a negative poisons the metric space.

    Scale shape: :func:`cosine_topk`'s exact tier — the query set
    broadcasts, the corpus never shuffles, the label inequality rides
    the same broadcast join predicate, and the rank window partitions
    by query id. For corpus-sized query sets use the IVF/LSH siblings
    to generate candidates, then apply the same label filter.
    Output: (query_id, nbr_id, cosine, rnk), rnk over the FILTERED
    candidate set. Reference surface: engine extension (the reference
    has no vector ops); gate ``sim_hard_negatives``.
    """
    c = _vectors(corpus, id_col, vec_col, "a", id_as="nbr_id",
                 keep=[F.col(label_col).alias("__nl")])
    q = _vectors(queries, query_id_col, vec_col, "b",
                 keep=[F.col(label_col).alias("__ql")])
    pairs = c.join(F.broadcast(q),
                   (F.col("nbr_id") != F.col(query_id_col))
                   & (F.col("__nl") != F.col("__ql")))
    scored = pairs.select(query_id_col, "nbr_id", _cosine())
    if max_cosine is not None:
        scored = scored.where(F.col("cosine") <= float(max_cosine))
    return _rank_topk(scored, query_id_col, k)


def cosine_topk_arrow(corpus: DataFrame, queries: DataFrame, k: int = 5,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      query_id_col: str = "query_id",
                      max_query_rows: int = 100_000) -> DataFrame:
    """Exact top-k via numpy matmul per Arrow batch (throughput path).

    The query matrix is collected once (small) and closed over; each
    corpus partition computes a dense [batch × queries] similarity block
    and emits its local top-k, then a global top-k window finishes. This
    is the shape that saturates SIMD at scale; semantics identical to
    ``cosine_topk`` modulo float summation order.

    ``max_query_rows`` guards the driver collect (VERDICT r9 #8): the
    query matrix is held on the driver AND shipped inside every task
    closure, so a corpus-sized query frame would OOM the driver long
    before the matmul runs. The check costs a LIMIT-bounded collect
    (never materializes more than the threshold + 1 rows); past it,
    the call fails loudly with a pointer to the candidate-bounded
    tiers (:func:`lsh_topk` / :func:`ivf_topk` / :func:`knn_graph`)
    which never collect a vector side to the driver.
    """
    import numpy as np

    q_rows = (queries.select(query_id_col, vec_col)
              .limit(max_query_rows + 1).collect())
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"cosine_topk_arrow collects the query set to the driver "
            f"and broadcasts it into every Arrow batch, but the query "
            f"frame exceeds max_query_rows={max_query_rows}. Raise "
            f"max_query_rows only if the driver can hold the matrix; "
            f"for corpus-sized query sets use the bucketed tiers "
            f"(lsh_topk / ivf_topk / knn_graph) instead.")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_mat /= np.where(q_norm == 0, 1.0, q_norm)

    def score(batches):
        import pandas as pd
        for pdf in batches:
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if mat.size == 0:
                continue
            mn = np.linalg.norm(mat, axis=1, keepdims=True)
            mat /= np.where(mn == 0, 1.0, mn)
            sims = mat @ q_mat.T  # [batch, nq]
            nbr = pdf[id_col].to_numpy(dtype=np.int64)
            take = min(k + 1, len(nbr))
            part = np.argpartition(-sims, take - 1, axis=0)[:take]
            out = {
                query_id_col: np.repeat(q_ids, take),
                "nbr_id": nbr[part].T.ravel(),
                "cosine": np.take_along_axis(sims, part, axis=0).T.ravel(),
            }
            yield pd.DataFrame(out)

    local = corpus.select(id_col, vec_col).mapInPandas(
        score, schema=f"{query_id_col} long, nbr_id long, cosine double")
    local = local.where(F.col("nbr_id") != F.col(query_id_col))
    return _rank_topk(local, query_id_col, k)


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", planes: int = 8,
             seed: int = 42, multiprobe: int = 0) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets.

    Bucket key = sign bits against ``planes`` pseudo-random hyperplanes
    (deterministic from ``seed``); query joins only its bucket, so cost is
    |corpus| / 2^planes per query in expectation. At 100 TB, bucket the
    corpus once (write partitioned by bucket) and reuse across queries.

    ``multiprobe``: additionally probe every bucket within hamming
    distance ``multiprobe`` of the query's bucket (standard multi-probe
    LSH — recall rises with probe fan-out at ~C(planes, m) extra bucket
    scans per query). At ``multiprobe == planes`` every bucket is probed
    and the result provably equals exact brute force — the operating
    point the correctness oracle pins.
    """
    bits = _hyperplane_bits(corpus, vec_col, planes, seed)
    c = (_vectors(corpus, id_col, vec_col, "a", id_as="nbr_id")
         .withColumn("bucket", bits(F.col("__va"))))
    q = (_vectors(queries, query_id_col, vec_col, "b")
         .withColumn("bucket", bits(F.col("__vb"))))
    if multiprobe:
        # explode each query into its probe set: bucket XOR every mask
        # with popcount <= multiprobe (masks are distinct, so each
        # (query, bucket) pair is probed exactly once — no dup scoring)
        masks = [m for m in range(1 << planes)
                 if bin(m).count("1") <= multiprobe]
        q = q.select(
            F.col(query_id_col), F.col("__vb"), F.col("__nb"),
            F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m))
                                for m in masks])).alias("bucket"))
    pairs = c.join(F.broadcast(q), "bucket").where(
        F.col("nbr_id") != F.col(query_id_col))
    return _rank_topk(pairs.select(query_id_col, "nbr_id", _cosine()),
                      query_id_col, k)


def _cosine_candidates_blocks(df: DataFrame, threshold: float,
                              id_col: str, vec_col: str,
                              rows_per_block: int = 8192) -> DataFrame:
    """Candidate (id_a, id_b) pairs with numpy-matmul cosine >= threshold
    via a distributed block-matrix self-join — NO driver-side collect.

    Vectors are hashed into ``ceil(n / rows_per_block)`` blocks; every
    unordered block pair (i, j) becomes one ``applyInPandas`` group whose
    task multiplies the two (bounded-size) block matrices. Cost is the
    inherent O(n²·d) flops of an exact threshold join, but distributed
    over B(B+1)/2 tasks with per-task memory capped at two blocks
    (~``rows_per_block``·dim·8 bytes each) — the shape that survives a
    1000-executor scale-up. Shuffle volume is n·B vector copies.

    The only driver action is a column-pruned ``count()`` to size B.
    Returned candidates use a 1e-6 slack (numpy sum-order error is
    ~1e-12), so they are a provable superset of the exact answer —
    callers re-score with the deterministic sequential fold.
    """
    slack = threshold - 1e-6

    def block_join(bi, bj, pdf):
        import numpy as np
        import pandas as pd
        mat, ids, blk = _normalized_matrix(pdf, id_col, vec_col)
        if bi == bj:
            sims = mat @ mat.T
            ia, ib = np.nonzero((sims >= slack)
                                & (ids[:, None] < ids[None, :]))
            id_a, id_b = ids[ia], ids[ib]
        else:
            a_idx = np.nonzero(blk == bi)[0]
            b_idx = np.nonzero(blk == bj)[0]
            if len(a_idx) == 0 or len(b_idx) == 0:
                return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
            sims = mat[a_idx] @ mat[b_idx].T
            # blocks are disjoint, so no self-pairs — but either side may
            # hold the smaller id: order per pair, don't filter
            ia, ib = np.nonzero(sims >= slack)
            xa = ids[a_idx][ia]
            xb = ids[b_idx][ib]
            id_a = np.minimum(xa, xb)
            id_b = np.maximum(xa, xb)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b})

    return _run_block_pairs(df, id_col, vec_col, rows_per_block,
                            block_join, "id_a long, id_b long")


#: (applicationId, plan semanticHash) -> row count. The block-pair
#: stages need the corpus size ONLY to pick a block count — a layout
#: hint, not a correctness input — yet the count() is a whole extra
#: job whose fixed overhead dominates small/interactive corpora
#: (measured ~0.35 s/job at sf0.1 — ~35% of sim_cosine_dup's bench
#: median). Caching it per (session, logical plan) is the same move
#: every warehouse engine makes with table statistics. Staleness
#: window: data rewritten UNDER an identical plan in one session
#: reuses the old n — blocks size differently, results are unchanged
#: (blocking never affects the result; see the invariant below).
_N_HINT: dict = {}
_N_HINT_CAP = 256


def _corpus_rows(df: DataFrame) -> int:
    """Plan-keyed corpus rowcount with true LRU eviction (ADVICE r8:
    clearing the whole cache on overflow caused periodic recount
    storms — now one stale entry is evicted per insert). Known
    limitation, accepted: data rewritten under an identical plan
    reuses the old n — blocks size differently, results never change;
    long-lived sessions that rewrite inputs in place should open a
    fresh session or persist the frame (which changes the key)."""
    key = (df.sparkSession.sparkContext.applicationId,
           df.semanticHash())
    if key in _N_HINT:
        _N_HINT[key] = _N_HINT.pop(key)  # refresh recency
        return _N_HINT[key]
    if len(_N_HINT) >= _N_HINT_CAP:
        _N_HINT.pop(next(iter(_N_HINT)))  # evict the oldest only
    _N_HINT[key] = df.count()
    return _N_HINT[key]


def _run_block_pairs(df: DataFrame, id_col: str, vec_col: str,
                     rows_per_block: int, emit,
                     schema: str) -> DataFrame:
    """Shared block-pair fan-out driver for the pairwise numpy stages
    (:func:`_cosine_candidates_blocks` and :func:`knn_graph`): hash
    rows into B blocks sized from ``rows_per_block`` AND the cluster
    parallelism, replicate each row into its B(B+1)/2 unordered block
    pairs, and run ``emit(bi, bj, group_pdf)`` once per pair through
    :func:`_map_groups`. Replication invariant: partner p == blk
    contributes the diagonal group once; p != blk contributes
    (min, max) exactly once per side — no duplicate groups.

    Skew: the block key hashes the id TOGETHER WITH the vector, so a
    heavily duplicated id space (vector logs, append streams with
    repeated keys) still spreads uniformly — hashing the id alone
    would pile every duplicate onto one hot block and serialize its
    matmuls. Blocking never affects the RESULT (every row pair still
    meets in exactly one group, and the exact re-score downstream is
    partition-independent), so the spread is free. Only bit-identical
    (id, vector) rows can still collide; their block load is bounded
    by the duplication factor of truly identical rows, which exact
    dedup upstream removes.
    """
    import math

    n = _corpus_rows(df)
    par = df.sparkSession.sparkContext.defaultParallelism
    nblocks = max(1, math.ceil(n / rows_per_block),
                  math.ceil((2 * par) ** 0.5))
    nblocks = min(nblocks, max(1, n))

    v = df.select(
        F.col(id_col), F.col(vec_col),
        F.pmod(F.xxhash64(F.col(id_col), F.col(vec_col)),
               F.lit(nblocks)).cast("int").alias("blk"))
    rep = (v.select(
        id_col, vec_col, "blk",
        F.explode(F.sequence(F.lit(0), F.lit(nblocks - 1))).alias("p"))
        .select(id_col, vec_col, "blk",
                F.least("blk", "p").alias("bi"),
                F.greatest("blk", "p").alias("bj")))

    return _map_groups(rep, ["bi", "bj"], nblocks * (nblocks + 1) // 2,
                       lambda key, g: emit(int(key[0]), int(key[1]), g),
                       schema)


def _normalized_matrix(pdf, id_col: str, vec_col: str):
    """(unit-row matrix, int64 ids, block column) from a block-pair or
    cell group — the shared numpy entry of the pairwise stages."""
    import numpy as np
    mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mat /= np.where(norms == 0, 1.0, norms)
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    blk = pdf["blk"].to_numpy() if "blk" in pdf.columns else None
    return mat, ids, blk


def _train_centers(df: DataFrame, vec_col: str, nlist: int,
                   seed: int, max_iter: int,
                   sample_per_list: int = 128) -> list:
    """IVF centroids trained the way a 100 TB deployment trains them:
    on a bounded random sample (~``sample_per_list`` rows per
    centroid, the standard FAISS sizing rule) instead of the full
    corpus. Training is a multi-pass n x nlist algorithm — under the
    production sizing rule nlist ∝ n the full-corpus fit was the
    dominant superlinear term of the ivf_knn_graph SCALE row (11.6 s
    of 20.5 s at sf10; VERDICT r8 #2); on the bounded sample the fit
    cost depends on nlist alone. k-means|| init is KEPT — measured on
    the near-uniform fixture it buys pruned-probe recall 0.66 vs
    random init's 0.53 at identical cost on the sample, and it is the
    difference between passing and failing the recall floor. Cell
    assignment only needs approximate centroids: probe-all operating
    points are provably exact for ANY centroid set (the
    correctness-gate discipline) and the exact re-score tails keep
    reported cosines IEEE-exact; pruned-probe recall floors are
    pinned by tests/test_ann_recall.py."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df.select(
        array_to_vector(F.transform(F.col(vec_col),
                                    lambda v: v.cast("double")))
        .alias("features"))
    n = _corpus_rows(df)
    target = int(sample_per_list) * int(nlist)
    if n > target:
        train = train.sample(target / n, seed=seed)
    model = KMeans(k=int(nlist), seed=seed,
                   maxIter=max_iter).fit(train)
    return [np.asarray(c) for c in model.clusterCenters()]


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", nlist: int = 16,
             nprobe: int = 4, seed: int = 42) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index.

    Train ``nlist`` k-means centroids (MLlib, deterministic seed), assign
    each corpus vector to its nearest centroid (the inverted list), and
    scan only the ``nprobe`` lists nearest to each query — cost drops to
    ~``nprobe/nlist`` of brute force while recall stays high for
    clustered data. At 100 TB: train on a sample, write the corpus
    partitioned by ``list_id`` once, and every query batch prunes
    partitions instead of scanning.
    """
    import numpy as np

    if corpus.isEmpty():
        # KMeans.fit on zero rows throws; an empty corpus has nothing
        # to prune, and the exact tier answers it (empty, same schema)
        return cosine_topk(corpus, queries, k, id_col, vec_col,
                           query_id_col)
    centers = np.array(_train_centers(corpus, vec_col, nlist, seed,
                                      max_iter=20))
    c = _vectors(corpus, id_col, vec_col, "a", id_as="nbr_id")
    c = c.withColumn("list_id", F.element_at(
        _nearest_lists(F.col("__va"), 1, centers), 1))
    q = _vectors(queries, query_id_col, vec_col, "b")
    q = q.select(query_id_col, "__vb", "__nb",
                 F.explode(_nearest_lists(F.col("__vb"), nprobe, centers))
                 .alias("list_id"))
    pairs = c.join(F.broadcast(q), "list_id").where(
        F.col("nbr_id") != F.col(query_id_col))
    return _rank_topk(pairs.select(query_id_col, "nbr_id", _cosine()),
                      query_id_col, k)


def cosine_dup_pairs(df: DataFrame, threshold: float = 0.95,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     method: str = "block", planes: int = 8,
                     seed: int = 42,
                     rows_per_block: int = 8192,
                     owned_frames: list | None = None) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold, id_a < id_b.

    Two-phase search: a candidate prefilter, then the candidates are
    re-scored with the deterministic sequential-fold expression so final
    values are IEEE-exact and oracle-matchable.

    ``method``:

    - ``'block'`` (default): distributed block-matrix prefilter at
      ``threshold - 1e-6`` — a provable superset of the exact answer,
      with NO driver-side collect anywhere in the plan and per-task
      memory bounded by ``rows_per_block``. Exact result. The O(n²·d)
      flops are inherent to an exact threshold join; right up to ~10^7
      vectors distributed.
    - ``'lsh'``: random-hyperplane bucketed candidates (+ exact
      re-score). Cost ~n²/2^planes; recall < 1 by construction — the
      100 TB path when exactness can be traded.

    ``owned_frames`` (a list) collects the frames this call persists
    (the vector substrate shared by both pair-join sides) so a
    long-lived caller can unpersist them once the result is
    materialized (ADVICE r10).
    """
    if method not in ("block", "lsh"):
        raise ValueError(f"unknown method: {method!r}")
    v = _vectors(df, id_col, vec_col)
    keep = ()
    if method == "lsh":
        # cached WITH the key: ``planes`` dot folds per row
        bits = _hyperplane_bits(df, vec_col, planes, seed)
        v = v.withColumn("bucket", bits(F.col("__v")))
        keep = ("bucket",)
    v = v.persist()
    if owned_frames is not None:
        owned_frames.append(v)
    a, b = _pair_sides(v, id_col, ("id_a", "id_b"), keep)
    if method == "block":
        candidates = _cosine_candidates_blocks(df, threshold, id_col,
                                               vec_col, rows_per_block)
        pairs = candidates.join(a, "id_a").join(b, "id_b")
    else:
        pairs = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    return (pairs.select("id_a", "id_b", _cosine())
            .where(F.col("cosine") >= threshold))


def knn_graph(df: DataFrame, k: int = 5, id_col: str = "vec_id",
              vec_col: str = "embedding",
              rows_per_block: int = 8192,
              owned_frames: list | None = None) -> DataFrame:
    """EXACT k-nearest-neighbor graph over a whole embedding corpus:
    for EVERY vector, its ``k`` most-cosine-similar neighbors —
    (src_id, nbr_id, cosine, rnk). The all-rows sibling of
    :func:`cosine_topk` (which broadcasts a small query set) and the
    substrate for graph-based curation (SemDeDup neighborhoods,
    connectivity pruning, label propagation).

    Same block-matrix shape as :func:`_cosine_candidates_blocks`: the
    corpus hashes into B blocks, each unordered block pair is one
    bounded numpy task. Each task emits, per row, its block-local
    top-k *with a 1e-6 tie slack* below the k-th score — a provable
    candidate superset, because a row's true global top-k neighbor is
    necessarily in the top-k of its own block (numpy's ~1e-12 sum-order
    error cannot push it below the slack). Candidates are then
    re-scored with the deterministic sequential fold and ranked
    (cosine DESC, nbr_id) — the final graph is IEEE-exact and
    oracle-matchable regardless of which superset the prefilter
    produced.

    Scale shape: O(n²·d) flops are inherent to an exact kNN graph, but
    they run in B(B+1)/2 bounded tasks with per-task memory capped at
    two blocks (the shared :func:`_run_block_pairs` fan-out); the
    candidate shuffle is ~n·B·k rows (not n²), and no driver collect
    appears anywhere. For approximate graphs at larger n, probe IVF
    cells instead (:func:`ivf_knn_graph`).
    """

    def block_knn(bi, bj, pdf):
        import numpy as np
        import pandas as pd
        mat, ids, blk = _normalized_matrix(pdf, id_col, vec_col)
        if bi == bj:
            sims = mat @ mat.T
            np.fill_diagonal(sims, -np.inf)
            src, nbr = _matrix_topk(ids, ids, sims, k)
            return pd.DataFrame({"src": src, "nbr": nbr})
        a_idx = np.nonzero(blk == bi)[0]
        b_idx = np.nonzero(blk == bj)[0]
        if len(a_idx) == 0 or len(b_idx) == 0:
            return pd.DataFrame({"src": [], "nbr": []}).astype("int64")
        sims = mat[a_idx] @ mat[b_idx].T
        # both directions: A-rows vs B-block and B-rows vs A-block
        sa, na = _matrix_topk(ids[a_idx], ids[b_idx], sims, k)
        sb, nb = _matrix_topk(ids[b_idx], ids[a_idx], sims.T, k)
        return pd.DataFrame({"src": np.concatenate([sa, sb]),
                             "nbr": np.concatenate([na, nb])})

    cand = _run_block_pairs(df, id_col, vec_col, rows_per_block,
                            block_knn, "src long, nbr long")
    return _exact_rescore_topk(df, cand, k, id_col, vec_col,
                               owned_frames=owned_frames)


def _matrix_topk(src_ids, nbr_ids, sims, k: int):
    """Per-row top-k candidate emission with a 1e-6 tie slack —
    shared by the block-pair and per-IVF-cell candidate stages.
    ``sims``: |src| x |nbr| numpy similarity matrix; non-finite
    entries (masked self-pairs) never pass the slack compare."""
    import numpy as np
    m = sims.shape[1]
    if m == 0 or sims.shape[0] == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
    if m <= k:
        kth = sims.min(axis=1)
    else:
        kth = np.partition(sims, m - k, axis=1)[:, m - k]
    # isfinite guard: -inf self-entries must never pass (-inf >= -inf)
    ia, ib = np.nonzero((sims >= (kth - 1e-6)[:, None])
                        & np.isfinite(sims))
    return src_ids[ia], nbr_ids[ib]


def _exact_rescore_topk(df: DataFrame, cand: DataFrame, k: int,
                        id_col: str, vec_col: str,
                        owned_frames: list | None = None) -> DataFrame:
    """Re-score (src, nbr) candidate pairs with the deterministic
    sequential-fold cosine and rank top-k per source — the shared
    exact tail of the graph builders: the result is IEEE-exact and
    oracle-matchable regardless of which candidate superset the
    prefilter produced."""
    vv = _vectors(df, id_col, vec_col).persist()
    if owned_frames is not None:
        owned_frames.append(vv)
    a, b = _pair_sides(vv, id_col, ("src", "nbr"))
    scored = (cand.join(a, "src").join(b, "nbr")
              .select(F.col("src").alias("src_id"),
                      F.col("nbr").alias("nbr_id"), _cosine()))
    return _rank_topk(scored, "src_id", k)


def mutual_knn_pairs(df: DataFrame, k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     graph: DataFrame | None = None,
                     owned_frames: list | None = None) -> DataFrame:
    """Mutual-kNN edges: (id_a, id_b, cosine) with id_a < id_b where
    EACH vector is in the other's top-k — the standard symmetric
    robustification of a kNN graph before clustering (one-directional
    edges let a hub vector chain unrelated clusters together; mutual
    edges require agreement from both endpoints). Feed the result to
    ``dedup.dup_components``-style pointer-jumping clustering for
    graph-based semantic grouping.

    Pass ``graph`` to reuse an already-built (exact or IVF) kNN graph
    frame — otherwise the exact :func:`knn_graph` is built. The
    mutuality check is one self-join of the k·n-row edge list on the
    reversed pair — edge-list-sized work, never corpus-sized.

    A supplied ``graph`` is validated against ``k`` via its ``rnk``
    column (one edge-list-sized aggregate): a graph built at a
    LARGER k is trimmed to ``rnk <= k`` (a k'-graph is a superset of
    the k-graph, so the trim is exact); a graph whose deepest rank is
    SMALLER than ``min(k, n-1)`` — where n is the graph's distinct
    node count — raises, because its mutual edges would silently be
    the graph's k, not the requested one. The ``n-1`` bound keeps a
    COMPLETE graph valid for any k: over a corpus of n <= k vectors
    the exact k-graph has only n-1 neighbors per source, and that
    complete graph IS the k-graph for every larger k, so it is
    accepted rather than spuriously rejected.
    """
    supplied = graph is not None
    g = graph if supplied else knn_graph(df, k=k, id_col=id_col,
                                         vec_col=vec_col,
                                         owned_frames=owned_frames)
    # the graph substrate — a full block-matmul kNN build when not
    # supplied, and often an unmaterialized build when it is (e.g.
    # semantic_cluster_dedup passes the lazy knn_graph frame) — feeds
    # the rnk validation aggregate AND both sides of the mutuality
    # semi-join; persist a projection so it executes once (round-10).
    # A projection rather than ``graph`` itself: persisting the
    # caller's frame would collide with any storage level they chose.
    # When the caller ALREADY cached the supplied graph (the documented
    # reuse pattern), the projection reads from their cache — a second
    # persist would hold the same rows twice with no release path
    # (ADVICE r10), so it is skipped.
    cols = [c for c in ("src_id", "nbr_id", "cosine", "rnk")
            if c in g.columns]
    caller_cached = supplied and (g.storageLevel.useMemory
                                  or g.storageLevel.useDisk)
    g = g.select(*cols)
    if not caller_cached:
        g = g.persist()
        if owned_frames is not None:
            owned_frames.append(g)
    if supplied and "rnk" in g.columns:
        gk = g.agg(F.max("rnk").alias("m")).first()["m"] or 0
        if gk > k:
            g = g.where(F.col("rnk") <= k)
        elif gk < k:
            n_ids = (g.select(F.col("src_id").alias("i"))
                     .union(g.select(F.col("nbr_id").alias("i")))
                     .distinct().count())
            if gk < min(k, n_ids - 1):
                raise ValueError(
                    f"graph= was built at k={gk} but k={k} was "
                    f"requested; rebuild the graph at k>={k} or "
                    f"pass k={gk} explicitly")
    e = g.select("src_id", "nbr_id", "cosine")
    rev = e.select(F.col("nbr_id").alias("src_id"),
                   F.col("src_id").alias("nbr_id"))
    return (e.join(rev, ["src_id", "nbr_id"], "left_semi")
            .where(F.col("src_id") < F.col("nbr_id"))
            .select(F.col("src_id").alias("id_a"),
                    F.col("nbr_id").alias("id_b"), "cosine"))


def semantic_cluster_dedup(df: DataFrame, k: int = 5,
                           threshold: float = 0.85,
                           method: str = "exact", nlist: int = 16,
                           nprobe: int = 2,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           order_col: str | None = None,
                           descending: bool = True,
                           centers=None,
                           graph: DataFrame | None = None,
                           owned_frames: list | None = None) -> DataFrame:
    """Graph-clustered semantic dedup: mutual-kNN edges at cosine >=
    ``threshold`` → connected components → one survivor per cluster.

    The graph formulation complements :func:`semantic_dedup`'s
    within-cell first-wins dominance three ways: edges require MUTUAL
    top-k agreement (hub vectors can't chain unrelated clusters),
    clustering is transitive across the whole corpus (not bounded by
    a k-means cell), and the survivor policy is pluggable —
    ``order_col`` keeps the best-scoring member per cluster (e.g. a
    quality column joined onto the embedding frame) instead of the
    smallest id. Vectors in no cluster pass through untouched.

    ``method='exact'`` builds the exact graph (:func:`knn_graph`);
    ``'ivf'`` uses the cell-bounded approximate graph
    (:func:`ivf_knn_graph`, with ``centers=`` to amortize training) —
    at 100 TB the IVF path is the default posture and the exact path
    the audit tool. ``graph=`` skips the build entirely and reuses an
    already-built (src_id, nbr_id, cosine, rnk) frame — e.g.
    ``IVFIndex.knn_graph``'s stored-index graph. Cost beyond the graph
    build: one edge-list semi-join, the O(log d) component rounds, one
    rank window.
    """
    from .dedup import pick_cluster_survivors

    if graph is not None:
        g = graph
    elif method == "exact":
        if centers is not None:
            raise ValueError(
                "centers= only applies to method='ivf' — the exact "
                "graph trains nothing (pass method='ivf' or graph=)")
        g = knn_graph(df, k=k, id_col=id_col, vec_col=vec_col,
                      owned_frames=owned_frames)
    elif method == "ivf":
        g = ivf_knn_graph(df, k=k, nlist=nlist, nprobe=nprobe,
                          id_col=id_col, vec_col=vec_col,
                          centers=centers, owned_frames=owned_frames)
    else:
        raise ValueError(f"unknown method: {method!r}")
    edges = (mutual_knn_pairs(df, k=k, id_col=id_col, vec_col=vec_col,
                              graph=g, owned_frames=owned_frames)
             .where(F.col("cosine") >= float(threshold)))
    return pick_cluster_survivors(df, edges, id_col=id_col,
                                  order_col=order_col,
                                  descending=descending)


def ivf_knn_graph(df: DataFrame, k: int = 5, nlist: int = 16,
                  nprobe: int = 2, id_col: str = "vec_id",
                  vec_col: str = "embedding", seed: int = 42,
                  max_iter: int = 20, centers=None,
                  src_ids: DataFrame | None = None,
                  owned_frames: list | None = None) -> DataFrame:
    """APPROXIMATE kNN graph: each vector's top-k within its ``nprobe``
    nearest IVF cells — the n²·nprobe/nlist scale path that turns
    :func:`knn_graph`'s inherent n² into a tunable recall/cost trade
    (the SemDeDup regime: neighborhoods only need to be good, not
    provably exact, and clustered data keeps true neighbors in the
    same cells).

    Shape: k-means centroids (sample-trainable, deterministic seed);
    the corpus is assigned once to its nearest cell (the neighbor
    side) and exploded to its ``nprobe`` nearest cells (the source
    side); every cell is one bounded numpy task emitting per-source
    cell-local top-k candidates (same :func:`_matrix_topk` slack
    emission as the exact graph — SIMD matmul, NOT a per-pair
    expression fold: the first cut scored the join output with the
    JVM fold and measured 12x SLOWER than the exact block graph
    despite 16x fewer pairs, because per-row fold cost dwarfs matmul
    throughput). Candidates then go through the shared exact re-score,
    so reported cosines are IEEE-exact; only WHICH neighbors are
    reachable is approximate. ``nprobe == nlist`` probes every cell
    and provably equals :func:`knn_graph`; recall at pruned settings
    is measured against the exact graph in tests. Cell skew bounds the
    longest task — cap cell size by raising ``nlist`` (cells ~n/nlist
    rows on balanced data).

    ``src_ids`` (a 1-column frame of ``id_col`` values) restricts the
    PROBER side — edges are computed only for those sources, while
    every corpus vector stays a candidate neighbor. This is the
    incremental-patch primitive: a source's edge set depends only on
    its probed cells' member sets, so after an append only sources
    probing touched cells need recomputing.
    """
    import numpy as np

    if centers is None and df.isEmpty():
        # KMeans.fit on zero rows throws — honor the empty-input
        # invariant (quiet ingest cycles) with a typed empty graph
        return df.sparkSession.createDataFrame(
            [], "src_id long, nbr_id long, cosine double, rnk int")
    if centers is None:
        # per-call training is still a real cost at moderate n:
        # amortize it by passing ``centers`` from a stored IVFIndex
        # or a previous build
        centers = _train_centers(df, vec_col, nlist, seed, max_iter)
    centers = np.array(centers, dtype=np.float64)
    nlist = len(centers)

    import math

    cv = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    # one union frame, side-tagged: members ('n', assigned to exactly
    # one cell) + probers ('s', exploded to their nprobe nearest
    # cells). When nlist is below ~2x the cluster parallelism, a cell
    # per task underfills the cluster — sub-split each cell's PROBER
    # side into `splits` hash chunks and replicate the members to
    # every chunk (members are the small side: n/nlist rows per cell),
    # so tasks = nlist*splits and every core stays busy.
    par = df.sparkSession.sparkContext.defaultParallelism
    splits = max(1, math.ceil(2 * par / int(nlist)))
    # two-step select: mixing the nearest-list HOF and a generator in
    # one projection trips lambda-variable resolution in Catalyst
    nbrs = (df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        F.element_at(_nearest_lists(cv, 1, centers), 1).alias("list_id"),
        F.lit("n").alias("side"))
        .select("vid", "vec", "list_id", "side",
                F.explode(F.sequence(F.lit(0), F.lit(splits - 1)))
                .alias("chunk")))
    src_df = df if src_ids is None else df.join(
        src_ids.select(F.col(src_ids.columns[0]).alias(id_col)),
        id_col, "left_semi")
    srcs = src_df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        F.explode(_nearest_lists(cv, min(int(nprobe), int(nlist)),
                                 centers)).alias("list_id"),
        F.lit("s").alias("side"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(splits))
        .cast("int").alias("chunk"))

    def cell_knn(_cell, pdf):
        import pandas as pd
        mat, ids, _ = _normalized_matrix(pdf, "vid", "vec")
        side = pdf["side"].to_numpy()
        s_idx = np.nonzero(side == "s")[0]
        n_idx = np.nonzero(side == "n")[0]
        if len(s_idx) == 0 or len(n_idx) == 0:
            return pd.DataFrame({"src": [], "nbr": []}).astype("int64")
        sims = mat[s_idx] @ mat[n_idx].T
        sims[ids[s_idx][:, None] == ids[n_idx][None, :]] = -np.inf
        src, nbr = _matrix_topk(ids[s_idx], ids[n_idx], sims, k)
        return pd.DataFrame({"src": src, "nbr": nbr})

    # a prober reaches the same neighbor through at most one
    # (cell, its own chunk) task, so pairs are unique
    cand = _map_groups(srcs.unionByName(nbrs), ["list_id", "chunk"],
                       int(nlist) * splits, cell_knn, "src long, nbr long")
    return _exact_rescore_topk(df, cand, k, id_col, vec_col,
                               owned_frames=owned_frames)


class IVFIndex:
    """Persisted IVF (inverted-file) ANN index: the centroids and the
    list-partitioned corpus live as parquet under ``path``, so serving
    sessions query a *stored* index instead of retraining k-means and
    re-assigning the corpus per session (the state pattern of
    :class:`~pydin_spark.operators.dedup.IncrementalDeduper` applied to
    similarity serving).

    ``build(corpus)`` trains ``nlist`` k-means centroids (deterministic
    seed), assigns every vector to its nearest list, and writes the
    corpus **partitioned by list_id**. ``query(queries, k, nprobe)``
    loads the centroid table (nlist rows — driver-tiny), computes each
    query's ``nprobe`` nearest lists, and reads ONLY those partitions —
    at 100 TB the scan cost is ~nprobe/nlist of the corpus via
    partition pruning, visible as ``PartitionFilters`` in the plan.
    ``nprobe=nlist`` is provably exhaustive (== brute force), the
    correctness-gate operating point.

    Index lifecycle (an ANN index that can never retrain silently loses
    recall as the corpus drifts): the on-disk layout is **versioned** —
    each build/rebuild writes a complete ``versions/<vid>/`` tree, then
    registers it with an append to the tiny ``manifest/`` table; readers
    resolve the highest committed version at query time. The flip is a
    single atomic append, in-flight queries keep reading the version
    they resolved (its files are never mutated), and ``rebuild`` keeps
    the last ``keep_versions`` trees for exactly that reader grace
    before GC. ``drift(corpus)`` quantifies centroid staleness — the
    mean squared residual of current vectors against the *stored*
    centroids vs the residual recorded at build time — as the scheduler
    trigger for retrains.
    """

    def __init__(self, path: str, id_col: str = "vec_id",
                 vec_col: str = "embedding", nlist: int = 16,
                 seed: int = 42, keep_versions: int = 2,
                 max_iter: int = 20):
        self.path = str(path).rstrip("/")
        self.id_col, self.vec_col = id_col, vec_col
        self.nlist, self.seed = int(nlist), int(seed)
        self.keep_versions = max(1, int(keep_versions))
        # k-means refinement budget: recall quality only — ANY centroid
        # set yields correct results (nprobe=nlist is provably
        # exhaustive regardless); fewer iterations trade pruned-probe
        # recall for build time
        self.max_iter = int(max_iter)

    def _manifest_path(self):
        return f"{self.path}/manifest"

    def _version_path(self, vid: str):
        return f"{self.path}/versions/{vid}"

    def _current_vid(self, spark) -> str:
        """Highest committed manifest entry — the serving version."""
        try:
            rows = spark.read.parquet(self._manifest_path()) \
                .orderBy(F.col("seq").desc()).limit(1).collect()
        except Exception as exc:  # noqa: BLE001 - classify, don't blanket
            if _is_missing(exc):
                raise FileNotFoundError(
                    f"no IVF index at {self.path!r} — call build() first"
                ) from exc
            raise
        return rows[0]["vid"]

    def build(self, corpus: DataFrame) -> dict:
        """Train and publish the first index version (same staged-write
        + manifest-append path as ``rebuild`` — build IS version 1)."""
        return self.rebuild(corpus)

    def rebuild(self, corpus: DataFrame) -> dict:
        """Retrain centroids on the current corpus, write a complete
        new version tree, atomically flip the manifest to it, and GC
        versions older than ``keep_versions``. Concurrent queries are
        safe throughout: they serve whichever version they resolved,
        whose files stay on disk until GC'd ``keep_versions`` flips
        later. Returns the new version's stats (vid, n_vectors,
        mean_residual)."""
        import uuid

        import numpy as np

        spark = corpus.sparkSession
        vid = uuid.uuid4().hex
        vdir = self._version_path(vid)
        centers = [np.asarray(c).tolist()
                   for c in _train_centers(corpus, self.vec_col,
                                           self.nlist, self.seed,
                                           self.max_iter)]
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(centers)],
            "list_id int, center array<double>") \
            .repartition(1).write.mode("overwrite") \
            .parquet(f"{vdir}/centers")
        cv = F.transform(F.col(self.vec_col), lambda v: v.cast("double"))
        arr = np.array(centers)
        assigned = corpus.select(
            F.col(self.id_col), cv.alias("cv"),
            F.element_at(_nearest_lists(cv, 1, arr), 1).alias("list_id"))
        assigned.write.mode("overwrite").partitionBy("list_id") \
            .parquet(f"{vdir}/lists")
        spark.catalog.refreshByPath(f"{vdir}/lists")
        stats_row = (spark.read.parquet(f"{vdir}/lists")
                     .select(_residual_sq(F.col("cv"), arr).alias("r"))
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.avg("r").alias("mr")).collect()[0])
        n_vec = stats_row["n"] or 0
        mean_res = float(stats_row["mr"]) if stats_row["mr"] is not None \
            else 0.0
        spark.createDataFrame(
            [(vid, int(n_vec), mean_res)],
            "vid string, n_vectors long, mean_residual double") \
            .repartition(1).write.mode("overwrite").parquet(f"{vdir}/meta")
        # publish: one appended manifest row makes the version visible —
        # the atomic flip (monotonic seq, readers take the max)
        try:
            prev_seq = spark.read.parquet(self._manifest_path()) \
                .agg(F.max("seq")).collect()[0][0] or 0
        except Exception:  # noqa: BLE001 - first build, no manifest yet
            prev_seq = 0
        spark.createDataFrame(
            [(int(prev_seq) + 1, vid)], "seq long, vid string") \
            .repartition(1).write.mode("append") \
            .parquet(self._manifest_path())
        self._gc(spark)
        return {"vid": vid, "n_vectors": int(n_vec),
                "mean_residual": mean_res}

    def _gc(self, spark) -> None:
        """Drop version trees older than the newest ``keep_versions``
        (reader grace: an in-flight query resolved at most that many
        flips ago). Walks through the Hadoop FileSystem API
        (:mod:`pydin_spark.fs`), so the sweep works the same on
        ``file://``, ``hdfs://`` and ``s3a://`` index paths."""
        from .. import fs
        rows = spark.read.parquet(self._manifest_path()) \
            .orderBy(F.col("seq").desc()).collect()
        keep = {r["vid"] for r in rows[:self.keep_versions]}
        vroot = f"{self.path}/versions"
        if not fs.is_dir(spark, vroot):
            return
        for name in fs.listdir(spark, vroot):
            if name not in keep:
                fs.delete(spark, f"{vroot}/{name}", ignore_errors=True)

    def _centers(self, spark, vdir: str):
        import numpy as np
        rows = spark.read.parquet(f"{vdir}/centers") \
            .orderBy("list_id").collect()
        return np.array([r["center"] for r in rows])

    def append(self, new_vectors: DataFrame) -> dict:
        """Ingest fast path between rebuilds: assign new vectors to the
        SERVING version's existing cells and append them to its list
        files — no k-means retrain, no corpus rewrite. Queries and
        :meth:`knn_graph` cover the appended vectors from the next
        file listing on (append-only-table read semantics: a query
        mid-flight during the append keeps its resolved file set).

        The centroids stay the build-time ones, so recall degrades as
        appended data drifts from them — exactly what :meth:`drift`
        measures against the build-time ``mean_residual`` baseline
        (which ``append`` deliberately does NOT update): the scheduler
        maintenance job sees drift rise and triggers :meth:`rebuild`.
        Appending an id that already exists duplicates it (this is a
        vector log, not an upsert) — dedup upstream or rebuild.

        Concurrent-rebuild safety: after writing, append re-resolves
        the manifest; if a rebuild flipped the serving version
        mid-append, the batch (now sitting in a superseded tree) is
        re-assigned against the NEW version's centroids and re-applied
        — the ``keep_versions`` GC grace keeps the superseded tree
        from being deleted under the in-flight write. Losing a batch
        would need rebuilds to flip on every retry.

        RESIDUAL RACE (check-after-write, best-effort not atomic): a
        rebuild that listed the serving version's files BEFORE this
        write but flips AFTER the equality check passes builds the new
        version without the batch, and append has already returned
        success — no amount of post-write re-reading closes this
        without a write lock, because the flip can always land after
        the last check. The shipped mitigation is serialization at the
        orchestration layer: rebuilds run as the scheduler maintenance
        job (drift-triggered, one at a time) and ingest should pause
        or drain around them; if appends and rebuilds must genuinely
        overlap, re-append the batches ingested during the rebuild's
        scan window (appends are idempotent only at the batch level —
        the index is a vector log — so track batch ids upstream).

        Returns {"vid", "n_appended"}.
        """
        spark = new_vectors.sparkSession
        n = new_vectors.count()
        cv = F.transform(F.col(self.vec_col), lambda v: v.cast("double"))
        for _ in range(3):
            vid = self._current_vid(spark)
            vdir = self._version_path(vid)
            centers = self._centers(spark, vdir)
            assigned = new_vectors.select(
                F.col(self.id_col), cv.alias("cv"),
                F.element_at(_nearest_lists(cv, 1, centers), 1)
                .alias("list_id"))
            (assigned.write.mode("append").partitionBy("list_id")
             .parquet(f"{vdir}/lists"))
            spark.catalog.refreshByPath(f"{vdir}/lists")
            if self._current_vid(spark) == vid:
                return {"vid": vid, "n_appended": int(n)}
        raise RuntimeError(
            "append raced a rebuild on every attempt — pause the "
            "maintenance job or serialize ingest with rebuilds")

    def build_pq(self, spark, m: int = 8, ksub: int = 16,
                 codebook: list | None = None,
                 max_iter: int = 10) -> dict:
        """Attach PQ codes to the SERVING version — the memory tier of
        the stored index (faiss IVF+PQ): ``versions/<vid>/pq/book``
        (one row per (subspace, code) centroid) and ``pq/codes`` (one
        m-byte code row per stored vector, encoded from the version's
        own list files). Serving sessions then answer
        :meth:`query_pq` from codes alone — ``m`` bytes/vector
        resident instead of ``4·dim``.

        ``codebook=None`` trains per-subspace k-means on the stored
        corpus (:func:`pq_train`); pass :func:`pq_codebook` output for
        the deterministic hash book (the oracle-able configuration).
        PQ artifacts belong to ONE version: a ``rebuild`` publishes a
        new vid without them, so the maintenance job should re-run
        ``build_pq`` after any rebuild (same trigger as the graph
        artifacts). Returns {"vid", "m", "ksub", "n_codes"}.
        """
        vid = self._current_vid(spark)
        vdir = self._version_path(vid)
        corpus = spark.read.parquet(f"{vdir}/lists")
        if codebook is None:
            codebook = pq_train(corpus, m=m, ksub=ksub, vec_col="cv",
                                seed=self.seed, max_iter=max_iter)
        rows = [(j, c, list(map(float, cent)))
                for j, sub in enumerate(codebook)
                for c, cent in enumerate(sub)]
        spark.createDataFrame(
            rows, "j int, c int, center array<double>") \
            .repartition(1).write.mode("overwrite") \
            .parquet(f"{vdir}/pq/book")
        codes = pq_encode(corpus, codebook, self.id_col, "cv",
                          keep_cols=("list_id",))
        codes.write.mode("overwrite").partitionBy("list_id") \
            .parquet(f"{vdir}/pq/codes")
        spark.catalog.refreshByPath(f"{vdir}/pq/codes")
        n = spark.read.parquet(f"{vdir}/pq/codes").count()
        return {"vid": vid, "m": len(codebook),
                "ksub": len(codebook[0]), "n_codes": int(n)}

    def pq_book(self, spark) -> list:
        """The serving version's stored codebook as the nested-list
        shape every pq_* function takes (driver-tiny: m·ksub rows)."""
        vid = self._current_vid(spark)
        rows = spark.read.parquet(
            f"{self._version_path(vid)}/pq/book") \
            .orderBy("j", "c").collect()
        book: dict = {}
        for r in rows:
            book.setdefault(r["j"], []).append(list(r["center"]))
        return [book[j] for j in sorted(book)]

    def query_pq(self, spark, queries: DataFrame, k: int = 5,
                 nprobe: int | None = None,
                 query_id_col: str = "query_id") -> DataFrame:
        """ADC top-k served from the STORED codes — no full vectors
        read, no re-encoding: the billion-vector serving path.
        Identical semantics to :func:`pq_topk` with ``codes=`` (same
        fixed-order sums, same tie rule), so a stored serve is
        value-exact against the direct computation AND the SQL twin.

        With ``nprobe`` set this is the full faiss IVF+PQ composition:
        each query's candidate set is only the codes stored in its
        ``nprobe`` nearest cells — the codes live PARTITIONED BY
        ``list_id`` under the version, so the probe is partition
        pruning on an m-bytes-per-vector table (``nprobe/nlist`` of
        already-64×-compressed data). ``nprobe=None`` (or = nlist)
        scans all codes, the exhaustive-ADC oracle point.
        """
        vid = self._current_vid(spark)
        vdir = self._version_path(vid)
        codes = spark.read.parquet(f"{vdir}/pq/codes")
        book = self.pq_book(spark)
        if nprobe is not None and int(nprobe) < self.nlist:
            from pyspark.sql import functions as F2
            centers = self._centers(spark, vdir)
            qv = F.transform(F.col(self.vec_col),
                             lambda v: v.cast("double"))
            m = len(book)
            dsub = len(book[0][0])
            # per-query probe cells AND the ADC lookup table — both
            # computed once per query row, before any join
            probed = queries.select(
                F.col(query_id_col),
                F.array(*[_pq_sub_dists(self.vec_col, book[j], j,
                                        dsub) for j in range(m)])
                .alias("__tab"),
                F.explode(_nearest_lists(qv, int(nprobe), centers))
                .alias("list_id"))
            # per-query cell restriction: a code row pairs only with
            # queries that probe its cell (equi-join on list_id of a
            # broadcast query set — partition pruning does the rest)
            pairs = (codes.select(F.col(self.id_col).alias("nbr_id"),
                                  "code", "list_id")
                     .join(F2.broadcast(probed), "list_id")
                     .where(F.col("nbr_id") != F.col(query_id_col)))
            return _adc_rank(pairs, m, k, query_id_col)
        return pq_topk(None, queries, book, k=k, id_col=self.id_col,
                       vec_col=self.vec_col, query_id_col=query_id_col,
                       codes=codes)

    def meta(self, spark) -> dict:
        """Stats of the serving version (vid, n_vectors,
        mean_residual) — the build-time baseline ``drift`` compares
        against."""
        vid = self._current_vid(spark)
        row = spark.read.parquet(f"{self._version_path(vid)}/meta") \
            .collect()[0]
        return {"vid": row["vid"], "n_vectors": row["n_vectors"],
                "mean_residual": row["mean_residual"]}

    def maintain(self, spark, corpus: DataFrame | None = None,
                 drift_threshold: float | None = None,
                 sample_fraction: float | None = None,
                 max_files: int = 64) -> dict:
        """Shared stored-state upkeep (the
        :func:`~pydin_spark.functions.maintenance.maintain_states`
        contract): sweep orphan version trees — crashed builds that
        never published a manifest row, plus versions older than
        ``keep_versions`` — and compact the append-per-flip manifest
        once it fragments. With ``corpus`` and ``drift_threshold``
        set, also runs the drift→rebuild tick
        (examples/ann_index_maintenance.py's recipe) in the same
        sweep. Returns per-step stats; ``{}`` when no index exists
        yet."""
        from ..functions.maintenance import compact_if_fragmented
        out: dict[str, object] = {}
        try:
            self._current_vid(spark)
        except Exception:  # noqa: BLE001 - no index yet
            return out
        if corpus is not None and drift_threshold is not None:
            d = self.drift(corpus, sample_fraction=sample_fraction)
            out["drift"] = d
            if d["drift_ratio"] > drift_threshold:
                # PQ artifacts belong to one version: remember the
                # serving codebook so the new version isn't published
                # code-less (re-ENCODING is mandatory, re-TRAINING is
                # a quality call left to the caller — the old book
                # keeps serving continuity and its rising
                # reconstruction error is the retrain signal).
                # Detection is attempt-the-read, not os.path — the
                # index path may live on an object store where local
                # stat calls always say "absent". Classify, don't
                # blanket: only ABSENCE means "this version has no
                # PQ"; a transient read error must surface, not
                # silently publish a code-less rebuild
                try:
                    old_book = self.pq_book(spark)
                except Exception as exc:  # noqa: BLE001 - classify below
                    if not _is_missing(exc):
                        raise
                    old_book = None
                out["rebuilt"] = self.rebuild(corpus)
                if old_book is not None:
                    out["pq"] = self.build_pq(spark, codebook=old_book)
        from .. import fs
        vroot = f"{self.path}/versions"
        before = (len(fs.listdir(spark, vroot))
                  if fs.is_dir(spark, vroot) else 0)
        self._gc(spark)
        after = (len(fs.listdir(spark, vroot))
                 if fs.is_dir(spark, vroot) else 0)
        out["versions"] = {"before": before, "after": after}
        res = compact_if_fragmented(spark, self._manifest_path(),
                                    max_files=max_files)
        if res:
            out["manifest"] = res
        return out

    def knn_graph(self, spark, k: int = 5,
                  nprobe: int = 2) -> DataFrame:
        """Approximate kNN graph over the index's OWN stored corpus,
        reusing the stored centroids — the graph-construction entry of
        the stored-index lifecycle: build/rebuild the index once, then
        derive semantic-clustering graphs (pass the result as
        :func:`semantic_cluster_dedup`'s / :func:`mutual_knn_pairs`'s
        ``graph=``) without retraining k-means per call. ``nprobe = nlist`` is provably the exact graph of
        the stored corpus. Reads the serving version's immutable
        files, so a concurrent rebuild can't shear the result."""
        vdir = self._version_path(self._current_vid(spark))
        centers = self._centers(spark, vdir)
        corpus = (spark.read.parquet(f"{vdir}/lists")
                  .select(F.col(self.id_col), F.col("cv")))
        return ivf_knn_graph(corpus, k=k, nprobe=nprobe,
                             id_col=self.id_col, vec_col="cv",
                             centers=centers)

    def _graph_path(self, vdir: str, k: int, nprobe: int) -> str:
        return f"{vdir}/graphs/k{int(k)}_p{int(nprobe)}"

    def build_graph(self, spark, k: int = 5,
                    nprobe: int = 2) -> DataFrame:
        """Materialize the stored-corpus kNN graph next to the serving
        version (``graphs/k<k>_p<nprobe>/``) so downstream consumers
        (semantic clustering, dedup) read edges instead of recomputing
        them, and :meth:`patch_graph` can maintain them incrementally
        after appends."""
        vdir = self._version_path(self._current_vid(spark))
        path = self._graph_path(vdir, k, nprobe)
        g = self.knn_graph(spark, k=k, nprobe=nprobe)
        g.write.mode("overwrite").parquet(path)
        spark.catalog.refreshByPath(path)
        return self.read_graph(spark, k=k, nprobe=nprobe)

    def read_graph(self, spark, k: int = 5,
                   nprobe: int = 2) -> DataFrame:
        """The stored edge frame (src_id, nbr_id, cosine, rnk) of the
        serving version — build_graph/patch_graph first."""
        vdir = self._version_path(self._current_vid(spark))
        return (spark.read.parquet(self._graph_path(vdir, k, nprobe))
                .select("src_id", "nbr_id", "cosine", "rnk"))

    def patch_graph(self, new_vectors: DataFrame, k: int = 5,
                    nprobe: int = 2) -> DataFrame:
        """Incremental graph maintenance after :meth:`append` of the
        SAME batch: a source's edge set depends only on the member
        sets of the cells it probes, and an append only ADDS members —
        so exactly the sources probing a touched cell (plus the
        appended vectors themselves, which are such sources by
        construction) are recomputed; every other stored edge is
        provably still correct and carried over unchanged. The result
        is IDENTICAL to a full rebuild at the same (k, nprobe) —
        pinned in tests — at ~(touched cells / nlist) of the cost.

        Call order: ``append(batch)`` then ``patch_graph(batch)``,
        both against the same serving version (patch re-reads the
        current manifest; run it before the next rebuild flips).
        """
        spark = new_vectors.sparkSession
        vdir = self._version_path(self._current_vid(spark))
        centers = self._centers(spark, vdir)
        path = self._graph_path(vdir, k, nprobe)
        old = spark.read.parquet(path)
        cv = F.transform(F.col(self.vec_col),
                         lambda v: v.cast("double"))
        touched = (new_vectors.select(
            F.element_at(_nearest_lists(cv, 1, centers), 1)
            .alias("list_id")).distinct())
        corpus = (spark.read.parquet(f"{vdir}/lists")
                  .select(F.col(self.id_col), F.col("cv")))
        nprobe_eff = min(int(nprobe), len(centers))
        probes = corpus.select(
            F.col(self.id_col),
            F.explode(_nearest_lists(F.col("cv"), nprobe_eff, centers))
            .alias("list_id"))
        from pyspark.sql.functions import broadcast
        affected = (probes.join(broadcast(touched), "list_id")
                    .select(self.id_col).distinct())
        fresh = ivf_knn_graph(corpus, k=k, nprobe=nprobe,
                              id_col=self.id_col, vec_col="cv",
                              centers=centers, src_ids=affected)
        kept = old.join(
            affected.withColumnRenamed(self.id_col, "src_id"),
            "src_id", "left_anti")
        # materialize before overwriting the directory being read
        out = kept.unionByName(fresh).localCheckpoint(eager=True)
        out.write.mode("overwrite").parquet(path)
        spark.catalog.refreshByPath(path)
        return self.read_graph(spark, k=k, nprobe=nprobe)

    def drift(self, corpus: DataFrame,
              sample_fraction: float | None = None,
              seed: int = 7) -> dict:
        """Centroid-staleness metric for scheduling retrains: assign
        (a sample of) the CURRENT corpus to the STORED centroids and
        compare the mean squared residual against the residual the
        serving version recorded at build time. ``drift_ratio`` ≈ 1
        means the stored centroids still describe the corpus;
        sustained growth (new domains, distribution shift) silently
        degrades pruned-probe recall — schedule ``rebuild`` when it
        crosses a threshold (e.g. 1.2). One scan of the sample, no
        shuffle."""
        spark = corpus.sparkSession
        vid = self._current_vid(spark)
        vdir = self._version_path(vid)
        centers = self._centers(spark, vdir)
        base = self.meta(spark)
        sample = corpus if sample_fraction is None \
            else corpus.sample(fraction=sample_fraction, seed=seed)
        cv = F.transform(F.col(self.vec_col), lambda v: v.cast("double"))
        row = (sample.select(_residual_sq(cv, centers).alias("r"))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.avg("r").alias("mr")).collect()[0])
        cur = float(row["mr"]) if row["mr"] is not None else 0.0
        built = base["mean_residual"]
        ratio = cur / built if built else float("inf") if cur else 1.0
        return {"vid": vid, "built_residual": built,
                "current_residual": cur, "drift_ratio": ratio,
                "n_sampled": row["n"], "rebuild_recommended": ratio > 1.2}

    def query(self, queries: DataFrame, k: int = 5,
              nprobe: int = 4,
              query_id_col: str = "query_id") -> DataFrame:
        spark = queries.sparkSession
        # resolve the serving version ONCE; everything below reads that
        # version's immutable files — a concurrent rebuild can flip the
        # manifest mid-query without affecting this result
        vdir = self._version_path(self._current_vid(spark))
        centers = self._centers(spark, vdir)
        q_assigned = _vectors(queries, query_id_col, self.vec_col, "b")
        q_assigned = q_assigned.select(
            query_id_col, "__vb", "__nb",
            F.explode(_nearest_lists(F.col("__vb"), nprobe, centers))
            .alias("list_id")).persist()
        # which partitions this batch touches (≤ nlist values — tiny)
        needed = sorted(r["list_id"] for r in
                        q_assigned.select("list_id").distinct().collect())
        corpus = _vectors(spark.read.parquet(f"{vdir}/lists")
                          .where(F.col("list_id").isin(needed)),
                          self.id_col, "cv", "a", id_as="nbr_id",
                          keep=("list_id",))
        pairs = (corpus.join(F.broadcast(q_assigned), "list_id")
                 .where(F.col("nbr_id") != F.col(query_id_col)))
        out = _rank_topk(pairs.select(query_id_col, "nbr_id", _cosine()),
                         query_id_col, k).localCheckpoint(eager=True)
        q_assigned.unpersist()
        return out


def _center_dists(vs, centers):
    """(batch, nlist) float64 squared-L2 matrix for an Arrow batch of
    vectors: one row-block subtraction per centroid, summed in
    float64 — the same cast-then-arithmetic per-element math as the
    JVM fold it replaced (summation-order rounding differs at the
    1e-16 level; assignments are empirically identical on the fixture
    corpora, pinned by the oracle gates). Used where the VALUE is
    served (:func:`_residual_sq`, sample-sized inputs); the
    assignment hot path uses :func:`_center_dists_gemm`."""
    import numpy as np
    mat = np.stack(vs.to_numpy()).astype(np.float64, copy=False)
    out = np.empty((mat.shape[0], len(centers)), dtype=np.float64)
    for c in range(len(centers)):
        d = mat - centers[c]
        out[:, c] = np.einsum("ij,ij->i", d, d)
    return out


def _center_dists_gemm(vs, centers, c_sq):
    """Assignment-path distances via the |x|² − 2·x·Cᵀ + |c|² gemm
    expansion: one BLAS matmul per Arrow batch instead of nlist
    row-block subtractions (the subtraction loop moves nlist×batch×dim
    temporaries through memory and measured 6.2 s for the sf10
    assignment pass; the gemm form is compute-bound). Only the
    ORDER of distances is consumed (list ids), never the value — the
    expansion's different rounding cannot reach a served number."""
    import numpy as np
    mat = np.stack(vs.to_numpy()).astype(np.float64, copy=False)
    d = mat @ centers.T
    d *= -2.0
    d += np.einsum("ij,ij->i", mat, mat)[:, None]
    d += c_sq[None, :]
    return d


def _nearest_ids(d, n):
    """First ``n`` center ids per row ordered by (distance, id) — the
    shared tie contract of every IVF reader/writer. argmin / bounded
    argpartition instead of a full stable argsort of the nlist axis
    (the argsort measured as half the assignment pass at nlist=333);
    the boundary-tie audit falls back to the full stable sort for any
    row where equal distances straddle the partition cut (duplicate
    centroids from collapsed k-means cells — vanishingly rare, but
    the contract must hold exactly)."""
    import numpy as np
    if n == 1:
        # argmin returns the FIRST minimum: the (distance, id) order
        return d.argmin(axis=1).astype(np.int32)[:, None]
    m = d.shape[1]
    if m <= max(4 * n, 16):
        return np.argsort(d, axis=1, kind="stable")[:, :n] \
            .astype(np.int32)
    cand = np.argpartition(d, 2 * n - 1, axis=1)[:, :2 * n]
    rows = np.arange(d.shape[0])[:, None]
    dc = d[rows, cand]
    # stable two-pass = order by (distance, id) within the candidates
    o1 = np.argsort(cand, axis=1, kind="stable")
    cand = cand[rows, o1]
    dc = dc[rows, o1]
    o2 = np.argsort(dc, axis=1, kind="stable")
    cand = cand[rows, o2]
    dc = dc[rows, o2]
    top = cand[:, :n].copy()
    kth = dc[:, n - 1]
    bad = (d <= kth[:, None]).sum(axis=1) > 2 * n
    if bad.any():
        top[bad] = np.argsort(d[bad], axis=1,
                              kind="stable")[:, :n]
    return top.astype(np.int32)


def _residual_sq(vec_col_expr, centers):
    """Column: squared L2 distance from a vector to its NEAREST stored
    centroid (the k-means assignment residual). Arrow-vectorized —
    the n x nlist distance matrix runs as numpy row-block arithmetic,
    not an interpreted per-element expression fold (the fold measured
    ~40x slower at nlist=333, and it is the term that turns
    nlist-proportional-to-n sizing quadratic; see _nearest_lists)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centers, dtype=np.float64)

    @F.pandas_udf("double")
    def residual(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(_center_dists(vs, C).min(axis=1))

    return residual(vec_col_expr)


def _nearest_lists(vec_col_expr, n: int, centers):
    """Column: the ``n`` nearest centroid ids for a vector, ties
    broken by centroid id ascending (the contract every IVF reader
    shares). Arrow-vectorized: per batch one (rows x nlist) BLAS-fed
    distance matrix + a stable argsort — at the production sizing
    rule nlist ∝ n this keeps the assignment's n x nlist term at
    numpy throughput instead of interpreted-expression throughput
    (measured at sf10/nlist=333: the expression fold made the WHOLE
    ivf_knn_graph build 196 s; vectorized assignment returns it to
    matmul-bound linear scaling — VERDICT r8 #2)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centers, dtype=np.float64)
    C_sq = np.einsum("ij,ij->i", C, C)
    n = min(int(n), len(C))

    @F.pandas_udf("array<int>")
    def nearest(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        idx = _nearest_ids(_center_dists_gemm(vs, C, C_sq), n)
        return pd.Series(list(idx))

    return nearest(vec_col_expr)


def semantic_dedup(df: DataFrame, threshold: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   nlist: int = 16, max_iter: int = 10,
                   sample_fraction: float = 1.0,
                   seed: int = 42,
                   owned_frames: list | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): k-means cluster the embedding space, then WITHIN
    each cluster drop every vector whose cosine to a lower-id vector
    reaches ``threshold`` (a deterministic first-wins dominance rule —
    the keeper of each near-duplicate set is the smallest id, and the
    result is engine-reproducible, unlike similarity-to-centroid
    tie-breaks). Returns the surviving input rows unchanged.

    The clustering is the scale trick: candidate pairs are generated
    per cluster (an equi-join on ``list_id``), so the quadratic cost is
    n²/nlist per cluster instead of a corpus cross-join — the same
    bound the paper exploits at web scale. Cross-cluster near-dups are
    missed by construction (the paper's accepted trade); ``nlist=1``
    is the exact operating point where the result equals the global
    dominance rule — that point is oracle-verified, the pruned
    configs are covered by superset tests.

    At 100 TB: train centroids on ``sample_fraction`` of the corpus
    (k-means sees a bounded sample, assignment stays a broadcast-
    centroid scan), and the per-cluster self-join shuffles on the
    cluster id. Skewed clusters (one mega-cluster) are the known
    failure mode — pick nlist ~ n/10⁴ so clusters stay joinable.
    """
    pairs = semantic_dup_pairs(df, threshold, id_col, vec_col, nlist,
                               max_iter, sample_fraction, seed,
                               owned_frames=owned_frames)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def semantic_dup_pairs(df: DataFrame, threshold: float = 0.95,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       nlist: int = 16, max_iter: int = 10,
                       sample_fraction: float = 1.0,
                       seed: int = 42,
                       owned_frames: list | None = None) -> DataFrame:
    """The pair surface under :func:`semantic_dedup`: every
    within-cluster pair with cosine >= ``threshold``, as
    (id_a, id_b, cosine) with id_a < id_b — same contract as
    :func:`cosine_dup_pairs`, but candidate generation is bounded by
    the k-means clustering instead of the block-matrix prefilter.
    Feed these to :func:`~pydin_spark.operators.dedup.
    connected_components` / ``leakage_safe_split(pairs=...)`` to
    group corpora by EMBEDDING similarity rather than n-gram overlap.
    """
    if nlist <= 1:
        # exact operating point: one global cluster, no training
        assigned = _vectors(df, id_col, vec_col,
                            keep=[F.lit(0).alias("list_id")])
    else:
        import numpy as np
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train_src = df if sample_fraction >= 1.0 else \
            df.sample(fraction=sample_fraction, seed=seed)
        if train_src.isEmpty():
            # a quiet ingest cycle must yield an empty pair set, not a
            # KMeans crash on zero training rows
            return df.sparkSession.createDataFrame(
                [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                    f"id_b {df.schema[id_col].dataType.simpleString()}, "
                    "cosine double")
        train = train_src.select(
            array_to_vector(F.transform(F.col(vec_col),
                                        lambda v: v.cast("double")))
            .alias("features"))
        model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(train)
        centers = np.array([np.asarray(c) for c in model.clusterCenters()])
        assigned = _vectors(df, id_col, vec_col).withColumn(
            "list_id",
            F.element_at(_nearest_lists(F.col("__v"), 1, centers), 1))
    # cached with the per-row nearest-centroid assignment
    assigned = assigned.persist()
    if owned_frames is not None:
        owned_frames.append(assigned)
    a, b = _pair_sides(assigned, id_col, ("id_a", "id_b"), ("list_id",))
    return (a.join(b, "list_id")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", _cosine())
            .where(F.col("cosine") >= F.lit(float(threshold))))


def projection_signs(seed: int, out_dim: int, in_dim: int) -> list:
    """Deterministic ±1 Achlioptas projection matrix, seeded by md5 —
    ``signs[j][i]`` is the sign input dimension ``i`` contributes to
    output dimension ``j``. A pure function of (seed, j, i), so any
    engine (Spark operator, SQL oracle, a future serving layer) can
    regenerate the identical matrix from the three integers instead of
    shipping the matrix itself."""
    import hashlib
    return [[1 if int(hashlib.md5(f"{seed}:{j}:{i}".encode())
                      .hexdigest()[:8], 16) % 2 == 0 else -1
             for i in range(in_dim)]
            for j in range(out_dim)]


def embedding_drift(a: DataFrame, b: DataFrame,
                    vec_col: str = "embedding",
                    dim: int | None = None,
                    quant: int = 10 ** 6) -> DataFrame:
    """Embedding-space drift between two vector sets — the VECTOR
    complement to :func:`~pydin_spark.operators.curation.dist_drift`:
    a recrawl or a new encoder version can leave every scalar QA
    histogram flat while the embedding distribution moves (new topic
    mass, encoder drift); the first-order evidence is the
    per-coordinate mean shift, reported per coordinate (WHERE the
    space moved) with the summing left to the consumer, exactly the
    dist_drift philosophy.

    Exactness: each value is quantized onto the ``1/quant`` grid
    FIRST (``floor(v·quant)`` BIGINT — a per-row expression, no float
    accumulation), per-coordinate sums are exact BIGINT (order-
    independent), and the mean is one integer division truncated
    TOWARD ZERO on both engines via an explicit sign split (Spark
    ``div`` truncates, DuckDB ``//`` floors — they disagree on
    negative sums, so the CASE is written out in both). Overflow
    bound: ``n · max|v| · quant < 2^63`` — at quant 1e6 and unit-norm
    embeddings that is ~9e12 vectors per side.

    Output: (coord INT 0-based, n_a, n_b, mean_a_q, mean_b_q,
    delta_q BIGINT) — means in ``1/quant`` units,
    ``delta_q = mean_b_q − mean_a_q``. Rows with NULL vectors drop;
    with ``dim`` set, a vector SHORTER than ``dim`` fails loudly
    (codegen-side raise_error — a truncated-encoder batch must not
    silently shrink ``n`` and pass the QA gate clean), and longer
    vectors are sliced to the first ``dim``. Scale shape: one
    posexplode + one
    map-side-combined (coord) aggregate per side — shuffle rows =
    dim × partitions, never corpus-sized — and a dim-sized join.
    """
    if int(quant) < 1:
        raise ValueError("quant must be a positive integer")

    def side(df, tag):
        base = df.where(F.col(vec_col).isNotNull())
        if dim is not None:
            # loud ragged guard: silently excluding short vectors
            # would shrink n with no signal — the exact skew a drift
            # check exists to catch (round-8 review finding)
            base = base.withColumn(
                vec_col,
                F.when(F.size(vec_col) < int(dim), F.raise_error(
                    F.lit(f"embedding_drift: a {vec_col} vector is "
                          f"shorter than dim={int(dim)} — fix the "
                          "encoder or pass the true dim")))
                .otherwise(F.col(vec_col)))
            vec = F.slice(F.col(vec_col), 1, int(dim))
        else:
            vec = F.col(vec_col)
        q = F.floor(F.col("v").cast("double") * F.lit(float(quant))) \
            .cast("long")
        return (base.select(F.posexplode(vec).alias("coord", "v"))
                .select("coord", q.alias("q"))
                .groupBy("coord")
                .agg(F.count(F.lit(1)).alias(f"n_{tag}"),
                     F.sum("q").alias(f"s_{tag}")))

    def mean_q(s, n):
        # truncate-toward-zero integer mean, identical on both
        # engines (see docstring)
        return F.expr(f"CASE WHEN {s} >= 0 THEN {s} div {n} "
                      f"ELSE -((-{s}) div {n}) END").cast("long")

    ca, cb = side(a, "a"), side(b, "b")
    out = (ca.join(cb, "coord")
           .withColumn("mean_a_q", mean_q("s_a", "n_a"))
           .withColumn("mean_b_q", mean_q("s_b", "n_b")))
    return out.select(
        "coord", "n_a", "n_b", "mean_a_q", "mean_b_q",
        (F.col("mean_b_q") - F.col("mean_a_q")).cast("long")
        .alias("delta_q"))


def project_embeddings(df: DataFrame, out_dim: int = 8,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       in_dim: int | None = None,
                       seed: int = 42) -> DataFrame:
    """Random ±1 projection (Achlioptas 2003 / JL) of an embedding
    column down to ``out_dim`` — the dimensionality-reduction front
    end for the ANN family: project once, then LSH-bucket / IVF-train
    in the small space where distance computations are ``in_dim /
    out_dim`` cheaper, re-scoring survivors with the full vectors.

    Exactness contract: each output coordinate is the FIXED-ORDER
    left-associated sum ``Σ_i cast(vec[i] as double) * signs[j][i]``
    — multiplying by ±1.0 is exact in IEEE, and identical summation
    order makes the doubles bit-identical across engines, so the
    operator carries a value-exact oracle like everything else here.
    The JL ``1/sqrt(out_dim)`` rescale is deliberately omitted:
    cosine/rank downstream is scale-invariant and the literal would
    add a rounding step.

    Scale shape: pure Column arithmetic (out_dim × in_dim fused
    multiply-adds per row inside whole-stage codegen) — no shuffle,
    no Python, no driver traffic except the optional one-scalar
    ``in_dim`` inference. Output: (id, proj array<double>).
    """
    if in_dim is None:
        row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if row is None:
            raise ValueError("cannot infer in_dim from an empty frame")
        in_dim = int(row["d"])
    signs = projection_signs(seed, int(out_dim), int(in_dim))
    comps = []
    for j in range(int(out_dim)):
        acc = None
        for i in range(int(in_dim)):
            # try_element_at so a short vector can't throw the opaque
            # ANSI index error before the loud guard below evaluates;
            # for well-formed rows it is element_at exactly
            term = (F.try_element_at(F.col(vec_col), F.lit(i + 1))
                    .cast("double")
                    * F.lit(float(signs[j][i])))
            acc = term if acc is None else acc + term
        comps.append(acc)
    # ragged guard: a vector shorter than in_dim would otherwise
    # silently produce NULL proj components — fail LOUDLY instead
    # (mirrors word_shingles' short-doc guard). raise_error is
    # codegen-side: zero cost on the well-formed path, no extra pass.
    short = F.size(F.col(vec_col)) < int(in_dim)
    checked_id = F.when(short, F.raise_error(F.concat(
        F.lit(f"project_embeddings: {vec_col} shorter than "
              f"in_dim={int(in_dim)} at {id_col}="),
        F.col(id_col).cast("string")))).otherwise(F.col(id_col))
    return df.select(checked_id.alias(id_col),
                     F.array(*comps).alias("proj"))


def projection_oracle_expr(seed: int, out_dim: int, in_dim: int,
                           arr: str = "e") -> str:
    """SQL list expression mirroring :func:`project_embeddings`'s
    fixed-order arithmetic over a DOUBLE[] column named ``arr`` —
    compose into a DuckDB oracle. Same :func:`projection_signs`
    matrix, same left-associated chain."""
    signs = projection_signs(seed, int(out_dim), int(in_dim))
    comps = []
    for j in range(int(out_dim)):
        comps.append(" + ".join(
            f"{arr}[{i + 1}] * {float(signs[j][i])}"
            for i in range(int(in_dim))))
    return "[" + ", ".join(comps) + "]"


def pq_codebook(seed: int, m: int, ksub: int, dsub: int) -> list:
    """Deterministic product-quantization codebook:
    ``codebook[j][c][t]`` is centroid ``c`` of subspace ``j`` at
    sub-dimension ``t``, drawn from the md5 hash of (seed, j, c, t)
    onto the exact binary grid ``{-1024..1024}/1024`` — every value
    has a terminating decimal expansion, so the literal text parses
    to the IDENTICAL double in any engine (the same trick as
    :func:`projection_signs`). A hash codebook quantizes with higher
    distortion than a k-means-trained one (:func:`pq_train`); its
    point is being a pure function of four integers, which is what
    lets encode/decode/ADC carry value-exact SQL oracles."""
    import hashlib

    def val(j, c, t):
        h = int(hashlib.md5(f"{seed}:{j}:{c}:{t}".encode())
                .hexdigest()[:12], 16)
        return (h % 2049 - 1024) / 1024.0

    return [[[val(j, c, t) for t in range(dsub)]
             for c in range(ksub)]
            for j in range(m)]


def pq_train(df: DataFrame, m: int = 8, ksub: int = 16,
             vec_col: str = "embedding", seed: int = 42,
             max_iter: int = 10) -> list:
    """Train a PQ codebook: one MLlib k-means per subspace over the
    corpus's subvectors — the production path (hash codebooks are the
    oracle-able fallback; trained ones cut reconstruction error, see
    the round-6 tests). Returns the same nested-list shape as
    :func:`pq_codebook`. Training cost is m small k-means over
    dsub-dim points; at 100 TB train on a sample, exactly like IVF.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim_row is None:
        raise ValueError("cannot train on an empty frame")
    dim = int(dim_row["d"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    book = []
    for j in range(m):
        sub = df.select(array_to_vector(F.slice(
            F.transform(F.col(vec_col), lambda v: v.cast("double")),
            j * dsub + 1, dsub)).alias("features"))
        model = KMeans(k=ksub, seed=seed + j, maxIter=max_iter).fit(sub)
        book.append([[float(x) for x in c]
                     for c in model.clusterCenters()])
    return book


def _pq_sub_dists(vec_col: str, book_j: list, j: int, dsub: int):
    """Array of fixed-order squared distances from subspace ``j`` of
    ``vec_col`` to each centroid in ``book_j``.

    Formulated with higher-order functions (transform over centroid
    literals, aggregate over sub-dimensions) instead of m·ksub·dsub
    explicit Add/Multiply nodes: the explicit tree tripped Janino's
    64 KB method limit and fell back to interpreted eval — measured
    pq_topk 38.7 s → 3.5 s and pq_encode 10.9 s → 1.3 s at sf0.001
    after this change (ROADMAP #21). Exactness is preserved bit-for-
    bit: ``aggregate`` folds LEFT in the same term order as the old
    chain, and the 0.0 seed is exact for the non-negative squared
    terms (0.0 + x == x in IEEE for x >= +0.0) — verified against
    the unchanged explicit-chain SQL oracle on raw doubles.
    """
    cents = F.array(*[F.lit([float(x) for x in cent])
                      for cent in book_j])

    def sq_term(cent, t):
        e = (F.element_at(F.col(vec_col), F.lit(j * dsub) + t)
             .cast("double") - F.element_at(cent, t))
        return e * e

    return F.transform(
        cents,
        lambda cent: F.aggregate(
            F.sequence(F.lit(1), F.lit(int(dsub))),
            F.lit(0.0),
            lambda acc, t: acc + sq_term(cent, t)))


def pq_encode(df: DataFrame, codebook: list,
              id_col: str = "vec_id",
              vec_col: str = "embedding",
              keep_cols: tuple = ()) -> DataFrame:
    """Product-quantization encode: each vector becomes ``m`` small
    integer codes — the 64-float embedding compresses to ``m`` bytes,
    the memory tier that makes billion-vector ANN serving fit in RAM
    (Jégou et al. 2011; the faiss IVF+PQ standard — compose with the
    IVF family here for the full shape).

    Exactness contract: per subspace, squared distances to every
    centroid are FIXED-ORDER double sums and the code is the FIRST
    index attaining the minimum (``array_position(d, array_min(d))``)
    — bit-identical across engines when the codebook literals are
    exact binary values (:func:`pq_codebook`) or shared verbatim
    (:func:`pq_train` output embedded in both plans).

    Scale shape: pure per-row arithmetic (m·ksub·dsub fused
    multiply-adds inside codegen), zero shuffle, zero Python.
    Output: (id, code array<int>, 0-based codes) plus any
    ``keep_cols`` carried through (e.g. ``list_id`` so a stored
    layout can partition codes by IVF cell).
    """
    m = len(codebook)
    dsub = len(codebook[0][0])
    codes = []
    for j in range(m):
        d = _pq_sub_dists(vec_col, codebook[j], j, dsub)
        codes.append((F.array_position(d, F.array_min(d)) - 1)
                     .cast("int"))
    return df.select(F.col(id_col), F.array(*codes).alias("code"),
                     *[F.col(c) for c in keep_cols])


def pq_reconstruction_error(df: DataFrame, codebook: list,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Encode + decode in one pass and report per-vector squared
    reconstruction error — the codebook-quality metric (trained vs
    hash codebooks, distortion drift over corpus growth: rising error
    is the PQ analogue of IVF's drift-triggered rebuild).

    Because the code IS the argmin, the reconstruction error needs no
    decode at all: ``err = Σ_j min(dists_j)`` over the same
    per-subspace distance arrays the encode computes — one pass, one
    array_min per subspace, no join, no branching (the first draft
    decoded through ksub-branch CASEs per dimension; this form is the
    same value grouped per subspace and ~m·ksub× fewer branch
    evaluations). Output: (id, code, err6 string) — err formatted
    %.6f, the inventory's float-hash convention.
    """
    m = len(codebook)
    dsub = len(codebook[0][0])
    codes, err = [], None
    for j in range(m):
        d = _pq_sub_dists(vec_col, codebook[j], j, dsub)
        codes.append((F.array_position(d, F.array_min(d)) - 1)
                     .cast("int"))
        term = F.array_min(d)
        err = term if err is None else err + term
    return df.select(F.col(id_col), F.array(*codes).alias("code"),
                     F.format_string("%.6f", err).alias("err6"))


def pq_oracle_sql(codebook: list, table: str = "embeddings",
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> str:
    """DuckDB twin of :func:`pq_encode` + :func:`pq_reconstruction_
    error` with the codebook embedded as literals — same fixed-order
    distance sums, same first-min code rule (``list_position`` of
    ``list_min``), and the same per-subspace error grouping
    ``err = Σ_j list_min(dl_j)``. Returns (id, code_csv, err6)."""
    m = len(codebook)

    dl_cols = ", ".join(
        "[" + ", ".join(_pq_dist_sql(codebook, j, c)
                        for c in range(len(codebook[j])))
        + f"] AS dl{j}" for j in range(m))
    code_cols = ", ".join(
        f"CAST(list_position(dl{j}, list_min(dl{j})) - 1 AS INTEGER)"
        f" AS c{j}" for j in range(m))
    err = " + ".join(f"list_min(dl{j})" for j in range(m))
    code_csv = " || ';' || ".join(f"CAST(c{j} AS VARCHAR)"
                                  for j in range(m))
    return f"""
        WITH v AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS e
                   FROM {table}),
        d AS (SELECT {id_col}, e, {dl_cols} FROM v),
        c AS (SELECT {id_col}, {code_cols}, {err} AS err FROM d)
        SELECT {id_col}, {code_csv} AS code_csv,
               format('{{:.6f}}', err) AS err6
        FROM c
    """


def _pq_dist_sql(codebook: list, j: int, c: int,
                 arr: str = "e") -> str:
    """Fixed-order SQL squared distance of subspace ``j`` of ``arr``
    to centroid ``c`` — shared by every pq_* oracle builder so the
    arithmetic text is identical everywhere."""
    dsub = len(codebook[0][0])
    return " + ".join(
        f"({arr}[{j * dsub + t + 1}] - {codebook[j][c][t]!r})"
        f" * ({arr}[{j * dsub + t + 1}] - {codebook[j][c][t]!r})"
        for t in range(dsub))


def _adc_rank(pairs: DataFrame, m: int, k: int,
              query_id_col: str = "query_id") -> DataFrame:
    """Shared ADC tail of :func:`pq_topk` and
    :meth:`IVFIndex.query_pq`: Σ_j table-lookup distance over a
    (``__tab``, ``code``, ``nbr_id``) pair frame, then the
    (adist asc, nbr_id) rank cut at ``k``. One implementation keeps
    the stored-serve == direct == oracle equivalence a single piece
    of code instead of two hand-synced copies."""
    dist = None
    for j in range(m):
        term = F.element_at(F.element_at(F.col("__tab"), j + 1),
                            F.element_at(F.col("code"), j + 1) + 1)
        dist = term if dist is None else dist + term
    scored = pairs.select(F.col(query_id_col), F.col("nbr_id"),
                          dist.alias("adist"))
    return _rank_topk(scored, query_id_col, k, score="adist",
                      ascending=True)


def pq_topk(corpus: DataFrame, queries: DataFrame, codebook: list,
            k: int = 5, id_col: str = "vec_id",
            vec_col: str = "embedding",
            query_id_col: str = "query_id",
            codes: DataFrame | None = None) -> DataFrame:
    """Approximate top-k by ASYMMETRIC DISTANCE COMPUTATION over PQ
    codes (Jégou et al. 2011): the corpus is represented ONLY by its
    ``m``-byte codes, each candidate distance is
    ``Σ_j ||q_sub_j - codebook[j][code_j]||²`` — the serving tier
    where a billion-vector index fits in executor memory. Compose
    with :func:`ivf_topk`'s list pruning for the full IVF+PQ shape;
    re-score survivors with true vectors when exactness matters.

    Like :func:`cosine_topk`, the query set broadcasts (small by
    contract); the corpus side never shuffles — the rank window
    partitions by query id. Pass a pre-computed ``codes`` frame
    (from :func:`pq_encode`, typically read from the stored index)
    to skip re-encoding.

    Determinism: ADC distances are fixed-order double sums over
    codebook literals (grouped per subspace — the lookup-table form),
    ties rank by neighbor id — value-exact vs the SQL twin, which
    verifies the APPROXIMATION itself, not a brute-force stand-in.
    The per-pair cost is the textbook ADC trick: the m×ksub distance
    TABLE is computed once per query row, each candidate pays only
    ``m`` array lookups (the first draft decoded centroids through
    ksub-branch CASEs per pair — ~two orders of magnitude more
    branch evaluations). Output: (query_id, nbr_id, adist, rnk).
    """
    from pyspark.sql import functions as F2
    m = len(codebook)
    dsub = len(codebook[0][0])
    if codes is None:
        codes = pq_encode(corpus, codebook, id_col, vec_col)
    q = queries.select(
        F.col(query_id_col),
        F.array(*[_pq_sub_dists(vec_col, codebook[j], j, dsub)
                  for j in range(m)]).alias("__tab"))
    pairs = (codes.select(F.col(id_col).alias("nbr_id"), "code")
             .crossJoin(F2.broadcast(q))
             .where(F.col("nbr_id") != F.col(query_id_col)))
    return _adc_rank(pairs, m, k, query_id_col)


def pq_topk_oracle_sql(codebook: list, k: int = 5, n_queries: int = 10,
                       table: str = "embeddings",
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> str:
    """DuckDB twin of :func:`pq_topk` over the first ``n_queries``
    ids of ``table`` — encode CTEs plus the identical lookup-table
    ADC (per-subspace fixed-order sums, Σ_j table lookups) and
    (adist, nbr_id) rank rule. Verifies the approximation
    value-exactly."""
    m = len(codebook)

    dl_cols = ", ".join(
        "[" + ", ".join(_pq_dist_sql(codebook, j, c)
                        for c in range(len(codebook[j])))
        + f"] AS dl{j}" for j in range(m))
    code_cols = ", ".join(
        f"CAST(list_position(dl{j}, list_min(dl{j})) - 1 AS INTEGER)"
        f" AS c{j}" for j in range(m))
    tab_cols = ", ".join(
        "[" + ", ".join(_pq_dist_sql(codebook, j, c)
                        for c in range(len(codebook[j])))
        + f"] AS tl{j}" for j in range(m))
    adc = " + ".join(f"q.tl{j}[x.c{j} + 1]" for j in range(m))
    return f"""
        WITH v AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS e
                   FROM {table}),
        d AS (SELECT {id_col}, e, {dl_cols} FROM v),
        x AS (SELECT {id_col}, {code_cols} FROM d),
        q AS (SELECT {id_col} AS query_id, {tab_cols} FROM v
              WHERE {id_col} < {int(n_queries)}),
        s AS (SELECT q.query_id, x.{id_col} AS nbr_id,
                     {adc} AS adist
              FROM x CROSS JOIN q
              WHERE x.{id_col} <> q.query_id),
        r AS (SELECT query_id, nbr_id, adist,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY adist, nbr_id) AS rnk
              FROM s)
        SELECT query_id, nbr_id, adist, rnk FROM r
        WHERE rnk <= {int(k)}
    """
