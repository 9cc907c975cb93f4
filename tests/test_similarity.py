"""Random-hyperplane bucket tier against a pure-Python oracle.

The oracle redraws the planes with ``RandomState(seed).randn(planes,
dim)`` and folds every projection, dot product and norm left to right
in double, as ``F.aggregate`` does. It then keeps:

- for ``cosine_dup_pairs(method='lsh')``: the pairs that share a
  bucket and have an exact cosine >= threshold;
- for ``lsh_topk``: per query, the top-k ``(cosine desc, nbr_id)``
  corpus rows over the buckets within ``multiprobe`` bit flips of the
  query's own.

Results must match bit for bit. Pair and top-k membership only depend
on which rows share a bucket, so the bucket keys themselves (bit ``p``
is plane ``p``) are pinned separately."""

import math
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pydin_spark.operators import similarity

PLANES, SEED, K = 4, 42, 5


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _cosine(a, b):
    return _fold_dot(a, b) / (math.sqrt(_fold_dot(a, a))
                              * math.sqrt(_fold_dot(b, b)))


def _bucket(vec, hyper):
    key = 0
    for p, plane in enumerate(hyper):
        if _fold_dot(vec, [float(c) for c in plane]) > 0:
            key += 1 << p
    return key


@pytest.fixture(scope="module")
def emb(spark, views):
    return spark.table("embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def rows(emb):
    """(id, double vector, bucket key) per corpus row."""
    data = [(r[0], [float(x) for x in r[1]]) for r in emb.collect()]
    hyper = np.random.RandomState(SEED).randn(PLANES, len(data[0][1]))
    return [(i, v, _bucket(v, hyper)) for i, v in data]


def test_bucket_keys_match_oracle(emb, rows):
    bits = similarity._hyperplane_bits(emb, "embedding", PLANES, SEED)
    got = dict(emb.select(
        "vec_id",
        bits(F.transform("embedding", lambda x: x.cast("double"))))
        .collect())
    assert got == {i: key for i, _, key in rows}
    assert len(set(got.values())) > 1


def test_lsh_dup_pairs_match_oracle(emb, rows):
    threshold = 0.3
    want = set()
    for (ia, va, ka), (ib, vb, kb) in combinations(rows, 2):
        if ka == kb:
            cos = _cosine(va, vb)
            if cos >= threshold:
                want.add((min(ia, ib), max(ia, ib), cos))
    got = {tuple(r) for r in similarity.cosine_dup_pairs(
        emb, threshold, method="lsh", planes=PLANES, seed=SEED).collect()}
    assert want and got == want


@pytest.mark.parametrize("multiprobe", [0, 1])
def test_lsh_topk_matches_oracle(emb, rows, multiprobe):
    queries = emb.where("vec_id < 12").withColumnRenamed("vec_id",
                                                         "query_id")
    want = set()
    for qi, qv, qk in rows:
        if qi >= 12:
            continue
        scored = sorted(
            ((-_cosine(v, qv), i) for i, v, key in rows
             if i != qi and bin(key ^ qk).count("1") <= multiprobe))
        want |= {(qi, i, -neg, r + 1)
                 for r, (neg, i) in enumerate(scored[:K])}
    got = {tuple(r) for r in similarity.lsh_topk(
        emb, queries, k=K, planes=PLANES, seed=SEED,
        multiprobe=multiprobe).collect()}
    assert want and got == want
