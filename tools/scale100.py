"""Two-decade scaling probe: scan-shaped queries at sf0.1, the 10x
replica, AND a 100x replica — the strongest small-machine evidence
that the plans' cost tracks data volume across TWO orders of
magnitude, not just one (a fixed overhead can hide a superlinear term
at a single 10x step; it cannot hide it across 100x).

Two tiers (VERDICT r6 item 2 added the second):

- SCAN tier: full-table scans, map-side-combined aggregates,
  zero-shuffle column passes, the one 32-byte-key dedup shuffle.
  Methodology: warm-up + median of REPS timed runs.
- HEAVY tier: the candidate-bounded dedup/ANN/graph families that
  exist precisely for 100 TB — MinHash-LSH, ICWS weighted LSH, the
  IVF kNN graph build, IVF/PQ top-k serving, PageRank over the IVF
  edges. Enabled by the replica generator keeping replicas
  near-dup-disjoint ACROSS decades (perm × word-rotation transforms,
  negated second-lap embedding rotations — see build_sf1.py; the old
  suffix-token replicas repeated near-dup structure per decade and
  would have measured an adversarial duplicate workload).
  Methodology: warm-up + ONE timed run (these are multi-second to
  multi-minute queries where codegen/JIT noise is already amortized;
  REPS medians would triple a multi-hour probe for noise reduction
  that matters at the 0.1 s scale, not here). IVF operating points
  scale with the corpus the way a production deployment's would:
  nlist ∝ N (constant cell size), nprobe fixed — per-query probe
  work stays constant, train + graph build stay linear.

Usage: python tools/scale100.py [query ...]  (expects /tmp/sf1 and
/tmp/sf10; build with tools/build_sf1.py <src> <out> <factor>).
A query subset re-measures just those and MERGES into SCALE100.json.
Writes SCALE100.json: per-query seconds at each decade plus the
per-decade ratios; a scan-linear query should show ratios ~= the data
growth with sublinearity from fixed overheads at the small end.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import _hygiene  # noqa: E402
from pydin_spark import get_session, register_tables  # noqa: E402

REPS = int(os.environ.get("SPARK_GRAFT_REPS", "3"))

#: scan-shaped tier only (see module doc)
QUERIES = [
    "q1_pricing_summary",      # lineitem scan + partial agg
    "q6_forecast_revenue",     # pure lineitem scan
    "q_rollup_status",         # orders scan + ROLLUP
    "rollup_hourly",           # events scan + bucket agg
    "q_sessionize",            # events scan + one user shuffle
    "text_quality",            # whole-corpus column pass
    "dedup_exact",             # corpus scan + 32-byte-key shuffle
    "curation_profile",        # one-pass scan aggregate
    "emb_project",             # per-row arithmetic scan
    "rollup_group_median",     # per-group windows, group-distributed
]

TIERS = [("sf0.1", "/root/testdata/sf0.1"),
         ("sf1", "/tmp/sf1"),
         ("sf10", "/tmp/sf10")]

# ---- HEAVY tier (see module doc): custom callables where the
# production operating point must scale with the corpus ----

_EDGE_CACHE: dict = {}


def _nlist_for(n: int) -> int:
    """IVF cell count ∝ corpus size (constant ~600-vector cells, the
    production sizing rule): per-query probe work stays constant as
    the corpus grows; train and assignment stay linear."""
    return max(8, min(2048, n // 600))


def _scaled_ivf_edges(spark, sf_dir):
    """IVF-pruned kNN edges at the per-decade operating point, built +
    checkpointed once per sf_dir so graph-iteration rows measure THEIR
    algorithm (the build has its own row, ivf_knn_graph_100)."""
    if sf_dir not in _EDGE_CACHE:
        from pydin_spark.operators import similarity
        emb = spark.table("embeddings")
        n = emb.count()
        g = similarity.ivf_knn_graph(emb, k=5, nlist=_nlist_for(n),
                                     nprobe=2, max_iter=2)
        _EDGE_CACHE[sf_dir] = (g.select("src_id", "nbr_id")
                               .localCheckpoint(eager=True))
    return _EDGE_CACHE[sf_dir]


def _h_ivf_knn_graph(spark, sf_dir):
    from pydin_spark.operators import similarity
    emb = spark.table("embeddings")
    n = emb.count()
    return similarity.ivf_knn_graph(emb, k=5, nlist=_nlist_for(n),
                                    nprobe=2, max_iter=2)


def _h_pagerank(spark, sf_dir):
    from pydin_spark.operators import graph
    return graph.pagerank(_scaled_ivf_edges(spark, sf_dir),
                          src="src_id", dst="nbr_id")


def _h_topk_ivf(spark, sf_dir):
    from pydin_spark.operators import similarity
    emb = spark.table("embeddings")
    n = emb.count()
    queries_df = emb.where("vec_id < 10").selectExpr(
        "vec_id AS query_id", "embedding")
    return similarity.ivf_topk(emb, queries_df, k=5,
                               nlist=_nlist_for(n), nprobe=2)


_BOMB_CACHE: dict = {}


def _bomb_documents(spark, sf_dir):
    """Duplicate-heavy corpus at each decade (VERDICT r9 #1): the
    documents table plus 4x its rows of IDENTICAL boilerplate — the
    same adversarial shape as SCALE.json's 10x `dedup_lsh_bomb` tier,
    and what a real crawl looks like. Checkpointed per tier so
    construction is untimed."""
    if sf_dir not in _BOMB_CACHE:
        from pyspark.sql import functions as F
        docs = spark.table("documents").select("doc_id", "text")
        n = docs.count()
        bomb = spark.range(4 * n).select(
            (F.col("id") + F.lit(10_000_000)).alias("doc_id"),
            F.lit("the same legal boilerplate footer repeated on "
                  "every page of the crawl again and again")
            .alias("text"))
        _BOMB_CACHE[sf_dir] = (docs.unionByName(bomb)
                               .localCheckpoint(eager=True))
    return _BOMB_CACHE[sf_dir]


def _h_minhash_capped_bomb(spark, sf_dir):
    """The flagship CAPPED operating point (dedup.py `_bucket_pairs`)
    at two decades of the duplicate-heavy corpus — the one leg of the
    100 TB dedup claim whose scale rows stopped at 10x (VERDICT r9
    #1). The per-bucket cap must shed the slab for the measured
    ratio to stay corpus-linear instead of slab-quadratic."""
    from pydin_spark.operators import dedup
    return dedup.minhash_lsh_pairs(_bomb_documents(spark, sf_dir),
                                   threshold=0.5, max_bucket_size=100)


def _h_jaccard_cms_bomb(spark, sf_dir):
    """The broadcast-CMS-capped exact tier (dedup.py CMS cap) on the
    same duplicate-heavy corpus: the sketch shed must keep the
    posting lists pair-bounded with the slab present."""
    from pydin_spark.operators import dedup
    return dedup.ngram_jaccard_pairs_cms(
        _bomb_documents(spark, sf_dir), threshold=0.5,
        max_shingle_freq=100)


#: HEAVY-tier callables (inventory gates reused where their operating
#: point is already scale-shaped).
#:
#: The UNCAPPED pairwise families (dedup_minhash_lsh,
#: dedup_ngram_jaccard, dedup_weighted_jaccard, icws_lsh_pairs) are
#: deliberately NOT in this probe (VERDICT r9 #2): on the
#: permutation-cycling 100x replica their candidate-pair volume is a
#: replica artifact (measured: surviving-pair count grows ~970x over
#: the sf1→sf10 step even at cap=100 — cross-replica near-dups below
#: the cap), so a wall-clock ratio there grades the workload, not the
#: engine. Their evidence of record is SCALE.json's 10x tier; the
#: production operating point at two decades is measured by the two
#: capped bomb rows below, with pair-volume normalization recorded in
#: PERF.md.
HEAVY: dict = {
    "ivf_knn_graph_100": _h_ivf_knn_graph,
    "sim_topk_ivf_100": _h_topk_ivf,
    "sim_topk_pq": None,              # gate entry, ADC corpus-linear
    "graph_pagerank_100": _h_pagerank,
    "curation_curriculum": None,      # range-partitioned global rank
    "rollup_cms": None,               # explode x depth + cell agg
    "graph_triangles_100": None,      # set below (scaled IVF edges)
    "graph_label_prop_100": None,     # set below (scaled IVF edges)
    # round 12 (VERDICT r9 #1): the CAPPED dedup tier measured on a
    # duplicate-heavy replica at two decades — the production
    # operating point of the 100 TB dedup claim
    "dedup_capped_bomb_100": _h_minhash_capped_bomb,
    "dedup_cms_bomb_100": _h_jaccard_cms_bomb,
}


def _h_triangles(spark, sf_dir):
    from pydin_spark.operators import graph
    return graph.triangles(_scaled_ivf_edges(spark, sf_dir),
                           src="src_id", dst="nbr_id")


def _h_label_prop(spark, sf_dir):
    from pydin_spark.operators import graph
    return graph.label_propagation(_scaled_ivf_edges(spark, sf_dir),
                                   src="src_id", dst="nbr_id",
                                   iterations=5)


HEAVY["graph_triangles_100"] = _h_triangles
HEAVY["graph_label_prop_100"] = _h_label_prop


def timed(fn) -> float:
    fn()
    samples = []
    for _ in range(REPS):
        t0 = time.time()
        fn()
        samples.append(time.time() - t0)
    return round(statistics.median(samples), 3)


def consume(df) -> None:
    """Force FULL materialization of every output column via the noop
    writer. ``count()`` (bench.py's consume, kept there for
    round-over-round comparability) lets Catalyst prune computed
    columns out of pure-projection queries — a 100x run would then
    time a parquet row count, not the operator (observed:
    text_quality flat at 0.19 s across two decades under count())."""
    df.write.format("noop").mode("overwrite").save()


def timed_once(fn) -> float:
    """HEAVY-tier methodology: warm-up + ONE timed run (module doc)."""
    fn()
    t0 = time.time()
    fn()
    return round(time.time() - t0, 3)


def calibration(spark) -> float:
    """Fixed pure-CPU probe (same shape as bench.py's): its median
    travels with every tier's rows so machine drift between runs is
    self-evident. NOTE it does not bracket DISK state — the heavy
    distinct/shuffle rows move multi-GB spills through the shared
    host disk and swing 3-5x run-to-run even at stable calibration
    (measured on q_rollup_status @ sf10: 15-82 s across four clean-
    calibration sessions, ROUND8 notes); read those rows as a range,
    not a point."""
    samples = []
    for _ in range(3):
        t0 = time.time()
        spark.range(0, 10_000_000, 1, 32).selectExpr(
            "sum(id * 2) AS s", "count(*) AS n").collect()
        samples.append(time.time() - t0)
    return round(statistics.median(samples), 3)


def main() -> None:
    src = TIERS[0][1]
    if not os.path.isdir(src):
        raise SystemExit(f"missing source dataset {src} (the driver-"
                         "generated sf0.1 fixture — not buildable)")
    for _, d in TIERS[1:]:
        if not os.path.isdir(d):
            raise SystemExit(
                f"missing replica dir {d} — build it with "
                f"tools/build_sf1.py {src} {d} <factor>")
    only = set(sys.argv[1:]) or None
    spark = get_session("scale100",
                        extra_conf={"spark.driver.memory": "32g"})
    queries = entrymod.queries()
    rows: dict[str, dict] = {}
    cals: dict[str, float] = {}
    for name, sf_dir in TIERS:
        register_tables(spark, sf_dir)
        cals[name] = calibration(spark)
        print(f"# calibration @ {name}: {cals[name]}s",
              file=sys.stderr)
        for q in QUERIES:
            if only and q not in only:
                continue
            fn = queries[q]
            t = timed(lambda: consume(fn(spark, sf_dir)))
            rows.setdefault(q, {})[name] = t
            _hygiene(spark)
            print(f"# {q} @ {name}: {t}s", file=sys.stderr)
        for q, custom in HEAVY.items():
            if only and q not in only:
                continue
            fn = custom or queries[q]
            t = timed_once(lambda: consume(fn(spark, sf_dir)))
            rows.setdefault(q, {})[name] = t
            _hygiene(spark)
            print(f"# {q} (heavy) @ {name}: {t}s", file=sys.stderr)
        _EDGE_CACHE.clear()
        _BOMB_CACHE.clear()
        spark.catalog.clearCache()
    out = {}
    for q, t in rows.items():
        out[q] = {**t,
                  "ratio_10x": round(t["sf1"] / t["sf0.1"], 2)
                  if t["sf0.1"] else None,
                  "ratio_100x": round(t["sf10"] / t["sf0.1"], 2)
                  if t["sf0.1"] else None,
                  **({"heavy": True} if q in HEAVY else {})}
    path = os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "SCALE100.json")
    out["_calibration"] = cals
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        prev.update(out)
        out = prev
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("| query | sf0.1 | 10x | 100x | r10 | r100 |")
    print("|---|---|---|---|---|---|")
    for q, v in out.items():
        if q.startswith("_"):
            continue
        print(f"| {q} | {v['sf0.1']} s | {v['sf1']} s | "
              f"{v['sf10']} s | {v['ratio_10x']}x | "
              f"{v['ratio_100x']}x |")


if __name__ == "__main__":
    main()
