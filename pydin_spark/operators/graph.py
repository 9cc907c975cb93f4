"""Distributed graph analytics over edge-list DataFrames.

Engine extension beyond the reference surface: iterative link-analysis
for corpus curation — rank web domains by their link graph, weight
documents by the centrality of their source, or rank vectors by kNN-
graph centrality (a density proxy: high-PageRank nodes sit in dense
semantic neighborhoods, the regions SemDeDup prunes hardest).

Design note — exact fixed-point arithmetic: every rank is a BIGINT in
units of 1e-12 ("fixed-point nanos of rank mass"), and every step is
integer multiply / integer floor-division. Floating-point PageRank is
order-dependent (the in-edge sum changes with partitioning); the
integer form is bit-identical across partitionings, reruns, AND
engines, which is what lets an iterative algorithm carry a value-exact
DuckDB oracle (unrolled CTE chain) like every other operator here.
Cost of the trick: each node's rank is floored at each step, so up to
``iterations * (in_degree + 1)`` units of 1e-12 mass evaporate — far
below any ranking-relevant difference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import scoped_conf

#: fixed-point scale: 1.0 of rank mass == 10^12 units
SCALE = 10 ** 12


#: AQE off for an eager ``localCheckpoint``: AdaptiveSparkPlanExec
#: reports UnknownPartitioning to ``localCheckpoint``, so a frame
#: checkpointed under AQE loses its hash partitioning and every
#: downstream join re-shuffles it; with AQE off for the eager
#: checkpoint the LogicalRDD keeps ``hashpartitioning(key, n)`` and
#: the planner elides the per-iteration exchanges (verified: one
#: Exchange per iteration — the contribution sum — instead of three).
#: AQE's runtime re-planning has nothing to offer these fixed-shape,
#: fixed-count iteration queries. Still needed on Spark 4.1.2.
_AQE_OFF = {"spark.sql.adaptive.enabled": "false"}


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             damping: int = 85, iterations: int = 10,
             id_out: str = "node", checkpoint: bool = True,
             seeds: list | None = None,
             weight_col: str | None = None) -> DataFrame:
    """PageRank over an edge list, exact fixed-point semantics.

    ``r_0[u] = SCALE div N``; each iteration
    ``r[u] = ((100-damping) * SCALE) div (100 * N)
    + (damping * sum_{(v,u)} (r[v] div outdeg[v])) div 100`` —
    damping is an integer PERCENT so the whole recurrence stays in
    BIGINT. Nodes = distinct endpoints of ``edges``; parallel edges
    count once per occurrence (pre-``distinct()`` the input if you
    want simple-graph semantics); dangling nodes (no out-edges)
    simply leak their mass, the standard simplification.

    With ``weight_col`` the walk is WEIGHTED: mass leaves ``v`` along
    each edge in proportion to its positive INTEGER weight —
    ``contribution = (r[v] * w_uv) div W_v`` with ``W_v = Σ w`` over
    ``v``'s out-edges. Integer weights keep the recurrence in BIGINT
    (value-exact oracle preserved); quantize float affinities (e.g.
    cosine) onto an integer grid first, which is also what bounds the
    product: ``r[v] * w`` must stay under 2^63 — with ranks ≤ 10^12
    that allows weights up to ~9×10^6, far above any useful grid.
    Non-positive or NULL weights are rejected loudly (dropping them
    would silently rewrite the graph).

    With ``seeds`` (a list of node ids) the walk is PERSONALIZED:
    initial mass and the teleport term go only to the seeds
    (``SCALE div len(seeds)`` each), so rank measures proximity to
    the trusted set — the seeded-quality-propagation pattern
    (Wikipedia/curated-domain seeds ranking a web link graph, the
    TrustRank shape). Seed ids absent from the graph contribute
    nothing (their share of mass never enters), which keeps the
    arithmetic a pure function of the literal seed list — the same
    list the SQL oracle embeds.

    Scale shape: the two corpus-sized static frames are hash-
    partitioned ONCE up front — edges(+outdeg) on ``src``, nodes on
    the id — and materialized (``localCheckpoint`` preserves the
    partitioning in the resulting LogicalRDD), so per iteration the
    edge table NEVER reshuffles: the edges⋈rank join and the
    nodes⋈sums join each read a pre-partitioned side, and the only
    full shuffle left is the map-side-combined contribution sum
    (edge-sized in, node-sized out — Pregel's floor). Rank frames are
    node-sized; re-aligning one of those is the cheap side of every
    join. Lineage is cut every iteration (``localCheckpoint``) so
    iteration N's plan does not replay iterations 1..N-1 — without
    this the plan doubles per round and the driver, not the data,
    becomes the bottleneck. Driver traffic is one scalar (N).

    Output: (``id_out``, pr_fp BIGINT) — rank in 1e-12 units;
    ``sum(pr_fp) <= SCALE`` with the deficit being floor + dangling
    leakage.
    """
    if not 0 <= int(damping) <= 100:
        raise ValueError("damping is an integer percent in [0, 100]")
    if weight_col is None:
        w_expr = F.lit(1).cast("long")
    else:
        # reject bad weights LOUDLY (codegen-side, zero cost on the
        # valid path) — silently dropping them rewrites the graph
        w_expr = F.when(
            F.col(weight_col).isNull() | (F.col(weight_col) <= 0),
            F.raise_error(F.lit(
                f"pagerank: {weight_col} must be a positive integer "
                "on every edge (quantize float affinities first)"))
        ).otherwise(F.col(weight_col).cast("long"))
    e = (edges.select(F.col(src).alias("__src"),
                      F.col(dst).alias("__dst"),
                      w_expr.alias("__w"))
         .where(F.col("__src").isNotNull()
                & F.col("__dst").isNotNull()))
    # one up-front hash partitioning of the static frames, reused by
    # every iteration's joins (localCheckpoint's LogicalRDD keeps the
    # outputPartitioning visible to the planner)
    spark = edges.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with scoped_conf(spark, **_AQE_OFF):
        nodes = (e.select(F.col("__src").alias(id_out))
                 .union(e.select(F.col("__dst").alias(id_out)))
                 .distinct()
                 .repartition(nparts, id_out)
                 .localCheckpoint(eager=True))
        n = nodes.count()
        if n == 0:
            return nodes.withColumn("pr_fp", F.lit(0).cast("long"))
        deg = e.groupBy("__src").agg(F.sum("__w").alias("__deg"))
        ed = (e.join(deg, "__src")
              .repartition(nparts, "__src")
              .localCheckpoint(eager=True))
    d = int(damping)
    if seeds is None:
        base_col = F.lit(((100 - d) * SCALE) // (100 * n)).cast("long")
        init_col = F.lit(SCALE // n).cast("long")
    else:
        if not seeds:
            raise ValueError("seeds must be a non-empty list or None")
        is_seed = F.col(id_out).isin(list(seeds))
        base_col = F.when(
            is_seed,
            F.lit(((100 - d) * SCALE) // (100 * len(seeds)))
        ).otherwise(F.lit(0)).cast("long")
        init_col = F.when(is_seed, F.lit(SCALE // len(seeds))) \
            .otherwise(F.lit(0)).cast("long")
    r = nodes.withColumn("pr_fp", init_col)
    for _ in range(int(iterations)):
        contrib = (ed.join(r, ed["__src"] == r[id_out])
                   .select(F.col("__dst"),
                           F.expr("(pr_fp * __w) div __deg")
                           .alias("__c")))
        s = contrib.groupBy("__dst").agg(F.sum("__c").alias("__s"))
        r = (nodes.join(s, nodes[id_out] == s["__dst"], "left")
             .select(nodes[id_out],
                     (base_col
                      + F.expr(f"({d} * coalesce(__s, 0L)) div 100"))
                     .cast("long").alias("pr_fp")))
        if checkpoint:
            # AQE-off checkpoint so r keeps hash(node, nparts): the
            # next iteration's edges⋈rank and nodes⋈sums joins then
            # run exchange-free against the pre-partitioned statics —
            # the per-iteration shuffle is ONLY the contribution sum
            with scoped_conf(spark, **_AQE_OFF):
                r = r.localCheckpoint(eager=True)
    return r


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", iterations: int = 5,
                      id_out: str = "node", undirected: bool = True,
                      checkpoint: bool = True) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) —
    community detection over an edge list, exact deterministic
    semantics. Complements :func:`~pydin_spark.operators.dedup.
    connected_components` (hard reachability closure) with SOFT
    communities: densely linked regions separate even when a bridge
    edge connects them, the grain a curation pipeline wants for
    per-community sampling caps or domain-cluster boosts.

    ``label_0[u] = u``; each round every node adopts the most frequent
    label among its (in-)neighbors, ties broken by SMALLEST label,
    nodes with no neighbors keep their label. The classic algorithm is
    run-order-dependent (asynchronous updates, random tie-breaks);
    this form is synchronous with a total tie order, so a FIXED
    iteration count is a pure function of the edge list — bit-
    identical across partitionings AND engines, which is what lets a
    community algorithm carry a value-exact unrolled-CTE oracle
    (:func:`lpa_oracle_sql`), exactly :func:`pagerank`'s trick.
    ``undirected=True`` (default) symmetrizes the edge list first —
    label frequency then counts both directions, the standard LPA
    reading of an undirected graph.

    Scale shape: the same pre-partitioned statics as :func:`pagerank`
    (edges on ``src``, nodes/labels on the id, AQE-off checkpoints so
    the planner sees the partitioning) — per iteration the edge table
    never reshuffles; the two shuffles that remain are the
    (node, label) frequency count (edge-sized in, ≤edge-sized out)
    and the per-node argmax window (label-frame-sized, ≤ nodes ×
    live labels). Synchronous LPA may oscillate on bipartite-ish
    structures rather than converge — fixed ``iterations`` is the
    contract, not a convergence test.

    Output: (``id_out``, label) — label is the community
    representative's node id.
    """
    e = (edges.select(F.col(src).alias("__src"),
                      F.col(dst).alias("__dst"))
         .where(F.col("__src").isNotNull()
                & F.col("__dst").isNotNull()))
    if undirected:
        e = e.union(e.select(F.col("__dst").alias("__src"),
                             F.col("__src").alias("__dst")))
    spark = edges.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with scoped_conf(spark, **_AQE_OFF):
        ed = e.repartition(nparts, "__src").localCheckpoint(eager=True)
        nodes = (e.select(F.col("__src").alias(id_out))
                 .union(e.select(F.col("__dst").alias(id_out)))
                 .distinct()
                 .repartition(nparts, id_out)
                 .localCheckpoint(eager=True))
    from pyspark.sql import Window
    r = nodes.withColumn("label", F.col(id_out))
    w = Window.partitionBy("__dst").orderBy(F.col("__c").desc(),
                                            F.col("label").asc())
    for _ in range(int(iterations)):
        msgs = (ed.join(r, ed["__src"] == r[id_out])
                .select(F.col("__dst"), F.col("label")))
        cnt = (msgs.groupBy("__dst", "label")
               .agg(F.count(F.lit(1)).alias("__c")))
        best = (cnt.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(F.col("__dst"), F.col("label").alias("__new")))
        r = (r.join(best, r[id_out] == best["__dst"], "left")
             .select(r[id_out],
                     F.coalesce(F.col("__new"), r["label"])
                     .alias("label")))
        if checkpoint:
            with scoped_conf(spark, **_AQE_OFF):
                r = r.localCheckpoint(eager=True)
    return r


#: HITS fixed-point scale: 1.0 of hub/authority mass == 10^6 units.
#: Smaller than the PageRank SCALE because one HITS step multiplies a
#: degree-summed score by the scale again — the overflow bound is
#: max_degree * HITS_SCALE^2 < 2^63, i.e. max in/out degree < ~9.2e6
#: at 10^6 (any real web/kNN graph after the usual hub capping).
HITS_SCALE = 10 ** 6


def hits(edges: DataFrame, src: str = "src", dst: str = "dst",
         iterations: int = 10, id_out: str = "node",
         checkpoint: bool = True) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge
    list, exact fixed-point semantics — the link-analysis complement
    to :func:`pagerank` for crawl curation: authorities are the pages
    good hubs point at (content worth keeping), hubs are the pages
    that point at good authorities (directories/link farms — worth
    capping). On a citation or reference graph the split separates
    primary sources from surveys.

    Arithmetic: scores live in BIGINT units of 1e-6
    (:data:`HITS_SCALE`); each iteration computes
    ``auth'[v] = Σ_{(u,v)} hub[u]`` then L1-normalizes in integers —
    ``auth[v] = (auth'[v] * SCALE) div Σ auth'`` — and symmetrically
    ``hub'[u] = Σ_{(u,v)} auth[v]`` with its own normalization.
    Floating HITS is summation-order-dependent; this form is
    bit-identical across partitionings AND engines (the
    :func:`pagerank` trick), so the value-exact unrolled-CTE oracle
    (:func:`hits_oracle_sql`) applies. Overflow bound: the product
    ``score * SCALE`` is at most ``max_degree * SCALE²``, so the
    recurrence stays inside BIGINT for max degree < ~9.2e6 — fail
    territory only for uncapped mega-hubs, which a curation graph
    caps anyway. Both normalization totals are 1-row aggregates
    broadcast back (the dist_drift discipline) — no driver loop.

    Scale shape: the edge frame is hash-partitioned once per
    direction (on ``src`` for the hub→auth pass, on ``dst`` for
    auth→hub) and checkpointed; per iteration the two corpus-sized
    shuffles are the two map-side-combined sums — node-sized frames
    re-align cheaply, lineage cut per round.

    Output: (``id_out``, auth_fp BIGINT, hub_fp BIGINT) — each
    column sums to ≤ SCALE with floor leakage only. Nodes with no
    in-edges have auth 0; no out-edges, hub 0.

    Start value: every node's hub begins at SCALE (not SCALE/n —
    the L1 normalization after the first half-step makes the init
    MAGNITUDE irrelevant, and dividing by n would floor to zero on
    any graph with more than SCALE nodes, silently zeroing every
    score at exactly the web-graph sizes this operator targets).
    """
    if int(iterations) < 1:
        raise ValueError("iterations must be >= 1 (the scores are "
                         "normalized inside the loop)")
    e = (edges.select(F.col(src).alias("__src"),
                      F.col(dst).alias("__dst"))
         .where(F.col("__src").isNotNull()
                & F.col("__dst").isNotNull()))
    spark = edges.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with scoped_conf(spark, **_AQE_OFF):
        nodes = (e.select(F.col("__src").alias(id_out))
                 .union(e.select(F.col("__dst").alias(id_out)))
                 .distinct()
                 .repartition(nparts, id_out)
                 .localCheckpoint(eager=True))
        n = nodes.count()
        if n == 0:
            return nodes.withColumn("auth_fp", F.lit(0).cast("long")) \
                        .withColumn("hub_fp", F.lit(0).cast("long"))
        e_by_src = (e.repartition(nparts, "__src")
                    .localCheckpoint(eager=True))
        e_by_dst = (e.repartition(nparts, "__dst")
                    .localCheckpoint(eager=True))
    # uniform start at SCALE per node: the first normalization
    # rescales anyway, and SCALE div n would zero out beyond 1e6
    # nodes (see docstring)
    r = nodes.withColumn("hub_fp", F.lit(HITS_SCALE).cast("long"))

    def _normalize(scores, col):
        total = scores.groupBy().agg(
            F.sum(col).alias("__tot"))
        return (scores.crossJoin(F.broadcast(total))
                .select(F.col(id_out),
                        F.expr(f"CASE WHEN __tot > 0 THEN "
                               f"({col} * {HITS_SCALE}) div __tot "
                               f"ELSE 0 END").cast("long").alias(col)))

    auth = None
    for _ in range(int(iterations)):
        raw_auth = (e_by_src.join(r, e_by_src["__src"] == r[id_out])
                    .groupBy(F.col("__dst").alias(id_out))
                    .agg(F.sum("hub_fp").alias("auth_fp")))
        auth_all = (nodes.join(raw_auth, id_out, "left")
                    .select(F.col(id_out),
                            F.coalesce("auth_fp", F.lit(0))
                            .cast("long").alias("auth_fp")))
        auth = _normalize(auth_all, "auth_fp")
        raw_hub = (e_by_dst.join(auth,
                                 e_by_dst["__dst"] == auth[id_out])
                   .groupBy(F.col("__src").alias(id_out))
                   .agg(F.sum("auth_fp").alias("hub_fp")))
        hub_all = (nodes.join(raw_hub, id_out, "left")
                   .select(F.col(id_out),
                           F.coalesce("hub_fp", F.lit(0))
                           .cast("long").alias("hub_fp")))
        r = _normalize(hub_all, "hub_fp")
        if checkpoint:
            with scoped_conf(spark, **_AQE_OFF):
                r = r.localCheckpoint(eager=True)
                auth = auth.localCheckpoint(eager=True)
    return (nodes.join(auth, id_out, "left")
            .join(r, id_out, "left")
            .select(F.col(id_out),
                    F.coalesce("auth_fp", F.lit(0)).cast("long")
                    .alias("auth_fp"),
                    F.coalesce("hub_fp", F.lit(0)).cast("long")
                    .alias("hub_fp")))


def hits_oracle_sql(edges_cte: str, iterations: int = 10,
                    id_out: str = "node") -> str:
    """DuckDB twin of :func:`hits` as an unrolled CTE chain — same
    integer L1 normalization each half-step (HUGEINT sums/products
    cast back to BIGINT), so the comparison is value-exact.
    ``edges_cte`` ends in a CTE named ``edges(src, dst)``. Every
    score CTE is referenced more than once downstream, so they are
    MATERIALIZED (the :func:`kcore_oracle_sql` lesson — DuckDB
    inlines plain CTEs and the chain goes exponential)."""
    if int(iterations) < 1:
        raise ValueError("iterations must be >= 1")
    s = HITS_SCALE
    parts = [edges_cte.rstrip().rstrip(",")]
    parts.append(f"""
        ed AS MATERIALIZED (SELECT src, dst FROM edges
              WHERE src IS NOT NULL AND dst IS NOT NULL),
        nodes AS MATERIALIZED (SELECT src AS node FROM ed
                  UNION SELECT dst FROM ed),
        h0 AS MATERIALIZED (SELECT node,
                   CAST({s} AS BIGINT) AS hub
              FROM nodes)""")
    for t in range(int(iterations)):
        parts.append(f"""
        ra{t} AS MATERIALIZED (
            SELECT n0.node,
                   CAST(COALESCE(s.s, 0) AS BIGINT) AS a
            FROM nodes n0
            LEFT JOIN (SELECT e.dst AS node, SUM(h{t}.hub) AS s
                       FROM ed e JOIN h{t} ON h{t}.node = e.src
                       GROUP BY e.dst) s ON s.node = n0.node),
        ta{t} AS (SELECT CAST(SUM(a) AS BIGINT) AS tot FROM ra{t}),
        a{t} AS MATERIALIZED (
            SELECT node,
                   CASE WHEN ta{t}.tot > 0
                        THEN CAST((CAST(a AS HUGEINT) * {s})
                                  // ta{t}.tot AS BIGINT)
                        ELSE 0 END AS auth
            FROM ra{t} CROSS JOIN ta{t}),
        rh{t} AS MATERIALIZED (
            SELECT n0.node,
                   CAST(COALESCE(s.s, 0) AS BIGINT) AS h
            FROM nodes n0
            LEFT JOIN (SELECT e.src AS node, SUM(a{t}.auth) AS s
                       FROM ed e JOIN a{t} ON a{t}.node = e.dst
                       GROUP BY e.src) s ON s.node = n0.node),
        th{t} AS (SELECT CAST(SUM(h) AS BIGINT) AS tot FROM rh{t}),
        h{t + 1} AS MATERIALIZED (
            SELECT node,
                   CASE WHEN th{t}.tot > 0
                        THEN CAST((CAST(h AS HUGEINT) * {s})
                                  // th{t}.tot AS BIGINT)
                        ELSE 0 END AS hub
            FROM rh{t} CROSS JOIN th{t})""")
    last = int(iterations) - 1
    final = (f"SELECT n0.node AS {id_out}, "
             f"COALESCE(a{last}.auth, 0) AS auth_fp, "
             f"COALESCE(h{last + 1}.hub, 0) AS hub_fp "
             f"FROM nodes n0 "
             f"LEFT JOIN a{last} ON a{last}.node = n0.node "
             f"LEFT JOIN h{last + 1} ON h{last + 1}.node = n0.node")
    return "WITH " + ",".join(parts) + " " + final


def degree_histogram(edges: DataFrame, src: str = "src",
                     dst: str = "dst") -> DataFrame:
    """Degree-distribution profile of an edge list (read undirected/
    simple, the :func:`triangles` canonicalization) — the first
    QA glance at any similarity or link graph: a power-law tail that
    shouldn't be there (an uncapped hub) or a missing one (a kNN
    graph that lost its mutual edges) shows up here before any
    iterative algorithm is run.

    Buckets are powers of two (``bucket = floor(log2(deg))`` exactly,
    computed by BIGINT comparison — no float log, so the bucketing is
    engine-exact): bucket 0 holds degree 1, bucket 1 degrees 2-3,
    bucket 2 degrees 4-7, … . Output per bucket: node count, min/max
    degree seen, and exact total degree (BIGINT).

    Scale shape: one distinct, one degree aggregate, one 64-row-max
    bucket aggregate — all map-side combined.
    """
    e = (edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
         .where(F.col("__s").isNotNull() & F.col("__d").isNotNull()
                & (F.col("__s") != F.col("__d"))))
    canon = (e.select(F.least("__s", "__d").alias("__a"),
                      F.greatest("__s", "__d").alias("__b"))
             .distinct())
    deg = (canon.select(F.col("__a").alias("node"))
           .unionAll(canon.select(F.col("__b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # floor(log2(deg)) in pure integer arithmetic: the bit length of
    # deg minus one. Spark has no BIGINT bit-length function that
    # DuckDB shares, but 63 - bit of highest set = ... simplest
    # engine-exact form: length of the binary string minus 1 — both
    # engines render bin() of a positive BIGINT identically.
    bucket = (F.length(F.conv(F.col("deg").cast("string"), 10, 2))
              - 1).cast("int")
    return (deg.withColumn("bucket", bucket)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.min("deg").alias("min_deg"),
                 F.max("deg").alias("max_deg"),
                 F.sum("deg").alias("total_deg")))


def degree_histogram_oracle_sql(edges_cte: str) -> str:
    """DuckDB twin of :func:`degree_histogram`. The power-of-two
    bucket is the binary-string length minus one on both engines
    (Spark ``conv(deg, 10, 2)`` ≡ DuckDB ``bin(deg)`` — both minimal,
    no leading zeros), so the bucketing never touches float logs.
    ``edges_cte`` ends in a CTE named ``edges(src, dst)``."""
    parts = [edges_cte.rstrip().rstrip(",")]
    parts.append("""
        c AS (SELECT DISTINCT LEAST(src, dst) AS a,
                              GREATEST(src, dst) AS b
              FROM edges
              WHERE src IS NOT NULL AND dst IS NOT NULL
                AND src <> dst),
        dg AS (SELECT node, COUNT(*) AS deg
               FROM (SELECT a AS node FROM c
                     UNION ALL SELECT b FROM c)
               GROUP BY node)""")
    final = """
        SELECT CAST(length(bin(deg)) - 1 AS INTEGER) AS bucket,
               COUNT(*) AS n_nodes,
               MIN(deg) AS min_deg,
               MAX(deg) AS max_deg,
               CAST(SUM(deg) AS BIGINT) AS total_deg
        FROM dg GROUP BY 1"""
    return "WITH " + ",".join(parts) + " " + final


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst",
              id_out: str = "node") -> DataFrame:
    """Exact triangle counting + local clustering coefficient over an
    edge list — the density signal a curation pipeline reads off a
    similarity graph: a vector whose kNN neighborhood is itself
    densely interconnected sits in a redundant semantic region (the
    SemDeDup-prunable mass), while low-LCC nodes are bridges/outliers
    worth oversampling. Also the standard spam/cohesion feature on
    web link graphs.

    Semantics: the graph is read as UNDIRECTED and SIMPLE — edges are
    canonicalized to (min, max), self-loops and duplicates dropped.
    ``tri_cnt[u]`` = number of unordered triangles containing ``u``;
    ``lcc[u] = 2·tri / (deg·(deg−1))`` for ``deg ≥ 2`` else 0.0 — a
    single division of exact BIGINTs, so the float is bit-identical
    across engines (the dist_drift convention) and the whole output
    carries a value-exact SQL oracle (:func:`triangles_oracle_sql`).

    Scale shape — degree-ordered wedge enumeration (Schank & Wagner
    2005; the MapReduce form is Cohen 2009, also GraphX's
    TriangleCount): each canonical edge is oriented from its
    lower-(degree, id) endpoint to the higher one, wedges are pairs
    of out-neighbors in that DAG, and a triangle is counted exactly
    once — at its minimum-rank vertex. Orientation bounds per-node
    out-degree by O(√m), so wedge volume is O(m^{3/2}) instead of the
    naive Σdeg² (which a single hub node blows up quadratically).
    Shuffles: canonical distinct, one degree aggregate, the wedge
    self-join co-partitioned on the pivot, one closing-edge equi-join
    on the (lo, hi) pair, and the final per-node count — all on
    id-sized keys, no cartesian anywhere.

    Output: (``id_out``, deg BIGINT, tri_cnt BIGINT, lcc DOUBLE) —
    one row per node of the canonical graph (isolated inputs with
    only self-loops vanish with their edges).
    """
    e = (edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
         .where(F.col("__s").isNotNull() & F.col("__d").isNotNull()
                & (F.col("__s") != F.col("__d"))))
    canon = (e.select(F.least("__s", "__d").alias("__a"),
                      F.greatest("__s", "__d").alias("__b"))
             .distinct())
    deg = (canon.select(F.col("__a").alias(id_out))
           .unionAll(canon.select(F.col("__b").alias(id_out)))
           .groupBy(id_out).agg(F.count(F.lit(1)).alias("deg")))
    # orient each canonical edge from the lower-(deg, id) endpoint:
    # u -> v with rank(u) < rank(v); ranks totally ordered, so the
    # DAG is well-defined and every triangle has a unique source
    ce = (canon
          .join(deg.select(F.col(id_out).alias("__a"),
                           F.col("deg").alias("__da")), "__a")
          .join(deg.select(F.col(id_out).alias("__b"),
                           F.col("deg").alias("__db")), "__b"))
    lower_first = (F.col("__da") < F.col("__db")) | \
        ((F.col("__da") == F.col("__db")) & (F.col("__a") < F.col("__b")))
    dag = ce.select(
        F.when(lower_first, F.col("__a")).otherwise(F.col("__b"))
        .alias("__u"),
        F.when(lower_first, F.col("__b")).otherwise(F.col("__a"))
        .alias("__v"))
    # wedges at the pivot: unordered out-neighbor pairs, id-canonical
    # (lo, hi) so the closing lookup hits the canonical edge set
    x, y = dag.alias("x"), dag.alias("y")
    wedge = (x.join(y, (F.col("x.__u") == F.col("y.__u"))
                    & (F.col("x.__v") < F.col("y.__v")))
             .select(F.col("x.__u").alias("__u"),
                     F.col("x.__v").alias("__lo"),
                     F.col("y.__v").alias("__hi")))
    tri = wedge.join(canon, (wedge["__lo"] == canon["__a"])
                     & (wedge["__hi"] == canon["__b"]))
    per_node = (tri.select(F.explode(F.array("__u", "__lo", "__hi"))
                           .alias(id_out))
                .groupBy(id_out).agg(F.count(F.lit(1)).alias("tri_cnt")))
    out = (deg.join(per_node, id_out, "left")
           .select(F.col(id_out), F.col("deg"),
                   F.coalesce("tri_cnt", F.lit(0)).cast("long")
                   .alias("tri_cnt")))
    lcc = F.when(
        F.col("deg") >= 2,
        F.try_divide((2 * F.col("tri_cnt")).cast("double"),
                     (F.col("deg") * (F.col("deg") - 1)).cast("double"))
    ).otherwise(F.lit(0.0))
    return out.withColumn("lcc", lcc)


def triangles_oracle_sql(edges_cte: str, id_out: str = "node") -> str:
    """DuckDB twin of :func:`triangles`. The oracle enumerates
    triangles naively — three canonical-edge joins with a < b < c (the
    id order IS a valid enumeration: e1=(a,b), e2=(b,c), e3=(a,c)) —
    because triangle COUNT is enumeration-order-independent, so the
    Spark side is free to use the degree-ordered DAG while the twin
    stays obviously-correct SQL. ``edges_cte`` ends in a CTE named
    ``edges(src, dst)`` (the :func:`pagerank_oracle_sql` convention).
    """
    parts = [edges_cte.rstrip().rstrip(",")]
    parts.append(f"""
        c AS (SELECT DISTINCT LEAST(src, dst) AS a,
                              GREATEST(src, dst) AS b
              FROM edges
              WHERE src IS NOT NULL AND dst IS NOT NULL
                AND src <> dst),
        dg AS (SELECT {id_out}, COUNT(*) AS deg
               FROM (SELECT a AS {id_out} FROM c
                     UNION ALL SELECT b FROM c)
               GROUP BY {id_out}),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM c e1
                JOIN c e2 ON e2.a = e1.b
                JOIN c e3 ON e3.a = e1.a AND e3.b = e2.b),
        pn AS (SELECT {id_out}, COUNT(*) AS tri_cnt
               FROM (SELECT x AS {id_out} FROM tri
                     UNION ALL SELECT y FROM tri
                     UNION ALL SELECT z FROM tri)
               GROUP BY {id_out})""")
    final = f"""
        SELECT dg.{id_out}, dg.deg,
               COALESCE(pn.tri_cnt, 0) AS tri_cnt,
               CASE WHEN dg.deg >= 2
                    THEN CAST(2 * COALESCE(pn.tri_cnt, 0) AS DOUBLE)
                         / CAST(dg.deg * (dg.deg - 1) AS DOUBLE)
                    ELSE 0.0 END AS lcc
        FROM dg LEFT JOIN pn ON pn.{id_out} = dg.{id_out}"""
    return "WITH " + ",".join(parts) + " " + final


def kcore(edges: DataFrame, k: int = 2, rounds: int = 10,
          src: str = "src", dst: str = "dst",
          id_out: str = "node", checkpoint: bool = True,
          check: str | None = "flag") -> DataFrame:
    """k-core membership after a FIXED number of synchronous peel
    rounds — the cohesion filter of graph curation: the k-core is the
    maximal subgraph where every node keeps ≥ k neighbors, the
    standard way to separate a similarity graph's dense backbone from
    its sparse periphery (keep the periphery for diversity, cap the
    core) and to strip spam tendrils off a web link graph.

    Semantics: the graph is undirected and simple (canonical (min,
    max) edges, no self-loops). Round t removes every node whose
    degree in the CURRENT subgraph is < k, together with its edges —
    all removals in a round are simultaneous, so a fixed ``rounds`` is
    a pure function of the edge list (the pagerank/LPA trick), which
    is what carries the value-exact unrolled-CTE oracle
    (:func:`kcore_oracle_sql`). Peeling is monotone: once the
    subgraph stabilizes, further rounds are no-ops, so ``rounds``
    large enough = the true k-core; too small = an upper bound that
    only ever shrinks toward it (never wrong nodes added).

    Scale shape: per round one map-side-combined degree aggregate
    (edge-sized in, node-sized out) and two semi-joins of the edge
    frame against the node-sized survivor set — no wedge blow-up, no
    window. Lineage cut per round (``localCheckpoint``), AQE held off
    around the cut so the edge frame keeps its hash partitioning on
    the join key across rounds (the :func:`pagerank` discipline).

    Output: (``id_out``, core_deg BIGINT, converged BOOLEAN) —
    surviving nodes with their degree inside the surviving subgraph
    (``core_deg >= k`` once stable). ``converged`` (VERDICT r6 item
    4: no silent superset) is one constant per run: TRUE iff the peel
    reached its fixed point within ``rounds`` — i.e. no surviving
    node is still below ``k``, so round ``rounds+1`` would be a
    no-op. ``check`` controls the contract: ``"flag"`` (default)
    emits the column, ``"raise"`` raises ``RuntimeError`` on
    non-convergence instead (for pipelines where a superset must
    never flow downstream), ``None`` skips the extra degree pass and
    the column (the pure fixed-round function). The check costs one
    map-side-combined aggregate over the final (checkpointed) edge
    frame — node-sized output, no extra shuffle class.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if check not in ("flag", "raise", None):
        raise ValueError("check must be 'flag', 'raise' or None")
    e = (edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
         .where(F.col("__s").isNotNull() & F.col("__d").isNotNull()
                & (F.col("__s") != F.col("__d"))))
    canon = (e.select(F.least("__s", "__d").alias("__a"),
                      F.greatest("__s", "__d").alias("__b"))
             .distinct())
    sym = canon.select(F.col("__a").alias("__u"), F.col("__b").alias("__v")) \
        .unionAll(canon.select(F.col("__b").alias("__u"),
                               F.col("__a").alias("__v")))
    spark = edges.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with scoped_conf(spark, **_AQE_OFF):
        cur = sym.repartition(nparts, "__u").localCheckpoint(eager=True)
    for _ in range(int(rounds)):
        deg = cur.groupBy("__u").agg(F.count(F.lit(1)).alias("__dg"))
        keep = deg.where(F.col("__dg") >= int(k)).select("__u")
        cur = (cur.join(keep, "__u", "left_semi")
               .join(keep.select(F.col("__u").alias("__v")),
                     "__v", "left_semi"))
        if checkpoint:
            with scoped_conf(spark, **_AQE_OFF):
                cur = (cur.repartition(nparts, "__u")
                       .localCheckpoint(eager=True))
    out = (cur.groupBy(F.col("__u").alias(id_out))
           .agg(F.count(F.lit(1)).alias("core_deg")))
    if check is None:
        return out
    # fixed point iff no survivor is still below k — exactly the
    # "round rounds+1 removes nobody" condition, one cheap aggregate
    # over the (checkpointed) final frame
    stable = out.where(F.col("core_deg") < int(k)).limit(1).count() == 0
    if check == "raise":
        if not stable:
            raise RuntimeError(
                f"kcore did not converge in {rounds} rounds: the "
                f"result is a strict superset of the {k}-core — "
                "raise `rounds` (peeling is monotone, more rounds "
                "only shrink toward the true core)")
        return out
    return out.withColumn("converged", F.lit(bool(stable)))


def kcore_oracle_sql(edges_cte: str, k: int = 2, rounds: int = 10,
                     id_out: str = "node",
                     check: str | None = "flag") -> str:
    """DuckDB twin of :func:`kcore` as an unrolled CTE chain — same
    canonicalization, same synchronous peel, textually the same
    degree-threshold rule per round. ``edges_cte`` ends in a CTE named
    ``edges(src, dst)``.

    Each round references the previous edge frame TWICE (degree count
    + survivor filter), so the edge CTEs are marked ``MATERIALIZED`` —
    without it DuckDB inlines them and the unrolled chain expands to
    2^rounds copies of the base scan (observed: fd exhaustion at 8
    rounds over a parquet-backed edge list)."""
    parts = [edges_cte.rstrip().rstrip(",")]
    parts.append("""
        c AS (SELECT DISTINCT LEAST(src, dst) AS a,
                              GREATEST(src, dst) AS b
              FROM edges
              WHERE src IS NOT NULL AND dst IS NOT NULL
                AND src <> dst),
        e0 AS MATERIALIZED (SELECT a AS u, b AS v FROM c
               UNION ALL SELECT b, a FROM c)""")
    for t in range(int(rounds)):
        parts.append(f"""
        d{t} AS (SELECT u, COUNT(*) AS dg FROM e{t} GROUP BY u),
        s{t} AS (SELECT u FROM d{t} WHERE dg >= {int(k)}),
        e{t + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e{t} e
                     JOIN s{t} a ON a.u = e.u
                     JOIN s{t} b ON b.u = e.v)""")
    if check == "flag":
        # mirror of the Spark fixed-point test: converged iff no
        # survivor's degree in the final frame is still below k
        r = int(rounds)
        parts.append(f"""
        dfin AS (SELECT u, COUNT(*) AS dg FROM e{r} GROUP BY u),
        conv AS (SELECT COUNT(*) FILTER (WHERE dg < {int(k)}) = 0
                     AS converged FROM dfin)""")
        final = (f"SELECT u AS {id_out}, COUNT(*) AS core_deg, "
                 f"(SELECT converged FROM conv) AS converged "
                 f"FROM e{r} GROUP BY u")
    else:
        final = (f"SELECT u AS {id_out}, COUNT(*) AS core_deg "
                 f"FROM e{int(rounds)} GROUP BY u")
    return "WITH " + ",".join(parts) + " " + final


def lpa_oracle_sql(edges_cte: str, iterations: int = 5,
                   id_out: str = "node",
                   undirected: bool = True) -> str:
    """DuckDB twin of :func:`label_propagation` as an unrolled CTE
    chain — same most-frequent-then-smallest rule, same synchronous
    update, textually identical tie order, so the comparison is
    value-exact. ``edges_cte`` ends in a CTE named ``edges(src, dst)``
    (the :func:`pagerank_oracle_sql` convention)."""
    parts = [edges_cte.rstrip().rstrip(",")]
    sym = ("SELECT src, dst FROM edges WHERE src IS NOT NULL AND "
           "dst IS NOT NULL")
    if undirected:
        sym += (" UNION ALL SELECT dst, src FROM edges "
                "WHERE src IS NOT NULL AND dst IS NOT NULL")
    parts.append(f"""
        e2 AS ({sym}),
        nodes AS (SELECT src AS node FROM e2
                  UNION SELECT dst FROM e2),
        it0 AS (SELECT node, node AS label FROM nodes)""")
    for t in range(int(iterations)):
        parts.append(f"""
        b{t} AS (SELECT e.dst AS node, it{t}.label AS label,
                        COUNT(*) AS c
                 FROM e2 e JOIN it{t} ON it{t}.node = e.src
                 GROUP BY e.dst, it{t}.label),
        w{t} AS (SELECT node, label,
                        ROW_NUMBER() OVER (PARTITION BY node
                                           ORDER BY c DESC, label ASC)
                            AS rn
                 FROM b{t}),
        it{t + 1} AS (SELECT p.node,
                             COALESCE(v.label, p.label) AS label
                      FROM it{t} p
                      LEFT JOIN (SELECT node, label FROM w{t}
                                 WHERE rn = 1) v ON v.node = p.node)""")
    final = (f"SELECT node AS {id_out}, label "
             f"FROM it{int(iterations)}")
    return "WITH " + ",".join(parts) + " " + final


def pagerank_oracle_sql(edges_cte: str, damping: int = 85,
                        iterations: int = 10,
                        id_out: str = "node",
                        seeds: list | None = None,
                        weighted: bool = False) -> str:
    """DuckDB twin of :func:`pagerank` as an unrolled CTE chain.

    ``edges_cte`` is a CTE list WITHOUT the leading ``WITH`` keyword,
    ending in a CTE named ``edges(src, dst)`` (or
    ``edges(src, dst, w)`` with integer weights when
    ``weighted=True``). The recurrence is textually the
    same integer arithmetic as the Spark side (HUGEINT sums are cast
    back to BIGINT), so the comparison is value-exact, not
    approximate — the property that makes an ITERATIVE operator
    drivable by the same oracle gate as everything else.

    ``seeds`` mirrors :func:`pagerank`'s personalization: init/teleport
    mass conditional on membership in the literal id list;
    ``weighted`` mirrors ``weight_col``: per-edge contribution
    ``(r * w) // W_src`` with ``W_src = Σ w``.
    """
    d = int(damping)
    if seeds is None:
        base = f"({100 - d} * {SCALE} // (100 * nn.n))"
        init = f"{SCALE} // nn.n"
    else:
        if not seeds:
            raise ValueError("seeds must be a non-empty list or None")
        in_list = ", ".join(
            "'" + str(s).replace("'", "''") + "'"
            if isinstance(s, str) else str(s) for s in seeds)
        base = (f"(CASE WHEN n0.node IN ({in_list}) "
                f"THEN {(100 - d) * SCALE // (100 * len(seeds))} "
                f"ELSE 0 END)")
        init = (f"CASE WHEN node IN ({in_list}) "
                f"THEN {SCALE // len(seeds)} ELSE 0 END")
    deg_expr = ("CAST(SUM(w) AS BIGINT)" if weighted
                else "COUNT(*)")
    contrib = ("CAST((it{t}.r * e.w) AS BIGINT) // dg.deg"
               if weighted else "it{t}.r // dg.deg")
    parts = [edges_cte.rstrip().rstrip(",")]
    parts.append("""
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        deg AS (SELECT src, {deg} AS deg FROM edges GROUP BY src),
        it0 AS (SELECT node, CAST({init} AS BIGINT) AS r
                FROM nodes CROSS JOIN nn)""".format(init=init,
                                                    deg=deg_expr))
    for t in range(int(iterations)):
        parts.append(f"""
        it{t + 1} AS (
            SELECT n0.node,
                   CAST({base}
                        + ({d} * COALESCE(s.s, 0)) // 100
                        AS BIGINT) AS r
            FROM nodes n0 CROSS JOIN nn
            LEFT JOIN (SELECT e.dst AS node,
                              SUM({contrib.format(t=t)}) AS s
                       FROM edges e
                       JOIN it{t} ON it{t}.node = e.src
                       JOIN deg dg ON dg.src = e.src
                       GROUP BY e.dst) s ON s.node = n0.node)""")
    final = (f"SELECT node AS {id_out}, r AS pr_fp "
             f"FROM it{int(iterations)}")
    return "WITH " + ",".join(parts) + " " + final
