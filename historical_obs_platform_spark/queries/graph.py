"""Graph analytics done Spark-first: a fixed-iteration PageRank in
integer fixed-point arithmetic over the customer↔supplier trade graph.

Iterative algorithms are usually written off as "not SQL-expressible";
with a FIXED iteration count they are — each Jacobi sweep is one
shuffle on the destination key, and the oracle unrolls the same three
sweeps as chained CTEs. All rank mass lives in BIGINT parts-per-billion
with floor division, so every engine computes bit-identical ranks (no
float sum-order divergence across 3 rounds of per-node summation).

The dedup components operator (operators/dedup.connected_components)
is the other iterative-graph op in the repo; this one exercises the
weighted-propagation shape (contributions divided by out-degree) that
ranking/centrality pipelines need.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..artifacts import shared
from ..registry import query
from .common import table

_D_NUM, _D_DEN = 85, 100  # damping 0.85 as a ratio
_SCALE = 1_000_000_000  # ranks in parts-per-billion
_ITERS = 3


# Session-shared graph-family base builds (round-1 VERDICT #4): the
# full-bipartite pair table and its derived edge lists are rebuilt
# identically by every graph query (lineitem ⋈ orders + distinct,
# ~1 s each at sf0.1), so the first consumer materializes one lazily-
# localCheckpointed handle and the family reuses it; the 100 TB
# analog is staging the edge table once per corpus version.
@shared
def _bi_pairs(spark, sf_dir):
    """Distinct raw (c, s) customer–supplier trade pairs of the FULL
    graph, checkpointed once per (session, sf_dir)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_suppkey").alias("s"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )


@shared
def _edges(spark, sf_dir):
    """Distinct customer↔supplier trade edges, both directions, with
    namespaced node ids (customers even: 2k, suppliers odd: 2k+1) so
    the two key spaces can't collide. Checkpointed + memoized (multi-
    round consumers reference it many times)."""
    pairs = _bi_pairs(spark, sf_dir).select(
        (F.col("c") * 2).alias("cust_node"),
        (F.col("s") * 2 + 1).alias("supp_node"),
    )
    fwd = pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    )
    rev = pairs.select(
        F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
    )
    return fwd.unionByName(rev).localCheckpoint(eager=False)


PAGERANK_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS cust_node,
                  l.l_suppkey * 2 + 1 AS supp_node
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT cust_node AS src, supp_node AS dst FROM pairs
  UNION ALL
  SELECT supp_node AS src, cust_node AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (
  SELECT node, CAST({_SCALE} // n AS BIGINT) AS rank FROM nodes, nn
),
r1 AS (
  SELECT n.node,
         CAST((15 * ({_SCALE} // nn.n)) // 100
              + ({_D_NUM} * coalesce(sum(c.contrib), 0)) // {_D_DEN}
              AS BIGINT) AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, r.rank // d.outdeg AS contrib
    FROM edges e JOIN r0 r ON r.node = e.src
    JOIN deg d ON d.src = e.src
  ) c ON c.dst = n.node
  GROUP BY n.node, nn.n
),
r2 AS (
  SELECT n.node,
         CAST((15 * ({_SCALE} // nn.n)) // 100
              + ({_D_NUM} * coalesce(sum(c.contrib), 0)) // {_D_DEN}
              AS BIGINT) AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, r.rank // d.outdeg AS contrib
    FROM edges e JOIN r1 r ON r.node = e.src
    JOIN deg d ON d.src = e.src
  ) c ON c.dst = n.node
  GROUP BY n.node, nn.n
),
r3 AS (
  SELECT n.node,
         CAST((15 * ({_SCALE} // nn.n)) // 100
              + ({_D_NUM} * coalesce(sum(c.contrib), 0)) // {_D_DEN}
              AS BIGINT) AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, r.rank // d.outdeg AS contrib
    FROM edges e JOIN r2 r ON r.node = e.src
    JOIN deg d ON d.src = e.src
  ) c ON c.dst = n.node
  GROUP BY n.node, nn.n
)
SELECT node, rank AS rank_ppb,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         AS node_type
FROM r3
"""


@query("g_pagerank_fixed", PAGERANK_ORACLE)
def g_pagerank_fixed(spark, sf_dir):
    """3-sweep damped PageRank, BIGINT parts-per-billion.

    Plan shape at 100 TB: the edge list is built once (one join +
    distinct), degrees ride along as a broadcast-able aggregate; each
    sweep is contrib = rank div outdeg mapped over edges, then ONE
    shuffle on dst to re-aggregate — iteration count × one exchange,
    no quadratic closure, no driver collect. Only the EDGE table is
    checkpointed (it feeds deg/nodes/ed, i.e. multiple plan branches);
    the per-iteration rank table is referenced exactly once per sweep,
    so chaining it as a plain lineage avoids 3 extra driver-side
    plan-compilations (`localCheckpoint` calls `toRdd` eagerly even
    with eager=False) and 3 block materializations — measured
    same-boot A/B at sf0.1: 4.4 s (per-iteration checkpoints) →
    2.7 s (edges-only), identical output. At an iteration count where
    lineage depth threatens the planner (>>10), re-introduce a
    checkpoint every ~10 sweeps instead of every sweep.
    """
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))
    # teleport term, identical floor arithmetic to the oracle
    base = F.expr(f"(15 * ({_SCALE} div n)) div 100")
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", F.expr(f"{_SCALE} div n").cast("long").alias("rank")
    )
    ed = edges.join(deg, "src")
    for _ in range(_ITERS):
        contrib = (
            ed.join(ranks, ed.src == ranks.node)
            .select(
                "dst", F.expr("rank div outdeg").alias("contrib")
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                (
                    base
                    + F.expr(
                        f"({_D_NUM} * coalesce(s, 0)) div {_D_DEN}"
                    )
                )
                .cast("long")
                .alias("rank"),
            )
        )
    return ranks.select(
        "node",
        F.col("rank").alias("rank_ppb"),
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
    )


@shared
def _urgent_copurchase(spark, sf_dir):
    """Shared graph definition for the census/traversal queries: the
    (order, part) item table of URGENT orders and the distinct
    canonical (u < v) co-purchase edge list. One definition so the
    triangle census and the reachability query can never
    desynchronize (same factoring as _edges for pagerank). Both
    handles are checkpointed + memoized per (session, sf_dir): five
    queries (triangle, k-hop, SSSP, local clustering, harmonic) build
    this identical subgraph."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    od = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    items = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").alias("pk"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(
            b,
            on=[
                F.col("a.ok") == F.col("b.ok"),
                F.col("a.pk") < F.col("b.pk"),
            ],
        )
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    return items, edges


@shared
def _urgent_sym(spark, sf_dir):
    """Symmetric (both-direction) edge list over `_urgent_copurchase`,
    checkpointed + memoized — the traversal queries (k-hop, SSSP,
    harmonic) all expand along this one table."""
    _items, e0 = _urgent_copurchase(spark, sf_dir)
    return e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)


# --------------------------------------------------------------------
# Exact triangle counting over the part co-purchase graph (two parts
# linked iff they appear in the same URGENT order). The Spark plan is
# the degree-orientation algorithm (orient every edge from the
# (degree, id)-smaller endpoint; every triangle then has exactly one
# node with both out-edges, so wedges out-join the oriented edge set
# once and nothing is double counted). Orientation bounds the wedge
# fan-out by the OUT-degree, which the (deg, id) total order caps at
# O(sqrt(m)) for any degree distribution — the reason this survives
# power-law part popularity at 100 TB where a naive id-ordered wedge
# join explodes on hub nodes. The oracle is the independent canonical
# a<b<c triple join.
# --------------------------------------------------------------------
TRIANGLE_ORACLE = """
WITH li AS (
  SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
),
e AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY node
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
),
wed AS (
  SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       wed.n_wedges,
       tri.n_triangles,
       CAST((3 * tri.n_triangles * 1000000) // wed.n_wedges AS BIGINT)
         AS closure_ppm
FROM tri, wed
"""


@query("g_triangle_count", TRIANGLE_ORACLE)
def g_triangle_count(spark, sf_dir):
    """Global triangle census (nodes, edges, wedges, triangles, and
    the global clustering coefficient in exact ppm — BIGINT floor
    division, no float).

    Plan shape at 100 TB: edge gen is a per-order self-join (order
    size is bounded by the schema, <= 7 lineitems, so the blowup is
    C(7,2) per order — linear in orders); degrees are one aggregate;
    the wedge join fans out only along out-edges of the (deg, id)
    orientation; the closing probe is one equi-join against the
    oriented edge list. Three shuffles total, all on node keys —
    no CartesianProduct, no driver-side adjacency."""
    _items, edges = _urgent_copurchase(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=False)
    )
    # orient u->v iff (deg_u, u) < (deg_v, v); keep the destination's
    # (deg, id) on the row so the wedge can order its two endpoints
    # without re-joining degrees
    du = deg.select(
        F.col("node").alias("u"), F.col("d").alias("du")
    )
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = edges.join(du, "u").join(dv, "v")
    fwd = ed.where(
        (F.col("du") < F.col("dv"))
        | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ).select(
        F.col("u").alias("src"),
        F.col("v").alias("dst"),
        F.col("dv").alias("ddst"),
    )
    rev = ed.where(
        (F.col("dv") < F.col("du"))
        | ((F.col("dv") == F.col("du")) & (F.col("v") < F.col("u")))
    ).select(
        F.col("v").alias("src"),
        F.col("u").alias("dst"),
        F.col("du").alias("ddst"),
    )
    oriented = fwd.unionByName(rev).localCheckpoint(eager=False)
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    # wedge (a -> b, a -> c) with b before c in the SAME (deg, id)
    # order the orientation uses, so the closing edge must be b -> c
    wedges = w1.join(
        w2,
        on=[
            F.col("w1.src") == F.col("w2.src"),
            (F.col("w1.ddst") < F.col("w2.ddst"))
            | (
                (F.col("w1.ddst") == F.col("w2.ddst"))
                & (F.col("w1.dst") < F.col("w2.dst"))
            ),
        ],
    ).select(
        F.col("w1.dst").alias("b"), F.col("w2.dst").alias("c")
    )
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    # inner join, not semi: each wedge row is a distinct (a, b, c), so
    # every closed wedge contributes exactly one row to the count
    n_tri = wedges.join(closing, ["b", "c"], "inner").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges")
    )
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_wedges)
        .crossJoin(n_tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr("(3 * n_triangles * 1000000) div n_wedges")
            .cast("long")
            .alias("closure_ppm"),
        )
    )


# --------------------------------------------------------------------
# Bounded k-hop reachability (unit-weight SSSP, 3 rounds) over the
# same urgent co-purchase graph as the triangle census: from the
# deterministic seed set (part keys divisible by 100), expand the
# BFS frontier three times and report every reached node's minimum
# hop count. Iterative traversal is the third graph shape next to
# weighted propagation (g_pagerank_fixed) and closure counting
# (g_triangle_count): each round is frontier ⋈ edges → min-aggregate
# — ONE shuffle per hop, frontier-sized not graph-sized, lineage cut
# per round. The oracle unrolls the same three expansions as chained
# CTEs with LEAST-precedence on the hop number.
# --------------------------------------------------------------------
KHOP_ORACLE = """
WITH li AS (
  SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
),
e0 AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
e AS (
  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
),
h0 AS (
  SELECT DISTINCT pk AS node FROM li WHERE pk % 100 = 0
),
h1 AS (
  SELECT DISTINCT e.v AS node FROM h0 JOIN e ON e.u = h0.node
),
h2 AS (
  SELECT DISTINCT e.v AS node FROM h1 JOIN e ON e.u = h1.node
),
h3 AS (
  SELECT DISTINCT e.v AS node FROM h2 JOIN e ON e.u = h2.node
)
SELECT node, CAST(min(hops) AS BIGINT) AS min_hops
FROM (
  SELECT node, 0 AS hops FROM h0
  UNION ALL SELECT node, 1 FROM h1
  UNION ALL SELECT node, 2 FROM h2
  UNION ALL SELECT node, 3 FROM h3
) GROUP BY node
"""


@query("g_khop_reach", KHOP_ORACLE)
def g_khop_reach(spark, sf_dir):
    """Minimum hop count to every node within 3 hops of the seed set.

    Plan shape at 100 TB: the edge list builds once (shared
    checkpoint); each hop expands only the DELTA frontier — the nodes
    first reached last hop — and an anti-join against the reached set
    drops re-visits before they fan out again. In a small-world graph
    the naive frontier re-contains nearly the whole reach set by hop
    2 (every expansion bounces back along the undirected edges), so
    the naive hop-3 join mass approaches |E| while the delta frontier
    mass only covers genuinely new territory: measured at sf0.1
    (with the shared edge checkpoint) wall drops 2.3 s → 0.93 s
    min-of-3. Equivalence: a node's BFS level IS the
    first hop that reaches it, so restricting the union to
    first-reach rows leaves min(hops) per node unchanged (verified
    against the unrolled oracle at sf0.001/0.01/0.1)."""
    items, _e0 = _urgent_copurchase(spark, sf_dir)
    edges = _urgent_sym(spark, sf_dir)
    frontier = (
        items.where(F.col("pk") % 100 == 0)
        .select(F.col("pk").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    frontiers = [frontier.withColumn("hops", F.lit(0))]
    for hop in range(1, 4):
        seen = frontiers[0].select("node")
        for f in frontiers[1:]:
            seen = seen.unionByName(f.select("node"))
        frontier = (
            frontier.join(edges, frontier.node == edges.u)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(seen, "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        frontiers.append(frontier.withColumn("hops", F.lit(hop)))
    reached = frontiers[0]
    for f in frontiers[1:]:
        reached = reached.unionByName(f)
    return reached.groupBy("node").agg(
        F.min("hops").cast("long").alias("min_hops")
    )


# --------------------------------------------------------------------
# g_sssp_weighted: weighted single-source shortest paths by k=3
# Bellman-Ford relaxation rounds over the co-purchase graph — the
# weighted sibling of g_khop_reach's unit-cost BFS, completing the
# graph family (propagation, census, traversal, weighted metric).
# Edge weight is the deterministic integer 1 + (u + v) % 5, so every
# distance is a BIGINT and the min-plus fold has nothing to round.
# Plan: edges built once (shared _urgent_copurchase + checkpoint);
# each round is dist ⋈ edges (relax) + a (node, dist) min partial
# agg — the same frontier-degree-bounded work as BFS, never a
# transitive closure. The oracle replays the rounds as chained CTEs:
# d_{r+1} = min(d_r ∪ relax(d_r)).
# --------------------------------------------------------------------
SSSP_ORACLE = """
WITH li AS (
  SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
),
e0 AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
e AS (
  SELECT u, v, 1 + (u + v) % 5 AS w FROM e0
  UNION ALL
  SELECT v AS u, u AS v, 1 + (u + v) % 5 AS w FROM e0
),
d0 AS (
  SELECT DISTINCT pk AS node, CAST(0 AS BIGINT) AS dist
  FROM li WHERE pk % 100 = 0
),
d1 AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d0
    UNION ALL
    SELECT e.v AS node, d0.dist + e.w AS dist
    FROM d0 JOIN e ON e.u = d0.node
  ) GROUP BY node
),
d2 AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d1
    UNION ALL
    SELECT e.v AS node, d1.dist + e.w AS dist
    FROM d1 JOIN e ON e.u = d1.node
  ) GROUP BY node
),
d3 AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d2
    UNION ALL
    SELECT e.v AS node, d2.dist + e.w AS dist
    FROM d2 JOIN e ON e.u = d2.node
  ) GROUP BY node
)
SELECT node, CAST(dist AS BIGINT) AS dist FROM d3
"""


@query("g_sssp_weighted", SSSP_ORACLE)
def g_sssp_weighted(spark, sf_dir):
    """Exact 3-round Bellman-Ford distances from the deterministic
    seed set (nodes ≡ 0 mod 100) under integer edge weights."""
    items, _e0 = _urgent_copurchase(spark, sf_dir)
    # weight 1 + (u + v) % 5 is symmetric in (u, v), so it can be
    # attached as a projection over the shared symmetric edge
    # checkpoint instead of rebuilding the edge union per query
    w_expr = (F.lit(1) + (F.col("u") + F.col("v")) % 5).cast("long")
    edges = _urgent_sym(spark, sf_dir).select("u", "v", w_expr.alias("w"))
    dist = (
        items.where(F.col("pk") % 100 == 0)
        .select(F.col("pk").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=False)
    )
    # classic delta-stepping-style frontier: only nodes whose min
    # IMPROVED last round can produce new improvements (min-plus
    # relaxation is idempotent), so the corpus-scale join is
    # frontier × degree each round, never settled-set × degree
    frontier = dist
    for _ in range(3):
        cand = (
            frontier.join(edges, frontier.node == edges.u)
            .select(
                F.col("v").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        old = dist.select(
            F.col("node").alias("o_node"), F.col("dist").alias("o_dist")
        )
        frontier = (
            cand.join(old, cand.node == old.o_node, "left")
            .where(F.col("o_dist").isNull() | (cand.dist < F.col("o_dist")))
            .select("node", "dist")
            .localCheckpoint(eager=False)
        )
        dist = (
            dist.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


# --------------------------------------------------------------------
# g_kcore_peel: k-core decomposition by fixed-round peeling — each
# round recomputes degrees over the surviving subgraph and drops nodes
# below k (with their incident edges). A fixed round count makes the
# iteration SQL-expressible (the oracle unrolls the same rounds as
# chained CTEs), exactly the PageRank trick; all arithmetic is integer
# counts. Scale shape per round: one degree aggregation (shuffle on
# src) + two semi-joins on the keep set — never materializes paths or
# closures. The symmetric edge list makes in-degree == out-degree, so
# one grouped count suffices.
# --------------------------------------------------------------------
_KCORE_K = 4
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    parts = [
        """pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS cust_node,
                  l.l_suppkey * 2 + 1 AS supp_node
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
e0 AS (
  SELECT cust_node AS src, supp_node AS dst FROM pairs
  UNION ALL
  SELECT supp_node AS src, cust_node AS dst FROM pairs
)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""k{r} AS (
  SELECT src FROM e{r - 1} GROUP BY src
  HAVING count(*) >= {_KCORE_K}
),
e{r} AS (
  SELECT e.src, e.dst FROM e{r - 1} e
  JOIN k{r} a ON e.src = a.src
  JOIN k{r} b ON e.dst = b.src
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
FROM e{_KCORE_ROUNDS} GROUP BY src
"""
    )


@query("g_kcore_peel", _kcore_oracle())
def g_kcore_peel(spark, sf_dir):
    # checkpoint each round's surviving edge set: round r's degree
    # aggregation and BOTH semi-joins reference it, and Spark plans
    # are trees — without the checkpoint the lineitem x orders edge
    # build re-executes O(rounds^2) times (measured 35.8 s -> 1.8 s
    # at sf0.1, min-of-3)
    edges = _edges(spark, sf_dir)
    for _ in range(_KCORE_ROUNDS):
        keep = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= _KCORE_K)
            .select("src")
        )
        edges = (
            edges.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
