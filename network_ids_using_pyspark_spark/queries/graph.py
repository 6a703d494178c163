"""Graph analytics over the star schema's implicit trade graph.

The reference has no graph surface at all; an IDS-adjacent engine needs
one (beaconing detection, lateral-movement scoring, and — on the
LLM-data side — domain authority weighting for crawl prioritization are
all PageRank-shaped).  Nodes are customers and suppliers, edges are
"traded with" (distinct customer–supplier pairs observed through
orders⋈lineitem), fed undirected so no rank mass dangles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.numeric import dec_double_sql, grid_sum, grid_sum_sql
from ..operators.graphops import pagerank_int, pagerank_sql_ctes
from ..sources.tables import load_table
from . import register

_TOPK = 50

_EDGES_CTE = """edges0 AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT src, dst FROM edges0
  UNION ALL
  SELECT dst AS src, src AS dst FROM edges0
)"""

_PAGERANK_SQL = f"""
SELECT node, rank FROM (
  {pagerank_sql_ctes(_EDGES_CTE, iters=3)}
) ranked
ORDER BY rank DESC, node ASC
LIMIT {_TOPK}
"""


@register("pagerank_trade_graph", _PAGERANK_SQL)
def q_pagerank_trade_graph(spark, sf_dir):
    """Top-{50} nodes of the customer–supplier trade graph by integer
    PageRank (3 supersteps, 0.85 damping — see operators/graphops.py
    for the exact-arithmetic design and the 100 TB superstep plan).

    The edge list is built once (distinct pair extraction = one
    shuffle), each superstep is one more shuffle on dst, and the final
    top-k is TakeOrderedAndProject.  Ties broken by node id for a
    total order."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank_int(edges, iters=3)
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(_TOPK)


_SEED = "c0"
_MAX_DEPTH = 2

_BFS_SQL = f"""
WITH RECURSIVE {_EDGES_CTE},
reach(node, depth) AS (
  SELECT '{_SEED}' AS node, 0 AS depth
  UNION ALL
  SELECT e.dst AS node, r.depth + 1 AS depth
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.depth < {_MAX_DEPTH}
)
SELECT first_depth, COUNT(*) AS n_nodes FROM (
  SELECT node, MIN(depth) AS first_depth FROM reach GROUP BY node
) d
GROUP BY first_depth
"""


@register("recursive_bfs_reachability", _BFS_SQL)
def q_recursive_bfs_reachability(spark, sf_dir):
    """WITH RECURSIVE (Spark 4 SQL surface): breadth-first reachability
    from one seed node of the trade graph, {_MAX_DEPTH} hops, reported
    as nodes-per-first-reach-depth.  The recursion is the declarative
    twin of operators/graphops.py's iterative join loop — same edges,
    planner-managed iteration instead of Python-driven supersteps.

    Scale note: the recursion is UNION ALL (path multiset), so the
    frontier is kept small by the depth bound and the final MIN(depth)
    dedup; unbounded reachability at 100 TB belongs to the superstep
    operator (`dedup_clusters` / `pagerank_int`) where each level is
    deduplicated before the next shuffle."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # materialize the edge relation ONCE before the recursion: the
    # recursive join re-executes the view's plan per level, so the
    # orders⋈lineitem edge build ran at every depth (r11 measurement:
    # 30 → 19 jobs, median wall 8.9 s → 4.0 s at sf0.1; rows identical).
    # Same fix the r10 oracle side applied to its recursive CTE inputs
    # (AS MATERIALIZED).
    edges = edges.localCheckpoint(eager=True)
    edges.createOrReplaceTempView("nids_bfs_edges")
    return spark.sql(f"""
      WITH RECURSIVE reach(node, depth) AS (
        SELECT '{_SEED}' AS node, 0 AS depth
        UNION ALL
        SELECT e.dst AS node, r.depth + 1 AS depth
        FROM reach r JOIN nids_bfs_edges e ON e.src = r.node
        WHERE r.depth < {_MAX_DEPTH}
      )
      SELECT first_depth, COUNT(*) AS n_nodes FROM (
        SELECT node, MIN(depth) AS first_depth FROM reach GROUP BY node
      ) d
      GROUP BY first_depth
    """)


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered orientation) over the part co-purchase
# graph.  The customer–supplier trade graph is bipartite (no triangles), so
# the unipartite projection is parts-co-ordered-together: an edge per
# part pair co-occurring in ≥_TRI_SUPPORT orders.  Pair GENERATION is
# bounded by basket size per order (pairs/order = lines²/2, a constant),
# so the edge build is linear in lineitem at any SF, and the support
# threshold keeps the resulting GRAPH sparse as the corpus grows.
# ---------------------------------------------------------------------------

# minimum co-occurrence support — counted as DISTINCT co-occurring
# orders: a single shared order is noise on a fixed part universe (the
# raw pair count grows ~quadratically toward saturation as SF grows —
# 8.9k→116k→1.2M edges at sf0.001/0.01/0.1 — while support≥2 stays
# ~2.3-3.6k: the signal edges).  This is the market-basket analog of
# jaccard's max_df skew control.
_TRI_SUPPORT = 2

_TRI_SQL = f"""
WITH pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_SUPPORT}
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT p1 AS node FROM pairs UNION ALL SELECT p2 AS node FROM pairs)
  GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (d1.d < d2.d) OR (d1.d = d2.d AND e.p1 < e.p2)
              THEN e.p1 ELSE e.p2 END AS src,
         CASE WHEN (d1.d < d2.d) OR (d1.d = d2.d AND e.p1 < e.p2)
              THEN e.p2 ELSE e.p1 END AS dst
  FROM pairs e
  JOIN deg d1 ON e.p1 = d1.node
  JOIN deg d2 ON e.p2 = d2.node
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM oriented e1
  JOIN oriented e2 ON e1.dst = e2.src
  JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
wedge AS (
  SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg
)
SELECT t.n_triangles, w.n_wedges,
       3.0 * CAST(t.n_triangles AS DOUBLE) / CAST(w.n_wedges AS DOUBLE)
         AS clustering_coeff
FROM tri t, wedge w
"""


@register("triangle_count_copurchase", _TRI_SQL)
def q_triangle_count_copurchase(spark, sf_dir):
    """Global triangle count + clustering coefficient of the part
    co-purchase graph, by degree-ordered orientation.

    The naive triangle join explodes on hub nodes (a degree-d node
    contributes O(d²) wedge rows).  Orienting every edge from the
    lower-(degree, id) endpoint to the higher bounds each node's
    out-degree by O(√m) — the standard bound — so the wedge join
    (e1.dst = e2.src) is skew-safe: hub nodes have high IN-degree but
    small OUT-degree, and the wedge count is Σ outdeg² which the
    orientation minimizes.  Each triangle is counted exactly once (its
    unique orientation-ordered traversal), no /3 or /6 correction.

    Scale plan: pair extraction shuffles lineitem once on orderkey and
    emits basket-bounded pairs map-side; degrees are one aggregate;
    the orientation is a projection; the wedge join shuffles oriented
    edges on (dst=src); the closing-edge check is a semi-shaped equi-
    join on the (src, dst) composite.  All integer arithmetic — the
    coefficient is one double divide of two exact BIGINTs."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = l.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("p2"))
    # support = DISTINCT co-occurring orders (a part listed on two line
    # rows of ONE order must not fake multi-order support) — the same
    # definition FP-Growth's basket sets give mllib_fpgrowth_itemsets
    pairs = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.countDistinct("ok").alias("support"))
        .filter(F.col("support") >= _TRI_SUPPORT)
        .select("p1", "p2")
    )
    deg = (
        pairs.select(F.col("p1").alias("node"))
        .unionAll(pairs.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d1 = deg.select(F.col("node").alias("n1"), F.col("d").alias("dg1"))
    d2 = deg.select(F.col("node").alias("n2"), F.col("d").alias("dg2"))
    fwd = (F.col("dg1") < F.col("dg2")) | (
        (F.col("dg1") == F.col("dg2")) & (F.col("p1") < F.col("p2"))
    )
    oriented = (
        pairs.join(d1, F.col("p1") == F.col("n1"))
        .join(d2, F.col("p2") == F.col("n2"))
        .select(
            F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("src"),
            F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        )
    )
    e1 = oriented
    e2 = oriented.select(F.col("src").alias("src2"), F.col("dst").alias("dst2"))
    e3 = oriented.select(F.col("src").alias("src3"), F.col("dst").alias("dst3"))
    tri = (
        e1.join(e2, e1.dst == F.col("src2"))
        .join(e3, (e1.src == F.col("src3")) & (F.col("dst2") == F.col("dst3")), "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    # integer division end-to-end: at 100 TB wedge counts can pass 2^53,
    # where a double-typed intermediate silently loses exactness
    wedges = deg.agg(
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        "n_triangles",
        "n_wedges",
        (
            F.lit(3.0)
            * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double")
        ).alias("clustering_coeff"),
    )


# ---------------------------------------------------------------------------
# Label-propagation communities over the same trade graph.
# ---------------------------------------------------------------------------

from ..operators.graphops import lpa_labels, lpa_sql_ctes  # noqa: E402

_LPA_ITERS = 2

_LPA_SQL = f"""
WITH labeled AS (
  {lpa_sql_ctes(_EDGES_CTE, iters=_LPA_ITERS)}
),
sizes AS (
  SELECT lbl AS community, COUNT(*) AS sz FROM labeled GROUP BY lbl
)
SELECT CAST(sz AS BIGINT) AS community_size,
       CAST(COUNT(*) AS BIGINT) AS n_communities,
       MIN(community) AS sample_community
FROM sizes GROUP BY sz
"""


@register("lpa_communities_trade_graph", _LPA_SQL)
def q_lpa_communities_trade_graph(spark, sf_dir):
    """Community structure of the trade graph by synchronous
    min-tiebreak label propagation ({_LPA_ITERS} supersteps), reported
    as the community-size histogram — the fleet-level summary a crawl /
    dedup planner reads (near-identical mirror clusters, vendor rings).

    Deterministic by construction (see operators/graphops.py::
    lpa_labels): no random visit order, ties to the smallest label, so
    the oracle unrolls the identical propagation as SQL CTEs.  Shuffle
    budget O(supersteps), same skeleton as PageRank."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = lpa_labels(edges, iters=_LPA_ITERS)
    sizes = labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    return sizes.groupBy(F.col("sz").cast("long").alias("community_size")).agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.min("community").alias("sample_community"),
    )


# ---------------------------------------------------------------------------
# Link prediction: Adamic-Adar over the part co-purchase graph.
# ---------------------------------------------------------------------------

_AA_SUPPORT = 2
_AA_TOPK = 25
# Stop-node ceiling: common neighbors with degree > max(64, floor(sqrt(|V|)))
# are excluded from wedge enumeration.  An IDF-style cut — a neighbor
# adjacent to ~everything carries no "bought together" signal (its AA
# term is a near-constant 1/ln(d) added to O(d²) pairs) and is exactly
# the node that makes the wedge join quadratic: the round-7 10x skew
# pair planted one part at degree 165,886 of 172,947 nodes, i.e.
# 27.5e9 wedges, where the sqrt ceiling leaves 369k.  At the driver
# fixtures the max degree is 6, so no node is ever excluded there and
# oracle outputs are unchanged.  floor(sqrt(n)) is computed through
# IEEE double sqrt on BOTH engines, so the ceiling is bit-identical.
_AA_STOP_FLOOR = 64

_AA_SQL = f"""
WITH pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= {_AA_SUPPORT}
),
edges AS (SELECT p1 AS u, p2 AS v FROM pairs UNION ALL SELECT p2, p1 FROM pairs),
deg AS (SELECT u AS node, COUNT(*) AS d FROM edges GROUP BY 1),
ceil_z AS (
  SELECT GREATEST({_AA_STOP_FLOOR},
                  CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS c
  FROM deg
),
okz AS (SELECT node, d FROM deg, ceil_z WHERE d >= 2 AND d <= ceil_z.c),
wedges AS (
  SELECT e1.u AS x, e2.v AS y, e1.v AS z
  FROM edges e1
  JOIN okz ON e1.v = okz.node
  JOIN edges e2 ON e1.v = e2.u AND e1.u < e2.v
),
aa AS (
  SELECT x, y,
         {grid_sum_sql("1.0 / ln(d.d)", 6)} AS aa_score,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM wedges w JOIN okz d ON w.z = d.node
  GROUP BY x, y
)
SELECT x, y, aa_score, n_common
FROM aa
LEFT JOIN pairs p ON aa.x = p.p1 AND aa.y = p.p2
WHERE p.p1 IS NULL
ORDER BY aa_score DESC, x, y
LIMIT {_AA_TOPK}
"""


@register("adamic_adar_link_prediction", _AA_SQL)
def q_adamic_adar_link_prediction(spark, sf_dir):
    """Top-{_AA_TOPK} predicted links: non-adjacent part pairs ranked by
    Adamic-Adar (Σ 1/ln(deg z) over common neighbors z) on the
    support-≥{_AA_SUPPORT} co-purchase graph — "frequently bought
    together" completion for pairs never yet co-ordered.

    Reproducibility: each 1/ln(deg) term is quantized to the 1e-6 grid
    then summed in exact DECIMAL (the functions/numeric.py discipline —
    a float sum over wedge arrival order would be engine-dependent).

    Scale plan: a hub of degree d emits O(d²) wedges, and the support
    floor alone does NOT bound that — a genuinely hot item passes
    support against everything (the round-7 10x skew pair planted one
    part at degree 165,886, i.e. 27.5e9 wedges).  Wedge enumeration
    therefore excludes stop-node centers with deg > max(64,
    floor(sqrt(|V|))) — the IDF cut (see _AA_STOP_FLOOR): such a
    neighbor adds a near-constant 1/ln(d) to O(d²) pairs, pure noise
    for completion ranking.  With the ceiling the candidate relation
    stays edge-scale; the anti-join against existing edges and the deg
    lookup are dim-sized broadcasts; the final cut is
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.countDistinct("l_orderkey").alias("sup"))
        .filter(F.col("sup") >= _AA_SUPPORT)
        .select("p1", "p2")
    )
    pairs = pairs.localCheckpoint(eager=True)  # feeds edges(×2) + anti-join
    edges = pairs.select(F.col("p1").alias("u"), F.col("p2").alias("v")).unionByName(
        pairs.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    deg = deg.localCheckpoint(eager=True)  # node-grain; feeds count + filter
    import math

    n_nodes = deg.count()
    stop_ceil = max(_AA_STOP_FLOOR, math.floor(math.sqrt(float(n_nodes))))
    okz = deg.filter((F.col("d") >= 2) & (F.col("d") <= stop_ceil))
    e1 = edges.select(F.col("u").alias("x"), F.col("v").alias("z"))
    e2 = edges.select(F.col("u").alias("z"), F.col("v").alias("y"))
    # the stop-node cut applies BEFORE wedge enumeration — that is the
    # whole point (the hub never reaches the self-join)
    e1 = e1.join(F.broadcast(okz.select(F.col("node").alias("z"), "d")), "z")
    wedges = e1.join(e2, "z").filter(F.col("x") < F.col("y"))
    aa = wedges.groupBy("x", "y").agg(
        grid_sum(F.lit(1.0) / F.log(F.col("d").cast("double")), 6).alias("aa_score"),
        F.count(F.lit(1)).alias("n_common"),
    )
    out = aa.join(
        F.broadcast(pairs),
        (F.col("x") == F.col("p1")) & (F.col("y") == F.col("p2")),
        "left_anti",
    )
    return out.orderBy(F.desc("aa_score"), F.asc("x"), F.asc("y")).limit(_AA_TOPK)


from ..operators.graphops import kcore_nodes, kcore_sql_ctes  # noqa: E402

# ---------------------------------------------------------------------------
# k-core decomposition of the co-purchase graph: the densest-region
# extractor (spam/mirror rings in a crawl graph, frequently-bundled
# product cores here) — the subgraph where every node keeps >= k
# neighbors after iteratively peeling low-degree nodes.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ITERS = 6

_KCORE_EDGES_CTE = f"""pairs AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_SUPPORT}
),
-- MATERIALIZED: every unrolled superstep references edges twice; an
-- inlined CTE would re-run the lineitem self-join O(iters) times
edges AS MATERIALIZED (
  SELECT p1 AS src, p2 AS dst FROM pairs
  UNION ALL
  SELECT p2 AS src, p1 AS dst FROM pairs
)"""

_KCORE_SQL = f"""
{kcore_sql_ctes(_KCORE_EDGES_CTE, k=_KCORE_K, iters=_KCORE_ITERS)},
fd AS (
  SELECT e.src, COUNT(*) AS deg
  FROM edges e
  JOIN a{_KCORE_ITERS} s ON e.src = s.node
  JOIN a{_KCORE_ITERS} t ON e.dst = t.node
  GROUP BY e.src
)
SELECT {_KCORE_K} AS k,
       CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
       CAST(COALESCE(SUM(deg), 0) // 2 AS BIGINT) AS n_core_edges,
       CAST(COALESCE(MIN(deg), 0) AS BIGINT) AS min_core_degree
FROM fd
"""


@register("kcore_decomposition", _KCORE_SQL)
def q_kcore_decomposition(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = l.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.countDistinct("ok").alias("support"))
        .filter(F.col("support") >= _TRI_SUPPORT)
        .select("p1", "p2")
    )
    edges = pairs.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst")
    ).unionByName(pairs.select(F.col("p2").alias("src"), F.col("p1").alias("dst")))
    # materialize the support-filtered edge relation ONCE (≈3.6k rows at
    # any SF by the support cutoff): it feeds every peel superstep AND
    # the post-core semi-joins below, and the lineitem self-join +
    # distinct-support build is the expensive part (r11, guide §3)
    edges = edges.localCheckpoint(eager=True)
    core = kcore_nodes(edges, k=_KCORE_K, iters=_KCORE_ITERS)
    ea = edges.join(
        core.withColumnRenamed("node", "src"), "src", "left_semi"
    ).join(core.withColumnRenamed("node", "dst"), "dst", "left_semi")
    fd = ea.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return fd.agg(
        F.lit(_KCORE_K).alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_core_nodes"),
        (F.coalesce(F.sum("deg"), F.lit(0)) / 2).cast("long").alias("n_core_edges"),
        F.coalesce(F.min("deg"), F.lit(0)).cast("long").alias("min_core_degree"),
    )

q_kcore_decomposition.__doc__ = f"""{_KCORE_K}-core of the part co-purchase graph (support >=
    {_TRI_SUPPORT} edges, the same signal graph as the triangle count):
    synchronous peel for {_KCORE_ITERS} supersteps, then the core's
    size, edge count, and minimum internal degree — the last being the
    in-band proof the peel CONVERGED (min degree >= {_KCORE_K} iff one
    more peel would be a no-op; tests assert both it and a brute-force
    Python peel).

    Scale plan: the alive set shrinks monotonically and is dim-sized
    after the first peel; each superstep is two semi-joins + one count
    on the persisted edge relation (operators/graphops.py::
    kcore_nodes) — O(iters) shuffles, no window, no all-pairs."""


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths: k-round Bellman-Ford over the
# customer–supplier trade graph, edge weight = cheapest line price ever
# traded on that relationship.  The missing WEIGHTED member of the
# graph family (BFS is hop-count reachability; PageRank is mass
# propagation) — "cheapest k-hop procurement reach" from one seed.
# ---------------------------------------------------------------------------

_SSSP_SEED = "c0"
_SSSP_HOPS = 3
_SSSP_TOPK = 50

_SSSP_SQL = f"""
WITH RECURSIVE pe AS (
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         's' || CAST(l.l_suppkey AS VARCHAR) AS dst,
         MIN(l.l_extendedprice) AS w
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
),
edges AS (
  SELECT src, dst, w FROM pe
  UNION ALL
  SELECT dst AS src, src AS dst, w FROM pe
),
paths(node, d, i) AS (
  SELECT '{_SSSP_SEED}' AS node, CAST(0.0 AS DOUBLE) AS d, 0 AS i
  UNION ALL
  SELECT e.dst, p.d + e.w, p.i + 1
  FROM paths p JOIN edges e ON e.src = p.node
  WHERE p.i < {_SSSP_HOPS}
)
SELECT node, MIN(d) AS dist
FROM paths GROUP BY node
ORDER BY dist ASC, node ASC
LIMIT {_SSSP_TOPK}
"""


@register("sssp_cheapest_reach", _SSSP_SQL)
def q_sssp_cheapest_reach(spark, sf_dir):
    """Weighted SSSP, {_SSSP_HOPS} Bellman-Ford rounds from one seed
    node: edge weight is the MIN line price ever traded between a
    customer and a supplier, distance is the cheapest weighted path,
    output the {_SSSP_TOPK} nearest nodes (total order on dist, node).

    The oracle's recursive CTE enumerates every path of length ≤ k and
    MINs at the end — exponential in principle.  The engine relaxes
    instead: each round joins the CURRENT tentative-distance relation
    (one row per node, min-combined) with the edge list, so per-round
    work is |frontier ⋈ edges| and the path explosion never
    materializes — that min-combine-per-superstep is exactly what makes
    Bellman-Ford viable at 100 TB where path enumeration is not.
    Distances stay bit-portable because both engines build candidate
    sums with the same (dist + w) tree and MIN is order-free.

    Scale plan: edge build is one shuffle (groupBy pair, map-side
    combined); each round is one shuffle on dst; tentative distances
    are localCheckpointed per round so the k-round lineage never
    replays; final top-k is TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    pe = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(F.min("l_extendedprice").alias("w"))
    )
    edges = pe.unionByName(
        pe.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint(eager=False)  # feeds every relaxation round
    dist = spark.createDataFrame(
        [(_SSSP_SEED, 0.0)], "node string, d double"
    )
    for _ in range(_SSSP_HOPS):
        relax = dist.join(edges, dist.node == edges.src).select(
            F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d")
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)  # cut the per-round lineage
        )
    return (
        dist.select("node", F.col("d").alias("dist"))
        .orderBy(F.asc("dist"), F.asc("node"))
        .limit(_SSSP_TOPK)
    )


# ---------------------------------------------------------------------------
# Personalized PageRank from one seed — the proximity walk behind
# graph-based recommendation ("which suppliers sit closest to THIS
# customer's neighborhood by random-walk mass?"), reusing pagerank_int
# with the restart mass deposited only on the seed.  Where SSSP gives
# cheapest single paths, PPR aggregates over ALL walks — the two
# complementary graph-proximity notions.
# ---------------------------------------------------------------------------

_PPR_SEED = "c0"

_PPR_SQL = f"""
SELECT node, rank FROM (
  {pagerank_sql_ctes(_EDGES_CTE, iters=3, seeds=[_PPR_SEED])}
) ranked
WHERE rank > 0
ORDER BY rank DESC, node ASC
LIMIT {_TOPK}
"""


@register("ppr_trade_graph", _PPR_SQL)
def q_ppr_trade_graph(spark, sf_dir):
    """Top-{50} trade-graph nodes by personalized PageRank from seed
    '{_PPR_SEED}' (3 supersteps, 0.85 damping, integer arithmetic):
    the (1−d) restart mass lands only on the seed, so rank measures
    random-walk proximity to that customer's neighborhood rather than
    global centrality (`pagerank_trade_graph`).  Zero-rank nodes
    (unreached at this iteration depth) are filtered.

    Scale plan: identical to the uniform variant — one shuffle per
    superstep on dst, edge⋈degree persisted once, the node count for
    the seed's teleport share riding a 1-row broadcast; the final
    top-k is TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank_int(edges, iters=3, seeds=[_PPR_SEED])
    return (
        ranks.filter(F.col("rank") > 0)
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(_TOPK)
    )


# ---------------------------------------------------------------------------
# Degree assortativity (Newman 2002): the Pearson correlation of
# endpoint degrees over the symmetrized edge list — positive r means
# hubs trade with hubs (core-periphery detection for crawl/abuse
# graphs).  Degrees are exact integers, so the corr moments accumulate
# as exact decimals (the `corr_qty_price` discipline) and the final
# statistic is one shared double expression tree.
# ---------------------------------------------------------------------------

_ASSORT_SQL = f"""
WITH {_EDGES_CTE},
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
pairs AS (
  SELECT CAST(ds.d AS DECIMAL(19, 6)) AS dx, CAST(dd.d AS DECIMAL(19, 6)) AS dy
  FROM edges e JOIN deg ds ON e.src = ds.node JOIN deg dd ON e.dst = dd.node
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {dec_double_sql("SUM(dx)")} AS sx,
         {dec_double_sql("SUM(dy)")} AS sy,
         {dec_double_sql("SUM(dx * dx)")} AS sxx,
         {dec_double_sql("SUM(dx * dy)")} AS sxy,
         {dec_double_sql("SUM(dy * dy)")} AS syy
  FROM pairs
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT nn.n_nodes,
       CAST(m.n / 2 AS BIGINT) AS n_edges,
       round((m.n * m.sxy - m.sx * m.sy)
             / (sqrt(m.n * m.sxx - m.sx * m.sx)
                * sqrt(m.n * m.syy - m.sy * m.sy)), 6) AS assortativity
FROM m CROSS JOIN nn
"""


@register("degree_assortativity_trade_graph", _ASSORT_SQL)
def q_degree_assortativity_trade_graph(spark, sf_dir):
    """Degree assortativity of the trade graph (Newman 2002): Pearson
    correlation of (deg(u), deg(v)) over the symmetrized edge list —
    the standard undirected form, since each edge contributes both
    orientations.  Degrees are exact counts; the correlation uses the
    exact-decimal moment template of `corr_qty_price`, so the value is
    bit-stable under any partitioning.

    Scale plan: degree = one map-side combined group-by on the node;
    attaching endpoint degrees = two hash equi-joins of the edge list
    against the node-sized degree relation (shuffle on node id — the
    same key the edge list already groups by); the correlation is ONE
    map-side combined moment aggregate.  Nothing quadratic, no
    windows."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    dec = "decimal(19, 6)"
    pairs = (
        edges.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("d", "d_src")
        .join(deg.withColumnRenamed("node", "dst"), "dst")
        .select(
            F.col("d_src").cast(dec).alias("dx"), F.col("d").cast(dec).alias("dy")
        )
    )
    m = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("dx").cast("double").alias("sx"),
        F.sum("dy").cast("double").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("double").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("double").alias("sxy"),
        F.sum(F.col("dy") * F.col("dy")).cast("double").alias("syy"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return m.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
    )
