"""Market-basket association rules over order baskets — exact
support / confidence / lift for item pairs, the SQL-exact complement
of the MLlib FP-Growth twin (``mllib_fpgrowth_itemsets``).

Reproducibility: supports are integer counts; confidence and lift are
each ONE division of exact integers (lift's numerator/denominator are
multiplied out in int64 first), so every value is bit-identical across
engines.

No reference parity; part of the engine's analytics extension family.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.numeric import dec_double_sql
from ..sources.tables import load_table
from . import register

_MIN_SUP = 3  # minimum basket count for a pair to be reported

_ASSOC_SQL = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM items),
sup AS (
  SELECT l_partkey, COUNT(*) AS sup_item FROM items
  GROUP BY l_partkey HAVING COUNT(*) >= {_MIN_SUP}
),
freq AS (
  SELECT i.l_orderkey, i.l_partkey
  FROM items i JOIN sup s ON i.l_partkey = s.l_partkey
),
pairs AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
         CAST(COUNT(*) AS BIGINT) AS sup_pair
  FROM freq a JOIN freq b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_MIN_SUP}
)
SELECT p.item_a, p.item_b, p.sup_pair,
       CAST(sa.sup_item AS BIGINT) AS sup_a,
       CAST(sb.sup_item AS BIGINT) AS sup_b,
       CAST(p.sup_pair AS DOUBLE) / sa.sup_item AS conf_a_b,
       CAST(p.sup_pair AS DOUBLE) / sb.sup_item AS conf_b_a,
       CAST(p.sup_pair * n.n_baskets AS DOUBLE) / (sa.sup_item * sb.sup_item) AS lift
FROM pairs p
JOIN sup sa ON p.item_a = sa.l_partkey
JOIN sup sb ON p.item_b = sb.l_partkey
CROSS JOIN n
"""


@register("assoc_rules_lift", _ASSOC_SQL)
def q_assoc_rules_lift(spark, sf_dir):
    """Item-pair association rules (support ≥ {_MIN_SUP}) with exact
    confidence in both directions and lift.

    Scale plan (the apriori monotonicity argument): items below the
    support floor are pruned BEFORE pair generation — a pair can only
    reach support s if both members do — so the within-basket self-join
    runs on the frequent-item projection only.  The self-join shuffles
    on the basket key once; pair counting is a map-side-combined
    aggregate on the (item_a, item_b) key; the final conf/lift joins
    attach the item-dim-sized support relation (broadcast) and the
    1-row basket count (broadcast cross-join, never a collect).
    Basket-size skew is the known hazard at 100 TB — the floor prunes
    exactly the long tail that fattens the quadratic term.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    sup = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("sup_item"))
        .filter(F.col("sup_item") >= _MIN_SUP)
    )
    freq = items.join(F.broadcast(sup.select("l_partkey")), "l_partkey").select(
        "l_orderkey", "l_partkey"
    )
    a = freq.select(F.col("l_orderkey"), F.col("l_partkey").alias("item_a"))
    b = freq.select(F.col("l_orderkey"), F.col("l_partkey").alias("item_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("sup_pair"))
        .filter(F.col("sup_pair") >= _MIN_SUP)
    )
    sa = sup.select(F.col("l_partkey").alias("item_a"), F.col("sup_item").alias("sup_a"))
    sb = sup.select(F.col("l_partkey").alias("item_b"), F.col("sup_item").alias("sup_b"))
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "sup_pair",
            F.col("sup_a").cast("long").alias("sup_a"),
            F.col("sup_b").cast("long").alias("sup_b"),
            (F.col("sup_pair").cast("double") / F.col("sup_a")).alias("conf_a_b"),
            (F.col("sup_pair").cast("double") / F.col("sup_b")).alias("conf_b_a"),
            (
                (F.col("sup_pair") * F.col("n_baskets")).cast("double")
                / (F.col("sup_a") * F.col("sup_b"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering — the SERVING side of the basket
# family: cosine similarity over co-occurrence vectors (the classic
# Sarwar et al., WWW 2001 item-kNN), then top-k recommendations per
# user by summed neighbour similarity, already-owned items excluded.
# `assoc_rules_lift` explains the pairs; this ranks them for a user.
# ---------------------------------------------------------------------------

_CF_MINCO = 2  # minimum co-basket count for an item pair to get a similarity
_CF_USERS = 50  # deterministic serving sample: custkey < 50
_CF_K = 3  # recommendations per user

_ITEMCF_SQL = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sup AS (SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY 1),
co AS (
  SELECT a.l_partkey AS ia, b.l_partkey AS ib, CAST(COUNT(*) AS BIGINT) AS n_co
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_CF_MINCO}
),
sim0 AS (
  SELECT ia, ib,
         round(CAST(n_co AS DOUBLE)
               / sqrt(CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE)), 9) AS sim
  FROM co JOIN sup sa ON co.ia = sa.item JOIN sup sb ON co.ib = sb.item
),
sims AS (
  SELECT ia, ib, sim FROM sim0
  UNION ALL
  SELECT ib AS ia, ia AS ib, sim FROM sim0
),
prof AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_custkey < {_CF_USERS}
),
scored AS (
  SELECT p.u, s.ib AS item,
         {dec_double_sql("SUM(CAST(s.sim AS DECIMAL(38, 9)))")} AS score,
         CAST(COUNT(*) AS BIGINT) AS n_contrib
  FROM prof p JOIN sims s ON s.ia = p.item
  WHERE NOT EXISTS (SELECT 1 FROM prof q WHERE q.u = p.u AND q.item = s.ib)
  GROUP BY 1, 2
)
SELECT u AS custkey, CAST(rk AS BIGINT) AS rec_rank, item, score, n_contrib FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY u ORDER BY score DESC, item ASC) AS rk
  FROM scored
) WHERE rk <= {_CF_K}
"""


@register("itemcf_topk_recs", _ITEMCF_SQL)
def q_itemcf_topk_recs(spark, sf_dir):
    """Item-kNN recommendations: cosine similarity between items from
    DISTINCT co-basket counts (support ≥ {_CF_MINCO} prunes the noise
    tail before any similarity math), user score for a candidate item
    = decimal-exact sum of similarities to the user's owned items,
    owned items anti-joined out, top-{_CF_K} per user over a sampled
    user cohort (total order: score desc, item asc).

    Scale plan: the similarity matrix inherits the apriori-pruned
    basket self-join from `assoc_rules_lift` (bounded by basket size,
    never item×item); serving joins the user-profile relation to the
    similarity relation on the OWNED-item key — one shuffle — and the
    per-user top-k is a rank window over the scored candidates.  At
    100 TB the sims relation is the small side (items ≪ interactions)
    and broadcasts; similarities are pre-rounded to the 1e-9 grid and
    summed as DECIMAL so ranking order is engine-portable."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    items = li.select("l_orderkey", "l_partkey").distinct()
    sup = items.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("ia"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("ib"))
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .filter(F.col("n_co") >= _CF_MINCO)
    )
    sa = sup.select(F.col("item").alias("ia"), F.col("c").alias("ca"))
    sb = sup.select(F.col("item").alias("ib"), F.col("c").alias("cb"))
    sim0 = (
        co.join(F.broadcast(sa), "ia")
        .join(F.broadcast(sb), "ib")
        .select(
            "ia",
            "ib",
            F.round(
                F.col("n_co").cast("double")
                / F.sqrt(F.col("ca").cast("double") * F.col("cb").cast("double")),
                9,
            ).alias("sim"),
        )
    )
    sims = sim0.select("ia", "ib", "sim").unionByName(
        sim0.select(F.col("ib").alias("ia"), F.col("ia").alias("ib"), "sim")
    )
    prof = (
        o.filter(F.col("o_custkey") < _CF_USERS)
        .join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("item"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds the score join AND the owned-item anti join
    )
    cand = prof.join(
        sims.withColumnRenamed("ia", "item"), "item"
    ).select("u", F.col("ib").alias("cand_item"), "sim")
    cand = cand.join(
        prof.select("u", F.col("item").alias("cand_item")),
        ["u", "cand_item"],
        "left_anti",
    )
    scored = cand.groupBy("u", "cand_item").agg(
        F.sum(F.col("sim").cast("decimal(38, 9)"))
        .cast("double")
        .alias("score"),
        F.count(F.lit(1)).cast("long").alias("n_contrib"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("u").orderBy(F.desc("score"), F.asc("cand_item"))
    return (
        scored.select(
            "u", "cand_item", "score", "n_contrib", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= _CF_K)
        .select(
            F.col("u").alias("custkey"),
            F.col("rk").cast("long").alias("rec_rank"),
            F.col("cand_item").alias("item"),
            "score",
            "n_contrib",
        )
    )


# ---------------------------------------------------------------------------
# GSP-style gap-allowed sequential patterns: distinct-user support of
# ordered event-type TRIPLES as subsequences (not necessarily
# contiguous — the contiguous counterpart is `event_type_trigrams`).
# The engine checks containment with a greedy single-pass automaton
# per (user, pattern); the oracle states the same predicate as the
# exists-i<j<k triple join.  Greedy-earliest matching is exact for
# subsequence containment, so the two forms agree row-for-row.
# ---------------------------------------------------------------------------

_GSP_TOPK = 20

_GSP_SQL = f"""
WITH e AS (SELECT user_id, ts, event_id, event_type FROM events)
SELECT a.event_type AS t1, b.event_type AS t2, c.event_type AS t3,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS support
FROM e a
JOIN e b ON b.user_id = a.user_id
        AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
JOIN e c ON c.user_id = b.user_id
        AND (c.ts > b.ts OR (c.ts = b.ts AND c.event_id > b.event_id))
GROUP BY 1, 2, 3
ORDER BY support DESC, t1, t2, t3
LIMIT {_GSP_TOPK}
"""


@register("gsp_subsequence_support", _GSP_SQL)
def q_gsp_subsequence_support(spark, sf_dir):
    """Top-{k} gap-allowed sequential patterns (GSP / PrefixSpan
    support counting, Srikant & Agrawal 1996): for every ordered
    event-type triple, the number of DISTINCT users whose
    (ts, event_id)-ordered journey contains it as a subsequence.

    The engine builds each user's sorted type sequence once (ONE
    user-keyed shuffle), broadcasts the |types|³ = 125-row pattern
    relation onto it, and evaluates containment with a greedy 3-state
    automaton via `F.aggregate` — O(|patterns| · journey length) per
    user, all map-side, versus the oracle's O(L³) triple join (fine at
    sf0.01, stated for auditability).  Support counting is a map-side
    combined group-by on ≤125 keys and the cut is
    TakeOrderedAndProject.

    Scale plan: linear in corpus size with a bounded pattern relation;
    a power user with n events costs 125·n automaton steps, never n³.
    Longer patterns extend the same automaton; candidate pruning
    (classic GSP level-wise) would drop dominated patterns between
    rounds."""
    ev = load_table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ).alias("seq")
    )
    types = ev.select(F.col("event_type").alias("t")).distinct()
    pats = (
        types.select(F.col("t").alias("t1"))
        .crossJoin(types.select(F.col("t").alias("t2")))
        .crossJoin(types.select(F.col("t").alias("t3")))
    )
    state = lambda acc, x: (  # noqa: E731
        F.when((acc == 0) & (x == F.col("t1")), F.lit(1))
        .when((acc == 1) & (x == F.col("t2")), F.lit(2))
        .when((acc == 2) & (x == F.col("t3")), F.lit(3))
        .otherwise(acc)
    )
    hits = seqs.crossJoin(F.broadcast(pats)).filter(
        F.aggregate(F.col("seq"), F.lit(0), state) == 3
    )
    return (
        hits.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .orderBy(F.desc("support"), "t1", "t2", "t3")
        .limit(_GSP_TOPK)
    )


# ---------------------------------------------------------------------------
# MLlib PrefixSpan twin of `gsp_subsequence_support` — with an EXACT
# oracle: because our events are single-item itemsets, PrefixSpan's
# frequent sequential patterns up to length 3 are precisely the
# subsequence supports the length-1/2/3 join CTEs below count, with
# minCount = ceil(minSupport * n_sequences) (the same double product
# MLlib computes).  Unlike the FP-Growth twin (rows-only by declared
# contract), this one is fully certifiable.
# ---------------------------------------------------------------------------

_PS_MINSUP = 0.05  # fraction of user sequences

_PS_ORDER = "(b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))"

_PS_SQL = f"""
WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_seq FROM e),
l1 AS (
  SELECT event_type AS pattern, CAST(COUNT(DISTINCT user_id) AS BIGINT)
           AS support
  FROM e GROUP BY 1
),
l2 AS (
  SELECT a.event_type || '>' || b.event_type AS pattern,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS support
  FROM e a JOIN e b ON b.user_id = a.user_id AND {_PS_ORDER}
  GROUP BY 1
),
l3 AS (
  SELECT a.event_type || '>' || b.event_type || '>' || c.event_type AS pattern,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS support
  FROM e a
  JOIN e b ON b.user_id = a.user_id AND {_PS_ORDER}
  JOIN e c ON c.user_id = b.user_id
          AND (c.ts > b.ts OR (c.ts = b.ts AND c.event_id > b.event_id))
  GROUP BY 1
),
allp AS (
  SELECT pattern, 1 AS length, support FROM l1
  UNION ALL SELECT pattern, 2, support FROM l2
  UNION ALL SELECT pattern, 3, support FROM l3
)
SELECT pattern, CAST(length AS INTEGER) AS length, support
FROM allp CROSS JOIN nu
WHERE support >= ceil(CAST({_PS_MINSUP} AS DOUBLE) * n_seq)
ORDER BY support DESC, pattern
"""


@register("mllib_prefixspan_patterns", _PS_SQL)
def q_mllib_prefixspan_patterns(spark, sf_dir):
    """Frequent sequential patterns via MLlib PrefixSpan (Pei et al.
    2001) over user event journeys (single-item itemsets, minSupport =
    {sup}, maxPatternLength 3) — the distributed projected-database
    miner, certified against an exact oracle: with singleton itemsets,
    its output IS the length-≤3 subsequence-support table, threshold
    ceil(minSupport · n_sequences) exactly as MLlib computes it.

    Scale plan: PrefixSpan partitions by pattern prefix and recursively
    projects suffix databases — each worker holds one projection, never
    the global sequence set; the journey build is the same ONE
    user-keyed shuffle as `gsp_subsequence_support`.  The oracle's
    O(L³) joins are the certification gate, not the scale path."""
    from pyspark.ml.fpm import PrefixSpan

    ev = load_table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: F.array(s["event_type"]),
        ).alias("sequence")
    )
    ps = PrefixSpan(
        minSupport=_PS_MINSUP, maxPatternLength=3, sequenceCol="sequence"
    )
    out = ps.findFrequentSequentialPatterns(seqs)
    return out.select(
        F.array_join(F.flatten("sequence"), ">").alias("pattern"),
        F.size(F.flatten("sequence")).cast("int").alias("length"),
        F.col("freq").cast("long").alias("support"),
    ).orderBy(F.desc("support"), "pattern")
