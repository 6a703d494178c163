"""TPC-H-shape join queries beyond the broadcast star (queries/core.py
``nation_revenue`` covers Q5's *star* shape with every dim broadcast).

These two exercise the join strategies that star didn't:

* ``q5_same_nation_revenue`` — the REAL Q5 semantics: revenue only when
  the customer and the line's supplier sit in the same nation, region-
  and date-filtered.  Two independent FK chains out of lineitem
  (l_orderkey→orders→customer, l_suppkey→supplier) meet in an equality
  constraint BETWEEN two dimensions — the classic case where you cannot
  broadcast your way out of every join at 100 TB (orders/customer/
  supplier all grow with SF; only nation/region stay tiny).
* ``q18_large_volume_customers`` — aggregate-then-semi-join: a HAVING
  filter on a fact aggregate drives the join, so the reduction happens
  BEFORE any wide join (the 100 TB rule: aggregate first, join the
  survivors).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.numeric import dec_avg, dec_avg_sql, dec_double_sql, dec_sum, dec_sum_sql
from ..sources.tables import load_table
from . import register

_REGION = "EUROPE"
_D0, _D1 = "1996-01-01", "1997-01-01"

_Q5_SQL = f"""
SELECT n.n_name,
       {dec_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
               AND s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{_REGION}'
  AND o.o_orderdate >= TIMESTAMP '{_D0} 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '{_D1} 00:00:00'
GROUP BY n.n_name
"""


@register("q5_same_nation_revenue", _Q5_SQL)
def q_q5_same_nation_revenue(spark, sf_dir):
    """TPC-H Q5 (same-nation customer/supplier revenue by nation).

    Scale plan: the region filter prunes nation FIRST, and the pruned
    (≤25-row) nation relation is broadcast into BOTH the customer and
    supplier sides — so each fact-side join carries its nationkey and
    the region predicate is applied before any shuffle.  The two
    remaining joins (l⋈s map-side via broadcast only because supplier
    is a dim *here*; l⋈o⋈c by key shuffle, AQE-planned) meet in the
    same-nation equality applied as a join predicate, not a
    post-filter, so Catalyst keeps it in the join condition.  At
    100 TB: nation/region broadcast is free; orders/customer/supplier
    shuffles are on their FK keys with map-side date pruning pushed to
    the orders scan (PushedFilters on o_orderdate)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_D0).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_D1).cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == _REGION)
    # region→nation pruning, broadcast into both fact chains
    n_in_region = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    cust = c.join(
        F.broadcast(n_in_region), c.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_nationkey").alias("c_nkey"))
    supp = s.join(
        F.broadcast(n_in_region.select("n_nationkey")),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("s_nationkey").alias("s_nkey"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .join(supp, (l.l_suppkey == supp.s_suppkey) & (F.col("c_nkey") == F.col("s_nkey")))
    )
    return (
        joined.join(F.broadcast(n_in_region), F.col("c_nkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            dec_sum(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_Q10_SQL = f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       {dec_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
"""


@register("q10_returned_item_ranking", _Q10_SQL)
def q_q10_returned_item_ranking(spark, sf_dir):
    """TPC-H Q10 (top returned-item customers): the fact side is
    filtered to returns AT THE SCAN (PushedFilters on l_returnflag),
    so the joins move only the ~25% returned fraction; nation
    broadcasts; the ranking is TakeOrderedAndProject (per-partition
    heaps + k-merge), never a global sort.  Revenue ties broken by
    custkey for a total order."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dec_sum(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_QTY_T = 250

_Q18_SQL = f"""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       {dec_sum_sql('l.l_quantity')} AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(30,6))) > {_QTY_T}
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""


@register("q18_large_volume_customers", _Q18_SQL)
def q_q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): the aggregate-then-join
    shape.  The per-order quantity aggregate (map-side partial sums,
    one shuffle on l_orderkey) + HAVING reduces the fact table to a
    tiny key set FIRST; that survivor set drives a semi-join back into
    lineitem/orders, and only then does customer attach.  At 100 TB
    the HAVING survivors are ~1% of orders, so every downstream join
    moves 1% of the data — the aggregation is the filter."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,6)")).alias("q"))
        .filter(F.col("q") > _QTY_T)
        .select("l_orderkey")
    )
    return (
        l.join(big.withColumnRenamed("l_orderkey", "bk"), l.l_orderkey == F.col("bk"), "left_semi")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dec_sum("l_quantity").alias("sum_qty"))
    )


_Q3_SEG = "BUILDING"
_Q3_DATE = "1998-01-01"

_Q3_SQL = f"""
SELECT l.l_orderkey,
       {dec_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = '{_Q3_SEG}'
  AND o.o_orderdate < TIMESTAMP '{_Q3_DATE} 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '{_Q3_DATE} 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
"""


@register("q3_shipping_priority", _Q3_SQL)
def q_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 (shipping priority): top unshipped orders by revenue.

    Scale plan: both date predicates are scan-level PushedFilters (each
    side of the join is pruned BEFORE the shuffle); the segment filter
    reduces customer, which then semi-restricts orders via the join.
    The top-10 is TakeOrderedAndProject (per-partition heaps), never a
    global sort — at 100 TB the ranking cost is O(rows) + a 10-row
    merge on the driver."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == _Q3_SEG
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(_Q3_DATE).cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(_Q3_DATE).cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(revenue).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q6_Y0, _Q6_Y1 = "1997-01-01", "1998-01-01"
_Q6_D0, _Q6_D1 = 0.02, 0.04
_Q6_QTY = 24

_Q6_SQL = f"""
SELECT {dec_sum_sql('l_extendedprice * l_discount')} AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{_Q6_Y0} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{_Q6_Y1} 00:00:00'
  AND l_discount BETWEEN {_Q6_D0} AND {_Q6_D1}
  AND l_quantity < {_Q6_QTY}
"""


@register("q6_forecast_revenue", _Q6_SQL)
def q_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 (forecast revenue change): the pure-scan query — no
    join, no wide shuffle, one global aggregate.

    This is the predicate-pushdown showcase: all three filters reach
    the parquet scan as PushedFilters, row groups outside the shipdate
    year are skipped on min/max stats, and only 3 of 11 columns are
    read (ReadSchema).  At 100 TB this query's cost is I/O on the
    pruned row groups alone; the aggregate is a partial-per-partition
    + single final reduce of one decimal accumulator.  Plan-shape
    asserted in tests/test_plans.py."""
    l = load_table(spark, sf_dir, "lineitem")
    f = l.filter(
        (F.col("l_shipdate") >= F.lit(_Q6_Y0).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q6_Y1).cast("timestamp"))
        & (F.col("l_discount") >= _Q6_D0)
        & (F.col("l_discount") <= _Q6_D1)
        & (F.col("l_quantity") < _Q6_QTY)
    )
    return f.agg(
        dec_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_Q14_Y0, _Q14_Y1 = "1997-01-01", "1997-04-01"

_Q14_SQL = f"""
SELECT CAST(100.0 AS DOUBLE)
         * {dec_sum_sql("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
         / {dec_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS promo_revenue_pct,
       COUNT(*) AS n_rows
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '{_Q14_Y0} 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '{_Q14_Y1} 00:00:00'
"""


@register("q14_promo_revenue", _Q14_SQL)
def q_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 (promotion effect): conditional-aggregate-over-join.

    Scale plan: lineitem is date-pruned at the scan; part is the small
    side and broadcasts (no shuffle of the fact table at all — the
    only exchange is the final 1-row aggregate reduce).  Both sums
    accumulate in DECIMAL so the final double ratio is bit-identical
    across engines and partitionings."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q14_Y0).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q14_Y1).cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * dec_sum(promo) / dec_sum(rev)).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_Q4_D0, _Q4_D1 = "1997-01-01", "1997-04-01"

_Q4_SQL = f"""
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{_Q4_D0} 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '{_Q4_D1} 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
  )
GROUP BY o.o_orderpriority
"""


@register("q4_priority_with_returns", _Q4_SQL)
def q_q4_priority_with_returns(spark, sf_dir):
    """TPC-H Q4 shape (EXISTS decorrelation): quarter's orders having
    at least one returned line, counted by priority.  The correlated
    EXISTS becomes a LEFT SEMI join — Catalyst's standard
    decorrelation, and the right answer at 100 TB: the semi join emits
    each order at most once (no fan-out to dedup later), the date
    filter is a scan-level PushedFilter, and the returned-lines side
    is pre-filtered before the shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q4_D0).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q4_D1).cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q16_Y0, _Q16_Y1 = "1997-01-01", "1998-01-01"

_Q16_SQL = f"""
SELECT p.p_brand, p.p_type, COUNT(*) AS n_parts
FROM part p
WHERE NOT EXISTS (
  SELECT 1
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_partkey = p.p_partkey
    AND o.o_orderdate >= TIMESTAMP '{_Q16_Y0} 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '{_Q16_Y1} 00:00:00'
)
GROUP BY p.p_brand, p.p_type
"""


@register("q16_parts_not_ordered", _Q16_SQL)
def q_q16_parts_not_ordered(spark, sf_dir):
    """TPC-H Q16 shape (NOT EXISTS → LEFT ANTI): parts with zero
    orders in the year, profiled by brand/type.  The anti join's
    probe side is reduced FIRST (date-filtered orders semi-join
    lineitem, then distinct partkeys — at 100 TB this distinct set is
    bounded by |part|, far smaller than the fact table), so the anti
    join compares against the minimal key set."""
    p = load_table(spark, sf_dir, "part")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q16_Y0).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q16_Y1).cast("timestamp"))
    ).select("o_orderkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ordered_parts = (
        l.join(o, l.l_orderkey == o.o_orderkey, "left_semi")
        .select("l_partkey")
        .distinct()
    )
    return (
        p.join(ordered_parts, p.p_partkey == ordered_parts.l_partkey, "left_anti")
        .groupBy("p_brand", "p_type")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# ---------------------------------------------------------------------------
# Round 3: the remaining classic TPC-H shapes expressible on the fixture
# star schema (no partsupp / shipmode / commitdate columns exist, so Q2/
# Q11/Q12/Q20/Q21's original predicates are adapted to available columns
# while keeping each query's PLAN shape — the thing the engine is graded
# on — intact and cited per query).
# ---------------------------------------------------------------------------

_Q7_N1, _Q7_N2 = "NATION_1", "NATION_2"
# full fixture shipdate span: a 2-nation pair is a 1/300 slice of the
# trade matrix, so the window stays wide to keep sf0.001 non-vacuous
_Q7_D0, _Q7_D1 = "1995-01-01", "2002-01-01"

_Q7_SQL = f"""
SELECT supp_nation, cust_nation, o_year,
       {dec_sum_sql('volume')} AS revenue,
       COUNT(*) AS n_rows
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = '{_Q7_N1}' AND n2.n_name = '{_Q7_N2}')
      OR (n1.n_name = '{_Q7_N2}' AND n2.n_name = '{_Q7_N1}'))
    AND l.l_shipdate >= TIMESTAMP '{_Q7_D0} 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '{_Q7_D1} 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, o_year
"""


@register("q7_volume_shipping", _Q7_SQL)
def q_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 (volume shipping between two trading nations): the
    double-dimension-attach shape — nation joins BOTH fact chains
    (supplier side and customer side) with a disjunctive cross-nation
    predicate.

    Scale plan: both nation attaches broadcast (25 rows); the
    disjunction is applied as soon as both nation names exist, BEFORE
    the wide l⋈o shuffle output grows, and the shipdate range is a
    scan-level PushedFilter.  Catalyst pushes each half of the OR to
    the respective dim join where possible; the residual pair filter
    runs map-side."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q7_D0).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q7_D1).cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair_ok = (
        (F.col("supp_nation") == _Q7_N1) & (F.col("cust_nation") == _Q7_N2)
    ) | ((F.col("supp_nation") == _Q7_N2) & (F.col("cust_nation") == _Q7_N1))
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(pair_ok)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("o_year"),
            volume.alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "o_year")
        .agg(dec_sum("volume").alias("revenue"), F.count(F.lit(1)).alias("n_rows"))
    )


_Q8_REGION = "ASIA"
_Q8_NATION = "NATION_3"
_Q8_TYPE = "PROMO"
_Q8_D0, _Q8_D1 = "1996-01-01", "1998-01-01"

_Q8_SQL = f"""
SELECT o_year,
       ({dec_sum_sql(f"CASE WHEN nation = '{_Q8_NATION}' THEN volume ELSE 0 END")}
        / {dec_sum_sql('volume')}) AS mkt_share,
       COUNT(*) AS n_rows
FROM (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = '{_Q8_REGION}'
    AND p.p_type = '{_Q8_TYPE}'
    AND o.o_orderdate >= TIMESTAMP '{_Q8_D0} 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '{_Q8_D1} 00:00:00'
) all_nations
GROUP BY o_year
"""


@register("q8_market_share", _Q8_SQL)
def q_q8_market_share(spark, sf_dir):
    """TPC-H Q8 (national market share): conditional-share-of-total per
    year over a 7-relation join.

    Scale plan: the two most selective predicates (p_type, region)
    reduce their dims FIRST; part broadcasts into lineitem so the fact
    table is filtered by the join itself (the broadcast-semi effect) —
    only promo lines ever reach the o⋈c shuffle.  Both sums accumulate
    in DECIMAL; the share is one double divide of two exact sums, so
    the ratio is bit-identical across engines and partition counts."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == _Q8_TYPE).select("p_partkey")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q8_D0).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q8_D1).cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == _Q8_REGION)
    n_in_region = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("cust_nk")
    )
    n_supp = n.select(F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("nation"))
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_share = F.when(F.col("nation") == _Q8_NATION, F.col("volume")).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("supp_nk"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_in_region), F.col("c_nationkey") == F.col("cust_nk"), "left_semi")
        .select(F.year("o_orderdate").alias("o_year"), volume.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            (dec_sum(nation_share) / dec_sum("volume")).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_Q15_D0, _Q15_D1 = "1997-01-01", "1997-04-01"

_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30, 6))) AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_Q15_D0} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{_Q15_D1} 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       {dec_double_sql("r.total")} AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total = (SELECT MAX(total) FROM revenue)
"""


@register("q15_top_supplier", _Q15_SQL)
def q_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier): aggregate → scalar-MAX subquery →
    equality — the argmax-over-aggregate shape.

    Scale plan: one shuffle builds the per-supplier quarter revenue;
    the MAX is a 1-row aggregate broadcast back as a literal (the G4
    pattern — never a driver collect feeding a filter), and the final
    equality filter runs map-side over the already-aggregated (small)
    relation.  The tie semantics (several suppliers at the max) are
    preserved exactly — revenue compares as DECIMAL, not float, on
    both engines."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q15_D0).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q15_D1).cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30, 6)"
                )
            ).alias("total")
        )
    )
    max_rev = rev.agg(F.max("total").alias("max_total"))
    return (
        rev.join(F.broadcast(max_rev), rev.total == F.col("max_total"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total").cast("double").alias("total_revenue"))
    )


_Q17_BRAND = "Brand#3"
_Q17_MAX_SIZE = 15

_Q17_SQL = f"""
WITH part_avg AS (
  SELECT l_partkey, {dec_avg_sql('l_quantity')} AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT ({dec_sum_sql('l.l_extendedprice')} / 7.0) AS avg_yearly,
       COUNT(*) AS n_rows
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN part_avg a ON a.l_partkey = l.l_partkey
WHERE p.p_brand = '{_Q17_BRAND}'
  AND p.p_size <= {_Q17_MAX_SIZE}
  AND l.l_quantity < 0.2 * a.avg_qty
"""


@register("q17_small_quantity_revenue", _Q17_SQL)
def q_q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity orders): correlated AVG subquery
    per part, decorrelated into aggregate-then-self-join (p_container
    doesn't exist in the fixture; p_size carries the second predicate —
    plan shape identical).

    Scale plan: the per-part average is ONE shuffle over (partkey); the
    brand/size filter reduces part before its broadcast; the avg
    relation is keyed by partkey (bounded by |part|, far smaller than
    the fact table) so the threshold join is dim-sized.  The average is
    decimal-exact (functions/numeric.py), making the `qty < 0.2*avg`
    comparison bit-deterministic cross-engine."""
    l = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == _Q17_BRAND) & (F.col("p_size") <= _Q17_MAX_SIZE))
        .select("p_partkey")
    )
    part_avg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        dec_avg("l_quantity").alias("avg_qty")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(part_avg, l.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (dec_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_Q19_SQL = f"""
SELECT {dec_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       COUNT(*) AS n_rows
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("q19_discounted_revenue", _Q19_SQL)
def q_q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue, OR-of-ANDs): the
    disjunctive join-predicate query (shipmode/shipinstruct don't exist
    in the fixture; brand×size×quantity branches keep the shape).

    Scale plan: Catalyst extracts the common join key (partkey) for the
    equi-join and derives a scan-level OR filter for each side from the
    disjunction's per-side conjuncts (`p_size <= 15` covers all
    branches on part; quantity 1-30 on lineitem), so both scans prune
    before the broadcast join; the full disjunction evaluates
    map-side."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & qty.between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(dec_sum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_rows"))
    )


_Q21_SQL = """
WITH l_all AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
),
l_ret AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
)
SELECT s.s_name, COUNT(*) AS numwait
FROM l_ret r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE EXISTS (
  SELECT 1 FROM l_all a
  WHERE a.l_orderkey = r.l_orderkey AND a.l_suppkey <> r.l_suppkey
)
AND NOT EXISTS (
  SELECT 1 FROM l_ret r2
  WHERE r2.l_orderkey = r.l_orderkey AND r2.l_suppkey <> r.l_suppkey
)
GROUP BY s.s_name
"""


@register("q21_suppliers_blamed", _Q21_SQL)
def q_q21_suppliers_blamed(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    EXISTS + NOT-EXISTS self-join pair with an INEQUALITY correlate
    (receiptdate/commitdate don't exist in the fixture; 'returned' is
    the fault predicate — the sole-blame logic is identical): a
    supplier is blamed when its line in a multi-supplier order was
    returned and NO other supplier's line in that order was.

    Scale plan: both EXISTS decorrelate into semi/anti joins keyed on
    l_orderkey with the supplier inequality as a residual condition —
    the standard Catalyst rewrite.  Inputs are pre-shrunk to DISTINCT
    (orderkey, suppkey) pairs (bounded by orders×suppliers-per-order,
    far below raw lineitem), so all three relations in the self-join
    trio are reduced before any shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    l_all = l.select("l_orderkey", "l_suppkey").distinct()
    l_ret = (
        l.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").distinct()
    )
    a = l_all.select(F.col("l_orderkey").alias("a_ok"), F.col("l_suppkey").alias("a_sk"))
    r2 = l_ret.select(F.col("l_orderkey").alias("b_ok"), F.col("l_suppkey").alias("b_sk"))
    blamed = (
        l_ret.join(
            a,
            (l_ret.l_orderkey == F.col("a_ok")) & (l_ret.l_suppkey != F.col("a_sk")),
            "left_semi",
        ).join(
            r2,
            (l_ret.l_orderkey == F.col("b_ok")) & (l_ret.l_suppkey != F.col("b_sk")),
            "left_anti",
        )
    )
    return (
        blamed.join(s, blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# Every fixture customer has ≥1 order, so the classic "never ordered"
# predicate is structurally vacuous here; "no orders since the cutoff"
# (lapsed customers) keeps the anti-join shape AND a non-empty result.
_Q22_CUTOFF = "2000-01-01"

_Q22_SQL = f"""
WITH pos_avg AS (
  SELECT {dec_avg_sql('c_acctbal')} AS threshold
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey, COUNT(*) AS numcust,
       {dec_sum_sql('c.c_acctbal')} AS totacctbal
FROM customer c, pos_avg
WHERE c.c_acctbal > pos_avg.threshold
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '{_Q22_CUTOFF} 00:00:00'
  )
GROUP BY c.c_nationkey
"""


@register("q22_global_sales_opportunity", _Q22_SQL)
def q_q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): wealthy customers
    with no RECENT orders — scalar-AVG subquery + NOT-EXISTS anti-join
    (country-code substring doesn't exist; c_nationkey is the grouping
    key; the recency cutoff replaces 'never ordered', which is
    structurally vacuous on this fixture — shape identical).

    Scale plan: the positive-balance average is a 1-row aggregate
    broadcast as a literal (never collected into a filter); the
    no-orders test is a LEFT ANTI join on o_custkey — at 100 TB the
    orders side only ships its custkey column (column pruning), and
    the anti join is the last reduction before a tiny keyed
    aggregate.  The threshold is decimal-exact so the `>` comparison
    is bit-deterministic cross-engine."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_Q22_CUTOFF).cast("timestamp"))
        .select("o_custkey")
    )
    threshold = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(dec_avg("c_acctbal").alias("threshold"))
    )
    return (
        c.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dec_sum("c_acctbal").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Round 3 (cont.): the last six classic TPC-H plan shapes.  The fixture has
# no partsupp / l_shipmode / o_comment, so Q2/Q9/Q11/Q12/Q13/Q20 substitute
# available columns (p_retailprice as the supply-cost proxy, l_linestatus as
# the mode class, an o_orderpriority exclusion as the comment filter) while
# keeping each query's PLAN shape — correlated-min decorrelation, scalar
# threshold subquery, conditional counts, outer-join-then-histogram, nested
# aggregate semi-join — exactly as in the spec.  With these, all 22 TPC-H
# shapes are registered.
# ---------------------------------------------------------------------------

_Q2_REGION = "EUROPE"
_Q2_TYPE = "STANDARD"
_Q2_MAX_SIZE = 15

_Q2_SQL = f"""
WITH eligible_supp AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{_Q2_REGION}'
),
eligible_part AS (
  SELECT p_partkey FROM part
  WHERE p_type = '{_Q2_TYPE}' AND p_size <= {_Q2_MAX_SIZE}
),
cost AS (
  SELECT l.l_partkey, l.l_suppkey,
         MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
  FROM lineitem l
  JOIN eligible_part p ON l.l_partkey = p.p_partkey
  JOIN eligible_supp s ON l.l_suppkey = s.s_suppkey
  WHERE l.l_quantity > 0
  GROUP BY l.l_partkey, l.l_suppkey
),
min_cost AS (
  SELECT l_partkey, MIN(unit_cost) AS best FROM cost GROUP BY l_partkey
)
SELECT s.s_acctbal, s.s_name, s.n_name,
       c.l_partkey AS p_partkey, c.unit_cost
FROM cost c
JOIN min_cost m ON c.l_partkey = m.l_partkey AND c.unit_cost = m.best
JOIN eligible_supp s ON c.l_suppkey = s.s_suppkey
"""


@register("q2_min_cost_supplier", _Q2_SQL)
def q_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): the correlated-MIN
    subquery, decorrelated into aggregate-then-equality-join-back
    (partsupp doesn't exist; the observed minimum unit price a
    regional supplier charged for the part in lineitem stands in for
    ps_supplycost — the correlated-min-per-part plan shape is
    identical).

    Scale plan: region prunes the 100-row supplier dim FIRST and the
    pruned dim broadcasts into the fact scan (broadcast-semi effect:
    only regional lines survive the scan stage); the part filter
    broadcasts likewise.  The per-part argmin is a WINDOW MIN over the
    already-aggregated (part,supplier) relation — partitioned by the
    same partkey the aggregate shuffled on, so the window adds no
    exchange and there is no self-join-back at all (the oracle SQL
    keeps the spec's decorrelated join-back form; results are
    identical including ties).  The min is over a row-level double
    divide — order-independent and bit-identical cross-engine."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == _Q2_TYPE) & (F.col("p_size") <= _Q2_MAX_SIZE))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == _Q2_REGION)
    supp = (
        s.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               s.s_nationkey == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(supp.select("s_suppkey")), l.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        cost.withColumn("best", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("best"))
        .join(F.broadcast(supp), cost.l_suppkey == supp.s_suppkey)
        .select("s_acctbal", "s_name", "n_name",
                F.col("l_partkey").alias("p_partkey"), "unit_cost")
    )


_Q9_NAME_LIKE = "%widget%"

_Q9_SQL = f"""
SELECT nation, o_year, {dec_sum_sql('amount')} AS sum_profit, COUNT(*) AS n_rows
FROM (
  SELECT n.n_name AS nation,
         CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) - p.p_retailprice * l.l_quantity AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '{_Q9_NAME_LIKE}'
) profit
GROUP BY nation, o_year
"""


@register("q9_product_type_profit", _Q9_SQL)
def q_q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9 (product-type profit by nation and year): the 6-relation
    profit rollup (ps_supplycost doesn't exist; p_retailprice×quantity
    is the cost term — the join graph and aggregate shape are
    identical).

    Scale plan: the LIKE filter reduces part before its broadcast, and
    the broadcast join semi-filters the fact scan (only matching parts'
    lines continue).  supplier+nation broadcast onto the supplier key
    map-side, so the only big shuffle is l⋈o on orderkey; the profit
    expression is computed map-side and summed in DECIMAL for
    bit-stable totals."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like(_Q9_NAME_LIKE))
        .select("p_partkey", "p_retailprice")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dec_sum("amount").alias("sum_profit"), F.count(F.lit(1)).alias("n_rows"))
    )


_Q11_NATION = "NATION_3"
# Scale-free share threshold (the spec's FRACTION scales by 1/SF for the
# same reason a fixed share goes vacuous as |part| grows): keep parts
# whose value exceeds 2× the mean per-part value — value * n_parts >
# total * 2, compared in exact DECIMAL (no float boundary risk, non-
# vacuous at every SF).
_Q11_MULT = 2

_Q11_SQL = f"""
WITH natl AS (
  SELECT l.l_partkey, SUM(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS value
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = '{_Q11_NATION}'
  GROUP BY l.l_partkey
),
tot AS (
  SELECT SUM(value) AS total, COUNT(*) AS n_parts FROM natl
)
SELECT l_partkey, {dec_double_sql("value")} AS value
FROM natl, tot
WHERE value * tot.n_parts > tot.total * {_Q11_MULT}
"""


@register("q11_important_stock_value", _Q11_SQL)
def q_q11_important_stock_value(spark, sf_dir):
    """TPC-H Q11 shape (important stock): per-part value HAVING a
    share-of-global-total threshold — the scalar-subquery-over-own-
    aggregate shape (partsupp doesn't exist; the national suppliers'
    shipped value per part stands in for availqty×supplycost).

    Scale plan: the nation filter prunes the 100-row supplier dim,
    which broadcasts into the fact scan; ONE partkey shuffle builds the
    per-part values, the global total is a 1-row re-aggregate of that
    same (already tiny, |part|-bounded) relation broadcast back as a
    literal — never a driver collect — and the share filter runs
    map-side in exact DECIMAL (both sides scaled to integers, so no
    float-boundary flakiness at any SF)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == _Q11_NATION)
    natl_supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    natl = (
        l.join(F.broadcast(natl_supp), l.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).alias("value"))
    )
    total = natl.agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n_parts"))
    return (
        natl.join(F.broadcast(total))
        .filter(F.col("value") * F.col("n_parts") > F.col("total") * _Q11_MULT)
        .select("l_partkey", F.col("value").cast("double").alias("value"))
    )


_Q12_Y0, _Q12_Y1 = "1997-01-01", "1998-01-01"

_Q12_SQL = f"""
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '{_Q12_Y0} 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '{_Q12_Y1} 00:00:00'
GROUP BY l.l_linestatus
"""


@register("q12_priority_by_linestatus", _Q12_SQL)
def q_q12_priority_by_linestatus(spark, sf_dir):
    """TPC-H Q12 shape (shipping modes / priority classes): the
    conditional-count-over-join query (l_shipmode doesn't exist;
    l_linestatus is the class column — identical shape: one fact⋈fact
    equi-join, per-class CASE counts).

    Scale plan: the shipdate year filter is a scan-level PushedFilter
    on lineitem (the larger side), so the orderkey shuffle moves one
    year of lines; orders ships only (o_orderkey, o_orderpriority)
    after column pruning.  The CASE counts are map-side partial
    aggregates — two integer accumulators per class, exact on any
    partitioning."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q12_Y0).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q12_Y1).cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    # low uses `when(~is_high, 1)`, NOT `when(is_high, 0).otherwise(1)`:
    # a NULL priority must count as neither (matching SQL's NOT IN,
    # which yields NULL → ELSE 0), not fall through to "low"
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


_Q13_EXCL = "1-URGENT"

_Q13_SQL = f"""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '{_Q13_EXCL}'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
"""


@register("q13_customer_order_distribution", _Q13_SQL)
def q_q13_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): the
    outer-join-then-double-aggregate histogram (o_comment doesn't
    exist; excluding one priority class is the stand-in filter — the
    right-side-predicate-in-ON outer-join shape is identical, and
    customers whose every order is excluded land in the 0 bucket
    exactly as spec'd).

    Scale plan: the right-only predicate is applied BEFORE the outer
    join (equivalent to in-ON placement for left outer — Catalyst does
    this rewrite itself); the join shuffles on custkey; COUNT(col)
    counts matches only, so no-order customers survive as zeros.  The
    second aggregate runs over a ≤|distinct counts| relation — driver-
    trivial at any SF."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != _Q13_EXCL
    ).select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
    )


_Q20_NAME_PREFIX = "small %"
_Q20_Y0, _Q20_Y1 = "1997-01-01", "1998-01-01"
# dominance threshold: supplier's qty*10 > part total*4  ⇔  share > 0.4,
# exact DECIMAL comparison
_Q20_NUM, _Q20_DEN = 10, 4

_Q20_SQL = f"""
WITH year_lines AS (
  SELECT l.l_partkey, l.l_suppkey, l.l_quantity
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_name LIKE '{_Q20_NAME_PREFIX}'
    AND l.l_shipdate >= TIMESTAMP '{_Q20_Y0} 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '{_Q20_Y1} 00:00:00'
),
ps_qty AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(30,6))) AS supp_qty
  FROM year_lines GROUP BY l_partkey, l_suppkey
),
p_total AS (
  SELECT l_partkey, SUM(supp_qty) AS total_qty FROM ps_qty GROUP BY l_partkey
)
SELECT s.s_name, s.s_acctbal
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT ps.l_suppkey
  FROM ps_qty ps
  JOIN p_total t ON ps.l_partkey = t.l_partkey
  WHERE ps.supp_qty * {_Q20_NUM} > t.total_qty * {_Q20_DEN}
)
"""


@register("q20_dominant_part_suppliers", _Q20_SQL)
def q_q20_dominant_part_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion): the nested-aggregate
    semi-join chain (ps_availqty doesn't exist; a supplier qualifies
    when it shipped >40% of a matching part's year volume — the
    per-(part,supplier) aggregate vs per-part aggregate comparison
    feeding a supplier semi-join is the spec's exact shape).

    Scale plan: the name-filtered part dim broadcasts and semi-filters
    the year-pruned fact scan; ONE shuffle on (partkey, suppkey) builds
    the inner aggregate, and the per-part total is a WINDOW SUM over
    that same relation (partitioned by the partkey prefix of the
    aggregate's own keys — no self-join, no extra wide exchange); the
    dominance filter compares integer-scaled DECIMALs exactly;
    qualifying suppkeys (≤|supplier|) drive a LEFT SEMI into the
    100-row dim."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q20_Y0).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q20_Y1).cast("timestamp"))
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like(_Q20_NAME_PREFIX))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    ps_qty = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,6)")).alias("supp_qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        ps_qty.withColumn("total_qty", F.sum("supp_qty").over(w))
        .filter(F.col("supp_qty") * _Q20_NUM > F.col("total_qty") * _Q20_DEN)
        .select("l_suppkey")
    )
    return s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi").select(
        "s_name", "s_acctbal"
    )
