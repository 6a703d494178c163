"""Extended relational coverage: multi-level aggregation (rollup / cube
/ grouping sets), set operations, and the as-of join.

The reference exercises none of these (SURVEY.md §2.3 note) — Spark
provides them natively and the engine exposes them as first-class,
oracle-checked ops because the north-star workload (keyed streaming
analytics + training-data pipelines) leans on them.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.numeric import dec_double_sql, dec_sum, dec_sum_sql
from ..operators.asof import asof_join
from ..sources.tables import load_table
from . import register


@register(
    "rollup_returnflag_status",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           {dec_sum_sql('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """ROLLUP: hierarchical subtotals (flag, flag+status, grand total)
    in one pass — Spark expands grouping sets before the hash agg, so
    it stays a single shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("l_quantity").alias("sum_qty")
    )


@register(
    "cube_priority_status",
    f"""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
           {dec_sum_sql('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def q_cube(spark, sf_dir):
    """CUBE: all 2^k grouping combinations in one shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("o_totalprice").alias("sum_price")
    )


@register(
    "grouping_sets_events",
    f"""
    SELECT event_type, user_id, COUNT(*) AS n, {dec_sum_sql('value')} AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id))
    """,
)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS via the SQL surface (the engine exposes
    ``spark.sql`` passthrough as a first-class entry point)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        f"""
        SELECT event_type, user_id, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        FROM events_v
        GROUP BY GROUPING SETS ((event_type), (user_id))
        """
    )


@register(
    "union_split_halves",
    f"""
    SELECT o_orderstatus, COUNT(*) AS n, {dec_sum_sql('o_totalprice')} AS sum_price
    FROM (
      SELECT * FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 2 = 1
    )
    GROUP BY o_orderstatus
    """,
)
def q_union_split_halves(spark, sf_dir):
    """unionByName of homogeneous slices — the multi-source scan-union
    shape (the reference's multi-file CSV read, SURVEY.md §2.6)."""
    o = load_table(spark, sf_dir, "orders")
    even = o.filter(F.col("o_orderkey") % 2 == 0)
    odd = o.filter(F.col("o_orderkey") % 2 == 1)
    return (
        even.unionByName(odd)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("o_totalprice").alias("sum_price"))
    )


@register(
    "except_customers_no_urgent_orders",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_except_customers(spark, sf_dir):
    """EXCEPT (set difference): customers with no 1-URGENT order.
    (Round-1 shape — customers with no orders at all — was vacuously
    empty on the fixture; the filtered subtrahend makes the result a
    real, non-empty set while certifying the same operator.)"""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.subtract(o)


@register(
    "intersect_active_users",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def q_intersect_users(spark, sf_dir):
    """INTERSECT: users appearing in both event classes."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id")
    e = ev.filter(F.col("event_type") == "error").select("user_id")
    return p.intersect(e)


@register(
    "asof_last_click_before_purchase",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_event_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id, p.ts, c.ts AS asof_click_ts
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_asof_join(spark, sf_dir):
    """As-of join: each purchase paired with the user's most recent
    click at-or-before it.  Engine: union + partitioned window (one
    shuffle, no range-join explosion — operators/asof.py); oracle:
    DuckDB's native ASOF JOIN.  Right side pre-aggregated to unique
    (user, ts) so both semantics are tie-free."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
        .select("user_id", "ts", F.col("ts").alias("click_ts"))
    )
    out = asof_join(purchases, clicks, ["user_id"], "ts", ["click_ts"])
    return out.select("event_id", "user_id", "ts", F.col("asof_click_ts"))


# Inputs are cast to decimal BEFORE multiplying: a double→decimal cast
# of a *product* is where Spark (shortest-repr rounding) and other
# engines (exact-binary rounding) can disagree by 1 ulp of the scale;
# the raw columns have ≤6 true decimals so their casts are exact, and
# decimal×decimal → decimal is exact arithmetic everywhere.
_CORR_DEC = "DECIMAL(19, 6)"


def _corr_sql() -> str:
    dx = f"CAST(l_quantity AS {_CORR_DEC})"
    dy = f"CAST(l_extendedprice AS {_CORR_DEC})"
    sx = dec_double_sql(f"SUM({dx})")
    sy = dec_double_sql(f"SUM({dy})")
    sxx = dec_double_sql(f"SUM({dx} * {dx})")
    syy = dec_double_sql(f"SUM({dy} * {dy})")
    sxy = dec_double_sql(f"SUM({dx} * {dy})")
    n = "CAST(COUNT(*) AS DOUBLE)"
    return f"""
    SELECT l_returnflag,
           ({n} * {sxy} - {sx} * {sy})
             / (sqrt({n} * {sxx} - {sx} * {sx}) * sqrt({n} * {syy} - {sy} * {sy}))
             AS corr_qty_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """


@register("corr_qty_price", _corr_sql())
def q_corr(spark, sf_dir):
    """Pearson correlation per group (the reference's EDA corr matrix,
    SURVEY.md §2.1 A5) from decimal-exact moment sums — unlike F.corr's
    streaming covariance, this is bit-reproducible under any
    partitioning, which is also why it can be oracle-checked."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(19, 6)"
    x = F.col("l_quantity").cast(dec)
    y = F.col("l_extendedprice").cast(dec)
    sx = F.sum(x).cast("double")
    sy = F.sum(y).cast("double")
    sxx = F.sum(x * x).cast("double")
    syy = F.sum(y * y).cast("double")
    sxy = F.sum(x * y).cast("double")
    n = F.count(F.lit(1)).cast("double")
    corr = (n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
    return li.groupBy("l_returnflag").agg(
        corr.alias("corr_qty_price"), F.count(F.lit(1)).alias("n")
    )


@register(
    "global_top_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q_global_top_orders(spark, sf_dir):
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject —
    per-partition heaps + driver k-merge, never a full global sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q3_top_unshipped_revenue",
    f"""
    SELECT l.l_orderkey, o.o_orderdate,
           {dec_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_top_unshipped(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter (broadcast) → fact join →
    grouped revenue → global top-10.  Both date filters push into the
    parquet scans."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dec_sum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "salted_user_counts",
    "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id",
)
def q_salted_user_counts(spark, sf_dir):
    """Skew-resistant two-phase (salted) grouped count — semantics
    identical to plain groupBy, so the oracle is the plain group-by;
    the plan spreads hot keys over 8 reducers first."""
    from ..operators.relational import salted_count

    ev = load_table(spark, sf_dir, "events")
    return salted_count(ev, "user_id", salt_buckets=8)


@register(
    "left_outer_order_fill",
    f"""
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           {dec_sum_sql('o.o_totalprice')} AS sum_price
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def q_left_outer_order_fill(spark, sf_dir):
    """LEFT OUTER join + agg: every customer appears, order-less ones
    with n_orders = 0 and a NULL sum — the null-preserving join/agg
    semantics contract."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dec_sum("o_totalprice").alias("sum_price"),
        )
    )


@register(
    "full_outer_user_activity",
    """
    SELECT COALESCE(p.user_id, e.user_id) AS user_id,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_purchases,
           CAST(COALESCE(e.n, 0) AS BIGINT) AS n_errors
    FROM (SELECT user_id, COUNT(*) AS n FROM events WHERE event_type = 'purchase' GROUP BY user_id) p
    FULL OUTER JOIN
         (SELECT user_id, COUNT(*) AS n FROM events WHERE event_type = 'error' GROUP BY user_id) e
      ON p.user_id = e.user_id
    """,
)
def q_full_outer_user_activity(spark, sf_dir):
    """FULL OUTER join of two aggregates with COALESCE zero-fill."""
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_p"))
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.col("user_id").alias("e_user_id"))
        .agg(F.count(F.lit(1)).alias("n_e"))
    )
    return p.join(e, p.user_id == e.e_user_id, "full_outer").select(
        F.coalesce("user_id", "e_user_id").alias("user_id"),
        F.coalesce("n_p", F.lit(0)).alias("n_purchases"),
        F.coalesce("n_e", F.lit(0)).alias("n_errors"),
    )


@register(
    "argmax_aggregates",
    """
    SELECT o_orderstatus,
           arg_max(o_orderkey, o_totalprice ORDER BY o_totalprice DESC, o_orderkey ASC) AS top_orderkey,
           MAX(o_totalprice) AS top_price,
           arg_min(o_orderkey, o_totalprice ORDER BY o_totalprice ASC, o_orderkey ASC) AS bottom_orderkey
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_argmax_aggregates(spark, sf_dir):
    """max_by/min_by (argmax/argmin aggregates).  Price ties are broken
    toward the smaller order key on BOTH engines via a struct-ordered
    max, so the result is total-order deterministic."""
    o = load_table(spark, sf_dir, "orders")
    # struct ordering (price, -key) isn't directly expressible for
    # "smallest key on tie", so use (price, negated key) max:
    best = F.max(F.struct(F.col("o_totalprice"), (-F.col("o_orderkey")).alias("nk")))
    worst = F.min(F.struct(F.col("o_totalprice"), F.col("o_orderkey").alias("k")))
    return o.groupBy("o_orderstatus").agg(
        (-best["nk"]).cast("bigint").alias("top_orderkey"),
        best["o_totalprice"].alias("top_price"),
        worst["k"].cast("bigint").alias("bottom_orderkey"),
    )


@register(
    "orders_above_cust_avg",
    f"""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > (
      SELECT {dec_sum_sql('o2.o_totalprice')} / COUNT(o2.o_totalprice)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_orders_above_cust_avg(spark, sf_dir):
    """Correlated-subquery shape (orders above their customer's average
    price).  The engine plans it as the scalable decorrelated form — a
    per-customer aggregate joined back to the fact — which is exactly
    what DuckDB's decorrelator does with the subquery text."""
    from ..functions.numeric import dec_avg

    o = load_table(spark, sf_dir, "orders")
    avg = o.groupBy("o_custkey").agg(dec_avg("o_totalprice").alias("cust_avg"))
    return (
        o.join(avg, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "lineitem_above_global_avg",
    f"""
    SELECT l_returnflag, COUNT(*) AS n_above
    FROM lineitem
    WHERE l_extendedprice > (
      SELECT {dec_sum_sql('l_extendedprice')} / COUNT(l_extendedprice) FROM lineitem)
    GROUP BY l_returnflag
    """,
)
def q_lineitem_above_global_avg(spark, sf_dir):
    """Scalar-subquery shape: one-row global aggregate reused as a
    filter threshold.  Engine form is a broadcast cross join of the
    one-row aggregate — no driver collect, no recompute per row."""
    from ..functions.numeric import dec_avg

    li = load_table(spark, sf_dir, "lineitem")
    g = li.agg(dec_avg("l_extendedprice").alias("gavg"))
    return (
        li.crossJoin(F.broadcast(g))
        .filter(F.col("l_extendedprice") > F.col("gavg"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


@register(
    "rollup_daily_from_hourly",
    f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           event_type,
           COUNT(*) AS n,
           {dec_sum_sql('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_rollup_daily_from_hourly(spark, sf_dir):
    """Multi-resolution rollup chain (the hypertable / continuous-
    aggregate pattern): the DAILY result is aggregated from HOURLY
    partials, not from raw rows — yet the oracle aggregates raw rows
    directly, and the hashes must match bit-for-bit.  That equality is
    the engine's mergeability contract: counts and DECIMAL sums are
    associative, so rollups can be stacked (hour→day→month) and reused
    without drift.  At 100 TB this is what makes dashboards read
    O(buckets) instead of O(rows)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_part"),
        F.sum(F.col("value").cast("decimal(30, 6)")).alias("sum_part"),  # keep exact
    )
    return hourly.groupBy(
        F.date_trunc("day", F.col("hour_start")).alias("day_start"), "event_type"
    ).agg(
        F.sum("n_part").alias("n"),
        F.sum("sum_part").cast("double").alias("sum_value"),
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_matrix_sql() -> str:
    # one-pass moment CTE, then one row per (a, b) pair — the same
    # expression tree the Spark side builds, term for term
    moments = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in _CORR_COLS:
        moments.append(f"{dec_double_sql(f'SUM(CAST({c} AS {_CORR_DEC}))')} AS s_{c}")
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i:]:
            moments.append(
                dec_double_sql(f"SUM(CAST({a} AS {_CORR_DEC}) * CAST({b} AS {_CORR_DEC}))")
                + f" AS p_{a}_{b}"
            )
    rows = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            rows.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"(n * p_{a}_{b} - s_{a} * s_{b}) / "
                f"(sqrt(n * p_{a}_{a} - s_{a} * s_{a}) * sqrt(n * p_{b}_{b} - s_{b} * s_{b})) "
                f"AS corr FROM m"
            )
    return "WITH m AS (SELECT " + ", ".join(moments) + " FROM lineitem) " + " UNION ALL ".join(rows)


@register("feature_corr_matrix", _corr_matrix_sql())
def q_feature_corr_matrix(spark, sf_dir):
    """Full pairwise Pearson matrix (SURVEY.md §2.1 A5 `feature_corr`,
    the engine analog of the reference's pandas `df.corr()` EDA cell):
    ALL moments in ONE aggregation pass over the table — 1 count + 4
    sums + 10 cross-products — then the 6 upper-triangle correlations
    assembled from the single moment row.  Decimal-exact moments ⇒
    bit-reproducible under any partitioning; one scan regardless of
    matrix width (vs. one pass per pair for naive F.corr calls)."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast(_CORR_DEC.lower())  # noqa: E731
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(dec(c)).cast("double").alias(f"s_{c}"))
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i:]:
            aggs.append(F.sum(dec(a) * dec(b)).cast("double").alias(f"p_{a}_{b}"))
    m = li.agg(*aggs)
    n = F.col("n")
    pairs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            corr = (n * F.col(f"p_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")) / (
                F.sqrt(n * F.col(f"p_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
                * F.sqrt(n * F.col(f"p_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
            )
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"), F.lit(b).alias("col_b"), corr.alias("corr")
                )
            )
    return m.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")


_INTERVAL_JOIN_SQL = """
WITH t0 AS (SELECT date_trunc('hour', MIN(ts)) AS t0 FROM events),
wins AS (
  SELECT CAST(k AS INTEGER) AS window_id,
         t0 + to_hours(k * 5) AS w_start,
         t0 + to_hours(k * 5 + 2) AS w_end
  FROM range(0, 24) r(k), t0
)
SELECT w.window_id,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e
JOIN wins w ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY 1
"""


@register("interval_join_window_stats", _INTERVAL_JOIN_SQL)
def q_interval_join_window_stats(spark, sf_dir):
    """Non-equi interval-containment join at scale: 24 derived 2-hour
    windows (5-hour stride from the corpus start) joined to every event
    whose timestamp they contain — via the bucketed equi-join
    decomposition (``operators/rangejoin.py``), never a
    BroadcastNestedLoopJoin.  The oracle states the same join as a plain
    BETWEEN theta-join (DuckDB plans an IEJoin; the point is identical
    RESULTS from a scale-safe PLAN)."""
    from ..operators.rangejoin import interval_join_bucketed

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    t0 = ev.agg(F.date_trunc("hour", F.min("ts")).alias("t0"))
    base = F.unix_timestamp("t0")
    wins = (
        spark.range(24)
        .crossJoin(t0)  # 1-row broadcast, same pattern as replace_inf_with_max
        .select(
            F.col("id").cast("int").alias("window_id"),
            F.timestamp_seconds(base + F.col("id") * 18000).alias("w_start"),
            F.timestamp_seconds(base + F.col("id") * 18000 + 7200).alias("w_end"),
        )
    )
    joined = interval_join_bucketed(ev, wins, "ts", "w_start", "w_end")
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# x is recentered to 2024-01-01 so x² sums stay well inside double's
# exact-integer range; slope math runs in double over decimal-exact
# moment sums (same discipline as corr_qty_price above).
_TREND_EPOCH0 = 1704067200

_TREND_SQL = f"""
WITH pts AS (
  SELECT user_id,
         CAST(CAST(floor(epoch(ts)) AS BIGINT) - {_TREND_EPOCH0} AS DECIMAL(20,0)) AS x,
         CAST(value AS DECIMAL(30,6)) AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
m AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {dec_double_sql("SUM(x)")} AS sx,
         {dec_double_sql("SUM(y)")} AS sy,
         {dec_double_sql("SUM(x * x)")} AS sxx,
         {dec_double_sql("SUM(x * y)")} AS sxy,
         COUNT(*) AS n_events
  FROM pts GROUP BY user_id
)
SELECT user_id, n_events,
       CASE WHEN (n * sxx - sx * sx) > 0
            THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
            ELSE NULL END AS value_trend
FROM m
"""


@register("user_value_trend", _TREND_SQL)
def q_user_value_trend(spark, sf_dir):
    """Per-group least-squares slope of value over time (drift
    detection — the per-entity regression a feature-quality monitor
    runs).  Closed-form from decimal-exact moment sums: one grouped
    aggregation, bit-reproducible under any partitioning; degenerate
    groups (all events at one instant) yield NULL, never ±Inf."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    x = (F.unix_timestamp("ts") - F.lit(_TREND_EPOCH0)).cast("decimal(20,0)")
    y = F.col("value").cast("decimal(30,6)")
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(x).cast("double")
    sy = F.sum(y).cast("double")
    sxx = F.sum(x * x).cast("double")
    sxy = F.sum(x * y).cast("double")
    den = n * sxx - sx * sx
    slope = F.when(den > 0, (n * sxy - sx * sy) / den).otherwise(F.lit(None))
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        slope.alias("value_trend"),
    )


def _outlier_sql() -> str:
    y = "CAST(value AS DECIMAL(30,6))"
    sy = dec_double_sql(f"SUM({y})")
    syy = dec_double_sql(f"SUM({y} * {y})")
    n = "CAST(COUNT(*) AS DOUBLE)"
    return f"""
    WITH m AS (
      SELECT event_type, {n} AS n, {sy} AS sy, {syy} AS syy
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    stats AS (
      SELECT event_type, sy / n AS mean,
             sqrt(greatest(syy / n - (sy / n) * (sy / n), 0.0)) AS std
      FROM m
    )
    SELECT e.event_id, e.event_type, e.value
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE e.value IS NOT NULL
      AND abs(e.value - s.mean) > 3.0 * s.std
    """


@register("value_outliers_3sigma", _outlier_sql())
def q_value_outliers_3sigma(spark, sf_dir):
    """Per-group 3-sigma outlier detection from decimal-exact moment
    sums (mean/std computed in one agg, broadcast back to the scan —
    the same two-pass shape as replace_inf_with_max).  Dirty-value
    quarantine for feature pipelines; bit-reproducible because every
    float op downstream of the exact sums is identical on both
    engines."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    y = F.col("value").cast("decimal(30,6)")
    n = F.count(F.lit(1)).cast("double")
    sy = F.sum(y).cast("double")
    syy = F.sum(y * y).cast("double")
    stats = ev.groupBy("event_type").agg(
        (sy / n).alias("mean"),
        F.sqrt(F.greatest(syy / n - (sy / n) * (sy / n), F.lit(0.0))).alias("std"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(F.col("value") - F.col("mean")) > 3.0 * F.col("std"))
        .select("event_id", "event_type", "value")
    )


_EWMA_SQL = """
WITH ordered AS (
  SELECT user_id,
         list(value ORDER BY ts, event_id) AS vals
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS BIGINT) AS n_events,
       list_reduce(vals, (acc, x) -> acc * 0.5 + x * 0.5) AS ewma_value
FROM ordered
"""


@register("user_value_ewma", _EWMA_SQL)
def q_user_value_ewma(spark, sf_dir):
    """Exponentially-weighted moving average per user (alpha = 0.5,
    seeded with the first value) — the recency-weighted feature a
    behavioral model tracks per entity.  alpha = 1/2 keeps every weight
    a power of two, so the left-to-right fold is EXACT IEEE arithmetic
    and bit-reproducible: Spark's sequential ``F.aggregate`` over the
    (ts, event_id)-sorted value list equals DuckDB's ``list_reduce``
    term for term.  One shuffle (user key); the fold is a map-side
    array expression after the agg."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    grouped = ev.groupBy("user_id").agg(w.alias("w"))
    vals = F.transform(F.col("w"), lambda s: s["value"])
    rest = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))
    ewma = F.aggregate(
        rest,
        F.element_at(vals, 1).cast("double"),
        lambda acc, v: acc * F.lit(0.5) + v * F.lit(0.5),
    )
    return grouped.select(
        "user_id",
        F.size("w").cast("long").alias("n_events"),
        ewma.alias("ewma_value"),
    )


@register(
    "right_outer_customer_orders",
    """
    SELECT c.c_custkey, c.c_mktsegment,
           COUNT(o.o_orderkey) AS n_orders
    FROM orders o RIGHT OUTER JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def q_right_outer_customer_orders(spark, sf_dir):
    """RIGHT OUTER join (completing the join-type matrix beside
    left/full/semi/anti/asof/interval): every customer kept, order
    count 0 for the orderless.  COUNT over the nullable join column —
    the null-safe aggregation right outer exists for."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "right_outer")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


_DQ_SQL = """
SELECT 'quantity_in_range' AS constraint, COUNT(*) AS n_violations,
       COUNT(*) = 0 AS passed
FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
UNION ALL
SELECT 'price_positive', COUNT(*), COUNT(*) = 0
FROM lineitem WHERE l_extendedprice <= 0
UNION ALL
SELECT 'shipdate_not_null', COUNT(*), COUNT(*) = 0
FROM lineitem WHERE l_shipdate IS NULL
UNION ALL
SELECT 'orderkey_not_null', COUNT(*), COUNT(*) = 0
FROM lineitem WHERE l_orderkey IS NULL
UNION ALL
SELECT 'discount_fraction', COUNT(*), COUNT(*) = 0
FROM lineitem WHERE l_discount < 0 OR l_discount > 1
"""


@register("data_quality_report", _DQ_SQL)
def q_data_quality_report(spark, sf_dir):
    """Declarative data-quality expectations evaluated in ONE scan:
    each constraint contributes a conditional count (map-side), so the
    report costs one pass regardless of how many expectations are
    registered — the Great-Expectations shape without a per-constraint
    job.  The violation rows themselves are a filter away when a
    constraint fails."""
    li = load_table(spark, sf_dir, "lineitem")
    checks = [
        ("quantity_in_range", (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
        ("price_positive", F.col("l_extendedprice") <= 0),
        ("shipdate_not_null", F.col("l_shipdate").isNull()),
        ("orderkey_not_null", F.col("l_orderkey").isNull()),
        ("discount_fraction", (F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
    ]
    aggs = [
        F.sum(F.when(cond, 1).otherwise(0)).alias(name) for name, cond in checks
    ]
    wide = li.agg(*aggs)
    stacked = wide.select(
        F.expr(
            "stack({}, {}) as (constraint, n_violations)".format(
                len(checks),
                ", ".join(f"'{n}', `{n}`" for n, _ in checks),
            )
        )
    )
    return stacked.select(
        "constraint",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def _value_stats_sql() -> str:
    y = "CAST(value AS DECIMAL(30,6))"
    sy = dec_double_sql(f"SUM({y})")
    syy = dec_double_sql(f"SUM({y} * {y})")
    n = "CAST(COUNT(*) AS DOUBLE)"
    return f"""
    SELECT event_type,
           COUNT(*) AS n,
           {sy} / {n} AS mean_value,
           sqrt(greatest({syy} / {n} - ({sy} / {n}) * ({sy} / {n}), 0.0)) AS std_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """


@register("value_stats_by_type", _value_stats_sql())
def q_value_stats_by_type(spark, sf_dir):
    """Grouped describe(): count / mean / population-std / min / max per
    event_type in one aggregation — mean and std from decimal-exact
    moment sums (partitioning-independent, unlike streaming variance),
    extremes exact by definition.  The per-group feature-statistics
    pass every training pipeline runs before normalization."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    y = F.col("value").cast("decimal(30,6)")
    n = F.count(F.lit(1)).cast("double")
    sy = F.sum(y).cast("double")
    syy = F.sum(y * y).cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (sy / n).alias("mean_value"),
        F.sqrt(F.greatest(syy / n - (sy / n) * (sy / n), F.lit(0.0))).alias("std_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


_SALTED_SQL = f"""
SELECT o.o_orderpriority,
       {dec_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register("salted_skew_join_revenue", _SALTED_SQL)
def q_salted_skew_join_revenue(spark, sf_dir):
    """Explicitly salted fact-fact join (operators/skew.py): lineitem's
    join key is spread over 8 salts (deterministic content hash — NOT
    rand(), which breaks under task retry), orders is replicated 8
    ways, and the (key, salt) join feeds the priority revenue rollup.
    The oracle runs the PLAIN join — salting must be result-invisible,
    which is the operator's correctness contract.  Use when a hot
    orderkey would otherwise pin one task; AQE's runtime split is the
    default path, this is the explicit escape hatch."""
    from ..operators.skew import salted_join

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        l.withColumnRenamed("l_orderkey", "o_orderkey"),
        o,
        on="o_orderkey",
        n_salt=8,
        salt_src=F.col("l_linenumber") + F.col("l_partkey"),
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        dec_sum(revenue).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_HINTED_SQL = """
SELECT n.n_name, COUNT(*) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@register("hinted_merge_join_counts", _HINTED_SQL)
def q_hinted_merge_join_counts(spark, sf_dir):
    """Join-strategy hint surface: nation would auto-broadcast (25
    rows), but the MERGE hint forces a sort-merge join — the control a
    user needs when a "small" side is small only at test scale, or
    when broadcast memory is the constraint.  The hint changes the
    physical plan ONLY (asserted in tests/test_plans.py); the result
    matches the plain-join oracle bit-for-bit."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").hint("merge")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# LATERAL correlated subquery, null-safe equality, and bag-semantics
# set operations — the remaining join/set-op SEMANTIC surfaces.
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c
JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
) t ON true
WHERE c.c_custkey <= 20
"""


@register("lateral_topk_orders", _LATERAL_SQL)
def q_lateral_topk_orders(spark, sf_dir):
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    SQL spelling of top-k-per-group.  Catalyst DECORRELATES it into the
    window/ranking plan rather than executing the subquery per outer
    row (a per-row re-scan would be quadratic — the thing LATERAL
    naively implies and an engine must never do at 100 TB); the
    equivalent explicit-window query is `top_parts_per_brand`.  Ties
    broken by orderkey for a total order."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("nids_lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("nids_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM nids_lat_customer c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM nids_lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) t
        WHERE c.c_custkey <= 20
        """
    )


_NULLSAFE_SQL = """
WITH a AS (
  SELECT nullif(user_id % 10, 0) AS k, CAST(COUNT(*) AS BIGINT) AS n_a
  FROM events WHERE event_id % 2 = 0 GROUP BY 1
),
b AS (
  SELECT nullif(user_id % 10, 0) AS k, CAST(COUNT(*) AS BIGINT) AS n_b
  FROM events WHERE event_id % 2 = 1 GROUP BY 1
)
SELECT a.k, a.n_a, b.n_b
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""


@register("null_safe_join_counts", _NULLSAFE_SQL)
def q_null_safe_join_counts(spark, sf_dir):
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    NULL bucket (user-id residue 0, nulled via ``nullif``) MATCHES
    across sides instead of silently dropping — the semantics needed
    when NULL is a real category (unknown user, unparsed field), where
    plain ``=`` would make the whole bucket vanish from the join.

    Scale note: ``<=>`` keys hash like any other value (NULL is one
    more key, subject to the same skew controls); Spark plans the same
    hash join as ``=`` — no nested-loop penalty for null-safety."""
    ev = load_table(spark, sf_dir, "events")
    key = F.nullif(F.pmod(F.col("user_id"), F.lit(10)), F.lit(0)).alias("k")
    a = ev.filter(F.col("event_id") % 2 == 0).select(key).groupBy("k").agg(
        F.count(F.lit(1)).alias("n_a")
    )
    b = ev.filter(F.col("event_id") % 2 == 1).select(key).groupBy("k").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    return a.join(b, a.k.eqNullSafe(b.k)).select(a.k.alias("k"), "n_a", "n_b")


_BAGS_SQL = """
WITH a AS (SELECT event_type FROM events WHERE event_id % 2 = 0),
b AS (SELECT event_type FROM events WHERE event_id % 2 = 1),
exc AS (SELECT event_type FROM a EXCEPT ALL SELECT event_type FROM b),
inter AS (SELECT event_type FROM a INTERSECT ALL SELECT event_type FROM b)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM exc) AS n_except_all,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM inter) AS n_intersect_all,
  (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM exc) AS n_except_types
"""


@register("except_intersect_all_bags", _BAGS_SQL)
def q_except_intersect_all_bags(spark, sf_dir):
    """EXCEPT ALL / INTERSECT ALL — BAG semantics (multiplicity
    max(m−n,0) / min(m,n) per value), distinct from the set-semantics
    EXCEPT already certified by `except_customers_no_urgent_orders`:
    with only 5 event types, set-EXCEPT would return ≤5 rows while the
    bags carry thousands of multiplicities — exactly the difference
    this oracle pins.

    Scale plan: Spark lowers both to an aggregate of per-side counts
    per value + a replicate — one shuffle keyed on the value, never a
    join; counts compare as exact BIGINTs."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0).select("event_type")
    b = ev.filter(F.col("event_id") % 2 == 1).select("event_type")
    exc = a.exceptAll(b)
    inter = a.intersectAll(b)
    n_exc = exc.agg(F.count(F.lit(1)).alias("n_except_all"))
    n_int = inter.agg(F.count(F.lit(1)).alias("n_intersect_all"))
    n_types = exc.agg(F.countDistinct("event_type").cast("bigint").alias("n_except_types"))
    return n_exc.crossJoin(F.broadcast(n_int)).crossJoin(F.broadcast(n_types))


# ---------------------------------------------------------------------------
# New-vs-returning customer curve: per order day, orders from customers
# whose FIRST order is that day vs returners — the cohort-acquisition
# monitoring twin of `retention_cohorts`.
# ---------------------------------------------------------------------------

_NEWRET_SQL = """
WITH firsts AS (
  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS first_day
  FROM orders GROUP BY 1
),
daily AS (
  SELECT CAST(o.o_orderdate AS DATE) AS day, o.o_custkey, f.first_day
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
)
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new_cust_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM daily GROUP BY day
"""


@register("new_vs_returning_customers", _NEWRET_SQL)
def q_new_vs_returning_customers(spark, sf_dir):
    """Daily acquisition curve: orders placed on a customer's first-ever
    order day vs returns.  First-order days come from one
    customer-keyed MIN aggregate joined back to orders (the classic
    "first touch" derivation without a window over the fact table);
    output is calendar-bounded.

    Scale plan: two shuffles — the custkey-keyed MIN (map-side
    combined) and the day-keyed rollup; the join attaches the
    customer-dim-sized firsts relation, broadcast when it fits, plain
    hash join otherwise.  No per-customer window sort over the orders
    fact."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("day")
    )
    firsts = o.groupBy("o_custkey").agg(F.min("day").alias("first_day"))
    return (
        o.join(firsts, "o_custkey")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("n_new_cust_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "n_orders",
            "n_new_cust_orders",
            "n_customers",
        )
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline): non-dominated orders under (maximize
# totalprice, maximize orderdate).  The naive skyline is an all-pairs
# dominance test; sorted by price with a running max of date it
# becomes one window pass.
# ---------------------------------------------------------------------------

_PARETO_SQL = """
WITH ranked AS (
  SELECT o_orderkey, o_totalprice, o_orderdate,
         MAX(o_orderdate) OVER (
           ORDER BY o_totalprice DESC, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS best_date_above
  FROM orders
)
SELECT o_orderkey, o_totalprice, o_orderdate
FROM ranked
WHERE best_date_above IS NULL OR o_orderdate > best_date_above
"""


@register("pareto_frontier_orders", _PARETO_SQL)
def q_pareto_frontier_orders(spark, sf_dir):
    """2-D skyline in one sorted pass: an order is on the frontier iff
    its date beats the running max date over all strictly-higher-priced
    orders — O(n log n) replaces the quadratic dominance join (the
    tiebreak on o_orderkey makes "higher-priced" a total order, so
    equal-price rows dominate later keys exactly as the oracle does).

    Scale note: the global-order window is a single-partition sort —
    the exact gate form.  `pareto_frontier_orders_scaled`
    (queries/rangescale.py) IS the distributed form: contiguous price
    buckets each run the same pass with their running max seeded from
    the upper buckets' maxima (one tiny boundary exchange) —
    identical output, shared oracle.  2-D skylines are also typically
    cut first by a coarse grid filter."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = o.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.max("o_orderdate").over(w).alias("best_date_above"),
    )
    return ranked.filter(
        F.col("best_date_above").isNull()
        | (F.col("o_orderdate") > F.col("best_date_above"))
    ).select("o_orderkey", "o_totalprice", "o_orderdate")


# ---------------------------------------------------------------------------
# Contribution analysis: nation revenue ranked with cumulative share
# and the 80/20 head flag — decimal-exact cumulative sums so the
# running share is bit-identical under any partitioning.
# ---------------------------------------------------------------------------

_P8020_SQL = f"""
WITH rev AS (
  SELECT n.n_name,
         SUM(CAST(o.o_totalprice AS DECIMAL(30, 6))) AS rev_dec
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
),
ranked AS (
  SELECT n_name,
         {dec_double_sql("rev_dec")} AS revenue,
         ROW_NUMBER() OVER (ORDER BY rev_dec DESC, n_name) AS rk,
         SUM(rev_dec) OVER (ORDER BY rev_dec DESC, n_name
                            ROWS UNBOUNDED PRECEDING) AS cum_dec,
         SUM(rev_dec) OVER () AS tot_dec
  FROM rev
)
SELECT n_name, revenue, CAST(rk AS BIGINT) AS rk,
       {dec_double_sql("cum_dec")}
         / {dec_double_sql("tot_dec")} AS cum_share,
       (cum_dec * 5 <= tot_dec * 4) AS in_head
FROM ranked
"""


@register("revenue_pareto_8020", _P8020_SQL)
def q_revenue_pareto_8020(spark, sf_dir):
    """Pareto contribution: nations ranked by revenue with cumulative
    share and an exact 80%-head flag (cum·5 ≤ tot·4 — the threshold
    compare stays in DECIMAL, no float boundary).  The running sum is
    DECIMAL so every prefix is exact; only the reported share divides.

    Scale plan: the revenue rollup reduces the fact to |nations| rows
    first (both dims broadcast); every window after that is dim-sized —
    the sanctioned global-window idiom."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30, 6)")).alias("rev_dec"))
    )
    w = Window.orderBy(F.desc("rev_dec"), F.asc("n_name"))
    w_all = Window.partitionBy()
    ranked = rev.select(
        "n_name",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.row_number().over(w).alias("rk"),
        F.sum("rev_dec").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_dec"),
        F.sum("rev_dec").over(w_all).alias("tot_dec"),
    )
    return ranked.select(
        "n_name",
        "revenue",
        F.col("rk").cast("long").alias("rk"),
        (
            F.col("cum_dec").cast("double")
            / F.col("tot_dec").cast("double")
        ).alias("cum_share"),
        (F.col("cum_dec") * 5 <= F.col("tot_dec") * 4).alias("in_head"),
    )


# ---------------------------------------------------------------------------
# Repeat-purchase latency: histogram of inter-order gaps per customer,
# bucketed by week — the retention-latency curve.
# ---------------------------------------------------------------------------

_GAP_CAP_WEEKS = 12

_GAP_HIST_SQL = f"""
WITH g AS (
  SELECT o_custkey,
         date_diff('day',
                   LAG(CAST(o_orderdate AS DATE)) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
)
SELECT CAST(LEAST(gap_days // 7, {_GAP_CAP_WEEKS}) AS BIGINT) AS week_bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM g WHERE gap_days IS NOT NULL
GROUP BY 1
"""


@register("interorder_gap_histogram", _GAP_HIST_SQL)
def q_interorder_gap_histogram(spark, sf_dir):
    """Distribution of days between a customer's consecutive orders,
    bucketed by week with a {_GAP_CAP_WEEKS}-week tail cap — integer
    throughout (date_diff → floor-div → count).

    Scale plan: one customer-partitioned LAG window (each partition is
    one customer's order history — bounded) then a map-side-combined
    {_GAP_CAP_WEEKS + 1}-key aggregate."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    g = o.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return g.groupBy(
        F.least(F.expr("gap_days div 7"), F.lit(_GAP_CAP_WEEKS))
        .cast("long")
        .alias("week_bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Trending movers: parts with the largest demand-share change between
# the two order-date halves, ranked by an INTEGER cross-multiplied
# delta so the ordering never touches floats.
# ---------------------------------------------------------------------------

_TREND_CUT = "1997-01-01"
_TREND_TOPK = 20

_TRENDING_SQL = f"""
WITH j AS (
  SELECT l.l_partkey AS pk,
         CASE WHEN CAST(o.o_orderdate AS DATE) < DATE '{_TREND_CUT}'
              THEN 'A' ELSE 'B' END AS per
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
c AS (
  SELECT pk,
         SUM(CASE WHEN per = 'A' THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN per = 'B' THEN 1 ELSE 0 END) AS n_b
  FROM j GROUP BY pk
),
t AS (SELECT SUM(n_a) AS tot_a, SUM(n_b) AS tot_b FROM c)
SELECT pk, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_b * t.tot_a - n_a * t.tot_b AS BIGINT) AS delta_scaled,
       round(CAST(n_b AS DOUBLE) / t.tot_b - CAST(n_a AS DOUBLE) / t.tot_a, 9)
         AS share_delta
FROM c CROSS JOIN t
ORDER BY ABS(n_b * t.tot_a - n_a * t.tot_b) DESC, pk
LIMIT {_TREND_TOPK}
"""


@register("trending_parts_rank_delta", _TRENDING_SQL)
def q_trending_parts_rank_delta(spark, sf_dir):
    """Top-{_TREND_TOPK} demand movers between the two halves of order
    history: ranked by |n_b·tot_a − n_a·tot_b| — the share-delta
    cleared of divisions, so the cut is exact-integer and engine-stable
    even for near-tied movers.

    Scale plan: fact join reduces to per-part period counts (map-side
    combined); totals attach as a 1-row broadcast; the cut is
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_partkey").alias("pk"),
        F.when(
            F.col("o_orderdate").cast("date") < F.lit(_TREND_CUT).cast("date"), "A"
        )
        .otherwise("B")
        .alias("per"),
    )
    c = j.groupBy("pk").agg(
        F.sum(F.when(F.col("per") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("per") == "B", 1).otherwise(0)).alias("n_b"),
    )
    t = c.agg(F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b"))
    scored = c.crossJoin(F.broadcast(t)).select(
        "pk",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (F.col("n_b") * F.col("tot_a") - F.col("n_a") * F.col("tot_b"))
        .cast("long")
        .alias("delta_scaled"),
        F.round(
            F.col("n_b").cast("double") / F.col("tot_b")
            - F.col("n_a").cast("double") / F.col("tot_a"),
            9,
        ).alias("share_delta"),
    )
    return scored.orderBy(
        F.abs(F.col("delta_scaled")).desc(), F.asc("pk")
    ).limit(_TREND_TOPK)


# ---------------------------------------------------------------------------
# Point-in-time feature join: the feature-store correctness op — each
# purchase enriched with TWO feature tables of different freshness,
# each as-of the purchase time (never a future leak).
# ---------------------------------------------------------------------------

_PIT_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
f_click AS (
  SELECT user_id, ts, MAX(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
f_err AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
         COUNT(*) AS err_cnt
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, p.ts,
       c.click_value AS asof_click_value,
       e.err_cnt AS asof_hourly_errors
FROM purchases p
ASOF LEFT JOIN f_click c ON p.user_id = c.user_id AND p.ts >= c.ts
ASOF LEFT JOIN f_err e ON p.user_id = e.user_id AND p.ts >= e.h
"""


@register("pit_feature_join", _PIT_SQL)
def q_pit_feature_join(spark, sf_dir):
    """Feature-store point-in-time join: purchases enriched with (a)
    the user's latest click value and (b) the user's latest COMPLETED
    hourly error count, each as-of the purchase timestamp — two as-of
    joins with different time grains, the leakage-proof alternative to
    the naive latest-value join that silently reads the future.

    Scale plan: each as-of is the union+window form
    (operators/asof.py) — one user-keyed shuffle per feature table, no
    range-join explosion; feature tables of different freshness chain
    without re-sorting the fact side more than once each."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    f_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    step1 = asof_join(
        purchases, f_click, ["user_id"], "ts", ["click_value"]
    ).select("event_id", "user_id", "ts", "asof_click_value")
    f_err = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("err_cnt"))
        .select("user_id", F.col("h").alias("ts"), "err_cnt")
    )
    step2 = asof_join(step1, f_err, ["user_id"], "ts", ["err_cnt"]).select(
        "event_id",
        "user_id",
        "ts",
        "asof_click_value",
        F.col("asof_err_cnt").alias("asof_hourly_errors"),
    )
    return step2


# ---------------------------------------------------------------------------
# Hierarchical share-of-parent: nation revenue as a share of its
# region, region as a share of world — the drill-down ratio pair every
# BI hierarchy renders.
# ---------------------------------------------------------------------------

_SOP_SQL = f"""
WITH rev AS (
  SELECT r.r_name, n.n_name,
         SUM(CAST(o.o_totalprice AS DECIMAL(30, 6))) AS rev_dec
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
),
w AS (
  SELECT r_name, n_name, rev_dec,
         SUM(rev_dec) OVER (PARTITION BY r_name) AS region_dec,
         SUM(rev_dec) OVER () AS world_dec
  FROM rev
)
SELECT r_name, n_name,
       {dec_double_sql("rev_dec")} AS revenue,
       round({dec_double_sql("rev_dec")}
             / {dec_double_sql("region_dec")}, 6)
         AS share_of_region,
       round({dec_double_sql("region_dec")}
             / {dec_double_sql("world_dec")}, 6)
         AS region_share_of_world
FROM w
"""


@register("share_of_parent_rollup", _SOP_SQL)
def q_share_of_parent_rollup(spark, sf_dir):
    """Two-level contribution ratios over the region→nation hierarchy,
    from ONE nation-grain aggregate: parent totals are windows over the
    25-row nation relation (exact DECIMAL partials, correctly-rounded
    casts), so the whole drill-down costs a single fact pass.

    Scale plan: star joins broadcast; the only fact shuffle is the
    nation-grain rollup; hierarchy windows are dim-sized."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30, 6)")).alias("rev_dec"))
    )
    w_region = Window.partitionBy("r_name")
    w_world = Window.partitionBy()
    out = rev.withColumn("region_dec", F.sum("rev_dec").over(w_region)).withColumn(
        "world_dec", F.sum("rev_dec").over(w_world)
    )
    return out.select(
        "r_name",
        "n_name",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.round(F.col("rev_dec").cast("double") / F.col("region_dec").cast("double"), 6)
        .alias("share_of_region"),
        F.round(F.col("region_dec").cast("double") / F.col("world_dec").cast("double"), 6)
        .alias("region_share_of_world"),
    )


# ---------------------------------------------------------------------------
# Time-decayed customer value: exponentially decayed LTV with a 180-day
# half-life — recent revenue counts more, the scoring every retention /
# prioritization model starts from.
# ---------------------------------------------------------------------------

_DECAY_HALF_LIFE_D = 180
_DECAY_TOPK = 20


# 2^(−age/HL) decomposed as 2^(−q) · 2^(−r/HL) with age = q·HL + r:
# the 2^(−r/HL) sub-day constants are Python-computed literals (bit-
# identical in both engines — libm pow() differs by 1-2 ulp between
# JVM and C for fractional exponents, which price magnitudes amplify
# past the rounding grid), and 2^(−q) is an exact power of two.
_DECAY_FRACS = [2.0 ** (-r / _DECAY_HALF_LIFE_D) for r in range(_DECAY_HALF_LIFE_D)]


def _decay_sql() -> str:
    fracs = ", ".join(repr(v) for v in _DECAY_FRACS)
    return f"""
WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
aged AS (
  SELECT o_custkey, o_totalprice,
         date_diff('day', CAST(o_orderdate AS DATE), mx.maxd) AS age
  FROM orders CROSS JOIN mx
),
w AS (
  SELECT o_custkey,
         CAST(round(
           ([{fracs}])[(age % {_DECAY_HALF_LIFE_D}) + 1]
             / pow(2.0, age // {_DECAY_HALF_LIFE_D}), 9) AS DECIMAL(11, 9)) AS wq,
         -- operand widths chosen so wq·price = DECIMAL(32,15) fits the
         -- 38-digit cap EXACTLY in both engines — a wider product gets
         -- engine-specific truncation and the sums drift
         CAST(o_totalprice AS DECIMAL(20, 6)) AS price
  FROM aged
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round({dec_double_sql("SUM(wq * price)")}, 6)
         AS decayed_value
FROM w GROUP BY o_custkey
ORDER BY SUM(wq * price) DESC, o_custkey
LIMIT {_DECAY_TOPK}
"""


@register("time_decayed_customer_value", _decay_sql())
def q_time_decayed_customer_value(spark, sf_dir):
    """Top-{_DECAY_TOPK} customers by exponentially decayed revenue
    (half-life {_DECAY_HALF_LIFE_D} days).  The decay weight
    2^(−age/HL) is quantized to the 1e-9 DECIMAL grid per row, so the
    weighted sum is exact and order-independent — a raw float-weighted
    sum would drift under partitioning; the ORDER BY ranks on the
    exact DECIMAL, not the rounded double.

    Scale plan: one scan → customer-keyed weighted aggregate
    (map-side combined) → TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    age = F.datediff(F.col("maxd"), F.col("o_orderdate").cast("date"))
    frac = F.element_at(
        F.array(*[F.lit(v) for v in _DECAY_FRACS]),
        (age % _DECAY_HALF_LIFE_D) + 1,
    )
    # 2^(−q) with integer q: exact powers of two, identical everywhere
    wq = F.round(
        frac / F.pow(F.lit(2.0), F.expr(f"datediff(maxd, cast(o_orderdate as date)) div {_DECAY_HALF_LIFE_D}")),
        9,
    ).cast("decimal(11, 9)")
    w = o.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        wq.alias("wq"),
        F.col("o_totalprice").cast("decimal(20, 6)").alias("price"),
    )
    agg = w.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("wq") * F.col("price")).alias("dv_dec"),
    )
    return (
        agg.orderBy(F.desc("dv_dec"), F.asc("o_custkey"))
        .limit(_DECAY_TOPK)
        .select(
            "o_custkey",
            "n_orders",
            F.round(F.col("dv_dec").cast("double"), 6).alias(
                "decayed_value"
            ),
        )
    )
