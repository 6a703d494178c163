"""Scalar-function / analytic-shape coverage beyond the reference.

The reference uses no string/date/JSON functions and no lag/lead/range
frames (SURVEY.md §2.7) — these queries pin down the engine's wider
expression surface, each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.numeric import dec_double_sql, dec_sum, dec_sum_sql
from ..sources.tables import load_table
from . import register


@register(
    "lag_value_delta",
    """
    SELECT event_id, user_id,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
             AS delta
    FROM events
    """,
)
def q_lag_value_delta(spark, sf_dir):
    """lag(): per-user consecutive-event value delta (single subtraction
    of identical doubles — bit-exact; first event per user → null)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "range_frame_hour_sum",
    f"""
    SELECT event_id, user_id,
           {dec_double_sql(
               "SUM(CAST(value AS DECIMAL(30, 6))) OVER ("
               "PARTITION BY user_id ORDER BY epoch_us(ts) ASC"
               " RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
           )} AS hour_sum
    FROM events
    """,
)
def q_range_frame_hour_sum(spark, sf_dir):
    """RANGE frame over event time: per user, the rolling 1-hour value
    sum — the batch twin of a sliding streaming window, decimal-exact.
    Ordered on exact integer microseconds so both engines bound the
    frame identically."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us.cast("long"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(30,6)")).over(w).cast("double").alias("hour_sum"),
    )


@register(
    "pivot_user_event_counts",
    """
    SELECT user_id,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
           CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup
    FROM events
    GROUP BY user_id
    """,
)
def q_pivot_user_event_counts(spark, sf_dir):
    """Pivot (wide counts per key) with an explicit value list — the
    explicit list keeps the plan a single pass (no values-discovery
    job) and the schema deterministic."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error", "signup"])
        .count()
    )
    # pivot yields nulls for absent combos; counts should read 0
    return out.na.fill(0, ["click", "view", "purchase", "error", "signup"])


@register(
    "json_props_stats",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_json_props_stats(spark, sf_dir):
    """Semi-structured column: JSON path extraction (get_json_object)
    feeding a grouped aggregate — all JVM-side, no Python."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "semi_join_discounted_orders",
    f"""
    SELECT o.o_orderstatus, COUNT(*) AS n, {dec_sum_sql('o.o_totalprice')} AS sum_price
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05
    )
    GROUP BY o.o_orderstatus
    """,
)
def q_semi_join_discounted(spark, sf_dir):
    """EXISTS as a left_semi join: orders having any deeply-discounted
    lineitem.  The semi join never duplicates the left side, so the
    downstream agg sees each order once — the scalable EXISTS plan."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("o_totalprice").alias("sum_price"))
    )


@register(
    "multi_distinct_lineitem",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_multi_distinct(spark, sf_dir):
    """Two distinct-aggregates in one grouped agg — Spark plans an
    Expand (one row per distinct column per input row) so both
    distincts resolve in a single shuffle round."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "dense_hourly_counts",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS t0, date_trunc('hour', MAX(ts)) AS t1 FROM events
    ), hours AS (
      SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour FROM bounds
    ), actual AS (
      SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), types AS (SELECT DISTINCT event_type FROM events)
    SELECT h.hour, t.event_type, CAST(COALESCE(a.n, 0) AS BIGINT) AS n
    FROM hours h CROSS JOIN types t
    LEFT JOIN actual a ON a.hour = h.hour AND a.event_type = t.event_type
    """,
)
def q_dense_hourly_counts(spark, sf_dir):
    """Time-series gap filling: every (hour, event_type) cell in the
    observed range, zero-filled — sequence() + explode generates the
    dense hour spine distributedly (no driver-side date loop), then a
    left join overlays the sparse actuals."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    hours = bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    actual = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        hours.crossJoin(F.broadcast(types))
        .join(actual, ["hour", "event_type"], "left")
        .select("hour", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )


@register(
    "quantile_profile",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_quantile_profile(spark, sf_dir):
    """Exact grouped quantiles (sort-based `percentile`) — the profile
    op behind the engine's exact-median imputation; both engines use
    the same linear-interpolation definition."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("q25"),
        F.percentile("l_quantity", 0.5).alias("q50"),
        F.percentile("l_quantity", 0.75).alias("q75"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "value_histogram",
    """
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin, COUNT(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram binning (floor division into buckets) —
    single pass, map-side combined; the EDA histogram the reference
    did driver-side in pandas/plotly (ISAA_Review_3.ipynb cell 9)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 50.0).cast("long").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "orders_by_month",
    f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mo,
           COUNT(*) AS n,
           {dec_sum_sql('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_orders_by_month(spark, sf_dir):
    """Date-part grouping (year/month extraction) — the calendar
    aggregation shape; extraction is exact integer arithmetic on both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.count(F.lit(1)).alias("n"), dec_sum("o_totalprice").alias("sum_price"))


@register(
    "promo_parts_by_brand",
    """
    SELECT p_brand, COUNT(*) AS n, MAX(p_retailprice) AS max_price
    FROM part
    WHERE p_type LIKE 'PROMO%' OR p_name LIKE '%o%'
    GROUP BY p_brand
    """,
)
def q_promo_parts_by_brand(spark, sf_dir):
    """LIKE-pattern predicates (prefix and infix) feeding a grouped agg
    — prefix LIKE compiles to a StartsWith that pushes into the scan."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_type").like("PROMO%") | F.col("p_name").like("%o%"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"), F.max("p_retailprice").alias("max_price"))
    )


@register(
    "window_rank_functions",
    """
    SELECT event_id, event_type,
           NTILE(4) OVER w AS tile,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd,
           FIRST_VALUE(event_id) OVER w AS first_ev,
           LAST_VALUE(event_id) OVER (
             PARTITION BY event_type ORDER BY value ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ev
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
    """,
)
def q_window_rank_functions(spark, sf_dir):
    """Distribution-rank window surface: ntile / percent_rank /
    cume_dist / first_value / last_value over a totally-ordered
    partition (value + event_id tie-break, so rank ratios are exact
    integer divisions — bit-portable)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.asc("value"), F.asc("event_id"))
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("tile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("event_id").over(w).alias("first_ev"),
        F.last("event_id").over(w_full).alias("last_ev"),
    )


@register(
    "user_event_sequences",
    """
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts ASC, event_id ASC), '|') AS seq,
           COUNT(*) AS n
    FROM events
    GROUP BY user_id
    """,
)
def q_user_event_sequences(spark, sf_dir):
    """Ordered array aggregation (per-user event-type sequence).
    collect_list alone is partition-order-dependent; sorting structs of
    (ts, event_id, type) restores a total order — deterministic under
    any partitioning, which is what makes the op usable at scale.

    The sequence is emitted as a '|'-joined scalar string (not an
    ArrayType column): the driver's pandas canonicalizer hashes oracled
    results through sort_values, which cannot hash list cells (r10
    red). Values are unchanged — array_join is applied after the exact
    same struct-sort."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            "|",
        ).alias("seq"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "customer_name_features",
    """
    SELECT c_custkey,
           upper(c_mktsegment) AS seg,
           levenshtein(c_name, 'Customer#000000001') AS edit_dist,
           CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num,
           concat(c_mktsegment, '-', CAST(c_nationkey AS VARCHAR)) AS seg_nation
    FROM customer
    """,
)
def q_customer_name_features(spark, sf_dir):
    """String-function surface: upper / levenshtein / regexp_extract /
    concat — all JVM-side built-ins (no UDF), all integer- or
    byte-exact cross-engine."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg"),
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000001")).alias("edit_dist"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).cast("long").alias("name_num"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
    )


@register(
    "lineitem_unpivot_measures",
    """
    SELECT l_orderkey, l_linenumber, measure, value
    FROM lineitem
    UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
    """,
)
def q_lineitem_unpivot_measures(spark, sf_dir):
    """UNPIVOT (wide→long reshaping): four measure columns to
    (measure, value) rows via stack() — the inverse of the pivot op,
    needed for metric-per-row export layouts."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(4, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice, "
        "'l_discount', l_discount, 'l_tax', l_tax) AS (measure, value)",
    )


@register(
    "event_time_parts",
    """
    SELECT event_id,
           epoch_ms(ts) AS unix_ms,
           CAST(hour(ts) AS INTEGER) AS hr,
           CAST(minute(ts) AS INTEGER) AS mi,
           CAST(day(ts) AS INTEGER) AS dom,
           CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start
    FROM events
    """,
)
def q_event_time_parts(spark, sf_dir):
    """Timestamp-part surface: epoch millis, hour/minute/day-of-month,
    day-of-week (normalized to Spark's 1=Sunday convention), and
    date_trunc — all exact integer extractions."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_millis("ts").alias("unix_ms"),
        F.hour("ts").alias("hr"),
        F.minute("ts").alias("mi"),
        F.dayofmonth("ts").alias("dom"),
        F.dayofweek("ts").alias("dow"),
        F.date_trunc("day", F.col("ts")).alias("day_start"),
    )


_MAP_FUNCS_SQL = """
SELECT user_id, event_type, COUNT(*) AS n
FROM events
GROUP BY user_id, event_type
HAVING COUNT(*) >= 2
"""


@register("map_funcs_user_type_counts", _MAP_FUNCS_SQL)
def q_map_funcs_user_type_counts(spark, sf_dir):
    """MapType function surface: per-user counts packed into a map
    (`map_from_entries` over collected entries), thresholded with
    `map_filter`, unpacked with `map_entries` + explode.  The
    relational result equals a plain HAVING aggregate — which is the
    oracle — so the map construction/filter/explode path is held to
    exact parity.  Scale note: the map per user is bounded by the
    event-type cardinality (5), so state per key is O(1); the heavy
    lifting stays in the two keyed aggregates."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = cnt.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m")
    )
    filt = m.select(
        "user_id", F.map_filter("m", lambda k, v: v >= F.lit(2)).alias("m")
    )
    return (
        filt.select("user_id", F.explode(F.map_entries("m")).alias("e"))
        .select(
            "user_id",
            F.col("e.key").alias("event_type"),
            F.col("e.value").alias("n"),
        )
    )


_TRY_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_ratio,
       MAX(CASE WHEN l_discount <> 0 THEN l_extendedprice / l_discount END) AS max_ratio,
       MIN(CASE WHEN l_discount <> 0 THEN l_extendedprice / l_discount END) AS min_ratio
FROM lineitem
GROUP BY l_returnflag
"""


@register("try_arith_safe_ratios", _TRY_SQL)
def q_try_arith_safe_ratios(spark, sf_dir):
    """ANSI-safe arithmetic surface: `try_divide` yields NULL instead
    of erroring/Inf on zero denominators, so one expression replaces
    the defensive CASE WHEN — and the pipeline can run under
    spark.sql.ansi.enabled without try/catch.  Aggregates restricted
    to order-independent MIN/MAX/COUNT so parity is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    ratio = F.try_divide(F.col("l_extendedprice"), F.col("l_discount"))
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_discount") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_null_ratio"),
        F.max(ratio).alias("max_ratio"),
        F.min(ratio).alias("min_ratio"),
    )


_BITMASK_SQL = """
WITH coded AS (
  SELECT user_id,
         CASE event_type
           WHEN 'click' THEN 1 WHEN 'view' THEN 2 WHEN 'purchase' THEN 4
           WHEN 'signup' THEN 8 ELSE 16 END AS bit
  FROM events
)
SELECT user_id,
       CAST(bit_or(bit) AS BIGINT) AS type_mask,
       CAST(bit_and(bit) AS BIGINT) AS common_mask
FROM coded
GROUP BY user_id
"""


@register("bitwise_event_type_mask", _BITMASK_SQL)
def q_bitwise_event_type_mask(spark, sf_dir):
    """Bitwise aggregate surface: each user's observed event types
    folded into one bitmask via bit_or (bit_and as the all-rows-share
    complement).  Bitwise folds are associative and commutative, so
    the partial/final aggregation split is exact under any partitioning
    — the cheapest possible \"profile of behaviors per key\" at 100 TB
    (one long per user, map-side combinable)."""
    ev = load_table(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .otherwise(16)
    )
    return (
        ev.select("user_id", bit.alias("bit"))
        .groupBy("user_id")
        .agg(
            F.bit_or("bit").cast("long").alias("type_mask"),
            F.bit_and("bit").cast("long").alias("common_mask"),
        )
    )


_INTERP_SQL = """
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h FROM events
),
bounds AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM b),
grid AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM b) t,
       (SELECT unnest(generate_series(mn, mx)) AS h FROM bounds) g
),
c AS (SELECT event_type, h, COUNT(*) AS c FROM b GROUP BY event_type, h),
j AS (
  SELECT g.event_type, g.h, c.c
  FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h
),
w AS (
  SELECT event_type, h, c,
    last_value(CASE WHEN c IS NOT NULL THEN h END IGNORE NULLS) OVER pw AS h0,
    last_value(c IGNORE NULLS) OVER pw AS c0,
    first_value(CASE WHEN c IS NOT NULL THEN h END IGNORE NULLS) OVER fw AS h1,
    first_value(c IGNORE NULLS) OVER fw AS c1
  FROM j
  WINDOW pw AS (PARTITION BY event_type ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fw AS (PARTITION BY event_type ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, h,
       CASE WHEN c IS NOT NULL THEN CAST(c AS DOUBLE)
            ELSE CAST(c0 AS DOUBLE)
                 + CAST((c1 - c0) * (h - h0) AS DOUBLE) / CAST(h1 - h0 AS DOUBLE)
       END AS filled,
       (c IS NULL) AS interpolated
FROM w
WHERE h0 IS NOT NULL AND h1 IS NOT NULL
"""


@register("interpolate_hourly_gaps", _INTERP_SQL)
def q_interpolate_hourly_gaps(spark, sf_dir):
    """Time-series gap fill + linear interpolation (the hypertable op):
    the hourly event-count series per type is densified onto the full
    hour grid; missing hours get c0 + (c1-c0)*(h-h0)/(h1-h0) from the
    neighboring known points (integer products, ONE double division —
    bit-exact parity).  Edges without both neighbors are dropped, not
    extrapolated.  Scale: the grid is sequence()+explode (no driver
    loop), the fill is two ignorenulls window passes per key —
    time-partitionable like every window op here."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select("event_type", F.expr("unix_micros(ts) DIV 3600000000").alias("h"))
    bounds = b.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    hours = bounds.select(F.explode(F.sequence("mn", "mx")).alias("h"))
    grid = b.select("event_type").distinct().crossJoin(hours)
    c = b.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c"))
    j = grid.join(c, ["event_type", "h"], "left")
    pw = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fw = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_h = F.when(F.col("c").isNotNull(), F.col("h"))
    w = j.select(
        "event_type", "h", "c",
        F.last(known_h, ignorenulls=True).over(pw).alias("h0"),
        F.last("c", ignorenulls=True).over(pw).alias("c0"),
        F.first(known_h, ignorenulls=True).over(fw).alias("h1"),
        F.first("c", ignorenulls=True).over(fw).alias("c1"),
    )
    interp = F.col("c0").cast("double") + (
        (F.col("c1") - F.col("c0")) * (F.col("h") - F.col("h0"))
    ).cast("double") / (F.col("h1") - F.col("h0")).cast("double")
    return w.filter(F.col("h0").isNotNull() & F.col("h1").isNotNull()).select(
        "event_type",
        "h",
        F.when(F.col("c").isNotNull(), F.col("c").cast("double"))
        .otherwise(interp)
        .alias("filled"),
        F.col("c").isNull().alias("interpolated"),
    )


_ARRSET_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
halves AS (
  SELECT doc_id,
         toks[1 : len(toks) // 2] AS a,
         toks[len(toks) // 2 + 1 : len(toks)] AS b
  FROM t WHERE len(toks) >= 2
)
SELECT doc_id,
       CAST(len(list_distinct(a)) AS INTEGER) AS n_a,
       CAST(len(list_distinct(b)) AS INTEGER) AS n_b,
       CAST(len(list_intersect(a, b)) AS INTEGER) AS n_inter,
       CAST(len(list_distinct(list_concat(a, b))) AS INTEGER) AS n_union,
       CAST(len(list_filter(list_distinct(a), x -> NOT list_contains(b, x))) AS INTEGER) AS n_a_only
FROM halves
"""


@register("array_set_ops_profile", _ARRSET_SQL)
def q_array_set_ops_profile(spark, sf_dir):
    """Array set-operation surface (array_distinct / array_intersect /
    array_union / array_except) certified against relational ground
    truth: each document's token stream is split positionally in half
    and the set cardinalities between halves are compared.  Invariant
    baked into the oracle: |union| = |a| + |b| - |inter| and
    |a_only| = |a| - |inter| — a dedup-semantics mismatch in any of
    the four functions breaks the hash.  Map-side only."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    half = F.floor(F.size("toks") / 2).cast("int")
    halves = t.select(
        "doc_id",
        F.slice("toks", F.lit(1), half).alias("a"),
        F.slice("toks", half + 1, F.size("toks") - half).alias("b"),
    )
    return halves.select(
        "doc_id",
        F.size(F.array_distinct("a")).alias("n_a"),
        F.size(F.array_distinct("b")).alias("n_b"),
        F.size(F.array_intersect("a", "b")).alias("n_inter"),
        F.size(F.array_union("a", "b")).alias("n_union"),
        F.size(F.array_except("a", "b")).alias("n_a_only"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram: NTILE-based bin edges over order totals — the
# optimizer-statistics building block (range-partition boundaries,
# histogram stats) expressed as a query.  The complement of the
# equi-WIDTH `value_histogram`.
# ---------------------------------------------------------------------------

_ED_BINS = 16

_EQUIDEPTH_SQL = f"""
WITH t AS (
  SELECT o_totalprice, o_orderkey,
         NTILE({_ED_BINS}) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM t GROUP BY bin
"""


@register("equidepth_histogram", _EQUIDEPTH_SQL)
def q_equidepth_histogram(spark, sf_dir):
    """{_ED_BINS}-bucket equi-depth histogram of o_totalprice: per-bin
    row count and value range.  NTILE over a TOTAL order (value, key) —
    the tiebreak makes bucket assignment deterministic, so both
    engines emit identical edges bit-for-bit.

    Scale note: an unpartitioned NTILE is a single-partition sort —
    the deliberately exact form, kept as the certification gate.
    `equidepth_histogram_scaled` (queries/rangescale.py) computes the
    IDENTICAL output — same oracle, bit-for-bit — with rank-selected
    boundary values (operators/rangepart.py histogram narrowing, no
    sort anywhere) and is the form to run at 100 TB; the KLL-sketch
    path (`quantile_sketch_check`) remains the approximate
    alternative where rank tolerance is acceptable."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select(
            "o_totalprice", F.ntile(_ED_BINS).over(w).alias("bin")
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining, the exact base case: top event-type
# trigrams across per-user ordered event sequences.
# ---------------------------------------------------------------------------

_TRI_TOPK = 20

_TRIGRAM_SQL = f"""
WITH seqs AS (
  SELECT user_id, list(event_type ORDER BY ts ASC, event_id ASC) AS s
  FROM events GROUP BY user_id
),
tri AS (
  SELECT s[i] || '>' || s[i + 1] || '>' || s[i + 2] AS trigram
  FROM seqs, UNNEST(range(1, len(s) - 1)) AS r(i)
)
SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
FROM tri GROUP BY trigram
ORDER BY n DESC, trigram LIMIT {_TRI_TOPK}
"""


@register("event_type_trigrams", _TRIGRAM_SQL)
def q_event_type_trigrams(spark, sf_dir):
    """Top-{_TRI_TOPK} behavioral trigrams (ordered event-type
    3-sequences within each user's timeline) — the exact counting
    backbone of sequential pattern mining, ordered deterministically by
    (ts, event_id) exactly like `user_event_sequences`.

    Scale plan: sequences build with ONE user-keyed shuffle (the
    sorted-struct collect); trigram explosion is map-side array math
    over each sequence; counting is map-side-combined on the trigram
    key (|types|³-bounded ≪ corpus) and the cut is
    TakeOrderedAndProject.  Power-user skew bounds: a user with n
    events contributes n−2 trigrams — linear, not quadratic."""
    ev = load_table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ).alias("s")
    )
    tri = seqs.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(s) - 3), "
                "i -> concat(s[i], '>', s[i + 1], '>', s[i + 2]))"
            )
        ).alias("trigram")
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(_TRI_TOPK)
    )


# ---------------------------------------------------------------------------
# Dwell-time attribution: time from each event to the user's next
# event, credited to the current event's type.
# ---------------------------------------------------------------------------

_DWELL_SQL = """
WITH g AS (
  SELECT event_type,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dwell_us
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(dwell_us) // 1000000 AS BIGINT) AS total_dwell_s,
       CAST(SUM(dwell_us) AS DOUBLE) / (1000000.0 * COUNT(*)) AS mean_dwell_s
FROM g WHERE dwell_us IS NOT NULL
GROUP BY event_type
"""


@register("dwell_time_by_type", _DWELL_SQL)
def q_dwell_time_by_type(spark, sf_dir):
    """Per event type: total and mean time-to-next-event within each
    user's timeline (the engagement/dwell attribution read).  Pure
    integer microsecond arithmetic until the one mean division.

    Scale plan: one user-partitioned LEAD window (per-user history
    bounded) + a |types|-key map-side-combined aggregate."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    t_us = F.unix_micros(F.col("ts"))
    g = ev.select(
        "event_type",
        (F.lead(t_us).over(w) - t_us).alias("dwell_us"),
    ).filter(F.col("dwell_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(dwell_us) div 1000000").cast("long").alias("total_dwell_s"),
        (F.sum("dwell_us").cast("double") / (1000000.0 * F.count(F.lit(1)))).alias(
            "mean_dwell_s"
        ),
    )


# ---------------------------------------------------------------------------
# DAU / trailing-7-day WAU / stickiness — the product-analytics
# engagement triple, with the sliding distinct-count done by map-side
# day fan-out instead of a range join.
# ---------------------------------------------------------------------------

_WAU_SQL = """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
fan AS (
  SELECT d + CAST(i AS INTEGER) AS target_d, user_id
  FROM du, UNNEST(range(0, 7)) AS r(i)
),
days AS (SELECT DISTINCT d FROM du),
wau AS (
  SELECT target_d AS d, COUNT(DISTINCT user_id) AS wau
  FROM fan JOIN days ON fan.target_d = days.d
  GROUP BY 1
),
dau AS (SELECT d, COUNT(*) AS dau FROM du GROUP BY d)
SELECT CAST(dau.d AS TIMESTAMP) AS day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(wau.wau AS BIGINT) AS wau,
       round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
"""


@register("active_users_dau_wau", _WAU_SQL)
def q_active_users_dau_wau(spark, sf_dir):
    """Daily active users, trailing-7-day weekly actives, and the
    DAU/WAU stickiness ratio.  The sliding DISTINCT is the interesting
    part: each (day, user) pair fans out map-side to the 7 windows it
    belongs to and ONE distinct-count aggregate does the rest — an
    equi-plan, where the naive day-range join is a nested loop and a
    per-day re-scan is 7× the IO.  Fan-out factor = window length,
    bounded and explicit.

    Scale plan: one scan → distinct (day, user) → ×7 map-side explode →
    day-keyed distinct count (partial aggs combine).  The days dim
    join prunes phantom windows past the calendar end."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    fan = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "d", "user_id"
    ).select(F.date_add("d", F.col("i")).alias("target_d"), "user_id")
    days = du.select("d").distinct()
    wau = (
        fan.join(F.broadcast(days), fan.target_d == days.d)
        .groupBy("target_d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, dau.d == wau.target_d)
        .select(
            F.col("d").cast("timestamp").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Sweep-line interval analytics: peak concurrent sessions.
# ---------------------------------------------------------------------------

_PEAK_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sidx
  FROM flagged
),
iv AS (
  SELECT user_id, sidx, MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
  FROM sess GROUP BY 1, 2
),
pts AS (
  SELECT s_us AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT e_us + 1, -1 FROM iv
),
run AS (
  SELECT t, SUM(delta) OVER (ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS conc
  FROM pts
),
mx AS (SELECT MAX(conc) AS peak FROM run)
SELECT CAST((SELECT COUNT(*) FROM iv) AS BIGINT) AS n_sessions,
       CAST(mx.peak AS BIGINT) AS peak_concurrency,
       CAST(MIN(CASE WHEN conc = mx.peak THEN t END) AS BIGINT) AS peak_at_us
FROM run CROSS JOIN mx GROUP BY mx.peak
"""


@register("peak_concurrent_sessions", _PEAK_SQL)
def q_peak_concurrent_sessions(spark, sf_dir):
    """Maximum number of simultaneously open user sessions (30-min-gap
    sessions), by the sweep line: +1 at each session start, −1 just
    after its end, running sum, take the max — the interval-overlap
    counting primitive (room occupancy, concurrent connections, license
    peaks).  Tie rule: closings sort before openings at equal time
    (delta ASC), so touching sessions never double-count.

    Scale plan: sessionization is the per-user window; boundary points
    are 2 rows per session; the sweep's global ordered window runs over
    the SESSION relation (weeks of sessions ≪ events) — the exact gate
    form.  `peak_concurrent_sessions_scaled` (queries/rangescale.py)
    IS the distributed form: time-bucketed per-partition sweeps seeded
    by the prefix sums of bucket deltas — identical output, shared
    oracle."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts"))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag(t_us).over(w).isNull()
            | (t_us - F.lag(t_us).over(w) > 1800 * 1000000),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    w_cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = flagged.select(
        "user_id", "ts", F.sum("new_sess").over(w_cum).alias("sidx")
    )
    iv = sess.groupBy("user_id", "sidx").agg(
        F.min(F.unix_micros("ts")).alias("s_us"),
        F.max(F.unix_micros("ts")).alias("e_us"),
    )
    pts = iv.select(F.col("s_us").alias("t"), F.lit(1).alias("delta")).unionByName(
        iv.select((F.col("e_us") + 1).alias("t"), F.lit(-1).alias("delta"))
    )
    w_sweep = Window.orderBy("t", "delta").rowsBetween(Window.unboundedPreceding, 0)
    run = pts.select("t", F.sum("delta").over(w_sweep).alias("conc"))
    w_all = Window.partitionBy()
    run = run.withColumn("peak", F.max("conc").over(w_all))
    n_sessions = iv.agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        run.groupBy("peak")
        .agg(
            F.min(F.when(F.col("conc") == F.col("peak"), F.col("t"))).alias(
                "peak_at_us"
            )
        )
        .crossJoin(F.broadcast(n_sessions))
        .select(
            F.col("n_sessions").cast("long").alias("n_sessions"),
            F.col("peak").cast("long").alias("peak_concurrency"),
            F.col("peak_at_us").cast("long").alias("peak_at_us"),
        )
    )


# ---------------------------------------------------------------------------
# Conversion latency quantiles: exact p50/p90 of click→purchase time
# per day (interpolated percentile on integer microsecond deltas).
# ---------------------------------------------------------------------------

_TTC_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts,
         MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_click_us
  FROM events
),
conv AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         epoch_us(ts) - last_click_us AS ttc_us
  FROM ordered
  WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
)
SELECT day, CAST(COUNT(*) AS BIGINT) AS n_conversions,
       round(quantile_cont(ttc_us, 0.5) / 1000000.0, 6) AS p50_s,
       round(quantile_cont(ttc_us, 0.9) / 1000000.0, 6) AS p90_s
FROM conv GROUP BY day
"""


@register("conversion_latency_quantiles", _TTC_SQL)
def q_conversion_latency_quantiles(spark, sf_dir):
    """Daily p50/p90 of click→purchase latency: the running-max window
    from the funnel query supplies the attributed click; percentiles
    interpolate on exact integer microsecond deltas (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, both R-7), divided once
    to seconds.

    Scale plan: one user-windowed pass + a day-keyed exact percentile
    (per-day groups are bounded); at unbounded group sizes the KLL
    sketch gate is the stand-in, as everywhere in the engine."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us, "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ordered = ev.select(
        "event_type",
        "ts",
        ts_us.alias("ts_us"),
        F.max(F.when(F.col("event_type") == "click", ts_us)).over(w).alias(
            "last_click_us"
        ),
    )
    conv = ordered.filter(
        (F.col("event_type") == "purchase") & F.col("last_click_us").isNotNull()
    ).select(
        F.date_trunc("day", "ts").alias("day"),
        (F.col("ts_us") - F.col("last_click_us")).alias("ttc_us"),
    )
    return conv.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.expr("percentile(ttc_us, 0.5)") / 1000000.0, 6).alias("p50_s"),
        F.round(F.expr("percentile(ttc_us, 0.9)") / 1000000.0, 6).alias("p90_s"),
    )


# ---------------------------------------------------------------------------
# TWAP: time-weighted average value per (type, day) — the step-function
# integral ∫v dt / Δt, the correct mean for irregularly sampled
# signals (finance TWAP, IoT sensor means).
# ---------------------------------------------------------------------------

_TWAP_SQL = f"""
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d, epoch_us(ts) AS t, value,
         LEAD(epoch_us(ts)) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS t_next
  FROM events
),
seg AS (
  SELECT event_type, d, value, t_next - t AS dur
  FROM s WHERE t_next IS NOT NULL
)
SELECT event_type, CAST(d AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(dur) AS BIGINT) AS span_us,
       {dec_double_sql("SUM(CAST(value AS DECIMAL(30, 6)) * dur)")} / SUM(dur) AS twap
FROM seg GROUP BY event_type, d
"""


@register("twap_daily_value", _TWAP_SQL)
def q_twap_daily_value(spark, sf_dir):
    """Daily TWAP per event type: each observation holds its value
    until the next one (step interpolation), so the mean weights each
    value by its holding duration — Σ vᵢ·Δtᵢ / ΣΔtᵢ with the numerator
    in exact DECIMAL×int64 and one final division.  The arithmetic
    mean over-weights bursts; TWAP is what a pricing/telemetry read
    actually wants.

    Scale plan: one LEAD window per (type, day) partition (bounded),
    then a map-side-combined grouped aggregate."""
    ev = load_table(spark, sf_dir, "events")
    t = F.unix_micros("ts")
    w = Window.partitionBy("event_type", F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    s = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        "value",
        (F.lead(t).over(w) - t).alias("dur"),
    ).filter(F.col("dur").isNotNull())
    return s.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("dur").cast("long").alias("span_us"),
        (
            F.sum(F.col("value").cast("decimal(30, 6)") * F.col("dur"))
            .cast("double")
            / F.sum("dur")
        ).alias("twap"),
    ).select(
        "event_type",
        F.col("d").cast("timestamp").alias("day"),
        "n_segments",
        "span_us",
        "twap",
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-active-day streak per user,
# reported as the streak-length histogram.
# ---------------------------------------------------------------------------

_STREAK_SQL = """
WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
isl AS (
  SELECT user_id,
         d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS grp
  FROM du
),
runs AS (
  SELECT user_id, grp, COUNT(*) AS run_len FROM isl GROUP BY 1, 2
),
best AS (SELECT user_id, MAX(run_len) AS max_streak FROM runs GROUP BY 1)
SELECT CAST(max_streak AS BIGINT) AS max_streak,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM best GROUP BY max_streak
"""


@register("user_activity_streaks", _STREAK_SQL)
def q_user_activity_streaks(spark, sf_dir):
    """Longest consecutive-day activity streak per user via the
    gaps-and-islands identity (consecutive days share the constant
    d − row_number), rolled into a streak-length histogram — the
    engagement-streak metric, and the canonical islands pattern the
    relational surface was missing.

    Scale plan: distinct (user, day) first (calendar-bounded per
    user); one per-user window, two tiny aggregates."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    du = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = du.select(
        "user_id",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("run_len"))
    best = runs.groupBy("user_id").agg(F.max("run_len").alias("max_streak"))
    return best.groupBy(F.col("max_streak").cast("long").alias("max_streak")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# Episode mining, exact base case: for every ordered type pair (A, B),
# how many A-events are followed by a B within 1 hour in the same
# user's timeline — windowed sequential-pattern support.
# ---------------------------------------------------------------------------

_EPI_WINDOW_US = 3_600_000_000  # 1 hour
_EPI_TYPES = ("click", "error", "purchase", "signup", "view")


def _episode_sql() -> str:
    nxt = ",\n         ".join(
        f"MIN(CASE WHEN event_type = '{t}' THEN epoch_us(ts) END) OVER "
        f"(PARTITION BY user_id ORDER BY ts DESC, event_id DESC "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS nxt_{i}"
        for i, t in enumerate(_EPI_TYPES)
    )
    branches = " UNION ALL ".join(
        f"""SELECT event_type AS a_type, '{t}' AS b_type,
           CAST(COUNT(*) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN nxt_{i} IS NOT NULL
                          AND nxt_{i} - t <= CAST({_EPI_WINDOW_US} AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_followed
    FROM s GROUP BY event_type"""
        for i, t in enumerate(_EPI_TYPES)
    )
    return f"""
WITH s AS (
  SELECT user_id, event_type, epoch_us(ts) AS t,
         {nxt}
  FROM events
)
{branches}
"""


@register("episode_follow_counts", _episode_sql())
def q_episode_follow_counts(spark, sf_dir):
    """Windowed follows-within-1h support for all |types|² ordered
    pairs: each event carries "time of my next X" for every type X via
    a REVERSED running MIN (order DESC, frame up to 1 preceding —
    algebraically identical to min-over-following but O(n) per
    partition, where Spark's unbounded-FOLLOWING frame recomputes per
    row).  The temporal generalization of `event_transition_matrix`
    (immediate successor) toward episode mining.

    Scale plan: |types| conditional running-min columns on ONE
    user-keyed sort; adding pattern symbols adds columns, not passes;
    the rollup is |types|²-sized."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    w_rev = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = ev.select(
        "event_type",
        t_us.alias("t"),
        *[
            F.min(F.when(F.col("event_type") == t, t_us))
            .over(w_rev)
            .alias(f"nxt_{i}")
            for i, t in enumerate(_EPI_TYPES)
        ],
    )
    out = None
    for i, t in enumerate(_EPI_TYPES):
        row = s.groupBy(F.col("event_type").alias("a_type")).agg(
            F.count(F.lit(1)).alias("n_a"),
            F.sum(
                F.when(
                    F.col(f"nxt_{i}").isNotNull()
                    & (F.col(f"nxt_{i}") - F.col("t") <= _EPI_WINDOW_US),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_followed"),
        ).select("a_type", F.lit(t).alias("b_type"), "n_a", "n_followed")
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Cohort retention matrix: users grouped by first-activity week, the
# classic product-analytics triangle (cohort × week-offset active
# counts + retention share).
# ---------------------------------------------------------------------------

_COHORT_SQL = """
WITH firstd AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         CAST(date_trunc('week', f.first_d) AS DATE) AS cohort_week,
         CAST((CAST(date_trunc('week', CAST(e.ts AS DATE)) AS DATE)
               - CAST(date_trunc('week', f.first_d) AS DATE)) // 7 AS BIGINT) AS week_offset
  FROM events e JOIN firstd f USING (user_id)
),
sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size
  FROM (SELECT DISTINCT user_id, cohort_week FROM activity) GROUP BY cohort_week
)
SELECT a.cohort_week, a.week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       round(CAST(COUNT(*) AS DOUBLE) / s.cohort_size, 6) AS retention
FROM activity a JOIN sizes s USING (cohort_week)
GROUP BY a.cohort_week, a.week_offset, s.cohort_size
"""


@register("cohort_retention_matrix", _COHORT_SQL)
def q_cohort_retention_matrix(spark, sf_dir):
    """Weekly cohort retention triangle: each user joins the cohort of
    their first active week; cell (cohort, offset) counts distinct
    users of that cohort active `offset` weeks later, with the
    retention share against the cohort size — THE growth-accounting
    table (decay reads down a row, product changes read down a
    diagonal).

    Week arithmetic is date_trunc-based on both engines (Spark
    date_trunc('week') and DuckDB's both snap to Monday), and the
    offset is an integer day difference // 7 — no timestamp floats.

    Scale plan: first-activity is one user-keyed aggregate; activity
    dedups to (user, week) grain before counting, so the matrix
    aggregate runs on |users|×|weeks-active| rows, and the cohort-size
    join is dim-sized (|weeks| rows, broadcast)."""
    ev = load_table(spark, sf_dir, "events")
    firstd = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_d")
    )
    wk = lambda c: F.date_trunc("week", c).cast("date")  # noqa: E731
    activity = (
        ev.join(firstd, "user_id")
        .select(
            "user_id",
            wk("first_d").alias("cohort_week"),
            (
                F.datediff(wk(F.col("ts").cast("date")), wk("first_d")) / 7
            ).cast("long").alias("week_offset"),
        )
        .distinct()
    )
    sizes = (
        activity.select("user_id", "cohort_week")
        .distinct()
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).alias("cohort_size"))
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            F.col("n_active").cast("long").alias("n_active"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )


# ---------------------------------------------------------------------------
# Daily bounce rate: share of sessions with exactly one event — the
# staple engagement KPI, built on the same 30-min-gap sessionization
# as peak_concurrent_sessions.
# ---------------------------------------------------------------------------

_BOUNCE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sidx
  FROM flagged
),
per_sess AS (
  SELECT user_id, sidx,
         CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS day,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, sidx
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS bounce_rate
FROM per_sess GROUP BY day
"""


@register("bounce_rate_daily", _BOUNCE_SQL)
def q_bounce_rate_daily(spark, sf_dir):
    """Daily bounce rate: 30-min-gap sessions collapsing to a single
    event, as a share of the day's sessions (day = session start) —
    the engagement KPI beside DAU/WAU and peak concurrency, sharing
    their sessionization machinery and total-order discipline
    (event_id tiebreaks everywhere).

    Scale plan: one (user, time) window pass to mark sessions, one
    (user, sidx) aggregate to the session grain, one day rollup —
    the session relation is weeks-of-sessions sized, never events."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts"))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag(t_us).over(w).isNull()
            | (t_us - F.lag(t_us).over(w) > 1800 * 1000000),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    w_cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = flagged.select(
        "user_id", "ts", F.sum("new_sess").over(w_cum).alias("sidx")
    )
    per_sess = sess.groupBy("user_id", "sidx").agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return per_sess.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(bounce).cast("long").alias("n_bounces"),
        F.round(
            F.sum(bounce).cast("double") / F.count(F.lit(1)), 6
        ).alias("bounce_rate"),
    )
