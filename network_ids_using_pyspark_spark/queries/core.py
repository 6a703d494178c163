"""Core relational queries: profiles, histograms, joins, windows.

These exercise the spine of the engine (scan → project → hash-agg /
join / window) over the driver's fixture tables.  Plan posture at scale:
dimension joins broadcast (region/nation/customer/supplier are tiny
relative to facts), fact aggregations are map-side-combined hash aggs,
windows always partition on a real key.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..operators.profile import profile_counts, profile_extremes
from ..operators.relational import (
    count_distinct_values,
    distinct_values,
    label_histogram,
    top_k_per_group,
)
from ..operators.windowed import ranked, rolling_dec_sum, sessionize
from ..functions.numeric import dec_avg, dec_avg_sql, dec_double_sql, dec_sum, dec_sum_sql
from . import register

_LINEITEM_NUMERICS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]


@register(
    "flagship_event_profile",
    f"""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           {dec_sum_sql('value')} AS sum_value,
           {dec_avg_sql('value')} AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def flagship_event_profile(spark, sf_dir):
    """Flagship query (SURVEY.md §7.0): per-event-type profile — the
    engine analog of the reference's notebook profiling cells 21/23/24
    (counts + extremes in one grouped pass instead of three scans)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        dec_sum("value").alias("sum_value"),
        dec_avg("value").alias("avg_value"),
    )


@register(
    "label_histogram",
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def q_label_histogram(spark, sf_dir):
    """SURVEY.md §2.3 G9 — distributed value_counts."""
    return label_histogram(load_table(spark, sf_dir, "events"), "event_type")


@register("distinct_labels", "SELECT DISTINCT event_type FROM events")
def q_distinct_labels(spark, sf_dir):
    """SURVEY.md §2.3 G5."""
    return distinct_values(load_table(spark, sf_dir, "events"), "event_type")


@register(
    "count_distinct_labels",
    "SELECT COUNT(DISTINCT event_type) AS n_distinct_event_type FROM events",
)
def q_count_distinct_labels(spark, sf_dir):
    """SURVEY.md §2.3 G6."""
    return count_distinct_values(load_table(spark, sf_dir, "events"), "event_type")


def _extremes_sql(kind: str) -> str:
    cols = ", ".join(f"{kind.upper()}({c}) AS {kind}_{c}" for c in _LINEITEM_NUMERICS)
    extra = (
        f"{kind.upper()}(l_returnflag) AS {kind}_l_returnflag, "
        f"{kind.upper()}(l_shipdate) AS {kind}_l_shipdate"
    )
    return f"SELECT {cols}, {extra} FROM lineitem"


@register("profile_max", _extremes_sql("max"))
def q_profile_max(spark, sf_dir):
    """SURVEY.md §2.3 G2 — per-column MAX profile (the +Inf detector)."""
    li = load_table(spark, sf_dir, "lineitem")
    return profile_extremes(li, "max", _LINEITEM_NUMERICS + ["l_returnflag", "l_shipdate"])


@register("profile_min", _extremes_sql("min"))
def q_profile_min(spark, sf_dir):
    """SURVEY.md §2.3 G3 — per-column MIN profile (the −Inf detector)."""
    li = load_table(spark, sf_dir, "lineitem")
    return profile_extremes(li, "min", _LINEITEM_NUMERICS + ["l_returnflag", "l_shipdate"])


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {dec_sum_sql('l_quantity')} AS sum_qty,
           {dec_sum_sql('l_extendedprice')} AS sum_base_price,
           {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dec_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {dec_avg_sql('l_quantity')} AS avg_qty,
           {dec_avg_sql('l_extendedprice')} AS avg_price,
           {dec_avg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the canonical scan→filter→hash-agg pipeline.  The
    shipdate filter is pushed into the parquet scan; the agg is
    partial+final with only (flag,status) keys shuffled."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(disc_price).alias("sum_disc_price"),
            dec_sum(charge).alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_extendedprice").alias("avg_price"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "segment_order_stats",
    f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o.o_custkey) AS n_customers,
           {dec_sum_sql('o.o_totalprice')} AS sum_totalprice,
           {dec_avg_sql('o.o_totalprice')} AS avg_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def segment_order_stats(spark, sf_dir):
    """Equi-join fact→dim + grouped agg.  The customer dim is broadcast
    (hinted; AQE would pick it anyway at these sizes) so the orders fact
    never shuffles for the join — at 100 TB only the group-by keys move."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dec_sum("o_totalprice").alias("sum_totalprice"),
            dec_avg("o_totalprice").alias("avg_totalprice"),
        )
    )


@register(
    "nation_revenue",
    f"""
    SELECT n.n_name, r.r_name,
           {dec_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def nation_revenue(spark, sf_dir):
    """TPC-H Q5 shape: star join over 4 dims.  All dims broadcast — the
    lineitem fact is never shuffled for joins, only the final tiny
    (nation, region) agg shuffles."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            dec_sum(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "top_parts_per_brand",
    """
    SELECT * FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             ROW_NUMBER() OVER (
               PARTITION BY p_brand
               ORDER BY p_retailprice DESC, p_partkey ASC
             ) AS rk
      FROM part
    ) WHERE rk <= 3
    """,
)
def top_parts_per_brand(spark, sf_dir):
    """Top-k per group via a *partitioned* window (SURVEY.md §4.2 — the
    fix for the reference's single-task global window)."""
    p = load_table(spark, sf_dir, "part").select("p_brand", "p_partkey", "p_retailprice")
    return top_k_per_group(
        p, ["p_brand"], "p_retailprice", 3, tie_break=["p_partkey"], descending=True
    )


@register(
    "user_rolling_value",
    f"""
    SELECT event_id, user_id,
           {dec_double_sql(
               "SUM(CAST(value AS DECIMAL(30, 6))) OVER ("
               "PARTITION BY user_id ORDER BY ts ASC, event_id ASC"
               " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)"
           )} AS rolling_sum
    FROM events
    """,
)
def user_rolling_value(spark, sf_dir):
    """Sliding-frame aggregate per user (rowsBetween −3..0) — the
    per-host rolling-rate shape of IDS analytics, decimal-exact."""
    ev = load_table(spark, sf_dir, "events")
    return rolling_dec_sum(
        ev, ["user_id"], ["ts", "event_id"], "value", preceding=3
    ).select("event_id", "user_id", "rolling_sum")


@register(
    "rank_events_per_user",
    """
    SELECT event_id, user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rk
    FROM events
    """,
)
def rank_events_per_user(spark, sf_dir):
    """SURVEY.md §2.5 — row_number over a real partition key."""
    ev = load_table(spark, sf_dir, "events")
    return ranked(ev, ["user_id"], ["ts", "event_id"]).select("event_id", "user_id", "rk")


@register(
    "sessionize_events",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1
                  ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ), sessioned AS (
      SELECT user_id, ts,
             CAST(SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx,
           COUNT(*) AS n_events,
           MIN(ts) AS t_start,
           MAX(ts) AS t_end
    FROM sessioned
    GROUP BY user_id, session_idx
    """,
)
def sessionize_events(spark, sf_dir):
    """Batch sessionization (30-min gap) — batch twin of streaming
    session_window; exact integer-microsecond gap arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    out = sessionize(ev, "user_id", "ts", gap_seconds=1800)
    return out.withColumn("session_idx", F.col("session_idx").cast("long"))
