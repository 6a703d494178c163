"""Anomaly-detection queries (the IDS analytics the reference's domain
implies but its notebook never ships): trailing-window rate anomalies
and port-scan fan-out detection.

Reproducibility: both queries compare COUNTS, so every statistic is
integer arithmetic — the z-score test is algebraically cleared of
divisions and square roots ((n·w − s)² > z²·(q·w − s²) over int64),
giving bit-identical booleans on any engine.  int64 is safe while
daily counts stay below ~2^31 (squares < 2^62); beyond that the same
expressions run in DECIMAL unchanged.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    portable_hash64,
    portable_hash64_sql,
    portable_uniform,
    portable_uniform_sql,
)
from ..functions.numeric import dec_double_sql, dec_sum, dec_sum_sql, grid_sum, grid_sum_sql
from ..sources.tables import load_table
from . import register

# ---------------------------------------------------------------------------
# Trailing-window rate anomaly: daily event counts per type vs the
# previous W days (integer z²-test, z = 2).
# ---------------------------------------------------------------------------

_W = 7
_Z2 = 4  # z = 2, squared

_RATE_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, day, n,
         COUNT(*) OVER w AS w_cnt,
         SUM(n) OVER w AS s,
         SUM(n * n) OVER w AS q
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {_W} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, CAST(n AS BIGINT) AS n,
       CAST(s AS BIGINT) AS trailing_sum,
       CAST(w_cnt AS BIGINT) AS trailing_days,
       (n * w_cnt > s AND
        (n * w_cnt - s) * (n * w_cnt - s) > {_Z2} * (q * w_cnt - s * s)
       ) AS is_anomaly
FROM scored WHERE w_cnt = {_W}
"""


@register("event_rate_anomaly", _RATE_SQL)
def q_event_rate_anomaly(spark, sf_dir):
    """Per-type daily volume vs its trailing 7-day window: the spike
    detector of an ops/IDS pipeline.  One shuffle to daily counts (tiny
    relation), then a per-type ordered window over DAYS, not rows — the
    window input is |types|×|days| regardless of event volume, so the
    sort is free at any scale."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_W, -1)
    )
    scored = daily.select(
        "event_type",
        "day",
        "n",
        F.count(F.lit(1)).over(w).alias("w_cnt"),
        F.sum("n").over(w).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("q"),
    ).filter(F.col("w_cnt") == _W)
    dev = F.col("n") * F.col("w_cnt") - F.col("s")
    var_scaled = F.col("q") * F.col("w_cnt") - F.col("s") * F.col("s")
    return scored.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("trailing_sum"),
        F.col("w_cnt").cast("long").alias("trailing_days"),
        ((dev > 0) & (dev * dev > _Z2 * var_scaled)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Conversion funnel: purchases attributed to a click by the same user
# within the preceding 24 hours.
# ---------------------------------------------------------------------------

_ATTR_WINDOW_S = 86_400

_FUNNEL_SQL = f"""
WITH ordered AS (
  SELECT user_id, event_type, ts,
         MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
  FROM events
)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       COUNT(*) AS n_purchases,
       CAST(SUM(CASE WHEN last_click_us IS NOT NULL
                 AND epoch_us(ts) - last_click_us <= {_ATTR_WINDOW_S * 1_000_000}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM ordered
WHERE event_type = 'purchase'
GROUP BY 1
"""


@register("funnel_click_to_purchase", _FUNNEL_SQL)
def q_funnel_click_to_purchase(spark, sf_dir):
    """Click→purchase conversion funnel with a 24-hour attribution
    window: a running conditional MAX per user carries the latest click
    time to each purchase — one window over the user partition, no
    self-join (the naive purchase⋈click formulation is quadratic in
    events per user; the running-max is linear and 100 TB-safe).
    Microsecond-integer time arithmetic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = ev.select(
        "event_type",
        "ts",
        ts_us.alias("ts_us"),
        F.max(F.when(F.col("event_type") == "click", ts_us)).over(w).alias(
            "last_click_us"
        ),
    )
    return (
        ordered.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(
                (
                    F.col("last_click_us").isNotNull()
                    & (F.col("ts_us") - F.col("last_click_us") <= _ATTR_WINDOW_S * 1_000_000)
                ).cast("long")
            ).alias("n_converted"),
        )
    )


# ---------------------------------------------------------------------------
# Event-transition mining: the user-behavior Markov matrix.
# ---------------------------------------------------------------------------

_TRANSITION_SQL = """
WITH seq AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev
  FROM events
)
SELECT prev AS from_type, event_type AS to_type, COUNT(*) AS n
FROM seq WHERE prev IS NOT NULL
GROUP BY 1, 2
"""


@register("event_transition_matrix", _TRANSITION_SQL)
def q_event_transition_matrix(spark, sf_dir):
    """First-order transition counts between consecutive events per
    user (the behavior Markov matrix behind session analysis and
    anomaly baselines): one LAG window keyed by user, then a tiny
    |types|² aggregate.  Window is per-user — parallel across the key
    space at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    seq = ev.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    )
    return (
        seq.filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Port-scan detection: distinct-dst-port fan-out per source host per
# hour.  The flows fixture has no src column, so the same deterministic
# generator pattern as stream_flow_bruteforce_alerts extends it: 200
# source hosts; two of them (ids 7 and 13) are scanners whose flows
# spray uniform ports, everyone else sticks to the 6-port service mix.
# ---------------------------------------------------------------------------

_N_FLOWS = 60_000
_N_HOSTS = 200
_SCANNERS = (7, 13)
_SCAN_RATE = 0.02  # fraction of rows rewritten as scanner traffic
# Scanners emit ~25 flows (≈25 distinct sprayed ports) per hour; benign
# hosts touch at most the 6 service ports — 20 separates them cleanly.
_FANOUT_T = 20


def _portscan_sql(n: int = _N_FLOWS, threshold: int = _FANOUT_T) -> str:
    def u(seed: str) -> str:
        return portable_uniform_sql("id", seed=f"flows:{seed}")

    return f"""
    WITH raw AS (
      SELECT id, {u('scan')} AS u_scan, {u('src')} AS u_src,
             {u('sport')} AS u_sport, {u('port')} AS u_port,
             {u('ts')} AS u_ts
      FROM range(0, {n}) t(id)
    ), flows AS (
      SELECT (1518568261 + CAST(floor(u_ts * 86400) AS BIGINT)) // 3600 AS hour_bucket,
             CASE WHEN u_scan < {_SCAN_RATE}
                  THEN CASE WHEN u_src < 0.5 THEN {_SCANNERS[0]} ELSE {_SCANNERS[1]} END
                  ELSE 14 + CAST(floor(u_src * {_N_HOSTS - 14}) AS BIGINT) END AS src_id,
             CASE WHEN u_scan < {_SCAN_RATE}
                  THEN 1 + CAST(floor(u_sport * 5000) AS BIGINT)
                  WHEN u_port < 0.4 THEN 80
                  WHEN u_port < 0.7 THEN 443
                  WHEN u_port < 0.8 THEN 3389
                  WHEN u_port < 0.9 THEN 21
                  WHEN u_port < 0.95 THEN 22
                  ELSE 65533 END AS dst_port
      FROM raw
    )
    SELECT src_id, hour_bucket,
           COUNT(DISTINCT dst_port) AS n_ports,
           COUNT(*) AS n_flows
    FROM flows
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT dst_port) >= {threshold}
    """


@register("portscan_detection", _portscan_sql())
def q_portscan_detection(spark, sf_dir):
    df = spark.range(_N_FLOWS)

    def u(seed: str):
        return portable_uniform(F.col("id"), seed=f"flows:{seed}")

    u_scan, u_src = u("scan"), u("src")
    is_scan = u_scan < _SCAN_RATE
    src_id = F.when(
        is_scan,
        F.when(u_src < 0.5, _SCANNERS[0]).otherwise(_SCANNERS[1]).cast("long"),
    ).otherwise((14 + F.floor(u_src * (_N_HOSTS - 14))).cast("long"))
    u_port, u_sport = u("port"), u("sport")
    dst_port = (
        F.when(is_scan, (1 + F.floor(u_sport * 5000)).cast("long"))
        .when(u_port < 0.4, 80)
        .when(u_port < 0.7, 443)
        .when(u_port < 0.8, 3389)
        .when(u_port < 0.9, 21)
        .when(u_port < 0.95, 22)
        .otherwise(65533)
        .cast("long")
    )
    epoch = F.lit(1518568261) + F.floor(u("ts") * 86400).cast("long")
    flows = df.select(
        (epoch / 3600).cast("long").alias("hour_bucket"),
        src_id.alias("src_id"),
        dst_port.alias("dst_port"),
    )
    per_port = flows.dropDuplicates(["src_id", "hour_bucket", "dst_port"])
    fanout = per_port.groupBy("src_id", "hour_bucket").agg(
        F.count(F.lit(1)).alias("n_ports")
    )
    totals = flows.groupBy("src_id", "hour_bucket").agg(
        F.count(F.lit(1)).alias("n_flows")
    )
    return (
        fanout.filter(F.col("n_ports") >= _FANOUT_T)
        .join(totals, ["src_id", "hour_bucket"])
        .select("src_id", "hour_bucket", "n_ports", "n_flows")
    )

q_portscan_detection.__doc__ = f"""Port-scan alerts: sources touching ≥ {_FANOUT_T} distinct
    destination ports within an hour.  Exact distinct via one (src, hour, port)
    pre-dedup aggregate then a count — two shuffles on small keys; the
    100 TB variant swaps the exact distinct for HLL
    (approx_count_distinct) with zero dataflow change."""


# ---------------------------------------------------------------------------
# Robust outliers: median/MAD — immune to the outliers themselves
# (mean/stddev in value_outliers_3sigma are dragged BY the outliers;
# the median and MAD have a 50% breakdown point).
# ---------------------------------------------------------------------------

_MAD_K = 1.4826  # normal-consistency constant
_MAD_T = 3.0

_MAD_SQL = f"""
WITH med AS (
  SELECT event_type, quantile_disc(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS absdev
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, quantile_disc(absdev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(d.med) AS median_value,
       MIN(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.absdev > {_MAD_T} * {_MAD_K} * m.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


@register("value_outliers_mad", _MAD_SQL)
def q_value_outliers_mad(spark, sf_dir):
    """Per-type robust outlier counts by the median/MAD rule
    (|x − med| > 3·1.4826·MAD): the robust sibling of
    `value_outliers_3sigma` — a burst of extreme values inflates the
    mean AND the stddev (masking itself from the 3σ rule) but moves
    the median and MAD almost not at all.

    Exactness: both medians are the LOWER median (an actual data
    element — DuckDB ``quantile_disc``; Spark picks it by rank), so
    every derived quantity is arithmetic on identical doubles.

    Scale plan: the exact lower median costs one per-group sort —
    explicitly the certification-grade path; at 100 TB swap in
    ``approx_percentile`` (the engine's KLL gates certify that sketch
    against this exact twin).  The medians relation is |types|-sized
    and broadcasts; flagging is map-side."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    cnt_w = Window.partitionBy("event_type")

    def lower_median(df, col, out):
        w = Window.partitionBy("event_type").orderBy(col)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(cnt_w))
            .filter(F.col("_rn") == F.expr("(_n - 1) div 2 + 1"))
            .select("event_type", F.col(col).alias(out))
        )

    med = lower_median(ev, "value", "med")
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = lower_median(dev, "absdev", "mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("median_value"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("absdev") > _MAD_T * _MAD_K * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM change-point estimation: per event type, the hour where the
# cumulative deviation of hourly counts from the type mean peaks
# (Page-style CUSUM chart, offline change-point form).
# ---------------------------------------------------------------------------

_CUSUM_SQL = """
WITH hourly AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, COUNT(*) AS n_hours, SUM(c) AS total
  FROM hourly GROUP BY 1
),
cus AS (
  SELECT h.event_type, h.hr, s.n_hours, s.total,
         s.n_hours * SUM(h.c) OVER (PARTITION BY h.event_type ORDER BY h.hr
                                    ROWS UNBOUNDED PRECEDING)
           - ROW_NUMBER() OVER (PARTITION BY h.event_type ORDER BY h.hr)
             * s.total AS s_scaled
  FROM hourly h JOIN stats s USING (event_type)
),
peak AS (
  SELECT event_type, hr, n_hours, total, s_scaled,
         MAX(ABS(s_scaled)) OVER (PARTITION BY event_type) AS max_abs
  FROM cus
)
SELECT event_type,
       CAST(ANY_VALUE(n_hours) AS BIGINT) AS n_hours,
       CAST(ANY_VALUE(total) AS BIGINT) AS total,
       CAST(MAX(s_scaled) AS BIGINT) AS s_max,
       CAST(MIN(s_scaled) AS BIGINT) AS s_min,
       MIN(CASE WHEN ABS(s_scaled) = max_abs THEN hr END) AS cp_hr
FROM peak GROUP BY event_type
"""


@register("cusum_changepoint", _CUSUM_SQL)
def q_cusum_changepoint(spark, sf_dir):
    """Offline CUSUM change-point per event type: running sum of
    (hourly count − type mean) deviations, peak location = estimated
    level-shift hour.

    Reproducibility: the running statistic is kept in scaled-integer
    form, S'_k = n·Σ_{i≤k} c_i − k·Σc (the mean cleared of division),
    so every value is exact int64 — a floating prefix sum would be
    order-sensitive and engine-dependent.  The argmax tiebreak is
    earliest hour.

    Scale plan: one corpus scan into the hour-keyed aggregate; the
    per-type stats relation is type-dim-sized (broadcast); the running
    window partitions by type and orders by hour — each partition is
    bounded by the calendar (≤ 8 760 rows/year/type), so the window
    never concentrates corpus-sized state on one task."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"), F.sum("c").alias("total")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    cus = (
        hourly.join(F.broadcast(stats), "event_type")
        .withColumn(
            "s_scaled",
            F.col("n_hours") * F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0))
            - F.row_number().over(w) * F.col("total"),
        )
        .withColumn(
            "max_abs", F.max(F.abs("s_scaled")).over(Window.partitionBy("event_type"))
        )
    )
    return cus.groupBy("event_type").agg(
        F.first("n_hours").cast("long").alias("n_hours"),
        F.first("total").cast("long").alias("total"),
        F.max("s_scaled").cast("long").alias("s_max"),
        F.min("s_scaled").cast("long").alias("s_min"),
        F.min(
            F.when(F.abs("s_scaled") == F.col("max_abs"), F.col("hr"))
        ).alias("cp_hr"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest: predict each (type, day, hour) cell
# with the same hour one day earlier; report WAPE per type.  WAPE (not
# MAPE) keeps every statistic integer until ONE final division — exact
# on any engine, and the metric of choice when cells can be near-zero.
# ---------------------------------------------------------------------------

_WAPE_SQL = """
WITH hourly AS (
  SELECT event_type, CAST(ts AS DATE) AS d, EXTRACT(hour FROM ts) AS h,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2, 3
)
SELECT a.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(ABS(a.c - p.c)) AS BIGINT) AS sum_abs_err,
       CAST(SUM(a.c) AS BIGINT) AS sum_actual,
       CAST(SUM(ABS(a.c - p.c)) AS DOUBLE) / SUM(a.c) AS wape
FROM hourly a JOIN hourly p
  ON a.event_type = p.event_type AND a.h = p.h AND p.d = a.d - 1
GROUP BY a.event_type
"""


@register("seasonal_naive_wape", _WAPE_SQL)
def q_seasonal_naive_wape(spark, sf_dir):
    """Backtest of the seasonal-naive forecaster (ŷ[d,h] = y[d−1,h])
    per event type, scored by WAPE over all cells with a previous-day
    counterpart.

    Scale plan: the corpus collapses to the (type, day, hour) aggregate
    first — calendar-bounded, thousands of rows per type-year — and the
    lag join is an equi-join of that aggregate with itself on
    (type, hour, day−1); the raw events are scanned exactly once.  A
    window-lag over a dense calendar spine is the alternative shape
    (see interpolate_hourly_gaps); the join form needs no spine and
    skips missing cells by construction."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        F.hour("ts").alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    p = hourly.select(
        F.col("event_type").alias("et_p"),
        F.col("h").alias("h_p"),
        F.col("d").alias("d_p"),
        F.col("c").alias("c_prev"),
    )
    joined = hourly.join(
        p,
        (F.col("event_type") == F.col("et_p"))
        & (F.col("h") == F.col("h_p"))
        & (F.col("d_p") == F.date_sub(F.col("d"), 1)),
    ).select("event_type", "c", "c_prev")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.abs(F.col("c") - F.col("c_prev"))).cast("long").alias("sum_abs_err"),
        F.sum("c").cast("long").alias("sum_actual"),
        (
            F.sum(F.abs(F.col("c") - F.col("c_prev"))).cast("double")
            / F.sum("c")
        ).alias("wape"),
    )


# ---------------------------------------------------------------------------
# Complex event processing, the join-free form: purchases whose most
# recent click happened with NO error in between — pattern
# click → (¬error)* → purchase, per user, via two stacked windows
# (cumulative error count + last-click state), never a sequence regex
# or a self-join.
# ---------------------------------------------------------------------------

_CEP_SQL = """
WITH cum AS (
  SELECT user_id, event_type, ts, event_id,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS cum_err
  FROM events
),
seq AS (
  SELECT user_id, event_type, cum_err,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN cum_err END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS err_at_last_click
  FROM cum
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN err_at_last_click IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS with_prior_click,
       CAST(SUM(CASE WHEN cum_err = err_at_last_click THEN 1 ELSE 0 END)
            AS BIGINT) AS clean_paths
FROM seq WHERE event_type = 'purchase'
GROUP BY user_id
"""


@register("cep_click_purchase_no_error", _CEP_SQL)
def q_cep_click_purchase_no_error(spark, sf_dir):
    """Per user: purchases, purchases with a prior click, and purchases
    whose click→purchase path contains no error — the CEP pattern
    ``click (¬error)* purchase`` compiled to two windows: a cumulative
    error counter and an ignore-nulls last-value carrying "error count
    as of my latest click".  A purchase is clean iff the two counters
    agree.  No sequence regex (engine-dependent match semantics), no
    self-join.

    Scale plan: both windows share ONE (user, time) partitioning — a
    single shuffle and sort serve the whole pattern; per-user state in
    the window frame is O(1).  Longer patterns compile the same way:
    one cumulative counter per negated symbol, one last-value per
    anchor."""
    ev = load_table(spark, sf_dir, "events")
    w_cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_prev = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(w_cum)
        .alias("cum_err"),
    )
    seq = cum.select(
        "user_id",
        "event_type",
        "cum_err",
        F.last(
            F.when(F.col("event_type") == "click", F.col("cum_err")),
            ignorenulls=True,
        )
        .over(w_prev)
        .alias("err_at_last_click"),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(
                F.when(F.col("err_at_last_click").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("with_prior_click"),
            F.sum(
                F.when(F.col("cum_err") == F.col("err_at_last_click"), 1).otherwise(0)
            )
            .cast("long")
            .alias("clean_paths"),
        )
    )


# ---------------------------------------------------------------------------
# Three-step strict funnel: view → click → purchase, each transition
# within 24 h, compiled to two chained conditional running windows
# (the n-step generalization of funnel_click_to_purchase's one-window
# form — each step adds ONE window over the same user partitioning,
# never a join).
# ---------------------------------------------------------------------------

_F3_WINDOW_US = 86_400 * 1_000_000

_F3_SQL = f"""
WITH p1 AS (
  SELECT user_id, event_type, ts, epoch_us(ts) AS t, event_id,
         MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_view_us
  FROM events
),
p2 AS (
  SELECT user_id, event_type, ts, t, event_id,
         MAX(CASE WHEN event_type = 'click' AND last_view_us IS NOT NULL
                   AND t - last_view_us <= {_F3_WINDOW_US}
                  THEN t END)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS anchor_us,
         MAX(CASE WHEN event_type = 'click' THEN t END)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_click_us
  FROM p1
)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN last_click_us IS NOT NULL
                      AND t - last_click_us <= {_F3_WINDOW_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_two_step,
       CAST(SUM(CASE WHEN anchor_us IS NOT NULL
                      AND t - anchor_us <= {_F3_WINDOW_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_three_step
FROM p2 WHERE event_type = 'purchase'
GROUP BY 1
"""


@register("funnel_three_step", _F3_SQL)
def q_funnel_three_step(spark, sf_dir):
    """Daily strict three-step funnel: purchases attributed to a click
    within 24 h that itself followed a view within 24 h.  Step N's
    state is a conditional running MAX over the SAME (user, time)
    ordering as step N−1, so an n-step funnel is n windows on one
    sort — the per-event cost is O(n), independent of history length,
    where the join formulation is O(events²) per user.

    Scale plan: two window passes sharing one user-keyed shuffle/sort,
    then a day-keyed aggregate.  The ts→microsecond integers make the
    24 h comparisons exact."""
    ev = load_table(spark, sf_dir, "events")
    t = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(t, "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p1 = ev.select(
        "user_id",
        "event_type",
        "ts",
        t.alias("t"),
        "event_id",
        F.max(F.when(F.col("event_type") == "view", t)).over(w).alias(
            "last_view_us"
        ),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_ok = (
        (F.col("event_type") == "click")
        & F.col("last_view_us").isNotNull()
        & (F.col("t") - F.col("last_view_us") <= _F3_WINDOW_US)
    )
    p2 = p1.select(
        "event_type",
        "ts",
        "t",
        F.max(F.when(click_ok, F.col("t"))).over(w2).alias("anchor_us"),
        F.max(F.when(F.col("event_type") == "click", F.col("t"))).over(w2).alias(
            "last_click_us"
        ),
    )
    return (
        p2.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(
                F.when(
                    F.col("last_click_us").isNotNull()
                    & (F.col("t") - F.col("last_click_us") <= _F3_WINDOW_US),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_two_step"),
            F.sum(
                F.when(
                    F.col("anchor_us").isNotNull()
                    & (F.col("t") - F.col("anchor_us") <= _F3_WINDOW_US),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_three_step"),
        )
    )


# ---------------------------------------------------------------------------
# Robust seasonal anomaly: remove the weekday-median seasonal profile,
# flag residuals beyond 3·1.4826·MAD — STL-lite with a 50% breakdown
# point, all integer (the float threshold 3·1.4826 is cleared to the
# cross-multiplication |r|·10⁴ > 44478·MAD).
# ---------------------------------------------------------------------------

_SRA_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         dayofweek(CAST(ts AS DATE)) AS dow, COUNT(*) AS n
  FROM events GROUP BY 1, 2, 3
),
med AS (
  SELECT event_type, dow, quantile_disc(n, 0.5) AS wd_med
  FROM daily GROUP BY 1, 2
),
res AS (
  SELECT d.event_type, d.d, d.n - m.wd_med AS r, ABS(d.n - m.wd_med) AS absr
  FROM daily d JOIN med m ON d.event_type = m.event_type AND d.dow = m.dow
),
mad AS (
  SELECT event_type, quantile_disc(absr, 0.5) AS mad FROM res GROUP BY 1
)
SELECT r.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MIN(m.mad) AS BIGINT) AS mad,
       CAST(SUM(CASE WHEN r.absr * 10000 > 44478 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies,
       MIN(CASE WHEN r.absr * 10000 > 44478 * m.mad THEN r.d END) AS first_anomaly_day
FROM res r JOIN mad m ON r.event_type = m.event_type
GROUP BY r.event_type
"""


@register("seasonal_robust_anomaly", _SRA_SQL)
def q_seasonal_robust_anomaly(spark, sf_dir):
    """Weekday-seasonal robust anomaly detection on daily volumes:
    subtract each (type, weekday)'s lower-median profile, then flag
    residuals past 3·1.4826·MAD — the STL-lite ops monitor that a
    level shift can't poison (50% breakdown), complementing the
    mean/variance `event_rate_anomaly`.

    Scale plan: volumes collapse to the calendar relation first; both
    medians are per-small-group lower medians (rank-pick, no
    interpolation); every comparison is exact int64."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        F.dayofweek(F.col("ts").cast("date")).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))

    def lower_median(df, keys, col, out):
        w = Window.partitionBy(*keys).orderBy(col)
        wn = Window.partitionBy(*keys)
        r = df.select(
            *keys,
            F.col(col),
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wn).alias("cnt"),
        )
        return r.filter(F.col("rk") == F.expr("(cnt + 1) div 2")).select(
            *keys, F.col(col).alias(out)
        )

    med = lower_median(daily, ["event_type", "dow"], "n", "wd_med")
    res = daily.join(med, ["event_type", "dow"]).select(
        "event_type",
        "d",
        (F.col("n") - F.col("wd_med")).alias("r"),
        F.abs(F.col("n") - F.col("wd_med")).alias("absr"),
    )
    mad = lower_median(res, ["event_type"], "absr", "mad")
    hit = F.col("absr") * 10000 > 44478 * F.col("mad")
    return (
        res.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.min("mad").cast("long").alias("mad"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_anomalies"),
            F.min(F.when(hit, F.col("d"))).alias("first_anomaly_day"),
        )
    )


# ---------------------------------------------------------------------------
# Attribution model comparison: for each purchase, the FIRST vs LAST
# click inside the 24 h window — where the two canonical single-touch
# models disagree is exactly where multi-touch modeling pays.
# ---------------------------------------------------------------------------

_ATTR_CMP_SQL = f"""
WITH scored AS (
  SELECT user_id, event_type, ts, epoch_us(ts) AS t,
         MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
           OVER w AS last_click_us,
         MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC
                 RANGE BETWEEN {_ATTR_WINDOW_S * 1_000_000} PRECEDING AND CURRENT ROW)
           AS first_click_in_window_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN last_click_us IS NOT NULL
                      AND t - last_click_us <= {_ATTR_WINDOW_S * 1_000_000}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
       CAST(SUM(CASE WHEN first_click_in_window_us IS NOT NULL
                      AND last_click_us IS NOT NULL
                      AND t - last_click_us <= {_ATTR_WINDOW_S * 1_000_000}
                      AND first_click_in_window_us <> last_click_us
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_models_disagree
FROM scored WHERE event_type = 'purchase'
GROUP BY 1
"""


@register("attribution_first_vs_last", _ATTR_CMP_SQL)
def q_attribution_first_vs_last(spark, sf_dir):
    """First-touch vs last-touch attribution per day: purchases with an
    attributable click in the 24 h window, and how many of them the two
    models would credit DIFFERENTLY (first click in window ≠ last
    click) — the share of conversions whose credit assignment is a
    modeling choice, the go/no-go diagnostic before building
    multi-touch.  Last touch is the unbounded conditional running MAX
    (windowed by construction via the ≤24 h test); first-in-window is
    a RANGE-frame conditional MIN over exact microsecond integers.

    Scale plan: both windows share ONE (user, time) sort; the RANGE
    frame's state is the frame boundary, not history; day rollup is a
    dim-sized aggregate."""
    ev = load_table(spark, sf_dir, "events")
    t = F.unix_micros("ts")
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy(t, "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy(t.cast("long"))
        .rangeBetween(-_ATTR_WINDOW_S * 1_000_000, 0)
    )
    click_t = F.when(F.col("event_type") == "click", t)
    scored = ev.select(
        "event_type",
        "ts",
        t.alias("t"),
        F.max(click_t).over(w_rows).alias("last_click_us"),
        F.min(click_t).over(w_range).alias("first_click_in_window_us"),
    )
    attributed = F.col("last_click_us").isNotNull() & (
        F.col("t") - F.col("last_click_us") <= _ATTR_WINDOW_S * 1_000_000
    )
    disagree = (
        F.col("first_click_in_window_us").isNotNull()
        & attributed
        & (F.col("first_click_in_window_us") != F.col("last_click_us"))
    )
    return (
        scored.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(attributed.cast("long")).alias("n_attributed"),
            F.sum(disagree.cast("long")).alias("n_models_disagree"),
        )
    )


# ---------------------------------------------------------------------------
# Beaconing detection: the C2-callback pattern (a compromised host
# phones home on a near-fixed interval) shows up as an anomalously low
# coefficient of variation of inter-event gaps.  Organic users are
# bursty (CV ~ 1); beacons are metronomes (CV ~ 0).  Synthetic beacon
# users are injected deterministically so the detector is certified
# against a non-vacuous positive set (the portscan discipline).
# ---------------------------------------------------------------------------

_BEACON_MOD = 97          # user_id % 97 == 0 -> rewritten as a beacon
_BEACON_PERIOD_US = 300_000_000      # 5-minute callback
_BEACON_JITTER_US = 5_000_000        # +-2.5 s deterministic jitter
_BEACON_CV2_T = "0.01"   # flag when var/mean^2 < this (CV < 0.1)
_BEACON_MIN_GAPS = 10
_BEACON_T0_US = 1_500_000_000_000_000


def _beacon_sql() -> str:
    h = portable_hash64_sql(
        "concat(CAST(user_id AS VARCHAR), ':', CAST(rn AS VARCHAR))",
        seed="bjit:",
    )
    return f"""
WITH ranked AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn,
         (user_id % {_BEACON_MOD} = 0) AS is_beacon_truth
  FROM events
),
eff AS (
  SELECT user_id, is_beacon_truth,
         CASE WHEN is_beacon_truth
              THEN {_BEACON_T0_US} + rn * {_BEACON_PERIOD_US}
                   + ({h} % {_BEACON_JITTER_US}) - {_BEACON_JITTER_US // 2}
              ELSE t_us END AS t_eff,
         rn
  FROM ranked
),
gaps AS (
  SELECT user_id, is_beacon_truth,
         t_eff - LAG(t_eff) OVER (PARTITION BY user_id ORDER BY rn) AS g
  FROM eff
),
stats AS (
  SELECT user_id, is_beacon_truth,
         COUNT(g) AS n_gaps,
         {dec_double_sql("SUM(CAST(g AS DECIMAL(19, 0)))")} AS s,
         {dec_double_sql("SUM(CAST(g AS DECIMAL(19, 0)) * CAST(g AS DECIMAL(19, 0)))")} AS ss
  FROM gaps WHERE g IS NOT NULL
  GROUP BY user_id, is_beacon_truth
),
scored AS (
  SELECT user_id, is_beacon_truth,
         (ss / n_gaps - (s / n_gaps) * (s / n_gaps))
           / ((s / n_gaps) * (s / n_gaps)) < {_BEACON_CV2_T} AS flagged
  FROM stats WHERE n_gaps >= {_BEACON_MIN_GAPS}
)
SELECT is_beacon_truth, flagged, CAST(COUNT(*) AS BIGINT) AS n_users
FROM scored GROUP BY 1, 2
"""


@register("beaconing_periodicity_detection", _beacon_sql())
def q_beaconing_periodicity_detection(spark, sf_dir):
    """C2-beacon detector over event streams: per user with >=
    {min_gaps} inter-event gaps, flag when the squared coefficient of
    variation of the gap lengths drops below {t} (CV < 0.1 — a
    metronome, not a human).  Users with user_id % {mod} == 0 have
    their timelines deterministically rewritten as 5-minute callbacks
    with hash jitter, so the output confusion table certifies both the
    hit on injected beacons AND the non-firing on organic traffic.

    Exactness: gaps are integer microseconds; Σg and Σg² accumulate in
    DECIMAL (exact); the CV² test is a single identical-double
    comparison — the statistic never touches a float sum.

    Scale plan: one (user, time)-sorted window pass for ranks and
    gaps, then a user-keyed moment aggregate — the same single-shuffle
    skeleton as sessionization; at IDS scale the user key is (src,
    dst) and nothing else changes."""
    ev = load_table(spark, sf_dir, "events")
    w_rank = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    ranked = ev.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.row_number().over(w_rank).alias("rn"),
        (F.col("user_id") % _BEACON_MOD == 0).alias("is_beacon_truth"),
    )
    jit = (
        F.pmod(
            portable_hash64(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit(":"),
                    F.col("rn").cast("string"),
                ),
                seed="bjit:",
            ),
            F.lit(_BEACON_JITTER_US),
        )
        - _BEACON_JITTER_US // 2
    )
    eff = ranked.select(
        "user_id",
        "is_beacon_truth",
        "rn",
        F.when(
            F.col("is_beacon_truth"),
            F.lit(_BEACON_T0_US)
            + F.col("rn").cast("long") * _BEACON_PERIOD_US
            + jit,
        )
        .otherwise(F.col("t_us"))
        .alias("t_eff"),
    )
    w_gap = Window.partitionBy("user_id").orderBy("rn")
    gaps = eff.select(
        "user_id",
        "is_beacon_truth",
        (F.col("t_eff") - F.lag("t_eff").over(w_gap)).alias("g"),
    ).filter(F.col("g").isNotNull())
    g0 = F.col("g").cast("decimal(19, 0)")
    stats = gaps.groupBy("user_id", "is_beacon_truth").agg(
        F.count("g").alias("n_gaps"),
        F.sum(g0).cast("double").alias("s"),
        F.sum(g0 * g0).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n_gaps")
    cv2 = (F.col("ss") / F.col("n_gaps") - mean * mean) / (mean * mean)
    scored = stats.filter(F.col("n_gaps") >= _BEACON_MIN_GAPS).select(
        "is_beacon_truth", (cv2 < float(_BEACON_CV2_T)).alias("flagged")
    )
    return scored.groupBy("is_beacon_truth", "flagged").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# CUSUM mean-shift detector over the daily order-count series — the
# sequential drift monitor a production pipeline runs on its volume
# metrics (Page's two-sided cumulative sum with drift allowance k and
# alarm threshold h, in standardized units).  The recursion
# S⁺_t = max(0, S⁺_{t−1} + z_t − k) folds left-to-right over the
# date-sorted series with every state rounded to the 1e-9 grid —
# engine side as an array fold (holt_linear_forecast pattern), oracle
# side as a recursive CTE with identical literals.
# ---------------------------------------------------------------------------

_CUSUM_K = 0.5  # drift allowance (std units)
_CUSUM_H = 4.0  # alarm threshold (std units)

_CUSUM_SQL = f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS DOUBLE) AS y
  FROM orders GROUP BY 1
),
m AS (
  SELECT {dec_sum_sql("y")} / COUNT(*) AS mean,
         COUNT(*) AS n
  FROM daily
),
v AS (
  SELECT round(sqrt(
           {grid_sum_sql("(y - m.mean) * (y - m.mean)", 6)}
           / (ANY_VALUE(m.n) - 1)), 9) AS sd
  FROM daily CROSS JOIN m
),
sr AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn,
         round((y - m.mean) / v.sd, 9) AS z
  FROM daily CROSS JOIN m CROSS JOIN v
),
rec AS (
  SELECT CAST(1 AS BIGINT) AS i,
         round(greatest(0.0, (SELECT z FROM sr WHERE rn = 1) - {_CUSUM_K}), 9) AS sp,
         round(greatest(0.0, -(SELECT z FROM sr WHERE rn = 1) - {_CUSUM_K}), 9) AS sn,
         round(greatest(0.0, (SELECT z FROM sr WHERE rn = 1) - {_CUSUM_K}), 9) AS maxp,
         round(greatest(0.0, -(SELECT z FROM sr WHERE rn = 1) - {_CUSUM_K}), 9) AS maxn
  UNION ALL
  SELECT rec.i + 1,
         round(greatest(0.0, rec.sp + sr.z - {_CUSUM_K}), 9),
         round(greatest(0.0, rec.sn - sr.z - {_CUSUM_K}), 9),
         greatest(rec.maxp, round(greatest(0.0, rec.sp + sr.z - {_CUSUM_K}), 9)),
         greatest(rec.maxn, round(greatest(0.0, rec.sn - sr.z - {_CUSUM_K}), 9))
  FROM rec JOIN sr ON sr.rn = rec.i + 1
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sr) AS n_days,
       round(maxp, 6) AS max_cusum_pos,
       round(maxn, 6) AS max_cusum_neg,
       (maxp > {_CUSUM_H} OR maxn > {_CUSUM_H}) AS alarmed
FROM rec WHERE i = (SELECT COUNT(*) FROM sr)
"""


@register("cusum_mean_shift_daily", _CUSUM_SQL)
def q_cusum_mean_shift_daily(spark, sf_dir):
    """Two-sided standardized CUSUM over daily order counts: the
    running positive/negative sums (drift k=0.5σ) and their maxima,
    plus the h=4σ alarm flag.  Standardization uses the same
    decimal-exact mean/sd construction as the ACF family; the fold
    state is rounded to 1e-9 each step on both engines.

    Scale plan: per-SERIES fold — the fact collapses to |days| rows in
    one map-side-combined agg; the array fold runs over the dim-sized
    series (for thousands of metrics, partition by series key)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    m = daily.agg(
        (dec_sum("y") / F.count(F.lit(1))).alias("mean"),
        F.count(F.lit(1)).alias("n"),
    )
    dm = daily.crossJoin(F.broadcast(m))
    sq = (F.col("y") - F.col("mean")) * (F.col("y") - F.col("mean"))
    sd = dm.agg(
        F.round(F.sqrt(grid_sum(sq, 6) / (F.first("n") - 1)), 9).alias("sd")
    )
    ser = (
        dm.crossJoin(F.broadcast(sd))
        .select("d", F.round((F.col("y") - F.col("mean")) / F.col("sd"), 9).alias("z"))
        .agg(
            F.array_sort(F.collect_list(F.struct("d", "z"))).alias("a"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    k = F.lit(_CUSUM_K)
    zero = F.lit(0.0)

    def step(acc, x):
        sp = F.round(F.greatest(zero, acc["sp"] + x["z"] - k), 9)
        sn = F.round(F.greatest(zero, acc["sn"] - x["z"] - k), 9)
        return F.struct(
            sp.alias("sp"),
            sn.alias("sn"),
            F.greatest(acc["maxp"], sp).alias("maxp"),
            F.greatest(acc["maxn"], sn).alias("maxn"),
        )

    init = F.struct(
        zero.alias("sp"), zero.alias("sn"), zero.alias("maxp"), zero.alias("maxn")
    )
    folded = ser.select(
        "n",
        F.aggregate(F.col("a"), init, step).alias("s"),
    )
    return folded.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("s.maxp"), 6).alias("max_cusum_pos"),
        F.round(F.col("s.maxn"), 6).alias("max_cusum_neg"),
        ((F.col("s.maxp") > F.lit(_CUSUM_H)) | (F.col("s.maxn") > F.lit(_CUSUM_H))).alias(
            "alarmed"
        ),
    )
