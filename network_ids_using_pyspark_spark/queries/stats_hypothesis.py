"""Hypothesis tests & descriptive inference (split from stats_ext.py,
VERDICT r5 ask #5; registry names unchanged): exact KS drift, Poisson
bootstrap, Benford forensics, CUPED, RFM, Kaplan-Meier, mix/trimmed/
rolling/lagged descriptive stats, proportions z-test, QTE, Neyman
allocation, Wilson intervals, Mann-Whitney AUC, Cramér's V, stump
gains, Welch t-test, one-way ANOVA.  All integer/decimal-exact by the
engine's reproducibility discipline.
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
from ..functions.numeric import dec_double_sql, dec_sum, dec_sum_sql, q9_sum, q9_sum_sql
from ..sources.tables import load_table

from . import register

# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov: distribution drift between the
# click and error event populations.  Counts are pre-aggregated per
# DISTINCT value so the cumulative CDFs are tie-deterministic (a
# row-level running sum would depend on the sort order among equal
# values); the statistic stays integer via cross-multiplication
# |c1·n2 − c2·n1| until one final division.
# ---------------------------------------------------------------------------

_KS_SQL = """
WITH s AS (
  SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS g
  FROM events WHERE event_type IN ('click', 'error')
),
per_v AS (
  SELECT value,
         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS d1,
         SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS d2
  FROM s GROUP BY value
),
c AS (
  SELECT value,
         SUM(d1) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS c1,
         SUM(d2) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS c2,
         SUM(d1) OVER () AS n1, SUM(d2) OVER () AS n2
  FROM per_v
),
m AS (
  SELECT value, c1, c2, n1, n2, ABS(c1 * n2 - c2 * n1) AS num,
         MAX(ABS(c1 * n2 - c2 * n1)) OVER () AS max_num
  FROM c
)
SELECT CAST(ANY_VALUE(n1) AS BIGINT) AS n1,
       CAST(ANY_VALUE(n2) AS BIGINT) AS n2,
       CAST(ANY_VALUE(max_num) AS BIGINT) AS ks_num,
       CAST(ANY_VALUE(max_num) AS DOUBLE)
         / (ANY_VALUE(n1) * ANY_VALUE(n2)) AS ks_stat,
       MIN(CASE WHEN num = max_num THEN value END) AS ks_at_value
FROM m
"""


@register("ks_two_sample_drift", _KS_SQL)
def q_ks_two_sample_drift(spark, sf_dir):
    """Exact two-sample KS statistic (click vs error value
    distributions) with the location of the maximum CDF gap — the
    nonparametric drift test PSI approximates in bands.

    Scale plan: the population collapses to per-distinct-value counts
    first (one aggregate); the cumulative window runs over the VALUE
    domain, not the rows.  For a domain too large even for that, the
    engine's KLL-sketch quantile gate is the approximate stand-in —
    same pairing as exact vs HLL distinct."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "error")).select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(2).alias("g"),
    )
    per_v = s.groupBy("value").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("d2"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    c = per_v.select(
        "value",
        F.sum("d1").over(w).alias("c1"),
        F.sum("d2").over(w).alias("c2"),
        F.sum("d1").over(w_all).alias("n1"),
        F.sum("d2").over(w_all).alias("n2"),
    )
    m = c.select(
        "value",
        "n1",
        "n2",
        F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")).alias("num"),
    ).withColumn("max_num", F.max("num").over(w_all))
    return m.agg(
        F.first("n1").cast("long").alias("n1"),
        F.first("n2").cast("long").alias("n2"),
        F.first("max_num").cast("long").alias("ks_num"),
        (F.first("max_num").cast("double") / (F.first("n1") * F.first("n2"))).alias(
            "ks_stat"
        ),
        F.min(F.when(F.col("num") == F.col("max_num"), F.col("value"))).alias(
            "ks_at_value"
        ),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap CI of the mean order price — THE distributed
# bootstrap: instead of resampling n rows with replacement (which
# needs global coordination), each row independently contributes a
# Poisson(1) weight per replicate.  Weights come from the portable
# hash via the exact Poisson inverse CDF, so every replicate is
# deterministic and engine-identical.
# ---------------------------------------------------------------------------

_B = 50
# cumulative Poisson(1) probabilities as exact double literals
_POIS_CDF = [
    0.3678794411714423,
    0.7357588823428846,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
]


def _boot_sql() -> str:
    u = portable_uniform_sql(
        "concat(CAST(rep AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR))",
        seed="boot:",
    )
    cases = " ".join(
        f"WHEN u < {p} THEN {i}" for i, p in enumerate(_POIS_CDF)
    )
    return f"""
WITH reps AS (SELECT unnest(range(0, {_B})) AS rep),
w AS (
  SELECT rep, o_totalprice, {u} AS u
  FROM orders CROSS JOIN reps
),
pw AS (
  SELECT rep, o_totalprice, CASE {cases} ELSE {len(_POIS_CDF)} END AS wt FROM w
),
means AS (
  SELECT rep,
         {dec_double_sql("SUM(wt * CAST(o_totalprice AS DECIMAL(30, 6)))")} / SUM(wt) AS m
  FROM pw GROUP BY rep
),
ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rk FROM means
),
full_mean AS (
  SELECT {dec_sum_sql("o_totalprice")} / COUNT(*) AS point FROM orders
)
SELECT {_B} AS n_replicates,
       (SELECT point FROM full_mean) AS point_estimate,
       MIN(CASE WHEN rk = 2 THEN m END) AS ci_lo,
       MIN(CASE WHEN rk = {_B - 1} THEN m END) AS ci_hi
FROM ranked
"""


@register("poisson_bootstrap_ci", _boot_sql())
def q_poisson_bootstrap_ci(spark, sf_dir):
    """~95% bootstrap CI for the mean order price from {_B} Poisson
    replicates (order statistics 2 and {_B}−1 of the replicate means).
    Replicate weights are a pure function of (seed, replicate, row key)
    — the resampler re-runs bit-identically, and no replicate ever
    materializes a resampled dataset: the fan-out is a map-side
    explode of weights, each mean a decimal-exact weighted aggregate.

    Scale plan: one scan fans out to B weighted partial aggregates
    (map-side combine on rep); the B-row mean relation is dim-sized.
    B scans nothing — the corpus is read ONCE."""
    o = load_table(spark, sf_dir, "orders")
    # B-fold weight explode with one portable md5 per (rep, order): the
    # map head is ~B·|orders| hash evaluations, so spread an
    # under-split scan before fanning out (operators/skew.spread_scan —
    # serial md5s were ~10 s of this query's wall at sf0.1; no-op when
    # the scan already has ≥cores splits).
    from ..operators.skew import spread_scan

    reps = F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("rep")
    w = spread_scan(o.select("o_orderkey", "o_totalprice")).select(
        "o_orderkey", "o_totalprice", reps
    )
    u = portable_uniform(
        F.concat(F.col("rep").cast("string"), F.lit(":"), F.col("o_orderkey").cast("string")),
        seed="boot:",
    )
    wt = None
    for i, p in enumerate(_POIS_CDF):
        cond = u < p
        wt = F.when(cond, i) if wt is None else wt.when(cond, i)
    wt = wt.otherwise(len(_POIS_CDF))
    pw = w.select("rep", "o_totalprice", wt.alias("wt"))
    means = pw.groupBy("rep").agg(
        (
            F.sum(F.col("wt") * F.col("o_totalprice").cast("decimal(30, 6)"))
            .cast("double")
            / F.sum("wt")
        ).alias("m")
    )
    rk = Window.orderBy("m")
    ranked = means.select("m", F.row_number().over(rk).alias("rk"))
    point = o.agg(
        (dec_sum("o_totalprice") / F.count(F.lit(1))).alias("point_estimate")
    )
    return (
        ranked.agg(
            F.min(F.when(F.col("rk") == 2, F.col("m"))).alias("ci_lo"),
            F.min(F.when(F.col("rk") == _B - 1, F.col("m"))).alias("ci_hi"),
        )
        .crossJoin(F.broadcast(point))
        .select(
            F.lit(_B).alias("n_replicates"),
            "point_estimate",
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit forensics over order totals: observed counts vs
# the log10(1 + 1/d) expectation — the fraud/synthetic-data screen.
# (The fixture's uniform-ish price generator deliberately FAILS
# Benford — the report shows exactly how, which is the point of a
# forensic query.)
# ---------------------------------------------------------------------------

_BENFORD_SQL = """
WITH d AS (
  -- floor, not CAST-to-BIGINT: DuckDB's double→BIGINT cast rounds to
  -- nearest while Spark's truncates — floor() agrees everywhere
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
n AS (SELECT COUNT(*) AS nn FROM d)
SELECT digit,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       round(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(nn.nn), 6) AS obs_share,
       round(log10(1 + 1.0 / digit), 6) AS benford_share
FROM d CROSS JOIN n nn
GROUP BY digit
"""


@register("benford_digit_test", _BENFORD_SQL)
def q_benford_digit_test(spark, sf_dir):
    """First-significant-digit distribution of order totals against
    Benford's law.  Digit extraction goes through the integer part's
    string form (identical in both engines — no float log10 flooring);
    shares round at 1e-6.

    Scale plan: single scan, 9-key map-side-combined count, 1-row
    total broadcast."""
    o = load_table(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(F.floor(F.col("o_totalprice")).cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    n = d.agg(F.count(F.lit(1)).alias("nn"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs").cast("double") / F.col("nn"), 6).alias(
                "obs_share"
            ),
            F.round(F.log10(1 + 1.0 / F.col("digit")), 6).alias("benford_share"),
        )
    )


# ---------------------------------------------------------------------------
# A/B experiment readout with CUPED variance reduction: per-user
# pre-period means as the control covariate, deterministic hash
# assignment, θ = cov(X,Y)/var(X) from decimal-exact moments.
# ---------------------------------------------------------------------------

_AB_SPLIT_DAY = 15  # pre-period = first 15 days of the fixture month


def _ab_sql() -> str:
    from ..functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("CAST(user_id AS VARCHAR)", seed="ab:")
    dec = "DECIMAL(30, 6)"
    return f"""
WITH b AS (SELECT CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP)
             + INTERVAL {_AB_SPLIT_DAY} DAY AS cut FROM events),
per_user AS (
  SELECT user_id, {h} % 2 AS grp,
         {dec_double_sql(f"SUM(CASE WHEN ts < cut THEN CAST(value AS {dec}) END)")}
           / COUNT(CASE WHEN ts < cut THEN 1 END) AS x,
         {dec_double_sql(f"SUM(CASE WHEN ts >= cut THEN CAST(value AS {dec}) END)")}
           / COUNT(CASE WHEN ts >= cut THEN 1 END) AS y
  FROM events CROSS JOIN b
  GROUP BY user_id
  HAVING COUNT(CASE WHEN ts < cut THEN 1 END) > 0
     AND COUNT(CASE WHEN ts >= cut THEN 1 END) > 0
),
q AS (
  SELECT user_id, grp,
         CAST(round(x, 9) AS DECIMAL(38, 9)) AS xq,
         CAST(round(y, 9) AS DECIMAL(38, 9)) AS yq
  FROM per_user
),
adj AS (
  -- per-arm DECIMAL moment sums; the global moments are then window
  -- sums over this 2-row relation — exact, and the event log is
  -- scanned exactly once
  SELECT grp, COUNT(*) AS n_g,
         SUM(xq) AS dx_g, SUM(yq) AS dy_g,
         SUM(xq * xq) AS dxx_g, SUM(xq * yq) AS dxy_g
  FROM q GROUP BY grp
),
tot AS (
  SELECT grp, n_g, dx_g, dy_g,
         SUM(n_g) OVER () AS n,
         {dec_double_sql('SUM(dx_g) OVER ()')} AS sx,
         {dec_double_sql('SUM(dy_g) OVER ()')} AS sy,
         {dec_double_sql('SUM(dxx_g) OVER ()')} AS sxx,
         {dec_double_sql('SUM(dxy_g) OVER ()')} AS sxy
  FROM adj
)
SELECT CAST(grp AS BIGINT) AS grp,
       CAST(n_g AS BIGINT) AS n_users,
       round({dec_double_sql('dy_g')} / n_g, 6) AS mean_y,
       round({dec_double_sql('dy_g')} / n_g
             - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
               * ({dec_double_sql('dx_g')} / n_g - sx / n), 6) AS mean_y_cuped
FROM tot
"""


@register("ab_cuped_readout", _ab_sql())
def q_ab_cuped_readout(spark, sf_dir):
    """Per-arm experiment readout: raw post-period mean and the
    CUPED-adjusted mean (ŷ − θ(x̄_g − x̄), θ from global pre/post
    covariance) under deterministic hash assignment.  Per-user means
    are quantized to the 1e-9 grid before the moment sums (exact
    DECIMAL thereafter), so θ and both adjusted means are identical
    across engines.

    Scale plan: one scan → user-keyed pre/post aggregate (map-side
    combined); the moment relation is 1-row, broadcast into the 2-row
    per-arm rollup.  CUPED at 100 TB costs exactly one extra pass over
    the USER dimension, not the event log."""
    from ..functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (F.date_trunc("day", F.min("ts")) + F.expr(f"INTERVAL {_AB_SPLIT_DAY} DAY")).alias("cut")
    )
    dec = "decimal(30, 6)"
    per_user = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            (portable_hash64("user_id", seed="ab:") % 2).alias("grp_raw"),
            (
                F.sum(F.when(F.col("ts") < F.col("cut"), F.col("value").cast(dec)))
                .cast("double")
                / F.count(F.when(F.col("ts") < F.col("cut"), 1))
            ).alias("x"),
            (
                F.sum(F.when(F.col("ts") >= F.col("cut"), F.col("value").cast(dec)))
                .cast("double")
                / F.count(F.when(F.col("ts") >= F.col("cut"), 1))
            ).alias("y"),
            F.count(F.when(F.col("ts") < F.col("cut"), 1)).alias("pre_n"),
            F.count(F.when(F.col("ts") >= F.col("cut"), 1)).alias("post_n"),
        )
        .filter((F.col("pre_n") > 0) & (F.col("post_n") > 0))
    )
    # grp must be an agg output (hash of the group key) — first() of the
    # per-row hash is identical for all rows of the user
    q = per_user.select(
        F.col("grp_raw").alias("grp"),
        F.round("x", 9).cast("decimal(38, 9)").alias("xq"),
        F.round("y", 9).cast("decimal(38, 9)").alias("yq"),
    )
    # per-arm DECIMAL moments; globals are window sums over the 2-row
    # arm relation — the event log is scanned once (plan-tested)
    adj = q.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("xq").alias("dx_g"),
        F.sum("yq").alias("dy_g"),
        F.sum(F.col("xq") * F.col("xq")).alias("dxx_g"),
        F.sum(F.col("xq") * F.col("yq")).alias("dxy_g"),
    )
    w_all = Window.partitionBy()
    tot = adj.select(
        "grp",
        "n_g",
        "dx_g",
        "dy_g",
        F.sum("n_g").over(w_all).alias("n"),
        F.sum("dx_g").over(w_all).cast("double").alias("sx"),
        F.sum("dy_g").over(w_all).cast("double").alias("sy"),
        F.sum("dxx_g").over(w_all).cast("double").alias("sxx"),
        F.sum("dxy_g").over(w_all).cast("double").alias("sxy"),
    )
    th = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return tot.select(
        F.col("grp").cast("long").alias("grp"),
        F.col("n_g").cast("long").alias("n_users"),
        F.round(F.col("dy_g").cast("double") / F.col("n_g"), 6).alias("mean_y"),
        F.round(
            F.col("dy_g").cast("double") / F.col("n_g")
            - th * (F.col("dx_g").cast("double") / F.col("n_g") - F.col("sx") / F.col("n")),
            6,
        ).alias("mean_y_cuped"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation: recency/frequency/monetary quintiles per customer,
# reported as the segment-cell histogram.
# ---------------------------------------------------------------------------

_RFM_SQL = """
WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
base AS (
  SELECT o_custkey,
         date_diff('day', MAX(CAST(o_orderdate AS DATE)), ANY_VALUE(mx.maxd))
           AS recency,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(30, 6))) AS monetary
  FROM orders CROSS JOIN mx GROUP BY o_custkey
),
scored AS (
  SELECT NTILE(5) OVER (ORDER BY recency DESC, o_custkey) AS r_sc,
         NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_sc,
         NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_sc
  FROM base
)
SELECT r_sc, f_sc, m_sc, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM scored GROUP BY 1, 2, 3
"""


@register("rfm_segment_counts", _RFM_SQL)
def q_rfm_segment_counts(spark, sf_dir):
    """RFM quintile segmentation (5×5×5 cells) of the customer base —
    deterministic NTILE with (metric, custkey) tiebreaks; monetary
    ranks on the exact DECIMAL sum so ordering never depends on float
    accumulation.

    Scale plan: the fact collapses to one row per customer first; the
    three NTILEs are single-sort windows over the CUSTOMER dimension —
    the exact gate form.  `rfm_segment_counts_scaled`
    (queries/rangescale.py) replaces them with rank-selected quintile
    cutpoints + a map-side CASE (identical output, shared oracle, no
    single-task sort) and is the 100 TB form."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    base = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.first("maxd"), F.max(F.col("o_orderdate").cast("date"))
            ).alias("recency"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(30, 6)")).alias("monetary"),
        )
    )
    scored = base.select(
        F.ntile(5)
        .over(Window.orderBy(F.desc("recency"), F.asc("o_custkey")))
        .alias("r_sc"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("frequency"), F.asc("o_custkey")))
        .alias("f_sc"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("monetary"), F.asc("o_custkey")))
        .alias("m_sc"),
    )
    return scored.groupBy("r_sc", "f_sc", "m_sc").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier repeat-purchase curve: survival of "time to next order"
# with right-censoring at the observation end — the correct estimator
# where the naive gap histogram (interorder_gap_histogram) is biased by
# ignoring customers who have not yet reordered.
# ---------------------------------------------------------------------------

_KM_MAX_T = 60  # report the curve over the first 60 days


def _km_sql() -> str:
    return f"""
WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
g AS (
  SELECT date_diff('day', CAST(o_orderdate AS DATE),
           LEAD(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) AS gap,
         date_diff('day', CAST(o_orderdate AS DATE), mx.maxd) AS to_end
  FROM orders CROSS JOIN mx
),
obs AS (
  SELECT CASE WHEN gap IS NULL THEN to_end ELSE gap END AS t,
         CASE WHEN gap IS NULL THEN 0 ELSE 1 END AS d
  FROM g
),
per_t AS (
  SELECT t, SUM(d) AS d_events, SUM(1 - d) AS c_censored
  FROM obs GROUP BY t
),
risk AS (
  SELECT t, d_events,
         SUM(d_events + c_censored) OVER () 
           - COALESCE(SUM(d_events + c_censored) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS at_risk
  FROM per_t
),
km AS (
  SELECT t, d_events, at_risk,
         SUM(CAST(round(ln(1.0 - CAST(d_events AS DOUBLE) / at_risk), 9)
                  AS DECIMAL(38, 9)))
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS log_s
  FROM risk WHERE d_events > 0 AND at_risk > d_events
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(d_events AS BIGINT) AS d_events,
       CAST(at_risk AS BIGINT) AS at_risk,
       round(exp({dec_double_sql("log_s")}), 6) AS survival
FROM km WHERE t <= {_KM_MAX_T}
"""


@register("kaplan_meier_repeat_purchase", _km_sql())
def q_kaplan_meier_repeat_purchase(spark, sf_dir):
    """Kaplan-Meier estimate of P(no repeat order by day t): each
    order contributes either its gap to the customer's next order
    (event) or its distance to the dataset end (censored).  The
    product-limit estimator runs in log space — per-time hazards
    ln(1−d/n) quantized to 1e-9 and prefix-summed in exact DECIMAL —
    so the curve is bit-stable under any partitioning.

    Scale plan: one LEAD window per customer (bounded histories), then
    everything operates on the per-distinct-time relation
    (calendar-bounded); the at-risk prefix and the log-survival prefix
    are windows over THAT, never the orders fact."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    w_cust = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.crossJoin(F.broadcast(mx)).select(
        F.datediff(
            F.lead(F.col("o_orderdate").cast("date")).over(w_cust),
            F.col("o_orderdate").cast("date"),
        ).alias("gap"),
        F.datediff(F.col("maxd"), F.col("o_orderdate").cast("date")).alias("to_end"),
    )
    obs = g.select(
        F.coalesce(F.col("gap"), F.col("to_end")).alias("t"),
        F.when(F.col("gap").isNull(), 0).otherwise(1).alias("d"),
    )
    per_t = obs.groupBy("t").agg(
        F.sum("d").alias("d_events"), F.sum(1 - F.col("d")).alias("c_censored")
    )
    w_all = Window.partitionBy()
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = per_t.select(
        "t",
        "d_events",
        (
            F.sum(F.col("d_events") + F.col("c_censored")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d_events") + F.col("c_censored")).over(w_prev),
                F.lit(0),
            )
        ).alias("at_risk"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = risk.filter(
        (F.col("d_events") > 0) & (F.col("at_risk") > F.col("d_events"))
    ).select(
        "t",
        "d_events",
        "at_risk",
        F.sum(
            F.round(
                F.log(1.0 - F.col("d_events").cast("double") / F.col("at_risk")), 9
            ).cast("decimal(38, 9)")
        )
        .over(w_cum)
        .alias("log_s"),
    )
    return km.filter(F.col("t") <= _KM_MAX_T).select(
        F.col("t").cast("long").alias("t_days"),
        F.col("d_events").cast("long").alias("d_events"),
        F.col("at_risk").cast("long").alias("at_risk"),
        F.round(F.exp(F.col("log_s").cast("double")), 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Revenue mix decomposition (price/volume/cross) between two periods —
# the FP&A bridge: ΔRev per segment = Δn·p̄_A + n_A·Δp̄ + Δn·Δp̄.
# ---------------------------------------------------------------------------

_MIX_CUT = "1997-01-01"


def _mix_sql() -> str:
    dec = "DECIMAL(30, 6)"
    return f"""
WITH per AS (
  SELECT o_orderpriority AS segment,
         CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_MIX_CUT}'
              THEN 'A' ELSE 'B' END AS period,
         COUNT(*) AS n,
         SUM(CAST(o_totalprice AS {dec})) AS rev_dec
  FROM orders GROUP BY 1, 2
),
wide AS (
  SELECT segment,
         SUM(CASE WHEN period = 'A' THEN n ELSE 0 END) AS n_a,
         SUM(CASE WHEN period = 'B' THEN n ELSE 0 END) AS n_b,
         {dec_double_sql("SUM(CASE WHEN period = 'A' THEN rev_dec END)")} AS rev_a,
         {dec_double_sql("SUM(CASE WHEN period = 'B' THEN rev_dec END)")} AS rev_b
  FROM per GROUP BY segment
)
SELECT segment,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(rev_a, 6) AS rev_a, round(rev_b, 6) AS rev_b,
       round((n_b - n_a) * (rev_a / n_a), 6) AS volume_effect,
       round(n_a * (rev_b / n_b - rev_a / n_a), 6) AS price_effect,
       round((n_b - n_a) * (rev_b / n_b - rev_a / n_a), 6) AS cross_effect
FROM wide WHERE n_a > 0 AND n_b > 0
"""


@register("revenue_mix_decomposition", _mix_sql())
def q_revenue_mix_decomposition(spark, sf_dir):
    """Two-period revenue bridge per order-priority segment: the
    volume/price/cross decomposition whose three effects sum exactly to
    ΔRev (pinned by tests).  Revenue sums are exact DECIMAL; the
    average prices divide once each and every downstream product uses
    those identical doubles.

    Scale plan: one scan → (segment, period) aggregate (map-side
    combined, 2·|segments| cells); the pivot-to-wide and the bridge
    arithmetic are dim-sized."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(30, 6)"
    per = o.groupBy(
        F.col("o_orderpriority").alias("segment"),
        F.when(
            F.col("o_orderdate").cast("date") < F.lit(_MIX_CUT).cast("date"), "A"
        )
        .otherwise("B")
        .alias("period"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast(dec)).alias("rev_dec"),
    )
    wide = per.groupBy("segment").agg(
        F.sum(F.when(F.col("period") == "A", F.col("n")).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("period") == "B", F.col("n")).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("period") == "A", F.col("rev_dec"))).cast("double").alias("rev_a"),
        F.sum(F.when(F.col("period") == "B", F.col("rev_dec"))).cast("double").alias("rev_b"),
    )
    pa = F.col("rev_a") / F.col("n_a")
    pb = F.col("rev_b") / F.col("n_b")
    return wide.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "segment",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("rev_a", 6).alias("rev_a"),
        F.round("rev_b", 6).alias("rev_b"),
        F.round((F.col("n_b") - F.col("n_a")) * pa, 6).alias("volume_effect"),
        F.round(F.col("n_a") * (pb - pa), 6).alias("price_effect"),
        F.round((F.col("n_b") - F.col("n_a")) * (pb - pa), 6).alias("cross_effect"),
    )


# ---------------------------------------------------------------------------
# Exact trimmed mean: per event type, the mean of values with the top
# and bottom 5% of ROWS removed (rank-exact trimming, the robust
# estimator between plain mean and median).
# ---------------------------------------------------------------------------

_TRIM_PCT = 5  # percent trimmed from EACH tail


def _trim_sql() -> str:
    return f"""
WITH r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
kept AS (
  SELECT event_type, value, n FROM r
  WHERE rk > (n * {_TRIM_PCT}) // 100
    AND rk <= n - (n * {_TRIM_PCT}) // 100
)
SELECT event_type,
       CAST(ANY_VALUE(n) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       {dec_sum_sql("value")} / COUNT(*)
         AS trimmed_mean
FROM kept GROUP BY event_type
"""


@register("trimmed_mean_value", _trim_sql())
def q_trimmed_mean_value(spark, sf_dir):
    """{_TRIM_PCT}%-per-tail trimmed mean of event values per type:
    trimming is RANK-exact (row_number with event_id tiebreak, integer
    floor-div cutoffs — both engines drop the identical row set), and
    the surviving mean is an exact DECIMAL sum with one division.
    Joins the robust family beside the MAD and 3σ outlier gates.

    Scale plan: one per-type sort window (partition-parallel across
    types) then a type-keyed aggregate; at unbounded group sizes the
    KLL-sketch quantile cut replaces the exact ranks, same pairing as
    everywhere."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_n = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    cut = F.expr(f"(n * {_TRIM_PCT}) div 100")
    kept = r.filter((F.col("rk") > cut) & (F.col("rk") <= F.col("n") - cut))
    return kept.groupBy("event_type").agg(
        F.first("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).alias("n_kept"),
        (dec_sum("value") / F.count(F.lit(1))).alias("trimmed_mean"),
    )


# ---------------------------------------------------------------------------
# Rolling correlation: 7-day windowed Pearson r between click and
# purchase daily volumes — integer moment sums inside the frame, one
# closed-form evaluation per row.
# ---------------------------------------------------------------------------

_ROLL_W = 7

_ROLLCORR_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY 1
),
w AS (
  SELECT d, COUNT(*) OVER win AS n,
         SUM(x) OVER win AS sx, SUM(y) OVER win AS sy,
         SUM(x * x) OVER win AS sxx, SUM(y * y) OVER win AS syy,
         SUM(x * y) OVER win AS sxy
  FROM daily
  WINDOW win AS (ORDER BY d ROWS BETWEEN {_ROLL_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT CAST(d AS TIMESTAMP) AS day, CAST(n AS BIGINT) AS n_days,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
         AS corr{_ROLL_W}d
FROM w WHERE n = {_ROLL_W}
"""


@register("rolling_correlation_counts", _ROLLCORR_SQL)
def q_rolling_correlation_counts(spark, sf_dir):
    """{_ROLL_W}-day rolling Pearson correlation between click and
    purchase daily volumes — the co-movement monitor.  All five moment
    sums are integer (counts), computed inside the frame; the closed
    form evaluates identically on both engines and rounds at 1e-6.

    Scale plan: the event log collapses to one row per day first; the
    rolling frame runs over the calendar relation."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
    )
    win = Window.orderBy("d").rowsBetween(-(_ROLL_W - 1), 0)
    w = daily.select(
        "d",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
    ).filter(F.col("n") == _ROLL_W)
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return w.select(
        F.col("d").cast("timestamp").alias("day"),
        F.col("n").cast("long").alias("n_days"),
        F.round(corr, 6).alias(f"corr{_ROLL_W}d"),
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation: does click volume LEAD purchase volume?
# Pearson r of x(t) vs y(t+lag) for lags 0..5 — the lead-lag scan
# behind "which metric moves first".
# ---------------------------------------------------------------------------

_XCORR_MAX_LAG = 5

_XCORR_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY 1
),
lags AS (SELECT unnest(range(0, {_XCORR_MAX_LAG + 1})) AS lag),
j AS (
  SELECT l.lag, a.x, b.y
  FROM lags l
  JOIN daily a ON true
  JOIN daily b ON b.d = a.d + CAST(l.lag AS INTEGER)
)
SELECT CAST(lag AS BIGINT) AS lag, CAST(COUNT(*) AS BIGINT) AS n_days,
       round((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
             / (sqrt(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))
                * sqrt(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y))), 6) AS r
FROM j GROUP BY lag
"""


@register("lagged_cross_correlation", _XCORR_SQL)
def q_lagged_cross_correlation(spark, sf_dir):
    """Cross-correlation of click(t) against purchase(t+lag) for lags
    0..{_XCORR_MAX_LAG}: integer moments per lag, closed-form r,
    deterministic rounding.  (On the fixture's independent generators
    the profile is flat noise — the oracle certifies the machinery, a
    real deployment reads the argmax lag.)

    Scale plan: both series live on the per-day relation; the lag
    alignment is an equi-join on shifted days ({_XCORR_MAX_LAG + 1}×
    calendar rows), then one grouped aggregate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
    )
    daily = daily.localCheckpoint(eager=True)  # both join sides + lag fan-out
    a = daily.select("d", "x").crossJoin(
        F.broadcast(
            daily.sparkSession.range(_XCORR_MAX_LAG + 1).select(
                F.col("id").cast("int").alias("lag")
            )
        )
    )
    b = daily.select(F.col("d").alias("d_b"), "y")
    j = a.join(b, F.date_add(a["d"], F.col("lag")) == b["d_b"]).select(
        "lag", "x", "y"
    )
    n = F.count(F.lit(1))
    corr = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        F.sqrt(n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        * F.sqrt(n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y"))
    )
    return j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_days"), F.round(corr, 6).alias("r")
    ).select(F.col("lag").cast("long").alias("lag"), "n_days", "r")


# ---------------------------------------------------------------------------
# Higher-moment profile: skewness and excess kurtosis per event type
# from exact DECIMAL raw-moment sums (the central-moment algebra runs
# on identical doubles afterward).
# ---------------------------------------------------------------------------


def _moments_sql() -> str:
    dec = "DECIMAL(38, 6)"
    return f"""
WITH m AS (
  SELECT event_type, COUNT(*) AS n,
         {dec_double_sql(f'SUM(CAST(value AS {dec}))')} AS s1,
         {dec_double_sql(f'SUM(CAST(value AS {dec}) * CAST(value AS {dec}))')} AS s2,
         {dec_double_sql(f'SUM(CAST(value AS {dec}) * CAST(value AS {dec}) * CAST(value AS {dec}))')} AS s3,
         {dec_double_sql(f'SUM(CAST(value AS {dec}) * CAST(value AS {dec}) * CAST(value AS {dec}) * CAST(value AS {dec}))')} AS s4
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(s1 / n, 6) AS mean,
       round((s2 - s1 * s1 / n) / n, 6) AS var_pop,
       round(((s3 - 3 * (s1 / n) * s2 + 2 * n * (s1 / n) * (s1 / n) * (s1 / n)) / n)
             / pow((s2 - s1 * s1 / n) / n, 1.5), 6) AS skewness,
       round(((s4 - 4 * (s1 / n) * s3 + 6 * (s1 / n) * (s1 / n) * s2
               - 3 * n * pow(s1 / n, 4)) / n)
             / pow((s2 - s1 * s1 / n) / n, 2) - 3, 6) AS excess_kurtosis
FROM m
"""


@register("higher_moments_profile", _moments_sql())
def q_higher_moments_profile(spark, sf_dir):
    """Population mean/variance/skewness/excess-kurtosis per event
    type.  The four raw power sums accumulate in exact DECIMAL (order-
    independent, unlike streaming central-moment updates); the central-
    moment algebra then runs the identical double sequence on both
    engines, rounded at 1e-6.  Extends the profiling family
    (profile_max/min, value_stats_by_type) to shape statistics —
    heavy-tail and asymmetry screens.

    Scale plan: one scan, one |types|-key map-side-combined aggregate;
    ≤6-decimal values keep s4 below DECIMAL(38,6) range for ~10¹² rows
    per group at |value|≤10³ — past that, widen the scale, same plan."""
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(38, 6)"
    v = F.col("value").cast(dec)
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
        F.sum(v * v * v).cast("double").alias("s3"),
        F.sum(v * v * v * v).cast("double").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / n
    m3 = (
        F.col("s3") - 3 * mu * F.col("s2") + 2 * n * mu * mu * mu
    ) / n
    m4 = (
        F.col("s4")
        - 4 * mu * F.col("s3")
        + 6 * mu * mu * F.col("s2")
        - 3 * n * F.pow(mu, 4)
    ) / n
    return m.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(mu, 6).alias("mean"),
        F.round(var, 6).alias("var_pop"),
        F.round(m3 / F.pow(var, 1.5), 6).alias("skewness"),
        F.round(m4 / F.pow(var, 2) - 3, 6).alias("excess_kurtosis"),
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test on conversion rates between the two halves of
# the event timeline, z² cleared to exact integers (the same algebraic
# discipline as event_rate_anomaly's z-test).
# ---------------------------------------------------------------------------

_PZ_Z2_NUM, _PZ_Z2_DEN = 384, 100  # z² = 3.84 ⇔ z = 1.96 (α = 0.05)

_PROPZ_SQL = f"""
WITH b AS (SELECT CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP)
             + INTERVAL 15 DAY AS cut FROM events),
s AS (
  SELECT CASE WHEN ts < cut THEN 'A' ELSE 'B' END AS per,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events CROSS JOIN b
  WHERE event_type IN ('click', 'purchase')
),
agg AS (
  SELECT SUM(CASE WHEN per = 'A' THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN per = 'A' THEN conv ELSE 0 END) AS x_a,
         SUM(CASE WHEN per = 'B' THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN per = 'B' THEN conv ELSE 0 END) AS x_b
  FROM s
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
       round(CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b, 6)
         AS rate_diff,
       -- z² > 3.84 cleared of all divisions/sqrts:
       -- (x_a·n_b − x_b·n_a)² · (n_a+n_b) · {_PZ_Z2_DEN}
       --   > {_PZ_Z2_NUM} · n_a·n_b · x·(n_a+n_b−x)   where x = x_a+x_b
       -- in DECIMAL(38,0): d² alone passes 2^63 once n ~ 4·10⁴
       (CAST(x_a * n_b - x_b * n_a AS DECIMAL(38, 0))
          * CAST(x_a * n_b - x_b * n_a AS DECIMAL(38, 0))
          * (n_a + n_b) * {_PZ_Z2_DEN}
        > CAST({_PZ_Z2_NUM} AS DECIMAL(38, 0)) * n_a * n_b * (x_a + x_b)
          * (n_a + n_b - x_a - x_b)) AS significant_95
FROM agg
"""


@register("conversion_rate_ab_ztest", _PROPZ_SQL)
def q_conversion_rate_ab_ztest(spark, sf_dir):
    """Pooled two-proportion z-test: did the purchase share of
    click+purchase traffic shift between the first and second half of
    the month?  The significance boolean is the z² inequality cleared
    of every division and square root — exact int64 (magnitudes ~10¹⁵
    at sf0.1; the DECIMAL widening path is noted for beyond) — so the
    verdict is bit-identical on any engine, the same discipline as
    `event_rate_anomaly`.

    Scale plan: one scan → 4 integers.  Inference at 100 TB is the
    cheap part; the discipline is keeping it exact."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (F.date_trunc("day", F.min("ts")) + F.expr("INTERVAL 15 DAY")).alias("cut")
    )
    s = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .crossJoin(F.broadcast(b))
        .select(
            F.when(F.col("ts") < F.col("cut"), "A").otherwise("B").alias("per"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
        )
    )
    agg = s.agg(
        F.sum(F.when(F.col("per") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("per") == "A", F.col("conv")).otherwise(0)).alias("x_a"),
        F.sum(F.when(F.col("per") == "B", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("per") == "B", F.col("conv")).otherwise(0)).alias("x_b"),
    )
    # DECIMAL(38,0) arithmetic: d² alone overflows int64 past n ~ 4e4
    dec0 = "decimal(38, 0)"
    d = (F.col("x_a") * F.col("n_b") - F.col("x_b") * F.col("n_a")).cast(dec0)
    x = F.col("x_a") + F.col("x_b")
    n = F.col("n_a") + F.col("n_b")
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("x_a").cast("long").alias("x_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("x_b").cast("long").alias("x_b"),
        F.round(
            F.col("x_a").cast("double") / F.col("n_a")
            - F.col("x_b").cast("double") / F.col("n_b"),
            6,
        ).alias("rate_diff"),
        (
            d * d * n * _PZ_Z2_DEN
            > F.lit(_PZ_Z2_NUM).cast(dec0)
            * F.col("n_a")
            * F.col("n_b")
            * x
            * (n - x)
        ).alias("significant_95"),
    )


# ---------------------------------------------------------------------------
# Quantile treatment effects: per-decile distributional difference
# between the hash-assigned A/B arms — what a mean-only readout
# (ab_cuped_readout) can't see.
# ---------------------------------------------------------------------------

_QTE_PS = (0.1, 0.25, 0.5, 0.75, 0.9)


def _qte_sql() -> str:
    from ..functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("CAST(user_id AS VARCHAR)", seed="ab:")
    rows = " UNION ALL ".join(
        f"""SELECT CAST({p} AS DOUBLE) AS p,
           round(quantile_cont(CASE WHEN grp = 0 THEN value END, {p}), 6) AS q_a,
           round(quantile_cont(CASE WHEN grp = 1 THEN value END, {p}), 6) AS q_b,
           round(round(quantile_cont(CASE WHEN grp = 1 THEN value END, {p}), 6)
                 - round(quantile_cont(CASE WHEN grp = 0 THEN value END, {p}), 6), 6)
             AS qte
    FROM assigned"""
        for p in _QTE_PS
    )
    return f"""
WITH assigned AS (
  SELECT value, {h} % 2 AS grp FROM events
)
{rows}
"""


@register("ab_quantile_treatment_effects", _qte_sql())
def q_ab_quantile_treatment_effects(spark, sf_dir):
    """Quantile treatment effects at p10/p25/p50/p75/p90 between the
    same deterministic arms as `ab_cuped_readout` — the distributional
    readout (a treatment can move the tails and leave the mean flat).
    Interpolated exact quantiles (Spark percentile ≡ DuckDB
    quantile_cont); the effect is differenced AFTER each side's 1e-6
    rounding so both engines subtract identical doubles.

    Scale plan: one scan; each quantile is the exact per-arm sort path
    at certification scale with the KLL sketch as the declared
    unbounded-scale stand-in."""
    from ..functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events")
    assigned = ev.select(
        "value", (portable_hash64("user_id", seed="ab:") % 2).alias("grp")
    )
    out = None
    for p in _QTE_PS:
        q_a = F.round(
            F.expr(f"percentile(CASE WHEN grp = 0 THEN value END, {p})"), 6
        )
        q_b = F.round(
            F.expr(f"percentile(CASE WHEN grp = 1 THEN value END, {p})"), 6
        )
        row = assigned.agg(
            F.lit(p).alias("p"),
            q_a.alias("q_a"),
            q_b.alias("q_b"),
        ).select("p", "q_a", "q_b", F.round(F.col("q_b") - F.col("q_a"), 6).alias("qte"))
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Neyman allocation: distribute a fixed sampling budget across strata
# ∝ N_h·S_h (stratum size × within-stratum std) — the optimal-variance
# design for stratified estimation, with largest-remainder integer
# quotas that sum EXACTLY to the budget (token_budget_allocation's
# apportionment discipline applied to sampling design).
# ---------------------------------------------------------------------------

_NEY_BUDGET = 1000


def _neyman_sql() -> str:
    dec = "DECIMAL(38, 6)"
    return f"""
WITH m AS (
  SELECT event_type, COUNT(*) AS n,
         {dec_double_sql(f'SUM(CAST(value AS {dec}))')} AS s1,
         {dec_double_sql(f'SUM(CAST(value AS {dec}) * CAST(value AS {dec}))')} AS s2
  FROM events GROUP BY event_type
),
wgt AS (
  SELECT event_type, n,
         CAST(round(n * sqrt((s2 - s1 * s1 / n) / n), 6) AS DECIMAL(38, 6)) AS nh_sh
  FROM m
),
tot AS (
  SELECT event_type, n, nh_sh, SUM(nh_sh) OVER () AS tot_dec FROM wgt
),
quota AS (
  SELECT event_type, n, nh_sh,
         CAST((CAST(nh_sh * {_NEY_BUDGET} AS DECIMAL(38, 6)) * 1000000)
              AS HUGEINT) // CAST(tot_dec * 1000000 AS HUGEINT) AS base_q,
         CAST((CAST(nh_sh * {_NEY_BUDGET} AS DECIMAL(38, 6)) * 1000000)
              AS HUGEINT) % CAST(tot_dec * 1000000 AS HUGEINT) AS rem_key
  FROM tot
),
ranked AS (
  SELECT event_type, n, base_q,
         ROW_NUMBER() OVER (ORDER BY rem_key DESC, event_type) AS rk,
         {_NEY_BUDGET} - SUM(base_q) OVER () AS missing
  FROM quota
)
SELECT event_type, CAST(n AS BIGINT) AS stratum_n,
       CAST(base_q + CASE WHEN rk <= missing THEN 1 ELSE 0 END AS BIGINT)
         AS sample_quota
FROM ranked
"""


@register("neyman_allocation", _neyman_sql())
def q_neyman_allocation(spark, sf_dir):
    """Per-stratum sample quotas for a {_NEY_BUDGET}-row budget by
    Neyman allocation (∝ N_h·S_h, population std from exact DECIMAL
    moments, quantized to 1e-6 before apportionment).  The
    largest-remainder rounding guarantees Σ quotas = budget exactly —
    the property the downstream stratified sampler requires.  All
    division/remainder arithmetic runs on scaled integers, so quotas
    are bit-identical across engines.

    Scale plan: one scan → per-type moments; the apportionment runs on
    the |types|-row relation (windows dim-sized)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(38, 6)"
    v = F.col("value").cast(dec)
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
    )
    nh_sh = F.round(
        F.col("n")
        * F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")),
        6,
    ).cast("decimal(38, 6)")
    wgt = m.select("event_type", "n", nh_sh.alias("nh_sh"))
    w_all = Window.partitionBy()
    tot = wgt.withColumn("tot_dec", F.sum("nh_sh").over(w_all))
    scaled = tot.select(
        "event_type",
        "n",
        (F.col("nh_sh") * _NEY_BUDGET * 1000000).cast("decimal(38, 0)").alias("num"),
        (F.col("tot_dec") * 1000000).cast("decimal(38, 0)").alias("den"),
    )
    quota = scaled.select(
        "event_type",
        "n",
        F.expr("CAST(num div den AS BIGINT)").alias("base_q"),
        (F.col("num") % F.col("den")).alias("rem_key"),
    )
    w_rk = Window.orderBy(F.desc("rem_key"), F.asc("event_type"))
    ranked = quota.withColumn("rk", F.row_number().over(w_rk)).withColumn(
        "missing", F.lit(_NEY_BUDGET) - F.sum("base_q").over(w_all)
    )
    return ranked.select(
        "event_type",
        F.col("n").cast("long").alias("stratum_n"),
        (
            F.col("base_q") + F.when(F.col("rk") <= F.col("missing"), 1).otherwise(0)
        )
        .cast("long")
        .alias("sample_quota"),
    )


# ---------------------------------------------------------------------------
# Wilson score intervals for daily conversion rates — the CI that stays
# inside [0,1] and behaves at small n, unlike the Wald interval.
# ---------------------------------------------------------------------------

_WILSON_Z = 1.959963984540054  # exact literal, shared by both engines

_WILSON_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
)
SELECT day, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
       round(CAST(x AS DOUBLE) / n, 6) AS rate,
       round(((CAST(x AS DOUBLE) / n) + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
              - {_WILSON_Z} * sqrt((CAST(x AS DOUBLE) / n)
                  * (1 - CAST(x AS DOUBLE) / n) / n
                  + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
             / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_lo,
       round(((CAST(x AS DOUBLE) / n) + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
              + {_WILSON_Z} * sqrt((CAST(x AS DOUBLE) / n)
                  * (1 - CAST(x AS DOUBLE) / n) / n
                  + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
             / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_hi
FROM daily
"""


@register("wilson_conversion_intervals", _WILSON_SQL)
def q_wilson_conversion_intervals(spark, sf_dir):
    """Daily purchase share of click+purchase traffic with 95% Wilson
    score bounds.  Inputs are exact integers per day; the closed form
    is one identical double sequence (z as a shared exact literal),
    rounded at 1e-6 — the per-day uncertainty band the z-test
    (`conversion_rate_ab_ztest`) summarizes across periods.

    Scale plan: one scan → per-day counts (map-side combined); the
    interval math is free."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "x"
            ),
        )
    )
    p = F.col("x").cast("double") / F.col("n")
    z2 = _WILSON_Z * _WILSON_Z
    center = p + z2 / (2 * F.col("n"))
    margin = _WILSON_Z * F.sqrt(
        p * (1 - p) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    return daily.select(
        "day",
        F.col("n").cast("long").alias("n"),
        F.col("x").cast("long").alias("x"),
        F.round(p, 6).alias("rate"),
        F.round((center - margin) / denom, 6).alias("wilson_lo"),
        F.round((center + margin) / denom, 6).alias("wilson_hi"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U / AUC effect size between the click and error value
# populations — the nonparametric "how often does a random click value
# exceed a random error value", exact to the half-tie: 2U is a pure
# integer from per-distinct-value cumulative counts.
# ---------------------------------------------------------------------------

_MWU_SQL = """
WITH s AS (
  SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS g
  FROM events WHERE event_type IN ('click', 'error')
),
pv AS (
  SELECT value,
         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS d1,
         SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS d2
  FROM s GROUP BY value
),
c AS (
  SELECT value, d1, d2,
         COALESCE(SUM(d1) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c1_lt,
         SUM(d1) OVER () AS n1, SUM(d2) OVER () AS n2
  FROM pv
)
SELECT CAST(ANY_VALUE(n1) AS BIGINT) AS n1,
       CAST(ANY_VALUE(n2) AS BIGINT) AS n2,
       CAST(SUM(d2 * (2 * c1_lt + d1)) AS BIGINT) AS two_u,
       CAST(SUM(d2 * (2 * c1_lt + d1)) AS DOUBLE)
         / (2.0 * ANY_VALUE(n1) * ANY_VALUE(n2)) AS auc,
       round(CAST(SUM(d2 * (2 * c1_lt + d1)) AS DOUBLE)
             / (ANY_VALUE(n1) * ANY_VALUE(n2)) - 1.0, 6) AS rank_biserial
FROM c
"""


@register("mann_whitney_auc", _MWU_SQL)
def q_mann_whitney_auc(spark, sf_dir):
    """Exact Mann-Whitney statistic as 2U = Σ_v d₂(v)·(2·c₁(<v)+d₁(v))
    over the per-distinct-value counts — "wins" count double, ties
    once, so 2U is pure int64 and AUC = 2U/(2·n₁·n₂) / rank-biserial
    r = 2·AUC−1 each divide once.  The distribution-free companion to
    `ks_two_sample_drift` (KS asks "are they different anywhere", U
    asks "which one is stochastically larger").

    Scale plan: identical skeleton to the KS query — per-value
    aggregate, cumulative window over the VALUE domain, 1-row out."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "error")).select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(2).alias("g"),
    )
    pv = s.groupBy("value").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("d2"),
    )
    w_lt = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    c = pv.select(
        "d1",
        "d2",
        F.coalesce(F.sum("d1").over(w_lt), F.lit(0)).alias("c1_lt"),
        F.sum("d1").over(w_all).alias("n1"),
        F.sum("d2").over(w_all).alias("n2"),
    )
    two_u = F.sum(F.col("d2") * (2 * F.col("c1_lt") + F.col("d1")))
    return c.agg(
        F.first("n1").cast("long").alias("n1"),
        F.first("n2").cast("long").alias("n2"),
        two_u.cast("long").alias("two_u"),
        (two_u.cast("double") / (2.0 * F.first("n1") * F.first("n2"))).alias("auc"),
        F.round(
            two_u.cast("double") / (F.first("n1") * F.first("n2")) - 1.0, 6
        ).alias("rank_biserial"),
    )


# ---------------------------------------------------------------------------
# Cramér's V for the same categorical pairs as the MI report — the
# chi-square-based association strength on a fixed [0,1] scale.
# ---------------------------------------------------------------------------


_CRAMER_CELL = (
    "CAST((nxy * nn - nx * ny) AS DOUBLE) * (nxy * nn - nx * ny)"
    " / (CAST(nn AS DOUBLE) * nx * ny)"
)


def _cramer_pair_sql(pair: str, table: str, x: str, y: str) -> str:
    # per-cell χ² term (o·N − n_x·n_y)² / (N·n_x·n_y), quantized 1e-9,
    # DECIMAL-summed; V = sqrt(χ²/(N·min(r−1, c−1)))
    return f"""
  SELECT '{pair}' AS pair, CAST(nn AS BIGINT) AS n,
         round(chi2, 6) AS chi2,
         round(sqrt(chi2 / (nn * LEAST(rx - 1, cy - 1))), 6) AS cramers_v
  FROM (
    SELECT ANY_VALUE(nn) AS nn,
           COUNT(DISTINCT x) AS rx, COUNT(DISTINCT y) AS cy,
           -- observed-cell terms + the closed-form zero-cell mass:
           -- Σ_zero n_x·n_y/N = (N² − Σ_obs n_x·n_y)/N
           {q9_sum_sql(_CRAMER_CELL)}
           + round(CAST(ANY_VALUE(nn) AS DOUBLE)
                   - CAST(SUM(CAST(nx AS DECIMAL(38, 0)) * ny) AS DOUBLE)
                     / ANY_VALUE(nn), 9) AS chi2
    FROM (
      SELECT x, y, nxy, nx, ny, nn FROM (
        SELECT x, y, COUNT(*) AS nxy
        FROM (SELECT {x} AS x, {y} AS y FROM {table}) GROUP BY 1, 2
      )
      JOIN (SELECT x, SUM(c) AS nx FROM (SELECT {x} AS x, COUNT(*) AS c FROM {table} GROUP BY 1) GROUP BY 1) USING (x)
      JOIN (SELECT y, SUM(c) AS ny FROM (SELECT {y} AS y, COUNT(*) AS c FROM {table} GROUP BY 1) GROUP BY 1) USING (y)
      CROSS JOIN (SELECT COUNT(*) AS nn FROM {table})
    )
  )
"""


_CRAMER_SQL = " UNION ALL ".join(
    _cramer_pair_sql(p, t, x, y)
    for p, t, x, y in [
        ("events.type_x_hourband", "events", "event_type",
         "CAST(EXTRACT(hour FROM ts) // 6 AS BIGINT)"),
        ("orders.priority_x_status", "orders", "o_orderpriority", "o_orderstatus"),
    ]
)


@register("cramers_v_report", _CRAMER_SQL)
def q_cramers_v_report(spark, sf_dir):
    """Cramér's V (χ²-based association on a [0,1] scale) for two of
    the MI report's pairs — ZERO cells contribute exactly (observed 0,
    expected >0: the term is e, not skipped), each per-cell term
    quantized at 1e-9 then DECIMAL-summed; one sqrt on identical
    doubles at the end.

    Scale plan: the same contingency-table skeleton as
    `mutual_information_report` — the fact collapses to |X|·|Y| cells
    first."""
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")

    def branch(pair, df, x_col, y_col):
        j = df.select(x_col.alias("x"), y_col.alias("y"))
        cxy = j.groupBy("x", "y").agg(F.count(F.lit(1)).alias("nxy"))
        cx = j.groupBy("x").agg(F.count(F.lit(1)).alias("nx"))
        cy = j.groupBy("y").agg(F.count(F.lit(1)).alias("ny"))
        nn = j.agg(F.count(F.lit(1)).alias("nn"))
        base = (
            cxy.join(F.broadcast(cx), "x")
            .join(F.broadcast(cy), "y")
            .crossJoin(F.broadcast(nn))
        )
        dev = (F.col("nxy") * F.col("nn") - F.col("nx") * F.col("ny")).cast("double")
        term = dev * dev / (F.col("nn").cast("double") * F.col("nx") * F.col("ny"))
        # observed-cell terms + closed-form zero-cell mass
        # (N² − Σ_obs n_x·n_y)/N — without it χ² understates whenever a
        # contingency cell is empty
        agg = base.agg(
            F.first("nn").alias("nn"),
            F.countDistinct("x").alias("rx"),
            F.countDistinct("y").alias("cy"),
            (
                q9_sum(term)
                + F.round(
                    F.first("nn").cast("double")
                    - F.sum(
                        F.col("nx").cast("decimal(38, 0)") * F.col("ny")
                    ).cast("double")
                    / F.first("nn"),
                    9,
                )
            ).alias("chi2"),
        )
        return agg.select(
            F.lit(pair).alias("pair"),
            F.col("nn").cast("long").alias("n"),
            F.round("chi2", 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("nn") * F.least(F.col("rx") - 1, F.col("cy") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )

    out = branch(
        "events.type_x_hourband", ev, F.col("event_type"),
        F.expr("CAST(hour(ts) div 6 AS BIGINT)"),
    )
    return out.unionByName(
        branch(
            "orders.priority_x_status", o, F.col("o_orderpriority"),
            F.col("o_orderstatus"),
        )
    )


# ---------------------------------------------------------------------------
# Decision-stump split scoring: exact information gain of each decile
# threshold on `value` against the event-type label — what MLlib's
# tree trainer computes internally with sketched bins, certified here
# with exact counts and the quantized-log discipline.
# ---------------------------------------------------------------------------

_STUMP_BINS = 10


def _stump_sql() -> str:
    qln = lambda e: f"CAST(round(ln({e}), 9) AS DECIMAL(38, 9))"  # noqa: E731
    return f"""
WITH b AS (
  SELECT event_type AS label, value,
         NTILE({_STUMP_BINS}) OVER (ORDER BY value, event_id) AS bucket
  FROM events
),
bl AS (
  SELECT bucket, label, COUNT(*) AS c, MAX(value) AS bmax
  FROM b GROUP BY 1, 2
),
tot AS (
  SELECT label, SUM(c) AS tl FROM bl GROUP BY label
),
-- densify over the bucket x label grid BEFORE cumulating: a label with
-- zero rows in bucket k must still contribute its carried-forward
-- cumulative count to threshold k (sparse cum drops it entirely)
grid AS (
  SELECT t.label, t.tl, k.bucket
  FROM tot t CROSS JOIN (SELECT DISTINCT bucket FROM bl) k
),
cum AS (
  SELECT g.bucket, g.label, g.tl,
         SUM(COALESCE(bl.c, 0)) OVER (PARTITION BY g.label ORDER BY g.bucket
                      ROWS UNBOUNDED PRECEDING) AS cl
  FROM grid g LEFT JOIN bl ON g.bucket = bl.bucket AND g.label = bl.label
),
thrs AS (
  -- thresholds on the BUCKET-grain relation: a running max over the
  -- per-(bucket,label) rows would see different prefixes within a
  -- bucket depending on label order
  SELECT bucket,
         MAX(mb) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS thr
  FROM (SELECT bucket, MAX(bmax) AS mb FROM bl GROUP BY bucket)
),
-- root-entropy numerator from the label-total relation itself, not
-- the bucket-k rows (independent of which labels bucket k contains)
stn AS (
  SELECT {dec_double_sql(f"SUM(CAST(tl AS DECIMAL(38, 9)) * {qln('CAST(tl AS DOUBLE)')})")} AS st
  FROM tot
),
per_k AS (
  SELECT cum.bucket AS k, thrs.thr,
         SUM(cum.cl) AS n_left,
         ANY_VALUE(nn.n) AS n,
         ANY_VALUE(stn.st) AS st,
         {dec_double_sql(f"SUM(CASE WHEN cum.cl > 0 THEN CAST(cum.cl AS DECIMAL(38, 9)) * {qln('CAST(cum.cl AS DOUBLE)')} ELSE CAST(0 AS DECIMAL(38,9)) END)")} AS sl,
         {dec_double_sql(f"SUM(CASE WHEN cum.tl - cum.cl > 0 THEN CAST(cum.tl - cum.cl AS DECIMAL(38, 9)) * {qln('CAST(cum.tl - cum.cl AS DOUBLE)')} ELSE CAST(0 AS DECIMAL(38,9)) END)")} AS sr
  FROM cum
  JOIN thrs ON cum.bucket = thrs.bucket
  CROSS JOIN (SELECT COUNT(*) AS n FROM b) nn
  CROSS JOIN stn
  WHERE cum.bucket < {_STUMP_BINS}
  GROUP BY cum.bucket, thrs.thr
)
SELECT CAST(k AS BIGINT) AS k, thr AS threshold,
       CAST(n_left AS BIGINT) AS n_left,
       round(
         (ln(n) - st / n)
         - (CAST(n_left AS DOUBLE) / n)
             * (CASE WHEN n_left > 0 THEN ln(n_left) ELSE 0 END - sl / GREATEST(n_left, 1))
         - (CAST(n - n_left AS DOUBLE) / n)
             * (CASE WHEN n - n_left > 0 THEN ln(n - n_left) ELSE 0 END
                - sr / GREATEST(n - n_left, 1)), 6) AS info_gain
FROM per_k
"""


@register("stump_split_gains", _stump_sql())
def q_stump_split_gains(spark, sf_dir):
    """Information gain of every decile threshold of `value` against
    the event-type label — the split-scoring inner loop of a decision
    tree, computed from EXACT per-(bucket, label) counts: each entropy
    term n·ln(n) quantizes its log at 1e-9 and sums in DECIMAL, the
    H-combination then runs an identical double sequence.  The
    certified-exact twin of what `ml_train_dt` does internally with
    sketched candidate bins (same pairing as exact vs HLL).

    Scale plan: one global NTILE assignment (the deliberately exact
    form kept as the certification gate); `stump_split_gains_scaled`
    (queries/rangescale.py) computes the identical output with
    rank-selected cutpoints and a map-side bucket CASE — no global
    sort — and shares this oracle."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.col("event_type").alias("label"),
        "value",
        F.ntile(_STUMP_BINS).over(Window.orderBy("value", "event_id")).alias("bucket"),
    )
    return stump_gains_from_bucketed(b)


def stump_gains_from_bucketed(b):
    """Shared downstream of both stump twins: exact information gain
    per threshold from a (label, value, bucket) relation — everything
    past bucket assignment runs on the bins×labels grain."""
    bl = b.groupBy("bucket", "label").agg(
        F.count(F.lit(1)).alias("c"), F.max("value").alias("bmax")
    )
    tot = bl.groupBy("label").agg(F.sum("c").alias("tl"))
    # densify over bucket x label BEFORE cumulating: a label absent
    # from bucket k still carries its cumulative count into threshold k
    grid = tot.crossJoin(F.broadcast(bl.select("bucket").distinct()))
    dense = grid.join(
        bl.select("bucket", "label", "c"), ["bucket", "label"], "left"
    )
    w_lbl = Window.partitionBy("label").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dense.select(
        "bucket",
        "label",
        "tl",
        F.sum(F.coalesce(F.col("c"), F.lit(0))).over(w_lbl).alias("cl"),
    )
    # thresholds on the BUCKET-grain relation (label order inside a
    # bucket must not affect the running max); the prefix max runs as
    # a broadcast triangular self-join over the ≤bins-row relation —
    # no unpartitioned window anywhere in either stump twin
    bm = bl.groupBy("bucket").agg(F.max("bmax").alias("mb"))
    thrs = (
        bm.alias("a")
        .join(F.broadcast(bm.alias("p")), F.col("p.bucket") <= F.col("a.bucket"))
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.max("p.mb").alias("thr"))
    )
    cum = cum.join(F.broadcast(thrs), "bucket")
    nn = b.agg(F.count(F.lit(1)).alias("n"))
    qln = lambda c: F.round(F.log(c), 9).cast("decimal(38, 9)")  # noqa: E731
    d9 = "decimal(38, 9)"
    zero9 = F.lit(0).cast(d9)
    # root-entropy numerator from the label totals themselves — a 1-row
    # broadcast, independent of which labels any bucket happens to hold
    stn = tot.agg(
        F.sum(F.col("tl").cast(d9) * qln(F.col("tl").cast("double")))
        .cast("double")
        .alias("st")
    )
    j = (
        cum.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(stn))
        .filter(F.col("bucket") < _STUMP_BINS)
    )
    cl = F.col("cl")
    cr = F.col("tl") - F.col("cl")
    per_k = j.groupBy("bucket", "thr").agg(
        F.sum("cl").alias("n_left"),
        F.first("n").alias("n"),
        F.first("st").alias("st"),
        F.sum(
            F.when(cl > 0, cl.cast(d9) * qln(cl.cast("double"))).otherwise(zero9)
        )
        .cast("double")
        .alias("sl"),
        F.sum(
            F.when(cr > 0, cr.cast(d9) * qln(cr.cast("double"))).otherwise(zero9)
        )
        .cast("double")
        .alias("sr"),
    )
    n = F.col("n")
    nl = F.col("n_left")
    nr = n - nl
    h_root = F.log(n.cast("double")) - F.col("st") / n
    h_l = F.when(nl > 0, F.log(nl.cast("double"))).otherwise(F.lit(0.0)) - F.col(
        "sl"
    ) / F.greatest(nl, F.lit(1))
    h_r = F.when(nr > 0, F.log(nr.cast("double"))).otherwise(F.lit(0.0)) - F.col(
        "sr"
    ) / F.greatest(nr, F.lit(1))
    return per_k.select(
        F.col("bucket").cast("long").alias("k"),
        F.col("thr").alias("threshold"),
        nl.cast("long").alias("n_left"),
        F.round(
            h_root - (nl.cast("double") / n) * h_l - (nr.cast("double") / n) * h_r,
            6,
        ).alias("info_gain"),
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test + one-way ANOVA: the remaining two
# classical mean-comparison tests (the z-test sibling is
# conversion_rate_ab_ztest).  Moments accumulate in DECIMAL and every
# double op runs in the same order on both engines, so the statistics
# are bit-stable before the final 1e-6 rounding.
# ---------------------------------------------------------------------------

_WELCH_SQL = f"""
WITH g AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent' ELSE 'other' END AS grp,
         COUNT(*) AS n,
         {dec_sum_sql("o_totalprice")} AS s,
         {dec_double_sql("SUM(CAST(o_totalprice AS DECIMAL(30, 6)) * CAST(o_totalprice AS DECIMAL(30, 6)))")} AS ss
  FROM orders GROUP BY 1
),
m AS (
  SELECT grp, n, s / n AS mean, (ss - n * (s / n) * (s / n)) / (n - 1) AS var FROM g
),
w AS (
  SELECT u.n AS n1, u.mean AS m1, u.var AS v1,
         o.n AS n2, o.mean AS m2, o.var AS v2,
         u.var / u.n + o.var / o.n AS se2
  FROM (SELECT * FROM m WHERE grp = 'urgent') u
  CROSS JOIN (SELECT * FROM m WHERE grp = 'other') o
)
SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n2 AS BIGINT) AS n_other,
       round(m1 - m2, 6) AS mean_diff,
       round((m1 - m2) / sqrt(se2), 6) AS t_stat,
       round(se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                          + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS df_welch
FROM w
"""


@register("welch_ttest_urgent_orders", _WELCH_SQL)
def q_welch_ttest_urgent_orders(spark, sf_dir):
    """Welch's unequal-variance t-test: do URGENT orders have a
    different mean total price than the rest?  Group moments (n, Σx,
    Σx²) come from ONE scan with decimal accumulation; means/variances
    and the Welch-Satterthwaite df are closed-form doubles evaluated
    in identical op order on both engines.

    Scale plan: a 2-row conditional aggregate (map-side combined) and
    scalar arithmetic — the entire test is one reduction regardless of
    table size, the cheapest possible inference query."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(30, 6)"
    x = F.col("o_totalprice").cast(dec)
    g = o.groupBy(
        F.when(F.col("o_orderpriority") == "1-URGENT", "urgent")
        .otherwise("other")
        .alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("s"),
        F.sum(x * x).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    m = g.select(
        "grp",
        "n",
        mean.alias("mean"),
        ((F.col("ss") - F.col("n") * mean * mean) / (F.col("n") - 1)).alias("var"),
    )
    u = m.filter(F.col("grp") == "urgent").select(
        F.col("n").alias("n1"), F.col("mean").alias("m1"), F.col("var").alias("v1")
    )
    ot = m.filter(F.col("grp") == "other").select(
        F.col("n").alias("n2"), F.col("mean").alias("m2"), F.col("var").alias("v2")
    )
    w = u.crossJoin(F.broadcast(ot)).withColumn(
        "se2", F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    )
    return w.select(
        F.col("n1").cast("long").alias("n_urgent"),
        F.col("n2").cast("long").alias("n_other"),
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt("se2"), 6).alias("t_stat"),
        F.round(
            F.col("se2")
            * F.col("se2")
            / (
                (F.col("v1") / F.col("n1"))
                * (F.col("v1") / F.col("n1"))
                / (F.col("n1") - 1)
                + (F.col("v2") / F.col("n2"))
                * (F.col("v2") / F.col("n2"))
                / (F.col("n2") - 1)
            ),
            6,
        ).alias("df_welch"),
    )


_ANOVA_SQL = f"""
WITH g AS (
  SELECT o_orderpriority AS grp, COUNT(*) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(30, 6))) AS s_dec,
         {dec_sum_sql("o_totalprice")} AS s,
         {dec_double_sql("SUM(CAST(o_totalprice AS DECIMAL(30, 6)) * CAST(o_totalprice AS DECIMAL(30, 6)))")} AS ss
  FROM orders GROUP BY 1
),
tot AS (
  -- grand total stays DECIMAL across the k-row sum (a double sum here
  -- would be group-order-dependent and cascade into every SSB term)
  SELECT SUM(n) AS nn, COUNT(*) AS k,
         {dec_double_sql("SUM(s_dec)")} AS st
  FROM g
),
parts AS (
  SELECT ANY_VALUE(t.nn) AS nn, ANY_VALUE(t.k) AS k,
         {dec_double_sql("SUM(CAST(round(g.n * (g.s / g.n - t.st / t.nn) * (g.s / g.n - t.st / t.nn), 6) AS DECIMAL(38, 6)))")} AS ssb,
         {dec_double_sql("SUM(CAST(round(g.ss - g.n * (g.s / g.n) * (g.s / g.n), 6) AS DECIMAL(38, 6)))")} AS ssw
  FROM g CROSS JOIN tot t
)
SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS n_groups,
       round((ssb / (k - 1)) / (ssw / (nn - k)), 6) AS f_stat,
       round(ssb / (ssb + ssw), 6) AS eta_squared
FROM parts
"""


@register("anova_oneway_priority", _ANOVA_SQL)
def q_anova_oneway_priority(spark, sf_dir):
    """One-way ANOVA of order total price across the five order
    priorities: F = (SSB/(k−1)) / (SSW/(N−k)) with η² as the effect
    size.  Same single-scan decimal-moment skeleton as the Welch test
    generalized to k groups; the group relation is 5 rows, so the
    between/within decomposition is dim-sized arithmetic.

    Float-order discipline: each group's SSB/SSW term is computed in
    identical double op order (so the per-group values match
    bit-exactly), then quantized at 1e-6 and summed in DECIMAL — the
    5-row sum is therefore independent of which order the engines
    visit the groups.  Only the SCALE-INVARIANT statistics (F, η²) are
    emitted: the raw sums of squares grow with N until the 1e-6
    rounding grid falls below one double ulp, where round() itself
    stops being cross-engine-stable — the ratios stay O(1) at any
    scale factor."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(30, 6)"
    x = F.col("o_totalprice").cast(dec)
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s_dec"),
        F.sum(x).cast("double").alias("s"),
        F.sum(x * x).cast("double").alias("ss"),
    )
    # grand total stays DECIMAL across the k-row sum (see oracle note)
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s_dec").cast("double").alias("st"),
    )
    j = g.crossJoin(F.broadcast(tot))
    gm = F.col("s") / F.col("n")
    ov = F.col("st") / F.col("nn")
    parts = j.agg(
        F.first("nn").alias("nn"),
        F.first("k").alias("k"),
        F.sum(F.round(F.col("n") * (gm - ov) * (gm - ov), 6).cast("decimal(38, 6)"))
        .cast("double")
        .alias("ssb"),
        F.sum(F.round(F.col("ss") - F.col("n") * gm * gm, 6).cast("decimal(38, 6)"))
        .cast("double")
        .alias("ssw"),
    )
    return parts.select(
        F.col("nn").cast("long").alias("n"),
        F.col("k").cast("long").alias("n_groups"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("nn") - F.col("k"))),
            6,
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias("eta_squared"),
    )


