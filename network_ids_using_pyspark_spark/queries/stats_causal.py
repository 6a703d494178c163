"""Robust / causal / survival family (split from stats_ext.py, VERDICT
r5 ask #5; registry names unchanged): Huber IRLS location, Holt fleet,
median CI, SPRT, IPW / AIPW average treatment effects, BH FDR screen,
Cox proportional hazards, Mahalanobis outliers, overdispersion,
Simpson-paradox detection, James-Stein shrinkage.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.numeric import dec_double_sql, grid_sum, grid_sum_sql, quantize, quantize_sql
from ..sources.tables import load_table
from . import register
from .stats_regression import (  # noqa: F401
    _HOLT_A,
    _HOLT_B,
    _IRLS_P,
    _IRLS_T,
    _OLS_B0,
    _OLS_B1,
    _OLS_B2,
    irls_fit,
    irls_score,
    irls_sql_ctes,
)

# ---------------------------------------------------------------------------
# Huber M-estimator of location by IRLS — the ESTIMATOR member of the
# robust family (MAD flags outliers, trimmed mean deletes a fixed
# fraction; Huber downweights smoothly with a 1.345·MAD elbow, the
# textbook 95%-efficiency tuning).  Three unrolled reweighting passes:
# weights and weighted terms are 1e-9-quantized and decimal-summed, so
# every iterate is bit-identical across engines.
# ---------------------------------------------------------------------------

_HUB_K = 1.345
_HUB_T = 3

def _huber_iter_sql(i: int) -> str:
    w = f"LEAST(1.0, {_HUB_K} * (SELECT s FROM scale) / abs(v - (SELECT m FROM mu{i})))"
    return f"""
mu{i + 1} AS MATERIALIZED (
  SELECT round(
    {grid_sum_sql(f"({w}) * v", 9)}
    / {grid_sum_sql(w, 9)}, 9) AS m
  FROM vals
  WHERE v <> (SELECT m FROM mu{i}) OR abs(v - (SELECT m FROM mu{i})) > 0
)"""


_HUB_SQL = (
    f"""
WITH vals AS MATERIALIZED (SELECT o_totalprice AS v FROM orders),
mu0 AS MATERIALIZED (SELECT round(median(v), 9) AS m FROM vals),
scale AS MATERIALIZED (
  SELECT round(1.4826 * median(abs(v - (SELECT m FROM mu0))), 9) AS s FROM vals
),"""
    + ",".join(_huber_iter_sql(i) for i in range(_HUB_T))
    + f"""
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM vals) AS n,
       round((SELECT m FROM mu0), 6) AS median_init,
       round((SELECT s FROM scale), 6) AS mad_scale,
       round((SELECT m FROM mu{_HUB_T}), 6) AS mu_huber,
       round((SELECT {grid_sum_sql("v", 9)} / COUNT(*) FROM vals), 6) AS mean_plain,
       (SELECT CAST(SUM(CASE WHEN abs(v - (SELECT m FROM mu{_HUB_T}))
                              > {_HUB_K} * (SELECT s FROM scale) THEN 1 ELSE 0 END) AS BIGINT)
        FROM vals) AS n_downweighted
"""
)


@register("huber_location_irls", _HUB_SQL)
def q_huber_location_irls(spark, sf_dir):
    """Huber-robust location of the order total-price column:
    median/MAD init, {_HUB_T} IRLS reweighting passes with the
    {_HUB_K}·MAD elbow, reported beside the plain mean and the count
    of observations the final fit downweights.  On TPC-H's symmetric
    prices the two centers should nearly agree — the interesting use
    is exactly when they don't.

    Values exactly AT the current iterate are excluded from each
    reweighted mean (both engines identically) so the k·s/|v−μ| weight
    never divides by zero; at weight 1 such a point would only pull μ
    toward where it already is, so the exclusion is estimator-neutral
    to first order and exact ties are measure-zero on price data.

    Scale plan: median/MAD init and each of the {_HUB_T} reweighting
    passes is one aggregate over the checkpointed value scan, read back
    with ``.first()``; μ and s live on the driver as Python floats and
    enter the next pass as literals (the `irls_fit` pattern), so nothing
    is joined or persisted between passes.  The exact median/MAD init
    is the one sort-based step — at 100 TB swap it for the GK-sketch
    quantiles, the iterations are unchanged."""
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(F.col("o_totalprice").alias("v")).localCheckpoint(eager=False)
    dev = lambda m: F.abs(F.col("v") - F.lit(m))  # noqa: E731
    m0 = vals.agg(F.round(F.median("v"), 9)).first()[0]
    s = vals.agg(F.round(1.4826 * F.median(dev(m0)), 9)).first()[0]
    m = m0
    for _ in range(_HUB_T):
        w = F.least(F.lit(1.0), F.lit(_HUB_K) * F.lit(s) / dev(m))
        m = (
            vals.filter((F.col("v") != F.lit(m)) | (dev(m) > 0))
            .agg(F.round(grid_sum(w * F.col("v"), 9) / grid_sum(w, 9), 9))
            .first()[0]
        )
    return vals.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.lit(m0), 6).alias("median_init"),
        F.round(F.lit(s), 6).alias("mad_scale"),
        F.round(F.lit(m), 6).alias("mu_huber"),
        F.round(grid_sum(F.col("v"), 9) / F.count(F.lit(1)), 6).alias("mean_plain"),
        F.sum(F.when(dev(m) > F.lit(_HUB_K) * F.lit(s), 1).otherwise(0))
        .cast("long")
        .alias("n_downweighted"),
    )


# ---------------------------------------------------------------------------
# Holt fleet: the SAME fold `holt_linear_forecast` certifies on one
# series, partitioned by series key — one forecast state per event
# type.  This is the claim every fold docstring makes ("for a fleet,
# partition by the series key") made concrete and oracle-checked: the
# recursive-CTE oracle steps all series simultaneously, keyed on
# (event_type, rn).
# ---------------------------------------------------------------------------

_HFLEET_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT event_type AS et, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
sr AS (SELECT et, ROW_NUMBER() OVER (PARTITION BY et ORDER BY d) AS rn, y FROM daily),
ns AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n FROM sr GROUP BY et),
rec AS (
  SELECT s2.et, CAST(2 AS BIGINT) AS i, s2.y AS l,
         round(s2.y - s1.y, 9) AS t, CAST(0.0 AS DOUBLE) AS s
  FROM sr s1 JOIN sr s2 ON s1.et = s2.et AND s1.rn = 1 AND s2.rn = 2
  UNION ALL
  SELECT rec.et, rec.i + 1,
         round({_HOLT_A} * sr.y + {_HOLT_A} * (rec.l + rec.t), 9),
         round({_HOLT_B} * (round({_HOLT_A} * sr.y
                                  + {_HOLT_A} * (rec.l + rec.t), 9)
                            - rec.l) + 0.7 * rec.t, 9),
         round(rec.s + (sr.y - (rec.l + rec.t)) * (sr.y - (rec.l + rec.t)), 9)
  FROM rec JOIN sr ON sr.et = rec.et AND sr.rn = rec.i + 1
)
SELECT rec.et AS event_type, ns.n AS n_days,
       round(rec.l, 6) AS level_final,
       round(rec.t, 6) AS trend_final,
       round(rec.l + rec.t, 6) AS forecast_next,
       round(sqrt(rec.s / (ns.n - 2)), 6) AS rmse
FROM rec JOIN ns ON ns.et = rec.et AND rec.i = ns.n
"""


@register("holt_fleet_by_type", _HFLEET_SQL)
def q_holt_fleet_by_type(spark, sf_dir):
    """Holt linear smoothing run as a FLEET: one fold per event type
    over its daily-count series, identical recurrence and literals to
    `holt_linear_forecast`, one forecast row per series.

    Scale plan: the daily rollup is one map-side-combined aggregate
    keyed by (series, day); the folds then run inside a per-series
    groupBy — embarrassingly parallel across thousands or millions of
    series, each fold touching only its own |days| elements.  No
    global window, no cross-series shuffle beyond the rollup."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    ser = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("a"),
        F.count(F.lit(1)).alias("n"),
    )
    xs = F.transform(
        F.col("a"),
        lambda e_: F.struct(
            e_["y"].alias("l"),
            F.lit(0.0).alias("t"),
            F.lit(1).cast("long").alias("i"),
            F.lit(0.0).alias("s"),
        ),
    )

    def step(acc, x):
        l2 = F.round(
            F.lit(_HOLT_A) * x["l"] + F.lit(_HOLT_A) * (acc["l"] + acc["t"]), 9
        )
        t2 = F.round(F.lit(_HOLT_B) * (l2 - acc["l"]) + F.lit(0.7) * acc["t"], 9)
        err = x["l"] - (acc["l"] + acc["t"])
        s2 = F.round(acc["s"] + err * err, 9)
        return F.when(
            acc["i"] == 1,
            F.struct(
                x["l"].alias("l"),
                F.round(x["l"] - acc["l"], 9).alias("t"),
                F.lit(2).cast("long").alias("i"),
                F.lit(0.0).alias("s"),
            ),
        ).otherwise(
            F.struct(
                l2.alias("l"), t2.alias("t"), (acc["i"] + 1).alias("i"), s2.alias("s")
            )
        )

    folded = ser.select(
        "event_type",
        "n",
        F.aggregate(F.slice(xs, 2, F.size(xs) - 1), F.element_at(xs, 1), step).alias(
            "f"
        ),
    )
    return folded.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("f.l"), 6).alias("level_final"),
        F.round(F.col("f.t"), 6).alias("trend_final"),
        F.round(F.col("f.l") + F.col("f.t"), 6).alias("forecast_next"),
        F.round(F.sqrt(F.col("f.s") / (F.col("n") - 2)), 6).alias("rmse"),
    )


# ---------------------------------------------------------------------------
# Distribution-free median CI from order statistics: ranks n/2 ∓
# z·√n/2 bracket the median with ~95% coverage by the binomial
# argument (no normality assumption on the DATA — the normal approx is
# only to the Binomial(n, ½) rank distribution).  The inference
# counterpart of the exact-median operators: not just the point
# estimate, but how sure the sample size lets you be.
# ---------------------------------------------------------------------------

_MCI_Z = 1.959964  # two-sided 95%

_MCI_SQL = f"""
WITH vals AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
bounds AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
         CAST(GREATEST(1, floor(MAX(n) / 2.0 - {_MCI_Z} * sqrt(CAST(MAX(n) AS DOUBLE)) / 2)) AS BIGINT) AS k_lo,
         CAST(LEAST(MAX(n), ceil(MAX(n) / 2.0 + 1 + {_MCI_Z} * sqrt(CAST(MAX(n) AS DOUBLE)) / 2)) AS BIGINT) AS k_hi
  FROM vals GROUP BY event_type
)
SELECT b.event_type, b.n,
       round((SELECT median(value) FROM vals v
              WHERE v.event_type = b.event_type), 6) AS median_value,
       round(MIN(CASE WHEN v.rk = b.k_lo THEN v.value END), 6) AS ci_lo,
       round(MIN(CASE WHEN v.rk = b.k_hi THEN v.value END), 6) AS ci_hi,
       b.k_lo, b.k_hi
FROM bounds b JOIN vals v ON v.event_type = b.event_type
GROUP BY b.event_type, b.n, b.k_lo, b.k_hi
"""


@register("median_ci_order_stats", _MCI_SQL)
def q_median_ci_order_stats(spark, sf_dir):
    """Per-event-type median of the value column with its
    distribution-free ~95% CI: the order statistics at ranks
    n/2 ∓ {_MCI_Z}·√n/2 (clamped to [1, n], deterministic rank
    tiebreak on event_id).

    Scale plan: one rank window PARTITIONED BY TYPE (parallel across
    groups; at 100 TB swap the exact ranks for the GK sketch's
    rank-error guarantee — the CI formula consumes ranks, so a sketch
    with rank tolerance composes directly); the bound arithmetic is a
    per-type scalar aggregate."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    vals = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).localCheckpoint(eager=False)  # feeds bounds, the median agg, and the pick
    nmax = F.max("n")
    bounds = vals.groupBy("event_type").agg(
        nmax.cast("long").alias("n"),
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(nmax / 2.0 - F.lit(_MCI_Z) * F.sqrt(nmax.cast("double")) / 2).cast(
                "long"
            ),
        ).alias("k_lo"),
        F.least(
            nmax.cast("long"),
            F.ceil(nmax / 2.0 + 1 + F.lit(_MCI_Z) * F.sqrt(nmax.cast("double")) / 2).cast(
                "long"
            ),
        ).alias("k_hi"),
    )
    meds = vals.groupBy("event_type").agg(
        F.round(F.median("value"), 6).alias("median_value")
    )
    return (
        vals.select("event_type", "value", "rk")
        .join(F.broadcast(bounds.withColumnRenamed("event_type", "bet")),
              F.col("event_type") == F.col("bet"))
        .groupBy("event_type", "n", "k_lo", "k_hi")
        .agg(
            F.round(
                F.min(F.when(F.col("rk") == F.col("k_lo"), F.col("value"))), 6
            ).alias("ci_lo"),
            F.round(
                F.min(F.when(F.col("rk") == F.col("k_hi"), F.col("value"))), 6
            ).alias("ci_hi"),
        )
        .join(F.broadcast(meds), "event_type")
        .select("event_type", "n", "median_value", "ci_lo", "ci_hi", "k_lo", "k_hi")
    )


# ---------------------------------------------------------------------------
# Wald SPRT monitor — the SEQUENTIAL member of the testing family
# (z-test/CUPED/QTE are fixed-horizon): cumulative log-likelihood
# ratio of daily purchase-share against pre-registered H0/H1 rates,
# with the Wald decision boundaries and the first crossing day.  The
# per-trial log terms are Python-computed 1e-9 literals and the walk
# accumulates as DECIMAL, so the day a boundary is crossed — the whole
# point of sequential testing — is engine-identical.
# ---------------------------------------------------------------------------

_SPRT_P0, _SPRT_P1 = 0.19, 0.21  # pre-registered null / alternative share
_SPRT_L1 = round(__import__("math").log(_SPRT_P1 / _SPRT_P0), 9)  # per success
_SPRT_L0 = round(__import__("math").log((1 - _SPRT_P1) / (1 - _SPRT_P0)), 9)  # per failure
_SPRT_BOUND = round(__import__("math").log(0.95 / 0.05), 9)  # alpha = beta = 0.05

_SPRT_INC = f"n_success * {_SPRT_L1} + (n_trials - n_success) * {_SPRT_L0}"

_SPRT_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n_trials,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_success
  FROM events GROUP BY 1
),
walk AS (
  SELECT d, n_trials, n_success,
         {dec_double_sql(
             f"SUM({quantize_sql(_SPRT_INC, 9)})"
             " OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
         )} AS llr
  FROM daily
),
flagged AS (
  SELECT *, CASE WHEN llr >= {_SPRT_BOUND} THEN 'accept_h1'
                 WHEN llr <= -{_SPRT_BOUND} THEN 'accept_h0'
                 ELSE 'continue' END AS state
  FROM walk
)
SELECT d, n_trials, n_success, round(llr, 6) AS llr, state,
       (SELECT MIN(d) FROM flagged f2 WHERE f2.state <> 'continue') AS first_decision_day
FROM flagged
"""


@register("sprt_ab_monitor", _SPRT_SQL)
def q_sprt_ab_monitor(spark, sf_dir):
    """Daily Wald SPRT walk on the purchase share (H0 p={_SPRT_P0} vs
    H1 p={_SPRT_P1}, α=β=0.05): per day the trial/success counts, the
    cumulative log-likelihood ratio, the boundary state, and the first
    decision day (null if the walk never leaves the continue band —
    the fixture sits near the indifference point by design, the regime
    where sequential monitoring earns its keep).

    Scale plan: one map-side-combined daily aggregate over the fact
    stream; the walk is a cumulative window over |days| rows with
    DECIMAL accumulation of pre-quantized increments — the corpus is
    touched once however long the experiment runs."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_trials"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_success"),
    )
    from pyspark.sql import Window

    inc = F.col("n_success") * F.lit(_SPRT_L1) + (
        F.col("n_trials") - F.col("n_success")
    ) * F.lit(_SPRT_L0)
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    walk = daily.select(
        "d",
        "n_trials",
        "n_success",
        F.sum(quantize(inc, 9)).over(wcum).cast("double").alias("llr"),
    )
    flagged = walk.select(
        "*",
        F.when(F.col("llr") >= _SPRT_BOUND, "accept_h1")
        .when(F.col("llr") <= -_SPRT_BOUND, "accept_h0")
        .otherwise("continue")
        .alias("state"),
    ).localCheckpoint(eager=False)  # feeds the rows AND the first-decision scalar
    first = flagged.filter(F.col("state") != "continue").agg(
        F.min("d").alias("first_decision_day")
    )
    return (
        flagged.crossJoin(F.broadcast(first))
        .select(
            "d",
            "n_trials",
            "n_success",
            F.round("llr", 6).alias("llr"),
            "state",
            "first_decision_day",
        )
    )


# ---------------------------------------------------------------------------
# Propensity-weighted causal effect (IPW / Hájek estimator): the
# observational-data complement to the randomized-experiment readouts
# (`ab_cuped_readout`, `diff_in_diff_readout`).  The propensity model
# P(urgent | month, finished) is fitted by the SAME unrolled IRLS as
# `logreg_irls_exact`, then the treated/control outcome means are
# reweighted by 1/p and 1/(1-p) — every per-row weight quantized to
# the 1e-9 grid and DECIMAL-summed, so fit and estimate are bit-exact
# across engines and partitionings.
# ---------------------------------------------------------------------------

_IPW_SRC = """
  SELECT CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS x1,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS x2,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
         CAST(o_totalprice AS DOUBLE) AS yo
  FROM orders
"""


def _ipw_sql() -> str:
    parts = [f"s AS ({_IPW_SRC})", *irls_sql_ctes()]
    t = _IRLS_T
    parts.append(
        f"rf AS (SELECT x1, x2, y, yo, {_IRLS_P} AS p FROM s CROSS JOIN b{t}_)"
    )
    parts.append(
        "ipw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(y) AS BIGINT) AS n_treated, "
        + grid_sum_sql("y / p", 9)
        + " AS sw_t, "
        + grid_sum_sql("y * yo / p", 9)
        + " AS swy_t, "
        + grid_sum_sql("(1 - y) / (1.0 - p)", 9)
        + " AS sw_c, "
        + grid_sum_sql("(1 - y) * yo / (1.0 - p)", 9)
        + " AS swy_c FROM rf)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT i.n, i.n_treated,
       round(b.b0, 6) AS b_intercept,
       round(b.b1, 6) AS b_month,
       round(b.b2, 6) AS b_fstatus,
       round(i.swy_t / i.sw_t, 6) AS mean_treated_ipw,
       round(i.swy_c / i.sw_c, 6) AS mean_control_ipw,
       round(i.swy_t / i.sw_t - i.swy_c / i.sw_c, 6) AS ate_ipw
FROM b{t}_ b CROSS JOIN ipw i
"""
    )


def _urgent_src(spark, sf_dir):
    """The shared URGENT→order-value design matrix: x1 = order month,
    x2 = finished-status flag, y = treatment (URGENT), yo = outcome
    (total price).  Both propensity-based estimators (IPW, AIPW) and
    the e2e readout consume exactly this relation."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("x1"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("x2"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
        F.col("o_totalprice").cast("double").alias("yo"),
    )


@register("propensity_ipw_ate", _ipw_sql())
def q_propensity_ipw_ate(spark, sf_dir, beta=None):
    """Average treatment effect of URGENT priority on order value by
    inverse-propensity weighting (Horvitz-Thompson weights, Hájek
    normalization): the propensity P(urgent | month, finished-status)
    is fitted by three unrolled Newton/IRLS steps (`irls_fit`, the
    `logreg_irls_exact` template verbatim), then treated and control
    means are reweighted by 1/p and 1/(1-p).  The sigmoid's 1e-9 clamp
    doubles as the standard IPW overlap clamp.  ``beta`` lets
    `causal_e2e_readout` pass in the (b0, b1, b2) it already fitted.

    Scale plan: T+1 map-side-combined fact scans (T Newton steps + one
    weighted-mean pass) with the 3 coefficients carried between passes
    as driver-side literals — identical shape to
    `quality_classifier_filter`."""
    src = _urgent_src(spark, sf_dir)

    if beta is None:
        beta = irls_fit(src)
    t_col, p_col, yo = F.col("y"), F.col("p"), F.col("yo")
    agg = irls_score(src, beta).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_treated"),
        *[
            F.round(F.lit(b), 6).alias(c)
            for b, c in zip(beta, ("b_intercept", "b_month", "b_fstatus"))
        ],
        grid_sum(t_col / p_col, 9).alias("sw_t"),
        grid_sum(t_col * yo / p_col, 9).alias("swy_t"),
        grid_sum((1 - t_col) / (1.0 - p_col), 9).alias("sw_c"),
        grid_sum((1 - t_col) * yo / (1.0 - p_col), 9).alias("swy_c"),
    )
    return agg.select(
        "n",
        "n_treated",
        "b_intercept",
        "b_month",
        "b_fstatus",
        F.round(F.col("swy_t") / F.col("sw_t"), 6).alias("mean_treated_ipw"),
        F.round(F.col("swy_c") / F.col("sw_c"), 6).alias("mean_control_ipw"),
        F.round(
            F.col("swy_t") / F.col("sw_t") - F.col("swy_c") / F.col("sw_c"), 6
        ).alias("ate_ipw"),
    )


# ---------------------------------------------------------------------------
# Doubly-robust (AIPW) treatment effect: augments the IPW estimate
# with per-arm OLS outcome models, so the estimate stays consistent if
# EITHER the propensity model OR the outcome model is right (Robins,
# Rotnitzky & Zhao 1994).  Propensity = the `logreg_irls_exact`
# template; outcome models = the `ols_regression_exact` closed-form
# template fitted separately on treated and control rows; the
# augmented per-row term is quantized at 1e-9 and DECIMAL-summed.
# ---------------------------------------------------------------------------


def _aipw_moments_sql(pred: str) -> str:
    return f"""
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {dec_double_sql("SUM(x1)")} AS s1,
         {dec_double_sql("SUM(x2)")} AS s2,
         {dec_double_sql("SUM(x1 * x1)")} AS s11,
         {dec_double_sql("SUM(x1 * x2)")} AS s12,
         {dec_double_sql("SUM(x2 * x2)")} AS s22,
         {dec_double_sql("SUM(yd)")} AS sy,
         {dec_double_sql("SUM(x1 * yd)")} AS s1y,
         {dec_double_sql("SUM(x2 * yd)")} AS s2y
  FROM (SELECT x1, x2, CAST(yo AS DECIMAL(30, 6)) AS yd FROM s WHERE {pred})
"""


_AIPW_DR = (
    "((a0 + a1 * x1 + a2 * x2) - (c0 + c1 * x1 + c2 * x2)"
    " + y * (yo - (a0 + a1 * x1 + a2 * x2)) / p"
    " - (1 - y) * (yo - (c0 + c1 * x1 + c2 * x2)) / (1.0 - p))"
)


def _aipw_sql() -> str:
    parts = [f"s AS ({_IPW_SRC})", *irls_sql_ctes()]
    t = _IRLS_T
    parts.append(f"mtm AS ({_aipw_moments_sql('y = 1')})")
    parts.append(
        f"mt AS (SELECT {_OLS_B0} AS a0, {_OLS_B1} AS a1, {_OLS_B2} AS a2 FROM mtm)"
    )
    parts.append(f"mcm AS ({_aipw_moments_sql('y = 0')})")
    parts.append(
        f"mc AS (SELECT {_OLS_B0} AS c0, {_OLS_B1} AS c1, {_OLS_B2} AS c2 FROM mcm)"
    )
    parts.append(
        f"rf AS (SELECT x1, x2, y, yo, {_IRLS_P} AS p, a0, a1, a2, c0, c1, c2 "
        f"FROM s CROSS JOIN b{t}_ CROSS JOIN mt CROSS JOIN mc)"
    )
    parts.append(
        "fin AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(y) AS BIGINT) AS n_treated, "
        "ANY_VALUE(a0) AS a0, ANY_VALUE(c0) AS c0, "
        + grid_sum_sql(_AIPW_DR, 9)
        + " AS sdr FROM rf)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT f.n, f.n_treated,
       round(f.a0, 6) AS mt_intercept,
       round(f.c0, 6) AS mc_intercept,
       round(b.b0, 6) AS ps_intercept,
       round(f.sdr / f.n, 6) AS ate_aipw
FROM fin f CROSS JOIN b{t}_ b
"""
    )


@register("aipw_doubly_robust_ate", _aipw_sql())
def q_aipw_doubly_robust_ate(spark, sf_dir, beta=None):
    """Doubly-robust (AIPW) average treatment effect of URGENT
    priority on order value: the IPW estimate augmented with per-arm
    OLS outcome models m1/m0(month, finished-status), consistent if
    either model is correctly specified.  Propensity comes from the
    `logreg_irls_exact` unrolled-Newton template, the outcome models
    from the `ols_regression_exact` closed-form template on the
    treated/control splits, and the per-row augmented term rides the
    1e-9 DECIMAL grid.

    ``beta`` lets `causal_e2e_readout` pass in the (b0, b1, b2) it
    already fitted.

    Scale plan: T Newton scans + ONE grouped-moment scan for both
    outcome models + one estimation scan.  The propensity betas enter
    the final pass as driver-side literals and the two 1-row outcome
    coefficient relations are broadcast into it — every pass map-side
    combined."""
    src = _urgent_src(spark, sf_dir)

    if beta is None:
        beta = irls_fit(src)

    # BOTH outcome-model arms in ONE conditional-aggregate scan (r11
    # optimization, guide §2.3 "aggregate before you shuffle" applied to
    # passes): the two filtered scans aggregated disjoint row subsets of
    # the same relation, so ``sum(when(pred, x))`` — which skips the
    # null non-matches exactly like ``filter(pred)`` skipped the rows —
    # produces every moment bit-identically (integer sums for
    # n/s1/s2/s11/s12/s22, exact commutative DECIMAL sums for
    # sy/s1y/s2y), halving the arm scans and dropping one checkpoint.
    # The coefficient arithmetic stays in the SAME _OLS_B* SQL
    # expressions over a canonical-named 1-row projection per arm.
    yd = F.col("yo").cast("decimal(30, 6)")

    def _arm_aggs(pred, tag):
        return [
            F.count(F.when(pred, F.lit(1))).cast("double").alias(f"n_{tag}"),
            F.sum(F.when(pred, F.col("x1"))).cast("double").alias(f"s1_{tag}"),
            F.sum(F.when(pred, F.col("x2"))).cast("double").alias(f"s2_{tag}"),
            F.sum(F.when(pred, F.col("x1") * F.col("x1"))).cast("double").alias(f"s11_{tag}"),
            F.sum(F.when(pred, F.col("x1") * F.col("x2"))).cast("double").alias(f"s12_{tag}"),
            F.sum(F.when(pred, F.col("x2") * F.col("x2"))).cast("double").alias(f"s22_{tag}"),
            F.sum(F.when(pred, yd)).cast("double").alias(f"sy_{tag}"),
            F.sum(F.when(pred, F.col("x1") * yd)).cast("double").alias(f"s1y_{tag}"),
            F.sum(F.when(pred, F.col("x2") * yd)).cast("double").alias(f"s2y_{tag}"),
        ]

    moments = src.agg(
        *(_arm_aggs(F.col("y") == 1, "t") + _arm_aggs(F.col("y") == 0, "c"))
    ).localCheckpoint(eager=True)  # 1 row, both arms

    def _arm_coefs(tag, names):
        canon = moments.select(
            *[
                F.col(f"{m}_{tag}").alias(m)
                for m in ("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")
            ]
        )
        return canon.select(
            F.expr(_OLS_B0).alias(names[0]),
            F.expr(_OLS_B1).alias(names[1]),
            F.expr(_OLS_B2).alias(names[2]),
        )

    mt = _arm_coefs("t", ("a0", "a1", "a2"))
    mc = _arm_coefs("c", ("c0", "c1", "c2"))
    rf = (
        irls_score(src, beta)
        .crossJoin(F.broadcast(mt))
        .crossJoin(F.broadcast(mc))
    )
    fin = rf.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_treated"),
        F.round(F.first("a0"), 6).alias("mt_intercept"),
        F.round(F.first("c0"), 6).alias("mc_intercept"),
        F.round(F.lit(beta[0]), 6).alias("ps_intercept"),
        grid_sum(F.expr(_AIPW_DR), 9).alias("sdr"),
    )
    return fin.select(
        "n",
        "n_treated",
        "mt_intercept",
        "mc_intercept",
        "ps_intercept",
        F.round(F.col("sdr") / F.col("n"), 6).alias("ate_aipw"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR screen: one Welch z-test per event_type
# (A/B split by event_id parity), normal p-values via the
# Abramowitz-Stegun 7.1.26 erf polynomial (one shared template, so
# libm differences cannot leak), then the BH step-up at q = 0.10 over
# the tiny per-type relation.
# ---------------------------------------------------------------------------

_BH_Q = 0.10

# erf(x) ~ 1 - poly(1/(1+0.3275911 x)) * exp(-x^2), max abs err 1.5e-7
# (Abramowitz & Stegun 7.1.26); p = 1 - erf(|z| / sqrt(2)) quantized
# to the 1e-9 grid AFTER the exp, the same discipline as _IRLS_P.
_BH_ERF_T = "(1.0 / (1.0 + 0.3275911 * bh_x))"
_BH_P = (
    "round(((((1.061405429 * bh_t - 1.453152027) * bh_t + 1.421413741)"
    " * bh_t - 0.284496736) * bh_t + 0.254829592) * bh_t"
    " * exp(-(bh_x * bh_x)), 9)"
)
# Welch z over per-side moments (n/sv/svv per side a, b) — one shared
# expression tree: side variance then the z statistic.
_BH_VAR = "(({p}svv - {p}sv * {p}sv / {p}n) / ({p}n - 1.0))"
_BH_Z = (
    f"round((a_sv / a_n - b_sv / b_n) /"
    f" sqrt({_BH_VAR.format(p='a_')} / a_n + {_BH_VAR.format(p='b_')} / b_n), 9)"
)


def _bh_sql() -> str:
    side = lambda p, g: (  # noqa: E731
        f"SUM(CASE WHEN grp = {g} THEN 1 ELSE 0 END) * 1.0 AS {p}n,\n"
        f"  {grid_sum_sql(f'CASE WHEN grp = {g} THEN v END', 9)} AS {p}sv,\n"
        f"  {grid_sum_sql(f'CASE WHEN grp = {g} THEN v * v END', 9)} AS {p}svv"
    )
    return f"""
WITH s AS (
  SELECT event_type, CAST(event_id % 2 AS BIGINT) AS grp,
         CAST(value AS DOUBLE) AS v
  FROM events
),
m AS (
  SELECT event_type,
  {side('a_', 0)},
  {side('b_', 1)}
  FROM s GROUP BY event_type
),
z_ AS (
  SELECT event_type, CAST(a_n AS BIGINT) AS n_a, CAST(b_n AS BIGINT) AS n_b,
         round(a_sv / a_n - b_sv / b_n, 6) AS mean_diff,
         {_BH_Z} AS z
  FROM m
),
p_ AS (
  SELECT *, {_BH_P} AS p_value
  FROM (SELECT *, {_BH_ERF_T} AS bh_t
        FROM (SELECT *, abs(z) / sqrt(2.0) AS bh_x FROM z_))
),
r_ AS (
  SELECT event_type, n_a, n_b, mean_diff, round(z, 6) AS z_stat, p_value,
         CAST(ROW_NUMBER() OVER (ORDER BY p_value, event_type) AS BIGINT)
           AS bh_rank,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_tests
  FROM p_
)
SELECT event_type, n_a, n_b, mean_diff, z_stat, p_value, bh_rank,
       CAST(CASE WHEN bh_rank <= MAX(CASE WHEN p_value <= bh_rank * {_BH_Q}
                                               / n_tests
                                          THEN bh_rank ELSE 0 END) OVER ()
                 THEN 1 ELSE 0 END AS BIGINT) AS rejected
FROM r_
ORDER BY bh_rank
"""


@register("fdr_bh_metric_screen", _bh_sql())
def q_fdr_bh_metric_screen(spark, sf_dir):
    """Multiple-testing screen with Benjamini-Hochberg FDR control
    (Benjamini & Hochberg 1995): per event_type, a Welch z-test of
    mean(value) between the even/odd event_id halves (a deterministic
    A/A-style split), p-values from the Abramowitz-Stegun 7.1.26 erf
    polynomial, then the BH step-up at q = 0.10 — reject the smallest
    k p-values where p_(k) <= k·q/m.  Per-side moments ride the 1e-9
    DECIMAL grid; z and p are quantized AFTER the sqrt/exp so libm
    last-ulp differences cannot cross engines.

    Scale plan: ONE map-side combined group-by on event_type builds
    all moments; the BH ranking windows run over the |types|-row
    relation (≤ a few hundred metrics in practice), never the fact
    grain."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        (F.col("event_id") % 2).cast("long").alias("grp"),
        F.col("value").cast("double").alias("v"),
    )

    def side(p, g):
        only = lambda t: F.when(F.col("grp") == g, t)  # noqa: E731
        return [
            F.count(only(F.lit(1))).cast("double").alias(f"{p}n"),
            grid_sum(only(F.col("v")), 9).alias(f"{p}sv"),
            grid_sum(only(F.col("v") * F.col("v")), 9).alias(f"{p}svv"),
        ]

    m = s.groupBy("event_type").agg(*(side("a_", 0) + side("b_", 1)))
    z = m.select(
        "event_type",
        F.col("a_n").cast("long").alias("n_a"),
        F.col("b_n").cast("long").alias("n_b"),
        F.round(F.col("a_sv") / F.col("a_n") - F.col("b_sv") / F.col("b_n"), 6).alias(
            "mean_diff"
        ),
        F.expr(_BH_Z).alias("z"),
    )
    p = (
        z.withColumn("bh_x", F.abs(F.col("z")) / F.sqrt(F.lit(2.0)))
        .withColumn("bh_t", F.expr(_BH_ERF_T))
        .withColumn("p_value", F.expr(_BH_P))
    )
    w_rank = Window.orderBy("p_value", "event_type")
    r = p.select(
        "event_type",
        "n_a",
        "n_b",
        "mean_diff",
        F.round(F.col("z"), 6).alias("z_stat"),
        "p_value",
        F.row_number().over(w_rank).cast("long").alias("bh_rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n_tests"),
    )
    w_all = Window.partitionBy()
    k_max = F.max(
        F.when(
            F.col("p_value") <= F.col("bh_rank") * _BH_Q / F.col("n_tests"),
            F.col("bh_rank"),
        ).otherwise(0)
    ).over(w_all)
    return (
        r.withColumn(
            "rejected",
            F.when(F.col("bh_rank") <= k_max, 1).otherwise(0).cast("long"),
        )
        .drop("n_tests")
        .orderBy("bh_rank")
    )


# ---------------------------------------------------------------------------
# Cox proportional hazards, fitted EXACTLY by unrolled Newton on the
# partial likelihood (Breslow tie handling) — the regression
# counterpart of `kaplan_meier_repeat_purchase`, sharing its
# time-to-next-order / right-censoring construction.  With one binary
# covariate the score and information at each event time depend only
# on (d, s1, n0, n1), so the whole fit runs on the per-distinct-time
# relation.
# ---------------------------------------------------------------------------

_COX_T = 3  # Newton iterations, unrolled on both engines

_COX_EB = "round(exp(b), 9)"  # hazard ratio on the 1e-9 grid
_COX_U = f"(s1 - d * (n1 * {_COX_EB}) / (n0 + n1 * {_COX_EB}))"
_COX_I = (
    f"(d * (n0 * n1 * {_COX_EB})"
    f" / ((n0 + n1 * {_COX_EB}) * (n0 + n1 * {_COX_EB})))"
)


def _cox_sql(iters: int = _COX_T) -> str:
    pre = """
WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
g AS (
  SELECT date_diff('day', CAST(o_orderdate AS DATE),
           LEAD(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) AS gap,
         date_diff('day', CAST(o_orderdate AS DATE), mx.maxd) AS to_end,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x
  FROM orders CROSS JOIN mx
),
obs AS (
  SELECT CASE WHEN gap IS NULL THEN to_end ELSE gap END AS t,
         CASE WHEN gap IS NULL THEN 0 ELSE 1 END AS d, x
  FROM g
),
per_t AS (
  SELECT t, SUM(d) AS d, SUM(d * x) AS s1, SUM(x) AS m1, SUM(1 - x) AS m0
  FROM obs GROUP BY t
),
risk AS (
  SELECT t, d, s1,
         SUM(m0) OVER () - COALESCE(SUM(m0) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n0,
         SUM(m1) OVER () - COALESCE(SUM(m1) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n1
  FROM per_t
),
ev AS (
  SELECT CAST(d AS DOUBLE) AS d, CAST(s1 AS DOUBLE) AS s1,
         CAST(n0 AS DOUBLE) AS n0, CAST(n1 AS DOUBLE) AS n1
  FROM risk WHERE d > 0
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_obs, CAST(SUM(d) AS BIGINT) AS n_events
  FROM obs
),
b0_ AS (SELECT 0.0 AS b)"""
    parts = [pre]
    for i in range(1, iters + 1):
        parts.append(
            f"i{i} AS (SELECT ANY_VALUE(b) AS b, {grid_sum_sql(_COX_U, 9)} AS su, "
            f"{grid_sum_sql(_COX_I, 9)} AS si FROM ev CROSS JOIN b{i-1}_)"
        )
        parts.append(f"b{i}_ AS (SELECT round(b + su / si, 9) AS b FROM i{i})")
    t = iters
    parts.append(
        f"fin AS (SELECT ANY_VALUE(b) AS b, {grid_sum_sql(_COX_I, 9)} AS si "
        f"FROM ev CROSS JOIN b{t}_)"
    )
    return (
        ",\n".join(parts)
        + """
SELECT tot.n_obs, tot.n_events,
       round(fin.b, 6) AS beta_urgent,
       round(exp(fin.b), 6) AS hazard_ratio,
       round(1.0 / sqrt(fin.si), 6) AS se_beta
FROM fin CROSS JOIN tot
"""
    )


@register("cox_ph_exact", _cox_sql())
def q_cox_ph_exact(spark, sf_dir):
    """Cox proportional-hazards fit of reorder speed on the URGENT
    flag of the index order (Cox 1972, Breslow ties), trained EXACTLY
    by three unrolled Newton steps on the partial likelihood.  Shares
    `kaplan_meier_repeat_purchase`'s observation construction (gap to
    next order = event, distance to dataset end = censored).  With a
    binary covariate, each event time contributes score
    s1 - d·n1·e^β/(n0+n1·e^β) and information
    d·n0·n1·e^β/(n0+n1·e^β)² — both generated from ONE template, e^β
    and every per-time term quantized to the 1e-9 grid and
    DECIMAL-summed, β re-quantized each step.  Outputs β, the hazard
    ratio, and the inverse-information standard error.

    Scale plan: one LEAD window per customer builds observations; the
    per-distinct-time relation (calendar-bounded, ≪ rows) carries the
    at-risk prefix windows AND all three Newton iterations — the fact
    table is scanned once, the iterations never touch it."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    w_cust = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.crossJoin(F.broadcast(mx)).select(
        F.datediff(
            F.lead(F.col("o_orderdate").cast("date")).over(w_cust),
            F.col("o_orderdate").cast("date"),
        ).alias("gap"),
        F.datediff(F.col("maxd"), F.col("o_orderdate").cast("date")).alias("to_end"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("x"),
    )
    obs = g.select(
        F.coalesce(F.col("gap"), F.col("to_end")).alias("t"),
        F.when(F.col("gap").isNull(), 0).otherwise(1).alias("d"),
        "x",
    )
    per_t = obs.groupBy("t").agg(
        F.sum("d").alias("d"),
        F.sum(F.col("d") * F.col("x")).alias("s1"),
        F.sum("x").alias("m1"),
        F.sum(1 - F.col("x")).alias("m0"),
    )
    w_all = Window.partitionBy()
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    at_risk = lambda c: (  # noqa: E731
        F.sum(c).over(w_all) - F.coalesce(F.sum(c).over(w_prev), F.lit(0))
    )
    ev = (
        per_t.select(
            F.col("d").cast("double").alias("d"),
            F.col("s1").cast("double").alias("s1"),
            at_risk(F.col("m0")).cast("double").alias("n0"),
            at_risk(F.col("m1")).cast("double").alias("n1"),
        )
        .filter(F.col("d") > 0)
        .localCheckpoint(eager=True)
    )

    # β stays in this one lazy plan: as `irls_fit`-style literals each step is its own planned and
    # compiled eager query (sf0.001–0.1, warm: 21 → 20 jobs, build +0.1–0.8 s, execute −0.1–0.5 s)
    beta = ev.sparkSession.range(1).select(F.lit(0.0).alias("b"))
    for _ in range(_COX_T):
        it = ev.crossJoin(F.broadcast(beta)).agg(
            F.first("b").alias("b"),
            grid_sum(F.expr(_COX_U), 9).alias("su"),
            grid_sum(F.expr(_COX_I), 9).alias("si"),
        )
        beta = it.select(
            F.round(F.col("b") + F.col("su") / F.col("si"), 9).alias("b")
        )
    fin = ev.crossJoin(F.broadcast(beta)).agg(
        F.first("b").alias("b"), grid_sum(F.expr(_COX_I), 9).alias("si")
    )
    tot = obs.agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("d").cast("long").alias("n_events"),
    )
    return fin.crossJoin(F.broadcast(tot)).select(
        "n_obs",
        "n_events",
        F.round(F.col("b"), 6).alias("beta_urgent"),
        F.round(F.exp(F.col("b")), 6).alias("hazard_ratio"),
        F.round(1.0 / F.sqrt(F.col("si")), 6).alias("se_beta"),
    )


# ---------------------------------------------------------------------------
# Mahalanobis outliers: the MULTIVARIATE complement of
# `value_outliers_3sigma` / `value_outliers_mad` — rank lineitems by
# their Mahalanobis distance under the exact 2-D covariance of
# (quantity, extendedprice), catching points that are unremarkable on
# each axis but violate the correlation structure.
# ---------------------------------------------------------------------------

_MAHA_TOPK = 20
# one shared distance template over the moment columns (n/sx/sy/sxx/
# sxy/syy are correctly-rounded doubles of exact decimal sums; x/y are
# the raw parquet doubles) — identical expression tree on both engines
_MAHA_D2 = (
    "((cyy * (x - mx) * (x - mx) - 2.0 * cxy * (x - mx) * (y - my)"
    " + cxx * (y - my) * (y - my)) / (cxx * cyy - cxy * cxy))"
)
_MAHA_COV = (
    "SELECT sx / n AS mx, sy / n AS my,"
    " (sxx - sx * sx / n) / (n - 1.0) AS cxx,"
    " (sxy - sx * sy / n) / (n - 1.0) AS cxy,"
    " (syy - sy * sy / n) / (n - 1.0) AS cyy FROM m"
)


def _maha_sql() -> str:
    dx = "CAST(l_quantity AS DECIMAL(19, 6))"
    dy = "CAST(l_extendedprice AS DECIMAL(19, 6))"
    d = lambda e: dec_double_sql(f"SUM({e})")  # noqa: E731
    return f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {d(dx)} AS sx, {d(dy)} AS sy,
         {d(f'{dx} * {dx}')} AS sxx,
         {d(f'{dx} * {dy}')} AS sxy,
         {d(f'{dy} * {dy}')} AS syy
  FROM lineitem
),
c AS ({_MAHA_COV})
SELECT l_orderkey, l_linenumber,
       round(CAST(l_quantity AS DOUBLE), 2) AS quantity,
       round(CAST(l_extendedprice AS DOUBLE), 2) AS extendedprice,
       round(d2, 6) AS mahalanobis_d2
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
         {_MAHA_D2} AS d2
  FROM (SELECT l_orderkey, l_linenumber, l_quantity,
               CAST(l_quantity AS DOUBLE) AS x,
               l_extendedprice, CAST(l_extendedprice AS DOUBLE) AS y
        FROM lineitem) CROSS JOIN c
)
ORDER BY d2 DESC, l_orderkey, l_linenumber
LIMIT {_MAHA_TOPK}
"""


@register("mahalanobis_outlier_topk", _maha_sql())
def q_mahalanobis_outlier_topk(spark, sf_dir):
    """Top-{k} multivariate outliers by Mahalanobis distance under the
    exact sample covariance of (l_quantity, l_extendedprice): the 2-D
    closed-form d² = (x-μ)ᵀ Σ⁻¹ (x-μ) expanded through the adjugate —
    one template string on both engines — with moments accumulated as
    exact decimals (the `corr_qty_price` discipline) and each row's d²
    a single shared double expression tree.

    Scale plan: pass 1 is ONE map-side combined moment aggregate; the
    1-row covariance relation broadcasts onto pass 2's scoring scan;
    the cut is TakeOrderedAndProject (per-partition heaps).  Higher
    dimensions swap the adjugate for a broadcast precomputed Σ⁻¹ —
    the two-pass shape is unchanged."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(19, 6)"
    x = F.col("l_quantity").cast(dec)
    y = F.col("l_extendedprice").cast(dec)
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    cov = m.selectExpr(
        "sx / n AS mx",
        "sy / n AS my",
        "(sxx - sx * sx / n) / (n - 1.0) AS cxx",
        "(sxy - sx * sy / n) / (n - 1.0) AS cxy",
        "(syy - sy * sy / n) / (n - 1.0) AS cyy",
    )
    scored = (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").cast("double").alias("y"),
        )
        .crossJoin(F.broadcast(cov))
        .withColumn("d2", F.expr(_MAHA_D2))
    )
    return (
        scored.orderBy(F.desc("d2"), "l_orderkey", "l_linenumber")
        .limit(_MAHA_TOPK)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_quantity").cast("double"), 2).alias("quantity"),
            F.round(F.col("l_extendedprice").cast("double"), 2).alias(
                "extendedprice"
            ),
            F.round(F.col("d2"), 6).alias("mahalanobis_d2"),
        )
    )


# ---------------------------------------------------------------------------
# Overdispersion check on daily event counts: the variance-to-mean
# (index of dispersion) per event_type over the FULL calendar span —
# zero-event days included, which is where the naive active-days-only
# computation silently biases low.  Dispersion ≫ 1 says the Poisson
# assumption behind rate alerting (`event_rate_anomaly`) is wrong and
# a negative-binomial threshold is needed.
# ---------------------------------------------------------------------------

_ODISP_SQL = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT CAST(date_diff('day', MIN(CAST(date_trunc('day', ts) AS DATE)),
                        MAX(CAST(date_trunc('day', ts) AS DATE))) + 1 AS BIGINT)
           AS n_span
  FROM events
),
per_type AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_active,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM daily GROUP BY event_type
)
SELECT event_type,
       span.n_span AS n_days_span,
       n_active AS n_days_active,
       s AS n_events,
       round(CAST(s AS DOUBLE) / span.n_span, 6) AS mean_per_day,
       round((ss - CAST(s AS DOUBLE) * s / span.n_span)
             / (span.n_span - 1.0), 6) AS var_per_day,
       round(((ss - CAST(s AS DOUBLE) * s / span.n_span)
              / (span.n_span - 1.0)) / (CAST(s AS DOUBLE) / span.n_span), 6)
         AS dispersion_index
FROM per_type CROSS JOIN span
ORDER BY event_type
"""


@register("overdispersion_daily_counts", _ODISP_SQL)
def q_overdispersion_daily_counts(spark, sf_dir):
    """Index of dispersion (variance/mean) of daily counts per
    event_type over the full calendar span — zero days enter the
    moments as Σc and Σc² over N_span days (they add nothing to the
    sums but everything to the denominator), so no day table is ever
    materialized.  Counts are exact integers; the three output ratios
    share one expression tree.

    Scale plan: one map-side combined group-by to (type, day), a tiny
    per-type rollup, and a 1-row span relation broadcast in — the
    zero-day handling is pure arithmetic, not a calendar join."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    span = ev.agg(
        (
            F.datediff(
                F.max(F.date_trunc("day", "ts").cast("date")),
                F.min(F.date_trunc("day", "ts").cast("date")),
            )
            + 1
        )
        .cast("long")
        .alias("n_span")
    )
    per_type = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_span")
    var = (F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n_span")) / (
        F.col("n_span") - 1.0
    )
    return (
        per_type.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.col("n_span").alias("n_days_span"),
            F.col("n_active").alias("n_days_active"),
            F.col("s").alias("n_events"),
            F.round(mean, 6).alias("mean_per_day"),
            F.round(var, 6).alias("var_per_day"),
            F.round(var / mean, 6).alias("dispersion_index"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Simpson's-paradox detector: the urgent→finished association overall
# vs within each order-month stratum — the aggregation-reversal audit
# every metrics platform should run before reporting a pooled rate
# difference (Simpson 1951).
# ---------------------------------------------------------------------------

_SIMPSON_SQL = """
WITH s AS (
  SELECT CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS month,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
cells AS (
  SELECT month,
         CAST(SUM(t) AS BIGINT) AS n_urgent,
         CAST(SUM(1 - t) AS BIGINT) AS n_other,
         CAST(SUM(t * y) AS BIGINT) AS f_urgent,
         CAST(SUM((1 - t) * y) AS BIGINT) AS f_other
  FROM s GROUP BY month
),
overall AS (
  SELECT CAST(SUM(f_urgent) AS DOUBLE) / SUM(n_urgent)
           - CAST(SUM(f_other) AS DOUBLE) / SUM(n_other) AS overall_diff
  FROM cells
)
SELECT month, n_urgent, n_other,
       round(CAST(f_urgent AS DOUBLE) / n_urgent, 6) AS rate_urgent,
       round(CAST(f_other AS DOUBLE) / n_other, 6) AS rate_other,
       round(CAST(f_urgent AS DOUBLE) / n_urgent
             - CAST(f_other AS DOUBLE) / n_other, 6) AS diff,
       round(overall_diff, 6) AS overall_diff,
       CAST(CASE WHEN (CAST(f_urgent AS DOUBLE) / n_urgent
                       - CAST(f_other AS DOUBLE) / n_other) * overall_diff < 0
                 THEN 1 ELSE 0 END AS BIGINT) AS sign_reversed
FROM cells CROSS JOIN overall
ORDER BY month
"""


@register("simpson_paradox_detector", _SIMPSON_SQL)
def q_simpson_paradox_detector(spark, sf_dir):
    """Aggregation-reversal audit (Simpson 1951): the pooled
    urgent-vs-other finished-rate difference next to the same contrast
    within every order-month stratum, flagging strata whose sign
    opposes the pooled one.  All rates are single IEEE divisions of
    exact counts.

    Scale plan: one map-side combined group-by to the 12-cell month
    grid; the pooled contrast is a second aggregate over THAT,
    broadcast back — the fact is scanned once."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("month"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("t"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cells = s.groupBy("month").agg(
        F.sum("t").cast("long").alias("n_urgent"),
        F.sum(1 - F.col("t")).cast("long").alias("n_other"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("f_urgent"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("f_other"),
    ).localCheckpoint(eager=True)  # 12 rows: the pooled pass reuses it
    overall = cells.agg(
        (
            F.sum("f_urgent").cast("double") / F.sum("n_urgent")
            - F.sum("f_other").cast("double") / F.sum("n_other")
        ).alias("overall_diff")
    )
    diff = F.col("f_urgent").cast("double") / F.col("n_urgent") - F.col(
        "f_other"
    ).cast("double") / F.col("n_other")
    return (
        cells.crossJoin(F.broadcast(overall))
        .select(
            "month",
            "n_urgent",
            "n_other",
            F.round(F.col("f_urgent").cast("double") / F.col("n_urgent"), 6).alias(
                "rate_urgent"
            ),
            F.round(F.col("f_other").cast("double") / F.col("n_other"), 6).alias(
                "rate_other"
            ),
            F.round(diff, 6).alias("diff"),
            F.round(F.col("overall_diff"), 6).alias("overall_diff"),
            F.when(diff * F.col("overall_diff") < 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("sign_reversed"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# James-Stein shrinkage of per-source quality means (Efron & Morris
# 1975, positive-part): noisy per-source means pulled toward the grand
# mean by 1 - (k-3)·v/S — the estimator a mixture owner should use
# instead of raw per-source means when sources are small.  v uses the
# pooled within-source variance at the harmonic mean of the source
# sizes (documented approximation for unequal n).
# ---------------------------------------------------------------------------

_JS_SQL = f"""
WITH per_doc AS (
  SELECT source,
         round(CAST(length(regexp_replace(text, '[^0-9a-zA-Z]', '', 'g'))
                    AS DOUBLE) / CAST(length(text) AS DOUBLE), 9) AS q
  FROM documents WHERE length(text) > 0
),
per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         {dec_double_sql("SUM(CAST(q AS DECIMAL(38, 9)))")} AS sq,
         {grid_sum_sql("q * q", 9)} AS sqq
  FROM per_doc GROUP BY source
),
g AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k,
         {grid_sum_sql("sq / n", 9)} AS sum_means,
         {grid_sum_sql("sqq - sq * sq / n", 9)} AS sum_within,
         CAST(SUM(n - 1) AS DOUBLE) AS df_within,
         {grid_sum_sql("1.0 / n", 9)} AS sum_inv_n
  FROM per_src
),
g2 AS (
  SELECT k, sum_means / k AS grand, sum_within / df_within AS s2p,
         k / sum_inv_n AS h
  FROM g
),
spread AS (
  SELECT {grid_sum_sql("(sq / n - g2.grand) * (sq / n - g2.grand)", 9)} AS ss
  FROM per_src CROSS JOIN g2
),
fac AS (
  SELECT g2.k, g2.grand,
         GREATEST(0.0, 1.0 - (g2.k - 3.0) * (g2.s2p / g2.h) / spread.ss)
           AS shrink
  FROM g2 CROSS JOIN spread
)
SELECT source, n AS n_docs,
       round(sq / n, 6) AS mean_quality,
       round(fac.grand + fac.shrink * (sq / n - fac.grand), 6) AS js_mean,
       round(fac.shrink, 6) AS shrink_factor
FROM per_src CROSS JOIN fac
ORDER BY source
"""


@register("james_stein_source_means", _JS_SQL)
def q_james_stein_source_means(spark, sf_dir):
    """Positive-part James-Stein estimate of each source's mean
    quality (Efron & Morris 1975): x̂_s = x̄ + max(0, 1-(k-3)v/S)·
    (x̄_s - x̄) with S = Σ(x̄_s - x̄)², v = pooled within-source
    variance at the harmonic mean of source sizes.  Per-doc quality
    and every tiny-relation sum ride the 1e-9 DECIMAL grid; the
    shrink factor is one shared expression.

    Scale plan: ONE fact pass to the |sources|-row moment relation
    (checkpointed); grand mean, pooled variance, spread, and the
    shrunk means are all arithmetic on that relation with 1-row
    broadcasts — the corpus is never rescanned."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    q = F.round(
        F.length(F.regexp_replace("text", "[^0-9a-zA-Z]", "")).cast("double")
        / F.length("text").cast("double"),
        9,
    )

    per_src = (
        docs.select("source", q.alias("q"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("q").cast("decimal(38, 9)")).cast("double").alias("sq"),
            grid_sum(F.col("q") * F.col("q"), 9).alias("sqq"),
        )
        .localCheckpoint(eager=True)
    )
    g = per_src.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        grid_sum(F.col("sq") / F.col("n"), 9).alias("sum_means"),
        grid_sum(F.col("sqq") - F.col("sq") * F.col("sq") / F.col("n"), 9).alias(
            "sum_within"
        ),
        F.sum(F.col("n") - 1).cast("double").alias("df_within"),
        grid_sum(F.lit(1.0) / F.col("n"), 9).alias("sum_inv_n"),
    ).selectExpr(
        "k",
        "sum_means / k AS grand",
        "sum_within / df_within AS s2p",
        "k / sum_inv_n AS h",
    )
    spread = (
        per_src.crossJoin(F.broadcast(g))
        .agg(
            grid_sum(
                (F.col("sq") / F.col("n") - F.col("grand"))
                * (F.col("sq") / F.col("n") - F.col("grand")), 9
            ).alias("ss")
        )
    )
    fac = (
        g.crossJoin(F.broadcast(spread))
        .select(
            "grand",
            F.greatest(
                F.lit(0.0),
                1.0 - (F.col("k") - 3.0) * (F.col("s2p") / F.col("h")) / F.col("ss"),
            ).alias("shrink"),
        )
    )
    return (
        per_src.crossJoin(F.broadcast(fac))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.round(F.col("sq") / F.col("n"), 6).alias("mean_quality"),
            F.round(
                F.col("grand")
                + F.col("shrink") * (F.col("sq") / F.col("n") - F.col("grand")),
                6,
            ).alias("js_mean"),
            F.round(F.col("shrink"), 6).alias("shrink_factor"),
        )
        .orderBy("source")
    )


