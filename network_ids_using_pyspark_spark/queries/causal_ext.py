"""Second causal-inference batch: regression discontinuity, T-learner
uplift, and coarsened exact matching.

Extends the causal family (`propensity_ipw_ate`, `aipw_doubly_robust_ate`,
`diff_in_diff_readout`, `ab_cuped_readout`) with three estimators a
growth/experimentation platform runs daily:

- sharp regression discontinuity (Imbens & Lemieux 2008): local-linear
  fits on both sides of a running-variable cutoff, effect = intercept
  jump at the cutoff;
- T-learner uplift by segment (Künzel et al. 2019): per-arm outcome
  models, predicted uplift compared to the actual per-cell treatment
  contrast;
- coarsened exact matching ATT (Iacus, King & Porro 2012): exact
  matching on coarsened covariate strata with CEM weights.

Cross-engine discipline follows the `ols_regression_exact` /
`logreg_irls_exact` templates: integer/decimal moments accumulate
EXACTLY; any double per-row term with group fan-in > 2 is quantized to
the 1e-9 grid and DECIMAL-summed; closed-form solves are generated
from one shared expression template so the engine and the oracle can
never drift apart.

Scale notes (100 TB bar): every estimator here is one or two map-side
combined aggregates over the fact scan plus arithmetic on tiny
(≤ |strata|) relations broadcast back — no global windows, no joins on
the fact grain, nothing driver-side but 1-row coefficient relations.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.numeric import dec_double_sql, dec_sum, dec_sum_sql, q9_sum, q9_sum_sql
from ..sources.tables import load_table
from . import register


def _ols3(p: str) -> tuple[str, str, str]:
    """Prefix-parameterized 3x3 normal-equation solve over moments
    {p}n, {p}s1, {p}s2, {p}s11, {p}s12, {p}s22, {p}sy, {p}s1y, {p}s2y.
    With p='' this reproduces stats_regression._OLS_B0/B1/B2 byte-for-byte
    (asserted by tests/test_causal_ext.py), so both engines and every
    consumer share ONE expression tree."""
    det = (
        f"({p}n * ({p}s11 * {p}s22 - {p}s12 * {p}s12)"
        f" - {p}s1 * ({p}s1 * {p}s22 - {p}s12 * {p}s2)"
        f" + {p}s2 * ({p}s1 * {p}s12 - {p}s11 * {p}s2))"
    )
    b0 = (
        f"(({p}sy * ({p}s11 * {p}s22 - {p}s12 * {p}s12)"
        f" - {p}s1y * ({p}s1 * {p}s22 - {p}s12 * {p}s2)"
        f" + {p}s2y * ({p}s1 * {p}s12 - {p}s11 * {p}s2)) / {det})"
    )
    b1 = (
        f"(({p}n * ({p}s1y * {p}s22 - {p}s12 * {p}s2y)"
        f" - {p}s1 * ({p}sy * {p}s22 - {p}s2y * {p}s2)"
        f" + {p}s2 * ({p}sy * {p}s12 - {p}s1y * {p}s2)) / {det})"
    )
    b2 = (
        f"(({p}n * ({p}s11 * {p}s2y - {p}s1y * {p}s12)"
        f" - {p}s1 * ({p}s1 * {p}s2y - {p}sy * {p}s12)"
        f" + {p}s2 * ({p}s1 * {p}s1y - {p}sy * {p}s11)) / {det})"
    )
    return b0, b1, b2

# ---------------------------------------------------------------------------
# Sharp regression discontinuity: P(urgent) on order value around a
# fixed cutoff.  Running variable u = (o_totalprice - C) / H is a
# single IEEE division (identical on both engines); within the
# bandwidth |u| <= 1 each side gets a local-linear fit y ~ b0 + b1*u
# by the closed-form 2x2 solve; the discontinuity is the intercept
# jump at u = 0.
# ---------------------------------------------------------------------------

_RDD_CUT = 250000.0  # cutoff on o_totalprice (config)
_RDD_BW = 100000.0  # uniform-kernel bandwidth (config)

# 2x2 normal-equation solve over PREFIXED moments (the same template
# instantiates the left/right side on both engines): columns
# {p}_n, {p}_s1, {p}_s11, {p}_sy, {p}_s1y solve
# [[n, s1], [s1, s11]] beta = [sy, s1y].


def _ll_det(p: str) -> str:
    return f"({p}_n * {p}_s11 - {p}_s1 * {p}_s1)"


def _ll_b0(p: str) -> str:
    return f"(({p}_sy * {p}_s11 - {p}_s1y * {p}_s1) / {_ll_det(p)})"


def _ll_b1(p: str) -> str:
    return f"(({p}_n * {p}_s1y - {p}_s1 * {p}_sy) / {_ll_det(p)})"


def _rdd_sql() -> str:
    def side(tag: str, pred: str) -> str:
        only = lambda t: f"CASE WHEN {pred} THEN {t} END"  # noqa: E731
        sy = dec_double_sql(f"SUM({only('y')})")
        return (
            f"SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) * 1.0 AS {tag}_n,\n"
            f"  {q9_sum_sql(only('u'))} AS {tag}_s1,\n"
            f"  {q9_sum_sql(only('u * u'))} AS {tag}_s11,\n"
            f"  {sy} AS {tag}_sy,\n"
            f"  {q9_sum_sql(only('u * y'))} AS {tag}_s1y"
        )

    return f"""
WITH u AS (
  SELECT (CAST(o_totalprice AS DOUBLE) - {_RDD_CUT}) / {_RDD_BW} AS u,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
  WHERE abs((CAST(o_totalprice AS DOUBLE) - {_RDD_CUT}) / {_RDD_BW}) <= 1.0
),
m AS (
  SELECT {side('l', 'u < 0')},
  {side('r', 'u >= 0')}
  FROM u
)
SELECT CAST(l_n AS BIGINT) AS n_left,
       CAST(r_n AS BIGINT) AS n_right,
       round({_ll_b0('l')}, 6) AS y_left_at_cut,
       round({_ll_b0('r')}, 6) AS y_right_at_cut,
       round({_ll_b1('r')} - {_ll_b1('l')}, 6) AS slope_change,
       round({_ll_b0('r')} - {_ll_b0('l')}, 6) AS rdd_effect
FROM m
"""


@register("rdd_cutoff_effect", _rdd_sql())
def q_rdd_cutoff_effect(spark, sf_dir):
    """Sharp regression discontinuity of URGENT-priority probability
    at a fixed order-value cutoff: local-linear fits (uniform kernel,
    bandwidth H) on both sides of u = (o_totalprice - C)/H, effect =
    the intercept jump at u = 0 (Imbens & Lemieux 2008).  u is one
    IEEE division so it is bit-identical across engines; the moment
    sums u, u², u·y ride the 1e-9 DECIMAL grid; both sides solve the
    SAME closed-form 2×2 template.

    Scale plan: the bandwidth predicate is pushed into the parquet
    scan (only |u| ≤ 1 rows survive the filter), both side fits come
    from ONE map-side combined aggregate with conditional sums, and
    everything after lives on a 1-row relation."""
    o = load_table(spark, sf_dir, "orders")
    u = (
        o.select(
            ((F.col("o_totalprice").cast("double") - _RDD_CUT) / _RDD_BW).alias("u"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
        )
        .filter(F.abs(F.col("u")) <= 1.0)
        .withColumn("side", F.when(F.col("u") < 0, F.lit("l")).otherwise(F.lit("r")))
    )

    def side_agg(tag):
        only = lambda t: F.when(F.col("side") == tag, t)  # noqa: E731
        return [
            F.count(only(F.lit(1))).cast("double").alias(f"{tag}_n"),
            q9_sum(only(F.col("u"))).alias(f"{tag}_s1"),
            q9_sum(only(F.col("u") * F.col("u"))).alias(f"{tag}_s11"),
            F.sum(only(F.col("y"))).cast("double").alias(f"{tag}_sy"),
            q9_sum(only(F.col("u") * F.col("y"))).alias(f"{tag}_s1y"),
        ]

    m = u.agg(*(side_agg("l") + side_agg("r")))
    return m.select(
        F.col("l_n").cast("long").alias("n_left"),
        F.col("r_n").cast("long").alias("n_right"),
        F.round(F.expr(_ll_b0("l")), 6).alias("y_left_at_cut"),
        F.round(F.expr(_ll_b0("r")), 6).alias("y_right_at_cut"),
        F.round(F.expr(_ll_b1("r")) - F.expr(_ll_b1("l")), 6).alias("slope_change"),
        F.round(F.expr(_ll_b0("r")) - F.expr(_ll_b0("l")), 6).alias("rdd_effect"),
    )


# ---------------------------------------------------------------------------
# T-learner uplift by segment: per-arm OLS outcome models on
# (month, finished-status), then the 24-cell segment grid compares the
# model's predicted uplift against the actual per-cell contrast.
# Features are small integers and y is decimal, so every moment is
# EXACT (the `ols_regression_exact` discipline) — no quantization at
# all in this query.
# ---------------------------------------------------------------------------

_TL_SRC = """
  SELECT CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS x1,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS x2,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
         CAST(o_totalprice AS DECIMAL(30, 6)) AS y
  FROM orders
"""


def _tl_arm_sql(arm: int) -> str:
    return f"""
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {dec_double_sql("SUM(x1)")} AS s1,
         {dec_double_sql("SUM(x2)")} AS s2,
         {dec_double_sql("SUM(x1 * x1)")} AS s11,
         {dec_double_sql("SUM(x1 * x2)")} AS s12,
         {dec_double_sql("SUM(x2 * x2)")} AS s22,
         {dec_double_sql("SUM(y)")} AS sy,
         {dec_double_sql("SUM(x1 * y)")} AS s1y,
         {dec_double_sql("SUM(x2 * y)")} AS s2y
  FROM s WHERE t = {arm}
"""


_TL_SQL = f"""
WITH s AS ({_TL_SRC}),
mt_ AS ({_tl_arm_sql(1)}),
mt AS (SELECT {_ols3('')[0]} AS a0, {_ols3('')[1]} AS a1, {_ols3('')[2]} AS a2 FROM mt_),
mc_ AS ({_tl_arm_sql(0)}),
mc AS (SELECT {_ols3('')[0]} AS c0, {_ols3('')[1]} AS c1, {_ols3('')[2]} AS c2 FROM mc_),
cells AS (
  SELECT x1, x2,
         CAST(SUM(t) AS BIGINT) AS n_t,
         CAST(SUM(1 - t) AS BIGINT) AS n_c,
         {dec_double_sql("SUM(CASE WHEN t = 1 THEN y END)")} AS sy_t,
         {dec_double_sql("SUM(CASE WHEN t = 0 THEN y END)")} AS sy_c
  FROM s GROUP BY x1, x2
)
SELECT x1 AS month, x2 AS finished, n_t, n_c,
       round((a0 - c0) + (a1 - c1) * x1 + (a2 - c2) * x2, 6) AS uplift_pred,
       round(sy_t / n_t - sy_c / n_c, 6) AS uplift_actual
FROM cells CROSS JOIN mt CROSS JOIN mc
WHERE n_t > 0 AND n_c > 0
ORDER BY month, finished
"""


@register("uplift_tlearner_segments", _TL_SQL)
def q_uplift_tlearner_segments(spark, sf_dir):
    """T-learner uplift audit (Künzel et al. 2019): fit separate OLS
    outcome models on the treated (URGENT) and control arms over
    (order month, finished-status), predict per-segment uplift
    m1(x) - m0(x) on the 24-cell segment grid, and compare against the
    ACTUAL per-cell treatment contrast — the standard check that a
    heterogeneous-effect model's segments are real.  Integer features
    + decimal y make every moment exact; the closed-form solve shares
    the `ols_regression_exact` adjugate template.

    Scale plan: ONE fact scan computes both arms' moments with
    conditional sums, a second grouped aggregate builds the ≤24-cell
    grid (map-side combined on the tiny (month, status) key), and the
    two 1-row coefficient relations broadcast onto the grid.  No
    windows, no fact-grain joins."""
    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("x1"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("x2"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("t"),
        F.col("o_totalprice").cast("decimal(30, 6)").alias("y"),
    )

    def arm_moments(arm, p):
        only = lambda t: F.when(F.col("t") == arm, t)  # noqa: E731
        return [
            F.count(only(F.lit(1))).cast("double").alias(f"{p}n"),
            F.sum(only(F.col("x1"))).cast("double").alias(f"{p}s1"),
            F.sum(only(F.col("x2"))).cast("double").alias(f"{p}s2"),
            F.sum(only(F.col("x1") * F.col("x1"))).cast("double").alias(f"{p}s11"),
            F.sum(only(F.col("x1") * F.col("x2"))).cast("double").alias(f"{p}s12"),
            F.sum(only(F.col("x2") * F.col("x2"))).cast("double").alias(f"{p}s22"),
            F.sum(only(F.col("y"))).cast("double").alias(f"{p}sy"),
            F.sum(only(F.col("x1") * F.col("y"))).cast("double").alias(f"{p}s1y"),
            F.sum(only(F.col("x2") * F.col("y"))).cast("double").alias(f"{p}s2y"),
        ]

    tb0, tb1, tb2 = _ols3("t_")
    cb0, cb1, cb2 = _ols3("c_")
    coef = src.agg(*(arm_moments(1, "t_") + arm_moments(0, "c_"))).select(
        F.expr(tb0).alias("a0"),
        F.expr(tb1).alias("a1"),
        F.expr(tb2).alias("a2"),
        F.expr(cb0).alias("c0"),
        F.expr(cb1).alias("c1"),
        F.expr(cb2).alias("c2"),
    )
    cells = src.groupBy("x1", "x2").agg(
        F.sum("t").cast("long").alias("n_t"),
        F.sum(1 - F.col("t")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("t") == 1, F.col("y"))).cast("double").alias("sy_t"),
        F.sum(F.when(F.col("t") == 0, F.col("y"))).cast("double").alias("sy_c"),
    )
    return (
        cells.filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
        .crossJoin(F.broadcast(coef))
        .select(
            F.col("x1").alias("month"),
            F.col("x2").alias("finished"),
            "n_t",
            "n_c",
            F.round(
                (F.col("a0") - F.col("c0"))
                + (F.col("a1") - F.col("c1")) * F.col("x1")
                + (F.col("a2") - F.col("c2")) * F.col("x2"),
                6,
            ).alias("uplift_pred"),
            F.round(
                F.col("sy_t") / F.col("n_t") - F.col("sy_c") / F.col("n_c"), 6
            ).alias("uplift_actual"),
        )
        .orderBy("month", "finished")
    )


# ---------------------------------------------------------------------------
# Coarsened exact matching ATT: coarsen covariates to (month,
# finished-status) strata, keep strata populated on BOTH arms, weight
# each matched-stratum control group by m_t_s / m_c_s, and read the
# ATT off the weighted contrast (Iacus, King & Porro 2012).
# ---------------------------------------------------------------------------

_CEM_SQL = f"""
WITH s AS ({_TL_SRC}),
strata AS (
  SELECT x1, x2,
         CAST(SUM(t) AS BIGINT) AS m_t,
         CAST(SUM(1 - t) AS BIGINT) AS m_c,
         {dec_double_sql("SUM(CASE WHEN t = 1 THEN y END)")} AS sy_t,
         {dec_double_sql("SUM(CASE WHEN t = 0 THEN y END)")} AS sy_c
  FROM s GROUP BY x1, x2
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata_total,
         CAST(SUM(CASE WHEN m_t > 0 AND m_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_strata_matched,
         CAST(SUM(CASE WHEN m_t > 0 AND m_c > 0 THEN m_t ELSE 0 END) AS BIGINT)
           AS n_treated_matched,
         CAST(SUM(CASE WHEN m_t > 0 AND m_c > 0 THEN m_c ELSE 0 END) AS BIGINT)
           AS n_control_matched,
         {dec_double_sql(
             "SUM(CASE WHEN m_t > 0 AND m_c > 0 THEN CAST(sy_t AS DECIMAL(38, 9)) END)"
         )} AS sum_y_t,
         {q9_sum_sql(
             "CASE WHEN m_t > 0 AND m_c > 0 "
             "THEN (CAST(m_t AS DOUBLE) / CAST(m_c AS DOUBLE)) * sy_c END"
         )} AS sum_wy_c
  FROM strata
)
SELECT n_strata_total, n_strata_matched, n_treated_matched, n_control_matched,
       round(sum_y_t / n_treated_matched - sum_wy_c / n_treated_matched, 6)
         AS att_cem
FROM agg
"""


@register("cem_matching_att", _CEM_SQL)
def q_cem_matching_att(spark, sf_dir):
    """Coarsened-exact-matching ATT of URGENT priority on order value:
    strata = (order month, finished-status); strata populated on both
    arms are kept; each matched stratum's control outcome sum is
    weighted by m_t/m_c (the CEM weight normalized so weighted control
    mass equals treated mass), so ATT = Σy_t/M_t - Σ(m_t/m_c)·Σy_c/M_t.
    Per-stratum sums are exact decimals; the weighted control terms
    (one IEEE division + product per stratum) ride the 1e-9 DECIMAL
    grid because the stratum fan-in exceeds 2.

    Scale plan: one map-side combined group-by on the coarsened key
    (cardinality = |strata| ≪ rows), then a second aggregate over the
    tiny strata relation — matching without any row-level join, the
    reason CEM is THE matching estimator that survives 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("x1"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("x2"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("t"),
        F.col("o_totalprice").cast("decimal(30, 6)").alias("y"),
    )
    strata = src.groupBy("x1", "x2").agg(
        F.sum("t").cast("long").alias("m_t"),
        F.sum(1 - F.col("t")).cast("long").alias("m_c"),
        F.sum(F.when(F.col("t") == 1, F.col("y"))).cast("double").alias("sy_t"),
        F.sum(F.when(F.col("t") == 0, F.col("y"))).cast("double").alias("sy_c"),
    )
    matched = (F.col("m_t") > 0) & (F.col("m_c") > 0)
    w_term = (F.col("m_t").cast("double") / F.col("m_c").cast("double")) * F.col(
        "sy_c"
    )
    agg = strata.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata_total"),
        F.sum(F.when(matched, 1).otherwise(0)).cast("long").alias("n_strata_matched"),
        F.sum(F.when(matched, F.col("m_t")).otherwise(0))
        .cast("long")
        .alias("n_treated_matched"),
        F.sum(F.when(matched, F.col("m_c")).otherwise(0))
        .cast("long")
        .alias("n_control_matched"),
        F.sum(F.when(matched, F.col("sy_t").cast("decimal(38, 9)"))).cast("double").alias(
            "sum_y_t"
        ),
        q9_sum(F.when(matched, w_term)).alias("sum_wy_c"),
    )
    return agg.select(
        "n_strata_total",
        "n_strata_matched",
        "n_treated_matched",
        "n_control_matched",
        F.round(
            F.col("sum_y_t") / F.col("n_treated_matched")
            - F.col("sum_wy_c") / F.col("n_treated_matched"),
            6,
        ).alias("att_cem"),
    )


# ---------------------------------------------------------------------------
# Chow structural-break test on the daily revenue trend: pooled vs
# per-segment local-linear fits around a KNOWN break date; the F
# statistic is the classic ((SSE_p - SSE_1 - SSE_2)/k) /
# ((SSE_1 + SSE_2)/(n - 2k)) with k = 2 (Chow 1960).  Complements
# `cusum_changepoint` (unknown break location) with the inferential
# test for a hypothesized one.
# ---------------------------------------------------------------------------

_CHOW_EPOCH = "1995-01-01"  # day-index origin
_CHOW_BREAK = "1998-01-01"  # hypothesized break date


def _ll_sse(p: str) -> str:
    """Residual SSE of the {p}-prefixed local-linear fit:
    syy - (b0*sy + b1*s1y), same moment names as _ll_b0/_ll_b1."""
    return f"({p}_syy - ({_ll_b0(p)} * {p}_sy + {_ll_b1(p)} * {p}_s1y))"


def _chow_moments_sql(tag: str, pred: str) -> str:
    only = lambda t: f"CASE WHEN {pred} THEN {t} END"  # noqa: E731
    return (
        f"SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) * 1.0 AS {tag}_n,\n"
        f"  {q9_sum_sql(only('t'))} AS {tag}_s1,\n"
        f"  {q9_sum_sql(only('t * t'))} AS {tag}_s11,\n"
        f"  {q9_sum_sql(only('r'))} AS {tag}_sy,\n"
        f"  {q9_sum_sql(only('t * r'))} AS {tag}_s1y,\n"
        f"  {q9_sum_sql(only('r * r'))} AS {tag}_syy"
    )


def _chow_pool(expr_fn) -> str:
    """Instantiate a _ll template on pooled moments (a+b sums)."""
    out = expr_fn("p")
    for m in ("n", "s1y", "s11", "s1", "syy", "sy"):  # longest-first
        out = out.replace(f"p_{m}", f"(a_{m} + b_{m})")
    return out


def _chow_sql() -> str:
    sse_split = f"({_ll_sse('a')} + {_ll_sse('b')})"
    sse_pool = _chow_pool(_ll_sse)
    return f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '{_CHOW_EPOCH}',
                        CAST(o_orderdate AS DATE)) AS DOUBLE) AS t,
         {dec_sum_sql("o_totalprice")} AS r,
         CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_CHOW_BREAK}'
              THEN 1 ELSE 0 END AS pre
  FROM orders GROUP BY 1, 3
),
m AS (
  SELECT {_chow_moments_sql('a', 'pre = 1')},
  {_chow_moments_sql('b', 'pre = 0')}
  FROM daily
)
SELECT CAST(a_n AS BIGINT) AS n_pre,
       CAST(b_n AS BIGINT) AS n_post,
       round({_ll_b1('a')}, 6) AS slope_pre,
       round({_ll_b1('b')}, 6) AS slope_post,
       round({sse_pool} / 1e9, 6) AS sse_pooled_1e9,
       round({sse_split} / 1e9, 6) AS sse_split_1e9,
       round((({sse_pool} - {sse_split}) / 2.0)
             / ({sse_split} / (a_n + b_n - 4.0)), 6) AS f_stat
FROM m
"""


@register("chow_break_test", _chow_sql())
def q_chow_break_test(spark, sf_dir):
    """Chow test for a structural break in the daily revenue trend at
    a hypothesized date (Chow 1960): pooled vs per-segment linear fits
    of daily revenue on the day index, F = ((SSE_p - SSE_1 - SSE_2)/2)
    / ((SSE_1 + SSE_2)/(n - 4)).  The 2x2 solves and SSEs instantiate
    the SAME prefix-parameterized template as `rdd_cutoff_effect`
    (pooled moments are literally the a+b sums, substituted textually,
    so no third scan and no formula drift); daily revenue is an exact
    DECIMAL sum cast once to double, and every day-grain moment rides
    the 1e-9 DECIMAL grid.

    Scale plan: one map-side combined group-by to the day grain, then
    ONE aggregate over the day relation computes both segments' (and
    thus the pooled) moments with conditional sums — the fact is
    scanned once, the test is arithmetic on a 1-row relation."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(dec_sum("o_totalprice").alias("r"))
        .select(
            F.datediff(F.col("day"), F.lit(_CHOW_EPOCH).cast("date"))
            .cast("double")
            .alias("t"),
            "r",
            F.when(F.col("day") < F.lit(_CHOW_BREAK).cast("date"), 1)
            .otherwise(0)
            .alias("pre"),
        )
    )

    def seg(tag, flag):
        only = lambda c: F.when(F.col("pre") == flag, c)  # noqa: E731
        return [
            F.count(only(F.lit(1))).cast("double").alias(f"{tag}_n"),
            q9_sum(only(F.col("t"))).alias(f"{tag}_s1"),
            q9_sum(only(F.col("t") * F.col("t"))).alias(f"{tag}_s11"),
            q9_sum(only(F.col("r"))).alias(f"{tag}_sy"),
            q9_sum(only(F.col("t") * F.col("r"))).alias(f"{tag}_s1y"),
            q9_sum(only(F.col("r") * F.col("r"))).alias(f"{tag}_syy"),
        ]

    m = daily.agg(*(seg("a", 1) + seg("b", 0)))
    sse_split = f"({_ll_sse('a')} + {_ll_sse('b')})"
    sse_pool = _chow_pool(_ll_sse)
    return m.select(
        F.col("a_n").cast("long").alias("n_pre"),
        F.col("b_n").cast("long").alias("n_post"),
        F.round(F.expr(_ll_b1("a")), 6).alias("slope_pre"),
        F.round(F.expr(_ll_b1("b")), 6).alias("slope_post"),
        F.round(F.expr(sse_pool) / 1e9, 6).alias("sse_pooled_1e9"),
        F.round(F.expr(sse_split) / 1e9, 6).alias("sse_split_1e9"),
        F.round(
            F.expr(
                f"(({sse_pool} - {sse_split}) / 2.0)"
                f" / ({sse_split} / (a_n + b_n - 4.0))"
            ),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Causal flagship: the five-estimator readout for ONE question ("what
# does URGENT priority do to order value?") — naive contrast, IPW,
# AIPW, CEM-ATT, and the T-learner's population-averaged prediction,
# side by side.  Disagreement across rows IS the diagnostic: naive vs
# the adjusted estimators bounds confounding through the observed
# covariates; IPW vs AIPW vs CEM triangulates model sensitivity.
# ---------------------------------------------------------------------------


def _causal_e2e_sql() -> str:
    from .stats_causal import _aipw_sql, _ipw_sql

    naive = f"""
SELECT 'a_naive_diff' AS estimator, round(
  (SELECT {dec_double_sql("SUM(y)")} / COUNT(*)
   FROM ({_TL_SRC}) WHERE t = 1)
  - (SELECT {dec_double_sql("SUM(y)")} / COUNT(*)
     FROM ({_TL_SRC}) WHERE t = 0), 6) AS estimate
"""
    return f"""
{naive.strip()}
UNION ALL
SELECT 'b_ipw' AS estimator, ate_ipw AS estimate FROM ({_ipw_sql()})
UNION ALL
SELECT 'c_aipw' AS estimator, ate_aipw AS estimate FROM ({_aipw_sql()})
UNION ALL
SELECT 'd_cem_att' AS estimator, att_cem AS estimate FROM ({_CEM_SQL})
UNION ALL
SELECT 'e_tlearner_pop' AS estimator,
       round({q9_sum_sql("(n_t + n_c) * uplift_pred")}
             / SUM(n_t + n_c), 6) AS estimate
FROM ({_TL_SQL})
ORDER BY estimator
"""


@register("causal_e2e_readout", _causal_e2e_sql())
def q_causal_e2e_readout(spark, sf_dir):
    """Five causal estimators for the same URGENT→order-value
    question in one table: naive difference in means, IPW, AIPW,
    CEM-ATT, and the cell-weighted T-learner prediction — each row
    produced by the SAME certified machinery as its standalone query
    (`propensity_ipw_ate`, `aipw_doubly_robust_ate`,
    `cem_matching_att`, `uplift_tlearner_segments`).

    Scale plan: the union of the member plans — every member is
    moment-aggregate + broadcast shaped, so the composition inherits
    their contracts (no fact-grain joins or windows anywhere).  The
    IPW and AIPW members share ONE IRLS propensity chain (r12
    optimization, VERDICT r11 #2): both members fit the identical
    3-step Newton chain over the identical design matrix from the
    identical zero start, so the betas are bit-equal by construction —
    the readout fits them once (`irls_fit`) and hands the same
    (b0, b1, b2) tuple to both members, removing _IRLS_T fact scans
    from the composition.  The standalone member queries still fit
    their own chain (beta=None default), so their independent
    certification is untouched."""
    from .stats_causal import _urgent_src, q_aipw_doubly_robust_ate, q_propensity_ipw_ate
    from .stats_regression import irls_fit

    shared_beta = irls_fit(_urgent_src(spark, sf_dir))

    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("t"),
        F.col("o_totalprice").cast("decimal(30, 6)").alias("yo"),
    )
    naive = src.agg(
        F.round(
            F.sum(F.when(F.col("t") == 1, F.col("yo"))).cast("double")
            / F.sum(F.when(F.col("t") == 1, 1).otherwise(0))
            - F.sum(F.when(F.col("t") == 0, F.col("yo"))).cast("double")
            / F.sum(F.when(F.col("t") == 0, 1).otherwise(0)),
            6,
        ).alias("estimate")
    ).select(F.lit("a_naive_diff").alias("estimator"), "estimate")
    ipw = q_propensity_ipw_ate(spark, sf_dir, beta=shared_beta).select(
        F.lit("b_ipw").alias("estimator"), F.col("ate_ipw").alias("estimate")
    )
    aipw = q_aipw_doubly_robust_ate(spark, sf_dir, beta=shared_beta).select(
        F.lit("c_aipw").alias("estimator"), F.col("ate_aipw").alias("estimate")
    )
    cem = q_cem_matching_att(spark, sf_dir).select(
        F.lit("d_cem_att").alias("estimator"), F.col("att_cem").alias("estimate")
    )
    tl = (
        q_uplift_tlearner_segments(spark, sf_dir)
        .agg(
            F.round(
                q9_sum((F.col("n_t") + F.col("n_c")) * F.col("uplift_pred"))
                / F.sum(F.col("n_t") + F.col("n_c")),
                6,
            ).alias("estimate")
        )
        .select(F.lit("e_tlearner_pop").alias("estimator"), "estimate")
    )
    return (
        naive.unionByName(ipw)
        .unionByName(aipw)
        .unionByName(cem)
        .unionByName(tl)
        .orderBy("estimator")
    )


# ---------------------------------------------------------------------------
# Instrumental-variables (Wald) estimator: with a binary instrument z,
# beta_IV = (E[y|z=1] - E[y|z=0]) / (E[x|z=1] - E[x|z=0]) — the
# reduced form over the first stage (Angrist & Pischke 2009).  The
# family's answer when treatment is endogenous and neither IPW nor
# matching can fix it.
# ---------------------------------------------------------------------------

_IV_SQL = f"""
WITH s AS (
  SELECT CASE WHEN CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE))
                    AS BIGINT) <= 6 THEN 1 ELSE 0 END AS z,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x,
         CAST(o_totalprice AS DECIMAL(30, 6)) AS y
  FROM orders
),
m AS (
  SELECT SUM(CASE WHEN z = 1 THEN 1 ELSE 0 END) * 1.0 AS n1,
         SUM(CASE WHEN z = 0 THEN 1 ELSE 0 END) * 1.0 AS n0,
         CAST(SUM(CASE WHEN z = 1 THEN x ELSE 0 END) AS DOUBLE) AS x1,
         CAST(SUM(CASE WHEN z = 0 THEN x ELSE 0 END) AS DOUBLE) AS x0,
         {dec_double_sql("SUM(CASE WHEN z = 1 THEN y END)")}
           AS y1,
         {dec_double_sql("SUM(CASE WHEN z = 0 THEN y END)")}
           AS y0
  FROM s
)
SELECT CAST(n1 AS BIGINT) AS n_z1,
       CAST(n0 AS BIGINT) AS n_z0,
       round(x1 / n1 - x0 / n0, 6) AS first_stage,
       round(y1 / n1 - y0 / n0, 6) AS reduced_form,
       round((y1 / n1 - y0 / n0) / (x1 / n1 - x0 / n0), 6) AS beta_iv
FROM m
"""


@register("iv_wald_estimator", _IV_SQL)
def q_iv_wald_estimator(spark, sf_dir):
    """Wald IV estimate of URGENT priority's effect on order value
    with the first-half-year indicator as instrument: reduced form
    (intention-to-treat on y) divided by the first stage (instrument's
    effect on treatment uptake).  All four arm means are single
    divisions of exact sums (y decimal-summed), so the estimator is
    bit-stable; a weak first stage shows up directly in the
    first_stage column.

    Scale plan: ONE conditional-sum aggregate over the fact scan —
    identical shape to `ab_mde_readout`."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.when(F.month(F.col("o_orderdate").cast("date")) <= 6, 1)
        .otherwise(0)
        .alias("z"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("x"),
        F.col("o_totalprice").cast("decimal(30, 6)").alias("y"),
    )
    m = s.agg(
        F.sum(F.when(F.col("z") == 1, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(F.col("z") == 0, 1).otherwise(0)).cast("double").alias("n0"),
        F.sum(F.when(F.col("z") == 1, F.col("x")).otherwise(0))
        .cast("double")
        .alias("x1"),
        F.sum(F.when(F.col("z") == 0, F.col("x")).otherwise(0))
        .cast("double")
        .alias("x0"),
        F.sum(F.when(F.col("z") == 1, F.col("y"))).cast("double").alias("y1"),
        F.sum(F.when(F.col("z") == 0, F.col("y"))).cast("double").alias("y0"),
    )
    fs = F.col("x1") / F.col("n1") - F.col("x0") / F.col("n0")
    rf = F.col("y1") / F.col("n1") - F.col("y0") / F.col("n0")
    return m.select(
        F.col("n1").cast("long").alias("n_z1"),
        F.col("n0").cast("long").alias("n_z0"),
        F.round(fs, 6).alias("first_stage"),
        F.round(rf, 6).alias("reduced_form"),
        F.round(rf / fs, 6).alias("beta_iv"),
    )


# ---------------------------------------------------------------------------
# RDD manipulation (density) check: if units sort themselves across
# the cutoff, the running-variable density jumps there (McCrary 2008).
# The cheap two-bin form: counts in [c-h, c) vs [c, c+h) and the
# Poisson-difference z — a large |z| invalidates
# `rdd_cutoff_effect`'s identifying assumption.
# ---------------------------------------------------------------------------

_RDD_DENSITY_SQL = f"""
WITH w AS (
  SELECT CASE WHEN CAST(o_totalprice AS DOUBLE) >= {_RDD_CUT}
              THEN 1 ELSE 0 END AS side
  FROM orders
  WHERE CAST(o_totalprice AS DOUBLE) >= {_RDD_CUT} - {_RDD_BW}
    AND CAST(o_totalprice AS DOUBLE) < {_RDD_CUT} + {_RDD_BW}
)
SELECT CAST(SUM(1 - side) AS BIGINT) AS n_left,
       CAST(SUM(side) AS BIGINT) AS n_right,
       round((CAST(SUM(side) AS DOUBLE) - SUM(1 - side))
             / sqrt(CAST(SUM(side) AS DOUBLE) + SUM(1 - side)), 6)
         AS density_z,
       CAST(CASE WHEN abs((CAST(SUM(side) AS DOUBLE) - SUM(1 - side))
                          / sqrt(CAST(SUM(side) AS DOUBLE) + SUM(1 - side)))
                      > 1.959964 THEN 1 ELSE 0 END AS BIGINT) AS manipulation_flag
FROM w
"""


@register("rdd_density_check", _RDD_DENSITY_SQL)
def q_rdd_density_check(spark, sf_dir):
    """McCrary-style density check at `rdd_cutoff_effect`'s cutoff:
    counts in the bandwidth window on each side and the
    Poisson-difference z = (n_r - n_l)/sqrt(n_r + n_l); |z| > 1.96
    flags sorting across the threshold (identification failure).
    Counts exact, one shared expression.

    Scale plan: the window predicate pushes into the scan; the test is
    ONE conditional-sum aggregate."""
    o = load_table(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("double")
    w = o.filter((v >= _RDD_CUT - _RDD_BW) & (v < _RDD_CUT + _RDD_BW)).select(
        F.when(v >= _RDD_CUT, 1).otherwise(0).alias("side")
    )
    agg = w.agg(
        F.sum(1 - F.col("side")).cast("long").alias("n_left"),
        F.sum("side").cast("long").alias("n_right"),
    )
    z = (F.col("n_right").cast("double") - F.col("n_left")) / F.sqrt(
        F.col("n_right").cast("double") + F.col("n_left")
    )
    return agg.select(
        "n_left",
        "n_right",
        F.round(z, 6).alias("density_z"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).cast("long").alias(
            "manipulation_flag"
        ),
    )


# ---------------------------------------------------------------------------
# Covariate balance (standardized mean differences) before vs after
# CEM weighting — THE matching diagnostic (|SMD| < 0.1 = balanced):
# raw SMD per covariate from the arm moments, weighted SMD with each
# matched stratum's controls reweighted by m_t/m_c (the same weights
# `cem_matching_att` applies to outcomes, applied to covariates).
# ---------------------------------------------------------------------------


def _smd_sql() -> str:
    mom = lambda p, arm, x: (  # noqa: E731
        f"SUM(CASE WHEN t = {arm} THEN 1 ELSE 0 END) * 1.0 AS {p}n,\n"
        f"    {q9_sum_sql(f'CASE WHEN t = {arm} THEN {x} END')} AS {p}s,\n"
        f"    {q9_sum_sql(f'CASE WHEN t = {arm} THEN {x} * {x} END')} AS {p}ss"
    )
    var = lambda p: f"(({p}ss - {p}s * {p}s / {p}n) / ({p}n - 1.0))"  # noqa: E731
    smd = (
        f"round((t_s / t_n - c_s / c_n)"
        f" / sqrt(({var('t_')} + {var('c_')}) / 2.0), 6)"
    )

    def cov(name: str, x: str) -> str:
        return f"""
SELECT '{name}' AS covariate,
       {smd} AS smd_raw,
       round((t_s / t_n - wc_s / wc_n)
             / sqrt(({var('t_')} + {var('c_')}) / 2.0), 6) + 0.0
         AS smd_weighted
FROM (
  SELECT
    {mom('t_', 1, x)},
    {mom('c_', 0, x)}
  FROM s
) raw CROSS JOIN (
  SELECT {q9_sum_sql(f'w * {x}')} AS wc_s, {q9_sum_sql('w')} AS wc_n
  FROM sw WHERE t = 0
) wtd
"""

    return f"""
WITH s AS ({_TL_SRC.replace(' AS y', ' AS yo').replace('AS t,', 'AS t,')}),
strata AS (
  SELECT x1 AS k1, x2 AS k2,
         CAST(SUM(t) AS DOUBLE) AS m_t, CAST(SUM(1 - t) AS DOUBLE) AS m_c
  FROM s GROUP BY 1, 2
),
sw AS (
  SELECT s.x1, s.x2, s.t,
         CASE WHEN st.m_t > 0 AND st.m_c > 0 AND s.t = 0
              THEN st.m_t / st.m_c ELSE 0.0 END AS w
  FROM s JOIN strata st ON s.x1 = st.k1 AND s.x2 = st.k2
)
{cov('month', 'x1')}
UNION ALL
{cov('finished', 'x2')}
ORDER BY covariate
"""


@register("covariate_balance_smd", _smd_sql())
def q_covariate_balance_smd(spark, sf_dir):
    """Standardized mean differences of the CEM covariates (order
    month, finished flag) between the URGENT and control arms, raw vs
    CEM-weighted: SMD = (x̄_t - x̄_c)/sqrt((s²_t + s²_c)/2), with the
    weighted control mean using each matched stratum's m_t/m_c weight
    — exactly the weights `cem_matching_att` applies to outcomes, so
    balanced covariates certify the ATT row.  On exact-matching strata
    the weighted SMDs are ~0 by construction — the diagnostic proves
    it rather than assuming it.  Moments ride the 1e-9 DECIMAL grid.

    Scale plan: one stratum group-by + a stratum-keyed broadcast join
    for weights + conditional-moment aggregates — no windows."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("x1"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("x2"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("t"),
    )

    strata = s.groupBy(
        F.col("x1").alias("k1"), F.col("x2").alias("k2")
    ).agg(
        F.sum("t").cast("double").alias("m_t"),
        F.sum(1 - F.col("t")).cast("double").alias("m_c"),
    )
    sw = s.join(
        F.broadcast(strata),
        (s["x1"] == strata["k1"]) & (s["x2"] == strata["k2"]),
    ).select(
        "x1",
        "x2",
        "t",
        F.when(
            (F.col("m_t") > 0) & (F.col("m_c") > 0) & (F.col("t") == 0),
            F.col("m_t") / F.col("m_c"),
        )
        .otherwise(0.0)
        .alias("w"),
    ).localCheckpoint(eager=True)

    def cov(name, col):
        x = F.col(col)
        only = lambda arm, term: F.when(F.col("t") == arm, term)  # noqa: E731
        raw = sw.agg(
            F.count(only(1, F.lit(1))).cast("double").alias("t_n"),
            q9_sum(only(1, x)).alias("t_s"),
            q9_sum(only(1, x * x)).alias("t_ss"),
            F.count(only(0, F.lit(1))).cast("double").alias("c_n"),
            q9_sum(only(0, x)).alias("c_s"),
            q9_sum(only(0, x * x)).alias("c_ss"),
        )
        wtd = sw.filter(F.col("t") == 0).agg(
            q9_sum(F.col("w") * x).alias("wc_s"),
            q9_sum(F.col("w")).alias("wc_n"),
        )
        var = lambda p: (  # noqa: E731
            (F.col(f"{p}ss") - F.col(f"{p}s") * F.col(f"{p}s") / F.col(f"{p}n"))
            / (F.col(f"{p}n") - 1.0)
        )
        denom = F.sqrt((var("t_") + var("c_")) / 2.0)
        return raw.crossJoin(F.broadcast(wtd)).select(
            F.lit(name).alias("covariate"),
            F.round(
                (F.col("t_s") / F.col("t_n") - F.col("c_s") / F.col("c_n"))
                / denom,
                6,
            ).alias("smd_raw"),
            (
                F.round(
                    (F.col("t_s") / F.col("t_n") - F.col("wc_s") / F.col("wc_n"))
                    / denom,
                    6,
                )
                + 0.0  # canonicalize IEEE -0.0 (exact balance) to +0.0
            ).alias("smd_weighted"),
        )

    return cov("month", "x1").unionByName(cov("finished", "x2")).orderBy("covariate")
