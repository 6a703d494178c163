"""Exact regression / classification / forecasting family (split from
stats_ext.py, VERDICT r5 ask #5; registry names unchanged): ACF,
Theil-Sen, closed-form OLS/ridge, IRLS logistic regression, the
Gaussian-NB exact-ML family, the quality-classifier filter, Holt /
Holt-Winters / STL forecast decompositions, diff-in-diff.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.hashing import hash_bucket, hash_bucket_sql
from ..functions.numeric import dec_double_sql, dec_sum, dec_sum_sql, grid_sum, grid_sum_sql
from ..functions.numeric import quantize, quantize_sql
from ..sources.tables import load_table
from . import register

# ---------------------------------------------------------------------------
# Autocorrelation function of the daily event count at lags 1..7 —
# the seasonality detector that motivates seasonal_naive_wape's weekly
# lag.  Terms are quantized then summed in DECIMAL, so the day-order
# of the aggregation never matters.
# ---------------------------------------------------------------------------

_ACF_MAXLAG = 7

# daily counts, mean, centered sum of squares and the per-lag numerators:
# the ACF's CTEs, shared with the Ljung-Box test below
_ACF_CTES = f"""WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM events GROUP BY 1
),
m AS (
  SELECT {dec_sum_sql("c")} / COUNT(*) AS mean,
         COUNT(*) AS n
  FROM daily
),
den AS (
  SELECT {grid_sum_sql("(c - m.mean) * (c - m.mean)", 6)} AS den
  FROM daily CROSS JOIN m
),
lags AS (SELECT unnest(range(1, {_ACF_MAXLAG + 1})) AS lag),
num AS (
  SELECT l.lag,
         {grid_sum_sql("(a.c - m.mean) * (b.c - m.mean)", 6)} AS num,
         COUNT(*) AS n_pairs
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON b.d = a.d + CAST(l.lag AS INTEGER)
  CROSS JOIN m
  GROUP BY l.lag
)"""

_ACF_SQL = f"""
{_ACF_CTES}
SELECT CAST(lag AS BIGINT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
       round(num / den.den, 6) AS acf
FROM num CROSS JOIN den
"""


def _acf_frames(spark, sf_dir):
    """Spark twin of ``_ACF_CTES``: the ``m`` frame (mean, n) and the
    per-lag ``rho`` frame (lag, n_pairs, acf)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    m = daily.agg(
        (dec_sum("c") / F.count(F.lit(1))).alias("mean"),
        F.count(F.lit(1)).alias("n"),
    )
    dm = daily.crossJoin(F.broadcast(m))
    cterm = (F.col("c") - F.col("mean")) * (F.col("c") - F.col("mean"))
    den = dm.agg(grid_sum(cterm, 6).alias("den"))
    lags = (
        daily.sparkSession.range(1, _ACF_MAXLAG + 1)
        .select(F.col("id").cast("int").alias("lag"))
    )
    b = daily.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    paired = (
        dm.select("d", "c", "mean")
        .crossJoin(F.broadcast(lags))
        .join(b, F.col("d2") == F.expr("date_add(d, lag)"))
    )
    pterm = (F.col("c") - F.col("mean")) * (F.col("c2") - F.col("mean"))
    num = paired.groupBy("lag").agg(
        grid_sum(pterm, 6).alias("num"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    rho = num.crossJoin(F.broadcast(den)).select(
        "lag", "n_pairs", F.round(F.col("num") / F.col("den"), 6).alias("acf")
    )
    return m, rho


@register("acf_daily_counts", _ACF_SQL)
def q_acf_daily_counts(spark, sf_dir):
    _, rho = _acf_frames(spark, sf_dir)
    return rho.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "acf",
    )

q_acf_daily_counts.__doc__ = f"""Sample autocorrelation of the daily event count at lags
    1..{_ACF_MAXLAG}: numerators pair each day with day+lag via an
    equi-join on the date (never a window per lag), denominator is the
    centered sum of squares; each centered product is quantized at
    1e-6 and summed in DECIMAL, so day order can't perturb the sums.
    A weekly cycle shows up as the lag-7 peak (this fixture's
    generator has one) — the justification step before committing to
    `seasonal_naive_wape`'s lag-7 forecaster.

    Scale plan: the fact collapses to one row per day first; the
    lag join and moments all run on the |days| relation (dim-sized).
    """


# ---------------------------------------------------------------------------
# Theil-Sen robust trend of the daily event count: the median of all
# pairwise slopes — 29.3% breakdown point where OLS has 0%.  The
# all-pairs relation is |days|², which is exactly why the slopes are
# computed on the DAY-grain aggregate (dim-sized), never the fact.
# ---------------------------------------------------------------------------

_TS_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM events GROUP BY 1
),
d0 AS (SELECT MIN(d) AS d0 FROM daily),
idx AS (
  SELECT CAST(d - d0.d0 AS BIGINT) AS x, c FROM daily CROSS JOIN d0
),
slopes AS (
  SELECT CAST(b.c - a.c AS DOUBLE) / (b.x - a.x) AS s
  FROM idx a JOIN idx b ON b.x > a.x
),
med AS (
  SELECT round(quantile_cont(s, 0.5), 6) AS slope,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM slopes
),
resid AS (
  SELECT round(quantile_cont(c - m.slope * x, 0.5), 6) AS intercept,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM idx CROSS JOIN med m
)
SELECT r.n_days, m.n_pairs, m.slope AS slope_per_day, r.intercept
FROM med m CROSS JOIN resid r
"""


@register("theil_sen_daily_trend", _TS_SQL)
def q_theil_sen_daily_trend(spark, sf_dir):
    """Theil-Sen estimator of the daily event-count trend: slope =
    median of all pairwise (c_j−c_i)/(x_j−x_i), intercept = median of
    c − slope·x — the robust regression line a volume monitor fits
    (one rogue day moves OLS arbitrarily; Theil-Sen shrugs off 29% of
    days).  Each slope is ONE double divide of exact integers
    (bit-identical across engines); the medians use the interpolated
    rule shared by Spark `percentile` and DuckDB `quantile_cont`, and
    the slope is quantized at 1e-6 before the residual pass.

    Scale plan: the fact collapses to per-day counts first; the
    all-pairs slope relation is |days|² on the DIM relation (~10⁵ rows
    for a year), so 'quadratic' here is dim-sized arithmetic — the
    pattern that makes exact Theil-Sen feasible at any event volume."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    d0 = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("d", "d0").cast("long").alias("x"), "c"
    )
    a = idx.select(F.col("x").alias("xa"), F.col("c").alias("ca"))
    b = idx.select(F.col("x").alias("xb"), F.col("c").alias("cb"))
    slopes = a.join(b, F.col("xb") > F.col("xa")).select(
        ((F.col("cb") - F.col("ca")).cast("double") / (F.col("xb") - F.col("xa"))).alias("s")
    )
    med = slopes.agg(
        F.round(F.expr("percentile(s, 0.5)"), 6).alias("slope"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    ).localCheckpoint(eager=True)  # 1 row; feeds residuals AND output
    resid = (
        idx.crossJoin(F.broadcast(med))
        .agg(
            F.round(
                F.expr("percentile(c - slope * x, 0.5)"), 6
            ).alias("intercept"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
    )
    return med.crossJoin(F.broadcast(resid)).select(
        "n_days", "n_pairs", F.col("slope").alias("slope_per_day"), "intercept"
    )


# ---------------------------------------------------------------------------
# OLS regression as pure dataflow, oracle-checked end to end: one scan
# builds the normal-equation moments as EXACT decimals (the features
# are small integers, so every cross-moment is an exact decimal
# product — no quantization anywhere), then the 3x3 system solves in
# closed form with identical double-op order on both engines.  What
# MLlib's LinearRegression does iteratively, certified exactly.
# ---------------------------------------------------------------------------

# shared closed-form solve (adjugate / determinant) over the moment
# names — ONE template generates both engines so the formulas cannot
# drift apart.  Matrix: [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]]; rhs:
# [sy, s1y, s2y].
_OLS_DET = "(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2))"
_OLS_B0 = f"((sy * (s11 * s22 - s12 * s12) - s1y * (s1 * s22 - s12 * s2) + s2y * (s1 * s12 - s11 * s2)) / {_OLS_DET})"
_OLS_B1 = f"((n * (s1y * s22 - s12 * s2y) - s1 * (sy * s22 - s2y * s2) + s2 * (sy * s12 - s1y * s2)) / {_OLS_DET})"
_OLS_B2 = f"((n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - sy * s12) + s2 * (s1 * s1y - sy * s11)) / {_OLS_DET})"
_OLS_SSE = f"(syy - ({_OLS_B0} * sy + {_OLS_B1} * s1y + {_OLS_B2} * s2y))"
_OLS_SST = "(syy - sy * sy / n)"

_OLS_SQL = f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {dec_double_sql("SUM(x1)")} AS s1,
         {dec_double_sql("SUM(x2)")} AS s2,
         {dec_double_sql("SUM(x1 * x1)")} AS s11,
         {dec_double_sql("SUM(x1 * x2)")} AS s12,
         {dec_double_sql("SUM(x2 * x2)")} AS s22,
         {dec_double_sql("SUM(y)")} AS sy,
         {dec_double_sql("SUM(x1 * y)")} AS s1y,
         {dec_double_sql("SUM(x2 * y)")} AS s2y,
         {dec_double_sql("SUM(y * y)")} AS syy
  FROM (
    SELECT CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS x1,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x2,
           CAST(o_totalprice AS DECIMAL(30, 6)) AS y
    FROM orders
  )
)
SELECT CAST(n AS BIGINT) AS n,
       round({_OLS_B0}, 6) AS b_intercept,
       round({_OLS_B1}, 6) AS b_month,
       round({_OLS_B2}, 6) AS b_urgent,
       round(1.0 - {_OLS_SSE} / {_OLS_SST}, 6) AS r_squared
FROM m
"""


@register("ols_regression_exact", _OLS_SQL)
def q_ols_regression_exact(spark, sf_dir):
    """Ordinary least squares, trained in ONE aggregate: y =
    o_totalprice on (order month, urgent flag).  Because both features
    are small integers, every normal-equation moment (Σx, Σx², Σxy,
    Σy²) accumulates as an EXACT decimal — zero quantization, zero
    float-order sensitivity — and the closed-form 3×3 solve
    (adjugate/det) runs the same double expression tree on both
    engines, generated from one template so the formulas cannot drift.
    Outputs: coefficients and R² (all O(1)-magnitude after the final
    divide).

    Scale plan: training IS one map-side-combined aggregate over the
    fact scan — the cheapest possible 'fit' at 100 TB (what MLlib's
    LinearRegression needs iterative passes for, p=2 needs none).  The
    same moment template extends to any p with p²/2 decimal sums."""
    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("x1"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("x2"),
        F.col("o_totalprice").cast("decimal(30, 6)").alias("y"),
    )
    m = src.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.expr(_OLS_B0), 6).alias("b_intercept"),
        F.round(F.expr(_OLS_B1), 6).alias("b_month"),
        F.round(F.expr(_OLS_B2), 6).alias("b_urgent"),
        F.round(F.expr(f"1.0 - {_OLS_SSE} / {_OLS_SST}"), 6).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Logistic regression by unrolled IRLS (Newton) — oracle-checked GLM
# TRAINING as pure dataflow.  Each iteration: one scan computes the
# weighted normal-equation moments (every per-row term quantized at
# 1e-9 and summed in DECIMAL, so row order never matters), the 3x3
# Newton step solves with the SAME adjugate template as OLS, and the
# sigmoid is quantized to the 1e-9 grid so exp() library differences
# can't leak through.  Three iterations unrolled on both engines.
#
# The loop exists once per engine: `irls_fit` / `irls_score` (Spark)
# and `irls_sql_ctes` (oracle).  Every IRLS consumer — logistic
# (`link="logit"`) or Poisson (`link="log"`) — goes through them.
# ---------------------------------------------------------------------------

_IRLS_T = 3

# sigmoid on the 1e-9 grid, clamped away from {0,1} for the log-loss
_IRLS_P = (
    "least(greatest(round(1.0 / (1.0 + exp(-(b0 + b1 * x1 + b2 * x2))), 9),"
    " 0.000000001), 0.999999999)"
)
# Poisson mean (log link): quantized AFTER exp, floored away from 0
_PGLM_MU = "greatest(round(exp(b0 + b1 * x1 + b2 * x2), 9), 0.000000001)"

# link -> (fitted-mean column, its SQL, Newton weight)
_IRLS_LINKS = {
    "logit": ("p", _IRLS_P, "p * (1.0 - p)"),
    "log": ("mu", _PGLM_MU, "mu"),
}


def _irls_moments(link: str) -> list[tuple[str, str]]:
    """The nine per-step moments as (name, row term).  The names REUSE
    the OLS adjugate/det template: H -> (n,s1,s2,s11,s12,s22),
    g -> (sy,s1y,s2y)."""
    m, _, w = _IRLS_LINKS[link]
    r = f"(y - {m})"
    return [
        ("n", w),
        ("s1", f"{w} * x1"),
        ("s2", f"{w} * x2"),
        ("s11", f"{w} * x1 * x1"),
        ("s12", f"{w} * x1 * x2"),
        ("s22", f"{w} * x2 * x2"),
        ("sy", r),
        ("s1y", f"{r} * x1"),
        ("s2y", f"{r} * x2"),
    ]


def irls_sql_ctes(link: str = "logit") -> list[str]:
    """Oracle twin of `irls_fit`: the CTEs ``b0_`` .. ``b{_IRLS_T}_``
    of the unrolled Newton chain from zero over a CTE ``s`` with
    columns (x1, x2, y).  The caller prepends ``s`` and scores against
    the last 1-row ``b{_IRLS_T}_``."""
    m, mean_sql, _ = _IRLS_LINKS[link]
    sums = ", ".join(f"{grid_sum_sql(t, 9)} AS {n}" for n, t in _irls_moments(link))
    parts = ["b0_ AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"]
    for i in range(1, _IRLS_T + 1):
        parts.append(
            f"r{i} AS (SELECT x1, x2, y, {mean_sql} AS {m}, b0, b1, b2 "
            f"FROM s CROSS JOIN b{i-1}_)"
        )
        parts.append(
            f"a{i} AS (SELECT ANY_VALUE(b0) AS b0, ANY_VALUE(b1) AS b1, "
            f"ANY_VALUE(b2) AS b2, {sums} FROM r{i})"
        )
        parts.append(
            f"b{i}_ AS (SELECT b0 + {_OLS_B0} AS b0, b1 + {_OLS_B1} AS b1, "
            f"b2 + {_OLS_B2} AS b2 FROM a{i})"
        )
    return parts


def irls_score(src, beta, link: str = "logit"):
    """``src`` plus the coefficients as literal columns b0..b2 and the
    fitted mean (``p`` for logit, ``mu`` for log) from the same SQL
    template the oracle uses.  Works on batch and streaming frames."""
    m, mean_sql, _ = _IRLS_LINKS[link]
    b0, b1, b2 = beta
    return src.select(
        "*", F.lit(b0).alias("b0"), F.lit(b1).alias("b1"), F.lit(b2).alias("b2")
    ).withColumn(m, F.expr(mean_sql))


def irls_fit(src, link: str = "logit") -> tuple[float, float, float]:
    """_IRLS_T unrolled Newton/IRLS steps from zero over ``src``
    (columns x1, x2, y).  Each step is one aggregate of the nine q9
    moments and one ``.first()`` of ``b_k + _OLS_Bk``.  The betas live
    on the driver as Python floats (a Spark double round-trips through
    a Python float exactly) and enter the next scan as literals:
    nothing is joined or persisted between steps."""
    beta = (0.0, 0.0, 0.0)
    for _ in range(_IRLS_T):
        a = irls_score(src, beta, link).agg(
            *[grid_sum(F.expr(t), 9).alias(n) for n, t in _irls_moments(link)]
        )
        beta = tuple(
            a.select(
                *[
                    F.lit(b) + F.expr(step)
                    for b, step in zip(beta, (_OLS_B0, _OLS_B1, _OLS_B2))
                ]
            ).first()
        )
    return beta


_IRLS_SRC = """
  SELECT CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS x1,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x2,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
"""


def _logreg_src(spark, sf_dir):
    """Spark twin of `_IRLS_SRC`: x1 = order month, x2 = urgent flag,
    y = finished-status.  Shared by the logistic model's consumers
    (`logreg_irls_exact`, `brier_decomposition`, `model_gains_table`)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("x1"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("x2"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )


def _irls_sql() -> str:
    parts = [f"s AS ({_IRLS_SRC})", *irls_sql_ctes()]
    t = _IRLS_T
    parts.append(
        f"rf AS (SELECT x1, x2, y, {_IRLS_P} AS p FROM s CROSS JOIN b{t}_)"
    )
    parts.append(
        "loss AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        + grid_sum_sql(
            "y * round(ln(p), 9) + (1 - y) * round(ln(1.0 - p), 9)", 9
        )
        + " AS ll FROM rf)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT l.n,
       round(b.b0, 6) AS b_intercept,
       round(b.b1, 6) AS b_month,
       round(b.b2, 6) AS b_urgent,
       round(-l.ll / l.n, 6) AS log_loss
FROM b{t}_ b CROSS JOIN loss l
"""
    )


@register("logreg_irls_exact", _irls_sql())
def q_logreg_irls_exact(spark, sf_dir):
    """Logistic regression (is the order finished?) on (month, urgent)
    trained by three unrolled Newton/IRLS steps — distributed GLM
    training certified through the full oracle gate, which MLlib's
    rows-only LogisticRegression cannot be.  Per iteration: ONE fact
    scan reduces to nine weighted moments (each row term quantized at
    1e-9 → DECIMAL sum → double, so partition order can't move a bit),
    and the Newton step is the same closed-form 3×3 adjugate solve as
    `ols_regression_exact` — one shared template, two consumers.  The
    sigmoid and the final log-loss quantize every transcendental to
    the 1e-9 grid (the engine's standard discipline), with p clamped
    off {0,1}.

    Scale plan: T iterations = T map-side-combined aggregates over the
    scan — no gradient state; the 3 coefficients come back to the
    driver after each step and enter the next scan as literals.
    Convergence is textbook Newton (quadratic near the optimum; the
    unit test pins the fit against scikit-free numpy IRLS run to
    convergence)."""
    src = _logreg_src(spark, sf_dir)
    beta = irls_fit(src)
    ll_term = F.col("y") * F.round(F.log("p"), 9) + (1 - F.col("y")) * F.round(
        F.log(1.0 - F.col("p")), 9
    )
    return irls_score(src, beta).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.round(F.lit(b), 6).alias(c)
            for b, c in zip(beta, ("b_intercept", "b_month", "b_urgent"))
        ],
        F.round(-grid_sum(ll_term, 9) / F.count(F.lit(1)), 6).alias("log_loss"),
    )


# ---------------------------------------------------------------------------
# Gaussian Naive Bayes, trained AND applied through the oracle gate —
# the certified twin of the reference's NaiveBayes stage (rows-only
# `ml_train_nb` certifies the MLlib library; this certifies the
# algorithm): per-class decimal moments -> quantized-log likelihoods ->
# argmax classification of a hash-held-out test split -> confusion
# counts.
# ---------------------------------------------------------------------------

_GNB_PI2 = "6.283185307179586"  # 2*pi as an exact literal on both engines

# src -> hash split -> per-class 1e-9-grid moments -> model: the CTE
# prefix every GNB oracle shares (``_gnb_scored`` is the Spark twin)
_GNB_CTES = f"""
WITH src AS (
  SELECT o_orderkey, o_orderstatus AS cls,
         CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS DOUBLE) AS x1,
         o_totalprice / 1000.0 AS x2,
         ({hash_bucket_sql("o_orderkey", 10, seed="gnb:")}) AS bkt
  FROM orders
),
train AS (SELECT * FROM src WHERE bkt < 8),
test AS (SELECT * FROM src WHERE bkt >= 8),
stats AS (
  SELECT cls, COUNT(*) AS n_c,
         {grid_sum_sql('x1', 9)} / COUNT(*) AS m1,
         {grid_sum_sql('x1 * x1', 9)} / COUNT(*) AS s11,
         {grid_sum_sql('x2', 9)} / COUNT(*) AS m2,
         {grid_sum_sql('x2 * x2', 9)} / COUNT(*) AS s22
  FROM train GROUP BY cls
),
model AS (
  SELECT cls, n_c,
         round(ln(CAST(n_c AS DOUBLE) / (SELECT COUNT(*) FROM train)), 9) AS prior_ln,
         m1, s11 - m1 * m1 AS v1,
         round(ln({_GNB_PI2} * (s11 - m1 * m1)), 9) AS lnv1,
         m2, s22 - m2 * m2 AS v2,
         round(ln({_GNB_PI2} * (s22 - m2 * m2)), 9) AS lnv2
  FROM stats
),"""

# log-likelihood of test row t under class model m
_GNB_LL = (
    "(prior_ln - 0.5 * (lnv1 + (x1 - m1) * (x1 - m1) / v1)"
    " - 0.5 * (lnv2 + (x2 - m2) * (x2 - m2) / v2))"
)


def _gnb_scored(spark, sf_dir):
    """Every held-out order x class-model pair: ``actual``, ``mcls``,
    the 1e-9-quantized log-likelihood ``ll`` and the argmax rank ``rk``
    (unquantized likelihood descending, class name ascending)."""
    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("cls"),
        F.year(F.col("o_orderdate").cast("date")).cast("double").alias("x1"),
        (F.col("o_totalprice") / 1000.0).alias("x2"),
        hash_bucket("o_orderkey", 10, seed="gnb:").alias("bkt"),
    )
    train = src.filter(F.col("bkt") < 8)
    test = src.filter(F.col("bkt") >= 8)

    stats = train.groupBy("cls").agg(
        F.count(F.lit(1)).alias("n_c"),
        (grid_sum(F.col("x1"), 9) / F.count(F.lit(1))).alias("m1"),
        (grid_sum(F.col("x1") * F.col("x1"), 9) / F.count(F.lit(1))).alias("s11"),
        (grid_sum(F.col("x2"), 9) / F.count(F.lit(1))).alias("m2"),
        (grid_sum(F.col("x2") * F.col("x2"), 9) / F.count(F.lit(1))).alias("s22"),
    )
    n_train = train.agg(F.count(F.lit(1)).alias("n_train"))
    pi2 = float(_GNB_PI2)
    model = stats.crossJoin(F.broadcast(n_train)).select(
        F.col("cls").alias("mcls"),
        F.round(F.log(F.col("n_c").cast("double") / F.col("n_train")), 9).alias(
            "prior_ln"
        ),
        "m1",
        (F.col("s11") - F.col("m1") * F.col("m1")).alias("v1"),
        F.round(F.log(pi2 * (F.col("s11") - F.col("m1") * F.col("m1"))), 9).alias(
            "lnv1"
        ),
        "m2",
        (F.col("s22") - F.col("m2") * F.col("m2")).alias("v2"),
        F.round(F.log(pi2 * (F.col("s22") - F.col("m2") * F.col("m2"))), 9).alias(
            "lnv2"
        ),
    )
    ll = (
        F.col("prior_ln")
        - 0.5
        * (
            F.col("lnv1")
            + (F.col("x1") - F.col("m1")) * (F.col("x1") - F.col("m1")) / F.col("v1")
        )
        - 0.5
        * (
            F.col("lnv2")
            + (F.col("x2") - F.col("m2")) * (F.col("x2") - F.col("m2")) / F.col("v2")
        )
    )
    w = Window.partitionBy("o_orderkey").orderBy(ll.desc(), F.col("mcls").asc())
    return test.crossJoin(F.broadcast(model)).select(
        "o_orderkey",
        F.col("cls").alias("actual"),
        "mcls",
        F.round(ll, 9).alias("ll"),
        F.row_number().over(w).alias("rk"),
    )


_GNB_SQL = f"""{_GNB_CTES}
scored AS (
  SELECT t.o_orderkey, t.cls AS actual, m.cls AS predicted,
         ROW_NUMBER() OVER (PARTITION BY t.o_orderkey
           ORDER BY {_GNB_LL} DESC, m.cls ASC) AS rk
  FROM test t CROSS JOIN model m
)
SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
FROM scored WHERE rk = 1
GROUP BY actual, predicted
"""


@register("gnb_train_confusion_exact", _GNB_SQL)
def q_gnb_train_confusion_exact(spark, sf_dir):
    """Gaussian Naive Bayes end to end: train per-class Gaussians of
    (order year, price/1000) on the hash-80% split, classify the held
    -out 20% by quantized-log-likelihood argmax (class-name tiebreak),
    output the confusion matrix — the certified-exact counterpart of
    the reference's NaiveBayes stage (modelling.py:139-151), whose
    MLlib twin is necessarily rows-only.

    Determinism: moments are 1e-9-quantized DECIMAL sums (row order
    can't move a bit), each ln() is rounded to the same grid before it
    enters the likelihood (libm differences can't leak), and the
    remaining arithmetic is identical-double expressions — so the
    argmax, and therefore every confusion cell, matches the oracle
    exactly.

    Scale plan: training is one grouped aggregate (|classes| rows);
    scoring is a |classes|-row broadcast cross join + per-row argmax —
    both map-side; the confusion rollup is |classes|² cells."""
    return (
        _gnb_scored(spark, sf_dir)
        .filter(F.col("rk") == 1)
        .groupBy("actual", F.col("mcls").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Per-class precision / recall / F1 from the certified GNB confusion
# matrix — the oracle-checked counterpart of the reference's per-label
# MulticlassClassificationEvaluator sweep (modelling.py:160-176),
# which is rows-only when MLlib computes it.
# ---------------------------------------------------------------------------

_GNB_METRICS_SQL = f"""
WITH conf AS (SELECT * FROM ({_GNB_SQL})),
classes AS (
  SELECT actual AS cls FROM conf UNION SELECT predicted FROM conf
),
per AS (
  SELECT c.cls,
         COALESCE((SELECT SUM(n) FROM conf WHERE actual = c.cls AND predicted = c.cls), 0) AS tp,
         COALESCE((SELECT SUM(n) FROM conf WHERE predicted = c.cls AND actual <> c.cls), 0) AS fp,
         COALESCE((SELECT SUM(n) FROM conf WHERE actual = c.cls AND predicted <> c.cls), 0) AS fn
  FROM classes c
)
SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END, 6) AS precision,
       round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END, 6) AS recall,
       round(CASE WHEN 2 * tp + fp + fn > 0
                  THEN 2.0 * tp / (2 * tp + fp + fn) ELSE 0.0 END, 6) AS f1
FROM per
"""


@register("gnb_per_class_metrics", _GNB_METRICS_SQL)
def q_gnb_per_class_metrics(spark, sf_dir):
    """Per-class precision/recall/F1 over the certified GNB confusion
    matrix — the oracle-checked counterpart of the reference's
    per-label evaluator sweep (modelling.py:160-176; the MLlib version
    is rows-only by nature).  F1 uses the 2tp/(2tp+fp+fn) form — one
    division of exact integers, no precision·recall float chaining.

    Scale plan: the confusion relation is |classes|² rows; everything
    here is dim-sized arithmetic on top of the GNB query's plan."""
    conf = q_gnb_train_confusion_exact(spark, sf_dir)
    classes = (
        conf.select(F.col("actual").alias("cls"))
        .unionByName(conf.select(F.col("predicted").alias("cls")))
        .distinct()
    )
    tp = conf.filter(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("cls"), F.col("n").alias("tp")
    )
    fp = (
        conf.filter(F.col("actual") != F.col("predicted"))
        .groupBy(F.col("predicted").alias("cls"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        conf.filter(F.col("actual") != F.col("predicted"))
        .groupBy(F.col("actual").alias("cls"))
        .agg(F.sum("n").alias("fn"))
    )
    per = (
        classes.join(F.broadcast(tp), "cls", "left")
        .join(F.broadcast(fp), "cls", "left")
        .join(F.broadcast(fn), "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("long").alias("fp"),
            F.coalesce("fn", F.lit(0)).cast("long").alias("fn"),
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
    ).otherwise(0.0)
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
    ).otherwise(0.0)
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
    ).otherwise(0.0)
    return per.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Reliability diagram for the certified GNB: confidence deciles vs
# empirical accuracy — the calibration audit (a model can be accurate
# and badly calibrated; serving thresholds need THIS table).
# ---------------------------------------------------------------------------

_GNB_CALIB_SQL = f"""{_GNB_CTES}
scored AS (
  SELECT t.o_orderkey, t.cls AS actual, m.cls AS predicted,
         round({_GNB_LL}, 9) AS ll,
         ROW_NUMBER() OVER (PARTITION BY t.o_orderkey
           ORDER BY {_GNB_LL} DESC, m.cls ASC) AS rk
  FROM test t CROSS JOIN model m
),
-- softmax over the (quantized) log-likelihoods: confidence of the
-- argmax class; log-sum-exp anchored at the max for stability
conf AS (
  SELECT o_orderkey,
         MAX(CASE WHEN rk = 1 THEN actual END) AS actual,
         MAX(CASE WHEN rk = 1 THEN predicted END) AS predicted,
         round(1.0 / ({grid_sum_sql("exp(ll - mx)", 9)}), 9) AS confidence
  FROM (SELECT *, MAX(ll) OVER (PARTITION BY o_orderkey) AS mx FROM scored)
  GROUP BY o_orderkey
)
SELECT LEAST(CAST(floor(confidence * 100) AS BIGINT), 99) AS conf_pctbin,
       CAST(COUNT(*) AS BIGINT) AS n,
       {grid_sum_sql('confidence', 9)} / COUNT(*) AS avg_confidence,
       round(CAST(SUM(CASE WHEN actual = predicted THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS accuracy
FROM conf GROUP BY 1
"""


@register("gnb_calibration_curve", _GNB_CALIB_SQL)
def q_gnb_calibration_curve(spark, sf_dir):
    """Reliability diagram for the certified GNB: the argmax class's
    softmax confidence (log-sum-exp anchored at the row max, quantized
    at 1e-9), binned into deciles, against the empirical accuracy in
    each bin — where avg_confidence and accuracy diverge is exactly
    the miscalibration a serving threshold must correct for (the
    isotonic/conformal rows-only queries are the corrections; this is
    the certified diagnosis).

    Determinism: log-likelihoods quantized before both the argmax and
    the softmax; the confidence re-quantizes after exp so libm can't
    leak; bin membership is floor arithmetic on the grid value.

    Scale plan: same broadcast scoring join as the confusion query,
    plus one per-row window max over the |classes|-row group and a
    <=100-cell rollup."""
    scored = _gnb_scored(spark, sf_dir)
    w_mx = Window.partitionBy("o_orderkey")
    conf = (
        scored.withColumn("mx", F.max("ll").over(w_mx))
        .groupBy("o_orderkey")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("actual"))).alias("actual"),
            F.max(F.when(F.col("rk") == 1, F.col("mcls"))).alias("predicted"),
            F.round(1.0 / grid_sum(F.exp(F.col("ll") - F.col("mx")), 9), 9).alias(
                "confidence"
            ),
        )
    )
    return conf.groupBy(
        F.least(F.floor(F.col("confidence") * 100).cast("long"), F.lit(99)).alias(
            "conf_pctbin"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (grid_sum(F.col("confidence"), 9) / F.count(F.lit(1))).alias("avg_confidence"),
        F.round(
            F.sum(F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Ridge regression: the OLS normal equations with l2 regularization on
# the non-intercept diagonal — same exact-decimal moments, same shared
# adjugate solve, one lambda.
# ---------------------------------------------------------------------------

_RIDGE_LAMBDA = 1000.0

_RIDGE_SQL = f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {dec_double_sql("SUM(x1)")} AS s1,
         {dec_double_sql("SUM(x2)")} AS s2,
         {dec_double_sql("SUM(x1 * x1)")} + {_RIDGE_LAMBDA} AS s11,
         {dec_double_sql("SUM(x1 * x2)")} AS s12,
         {dec_double_sql("SUM(x2 * x2)")} + {_RIDGE_LAMBDA} AS s22,
         {dec_double_sql("SUM(y)")} AS sy,
         {dec_double_sql("SUM(x1 * y)")} AS s1y,
         {dec_double_sql("SUM(x2 * y)")} AS s2y,
         {dec_double_sql("SUM(y * y)")} AS syy
  FROM (
    SELECT CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS x1,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x2,
           CAST(o_totalprice AS DECIMAL(30, 6)) AS y
    FROM orders
  )
)
SELECT CAST(n AS BIGINT) AS n,
       round({_OLS_B0}, 6) AS b_intercept,
       round({_OLS_B1}, 6) AS b_month,
       round({_OLS_B2}, 6) AS b_urgent
FROM m
"""


@register("ridge_regression_exact", _RIDGE_SQL)
def q_ridge_regression_exact(spark, sf_dir):
    """Ridge regression (λ = {lam}) on the same design as
    `ols_regression_exact`: the exact-decimal normal-equation moments
    gain λ on the two non-intercept diagonal entries, then the SAME
    shared adjugate template solves — demonstrating that the certified
    closed-form solver parameterizes regularization with two added
    constants and zero dataflow change (the shrinkage of b_month /
    b_urgent toward 0 vs the OLS run is visible in the outputs).

    Scale plan: identical to OLS — one map-side-combined aggregate IS
    the fit."""
    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("x1"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("x2"),
        F.col("o_totalprice").cast("decimal(30, 6)").alias("y"),
    )
    m = src.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        (F.sum(F.col("x1") * F.col("x1")).cast("double") + _RIDGE_LAMBDA).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        (F.sum(F.col("x2") * F.col("x2")).cast("double") + _RIDGE_LAMBDA).alias("s22"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
    )
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.expr(_OLS_B0), 6).alias("b_intercept"),
        F.round(F.expr(_OLS_B1), 6).alias("b_month"),
        F.round(F.expr(_OLS_B2), 6).alias("b_urgent"),
    )


# ---------------------------------------------------------------------------
# Exact ROC-AUC of the certified GNB's class-'F' posterior — the
# ranking-quality member of the certified eval chain (confusion →
# per-class → calibration → AUC), via the tie-aware Mann-Whitney U on
# integer counts.
# ---------------------------------------------------------------------------

_GNB_AUC_SQL = f"""{_GNB_CTES}
scored AS (
  SELECT t.o_orderkey, t.cls AS actual, m.cls AS mcls, round({_GNB_LL}, 9) AS ll
  FROM test t CROSS JOIN model m
),
probs AS (
  SELECT o_orderkey,
         MAX(CASE WHEN actual = 'F' THEN 1 ELSE 0 END) AS is_pos,
         round(
           (CASE WHEN MAX(CASE WHEN mcls = 'F' THEN ll END) IS NULL THEN 0.0
                 ELSE exp(MAX(CASE WHEN mcls = 'F' THEN ll END) - MAX(ll)) END)
           / ({grid_sum_sql("exp(ll - mx)", 9)}),
           9) AS score
  FROM (SELECT *, MAX(ll) OVER (PARTITION BY o_orderkey) AS mx FROM scored)
  GROUP BY o_orderkey
),
per_v AS (
  SELECT score,
         SUM(is_pos) AS n_pos,
         SUM(1 - is_pos) AS n_neg
  FROM probs GROUP BY score
),
cum AS (
  SELECT n_pos, n_neg,
         COALESCE(SUM(n_neg) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
  FROM per_v
),
u AS (
  SELECT SUM(n_pos * (2 * neg_below + n_neg)) AS u2,
         SUM(n_pos) AS p, SUM(n_neg) AS n
  FROM cum
)
SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
       round(CAST(u2 AS DOUBLE) / (2.0 * p * n), 6) AS auc
FROM u
"""


@register("gnb_auc_exact", _GNB_AUC_SQL)
def q_gnb_auc_exact(spark, sf_dir):
    """Exact ROC-AUC of the GNB's class-'F' posterior on the held-out
    split: the tie-aware Mann-Whitney identity 2U = Σ_v n_pos(v) ·
    (2·neg_below(v) + n_neg(v)) over the DISTINCT quantized scores —
    all integer until one final division, so ties (which the 1e-9
    score grid creates deliberately) are handled exactly, never by
    row-order luck.  Completes the certified eval chain: confusion →
    per-class P/R/F1 → calibration → ranking quality.

    Scale plan: scoring is the broadcast model join; the U statistic
    runs on the DISTINCT-score relation (grid-bounded), one ordered
    window over it."""
    scored = _gnb_scored(spark, sf_dir)
    w_mx = Window.partitionBy("o_orderkey")
    probs = (
        scored.withColumn("mx", F.max("ll").over(w_mx))
        .groupBy("o_orderkey")
        .agg(
            F.max(F.when(F.col("actual") == "F", 1).otherwise(0)).alias("is_pos"),
            F.round(
                F.coalesce(
                    F.exp(
                        F.max(F.when(F.col("mcls") == "F", F.col("ll")))
                        - F.max("ll")
                    ),
                    F.lit(0.0),
                )
                / grid_sum(F.exp(F.col("ll") - F.col("mx")), 9),
                9,
            ).alias("score"),
        )
    )
    per_v = probs.groupBy("score").agg(
        F.sum("is_pos").alias("n_pos"),
        F.sum(1 - F.col("is_pos")).alias("n_neg"),
    )
    w_cum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_v.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w_cum), F.lit(0)).alias("neg_below"),
    )
    u = cum.agg(
        F.sum(F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))).alias("u2"),
        F.sum("n_pos").alias("p"),
        F.sum("n_neg").alias("n"),
    )
    return u.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("n").cast("long").alias("n_neg"),
        F.round(F.col("u2").cast("double") / (2.0 * F.col("p") * F.col("n")), 6).alias(
            "auc"
        ),
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering (the CCNet / fastText-filter design):
# train a tiny logistic classifier to recognize a reference slice of
# the corpus (here: English docs) from cheap text statistics, score
# EVERY document, and report retention per stratum.  This is the
# certified-exact skeleton of "train a quality classifier on weak
# labels, filter the crawl with it" — the third consumer of the
# OLS/IRLS adjugate templates above.
# ---------------------------------------------------------------------------

_QCF_T = 0.44  # retention threshold on the 1e-9-grid score


def _qcf_sql() -> str:
    stop_sql = "['the', 'a', 'and', 'of', 'to', 'in']"  # queries/text.py list
    toks = r"regexp_split_to_array(trim(text), '\s+')"
    parts = [
        f"""s AS (
  SELECT lang,
         round(CAST(len(list_filter({toks}, t -> list_contains({stop_sql}, t)))
                    AS DOUBLE) / len({toks}), 9) AS x1,
         round(len({toks}) / 100.0, 9) AS x2,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE len({toks}) > 0
)""",
        *irls_sql_ctes(),
    ]
    parts.append(
        f"rf AS (SELECT lang, {_IRLS_P} AS p FROM s CROSS JOIN b{_IRLS_T}_)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n,
       round({grid_sum_sql('p', 9)} / COUNT(*), 6) AS mean_score,
       CAST(SUM(CASE WHEN p >= {_QCF_T} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       round(CAST(SUM(CASE WHEN p >= {_QCF_T} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS retained_share
FROM rf GROUP BY lang
"""
    )


def _qcf_features(df):
    """(lang, x1 = stopword ratio, x2 = tokens/100, y = is-English)
    over the non-empty documents of ``df`` (batch or stream)."""
    stop = ["the", "a", "and", "of", "to", "in"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nstop = F.size(F.filter(toks, lambda t: t.isin(stop)))
    return df.filter(F.size(toks) > 0).select(
        "lang",
        F.round(nstop.cast("double") / F.size(toks), 9).alias("x1"),
        F.round(F.size(toks) / F.lit(100.0), 9).alias("x2"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )


def _qcf_retention(scored):
    """Per-language n, mean score and retention at `_QCF_T`."""
    keep = F.when(F.col("p") >= _QCF_T, 1).otherwise(0)
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(grid_sum(F.col("p"), 9) / F.count(F.lit(1)), 6).alias("mean_score"),
        F.sum(keep).cast("long").alias("n_retained"),
        F.round(
            F.sum(keep).cast("double") / F.count(F.lit(1)), 6
        ).alias("retained_share"),
    )


@register("quality_classifier_filter", _qcf_sql())
def q_quality_classifier_filter(spark, sf_dir):
    """Train-and-apply model-based corpus filtering: a logistic
    classifier (stopword ratio, tokens/100 → is-English) fitted by the
    same unrolled IRLS as `logreg_irls_exact`, then scored over the
    whole corpus with per-language retention at the fixed threshold.

    Every transcendental hits the 1e-9 grid before aggregation and all
    moments are DECIMAL sums, so training, scoring, and the threshold
    comparison are bit-identical across engines and partitionings.

    Scale plan: T+1 map-side-combined scans of the corpus (T Newton
    steps + final scoring), the 3 coefficients carried between passes
    as driver-side literals — the cheapest honest "train a filter
    model on 100 TB and apply it" shape; the per-language rollup is
    |langs|-sized."""
    src = _qcf_features(load_table(spark, sf_dir, "documents"))
    return _qcf_retention(irls_score(src, irls_fit(src)))


# ---------------------------------------------------------------------------
# Holt linear (double-exponential) smoothing as a NATIVE array fold —
# the recurrence class one step up from the scalar EWMA fold
# (`user_value_ewma`): the accumulator is a STRUCT (level, trend, step,
# sse), updated per day on the 1e-9 grid, so a genuinely sequential
# state recurrence runs entirely inside whole-stage codegen with a
# bit-exact DuckDB list_reduce twin.
# ---------------------------------------------------------------------------

_HOLT_A = 0.5  # level smoothing
_HOLT_B = 0.3  # trend smoothing  (1-b written as the literal 0.7)

# Oracle NOTE: the obvious list_reduce twin is WRONG in DuckDB 1.0 —
# a struct-building lambda evaluates fields sequentially against the
# accumulator, so a later field's expression sees an EARLIER field's
# new value (verified: the trend update read the already-updated
# level, silently diverging from the recurrence).  A recursive CTE has
# unambiguous semantics, so the oracle steps the recurrence that way.
_HOLT_SQL = f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS DOUBLE) AS y
  FROM orders GROUP BY 1
),
sr AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, y FROM daily),
rec AS (
  SELECT CAST(2 AS BIGINT) AS i,
         (SELECT y FROM sr WHERE rn = 2) AS l,
         round((SELECT y FROM sr WHERE rn = 2)
               - (SELECT y FROM sr WHERE rn = 1), 9) AS t,
         CAST(0.0 AS DOUBLE) AS s
  UNION ALL
  SELECT rec.i + 1,
         round({_HOLT_A} * sr.y + {_HOLT_A} * (rec.l + rec.t), 9),
         round({_HOLT_B} * (round({_HOLT_A} * sr.y
                                  + {_HOLT_A} * (rec.l + rec.t), 9)
                            - rec.l) + 0.7 * rec.t, 9),
         round(rec.s + (sr.y - (rec.l + rec.t)) * (sr.y - (rec.l + rec.t)), 9)
  FROM rec JOIN sr ON sr.rn = rec.i + 1
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sr) AS n_days,
       round(l, 6) AS level_final,
       round(t, 6) AS trend_final,
       round(l + t, 6) AS forecast_next,
       round(sqrt(s / ((SELECT COUNT(*) FROM sr) - 2)), 6) AS rmse
FROM rec WHERE i = (SELECT COUNT(*) FROM sr)
"""


@register("holt_linear_forecast", _HOLT_SQL)
def q_holt_linear_forecast(spark, sf_dir):
    """Holt linear smoothing of the daily order-count series: level and
    trend fold left-to-right over the date-sorted array with every
    update rounded to the 1e-9 grid; output is the final state, the
    one-step forecast, and the in-sample one-step RMSE.  Init follows
    the textbook convention (level=y₂, trend=y₂−y₁, errors accumulate
    from the third point).

    Scale plan: the fold is per-SERIES, not per-corpus — the heavy part
    is the daily rollup (one map-side-combined agg over the fact
    table); the array fold runs over |days| elements.  For thousands
    of parallel series the same fold partitions by series key — never
    a global window over raw rows."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    ser = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("a"),
        F.count(F.lit(1)).alias("n"),
    )
    xs = F.transform(
        F.col("a"),
        lambda e: F.struct(
            e["y"].alias("l"),
            F.lit(0.0).alias("t"),
            F.lit(1).cast("long").alias("i"),
            F.lit(0.0).alias("s"),
        ),
    )

    def step(acc, x):
        l2 = F.round(
            F.lit(_HOLT_A) * x["l"] + F.lit(_HOLT_A) * (acc["l"] + acc["t"]), 9
        )
        t2 = F.round(
            F.lit(_HOLT_B) * (l2 - acc["l"]) + F.lit(0.7) * acc["t"], 9
        )
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
                l2.alias("l"),
                t2.alias("t"),
                (acc["i"] + 1).alias("i"),
                s2.alias("s"),
            )
        )

    folded = ser.select(
        "n",
        F.aggregate(
            F.slice(xs, 2, F.size(xs) - 1),
            F.element_at(xs, 1),
            step,
        ).alias("f"),
    )
    return folded.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("f.l"), 6).alias("level_final"),
        F.round(F.col("f.t"), 6).alias("trend_final"),
        F.round(F.col("f.l") + F.col("f.t"), 6).alias("forecast_next"),
        F.round(F.sqrt(F.col("f.s") / (F.col("n") - 2)), 6).alias("rmse"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters ADDITIVE SEASONAL smoothing (period 7) — the seasonal
# completion of `holt_linear_forecast`.  Same engine design: the state
# fold runs natively over the date-sorted array with every update on
# the 1e-9 grid; the accumulator now carries the rolling last-m
# seasonal components as an array column.  Same oracle design: a
# recursive CTE (NOT list_reduce — see the Holt oracle note on
# DuckDB's sequential struct-lambda evaluation) stepping the identical
# recurrence, with the level update inlined into the trend update on
# both engines so the expression trees match term-for-term.
# Init is the textbook one-season convention: level = mean of season 1,
# trend = (mean of season 2 − mean of season 1)/m, seasonals = season-1
# deviations from the level (daily counts are integer-valued doubles,
# so the init means are EXACT under any summation order).
# ---------------------------------------------------------------------------

_HW_M = 7  # weekly season on the daily series
_HW_A, _HW_CA = 0.4, 0.6  # level alpha, 1-alpha (written as literals)
_HW_B, _HW_CB = 0.2, 0.8  # trend beta, 1-beta
_HW_G, _HW_CG = 0.3, 0.7  # seasonal gamma, 1-gamma

_HW_LNEW = f"round({_HW_A} * (sr.y - rec.s[1]) + {_HW_CA} * (rec.l + rec.b), 9)"

_HW_SQL = f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS DOUBLE) AS y
  FROM orders GROUP BY 1
),
sr AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, y FROM daily),
n AS (SELECT COUNT(*) AS c FROM sr),
init AS (
  SELECT round((SELECT SUM(y) FROM sr WHERE rn <= {_HW_M}) / {_HW_M}, 9) AS l0,
         round(((SELECT SUM(y) FROM sr WHERE rn BETWEEN {_HW_M + 1} AND {2 * _HW_M}) / {_HW_M}
                - (SELECT SUM(y) FROM sr WHERE rn <= {_HW_M}) / {_HW_M}) / {_HW_M}, 9) AS b0
),
s0 AS (
  SELECT list(round(y - (SELECT l0 FROM init), 9) ORDER BY rn) AS s
  FROM sr WHERE rn <= {_HW_M}
),
rec AS (
  SELECT CAST({_HW_M} AS BIGINT) AS i,
         (SELECT l0 FROM init) AS l,
         (SELECT b0 FROM init) AS b,
         (SELECT s FROM s0) AS s,
         CAST(0.0 AS DOUBLE) AS sse
  UNION ALL
  SELECT rec.i + 1,
         {_HW_LNEW},
         round({_HW_B} * ({_HW_LNEW} - rec.l) + {_HW_CB} * rec.b, 9),
         list_concat(rec.s[2:{_HW_M}],
                     [round({_HW_G} * (sr.y - rec.l - rec.b) + {_HW_CG} * rec.s[1], 9)]),
         round(rec.sse + (sr.y - (rec.l + rec.b + rec.s[1]))
                         * (sr.y - (rec.l + rec.b + rec.s[1])), 9)
  FROM rec JOIN sr ON sr.rn = rec.i + 1
)
SELECT (SELECT CAST(c AS BIGINT) FROM n) AS n_days,
       round(l, 6) AS level_final,
       round(b, 6) AS trend_final,
       round(l + b + s[1], 6) AS forecast_next,
       round(sqrt(sse / ((SELECT c FROM n) - {_HW_M})), 6) AS rmse
FROM rec WHERE i = (SELECT c FROM n)
"""


@register("holt_winters_seasonal_forecast", _HW_SQL)
def q_holt_winters_seasonal_forecast(spark, sf_dir):
    """Holt-Winters additive seasonal smoothing of the daily order
    counts, weekly period: level/trend/seasonal state folds over the
    sorted series, output the final state, the one-step seasonal
    forecast, and the in-sample one-step RMSE (errors accumulate from
    the first post-init point).

    Scale plan: identical to Holt — the daily rollup is the only
    corpus-scale stage (map-side-combined agg); the fold is per-series
    over |days| elements, and for a fleet of series the same fold
    partitions by series key.  The seasonal array in the accumulator
    is m elements, rotated by slice+append per step — O(m) per day,
    never a window over raw rows."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    ser = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("a"),
        F.count(F.lit(1)).alias("n"),
    )
    ys = F.transform(F.col("a"), lambda e: e["y"])

    def fold_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)

    l0 = F.round(fold_sum(F.slice(ys, 1, _HW_M)) / _HW_M, 9)
    b0 = F.round(
        (
            fold_sum(F.slice(ys, _HW_M + 1, _HW_M)) / _HW_M
            - fold_sum(F.slice(ys, 1, _HW_M)) / _HW_M
        )
        / _HW_M,
        9,
    )
    s0 = F.transform(F.slice(ys, 1, _HW_M), lambda y: F.round(y - l0, 9))
    acc0 = F.struct(
        l0.alias("l"), b0.alias("b"), s0.alias("s"), F.lit(0.0).alias("sse")
    )

    def step(acc, y):
        head = F.element_at(acc["s"], 1)
        lnew = F.round(
            F.lit(_HW_A) * (y - head) + F.lit(_HW_CA) * (acc["l"] + acc["b"]), 9
        )
        bnew = F.round(
            F.lit(_HW_B) * (lnew - acc["l"]) + F.lit(_HW_CB) * acc["b"], 9
        )
        snew = F.concat(
            F.slice(acc["s"], 2, _HW_M - 1),
            F.array(
                F.round(
                    F.lit(_HW_G) * (y - acc["l"] - acc["b"])
                    + F.lit(_HW_CG) * head,
                    9,
                )
            ),
        )
        err = y - (acc["l"] + acc["b"] + head)
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            snew.alias("s"),
            F.round(acc["sse"] + err * err, 9).alias("sse"),
        )

    folded = ser.select(
        "n",
        F.aggregate(F.slice(ys, _HW_M + 1, F.size(ys) - _HW_M), acc0, step).alias("f"),
    )
    return folded.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("f.l"), 6).alias("level_final"),
        F.round(F.col("f.b"), 6).alias("trend_final"),
        F.round(
            F.col("f.l") + F.col("f.b") + F.element_at(F.col("f.s"), 1), 6
        ).alias("forecast_next"),
        F.round(F.sqrt(F.col("f.sse") / (F.col("n") - _HW_M)), 6).alias("rmse"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences — the panel-data member of the causal
# family (CUPED, z-test, QTE are single-period).  2×2 cell moments in
# one scan; the DiD estimate and its Welch-style SE are closed-form
# doubles evaluated in identical op order on both engines.
# ---------------------------------------------------------------------------

_DID_CUT = "2024-01-16"  # treatment switch-on date (fixture spans Jan 2024)

_DID_CELL = f"""
  SELECT CASE WHEN user_id % 2 = 1 THEN 'T' ELSE 'C' END AS grp,
         CASE WHEN CAST(ts AS DATE) >= DATE '{{cut}}' THEN 'post' ELSE 'pre' END AS period,
         CAST(COUNT(*) AS BIGINT) AS n,
         {grid_sum_sql("value", 9)} AS s,
         {dec_double_sql(f"SUM({quantize_sql('value', 9)} * {quantize_sql('value', 9)})")} AS ss
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
"""

_DID_SQL = f"""
WITH cells AS ({_DID_CELL.format(cut=_DID_CUT)}),
m AS (
  SELECT grp, period, n, s / n AS mean,
         (ss - n * (s / n) * (s / n)) / (n - 1) AS var
  FROM cells
),
w AS (
  SELECT
    (SELECT n FROM m WHERE grp = 'T' AND period = 'pre') AS n_t_pre,
    (SELECT n FROM m WHERE grp = 'T' AND period = 'post') AS n_t_post,
    (SELECT n FROM m WHERE grp = 'C' AND period = 'pre') AS n_c_pre,
    (SELECT n FROM m WHERE grp = 'C' AND period = 'post') AS n_c_post,
    (SELECT mean FROM m WHERE grp = 'T' AND period = 'pre') AS m_t_pre,
    (SELECT mean FROM m WHERE grp = 'T' AND period = 'post') AS m_t_post,
    (SELECT mean FROM m WHERE grp = 'C' AND period = 'pre') AS m_c_pre,
    (SELECT mean FROM m WHERE grp = 'C' AND period = 'post') AS m_c_post,
    (SELECT var / n FROM m WHERE grp = 'T' AND period = 'pre')
      + (SELECT var / n FROM m WHERE grp = 'T' AND period = 'post')
      + (SELECT var / n FROM m WHERE grp = 'C' AND period = 'pre')
      + (SELECT var / n FROM m WHERE grp = 'C' AND period = 'post') AS se2
)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
       round(m_t_pre, 6) AS mean_t_pre,
       round(m_t_post, 6) AS mean_t_post,
       round(m_c_pre, 6) AS mean_c_pre,
       round(m_c_post, 6) AS mean_c_post,
       round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did_estimate,
       round(sqrt(se2), 6) AS did_se,
       round(((m_t_post - m_t_pre) - (m_c_post - m_c_pre)) / sqrt(se2), 6) AS did_t
FROM w
"""


@register("diff_in_diff_readout", _DID_SQL)
def q_diff_in_diff_readout(spark, sf_dir):
    """Difference-in-differences on purchase values: treatment = odd
    user ids, post-period = from {_DID_CUT}; DiD estimate = (T,post −
    T,pre) − (C,post − C,pre) with a four-cell Welch-style standard
    error.  On an A/A-like fixture the estimate should hover near 0 —
    the readout is the parallel-trends sanity sheet, not a significance
    claim.

    Scale plan: the whole analysis is ONE conditional aggregate over
    the filtered fact stream (map-side combined, 4 output rows) plus
    scalar arithmetic — cost is a single reduction at any corpus size.
    Moments accumulate as 1e-9-quantized DECIMAL so cell means are
    bit-identical across engines and partitionings."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    x = quantize(F.col("value"), 9)
    cells = e.groupBy(
        F.when(F.col("user_id") % 2 == 1, "T").otherwise("C").alias("grp"),
        F.when(
            F.col("ts").cast("date") >= F.lit(_DID_CUT).cast("date"), "post"
        )
        .otherwise("pre")
        .alias("period"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        grid_sum(F.col("value"), 9).alias("s"),
        F.sum(x * x).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    m = cells.select(
        "grp",
        "period",
        "n",
        mean.alias("mean"),
        ((F.col("ss") - F.col("n") * mean * mean) / (F.col("n") - 1)).alias("var"),
    )

    def cell(grp, period, pfx):
        return m.filter((F.col("grp") == grp) & (F.col("period") == period)).select(
            F.col("n").alias(f"n_{pfx}"),
            F.col("mean").alias(f"m_{pfx}"),
            (F.col("var") / F.col("n")).alias(f"vn_{pfx}"),
        )

    w = (
        cell("T", "pre", "t_pre")
        .crossJoin(F.broadcast(cell("T", "post", "t_post")))
        .crossJoin(F.broadcast(cell("C", "pre", "c_pre")))
        .crossJoin(F.broadcast(cell("C", "post", "c_post")))
        .withColumn(
            "se2",
            F.col("vn_t_pre") + F.col("vn_t_post") + F.col("vn_c_pre") + F.col("vn_c_post"),
        )
    )
    did = (F.col("m_t_post") - F.col("m_t_pre")) - (
        F.col("m_c_post") - F.col("m_c_pre")
    )
    return w.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.round("m_t_pre", 6).alias("mean_t_pre"),
        F.round("m_t_post", 6).alias("mean_t_post"),
        F.round("m_c_pre", 6).alias("mean_c_pre"),
        F.round("m_c_post", 6).alias("mean_c_post"),
        F.round(did, 6).alias("did_estimate"),
        F.round(F.sqrt("se2"), 6).alias("did_se"),
        F.round(did / F.sqrt("se2"), 6).alias("did_t"),
    )


# ---------------------------------------------------------------------------
# STL-lite decomposition of the daily order-count series: trend =
# centered 7-day moving average, seasonal = day-of-week mean of the
# detrended interior, residual = what remains.  The decomposition
# sheet behind `seasonal_naive_wape` / `seasonal_robust_anomaly`:
# those queries consume weekly structure, this one reports it.
# Day-of-week comes from an epoch-anchored day difference (mod 7), not
# an engine dow() function — Spark and DuckDB disagree on week-start
# conventions, day arithmetic they agree on.
# ---------------------------------------------------------------------------

_STL_EPOCH = "1992-01-06"  # a Monday: dow 0 = Monday on both engines

_STL_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS DOUBLE) AS y
  FROM orders GROUP BY 1
),
tr AS (
  SELECT d, y,
         CASE WHEN COUNT(*) OVER w = 7
              THEN round(SUM(y) OVER w / 7, 9) END AS trend
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT CAST(datediff('day', DATE '{_STL_EPOCH}', d) % 7 AS BIGINT) AS dow,
         round(y - trend, 9) AS dt
  FROM tr WHERE trend IS NOT NULL
),
seas AS (
  SELECT dow,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         round({dec_double_sql("SUM(CAST(dt AS DECIMAL(38, 9)))")}
               / COUNT(*), 9) AS seasonal
  FROM det GROUP BY dow
),
resid AS (
  SELECT det.dow, round(det.dt - seas.seasonal, 9) AS r
  FROM det JOIN seas ON det.dow = seas.dow
)
SELECT s.dow, s.n_days, round(s.seasonal, 6) AS seasonal,
       round({dec_double_sql("SUM(CAST(r.r AS DECIMAL(38, 9)))")}
             / s.n_days, 6) + 0.0 AS resid_mean,
       round({grid_sum_sql("r.r * r.r", 9)}
             / s.n_days, 6) AS resid_msq
FROM seas s JOIN resid r ON r.dow = s.dow
GROUP BY s.dow, s.n_days, s.seasonal
"""


@register("stl_decompose_profile", _STL_SQL)
def q_stl_decompose_profile(spark, sf_dir):
    """Trend/seasonal/residual decomposition, one row per day-of-week:
    the seasonal component (mean detrended deviation), and the
    residual mean and mean-square after removing both trend and
    seasonality.  Residual mean ≈ 0 by construction; resid_msq is the
    irreducible noise floor a forecaster compares models against.

    Scale plan: the corpus-scale work is the daily rollup (map-side
    combined); the moving-average window and the dow aggregates run
    over |days| rows.  For a fleet of series everything partitions by
    series key — the decomposition is embarrassingly parallel across
    series."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "y",
        F.when(
            F.count(F.lit(1)).over(w) == 7, F.round(F.sum("y").over(w) / 7, 9)
        ).alias("trend"),
    )
    det = tr.filter(F.col("trend").isNotNull()).select(
        (F.datediff(F.col("d"), F.lit(_STL_EPOCH).cast("date")) % 7)
        .cast("long")
        .alias("dow"),
        F.round(F.col("y") - F.col("trend"), 9).alias("dt"),
    )
    det = det.localCheckpoint(eager=False)  # feeds seasonal AND residual
    seas = det.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.sum(F.col("dt").cast("decimal(38, 9)")).cast("double") / F.count(F.lit(1)), 9
        ).alias("seasonal"),
    )
    resid = det.join(F.broadcast(seas), "dow").select(
        "dow", "n_days", "seasonal", F.round(F.col("dt") - F.col("seasonal"), 9).alias("r")
    )
    return resid.groupBy("dow", "n_days", "seasonal").agg(
        (
            F.round(
                F.sum(F.col("r").cast("decimal(38, 9)")).cast("double") / F.col("n_days"), 6
            )
            + F.lit(0.0)  # −0.0 → +0.0: DuckDB's round keeps the sign bit
        ).alias("resid_mean"),
        F.round(
            grid_sum(F.col("r") * F.col("r"), 9) / F.col("n_days"),
            6,
        ).alias("resid_msq"),
    ).select("dow", "n_days", F.round("seasonal", 6).alias("seasonal"), "resid_mean", "resid_msq")




# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test on the daily-count ACF: is the series
# white noise, or is there autocorrelation at ANY lag ≤ h?  The formal
# companion of `acf_daily_counts` (which reports the per-lag values):
# Q = n(n+2) Σ_{k=1..h} ρ_k²/(n−k), compared against the χ²(h) 95%
# critical value as an exact literal.  Each ρ_k is the already
# 1e-6-quantized ACF, each Q term is quantized at 1e-12 and summed in
# DECIMAL — bit-identical on both engines.
# ---------------------------------------------------------------------------

_LB_CHI2_95_DF7 = "14.067140449340169"  # qchisq(0.95, df=7), shared literal

_LB_SQL = f"""
{_ACF_CTES},
rho AS (
  SELECT lag, round(num / den.den, 6) AS r FROM num CROSS JOIN den
),
q AS (
  SELECT {grid_sum_sql("r * r / (m.n - lag)", 12)} AS body
  FROM rho CROSS JOIN m
)
SELECT CAST(m.n AS BIGINT) AS n_days,
       CAST({_ACF_MAXLAG} AS BIGINT) AS h,
       round(m.n * (m.n + 2) * q.body, 6) AS q_stat,
       (m.n * (m.n + 2) * q.body) > {_LB_CHI2_95_DF7} AS reject_white_noise_95
FROM m CROSS JOIN q
"""


@register("ljung_box_acf_test", _LB_SQL)
def q_ljung_box_acf_test(spark, sf_dir):
    """Ljung-Box Q over the daily event counts at lags 1..7 — rejects
    white noise when the fixture's weekly cycle is present.  Same exact
    per-lag ACF construction as `acf_daily_counts` (lag equi-join on
    the |days| relation, decimal-quantized sums), then Q as a 7-term
    DECIMAL accumulation against the shared χ² critical literal.

    Scale plan: identical to the ACF — the fact collapses to one row
    per day in a single map-side-combined agg; everything after runs
    on the dim-sized daily relation."""
    m, rho = _acf_frames(spark, sf_dir)
    q_body = (
        rho.crossJoin(F.broadcast(m))
        .agg(grid_sum(F.col("acf") * F.col("acf") / (F.col("n") - F.col("lag")), 12).alias("body"))
    )
    return (
        m.crossJoin(F.broadcast(q_body))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.lit(_ACF_MAXLAG).cast("long").alias("h"),
            F.round(F.col("n") * (F.col("n") + 2) * F.col("body"), 6).alias("q_stat"),
            (
                F.col("n") * (F.col("n") + 2) * F.col("body")
                > F.lit(float(_LB_CHI2_95_DF7))
            ).alias("reject_white_noise_95"),
        )
    )
