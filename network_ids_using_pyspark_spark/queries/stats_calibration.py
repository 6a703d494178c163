"""Rank / calibration / experimentation family (split from
stats_ext.py, VERDICT r5 ask #5; registry names unchanged): Kendall
tau-b, Spearman rho, exact two-class LDA, circular hour stats, Poisson
GLM, Brier decomposition, gains table, Mantel-Haenszel OR, MDE
readout, O'Brien-Fleming group-sequential bounds, Theil index,
Jarque-Bera normality.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.numeric import dec_double_sql, dec_sum, dec_sum_sql, grid_sum, grid_sum_sql
from ..sources.tables import load_table
from . import register
from .stats_regression import (  # noqa: F401
    _IRLS_P,
    _IRLS_SRC,
    _IRLS_T,
    _PGLM_MU,
    _logreg_src,
    irls_fit,
    irls_score,
    irls_sql_ctes,
)

# ---------------------------------------------------------------------------
# Kendall tau-b, EXACT, via the contingency grid: quantity and
# discount have bounded distinct-value sets, so concordant/discordant
# pair counts collapse from O(N²) row pairs to O(K²) CELL pairs
# (K = |grid| ≪ N) — the rank-correlation complement of
# `corr_qty_price` (Pearson) robust to the non-linearity Pearson
# misses.
# ---------------------------------------------------------------------------

_KENDALL_SQL = """
WITH cells AS (
  SELECT l_quantity AS x, l_discount AS y, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
pairs AS (
  SELECT CAST(SUM(CASE WHEN a.x < b.x AND a.y < b.y THEN a.c * b.c
                       ELSE 0 END) AS BIGINT) AS concordant,
         CAST(SUM(CASE WHEN a.x < b.x AND a.y > b.y THEN a.c * b.c
                       ELSE 0 END) AS BIGINT) AS discordant
  FROM cells a JOIN cells b ON NOT (a.x = b.x AND a.y = b.y)
),
tx AS (
  SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS ties_x
  FROM (SELECT SUM(c) AS t FROM cells GROUP BY x)
),
ty AS (
  SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS ties_y
  FROM (SELECT SUM(c) AS t FROM cells GROUP BY y)
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
SELECT tot.n, pairs.concordant, pairs.discordant, tx.ties_x, ty.ties_y,
       round((CAST(pairs.concordant AS DOUBLE) - pairs.discordant)
             / sqrt((CAST(tot.n AS DOUBLE) * (tot.n - 1.0) / 2.0 - tx.ties_x)
                    * (CAST(tot.n AS DOUBLE) * (tot.n - 1.0) / 2.0
                       - ty.ties_y)), 6) AS tau_b
FROM pairs CROSS JOIN tx CROSS JOIN ty CROSS JOIN tot
"""


@register("kendall_tau_contingency", _KENDALL_SQL)
def q_kendall_tau_contingency(spark, sf_dir):
    """Exact Kendall tau-b of (l_quantity, l_discount) through the
    contingency grid: C and D are integer sums of cell-count products
    over ordered CELL pairs (each unordered row pair is counted once
    because the join fixes a.x < b.x), tie terms come from the
    row/column marginals, and only the final ratio leaves integer
    arithmetic.

    Scale plan: one map-side combined group-by to the K-cell grid
    (K bounded by the value domains, independent of N), then a K×K
    cell join — quadratic in the GRID, constant in the data.  For
    unbounded-domain columns the same query runs on quantized buckets
    (tau over buckets = tau-b of the bucketed variables)."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(F.col("l_quantity").alias("x"), F.col("l_discount").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (
        a.join(
            F.broadcast(b),
            ~((F.col("a.x") == F.col("b.x")) & (F.col("a.y") == F.col("b.y"))),
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("a.x") < F.col("b.x")) & (F.col("a.y") < F.col("b.y")),
                    F.col("a.c") * F.col("b.c"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("concordant"),
            F.sum(
                F.when(
                    (F.col("a.x") < F.col("b.x")) & (F.col("a.y") > F.col("b.y")),
                    F.col("a.c") * F.col("b.c"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("discordant"),
        )
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("ties_x"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("ties_y"))
    )
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    half = lambda: F.col("n").cast("double") * (F.col("n") - 1.0) / 2.0  # noqa: E731
    return (
        pairs.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "concordant",
            "discordant",
            "ties_x",
            "ties_y",
            F.round(
                (F.col("concordant").cast("double") - F.col("discordant"))
                / F.sqrt(
                    (half() - F.col("ties_x")) * (half() - F.col("ties_y"))
                ),
                6,
            ).alias("tau_b"),
        )
    )


# ---------------------------------------------------------------------------
# Spearman rho, EXACT with ties, via contingency marginals: the
# average rank of value v is (rows before v) + (t_v + 1)/2 — a prefix
# sum over the tiny marginal relation — so the rank correlation
# reduces to the Pearson template over cell-weighted average ranks.
# Kendall (`kendall_tau_contingency`) counts pair orientations; this
# is the other canonical rank correlation, same O(K) grid cost.
# ---------------------------------------------------------------------------

_SPEARMAN_SQL = f"""
WITH cells AS (
  SELECT l_quantity AS x, l_discount AS y, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
mx AS (
  SELECT x, CAST(COALESCE(SUM(t) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + (t + 1) / 2.0 AS DECIMAL(28, 1)) AS rx
  FROM (SELECT x, SUM(c) AS t FROM cells GROUP BY x)
),
my AS (
  SELECT y, CAST(COALESCE(SUM(t) OVER (ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + (t + 1) / 2.0 AS DECIMAL(28, 1)) AS ry
  FROM (SELECT y, SUM(c) AS t FROM cells GROUP BY y)
),
m AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n,
         {dec_double_sql("SUM(c * rx)")} AS sx,
         {dec_double_sql("SUM(c * ry)")} AS sy,
         {dec_double_sql("SUM(c * rx * rx)")} AS sxx,
         {dec_double_sql("SUM(c * rx * ry)")} AS sxy,
         {dec_double_sql("SUM(c * ry * ry)")} AS syy
  FROM cells JOIN mx USING (x) JOIN my USING (y)
)
SELECT CAST(n AS BIGINT) AS n,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
         AS spearman_rho
FROM m
"""


@register("spearman_rho_contingency", _SPEARMAN_SQL)
def q_spearman_rho_contingency(spark, sf_dir):
    """Exact tie-corrected Spearman rho of (l_quantity, l_discount):
    average ranks from prefix sums over the value marginals (exact
    .5-grid decimals), then the Pearson moment template over
    cell-weighted ranks — every moment an exact decimal sum, one
    shared final expression.

    Scale plan: the grid collapse is one map-side combined group-by;
    marginal prefix windows and the moment aggregate run on the
    K-sized grid relation.  For unbounded domains the same query runs
    over quantized buckets."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(F.col("l_quantity").alias("x"), F.col("l_discount").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )

    def marg(key, rank_name):
        w_prev = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, -1)
        return (
            cells.groupBy(key)
            .agg(F.sum("c").alias("t"))
            .select(
                key,
                (
                    F.coalesce(F.sum("t").over(w_prev), F.lit(0))
                    + (F.col("t") + 1) / 2.0
                )
                .cast("decimal(28, 1)")
                .alias(rank_name),
            )
        )

    joined = cells.join(marg("x", "rx"), "x").join(marg("y", "ry"), "y")
    m = joined.agg(
        F.sum("c").cast("double").alias("n"),
        F.sum(F.col("c") * F.col("rx")).cast("double").alias("sx"),
        F.sum(F.col("c") * F.col("ry")).cast("double").alias("sy"),
        F.sum(F.col("c") * F.col("rx") * F.col("rx")).cast("double").alias("sxx"),
        F.sum(F.col("c") * F.col("rx") * F.col("ry")).cast("double").alias("sxy"),
        F.sum(F.col("c") * F.col("ry") * F.col("ry")).cast("double").alias("syy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Two-class linear discriminant analysis, EXACT: class means + pooled
# within-class covariance from one conditional-moment scan, the 2x2
# solve w = S⁻¹(μ₁-μ₀) through the shared adjugate, then a scoring
# pass measures training accuracy with the 1-row weight relation
# broadcast in.  Fisher's discriminant as pure dataflow — the
# closed-form sibling of `logreg_irls_exact` (no iterations at all).
# ---------------------------------------------------------------------------

_LDA_SRC_SQL = """
  SELECT CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS x1,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x2,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
"""

# pooled-covariance solve over per-class moments {p}n/{p}s1/{p}s2/
# {p}s11/{p}s12/{p}s22 for p in (a_, b_): within-class scatter =
# Σ_class (S_xx - s_x s_x / n); w = S⁻¹ d with d = μ₁ - μ₀.
_LDA_SXX = "((a_s11 - a_s1 * a_s1 / a_n) + (b_s11 - b_s1 * b_s1 / b_n))"
_LDA_SXY = "((a_s12 - a_s1 * a_s2 / a_n) + (b_s12 - b_s1 * b_s2 / b_n))"
_LDA_SYY = "((a_s22 - a_s2 * a_s2 / a_n) + (b_s22 - b_s2 * b_s2 / b_n))"
_LDA_D1 = "(b_s1 / b_n - a_s1 / a_n)"
_LDA_D2 = "(b_s2 / b_n - a_s2 / a_n)"
_LDA_DET = f"({_LDA_SXX} * {_LDA_SYY} - {_LDA_SXY} * {_LDA_SXY})"
_LDA_W1 = f"(({_LDA_SYY} * {_LDA_D1} - {_LDA_SXY} * {_LDA_D2}) / {_LDA_DET})"
_LDA_W2 = f"(({_LDA_SXX} * {_LDA_D2} - {_LDA_SXY} * {_LDA_D1}) / {_LDA_DET})"
# decision threshold: w·(μ₀+μ₁)/2, class 1 iff w·x > c (quantized)
_LDA_C = (
    f"({_LDA_W1} * (a_s1 / a_n + b_s1 / b_n) / 2.0"
    f" + {_LDA_W2} * (a_s2 / a_n + b_s2 / b_n) / 2.0)"
)


def _lda_moments_sql(tag: str, cls: int) -> str:
    csum = lambda t: dec_double_sql(f"SUM(CASE WHEN y = {cls} THEN {t} END)")  # noqa: E731
    return (
        f"SUM(CASE WHEN y = {cls} THEN 1 ELSE 0 END) * 1.0 AS {tag}n,\n"
        f"  {csum('x1')} AS {tag}s1,\n"
        f"  {csum('x2')} AS {tag}s2,\n"
        f"  {csum('x1 * x1')} AS {tag}s11,\n"
        f"  {csum('x1 * x2')} AS {tag}s12,\n"
        f"  {csum('x2 * x2')} AS {tag}s22"
    )


_LDA_SQL = f"""
WITH s AS ({_LDA_SRC_SQL}),
m AS (
  SELECT {_lda_moments_sql('a_', 0)},
  {_lda_moments_sql('b_', 1)}
  FROM s
),
w AS (
  SELECT round({_LDA_W1}, 9) AS w1, round({_LDA_W2}, 9) AS w2,
         round({_LDA_C}, 9) AS c,
         CAST(a_n AS BIGINT) AS n0, CAST(b_n AS BIGINT) AS n1
  FROM m
),
acc AS (
  SELECT CAST(SUM(CASE WHEN (w.w1 * s.x1 + w.w2 * s.x2 > w.c) = (s.y = 1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM s CROSS JOIN w
)
SELECT w.n0, w.n1,
       round(w.w1, 6) AS w_month,
       round(w.w2, 6) AS w_urgent,
       round(w.c, 6) AS threshold,
       round(CAST(acc.n_correct AS DOUBLE) / acc.n, 6) AS train_accuracy
FROM w CROSS JOIN acc
"""


@register("lda_two_class_exact", _LDA_SQL)
def q_lda_two_class_exact(spark, sf_dir):
    """Fisher LDA for finished-vs-open orders on (month, urgent flag),
    EXACT and iteration-free: per-class moments are exact decimal sums
    from ONE conditional scan, pooled within-class scatter and
    w = S⁻¹(μ₁-μ₀) come from one shared 2x2 adjugate template, the
    midpoint threshold and weights are quantized at 1e-9, and a second
    scan scores training accuracy with the 1-row weight relation
    broadcast in.

    Scale plan: train = one map-side combined aggregate (what MLlib
    needs an optimizer for, p=2 LDA needs none); score = one more scan
    with a broadcast — the exact two-pass shape of
    `mahalanobis_outlier_topk`."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("x1"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("x2"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )

    def cls_moments(tag, cls):
        only = lambda t: F.when(F.col("y") == cls, t)  # noqa: E731
        return [
            F.count(only(F.lit(1))).cast("double").alias(f"{tag}n"),
            F.sum(only(F.col("x1"))).cast("double").alias(f"{tag}s1"),
            F.sum(only(F.col("x2"))).cast("double").alias(f"{tag}s2"),
            F.sum(only(F.col("x1") * F.col("x1"))).cast("double").alias(f"{tag}s11"),
            F.sum(only(F.col("x1") * F.col("x2"))).cast("double").alias(f"{tag}s12"),
            F.sum(only(F.col("x2") * F.col("x2"))).cast("double").alias(f"{tag}s22"),
        ]

    m = s.agg(*(cls_moments("a_", 0) + cls_moments("b_", 1)))
    w = m.select(
        F.round(F.expr(_LDA_W1), 9).alias("w1"),
        F.round(F.expr(_LDA_W2), 9).alias("w2"),
        F.round(F.expr(_LDA_C), 9).alias("c"),
        F.col("a_n").cast("long").alias("n0"),
        F.col("b_n").cast("long").alias("n1"),
    )
    acc = s.crossJoin(F.broadcast(w.select("w1", "w2", "c"))).agg(
        F.sum(
            (
                (
                    F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
                    > F.col("c")
                )
                == (F.col("y") == 1)
            ).cast("int")
        )
        .cast("long")
        .alias("n_correct"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return w.crossJoin(F.broadcast(acc)).select(
        "n0",
        "n1",
        F.round(F.col("w1"), 6).alias("w_month"),
        F.round(F.col("w2"), 6).alias("w_urgent"),
        F.round(F.col("c"), 6).alias("threshold"),
        F.round(F.col("n_correct").cast("double") / F.col("n"), 6).alias(
            "train_accuracy"
        ),
    )


# ---------------------------------------------------------------------------
# Circular (directional) statistics of event time-of-day: the
# resultant length R and circular mean hour per event_type — the
# correct "when does this usually happen" summary where a linear mean
# of hours is nonsense across midnight (Mardia & Jupp 2000).
# ---------------------------------------------------------------------------

_TWO_PI = 6.283185307179586


def _circ_sql() -> str:
    theta = f"({_TWO_PI} * (CAST(floor(epoch(ts)) AS BIGINT) % 86400) / 86400.0)"
    return f"""
WITH m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         {grid_sum_sql(f'cos({theta})', 9)} AS c,
         {grid_sum_sql(f'sin({theta})', 9)} AS s
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       round(sqrt(c * c + s * s) / n, 6) AS resultant_r,
       round(CASE WHEN atan2(s, c) < 0
                  THEN (atan2(s, c) + {_TWO_PI}) / {_TWO_PI} * 24.0
                  ELSE atan2(s, c) / {_TWO_PI} * 24.0 END, 6) AS mean_hour
FROM m
ORDER BY event_type
"""


@register("circular_hour_stats", _circ_sql())
def q_circular_hour_stats(spark, sf_dir):
    """Circular mean hour and resultant length R per event_type:
    θ = 2π·(second of day)/86400, R = |Σe^{iθ}|/n (1 = perfectly
    concentrated, 0 = uniform around the clock), mean hour from
    atan2 of the quantized component sums.  cos/sin are quantized to
    the 1e-9 grid before the DECIMAL sums (the engine's libm
    discipline), so the statistic is bit-stable.

    Scale plan: ONE map-side combined aggregate per type — circular
    moments are as mergeable as linear ones."""
    ev = load_table(spark, sf_dir, "events")
    theta = (
        F.lit(_TWO_PI)
        * (F.floor(F.col("ts").cast("double")).cast("long") % 86400)
        / 86400.0
    )

    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        grid_sum(F.cos(theta), 9).alias("c"),
        grid_sum(F.sin(theta), 9).alias("s"),
    )
    ang = F.atan2(F.col("s"), F.col("c"))
    return m.select(
        "event_type",
        "n",
        F.round(
            F.sqrt(F.col("c") * F.col("c") + F.col("s") * F.col("s")) / F.col("n"), 6
        ).alias("resultant_r"),
        F.round(
            F.when(ang < 0, (ang + _TWO_PI) / _TWO_PI * 24.0).otherwise(
                ang / _TWO_PI * 24.0
            ),
            6,
        ).alias("mean_hour"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Poisson regression by unrolled IRLS — the COUNT-outcome GLM beside
# `logreg_irls_exact` (binary) and `ols_regression_exact` (gaussian):
# lineitem count per order on (month, urgent flag), canonical log
# link, Newton weights w = mu.  Same engine/oracle template economy:
# the 3x3 step reuses the OLS adjugate with mu-weighted moments, mu is
# quantized AFTER exp, every sum rides the 1e-9 DECIMAL grid.
# ---------------------------------------------------------------------------

_PGLM_SRC = """
  SELECT CAST(EXTRACT(month FROM CAST(o.o_orderdate AS DATE)) AS BIGINT) AS x1,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x2,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, 1, 2
"""


def _pglm_sql() -> str:
    parts = [f"s AS ({_PGLM_SRC})", *irls_sql_ctes("log")]
    t = _IRLS_T
    parts.append(f"rf AS (SELECT x1, x2, y, {_PGLM_MU} AS mu FROM s CROSS JOIN b{t}_)")
    parts.append(
        "dev AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        + grid_sum_sql(
            "2.0 * (CASE WHEN y > 0 THEN y * round(ln(y / mu), 9) ELSE 0.0 END"
            " - (y - mu))", 9
        )
        + " AS d FROM rf)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT dev.n,
       round(b.b0, 6) AS b_intercept,
       round(b.b1, 6) AS b_month,
       round(b.b2, 6) AS b_urgent,
       round(dev.d / dev.n, 6) AS mean_deviance
FROM b{t}_ b CROSS JOIN dev
"""
    )


@register("poisson_glm_exact", _pglm_sql())
def q_poisson_glm_exact(spark, sf_dir):
    """Poisson regression of per-order lineitem count on (order month,
    urgent flag), trained by three unrolled Newton/IRLS steps with the
    canonical log link: mu quantized to the 1e-9 grid AFTER exp, each
    step's mu-weighted normal equations solved with the SAME adjugate
    template as OLS/logistic, and the mean deviance
    2[y·ln(y/mu) - (y-mu)]/n reported as fit quality.

    Scale plan: the count outcome is one orderkey-grouped join
    (shuffle on the PK), then T+1 map-side combined scans over the
    per-order relation with the 3 coefficients carried between passes
    as driver-side literals — identical shape to `logreg_irls_exact`
    at any scale."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    src = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(
            F.first(
                F.month(F.col("o_orderdate").cast("date")).cast("long")
            ).alias("x1"),
            F.first(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("x2"),
            F.count(F.lit(1)).cast("long").alias("y"),
        )
        .select("x1", "x2", "y")
        .localCheckpoint(eager=True)
    )
    beta = irls_fit(src, "log")
    dev_term = 2.0 * (
        F.when(
            F.col("y") > 0,
            F.col("y") * F.round(F.log(F.col("y") / F.col("mu")), 9),
        ).otherwise(0.0)
        - (F.col("y") - F.col("mu"))
    )
    return irls_score(src, beta, "log").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.round(F.lit(b), 6).alias(c)
            for b, c in zip(beta, ("b_intercept", "b_month", "b_urgent"))
        ],
        F.round(grid_sum(dev_term, 9) / F.count(F.lit(1)), 6).alias("mean_deviance"),
    )


# ---------------------------------------------------------------------------
# Brier-score Murphy decomposition of the logistic model's
# probabilities: brier = reliability - resolution + uncertainty over
# 10 fixed-width probability bins (Murphy 1973) — the calibration
# audit `gnb_calibration_curve` draws as a curve, compressed to the
# three numbers a model gate checks.
# ---------------------------------------------------------------------------


def _brier_sql() -> str:
    parts = [f"s AS ({_IRLS_SRC})", *irls_sql_ctes()]
    t = _IRLS_T
    parts.append(
        f"scored AS (SELECT y, {_IRLS_P} AS p, "
        f"CAST(least(floor({_IRLS_P} * 10), 9) AS BIGINT) AS bin "
        f"FROM s CROSS JOIN b{t}_)"
    )
    parts.append(
        "bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b, "
        f"{dec_double_sql('SUM(CAST(p AS DECIMAL(38, 9)))')} AS sp, "
        "CAST(SUM(y) AS BIGINT) AS sy_b FROM scored GROUP BY bin)"
    )
    parts.append(
        "tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n, "
        "CAST(SUM(sy_b) AS BIGINT) AS sy FROM bins)"
    )
    parts.append(
        "bs AS (SELECT "
        + grid_sum_sql("(p - y) * (p - y)", 9)
        + " AS sq FROM scored)"
    )
    parts.append(
        "decomp AS (SELECT "
        + grid_sum_sql(
            "n_b * (sp / n_b - CAST(sy_b AS DOUBLE) / n_b)"
            " * (sp / n_b - CAST(sy_b AS DOUBLE) / n_b)", 9
        )
        + " AS rel_num, "
        + grid_sum_sql(
            "n_b * (CAST(sy_b AS DOUBLE) / n_b - CAST(tot.sy AS DOUBLE) / tot.n)"
            " * (CAST(sy_b AS DOUBLE) / n_b - CAST(tot.sy AS DOUBLE) / tot.n)", 9
        )
        + " AS res_num FROM bins CROSS JOIN tot)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT tot.n,
       round(bs.sq / tot.n, 6) AS brier,
       round(decomp.rel_num / tot.n, 6) AS reliability,
       round(decomp.res_num / tot.n, 6) AS resolution,
       round(CAST(tot.sy AS DOUBLE) / tot.n
             * (1.0 - CAST(tot.sy AS DOUBLE) / tot.n), 6) AS uncertainty
FROM tot CROSS JOIN bs CROSS JOIN decomp
"""
    )


@register("brier_decomposition", _brier_sql())
def q_brier_decomposition(spark, sf_dir):
    """Murphy decomposition of the logistic model's Brier score over
    10 fixed-width probability bins: reliability (calibration error),
    resolution (sharpness), uncertainty (base-rate entropy), plus the
    raw Brier — the scalar calibration gate.  Probabilities ride the
    1e-9 sigmoid grid; bin terms and the squared-error sum are
    quantized DECIMAL sums; bin assignment floor(p·10) is exact on the
    grid.

    Scale plan: T Newton scans + one scoring scan to the 10-bin
    relation + one squared-error aggregate — all map-side combined,
    the 3 coefficients carried between passes as driver-side
    literals."""
    src = _logreg_src(spark, sf_dir)
    scored = (
        irls_score(src, irls_fit(src))
        .select(
            "y",
            "p",
            F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("long").alias("bin"),
        )
        .localCheckpoint(eager=True)
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum(F.col("p").cast("decimal(38, 9)")).cast("double").alias("sp"),
        F.sum("y").cast("long").alias("sy_b"),
    )
    tot = bins.agg(
        F.sum("n_b").cast("long").alias("n"), F.sum("sy_b").cast("long").alias("sy")
    )
    bs = scored.agg(
        grid_sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 9).alias("sq")
    )
    pbar = F.col("sp") / F.col("n_b")
    ybar_b = F.col("sy_b").cast("double") / F.col("n_b")
    ybar = F.col("sy").cast("double") / F.col("n")
    decomp = bins.crossJoin(F.broadcast(tot)).agg(
        grid_sum(F.col("n_b") * (pbar - ybar_b) * (pbar - ybar_b), 9).alias("rel_num"),
        grid_sum(F.col("n_b") * (ybar_b - ybar) * (ybar_b - ybar), 9).alias("res_num"),
    )
    return (
        tot.crossJoin(F.broadcast(bs))
        .crossJoin(F.broadcast(decomp))
        .select(
            "n",
            F.round(F.col("sq") / F.col("n"), 6).alias("brier"),
            F.round(F.col("rel_num") / F.col("n"), 6).alias("reliability"),
            F.round(F.col("res_num") / F.col("n"), 6).alias("resolution"),
            F.round(ybar * (1.0 - ybar), 6).alias("uncertainty"),
        )
    )


# ---------------------------------------------------------------------------
# Model gains/lift table over the logistic score: cumulative capture
# and lift walking the 10 fixed-width probability bins from high to
# low — the targeting readout next to `brier_decomposition`'s
# calibration numbers (same scored relation, same bin discipline; the
# classic NTILE-decile gains table is the global-sort anti-pattern,
# fixed-width score bins are its scale-safe form).
# ---------------------------------------------------------------------------


def _gains_sql() -> str:
    base = _brier_sql()
    head, _, _ = base.partition("tot AS (")
    return (
        head
        + """tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n,
             CAST(SUM(sy_b) AS BIGINT) AS sy FROM bins)
SELECT bin, n_b AS n, sy_b AS n_pos,
       round(CAST(sy_b AS DOUBLE) / n_b, 6) AS bin_rate,
       CAST(SUM(n_b) OVER w AS BIGINT) AS cum_n,
       CAST(SUM(sy_b) OVER w AS BIGINT) AS cum_pos,
       round(CAST(SUM(sy_b) OVER w AS DOUBLE) / tot.sy, 6) AS cum_capture,
       round((CAST(SUM(sy_b) OVER w AS DOUBLE) / SUM(n_b) OVER w)
             / (CAST(tot.sy AS DOUBLE) / tot.n), 6) AS cum_lift
FROM bins CROSS JOIN tot
WINDOW w AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
ORDER BY bin DESC
"""
    )


@register("model_gains_table", _gains_sql())
def q_model_gains_table(spark, sf_dir):
    """Cumulative gains/lift of the logistic model: per fixed-width
    score bin (high to low), the positive rate, cumulative capture of
    all positives, and cumulative lift over the base rate — what a
    targeting owner reads to pick an operating point.  Shares the
    scored relation and bin discipline with `brier_decomposition`;
    counts exact, ratios single expressions; the cumulative windows
    run over the 10-row bin relation.

    Scale plan: identical to brier's (T Newton scans + one scoring
    scan to 10 bins); the gains windows are constant-size."""
    src = _logreg_src(spark, sf_dir)
    bins = (
        irls_score(src, irls_fit(src))
        .select(
            "y",
            F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("long").alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum("y").cast("long").alias("sy_b"),
        )
        .localCheckpoint(eager=True)
    )
    tot = bins.agg(
        F.sum("n_b").cast("long").alias("n"), F.sum("sy_b").cast("long").alias("sy")
    )
    w_cum = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, 0)
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("n_b").alias("n"),
            F.col("sy_b").alias("n_pos"),
            F.round(F.col("sy_b").cast("double") / F.col("n_b"), 6).alias(
                "bin_rate"
            ),
            F.sum("n_b").over(w_cum).cast("long").alias("cum_n"),
            F.sum("sy_b").over(w_cum).cast("long").alias("cum_pos"),
            F.round(
                F.sum("sy_b").over(w_cum).cast("double") / F.col("sy"), 6
            ).alias("cum_capture"),
            F.round(
                (F.sum("sy_b").over(w_cum).cast("double") / F.sum("n_b").over(w_cum))
                / (F.col("sy").cast("double") / F.col("n")),
                6,
            ).alias("cum_lift"),
        )
        .orderBy(F.desc("bin"))
    )


# ---------------------------------------------------------------------------
# Mantel-Haenszel pooled odds ratio across month strata — the correct
# stratified estimate that `simpson_paradox_detector` motivates:
# OR_MH = Σ(a_i d_i / n_i) / Σ(b_i c_i / n_i), with the
# Robins-Breslow-Greenland variance for the log-OR confidence
# interval (Mantel & Haenszel 1959; Robins et al. 1986).
# ---------------------------------------------------------------------------

_MH_SQL = f"""
WITH s AS (
  SELECT CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS month,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
cells AS (
  SELECT month,
         CAST(SUM(t * y) AS DOUBLE) AS a,
         CAST(SUM(t * (1 - y)) AS DOUBLE) AS b,
         CAST(SUM((1 - t) * y) AS DOUBLE) AS c,
         CAST(SUM((1 - t) * (1 - y)) AS DOUBLE) AS d,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM s GROUP BY month
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         {grid_sum_sql("a * d / n", 9)} AS r,
         {grid_sum_sql("b * c / n", 9)} AS sstat,
         {grid_sum_sql("(a + d) / n * (a * d / n)", 9)} AS prr,
         {grid_sum_sql("(a + d) / n * (b * c / n) + (b + c) / n * (a * d / n)", 9)} AS psrq,
         {grid_sum_sql("(b + c) / n * (b * c / n)", 9)} AS qss
  FROM cells
)
SELECT n_strata,
       round(r / sstat, 6) AS or_mh,
       round(ln(r / sstat), 6) AS log_or,
       round(sqrt(prr / (2.0 * r * r) + psrq / (2.0 * r * sstat)
                  + qss / (2.0 * sstat * sstat)), 6) AS se_log_or,
       round(exp(ln(r / sstat) - 1.959964 * sqrt(prr / (2.0 * r * r)
                 + psrq / (2.0 * r * sstat) + qss / (2.0 * sstat * sstat))), 6)
         AS ci_low,
       round(exp(ln(r / sstat) + 1.959964 * sqrt(prr / (2.0 * r * r)
                 + psrq / (2.0 * r * sstat) + qss / (2.0 * sstat * sstat))), 6)
         AS ci_high
FROM agg
"""


@register("mantel_haenszel_or", _MH_SQL)
def q_mantel_haenszel_or(spark, sf_dir):
    """Mantel-Haenszel pooled odds ratio of URGENT → finished across
    month strata with the Robins-Breslow-Greenland 95% CI — the
    stratification-correct effect estimate that the pooled contrast in
    `simpson_paradox_detector` can get wrong.  Per-stratum 2×2 counts
    are exact; the R/S/variance components ride the 1e-9 DECIMAL grid;
    ln/exp/sqrt enter once in the final shared expression.

    Scale plan: one map-side combined group-by to the 12-stratum
    grid; the estimator is one aggregate over THAT."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias("month"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("t"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cells = s.groupBy("month").agg(
        F.sum(F.col("t") * F.col("y")).cast("double").alias("a"),
        F.sum(F.col("t") * (1 - F.col("y"))).cast("double").alias("b"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("double").alias("c"),
        F.sum((1 - F.col("t")) * (1 - F.col("y"))).cast("double").alias("d"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )

    a, b, c, d, n = (F.col(x) for x in "abcdn")
    agg = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        grid_sum(a * d / n, 9).alias("r"),
        grid_sum(b * c / n, 9).alias("sstat"),
        grid_sum((a + d) / n * (a * d / n), 9).alias("prr"),
        grid_sum((a + d) / n * (b * c / n) + (b + c) / n * (a * d / n), 9).alias("psrq"),
        grid_sum((b + c) / n * (b * c / n), 9).alias("qss"),
    )
    log_or = F.log(F.col("r") / F.col("sstat"))
    se = F.sqrt(
        F.col("prr") / (2.0 * F.col("r") * F.col("r"))
        + F.col("psrq") / (2.0 * F.col("r") * F.col("sstat"))
        + F.col("qss") / (2.0 * F.col("sstat") * F.col("sstat"))
    )
    return agg.select(
        "n_strata",
        F.round(F.col("r") / F.col("sstat"), 6).alias("or_mh"),
        F.round(log_or, 6).alias("log_or"),
        F.round(se, 6).alias("se_log_or"),
        F.round(F.exp(log_or - 1.959964 * se), 6).alias("ci_low"),
        F.round(F.exp(log_or + 1.959964 * se), 6).alias("ci_high"),
    )


# ---------------------------------------------------------------------------
# Minimum detectable effect at the observed sample sizes — the
# experiment-sizing readout (alpha = 0.05 two-sided, power = 0.80):
# MDE = (z_{a/2} + z_pow) * sqrt(s_t²/n_t + s_c²/n_c).  The inverse of
# the test `welch_ttest_urgent_orders` runs — what effect COULD this
# design have seen.
# ---------------------------------------------------------------------------

_Z_ALPHA2 = 1.959964  # Phi^{-1}(0.975)
_Z_POWER = 0.841621  # Phi^{-1}(0.80)


def _mde_moments(tag: str, arm: int) -> str:
    only = lambda t: f"CASE WHEN t = {arm} THEN {t} END"  # noqa: E731
    return (
        f"SUM(CASE WHEN t = {arm} THEN 1 ELSE 0 END) * 1.0 AS {tag}n,\n"
        f"  {grid_sum_sql(only('yo'), 9)} AS {tag}s,\n"
        f"  {grid_sum_sql(only('yo * yo'), 9)} AS {tag}ss"
    )


_MDE_SQL = f"""
WITH s AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
         CAST(o_totalprice AS DOUBLE) AS yo
  FROM orders
),
m AS (
  SELECT {_mde_moments('t_', 1)},
  {_mde_moments('c_', 0)}
  FROM s
)
SELECT CAST(t_n AS BIGINT) AS n_treated,
       CAST(c_n AS BIGINT) AS n_control,
       round(t_s / t_n - c_s / c_n, 6) AS observed_diff,
       round(sqrt((t_ss - t_s * t_s / t_n) / (t_n - 1.0) / t_n
                  + (c_ss - c_s * c_s / c_n) / (c_n - 1.0) / c_n), 6)
         AS se_diff,
       round(({_Z_ALPHA2} + {_Z_POWER})
             * sqrt((t_ss - t_s * t_s / t_n) / (t_n - 1.0) / t_n
                    + (c_ss - c_s * c_s / c_n) / (c_n - 1.0) / c_n), 6)
         AS mde_abs,
       round(({_Z_ALPHA2} + {_Z_POWER})
             * sqrt((t_ss - t_s * t_s / t_n) / (t_n - 1.0) / t_n
                    + (c_ss - c_s * c_s / c_n) / (c_n - 1.0) / c_n)
             / (c_s / c_n), 6) AS mde_rel
FROM m
"""


@register("ab_mde_readout", _MDE_SQL)
def q_ab_mde_readout(spark, sf_dir):
    """Minimum detectable effect at the observed design (two-sided
    alpha 0.05, power 0.80): per-arm moments on the 1e-9 DECIMAL grid,
    MDE = (z_alpha/2 + z_power)·SE(diff) in absolute and
    control-relative units, next to the observed difference — the
    "could we even have seen it" gate an experiment review starts
    with.

    Scale plan: ONE conditional-moment aggregate; the readout is
    arithmetic on a 1-row relation."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("t"),
        F.col("o_totalprice").cast("double").alias("yo"),
    )

    def arm(tag, a):
        only = lambda c: F.when(F.col("t") == a, c)  # noqa: E731
        return [
            F.count(only(F.lit(1))).cast("double").alias(f"{tag}n"),
            grid_sum(only(F.col("yo")), 9).alias(f"{tag}s"),
            grid_sum(only(F.col("yo") * F.col("yo")), 9).alias(f"{tag}ss"),
        ]

    m = s.agg(*(arm("t_", 1) + arm("c_", 0)))
    se = F.sqrt(
        (F.col("t_ss") - F.col("t_s") * F.col("t_s") / F.col("t_n"))
        / (F.col("t_n") - 1.0)
        / F.col("t_n")
        + (F.col("c_ss") - F.col("c_s") * F.col("c_s") / F.col("c_n"))
        / (F.col("c_n") - 1.0)
        / F.col("c_n")
    )
    k = _Z_ALPHA2 + _Z_POWER
    return m.select(
        F.col("t_n").cast("long").alias("n_treated"),
        F.col("c_n").cast("long").alias("n_control"),
        F.round(
            F.col("t_s") / F.col("t_n") - F.col("c_s") / F.col("c_n"), 6
        ).alias("observed_diff"),
        F.round(se, 6).alias("se_diff"),
        F.round(k * se, 6).alias("mde_abs"),
        F.round(k * se / (F.col("c_s") / F.col("c_n")), 6).alias("mde_rel"),
    )


# ---------------------------------------------------------------------------
# Group-sequential monitoring with the O'Brien-Fleming boundary: four
# calendar looks at the urgent-vs-other value contrast, each look's
# Welch z against c/sqrt(t_k) (c = 2.24, the standard K=4 two-sided
# 0.05 OBF constant) — the peeking-safe complement of the always-on
# `sprt_ab_monitor`.
# ---------------------------------------------------------------------------

_GS_LOOKS = ["1997-01-01", "1998-07-01", "2000-01-01", "2002-01-01"]
_GS_C = 2.24


def _gs_sql() -> str:
    look_case = " ".join(
        f"WHEN CAST(o_orderdate AS DATE) < DATE '{d}' THEN {i + 1}"
        for i, d in enumerate(_GS_LOOKS)
    )
    looks_rel = " UNION ALL ".join(
        f"SELECT {i + 1} AS look, DATE '{d}' AS cutoff_date"
        for i, d in enumerate(_GS_LOOKS)
    )
    m = lambda p, arm: (  # noqa: E731
        f"SUM(CASE WHEN t = {arm} THEN 1 ELSE 0 END) * 1.0 AS {p}n,\n"
        f"    {grid_sum_sql(f'CASE WHEN t = {arm} THEN yo END', 9)} AS {p}s,\n"
        f"    {grid_sum_sql(f'CASE WHEN t = {arm} THEN yo * yo END', 9)} AS {p}ss"
    )
    var = lambda p: f"(({p}ss_c - {p}s_c * {p}s_c / {p}n_c) / ({p}n_c - 1.0))"  # noqa: E731
    return f"""
WITH s AS (
  SELECT CASE {look_case} ELSE {len(_GS_LOOKS)} END AS slice,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
         CAST(o_totalprice AS DOUBLE) AS yo
  FROM orders
),
per_slice AS (
  SELECT slice,
    {m('t_', 1)},
    {m('c_', 0)}
  FROM s GROUP BY slice
),
looks AS ({looks_rel}),
cum AS (
  SELECT l.look, l.cutoff_date,
         SUM(p.t_n) AS t_n_c, SUM(p.t_s) AS t_s_c, SUM(p.t_ss) AS t_ss_c,
         SUM(p.c_n) AS c_n_c, SUM(p.c_s) AS c_s_c, SUM(p.c_ss) AS c_ss_c
  FROM looks l JOIN per_slice p ON p.slice <= l.look
  GROUP BY l.look, l.cutoff_date
),
tot AS (SELECT MAX(t_n_c + c_n_c) AS n_final FROM cum)
SELECT look, cutoff_date,
       CAST(t_n_c + c_n_c AS BIGINT) AS n_cum,
       round((t_n_c + c_n_c) / tot.n_final, 6) AS info_frac,
       round((t_s_c / t_n_c - c_s_c / c_n_c)
             / sqrt({var('t_')} / t_n_c + {var('c_')} / c_n_c), 6) AS z_stat,
       round({_GS_C} / sqrt((t_n_c + c_n_c) / tot.n_final), 6) AS obf_boundary,
       CAST(CASE WHEN abs((t_s_c / t_n_c - c_s_c / c_n_c)
                          / sqrt({var('t_')} / t_n_c + {var('c_')} / c_n_c))
                      > {_GS_C} / sqrt((t_n_c + c_n_c) / tot.n_final)
                 THEN 1 ELSE 0 END AS BIGINT) AS crossed
FROM cum CROSS JOIN tot
ORDER BY look
"""


@register("group_sequential_obf", _gs_sql())
def q_group_sequential_obf(spark, sf_dir):
    """Four-look group-sequential monitor with the O'Brien-Fleming
    boundary c/sqrt(t_k) (c = {c}, K = 4, two-sided 0.05): cumulative
    Welch z of the urgent-vs-other value contrast at each calendar
    look vs its boundary.  Per-slice moments ride the 1e-9 DECIMAL
    grid; cumulative sums and the z/boundary arithmetic run on the
    4-row look relation — early looks need huge z (peeking-safe),
    late looks approach the fixed-horizon 1.96.

    Scale plan: ONE map-side combined group-by to the 4-slice grid;
    the look×slice join and every statistic live on ≤16 rows."""
    o = load_table(spark, sf_dir, "orders")
    slice_col = F.when(
        F.col("o_orderdate").cast("date") < F.lit(_GS_LOOKS[0]).cast("date"), 1
    )
    for i, d in enumerate(_GS_LOOKS[1:], start=2):
        slice_col = slice_col.when(
            F.col("o_orderdate").cast("date") < F.lit(d).cast("date"), i
        )
    slice_col = slice_col.otherwise(len(_GS_LOOKS))
    s = o.select(
        slice_col.alias("slice"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("t"),
        F.col("o_totalprice").cast("double").alias("yo"),
    )

    def arm(p, a):
        only = lambda c: F.when(F.col("t") == a, c)  # noqa: E731
        return [
            F.count(only(F.lit(1))).cast("double").alias(f"{p}n"),
            grid_sum(only(F.col("yo")), 9).alias(f"{p}s"),
            grid_sum(only(F.col("yo") * F.col("yo")), 9).alias(f"{p}ss"),
        ]

    per_slice = (
        s.groupBy("slice")
        .agg(*(arm("t_", 1) + arm("c_", 0)))
        .localCheckpoint(eager=True)
    )
    looks = per_slice.sparkSession.createDataFrame(
        [(i + 1, d) for i, d in enumerate(_GS_LOOKS)], "look int, cutoff string"
    ).select("look", F.col("cutoff").cast("date").alias("cutoff_date"))
    cum = (
        looks.join(F.broadcast(per_slice), per_slice["slice"] <= looks["look"])
        .groupBy("look", "cutoff_date")
        .agg(
            F.sum("t_n").alias("t_n_c"),
            F.sum("t_s").alias("t_s_c"),
            F.sum("t_ss").alias("t_ss_c"),
            F.sum("c_n").alias("c_n_c"),
            F.sum("c_s").alias("c_s_c"),
            F.sum("c_ss").alias("c_ss_c"),
        )
    )
    tot = cum.agg(F.max(F.col("t_n_c") + F.col("c_n_c")).alias("n_final"))
    var_t = (
        F.col("t_ss_c") - F.col("t_s_c") * F.col("t_s_c") / F.col("t_n_c")
    ) / (F.col("t_n_c") - 1.0)
    var_c = (
        F.col("c_ss_c") - F.col("c_s_c") * F.col("c_s_c") / F.col("c_n_c")
    ) / (F.col("c_n_c") - 1.0)
    z = (
        F.col("t_s_c") / F.col("t_n_c") - F.col("c_s_c") / F.col("c_n_c")
    ) / F.sqrt(var_t / F.col("t_n_c") + var_c / F.col("c_n_c"))
    info = (F.col("t_n_c") + F.col("c_n_c")) / F.col("n_final")
    bound = _GS_C / F.sqrt(info)
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "look",
            "cutoff_date",
            (F.col("t_n_c") + F.col("c_n_c")).cast("long").alias("n_cum"),
            F.round(info, 6).alias("info_frac"),
            F.round(z, 6).alias("z_stat"),
            F.round(bound, 6).alias("obf_boundary"),
            F.when(F.abs(z) > bound, 1).otherwise(0).cast("long").alias("crossed"),
        )
        .orderBy("look")
    )


# ---------------------------------------------------------------------------
# Theil-T inequality decomposition of customer revenue across nations:
# T_total = T_between + Σ_g share_g · T_within_g — the additively
# decomposable inequality index (`key_skew_gini`'s Gini is NOT
# decomposable, which is why regional attribution needs Theil).
# ---------------------------------------------------------------------------

_THEIL_WITHIN = "x / (sx_g / n_g) * round(ln(x / (sx_g / n_g)), 6)"
_THEIL_BETWEEN = "(sx_g / tot.sx) * round(ln((sx_g / n_g) / (tot.sx / tot.n)), 6)"
_THEIL_SQL = f"""
WITH cust AS (
  SELECT c.c_nationkey AS nation, o.o_custkey,
         {dec_sum_sql("o.o_totalprice")} AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
tot AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {grid_sum_sql("x", 6)} AS sx
  FROM cust
),
grp AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_g,
         {grid_sum_sql("x", 6)} AS sx_g
  FROM cust GROUP BY nation
),
within AS (
  SELECT nation, n_g, sx_g,
         round({grid_sum_sql(_THEIL_WITHIN, 9)} / n_g, 9) AS t_within
  FROM cust JOIN grp USING (nation)
  GROUP BY nation, n_g, sx_g
),
btw AS (
  SELECT round({grid_sum_sql(_THEIL_BETWEEN, 9)}, 9) AS t_between
  FROM grp CROSS JOIN tot
)
SELECT w.nation, w.n_g AS n_customers,
       round(w.sx_g / tot.sx, 6) AS revenue_share,
       round(w.t_within, 6) AS theil_within,
       round((w.sx_g / tot.sx) * w.t_within, 6) AS weighted_within,
       round(btw.t_between, 6) AS theil_between
FROM within w CROSS JOIN tot CROSS JOIN btw
ORDER BY w.nation
"""


@register("theil_index_decomposition", _THEIL_SQL)
def q_theil_index_decomposition(spark, sf_dir):
    """Theil-T inequality of per-customer revenue decomposed across
    nations: per-nation within-group Theil (revenue-share weighted)
    plus the between-group term — additively exact, unlike Gini.
    Per-customer revenue is an exact decimal sum; every x·ln(x/μ) term
    quantizes the log at 1e-6 and the product at 1e-9 before its
    DECIMAL group sum, so the decomposition is bit-stable.

    Scale plan: one PK-grouped join+aggregate to the customer grain,
    one nation-grain rollup, and the within pass re-reads the customer
    relation with group means attached by a nation-keyed broadcast
    join — no windows, nothing driver-side."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"), "o_custkey")
        .agg(dec_sum("o_totalprice").alias("x"))
        .localCheckpoint(eager=True)
    )

    sx = grid_sum(F.col("x"), 6)
    tot = cust.agg(
        F.count(F.lit(1)).cast("double").alias("n"), sx.alias("sx")
    )
    grp = cust.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        sx.alias("sx_g"),
    )
    mu_g = F.col("sx_g") / F.col("n_g")
    within = (
        cust.join(F.broadcast(grp), "nation")
        .groupBy("nation", "n_g", "sx_g")
        .agg(
            F.round(
                grid_sum(F.col("x") / mu_g * F.round(F.log(F.col("x") / mu_g), 6), 9)
                / F.col("n_g").cast("double"),
                9,
            ).alias("t_within")
        )
    )
    mu = F.col("sx") / F.col("n")
    btw = (
        grp.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                grid_sum((F.col("sx_g") / F.col("sx")) * F.round(F.log(mu_g / mu), 6), 9),
                9,
            ).alias("t_between")
        )
    )
    return (
        within.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btw))
        .select(
            "nation",
            F.col("n_g").alias("n_customers"),
            F.round(F.col("sx_g") / F.col("sx"), 6).alias("revenue_share"),
            F.round(F.col("t_within"), 6).alias("theil_within"),
            F.round((F.col("sx_g") / F.col("sx")) * F.col("t_within"), 6).alias(
                "weighted_within"
            ),
            F.round(F.col("t_between"), 6).alias("theil_between"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test per event_type: skewness and excess
# kurtosis from central moments, JB = n/6·(S² + K²/4) — the
# distributional-assumption gate in front of every z/t-based monitor
# here (`fdr_bh_metric_screen`, `ab_mde_readout` assume approximate
# normality of the mean; JB says how non-normal the raw metric is).
# ---------------------------------------------------------------------------

_JB_SQL = f"""
WITH m AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {grid_sum_sql("value", 9)} AS s1,
         {grid_sum_sql("value * value", 9)} AS s2,
         {grid_sum_sql("value * value * value", 9)} AS s3,
         {grid_sum_sql("value * value * value * value", 9)} AS s4
  FROM events GROUP BY event_type
),
c AS (
  SELECT event_type, n,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n)
           * (s1 / n) AS m3,
         s4 / n - 4.0 * (s1 / n) * (s3 / n)
           + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
           - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM m
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(m3 / pow(m2, 1.5), 6) AS skewness,
       round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis,
       round(n / 6.0 * (pow(m3 / pow(m2, 1.5), 2)
             + pow(m4 / (m2 * m2) - 3.0, 2) / 4.0), 6) AS jarque_bera
FROM c
ORDER BY event_type
"""


@register("jarque_bera_normality", _JB_SQL)
def q_jarque_bera_normality(spark, sf_dir):
    """Jarque-Bera normality statistic per event_type on the value
    metric: central moments from quantized raw-moment sums (one shared
    binomial-expansion expression on both engines), skewness
    m3/m2^1.5, excess kurtosis m4/m2²-3, JB = n/6(S² + K²/4) —
    asymptotically chi²(2) under normality, so JB ≫ 6 rejects at ~5%.

    Scale plan: ONE map-side combined group-by carrying four power
    sums per type — the entire test is moment arithmetic on the
    |types|-row relation."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")

    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        grid_sum(v, 9).alias("s1"),
        grid_sum(v * v, 9).alias("s2"),
        grid_sum(v * v * v, 9).alias("s3"),
        grid_sum(v * v * v * v, 9).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = F.col("s3") / F.col("n") - 3.0 * mu * (F.col("s2") / F.col("n")) + 2.0 * mu * mu * mu
    m4 = (
        F.col("s4") / F.col("n")
        - 4.0 * mu * (F.col("s3") / F.col("n"))
        + 6.0 * mu * mu * (F.col("s2") / F.col("n"))
        - 3.0 * mu * mu * mu * mu
    )
    skew = m3 / F.pow(m2, 1.5)
    kurt = m4 / (m2 * m2) - 3.0
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(
            F.col("n") / 6.0 * (F.pow(skew, 2.0) + F.pow(kurt, 2.0) / 4.0), 6
        ).alias("jarque_bera"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Cohen's kappa: chance-corrected agreement between two deterministic
# document raters — the inter-annotator QA statistic every labeling
# pipeline monitors before trusting its annotations.  Rater A accepts
# on raw length (n_chars ≥ 300), rater B on token count (≥ 60 \s+
# tokens); kappa stays INTEGER until one final division via
# cross-multiplication:  κ = (n·agree − Σ marginals) / (n² − Σ marginals).
# ---------------------------------------------------------------------------

_KAPPA_A_CHARS = 300
_KAPPA_B_TOKENS = 60

_KAPPA_SQL = f"""
WITH rated AS (
  SELECT CASE WHEN n_chars >= {_KAPPA_A_CHARS} THEN 1 ELSE 0 END AS ra,
         CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) >= {_KAPPA_B_TOKENS}
              THEN 1 ELSE 0 END AS rb
  FROM documents
),
cells AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS n11,
         SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS n00,
         SUM(ra) AS a1, SUM(rb) AS b1
  FROM rated
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(n11 + n00 AS BIGINT) AS n_agree,
       CAST(n11 AS BIGINT) AS n_both_accept,
       CAST(n - a1 - b1 + n11 AS BIGINT) AS n_both_reject_check,
       round(CAST(n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE)
             / CAST(n * n - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE), 6) AS kappa
FROM cells
"""


@register("cohens_kappa_raters", _KAPPA_SQL)
def q_cohens_kappa_raters(spark, sf_dir):
    """Cohen's kappa between the length rater and the token-count
    rater over the corpus.  Observed and expected agreement are held
    as exact int64 cell counts; the single division at the end is the
    only float op, so the statistic is bit-identical on both engines.

    Scale plan: one map-side-combined aggregate over a projection of
    (n_chars, token count) — no shuffle wider than the 1-row cell
    relation; at 100 TB this is a pure scan."""
    docs = load_table(spark, sf_dir, "documents")
    # ADVICE r6: mirror the oracle's CASE semantics exactly — SQL CASE
    # maps a NULL n_chars to the ELSE branch (0), while a bare boolean
    # cast would map it to NULL and silently drop the row from n00.
    ra = F.when(F.col("n_chars") >= _KAPPA_A_CHARS, F.lit(1)).otherwise(0).cast("long")
    rb = (
        F.when(
            F.size(F.split(F.trim(F.col("text")), r"\s+")) >= _KAPPA_B_TOKENS,
            F.lit(1),
        )
        .otherwise(0)
        .cast("long")
    )
    cells = docs.select(ra.alias("ra"), rb.alias("rb")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((F.col("ra") == 1) & (F.col("rb") == 1)).cast("long")).alias("n11"),
        F.sum(((F.col("ra") == 0) & (F.col("rb") == 0)).cast("long")).alias("n00"),
        F.sum("ra").alias("a1"),
        F.sum("rb").alias("b1"),
    )
    n, n11, n00 = F.col("n"), F.col("n11"), F.col("n00")
    a1, b1 = F.col("a1"), F.col("b1")
    chance = a1 * b1 + (n - a1) * (n - b1)
    return cells.select(
        n.cast("long").alias("n_docs"),
        (n11 + n00).cast("long").alias("n_agree"),
        n11.cast("long").alias("n_both_accept"),
        (n - a1 - b1 + n11).cast("long").alias("n_both_reject_check"),
        F.round(
            (n * (n11 + n00) - chance).cast("double")
            / (n * n - chance).cast("double"),
            6,
        ).alias("kappa"),
    )
