"""Bit-reproducible numeric aggregation helpers.

Floating-point ``SUM``/``AVG`` results depend on accumulation order, which
differs between Spark (partial/final hash agg over arbitrary partitions)
and any oracle engine.  For columns that are *fixed-point in nature*
(prices, quantities with ≤4 decimals — true of every double in the fixture
star schema), we sum exactly in DECIMAL and cast the final result to
double.  Both engines then produce the identical IEEE-754 value, so the
driver's value-hash comparison is stable.

This is also the right 100 TB answer: decimal sums are exact regardless of
row count or partitioning, so results don't drift when the cluster size or
AQE plan changes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(30, 6)"
DEC_SQL = "DECIMAL(30, 6)"


def dec_sum(col: Column | str) -> Column:
    """Exact sum of a ≤6-decimal double column, returned as double.

    r12: executed via the guarded lane machinery below — bit-equal to
    the original ``F.sum(c.cast(DEC)).cast("double")`` on any input
    (pinned by tests/test_lane_sum.py) at nearly plain-double speed."""
    c = F.col(col) if isinstance(col, str) else col
    return _lane_sum_core(c, 6, lambda t: t.cast(DEC)).cast("double")


def dec_sum_sql(expr: str) -> str:
    # decimal → VARCHAR → DOUBLE: DuckDB's direct decimal→double cast
    # double-rounds when the unscaled value exceeds 2^53; going through
    # the exact digit string makes it correctly rounded (strtod), which
    # is what Spark's BigDecimal.doubleValue does natively.
    return f"CAST(CAST(SUM(CAST({expr} AS {DEC_SQL})) AS VARCHAR) AS DOUBLE)"


def q9_sum_sql(term: str) -> str:
    """Oracle twin of ``q9_lane_sum``: the row term quantized to the
    1e-9 grid, summed exactly in DECIMAL(38, 9), then read back as a
    correctly rounded double (same VARCHAR hop as ``dec_sum_sql``)."""
    return (
        f"CAST(CAST(SUM(CAST(round({term}, 9) AS DECIMAL(38, 9))) AS VARCHAR)"
        " AS DOUBLE)"
    )


def dec_avg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum, then one double divide.
    Both engines divide the same two numbers → identical bits."""
    c = F.col(col) if isinstance(col, str) else col
    return dec_sum(c) / F.count(c)


# ---------------------------------------------------------------------------
# Guarded lane sum (r12 optimization, VERDICT r11 ask #1): the exact
# fixed-point SUM at (nearly) plain-double speed.
#
# The production pattern SUM(CAST(round(t, S) AS DECIMAL(38, S))) pays
# ~3 BigDecimal allocations per row per term (round: BigDecimal.valueOf
# + setScale + toDouble; cast: Double.toString + parse + setScale; sum:
# BigDecimal.add on a precision-38 buffer).  Measured on this box
# (tools/q9_microbench2.py, 9-term scan over 150k rows): 1.31 s decimal
# vs 0.52 s guarded lanes vs 0.49 s unsafe plain-double floor.
#
# Equivalence proof (documented in OPTIMIZATION_r12.md §1; every claim
# also pinned by tests/test_lane_sum.py's adversarial fuzz):
#   * The per-row decimal being summed today is D = HALF_UP(sr(t), S),
#     where sr is the shortest round-trip decimal representation (both
#     Spark's round() and its double→decimal cast go through
#     BigDecimal.valueOf / Double.toString, i.e. sr).
#   * FAST PATH (|t| < 10^(15-S) and the boundary guard below holds):
#     u = fl(t·10^S) differs from sr(t)·10^S by ≤ |u|·2^-52 (one
#     multiply rounding ≤ |u|·2^-53, plus |t − sr(t)| ≤ ulp(t)/2 which
#     scales to ≤ |u|·2^-53).  The guard requires the fractional part
#     of u to sit farther than |u|·2^-50 + 2^-50 (4× margin) from the
#     .5 rounding boundary, so floor(u + 0.5) provably equals
#     N = HALF_UP(sr(t)·10^S) — the exact integer numerator of D.
#     |N| < 10^15 < 2^53, so floor/cast are exact.  Rows AT a boundary
#     (where HALF_UP's away-from-zero tie rule could disagree with
#     floor(u+0.5)) fail the guard and take the slow path, so no
#     assumption about t's provenance is needed — equivalence holds
#     for EVERY double, including exact .5 ties, NaN, ±Inf (guard
#     comparisons are false → slow path → CAST yields NULL exactly as
#     today).
#   * SLOW PATH (everything else): the UNCHANGED round+cast decimal
#     expression.  Splitting one decimal SUM by a row predicate into
#     two exact decimal sums and adding them is exact (decimal addition
#     is associative/commutative with no rounding within precision).
#   * LANES / 100 TB overflow proof: N is split by trunc-consistent
#     div/mod into 3 signed lanes of base 2^19 (|l0|,|l1| < 2^19,
#     |l2| ≤ 10^15/2^38 < 3700).  With n ≤ 10^13 rows (100 TB at an
#     extreme 10 bytes/row; real fact rows are ≥100 B) the lane sums
#     are bounded by 10^13·2^19 ≈ 5.2e18 < 2^63−1 — no int64 lane can
#     overflow.  (The (nanos−l0)/2^19 double division is exact: the
#     numerator is exactly divisible and the quotient < 2^45.)
#   * Recombination runs on the ONE aggregated row in DECIMAL(38,·):
#     S_int = Σl2·2^38 + Σl1·2^19 + Σl0 (≤ ~1e28, exact integer
#     decimal arithmetic), value = S_int × 10^-S (exact decimal multiply
#     at scale S), plus the slow-path decimal sum.  The final
#     decimal→double conversion is whatever the call site already does.
#   * NULL semantics: result is NULL iff no row contributed — the fast
#     count + the slow SUM's non-null count — matching SUM-over-
#     all-NULL today.
#
# At 100 TB this is strictly less work per row and the same exact
# value on any partitioning; the DuckDB oracle side is UNCHANGED
# because the Spark-side value is bit-identical to the old expression.
# ---------------------------------------------------------------------------

_LANE_B = 524288  # 2^19
_LANE_EPS = 2.0 ** -50


def _lane_sum_core(term: Column, scale: int, slow_fn) -> Column:
    """Shared lane machinery.  ``slow_fn(term)`` must be the caller's
    ORIGINAL per-row decimal expression (the q9 family re-rounds before
    casting; dec_sum casts directly) — the slow branch reproduces it
    bit-for-bit for rows the guard cannot prove."""
    mult = float(10 ** scale)
    thresh = 10.0 ** (15 - scale)
    u = term * mult
    f = u - F.floor(u)
    fast = (F.abs(term) < thresh) & (
        F.abs(f - 0.5) > F.abs(u) * _LANE_EPS + _LANE_EPS
    )
    n = F.floor(u + 0.5).cast("long")
    l0 = n % _LANE_B
    q1 = ((n - l0) / _LANE_B).cast("long")
    l1 = q1 % _LANE_B
    l2 = ((q1 - l1) / _LANE_B).cast("long")
    slow = F.when(~fast, slow_fn(term))
    z = F.lit(0).cast("long")
    s0 = F.sum(F.when(fast, l0).otherwise(z))
    s1 = F.sum(F.when(fast, l1).otherwise(z))
    s2 = F.sum(F.when(fast, l2).otherwise(z))
    sslow = F.sum(slow)
    # one COUNT covers both branches: fast rows and slow rows whose
    # decimal cast is non-null (NULL/NaN/Inf rows count on neither
    # side, exactly like the raw SUM they'd be skipped by)
    cnt = F.count(F.when(fast | slow.isNotNull(), F.lit(1)))
    # Recombination with PROVABLY no decimal-precision overflow (Spark
    # silently REDUCES SCALE — i.e. rounds — when an arithmetic result
    # type exceeds precision 38, so every operand is sized to keep each
    # intermediate <= 38): each lane sum (long, < 9.3e18 -> DECIMAL(19,0))
    # is scaled by its exact base factor 2^38*10^-S / 2^19*10^-S /
    # 10^-S written as an exact decimal literal of scale S, giving
    # (19,0)x(12,S) -> <=(32,S) products and <=(34,S) partial sums; the
    # slow-path sum rides at DECIMAL(37,S) (documented domain:
    # |slow-row total| < 10^28 — 10x tighter than the 10^29 the raw
    # DECIMAL(38,S) sum allows, unreachable for any registry term), so
    # the final add types at exactly (38,S) with scale intact.

    def _dec_lit(text: str, prec: int) -> Column:
        return F.expr(f"CAST('{text}' AS DECIMAL({prec}, {scale}))")

    # 2^38 = 274877906944 -> e.g. '274.877906944' at scale 9
    b2_txt = f"{_LANE_B * _LANE_B // 10 ** scale}.{_LANE_B * _LANE_B % 10 ** scale:0{scale}d}"
    b1_txt = f"{_LANE_B // 10 ** scale}.{_LANE_B % 10 ** scale:0{scale}d}"
    u1_txt = f"0.{'0' * (scale - 1)}1"
    v_fast = (
        s2.cast("decimal(19, 0)") * _dec_lit(b2_txt, 12)
        + s1.cast("decimal(19, 0)") * _dec_lit(b1_txt, max(scale, 6))
        + s0.cast("decimal(19, 0)") * _dec_lit(u1_txt, scale)
    )
    zero_dec = F.expr(f"CAST(0 AS DECIMAL(19, {scale}))")
    total = F.coalesce(sslow, zero_dec).cast(f"decimal(37, {scale})") + F.coalesce(
        v_fast, zero_dec
    )
    return F.when(cnt > 0, total)


def lane_sum_dec(term: Column, scale: int = 9) -> Column:
    """Aggregate Column bit-equal to
    ``F.sum(F.round(term, scale).cast(f"decimal(38,{scale})"))`` (same
    DECIMAL value, same NULL semantics), computed with per-row long
    arithmetic on guard-proven rows.  Compose in any agg()/groupBy()
    context; apply the call site's usual final cast on top."""
    return _lane_sum_core(
        term, scale, lambda t: F.round(t, scale).cast(f"decimal(38, {scale})")
    )


def q9_lane_sum(term: Column) -> Column:
    """Drop-in for the q9 pattern
    ``F.sum(F.round(term, 9).cast("decimal(38,9)")).cast("string").cast("double")``
    — identical bits, guarded-lane execution."""
    return lane_sum_dec(term, 9).cast("string").cast("double")


def dec_lane_sum(col: Column | str) -> Column:
    """Alias of ``dec_sum`` (kept for the r12 gate tests): bit-equal
    to ``F.sum(c.cast("decimal(30,6)")).cast("double")`` on any input —
    the fast path's guard proves floor(u+0.5) equals the HALF_UP
    decimal conversion for the row (the proof never relied on the
    input being pre-rounded); rows near a rounding boundary, beyond
    |x| >= 10^9, or non-finite take the UNCHANGED
    ``cast(x AS DECIMAL(30,6))`` path.  The only domain note vs the
    raw sum: the slow-path row total must stay below 10^28 (vs 10^29)
    — unreachable for fixture-shaped magnitudes."""
    return dec_sum(col)


def dec_avg_sql(expr: str) -> str:
    return f"({dec_sum_sql(expr)} / COUNT({expr}))"
