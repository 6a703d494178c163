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

Decimal → double read-back, the one rule for both engines: Spark reads a
decimal back with a plain ``.cast("double")`` (``BigDecimal.doubleValue``,
correctly rounded — it equals ``float(str(d))`` bit for bit on every
``decimal(p, s)`` width, long-backed p ≤ 18 included); DuckDB goes through
``dec_double_sql``, because its direct ``CAST(d AS DOUBLE)`` double-rounds
once the unscaled value exceeds 2^53, while the exact digit string read
by ``strtod`` is correctly rounded.

Grid rule: a derived double goes onto the 10^-k grid only through
``quantize[_sql](term, k)`` (round to k places, cast to ``DECIMAL(38, k)``),
and ``grid_sum[_sql](term, k)`` sums those exactly and reads the sum back.
Widening a narrower cast to 38 is safe only inside a read-back ``SUM``,
which keeps the scale in both engines: Spark types ``decimal(38, 9) +
decimal(38, 9)`` as ``decimal(38, 8)``, so a term that feeds decimal ``+``
/ ``*`` at a narrower width keeps its own cast.  The engines' ``round``
agree only away from decimal half-way points (Spark rounds ``-0.5035445``
to ``-0.503545``, DuckDB to ``-0.503544``): the twins are bit-identical
while no term lands on a tie, true of every oracled entry on the fixture.
A fix for ties is an edit to ``quantize_sql`` alone.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(30, 6)"
DEC_SQL = "DECIMAL(30, 6)"


def dec_double_sql(expr: str) -> str:
    """DuckDB twin of Spark's ``decimal.cast("double")``: decimal → digit
    string → double, correctly rounded."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def dec_sum(col: Column | str) -> Column:
    """Exact sum of a ≤6-decimal double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def dec_sum_sql(expr: str) -> str:
    return dec_double_sql(f"SUM(CAST({expr} AS {DEC_SQL}))")


def dec_avg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum, then one double divide.
    Both engines divide the same two numbers → identical bits."""
    c = F.col(col) if isinstance(col, str) else col
    return dec_sum(c) / F.count(c)


def dec_avg_sql(expr: str) -> str:
    return f"({dec_sum_sql(expr)} / COUNT({expr}))"


def quantize(term: Column, places: int) -> Column:
    """``term`` rounded onto the 10^-places grid, as ``decimal(38, places)``."""
    return F.round(term, places).cast(f"decimal(38, {places})")


def quantize_sql(expr: str, places: int) -> str:
    """Oracle twin of ``quantize``."""
    return f"CAST(round({expr}, {places}) AS DECIMAL(38, {places}))"


def grid_sum(term: Column, places: int) -> Column:
    """Exact sum of a derived double term: each row quantized to the
    10^-places grid, summed in DECIMAL, then read back as a double."""
    return F.sum(quantize(term, places)).cast("double")


def grid_sum_sql(expr: str, places: int) -> str:
    """Oracle twin of ``grid_sum``."""
    return dec_double_sql(f"SUM({quantize_sql(expr, places)})")
