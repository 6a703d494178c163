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


def q9_sum(term: Column) -> Column:
    """Exact sum of a derived double term: each row quantized to the
    1e-9 grid, summed in DECIMAL(38, 9), then read back as a double."""
    return F.sum(F.round(term, 9).cast("decimal(38, 9)")).cast("double")


def q9_sum_sql(term: str) -> str:
    """Oracle twin of ``q9_sum``."""
    return dec_double_sql(f"SUM(CAST(round({term}, 9) AS DECIMAL(38, 9)))")
