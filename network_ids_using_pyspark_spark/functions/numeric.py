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
    """Exact sum of a ≤6-decimal double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def dec_sum_sql(expr: str) -> str:
    # decimal → VARCHAR → DOUBLE: DuckDB's direct decimal→double cast
    # double-rounds when the unscaled value exceeds 2^53; going through
    # the exact digit string makes it correctly rounded (strtod), which
    # is what Spark's BigDecimal.doubleValue does natively.
    return f"CAST(CAST(SUM(CAST({expr} AS {DEC_SQL})) AS VARCHAR) AS DOUBLE)"


def dec_avg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum, then one double divide.
    Both engines divide the same two numbers → identical bits."""
    c = F.col(col) if isinstance(col, str) else col
    return dec_sum(c) / F.count(c)


def dec_avg_sql(expr: str) -> str:
    return f"({dec_sum_sql(expr)} / COUNT({expr}))"


def q9_sum(term: Column) -> Column:
    """Exact sum of a derived double term: each row quantized to the
    1e-9 grid, summed in DECIMAL(38, 9), then read back as a double
    through the digit string (the same hop as the SQL twin)."""
    return F.sum(F.round(term, 9).cast("decimal(38, 9)")).cast("string").cast("double")


def q9_sum_sql(term: str) -> str:
    """Oracle twin of ``q9_sum``."""
    return (
        f"CAST(CAST(SUM(CAST(round({term}, 9) AS DECIMAL(38, 9))) AS VARCHAR)"
        " AS DOUBLE)"
    )
