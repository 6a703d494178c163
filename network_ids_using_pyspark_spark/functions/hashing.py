"""Cross-engine deterministic hashing.

Spark's ``hash()``/``xxhash64()`` are engine-specific, so any operator
whose *correctness contract* depends on hash values (deterministic
sampling, hash-based splits, MinHash signatures) could not be oracle-
checked against DuckDB.  Instead we define one portable primitive both
engines compute identically:

    h(x) = int(md5(cast(x as string))[:15], 16)      ∈ [0, 16^15)

md5 is bit-identical everywhere; 15 hex digits = 60 bits fits a signed
int64.  This replaces the reference's *unseeded* randomness
(``randomSplit`` at ``ISAA_Review_3.ipynb:900``) with reproducible,
engine-independent pseudo-randomness.  Seeding = salting the string.

Scale note: md5 per row is pennies next to a shuffle, stays fully inside
whole-stage codegen (built-in expressions only), and needs no driver
round-trip — unlike the reference's collect-then-isin split
(``modelling.py:91-93``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_SPACE = 16**15  # 2^60


def portable_hash64(col: Column | str, seed: str = "") -> Column:
    """Spark side: 60-bit integer hash of the column's string form.

    Only feed integer/string columns — float → string formatting is not
    portable across engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.concat(F.lit(seed), c.cast("string")) if seed else c.cast("string")
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str, seed: str = "") -> str:
    """DuckDB side of :func:`portable_hash64` (same bits)."""
    inner = f"concat('{seed}', CAST({expr} AS VARCHAR))" if seed else f"CAST({expr} AS VARCHAR)"
    return f"CAST(concat('0x', substring(md5({inner}), 1, 15)) AS BIGINT)"


def portable_uniform(col: Column | str, seed: str = "") -> Column:
    """Spark side: uniform draw h / 2^60 in [0, 1] (a 60-bit h can round
    up to 2^60 in the double).  Dividing by a power of two is exact, so
    the draw has the same bits on both engines."""
    return portable_hash64(col, seed) / F.lit(float(HASH_SPACE))


def portable_uniform_sql(expr: str, seed: str = "") -> str:
    """DuckDB side of :func:`portable_uniform` (same bits)."""
    return f"({portable_hash64_sql(expr, seed)} / {float(HASH_SPACE)})"


def hash_bucket(col: Column | str, n_buckets: int, seed: str = "") -> Column:
    """Uniform bucket id in [0, n_buckets) — basis of hash sampling and
    deterministic stratified splits."""
    return F.pmod(portable_hash64(col, seed), F.lit(n_buckets)).cast("long")


def hash_bucket_sql(expr: str, n_buckets: int, seed: str = "") -> str:
    return f"({portable_hash64_sql(expr, seed)} % {n_buckets})"
