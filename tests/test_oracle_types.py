"""Registry-wide oracle result-type gate (VERDICT r8 ask #2).

The driver hashes Spark and DuckDB results independently; a DuckDB
result column typed HUGEINT (int128 — e.g. an uncast integer ``SUM``)
or DECIMAL canonicalizes differently from Spark's LONG/DOUBLE and
produces a phantom ``hash_match: false`` even when the values are
identical (this is exactly what happened to ``funnel_click_to_purchase``
in round 8: the registry's only uncast integer SUM).

This test binds every registered oracle against the sf0.001 DuckDB
views — planner-only, no execution, ~2 s for the whole registry — and
asserts every result column (including list element types) is one of
the driver-safe types.  Any new oracle that forgets a
``CAST(SUM(...) AS BIGINT)`` or emits a DECIMAL literal fails here in
milliseconds instead of as a driver red a round later.
"""

from __future__ import annotations

import os
import re

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")

# Types whose Python/Arrow canonicalization agrees between DuckDB and
# Spark under the driver's hasher.  HUGEINT/UHUGEINT (int128) and
# DECIMAL are the known-divergent classes and are deliberately absent.
_SAFE = {"VARCHAR", "BIGINT", "INTEGER", "SMALLINT", "TINYINT",
         "DOUBLE", "FLOAT", "TIMESTAMP", "DATE", "BOOLEAN"}


def _base_types(type_str: str):
    """Flatten a DuckDB type string into its scalar base names.

    ``VARCHAR[]`` -> [VARCHAR]; ``STRUCT(a BIGINT, b DOUBLE)`` ->
    [STRUCT, BIGINT, DOUBLE] (STRUCT itself then rejected — no oracle
    should emit one).
    """
    return re.findall(r"[A-Z_]+", type_str)


@pytest.mark.parametrize("scope", ["registry"])
def test_every_oracle_result_type_is_driver_safe(scope):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} missing")
    import __spark_entry__ as entry
    from network_ids_using_pyspark_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    oracles = entry.oracle_sql()
    assert len(oracles) >= 400, "registry unexpectedly small — wrong entrypoint?"

    offenders = []
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)  # binds + plans; does not execute
        except Exception as ex:  # pragma: no cover - bind failure IS a failure
            offenders.append((name, "<bind-error>", str(ex)[:200]))
            continue
        for col, typ in zip(rel.columns, rel.types):
            ts = str(typ)
            bases = _base_types(ts)
            # Every scalar base must be in the allowlist, AND the type
            # must be scalar at the top level: the driver canonicalizes
            # oracled results through pandas sort_values, which cannot
            # hash list/struct/map cells (r10's user_event_sequences
            # red — a VARCHAR[] column whose [] marker this gate used
            # to strip).  Reject any composite marker outright.
            if any(b not in _SAFE for b in bases) or "[]" in ts:
                offenders.append((name, col, ts))

    assert not offenders, (
        "oracle columns with driver-unsafe DuckDB types "
        "(add CAST(... AS BIGINT/DOUBLE)):\n"
        + "\n".join(f"  {n}.{c}: {t}" for n, c, t in offenders)
    )
