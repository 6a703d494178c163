"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``network_ids_using_pyspark_spark.queries``
(one registry entry per implemented operator from SURVEY.md §2);
this module is a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# make the package importable in this Python process whatever the
# harness's cwd; Python workers only see it if the JVM was started with
# the root on PYTHONPATH, which session.get_spark arranges
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from network_ids_using_pyspark_spark import queries as _registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the five-stage LLM-corpus preparation pipeline
    (quality gate → exact dedup → MinHash-LSH fuzzy dedup → chunking →
    mixture profile) over sf0.001 — the composition a user runs over
    100 TB, certified end to end by one oracle
    (``queries/pipeline_e2e.py``)."""
    from network_ids_using_pyspark_spark.queries.pipeline_e2e import (
        q_corpus_e2e_pipeline,
    )

    return q_corpus_e2e_pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted ⇒ rows-only check)."""
    return _registry.oracle_sql()
