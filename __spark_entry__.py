"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``network_ids_using_pyspark_spark.queries``
(one registry entry per implemented operator from SURVEY.md §2);
this module is a thin adapter that also ships the package to the
caller's session, so its Python workers can import it.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# make the package importable in this Python process whatever the
# harness's cwd; the Python workers get it from `_ship_package`
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from network_ids_using_pyspark_spark import queries as _registry  # noqa: E402

_PKG = "network_ids_using_pyspark_spark"


@functools.cache
def _package_zip() -> str:
    """Zip of the package in a temp dir owned by this process (built
    once, removed at exit)."""
    tmp = tempfile.mkdtemp(prefix="nids_pkg_")
    atexit.register(shutil.rmtree, tmp, True)
    return shutil.make_archive(os.path.join(tmp, _PKG), "zip", _REPO_ROOT, _PKG)


def _ship_package(spark: SparkSession) -> SparkSession:
    """UDF-backed queries unpickle their functions on the Python
    workers, which import this package.  A session the harness built
    itself started its JVM without the repo root on PYTHONPATH, so send
    the package with it, once per SparkContext."""
    sc, zipped = spark.sparkContext, _package_zip()
    if not any(f.endswith("/" + os.path.basename(zipped)) for f in sc.listFiles):
        sc.addPyFile(zipped)
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the five-stage LLM-corpus preparation pipeline
    (quality gate → exact dedup → MinHash-LSH fuzzy dedup → chunking →
    mixture profile) over sf0.001 — the composition a user runs over
    100 TB, certified end to end by one oracle
    (``queries/pipeline_e2e.py``)."""
    from network_ids_using_pyspark_spark.queries.pipeline_e2e import (
        q_corpus_e2e_pipeline,
    )

    _ship_package(spark)
    return q_corpus_e2e_pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def shipped(fn):
        return functools.wraps(fn)(lambda spark, sf_dir: fn(_ship_package(spark), sf_dir))

    return {name: shipped(fn) for name, fn in _registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted ⇒ rows-only check)."""
    return _registry.oracle_sql()
