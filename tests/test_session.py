"""Session-level behaviour.  Query results must not depend on the
caller's working directory: UDF-backed queries unpickle their
functions on Python workers, which can only import the package if
``get_spark`` put its root on the workers' PYTHONPATH or, for a session
the harness built itself, ``__spark_entry__`` shipped the package.
Repeated queries must reuse their generated classes.  Scratch data
lives in the application's own ``scratch_dir``, never in paths another
process on the host shares."""

from __future__ import annotations

import ast
import glob
import os
import re
import subprocess
import sys

from network_ids_using_pyspark_spark.queries import REGISTRY

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from network_ids_using_pyspark_spark.queries import REGISTRY
from network_ids_using_pyspark_spark.session import get_spark
spark = get_spark(app_name="cwd-test", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
print("rows", REGISTRY["media_image_features"][0](spark, {sf!r}).count())
spark.stop()
"""

# the harness's recipe: a vanilla session started before the engine is
# imported, then the registry through the driver contract
_HARNESS_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[2]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as E
q = E.queries()["media_image_features"]
q(spark, {sf!r}).count()
print("rows", q(spark, {sf!r}).count())
print("shipped", sum(f.endswith(".zip") for f in spark.sparkContext.listFiles))
spark.stop()
"""

# the cheapest scratch-writing entry of each query module that writes
# any; the one fixed /tmp path left (the warehouse conf) is not these
# entries' to write
_SCRATCH_SCRIPT = """
import glob, os, sys, time
sys.path.insert(0, {repo!r})
from network_ids_using_pyspark_spark.queries import REGISTRY
from network_ids_using_pyspark_spark.session import get_spark
start = time.time()
spark = get_spark(app_name="scratch-test", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
rows = 0
for name in ("jsonl_scan_profile", "partition_pruned_scan",
             "stream_state_store_read", "ml_train_lr_binary"):
    rows += len(REGISTRY[name][0](spark, {sf!r}).collect())
print("rows", rows)
print("scratch", len(os.listdir(root)))
spark.stop()
fixed = ("/tmp/nids_warehouse",)
print("fresh", sum(os.stat(p).st_mtime >= start
                   for p in glob.glob("/tmp/nids_*") if p not in fixed))
print("left", int(os.path.exists(root)))
"""

# the benchmark's stats_cohort entries
_COHORT = (
    "q6_forecast_revenue",
    "q3_shipping_priority",
    "cosine_topk",
    "poisson_glm_exact",
    "cox_ph_exact",
    "global_top_orders",
    "rollup_returnflag_status",
    "lang_histogram",
)


def _run_from_tmp_cwd(script: str, tmp_path) -> dict[str, int]:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script.format(repo=REPO, sf=SF_DIR)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.splitlines()
    keys = ("rows ", "shipped ", "scratch ", "fresh ", "left ")
    out = dict(ln.split() for ln in lines if ln.startswith(keys))
    assert "rows" in out, proc.stdout[-2000:]
    return {k: int(v) for k, v in out.items()}


def test_worker_imports_regardless_of_cwd(tmp_path):
    assert _run_from_tmp_cwd(_SCRIPT, tmp_path)["rows"] > 0


def test_harness_session_workers_import_the_package(tmp_path):
    """The package goes to the workers once per SparkContext, however
    many queries run."""
    out = _run_from_tmp_cwd(_HARNESS_SCRIPT, tmp_path)
    assert out["rows"] > 0
    assert out["shipped"] == 1


def test_scratch_data_lives_and_dies_with_the_application(tmp_path):
    """Entries write into their own application's scratch dirs, which
    ``spark.stop()`` removes, and touch no shared /tmp path."""
    out = _run_from_tmp_cwd(_SCRATCH_SCRIPT, tmp_path)
    assert out["rows"] > 0
    assert out["scratch"] >= 4
    assert out["fresh"] == 0
    assert out["left"] == 0


def _package_trees():
    pkg = os.path.join(REPO, "network_ids_using_pyspark_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as f:
            yield os.path.relpath(path, pkg), ast.parse(f.read(), path)


def _scoped_nodes(tree):
    """Every node with the name of its top-level function, class or
    assigned module constant."""
    for top in tree.body:
        if isinstance(top, (ast.FunctionDef, ast.ClassDef)):
            scope = top.name
        elif isinstance(top, ast.Assign) and isinstance(top.targets[0], ast.Name):
            scope = top.targets[0].id
        else:
            scope = None
        for node in ast.walk(top):
            yield scope, node


def test_package_builds_no_scratch_path_of_its_own():
    """Every scratch path comes from ``session.scratch_dir``: no /tmp
    literal and no other ``mkdtemp`` anywhere in the package, apart
    from the warehouse conf."""
    allowed = {
        ("session.py", "/tmp/nids_warehouse"),
        ("session.py", "mkdtemp"),
    }
    found = []
    for rel, tree in _package_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and str(node.value).startswith("/tmp"):
                found.append((rel, node.value))
            elif getattr(node, "attr", getattr(node, "id", None)) == "mkdtemp":
                found.append((rel, "mkdtemp"))
    assert [f for f in found if f not in allowed] == []


_INLINE_HASH = re.compile(r"substring\(md5\(.*1,\s*15\)", re.S)
_HASH_SPACE_SQL = re.compile(r"\bconv\(|/\s*(1152921504606846976|1\.152921504606847e\+18)")


def _is_hash_space(node, names) -> bool:
    """``HASH_SPACE`` (under any import alias in ``names``), ``16**15``,
    2^60 as a number, or any of these wrapped in ``float(...)`` /
    ``F.lit(...)``."""
    if isinstance(node, ast.Call) and len(node.args) == 1:
        return _is_hash_space(node.args[0], names)
    if isinstance(node, ast.Constant):
        return node.value == 16**15
    return ast.unparse(node).split(".")[-1] in names or ast.unparse(node) == "16 ** 15"


def test_package_has_one_portable_hash_kernel():
    """``functions/hashing.py`` is the only place that spells out the
    portable hash or divides by its 2^60 range: no inline
    ``substring(md5(…), 1, 15)`` string, no ``conv(`` (Spark call or SQL
    text) and no division by ``HASH_SPACE`` / ``16**15`` elsewhere.
    Two divisions stay, each a different formula: the Efraimidis-
    Spirakis sampler's ``(h + 0.5) / 2^60`` and the host-side
    hyperplane literals of the embedding near-dup LSH."""
    allowed = {
        ("queries/sampling.py", "_ES_KEY_SQL"),
        ("queries/sampling.py", "q_weighted_topk_sample_es"),
        ("operators/dedup.py", "hyperplanes"),
    }
    found = []
    for rel, tree in _package_trees():
        if rel == os.path.join("functions", "hashing.py"):
            continue
        names = {"HASH_SPACE"} | {
            a.asname for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
            for a in n.names if a.name == "HASH_SPACE" and a.asname
        }
        for scope, node in _scoped_nodes(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                hit = _INLINE_HASH.search(node.value) or _HASH_SPACE_SQL.search(node.value)
            elif isinstance(node, ast.JoinedStr):
                # SQL text that splices in the 2^60 range
                hit = _INLINE_HASH.search(ast.unparse(node)) or any(
                    isinstance(v, ast.FormattedValue) and _is_hash_space(v.value, names)
                    for v in node.values
                )
            elif isinstance(node, ast.Call):
                hit = getattr(node.func, "attr", getattr(node.func, "id", None)) == "conv"
            else:
                hit = (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Div)
                       and _is_hash_space(node.right, names))
            if hit and (rel, scope) not in allowed:
                found.append((rel, scope, node.lineno))
    assert found == []


_VARCHAR_HOP = re.compile(r"AS VARCHAR\)\s+AS DOUBLE", re.I)


def _is_cast_to(node, dtype) -> bool:
    return (isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "cast"
            and len(node.args) == 1 and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == dtype)


def test_package_has_one_decimal_readback_rule():
    """``functions/numeric.py`` owns the decimal → double read-back: Spark
    casts a decimal straight to double, so no ``.cast("string")`` is read
    back as ``"double"`` and no ``to_d`` closure wraps either engine's
    hop; the DuckDB ``CAST(CAST(… AS VARCHAR) AS DOUBLE)`` text is only
    spelled by ``dec_double_sql``."""
    found = []
    for rel, tree in _package_trees():
        for scope, node in _scoped_nodes(tree):
            if _is_cast_to(node, "double") and _is_cast_to(node.func.value, "string"):
                hit = "string hop"
            elif (isinstance(node, ast.Assign) and isinstance(node.value, ast.Lambda)
                  and any(getattr(t, "id", None) == "to_d" for t in node.targets)):
                hit = "to_d"
            elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                  and _VARCHAR_HOP.search(node.value)
                  and rel != os.path.join("functions", "numeric.py")):
                hit = "VARCHAR hop"
            else:
                continue
            found.append((rel, scope, node.lineno, hit))
    assert found == []


def test_repeated_queries_reuse_generated_classes(spark):
    """One pass of the 8 cohort entries compiles ~156 classes at
    sf0.001, more than Spark's default cache of 100, so without a larger
    cache the second pass compiled every one of them again.  With AQE
    on, cox_ph_exact's nested broadcast stages are re-planned into code
    that differs from run to run, so a repeat still compiles up to ~18
    variants of it; the bound leaves room for those."""
    jvm = spark.sparkContext._jvm
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount
    passes = []
    for _ in range(2):
        start = compiled()
        for name in _COHORT:
            REGISTRY[name][0](spark, SF_DIR).collect()
        passes.append(compiled() - start)
    first, second = passes
    assert second * 5 < first, passes
