"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow for any pandas interchange, UTC session timezone so timestamp
semantics match the DuckDB oracle, and shuffle partitions sized to the
actual parallelism instead of the 200 default.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "network_ids_using_pyspark_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores.  On a real
    cluster the ``master`` line disappears and the same configs apply.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # Python workers import query code (UDFs) from this package; they
    # inherit PYTHONPATH from the JVM, which copies this process's
    # environment when it starts, so the root must be on it whatever
    # the caller's cwd.
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if _REPO_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([_REPO_ROOT, *filter(None, paths)])

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # a static conf, read before the SparkContext (and so any
        # scratch_dir) exists, so it cannot live under scratch_dir
        .config("spark.sql.warehouse.dir", "/tmp/nids_warehouse")
        # Spark keeps 100 generated classes by default, fewer than one
        # pass of the stats cohort compiles (156 at sf0.001), so every
        # repeat of a query compiled all of its classes again
        .config("spark.sql.codegen.cache.maxEntries", "512")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scratch_dir(spark: SparkSession, name: str) -> str:
    """A fresh, empty directory for one call's intermediate files.

    It sits in the application's own driver temp dir (the SparkFiles
    root, ``<SPARK_LOCAL_DIRS>/spark-<uuid>/userFiles-<uuid>`` in local
    mode, the only mode ``get_spark`` builds), so no other process on
    the host shares it, and Spark deletes it at ``spark.stop()``.  Each
    call returns a new directory, so a lazy frame an earlier call
    returned keeps its input.  ``name`` is a readable prefix; keep it
    free of ``=``, which partition-path regexes read.
    """
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    return tempfile.mkdtemp(prefix=f"{name}-", dir=root)
