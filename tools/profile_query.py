#!/usr/bin/env python
"""Per-query optimization profiler (guide §1): runs named registry
queries through the noop sink N times in one warm session, prints
per-run wall seconds and Spark job counts (plan-structural, immune to
box noise), and optionally dumps `.explain("formatted")` to a file per
query.  Usage:

    python tools/profile_query.py [--sf DIR] [--reps N] \
        [--explain-dir plans/r11] [--suffix before] name [name ...]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from network_ids_using_pyspark_spark.queries import REGISTRY  # noqa: E402
from network_ids_using_pyspark_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    # retainedJobs: keep every job id of a query for the count
    spark = get_spark(app_name="nids-profile", cpus=cpus, shuffle_partitions=cpus,
                      extra_conf={"spark.ui.retainedJobs": "100000"})
    sc = spark.sparkContext

    # same table warmup as bench.py so run 1 isn't charged file-index costs
    from network_ids_using_pyspark_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, args.sf, t).count()

    for name in args.names:
        if name not in REGISTRY:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        fn, _ = REGISTRY[name]
        times, jobs = [], []
        for i in range(args.reps):
            group = f"profile:{name}#{i}"
            sc.setJobGroup(group, name)
            t0 = time.monotonic()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.monotonic() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setJobGroup(None, None)
        print(f"{name}: runs={times} jobs={jobs} min={min(times)}", flush=True)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            out = os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt")
            with open(out, "w") as f:
                f.write(buf.getvalue())
            print(f"  plan -> {out}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
