"""Benchmark entry point.

    python3 perfbench/run.py --workload ids_train_serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Generates the workload's inputs from
``--seed`` (timed on its own, outside set-up), sets the engine up five
times and keeps the median, measures whole operations for at least
``--seconds``, checks every output, and prints one JSON object as the
last line of standard output.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics from spans and
Spark's status store.  Everything the run writes goes under
``.perfbench/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

from metrics import END_TO_END, PER_LAYER, QUERY_METRICS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def _start_session(work: str):
    from network_ids_using_pyspark_spark.session import get_spark

    # a fixed heap (-Xms = -Xmx) keeps peak RSS independent of when G1 grows it
    heap = os.environ["SPARK_DRIVER_MEMORY"]

    return get_spark(
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms{heap}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit; it exits when its stdin
    closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _per_layer(spans: dict[str, float]) -> dict[str, float]:
    """Per-call figures from span totals, renamed to the published metrics."""

    def per_call(key: str, span: str) -> float:
        calls = spans.get(f"{span}.calls", 0.0)
        return spans.get(key, 0.0) / calls if calls else 0.0

    out = {}
    for span in ("ml.prepare_flow_features", "operators.sampling.split", "ml.evaluate_multiclass",
                 "ml.confusion_matrix", "sources.sink_predictions"):
        out[f"{span}.s"] = per_call(f"{span}.s", span)
    out["ml.prepare_flow_features.jobs"] = per_call("ml.prepare_flow_features.jobs", "ml.prepare_flow_features")
    out["ml.train_classifier.jobs"] = 0.0
    for kind in ("dt", "rf", "nb"):
        span = f"ml.train_classifier.{kind}"
        out[f"{span}.s"] = per_call(f"{span}.s", span)
        out["ml.train_classifier.jobs"] += per_call(f"{span}.jobs", span)
    for name, _ in QUERY_METRICS:
        q = name.rsplit(".", 1)[0]
        if name.endswith(".build_s"):
            out[name] = per_call(f"{q}.build.s", f"{q}.build")
        elif name.endswith(".execute_s"):
            out[name] = per_call(f"{q}.execute.s", f"{q}.execute")
        else:
            out[name] = per_call(f"{q}.build.jobs", f"{q}.build") + per_call(f"{q}.execute.jobs", f"{q}.execute")
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import spans as tracing
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)

    host = tracing.HostConditions()
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    spark = None
    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t

        # Set-up: session start + input registration, SETUP_REPS times
        # (later reps restart the SparkContext in the same JVM); the
        # first rep runs from process start, minus input generation.
        setups = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = _start_session(work)
            wl.register(spark)
            setups.append(time.perf_counter() - (T_START + gen_s if rep == 0 else t))
        tracer = tracing.Tracer(spark, bool(args.trace))
        wl.bind(spark, tracer)

        if args.trace:
            reader = tracing.StageReader(spark)
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            first_job = max(reader.all_job_ids(), default=-1) + 1
        tracer.in_window = True
        e2e = wl.measure(args.seconds)
        tracer.in_window = False
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        jvm_mb, py_mb = tracing.vm_hwm_mb(jvm_pid), tracing.vm_hwm_mb()
        e2e["peak_rss_mb"] = jvm_mb + py_mb
        e2e["setup_s"] = statistics.median(setups)

        layers = {}
        if args.trace:
            t = time.perf_counter()
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            last_job = max(reader.all_job_ids(), default=-1)
            window = reader.jobs_figures(list(range(first_job, last_job + 1)))
            spans = tracer.finish()
            layers = _per_layer(spans)
            layers.update(wl.layers(spans))
            layers.update({f"spark.{k}": v for k, v in window.items()})
            layers.update({
                "setup.first_s": setups[0],
                "inputs.gen_s": gen_s,
                "mem.jvm_peak_mb": jvm_mb,
                "mem.python_peak_mb": py_mb,
                "tracing.in_window_s": tracer.overhead_s,
                "tracing.finish_s": time.perf_counter() - t,
                **{f"traced.{k}": v for k, v in e2e.items()},
            })

        try:
            wl.check()
        except Exception as e:  # noqa: BLE001 — a check that cannot run is a failed check
            wl.fail(f"check: {e!r}"[:300])
        conditions = host.report(spark)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    names = PER_LAYER if args.trace else END_TO_END
    metrics = {
        k: {"value": float((layers if args.trace else e2e).get(k, 0.0)), "unit": u} for k, u in names.items()
    }
    print("host " + json.dumps(conditions, sort_keys=True))
    for err in wl.errors:
        print(f"failed: {err}")
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": max(wl.attempted, 1),
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
