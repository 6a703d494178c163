"""The benchmark's metric catalogue: names, units, and the stats cohort.

``END_TO_END`` is what ``--trace 0`` prints for every workload and
``PER_LAYER`` what ``--trace 1`` prints; a per-layer metric a workload
does not exercise reads 0.
"""

from __future__ import annotations

COHORT = (
    "q6_forecast_revenue",
    "q3_shipping_priority",
    "cosine_topk",
    "poisson_glm_exact",
    "cox_ph_exact",
    # oracled sentinels that use neither the lane sums nor the IRLS loop
    "global_top_orders",
    "rollup_returnflag_status",
    "lang_histogram",
)

DURATIONS = ("triggerExecution", "addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MiB",
}

QUERY_METRICS = [
    (f"queries.{q}.{m}", u)
    for q in COHORT
    for m, u in (("build_s", "s"), ("execute_s", "s"), ("jobs", "count"))
]
_STREAM_METRICS = [
    (f"streaming.{phase}.{d}_ms.p50", "ms")
    for phase in ("backlog", "trickle")
    for d in DURATIONS
]
PER_LAYER = dict(
    [
        ("ml.prepare_flow_features.s", "s"),
        ("ml.prepare_flow_features.jobs", "count"),
        ("sources.csv_read_amplification", "ratio"),
        ("operators.sampling.split.s", "s"),
        ("ml.train_classifier.dt.s", "s"),
        ("ml.train_classifier.rf.s", "s"),
        ("ml.train_classifier.nb.s", "s"),
        ("ml.train_classifier.jobs", "count"),
        ("ml.evaluate_multiclass.s", "s"),
        ("ml.confusion_matrix.s", "s"),
        ("sources.sink_predictions.s", "s"),
        *_STREAM_METRICS,
        ("streaming.backlog.batches", "count"),
        ("streaming.trickle.batches", "count"),
        ("streaming.backlog.rows_per_batch", "rows"),
        ("streaming.trickle.latency_p50_ms", "ms"),
        ("streaming.trickle.latency_p90_ms", "ms"),
        *QUERY_METRICS,
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.executor_run_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.shuffle_write_mb", "MiB"),
        ("spark.spill_mb", "MiB"),
        ("spark.input_mb", "MiB"),
        ("setup.first_s", "s"),
        ("inputs.gen_s", "s"),
        ("mem.jvm_peak_mb", "MiB"),
        ("mem.python_peak_mb", "MiB"),
        ("tracing.in_window_s", "s"),
        ("tracing.finish_s", "s"),
        *((f"traced.{k}", u) for k, u in END_TO_END.items()),
    ]
)
