"""The benchmark workloads.

Each workload writes its inputs with ``gen`` (``generate``, before any
timing) and has three phases that ``run.py`` drives:

* ``register`` — read the inputs through the engine (part of set-up,
  repeated with each session start);
* ``measure`` — the timed window: whole operations until ``seconds``
  have passed;
* ``check`` — correctness gates, outside the timed window.

Every call into the engine's public functions sits in a tracer span.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
from pyspark.ml import PipelineModel
from pyspark.ml.feature import Imputer, VectorAssembler
from pyspark.sql import functions as F
from pyspark.sql import types as T

from network_ids_using_pyspark_spark.ml.pipeline import (
    confusion_matrix,
    evaluate_multiclass,
    prepare_flow_features,
    train_classifier,
)
from network_ids_using_pyspark_spark.operators.cleaning import replace_inf
from network_ids_using_pyspark_spark.operators.sampling import anti_join_split, hash_sample
from network_ids_using_pyspark_spark.queries import REGISTRY
from network_ids_using_pyspark_spark.sources import (
    canonicalize_columns,
    load_table,
    scan_flows,
    scan_predictions,
    sink_predictions,
)
from network_ids_using_pyspark_spark.sources.cicflowmeter import (
    CICFLOWMETER_FEATURES,
    CICFLOWMETER_SCHEMA,
)
from network_ids_using_pyspark_spark.sources.tables import canonical_name
from network_ids_using_pyspark_spark.streaming.stream import score_to_sink

import gen
from metrics import COHORT, DURATIONS
from oracle import same_rows

# The generated shards carry a leading flow_id key before the 80 columns.
FLOW_SCHEMA = T.StructType([T.StructField("flow_id", T.LongType())] + CICFLOWMETER_SCHEMA.fields)
FEATURES = [canonical_name(c) for c in CICFLOWMETER_FEATURES]

# Metric floors from queries/ml.py (BASELINE-anchored).
FLOORS = {"dt": {"f1": 0.97, "accuracy": 0.97}, "rf": {"f1": 0.97, "accuracy": 0.97}, "nb": {"f1": 0.5}}


def median_ms(seconds: list[float]) -> float:
    return statistics.median(seconds) * 1000.0


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


class Workload:
    """Shared state: the work directory, the tracer, and the counts of
    attempted and failed operations."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.tracer = None

    def bind(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def gate(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def layers(self, spans: dict[str, float]) -> dict[str, float]:
        """Workload-specific per-layer metrics, given the span totals."""
        return {}


def _clean(flows):
    """The transform-only part of prepare_flow_features' cleaning."""
    df = replace_inf(canonicalize_columns(flows), ["flow_pkts_per_s"], 4_000_000.0)
    return df.withColumn(
        "flow_pkts_per_s",
        F.when(F.isnan("flow_pkts_per_s"), F.lit(0.0)).otherwise(F.col("flow_pkts_per_s")),
    )


class TrainServe(Workload):
    """The reference IDS system in one window.  Train: one pass of the
    reference job at reference width (CSV → 78 features → 80/20 split →
    dt, rf, nb → metrics + confusion → predictions sink).  Serve: the
    pass's DT scores flow files through foreachBatch → sink_predictions,
    first as a backlog drained with ``availableNow``, then as a
    closed-loop trickle of single files."""

    name = "ids_train_serve"
    ROWS = 16_000
    MODELS = ("dt", "rf", "nb")
    BACKLOG_FILES, BACKLOG_ROWS, BACKLOG_DRAINS = 8, 4_000, 2
    TRICKLE_FILES, TRICKLE_ROWS, TRICKLE_WARM, TRICKLE_MIN = 64, 500, 2, 6

    def generate(self) -> None:
        self.paths = gen.write_flow_shards(os.path.join(self.work, "in"), self.seed, "train", 1, self.ROWS)
        self.csv_bytes = sum(os.path.getsize(p) for p in self.paths)
        self.backlog_dir = os.path.join(self.work, "backlog")
        gen.write_flow_shards(self.backlog_dir, self.seed, "backlog", self.BACKLOG_FILES, self.BACKLOG_ROWS)
        self.trickle_src = os.path.join(self.work, "trickle-staged")
        self.trickle_files = gen.write_flow_shards(
            self.trickle_src, self.seed, "trickle", self.TRICKLE_FILES, self.TRICKLE_ROWS
        )

    def register(self, spark) -> None:
        n = scan_flows(spark, self.paths, schema=FLOW_SCHEMA).count()
        n += scan_flows(spark, self.backlog_dir, schema=FLOW_SCHEMA).count()
        if n != self.ROWS + self.BACKLOG_FILES * self.BACKLOG_ROWS:
            raise RuntimeError(f"scan_flows read {n} rows")

    def _train(self) -> None:
        t, spark = self.tracer, self.spark
        with t.span("sources.scan_flows"):
            flows = scan_flows(spark, self.paths, schema=FLOW_SCHEMA)
        with t.span("ml.prepare_flow_features"):
            prepared = prepare_flow_features(flows, FEATURES)
        with t.span("operators.sampling.split"):
            self.test = hash_sample(prepared, "flow_id", 0.2, seed=f"split{self.seed}")
            train = anti_join_split(prepared, self.test, "flow_id")
        self.metrics, self.models = {}, {}
        for kind in self.MODELS:
            with t.span(f"ml.train_classifier.{kind}"):
                self.models[kind] = train_classifier(
                    train, kind, features_col="scaled_features" if kind == "nb" else "features"
                )
            preds = self.models[kind].transform(self.test)
            with t.span("ml.evaluate_multiclass"):
                self.metrics[kind] = evaluate_multiclass(preds)
            with t.span("ml.confusion_matrix"):
                cells = confusion_matrix(preds).collect()
            self.metrics[kind]["confusion_total"] = float(sum(r["n"] for r in cells))
            with t.span("sources.sink_predictions"):
                sink_predictions(
                    preds.select(F.col("flow_id").alias("vals"), "prediction"),
                    os.path.join(self.work, "sink", kind),
                )

    def _serving_model(self) -> None:
        """The pass's DT behind the transform-only cleaning, with the
        median imputer that prepare_flow_features fits internally."""
        flows = scan_flows(self.spark, self.paths, schema=FLOW_SCHEMA, canonicalize=False)
        imputer = Imputer(
            strategy="median", inputCols=["flow_byts_per_s"], outputCols=["flow_byts_per_s"]
        ).fit(_clean(flows))
        self.model = PipelineModel(
            stages=[imputer, VectorAssembler(inputCols=FEATURES, outputCol="features"), self.models["dt"]]
        )

    def _events(self, path: str):
        raw = self.spark.readStream.schema(FLOW_SCHEMA).option("header", True).csv(path)
        return _clean(raw).withColumnRenamed("flow_id", "event_id")

    def _drain(self, label: str) -> None:
        sink, ckpt = os.path.join(self.work, f"{label}-sink"), os.path.join(self.work, f"{label}-ckpt")
        with self.tracer.span("streaming.score_to_sink"):
            q = score_to_sink(self._events(self.backlog_dir), self.model, sink, ckpt)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.progress["backlog"] += q.recentProgress
        self.sinks.append((sink, self.BACKLOG_FILES * self.BACKLOG_ROWS))

    def _trickle(self, deadline: float) -> None:
        sink = os.path.join(self.work, "trickle-sink")
        model = self.model

        def write(batch_df, batch_id):
            preds = model.transform(batch_df)
            sink_predictions(
                preds.select(F.col("event_id").alias("vals"), F.col("prediction").cast("int")),
                sink,
                mode="append",
            )

        src = os.path.join(self.work, "trickle")
        os.makedirs(src)
        with self.tracer.span("streaming.trickle"):
            q = (
                self._events(src)
                .writeStream.foreachBatch(write)
                .option("checkpointLocation", os.path.join(self.work, "trickle-ckpt"))
                .start()
            )
            landed = 0
            try:
                for path in self.trickle_files:
                    if len(self.latencies) >= self.TRICKLE_MIN and time.perf_counter() >= deadline:
                        break
                    os.rename(path, os.path.join(src, os.path.basename(path)))
                    t0 = time.perf_counter()
                    q.processAllAvailable()
                    landed += 1
                    # the first files warm the trigger path and are not timed
                    if landed > self.TRICKLE_WARM:
                        self.latencies.append(time.perf_counter() - t0)
            finally:
                self.progress["trickle"] = q.recentProgress
                q.stop()
                self.sinks.append((sink, landed * self.TRICKLE_ROWS))

    def measure(self, seconds: float) -> dict[str, float]:
        self.progress = {"backlog": [], "trickle": []}
        self.sinks: list[tuple[str, int]] = []
        self.latencies: list[float] = []
        self.metrics = {}
        start = time.perf_counter()
        steps = [("train", self._train), ("serving_model", self._serving_model)]
        steps += [(f"backlog-{i}", lambda i=i: self._drain(f"backlog-{i}")) for i in range(self.BACKLOG_DRAINS)]
        steps += [("trickle", lambda: self._trickle(start + seconds))]
        self.pass_s = 0.0
        for label, step in steps:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span(label.split("-")[0]):
                    step()
            except Exception as e:  # noqa: BLE001 — a failed step is counted, not fatal
                self.fail(f"{label}: {e!r}"[:300])
                break
            if label == "train":
                self.pass_s = time.perf_counter() - t0
        wall = time.perf_counter() - start
        flows = sum(n for _, n in self.sinks) + (self.ROWS if self.pass_s else 0)
        return {"throughput_per_s": flows / wall, "latency_p50_ms": self.pass_s * 1000.0}

    def check(self) -> None:
        for kind, m in self.metrics.items():
            for metric, floor in FLOORS[kind].items():
                self.gate(m[metric] >= floor, f"{kind} {metric}={m[metric]:.4f} < {floor}")
        if self.metrics:
            n_test = self.test.count()
            for kind in self.MODELS:
                n_sink = scan_predictions(self.spark, os.path.join(self.work, "sink", kind)).count()
                self.gate(n_sink == n_test, f"{kind} sink rows {n_sink} != test split {n_test}")
                cm_total = self.metrics[kind]["confusion_total"]
                self.gate(cm_total == n_test, f"{kind} confusion total {cm_total} != test split {n_test}")
        for path, sent in self.sinks:
            got = scan_predictions(self.spark, path).agg(
                F.count(F.lit(1)).alias("n"), F.countDistinct("vals").alias("d")
            ).first()
            self.gate(got["n"] == sent, f"{path}: {got['n']} rows for {sent} flows sent")
            self.gate(got["d"] == sent, f"{path}: {got['d']} distinct vals for {sent} flows sent")

    def layers(self, spans: dict[str, float]) -> dict[str, float]:
        out = {}
        if spans.get("train.calls"):
            out["sources.csv_read_amplification"] = spans["train.input_mb"] * 2**20 / self.csv_bytes
        for phase, progress in self.progress.items():
            batches = [p for p in progress if p.numInputRows > 0]
            if phase == "trickle":
                batches = batches[self.TRICKLE_WARM:]
            out[f"streaming.{phase}.batches"] = float(len(batches))
            for d in DURATIONS:
                vals = [float(p.durationMs.get(d, 0)) for p in batches]
                out[f"streaming.{phase}.{d}_ms.p50"] = statistics.median(vals) if vals else 0.0
        backlog = [p.numInputRows for p in self.progress["backlog"] if p.numInputRows > 0]
        out["streaming.backlog.rows_per_batch"] = statistics.median(backlog) if backlog else 0.0
        if self.latencies:
            out["streaming.trickle.latency_p50_ms"] = median_ms(self.latencies)
            out["streaming.trickle.latency_p90_ms"] = percentile(self.latencies, 0.9) * 1000.0
        return out


class StatsCohort(Workload):
    """The stats cohort through the query registry, each result
    collected and checked against DuckDB running the query's oracle SQL."""

    name = "stats_cohort"
    N_ORDERS = 6_000
    MIN_CYCLES = 2

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.work, "tables")
        self.rows = gen.write_stats_tables(self.sf_dir, self.seed, self.N_ORDERS)

    def register(self, spark) -> None:
        for table, n in self.rows.items():
            got = load_table(spark, self.sf_dir, table).count()
            if got != n:
                raise RuntimeError(f"load_table({table}) read {got} rows, wrote {n}")

    def measure(self, seconds: float) -> dict[str, float]:
        self.results: list[tuple[str, list[str], list[tuple]]] = []
        cycles: list[float] = []
        start = time.perf_counter()
        while len(cycles) < self.MIN_CYCLES or time.perf_counter() - start < seconds:
            t0 = time.perf_counter()
            for name in COHORT:
                self.attempted += 1
                try:
                    with self.tracer.span(f"queries.{name}.build"):
                        df = REGISTRY[name][0](self.spark, self.sf_dir)
                    with self.tracer.span(f"queries.{name}.execute"):
                        rows = [tuple(r) for r in df.collect()]
                except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
                    self.fail(f"{name}: {e!r}"[:300])
                    continue
                self.results.append((name, df.columns, rows))
            cycles.append(time.perf_counter() - t0)
        return {
            "throughput_per_s": len(self.results) / sum(cycles),
            "latency_p50_ms": median_ms(cycles),
        }

    def check(self) -> None:
        oracle: dict[str, tuple[list[str], list[tuple]]] = {}
        with duckdb.connect() as con:
            for table in self.rows:
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{self.sf_dir}/{table}.parquet')"
                )
            for name, cols, rows in self.results:
                if name not in oracle:
                    cur = con.execute(REGISTRY[name][1])
                    oracle[name] = ([d[0] for d in cur.description], cur.fetchall())
                problem = same_rows(cols, rows, *oracle[name])
                self.gate(problem is None, f"{name}: {problem}")

WORKLOADS = {w.name: w for w in (TrainServe, StatsCohort)}
