"""MLlib pipeline parity (SURVEY.md §2.9).

Re-expresses the reference's feature/classify/evaluate chain
(``/root/reference/src/modelling.py:95-194``) as composable operators,
minus its scaling anti-patterns:

* confusion matrix is a distributed ``groupBy(label, prediction)`` pivot,
  never the reference's collect-both-columns-to-driver + sklearn
  (``modelling.py:181-194``);
* the train/validation split is hash/anti-join based (see
  ``operators/sampling.py``), never collect + NOT-IN;
* the imputer is fit once and reused; all sampling is seeded;
* the prepared frame is materialized once (``prepare_flow_features``),
  never re-derived from the source per action.

Every ``fit`` here is a Spark aggregation job (min/max for the scaler,
label frequencies for the indexer, approx-quantile sketch for the
imputer); every ``transform`` is a projection — so the whole pipeline
scales like the relational ops do.

``prepare_flow_features`` ends in ``localCheckpoint(eager=True)``: its
three fits scan the source once each, one more job writes the prepared
rows to the block manager (memory and disk), and every later action —
split, classifier fits, evaluation, confusion matrix, prediction sink —
reads those blocks.  The lazy frame it replaced made each of those
actions re-parse the source: a reference-width CSV training pass
(dt/rf/nb, ``perfbench`` ``ids_train_serve``) read its CSV 30.6× over.
Callers add no ``cache()``/``persist()`` of their own and need no
release: ``DataFrame.unpersist`` is a no-op on a local checkpoint, and
the ContextCleaner frees its blocks once the frame is garbage-collected.
"""

from __future__ import annotations

from pyspark.ml.classification import (
    DecisionTreeClassifier,
    MultilayerPerceptronClassifier,
    NaiveBayes,
    RandomForestClassifier,
)
from pyspark.ml.feature import Imputer, MinMaxScaler, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cleaning import replace_inf
from ..sources.tables import canonicalize_columns


def impute_median(df: DataFrame, cols: list[str]) -> DataFrame:
    """Engine op ``impute_median`` (SURVEY.md §2.9 M1): MLlib ``Imputer``
    with the median strategy — internally one ``approxQuantile`` sketch
    pass (mergeable, single-scan: the 100 TB path).  The exact variant
    for oracle parity is ``operators.cleaning.impute_median_exact``."""
    imputer = Imputer(strategy="median", inputCols=cols, outputCols=cols)
    return imputer.fit(df).transform(df)


def assemble_features(df: DataFrame, input_cols: list[str], out: str = "features") -> DataFrame:
    """Engine op ``assemble_features`` (M2): pack numeric columns into one
    ``VectorUDT`` column (kept out of oracle-checked outputs — §7.3)."""
    return VectorAssembler(inputCols=input_cols, outputCol=out).transform(df)


def scale_minmax(df: DataFrame, in_col: str = "features", out: str = "scaled_features") -> DataFrame:
    """Engine op ``scale_minmax`` (M3): fit = one per-dimension min/max
    aggregation; transform = projection."""
    return MinMaxScaler(inputCol=in_col, outputCol=out).fit(df).transform(df)


def encode_label(df: DataFrame, in_col: str = "label", out: str = "encoded_label") -> DataFrame:
    """Engine op ``encode_label`` (M4): frequency-descending string
    indexing, ties broken alphabetically — deterministic, unlike
    hash-order approaches."""
    idx = StringIndexer(inputCol=in_col, outputCol=out, stringOrderType="frequencyDesc")
    return idx.fit(df).transform(df)


_CLASSIFIERS = {
    "rf": lambda feat, lbl, seed: RandomForestClassifier(
        featuresCol=feat, labelCol=lbl, seed=seed
    ),
    "dt": lambda feat, lbl, seed: DecisionTreeClassifier(
        featuresCol=feat, labelCol=lbl, seed=seed
    ),
    "nb": lambda feat, lbl, seed: NaiveBayes(
        featuresCol=feat, labelCol=lbl, modelType="multinomial", smoothing=1.0
    ),
    "mlp": lambda feat, lbl, seed: MultilayerPerceptronClassifier(
        featuresCol=feat, labelCol=lbl, maxIter=100, blockSize=128, seed=seed
    ),
}


def train_classifier(
    train: DataFrame,
    kind: str,
    features_col: str = "features",
    label_col: str = "encoded_label",
    seed: int = 1234,
    layers: list[int] | None = None,
):
    """Engine ops ``train_rf/dt/nb/mlp`` (M5-M8).  NB requires the
    [0,1]-scaled features (multinomial needs non-negatives) and MLP needs
    ``layers`` — both exactly as the reference configures them
    (``modelling.py:130-150``)."""
    est = _CLASSIFIERS[kind](features_col, label_col, seed)
    if kind == "mlp":
        if layers is None:
            raise ValueError("mlp requires layers=[n_in, ..., n_classes]")
        est.setLayers(layers)
    return est.fit(train)


def evaluate_multiclass(
    predictions: DataFrame, label_col: str = "encoded_label", n_labels: int = 3
) -> dict[str, float]:
    """Engine op ``evaluate_multiclass`` (M9): f1 / precision / recall /
    accuracy plus PER-LABEL precision/recall rows exactly as the
    reference publishes them per class (``modelling.py:153-178``,
    ``ISAA_Review_3.ipynb:1152-1160``): ``precision_label_k`` /
    ``recall_label_k`` for k in 0..n_labels-1.

    ONE distributed job: the prediction relation is aggregated to its
    ≤ k² confusion cells (the G4 aggregate-to-literal pattern) and all
    4 + 2·n_labels metrics are derived in-process with
    ``MulticlassMetrics``' exact arithmetic.  The old loop made 10
    ``MulticlassClassificationEvaluator.evaluate`` calls, and each call
    carries ~0.5 s of fixed JVM job overhead regardless of data size —
    ~5 s per ml query that no data-side optimization could remove (the
    same collect-a-tiny-aggregate-then-iterate-in-process fix as r10's
    ``markov_attribution_removal``).  Bit-identical: the cell counts
    are integer-valued fp64 (exact below 2^53), every tp/fp/fn sum is
    an integer sum, and the metric formulas below mirror
    MulticlassMetrics line for line — pinned bit-for-bit against the
    evaluator by ``tests/test_ml.py::test_in_process_metrics_match_evaluator``.

    Two documented contract edges (ADVICE r11): (a) per-label
    precision/recall for a ``metricLabel`` with ZERO true occurrences
    returns 0.0 here, where MulticlassMetrics can yield NaN — pinned by
    ``tests/test_ml.py::test_in_process_metrics_zero_true_label``;
    (b) the weighted f1/precision/recall sums iterate ``data_labels``
    in SORTED order while MulticlassMetrics walks an unordered Scala
    Map, so bit-exactness of the *weighted* metrics is pinned for the
    ≤3-label production shape (the equivalence test's shape); beyond
    that, last-ulp summation-order differences are possible."""
    cells = (
        predictions.groupBy(F.col(label_col).alias("label"), F.col("prediction"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .collect()  # ≤ k² rows — the G4 aggregate-to-literal pattern
    )
    cnt: dict[tuple[float, float], float] = {}
    for r in cells:
        cnt[(float(r["label"]), float(r["prediction"]))] = float(r["w"])
    data_labels = sorted({lbl for lbl, _ in cnt})
    label_count = {
        lbl: sum(w for (ll, _), w in cnt.items() if ll == lbl) for lbl in data_labels
    }
    total = sum(label_count.values())

    def tp(lbl: float) -> float:
        return cnt.get((lbl, lbl), 0.0)

    def fp(lbl: float) -> float:
        return sum(w for (ll, pp), w in cnt.items() if pp == lbl and ll != lbl)

    def precision(lbl: float) -> float:
        d = tp(lbl) + fp(lbl)
        return 0.0 if d == 0 else tp(lbl) / d

    def recall(lbl: float) -> float:
        d = label_count.get(lbl, 0.0)
        return 0.0 if d == 0 else tp(lbl) / d

    def f1(lbl: float) -> float:
        p, r = precision(lbl), recall(lbl)
        # fMeasure(label, beta=1.0): (1+β²)·p·r / (β²·p + r)
        return 0.0 if p + r == 0 else 2.0 * p * r / (1.0 * p + r)

    out = {
        "accuracy": sum(tp(lbl) for lbl in data_labels) / total,
        "weightedPrecision": sum(
            precision(lbl) * label_count[lbl] / total for lbl in data_labels
        ),
        "weightedRecall": sum(
            recall(lbl) * label_count[lbl] / total for lbl in data_labels
        ),
        "f1": sum(f1(lbl) * label_count[lbl] / total for lbl in data_labels),
    }
    for k in range(n_labels):
        out[f"precision_label_{k}"] = precision(float(k))
        out[f"recall_label_{k}"] = recall(float(k))
    return out


def confusion_matrix(
    predictions: DataFrame, label_col: str = "encoded_label"
) -> DataFrame:
    """Engine op ``confusion_matrix`` (M10/G8) as a distributed k×k
    aggregate — ``groupBy(label, prediction).count()`` (tall form, which
    scales to any k and pivots client-side if a matrix is wanted).  The
    reference collected both full columns to the driver for sklearn
    (``modelling.py:183-186``) — O(N) driver memory; this is O(k²)."""
    return (
        predictions.groupBy(
            F.col(label_col).cast("int").alias("label"),
            F.col("prediction").cast("int").alias("prediction"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


# Numeric feature set of the synthetic flow fixture (canonical names).
FLOW_FEATURES = [
    "dst_port",
    "protocol",
    "flow_duration",
    "tot_fwd_pkts",
    "totlen_fwd_pkts",
    "fwd_pkt_len_mean",
    "flow_byts_per_s",
    "flow_pkts_per_s",
    "flow_iat_mean",
    "syn_flag_cnt",
    "ack_flag_cnt",
    "down_per_up_ratio",
    "init_fwd_win_byts",
]


def prepare_flow_features(
    flows: DataFrame, features: list[str] | None = None
) -> DataFrame:
    """End-to-end cleaning + featurization mirroring the reference
    pipeline order (ingest → inf-replace → impute → assemble → scale →
    encode; ``ISAA_Review_3.ipynb`` cells 26-34) on canonicalized names,
    with native expressions instead of the Python UDF.

    ``features`` defaults to the compact 13-column fixture set; pass the
    canonicalized ``CICFLOWMETER_FEATURES`` for the reference's real
    78-dimension shape (``modelling.py:95-96``).

    The result is materialized once, after the imputer, scaler and
    indexer fits, as a local checkpoint (memory and disk, the scan's
    partitioning kept, so seeded tree fits downstream are unchanged).
    Every later action reads the checkpoint instead of re-parsing the
    source — on the reference-width CSV pass the lazy frame was read
    30.6× over.  Do not ``cache()`` or ``unpersist()`` it: unpersist is
    a no-op on a local checkpoint, and the ContextCleaner frees the
    blocks once the frame is garbage-collected."""
    df = canonicalize_columns(flows)
    df = replace_inf(df, ["flow_pkts_per_s"], 4_000_000.0)
    df = df.withColumn(
        "flow_pkts_per_s",
        F.when(F.isnan("flow_pkts_per_s"), F.lit(0.0)).otherwise(F.col("flow_pkts_per_s")),
    )
    df = impute_median(df, ["flow_byts_per_s"])
    df = df.drop("timestamp")
    df = assemble_features(df, features or FLOW_FEATURES)
    df = scale_minmax(df)
    df = encode_label(df, "label", "encoded_label")
    return df.localCheckpoint(eager=True)
