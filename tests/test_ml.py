"""Golden-metric floors (SURVEY.md §5.2 #3) + pipeline invariants.

The synthetic flow classes are separable by construction, so tree
models must reach the BASELINE.md-anchored floors (reference: RF/DT
f1 ≥ 0.999 on CIC-IDS-2018; we assert ≥ 0.97 on the smaller fixture)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from network_ids_using_pyspark_spark.ml.pipeline import (
    confusion_matrix,
    evaluate_multiclass,
    prepare_flow_features,
    train_classifier,
)
from network_ids_using_pyspark_spark.operators.sampling import anti_join_split, hash_sample
from network_ids_using_pyspark_spark.sources.synthetic import synth_flows

N = 20_000


@pytest.fixture(scope="module")
def split(spark):
    prepared = prepare_flow_features(synth_flows(spark, N))
    test = hash_sample(prepared, "flow_id", 0.2, seed="ml-split")
    train = anti_join_split(prepared, test, "flow_id")
    return train, test


def test_tree_models_hit_floor(split):
    train, test = split
    for kind, floor in (("rf", 0.97), ("dt", 0.97)):
        model = train_classifier(train, kind)
        m = evaluate_multiclass(model.transform(test))
        assert m["f1"] >= floor, (kind, m)
        assert m["accuracy"] >= floor, (kind, m)


def test_per_label_metrics_floor(split):
    """M9 complete: per-label precision/recall rows (modelling.py:158-170,
    ISAA_Review_3.ipynb:1152-1160) must exist for every class and hit the
    separable-fixture floor."""
    train, test = split
    model = train_classifier(train, "rf")
    m = evaluate_multiclass(model.transform(test))
    for k in range(3):
        assert f"precision_label_{k}" in m and f"recall_label_{k}" in m, sorted(m)
        assert m[f"precision_label_{k}"] >= 0.9, (k, m)
        assert m[f"recall_label_{k}"] >= 0.9, (k, m)


def test_ref_width_feature_shape(spark):
    """M2/M8 at the reference's REAL width: the 80-col fixture assembles
    into 78-dimension vectors (modelling.py:95-96) and a tree model
    trains to the floor on them."""
    from pyspark.ml.functions import vector_to_array

    from network_ids_using_pyspark_spark.sources.cicflowmeter import (
        CICFLOWMETER_FEATURES,
    )
    from network_ids_using_pyspark_spark.sources.synthetic import synth_flows_ref_width
    from network_ids_using_pyspark_spark.sources.tables import canonical_name

    flows = synth_flows_ref_width(spark, 6_000)
    assert len(flows.columns) == 80
    feats = [canonical_name(c) for c in CICFLOWMETER_FEATURES]
    assert len(feats) == 78
    prepared = prepare_flow_features(flows, features=feats)
    dim = prepared.select(F.size(vector_to_array("features")).alias("d")).first()["d"]
    assert dim == 78
    test = prepared.sample(0.2, seed=7).cache()
    model = train_classifier(prepared, "dt")
    m = evaluate_multiclass(model.transform(test))
    assert m["f1"] >= 0.97, m


def test_prepared_frame_outlives_its_csv(spark, tmp_path):
    """prepare_flow_features materializes its output once: with the
    source CSV deleted, counting, an NB fit and evaluation still run
    (a lazy frame re-parses the CSV on every action and fails here)."""
    import shutil

    from network_ids_using_pyspark_spark.sources.tables import scan_flows

    src = str(tmp_path / "flows")
    synth_flows(spark, 2_000).coalesce(1).write.option("header", True).csv(src)
    prepared = prepare_flow_features(scan_flows(spark, src))
    shutil.rmtree(src)
    assert prepared.count() == 2_000
    model = train_classifier(prepared, "nb", features_col="scaled_features")
    m = evaluate_multiclass(model.transform(prepared))
    assert m["f1"] >= 0.5, m


def test_e2e_ref_width_query_floor(spark):
    """The registered ml_e2e_ref_width query (CSV → 78-dim → MLP) must
    hit the BASELINE-anchored floor, not just run (VERDICT r1 next #4)."""
    from network_ids_using_pyspark_spark.queries.ml import q_ml_e2e_ref_width

    from .conftest import SF_DIR

    m = {r["metric"]: r["value"] for r in q_ml_e2e_ref_width(spark, SF_DIR).collect()}
    assert m["f1"] >= 0.97, m
    assert all(m[f"recall_label_{k}"] >= 0.9 for k in range(3)), m


def test_nb_reasonable(split):
    train, test = split
    model = train_classifier(train, "nb", features_col="scaled_features")
    m = evaluate_multiclass(model.transform(test))
    assert m["f1"] >= 0.5, m  # reference NB: 0.89 — NB is the weak model there too


def test_confusion_matrix_totals(split):
    train, test = split
    model = train_classifier(train, "dt")
    preds = model.transform(test)
    cm = confusion_matrix(preds)
    assert cm.agg(F.sum("n")).collect()[0][0] == preds.count()
    assert cm.count() <= 9  # k=3 → at most 3×3 cells


def test_split_is_partition(split):
    train, test = split
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == N
    assert train.join(test, "flow_id", "inner").count() == 0
    # ~20% test fraction, hash-binomial tolerance
    assert 0.17 <= n_test / N <= 0.23


def test_pipeline_output_contract(split):
    train, _ = split
    cols = set(train.columns)
    assert {"features", "scaled_features", "encoded_label"} <= cols
    assert "timestamp" not in cols  # dropped like modelling.py:72-73
    # cleaning removed all non-finite values from the UDF-replacement target
    bad = train.filter(
        F.isnan("flow_pkts_per_s") | F.col("flow_pkts_per_s").isin(float("inf"), float("-inf"))
    ).count()
    assert bad == 0
    assert train.filter(F.col("flow_byts_per_s").isNull()).count() == 0


def test_model_save_load_roundtrip(spark, split, tmp_path):
    """Operational contract: a fitted model persists and reloads with
    bit-identical predictions — the deploy path from training cluster
    to serving job."""
    from pyspark.ml.classification import DecisionTreeClassificationModel

    train, test = split
    model = train_classifier(train, "dt")
    path = str(tmp_path / "dt_model")
    model.save(path)
    back = DecisionTreeClassificationModel.load(path)
    a = model.transform(test).select("flow_id", "prediction")
    b = back.transform(test).select("flow_id", "prediction")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_gbt_binary_floor(spark):
    # GBT on the benign-vs-attack collapse: the separable fixture must
    # push AUC and accuracy near-perfect.
    from network_ids_using_pyspark_spark.queries import REGISTRY

    from .conftest import SF_DIR

    m = {
        r["metric"]: r["value"]
        for r in REGISTRY["ml_train_gbt_binary"][0](spark, SF_DIR).collect()
    }
    assert m["auc_roc"] >= 0.97, m
    assert m["accuracy"] >= 0.97, m


def test_tuned_dt_picks_deeper_or_equal(spark):
    # TrainValidationSplit: exactly one winner, and the winner's f1 is
    # the max of the grid.
    from network_ids_using_pyspark_spark.queries import REGISTRY

    from .conftest import SF_DIR

    rows = REGISTRY["ml_tuned_dt_depth"][0](spark, SF_DIR).collect()
    assert len(rows) == 2
    winners = [r for r in rows if r["is_best"]]
    assert len(winners) == 1
    assert winners[0]["val_f1"] == max(r["val_f1"] for r in rows)


def test_lr_binary_floors(spark):
    from network_ids_using_pyspark_spark.queries.ml import q_ml_train_lr_binary

    from .conftest import SF_DIR

    m = {r["metric"]: r["value"] for r in q_ml_train_lr_binary(spark, SF_DIR).collect()}
    # separable-by-construction synthetic classes: the linear baseline
    # must be strong, if below the tree family
    assert m["auc_roc"] >= 0.95, m
    assert m["accuracy"] >= 0.90, m


def test_metric_floor_violation_raises(spark):
    """The self-assert contract (VERDICT r5 ask #4): a metric below its
    registered floor must RAISE (the driver's rows-only check then
    records an err), and a passing frame must carry the floor columns."""
    import pytest as _pytest

    from network_ids_using_pyspark_spark.queries.ml import _metrics_df

    with _pytest.raises(AssertionError, match="floor regression"):
        _metrics_df(spark, "rf", {"f1": 0.1})
    ok = _metrics_df(spark, "rf", {"f1": 0.99, "unfloored_extra": 123.0})
    rows = {r["metric"]: r for r in ok.collect()}
    assert rows["f1"]["floor"] == 0.97 and rows["f1"]["floor_met"] is True
    assert rows["unfloored_extra"]["floor"] is None
    assert rows["unfloored_extra"]["floor_met"] is None
    # max-direction floors guard the other tail
    with _pytest.raises(AssertionError, match="floor regression"):
        _metrics_df(spark, "als_implicit", {"rmse_vs_purchased": 1.0})


def test_in_process_metrics_match_evaluator(spark):
    """r11 optimization gate: evaluate_multiclass now aggregates
    predictions to the k×k confusion cells once (one distributed job)
    and derives all 10 metrics in-process with MulticlassMetrics'
    exact arithmetic — each MulticlassClassificationEvaluator.evaluate
    call costs ~0.5 s of fixed JVM overhead, so the old 10-call loop
    burned ~5 s per ml query.  Pin the equivalence: every metric must
    equal the raw-row evaluator output bit-for-bit (integer-valued
    fp64 cell counts are exact, and the formulas mirror
    MulticlassMetrics line for line)."""
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    from network_ids_using_pyspark_spark.ml.pipeline import evaluate_multiclass

    rows = [
        (float(lbl), float(pred))
        for lbl in range(3)
        for pred in range(3)
        for _ in range((lbl * 3 + pred + 1) * 7)  # uneven cell counts
    ]
    preds = spark.createDataFrame(rows, "encoded_label double, prediction double")
    got = evaluate_multiclass(preds)

    ev = MulticlassClassificationEvaluator(
        labelCol="encoded_label", predictionCol="prediction"
    )
    want = {}
    for metric in ("f1", "accuracy", "weightedPrecision", "weightedRecall"):
        want[metric] = ev.setMetricName(metric).evaluate(preds)
    for k in range(3):
        ev.setMetricLabel(float(k))
        want[f"precision_label_{k}"] = ev.setMetricName("precisionByLabel").evaluate(preds)
        want[f"recall_label_{k}"] = ev.setMetricName("recallByLabel").evaluate(preds)

    assert got == want, {m: (got[m], want[m]) for m in want if got[m] != want[m]}


def test_in_process_metrics_zero_true_label(spark):
    """ADVICE r11 contract edge: a metricLabel with ZERO true rows.
    evaluate_multiclass defines recall(k) = 0.0 when label k never
    occurs (and precision(k) = 0.0 when nothing was predicted k),
    where MulticlassMetrics would divide by a zero label count.  Pin
    the engine-side contract explicitly: no NaN, no throw, 0.0."""
    from network_ids_using_pyspark_spark.ml.pipeline import evaluate_multiclass

    # label 2 never occurs as a true label; prediction 2 does occur
    rows = [(0.0, 0.0)] * 5 + [(0.0, 2.0)] * 2 + [(1.0, 1.0)] * 4 + [(1.0, 0.0)]
    preds = spark.createDataFrame(rows, "encoded_label double, prediction double")
    got = evaluate_multiclass(preds, n_labels=3)

    assert got["recall_label_2"] == 0.0  # zero true rows -> 0.0 by contract
    assert got["precision_label_2"] == 0.0  # tp=0 over 2 predictions
    # the observed-label metrics stay exact
    assert got["accuracy"] == 9.0 / 12.0
    assert got["precision_label_0"] == 5.0 / 6.0
    assert got["recall_label_0"] == 5.0 / 7.0
    assert all(v == v for v in got.values())  # no NaN anywhere
