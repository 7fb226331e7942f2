"""Tests for the pyspark.ml surface (SURVEY §2.10 D3-D7): ModelStore
persistence, the LR/RF/GBT tournament, the old-vs-new deploy gate, and
the input_data JSON feature round-trip."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.ml.regression import LinearRegression
from pyspark.sql import Row
from pyspark.sql import functions as F

from bda_spark.ml.persistence import LinearCoefficients, ModelStore
from bda_spark.ml.tournament import (
    assemble_features,
    deploy_gate,
    historical_features_from_predictions,
    train_tournament,
)

FEATURES = ["x1", "x2"]

# Small tree params so RF/GBT fit in test time; selection logic unchanged.
FAST_PARAMS = {
    "RandomForestRegressor": dict(numTrees=5, maxDepth=3, seed=42),
    "GBTRegressor": dict(maxIter=5, maxDepth=3, seed=42),
}


@pytest.fixture(scope="module")
def features_df(spark):
    # label = 2*x1 - 3*x2 + 1, exactly linear -> LR must win the tournament
    rows = [Row(x1=float(i % 17), x2=float((i * 7) % 13)) for i in range(200)]
    df = spark.createDataFrame(rows).withColumn(
        "label", 2.0 * F.col("x1") - 3.0 * F.col("x2") + 1.0
    )
    return assemble_features(df, FEATURES).cache()


def _fit_lr(df, max_iter=50):
    return LinearRegression(
        featuresCol="features", labelCol="label", maxIter=max_iter, regParam=0.01
    ).fit(df)


# ------------------------------------------------------------- ModelStore
def test_model_store_roundtrip_and_caching(spark, features_df, tmp_path):
    store = ModelStore(str(tmp_path / "models"))
    assert store.current() is None
    m1 = _fit_lr(features_df)
    p1 = store.save(m1, "LinearRegression")
    loaded = store.current()
    assert loaded is not None
    assert list(loaded.coefficients) == pytest.approx(list(m1.coefficients))
    # cached object identity until the pointer changes
    assert store.current() is loaded
    m2 = _fit_lr(features_df, max_iter=5)
    p2 = store.save(m2, "LinearRegression")
    assert p2 != p1
    assert store.current() is not loaded  # pointer changed -> reloaded


def test_coefficient_document_roundtrips_through_store(spark, features_df, tmp_path):
    """The coefficient document the streaming trainer publishes: written
    inside ``model_<v>``, read back equal to the bit, cached by pointer
    content, and refusing to score columns it was not fitted on."""
    store = ModelStore(str(tmp_path / "models"))
    doc = LinearCoefficients.of(_fit_lr(features_df), FEATURES)
    path = store.save(doc, "LinearCoefficients")
    assert os.path.basename(path).startswith("model_")
    assert os.listdir(path) == [LinearCoefficients.FILE]  # tmp renamed away
    loaded = store.current()
    assert loaded == doc and loaded is not doc
    assert store.current() is loaded  # cached until the pointer changes
    doc2 = LinearCoefficients(doc.features, doc.coefficients, doc.intercept + 1.0)
    store.save(doc2, "LinearCoefficients")
    assert store.current() == doc2
    with pytest.raises(ValueError, match="fitted on"):
        loaded.prediction(["x2", "x1"])
    with pytest.raises(ValueError, match="does not tag"):
        store.save(doc, "LinearRegression")
    with pytest.raises(ValueError, match="coefficients for"):
        LinearCoefficients.of(_fit_lr(features_df), ["x1"])


@pytest.mark.parametrize("sparse", [False, True], ids=["dense", "l1_sparse"])
def test_expression_scoring_matches_spark_ml_transform(spark, sparse):
    """Per row, ``LinearCoefficients.prediction`` after ``na.drop`` (the
    predictor's scoring) equals ``LinearRegressionModel.transform`` after
    VectorAssembler's ``skip`` rule within rel 1e-12, for a dense and an
    L1-sparse coefficient vector; rows with a null or NaN feature are
    dropped by both paths alike."""
    from pyspark.ml.feature import VectorAssembler

    feats = ["x1", "x2", "x3", "x4", "x5"]
    rows = [
        (i, float(i % 17) * 1.3, float((i * 7) % 13) - 6.0, float((i * 5) % 11) * 0.1,
         float((i * 3) % 7), float(i % 5) - 2.0)
        for i in range(120)
    ]
    rows += [
        (1000, None, 1.0, 2.0, 3.0, 4.0),
        (1001, 1.0, float("nan"), 2.0, 3.0, 4.0),
        (1002, 1.0, 2.0, 3.0, 4.0, None),
    ]
    df = spark.createDataFrame(
        rows, "id long, x1 double, x2 double, x3 double, x4 double, x5 double"
    ).withColumn("label", 2.0 * F.col("x1") - 3.0 * F.col("x2") + 0.01 * F.col("x3") + 1.0)
    assembled = VectorAssembler(
        inputCols=feats, outputCol="features", handleInvalid="skip"
    ).transform(df)
    model = LinearRegression(
        featuresCol="features", labelCol="label", maxIter=100,
        regParam=0.5 if sparse else 0.001, elasticNetParam=1.0 if sparse else 0.0,
    ).fit(assembled)
    weights = model.coefficients.toArray()
    if sparse:
        assert 0.0 in weights and any(w != 0.0 for w in weights)
    else:
        assert all(w != 0.0 for w in weights)

    want = {r.id: r.prediction for r in model.transform(assembled).collect()}
    doc = LinearCoefficients.of(model, feats)
    got = {
        r.id: r.prediction
        for r in df.na.drop(subset=feats)
        .withColumn("prediction", doc.prediction(feats))
        .collect()
    }
    assert set(got) == set(want) == set(range(120))
    for i, p in want.items():
        assert got[i] == pytest.approx(p, rel=1e-12, abs=0)


# ------------------------------------------------------------- tournament
def test_tournament_picks_linear_on_linear_data(features_df, tmp_path):
    result = train_tournament(features_df, model_params=FAST_PARAMS)
    assert set(result.metrics) == {
        "LinearRegression", "RandomForestRegressor", "GBTRegressor"
    }
    for scores in result.metrics.values():
        assert set(scores) == {"rmse", "mae", "r2"}
    # exactly linear data: LR generalizes, trees can't extrapolate
    assert result.best_type == "LinearRegression"
    assert result.metrics["LinearRegression"]["rmse"] == min(
        s["rmse"] for s in result.metrics.values()
    )
    assert result.metrics["LinearRegression"]["r2"] == pytest.approx(1.0, abs=1e-3)


# ------------------------------------------------------------ deploy gate
def test_deploy_gate_keeps_better_champion(spark, features_df, tmp_path):
    store = ModelStore(str(tmp_path / "models"))
    champion = _fit_lr(features_df)
    d0 = deploy_gate(store, champion, "LinearRegression", features_df)
    assert d0.deployed and d0.champion_rmse is None  # empty store: deploys

    # challenger trained on corrupted labels -> must be rejected
    corrupted = features_df.withColumn("label", F.col("label") * -1.0)
    bad = _fit_lr(corrupted)
    d1 = deploy_gate(store, bad, "LinearRegression", features_df)
    assert not d1.deployed
    assert d1.challenger_rmse > d1.champion_rmse
    kept = store.current()
    assert list(kept.coefficients) == pytest.approx(list(champion.coefficients))


def test_deploy_gate_promotes_better_challenger(spark, features_df, tmp_path):
    store = ModelStore(str(tmp_path / "models"))
    weak = _fit_lr(features_df.limit(5), max_iter=1)
    deploy_gate(store, weak, "LinearRegression", features_df)
    strong = _fit_lr(features_df)
    d = deploy_gate(store, strong, "LinearRegression", features_df)
    assert d.deployed
    assert d.challenger_rmse < d.champion_rmse


# ---------------------------------------------- input_data JSON round-trip
def test_historical_features_from_predictions(spark):
    """The predictor writes input_data = to_json(struct(features)); the
    historical trainer re-parses it (F3) and windows to 10-min avgs."""
    base = 1704067200000
    rows = [
        Row(
            symbol="BP",
            timestamp=base + i * 60_000,
            input_data=json.dumps({"x1": float(i), "x2": float(2 * i)}),
            label=10.0 + i,
        )
        for i in range(20)
    ]
    preds = spark.createDataFrame(rows).withColumn(
        "event_time", F.timestamp_millis("timestamp")
    )
    feats = historical_features_from_predictions(preds, FEATURES)
    got = {
        (r.avg_x1, r.avg_x2, r.label) for r in feats.collect()
    }
    # two 10-min windows: i in 0..9 and 10..19
    assert got == {(4.5, 9.0, 14.5), (14.5, 29.0, 24.5)}
    assert "features" in feats.columns


def test_deploy_gate_rejects_unmeasurable_challenger(spark, tmp_path):
    """NaN challenger RMSE (empty eval frame) must never displace a
    working champion — NaN loses every float comparison, so the naive
    champion <= challenger check would deploy the untested model."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    from bda_spark.ml.persistence import ModelStore
    from bda_spark.ml.tournament import deploy_gate

    train = spark.createDataFrame(
        [(float(i), float(2 * i)) for i in range(20)], "x double, label double"
    )
    assembled = VectorAssembler(inputCols=["x"], outputCol="features").transform(
        train
    )
    champ = LinearRegression(featuresCol="features", labelCol="label").fit(
        assembled
    )
    store = ModelStore(str(tmp_path / "models"))
    store.save(champ, "LinearRegression")
    challenger = LinearRegression(
        featuresCol="features", labelCol="label", maxIter=1
    ).fit(assembled)
    # an eval frame whose labels are all NaN yields rmse = NaN (an
    # EMPTY frame raises in the evaluator instead — equally gated
    # upstream); the gate must treat NaN as unmeasurable, not as a win
    nan_eval = assembled.withColumn("label", F.lit(float("nan")))
    decision = deploy_gate(store, challenger, "LinearRegression", nan_eval)
    assert decision.deployed is False
    import math

    assert math.isnan(decision.challenger_rmse)
