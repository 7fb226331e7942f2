"""Golden replay tests for the streaming surface (SURVEY §3.1, §3.3):
a kafka_messages.csv-shaped JSON-lines fixture is replayed through the
file source with Trigger.AvailableNow, and the decode path, the
two-query app (fused trainer+backfiller, predictor), and the
stream-stream correlation join are asserted against hand-computed
expectations and batch recomputations."""

from __future__ import annotations

import json
import os
import re
import time

import pytest

from bda_spark.functions.cleaning import validate_ticks
from bda_spark.streaming import (
    SYMBOL_FEATURES,
    CorrelationPipeline,
    TickPipeline,
    decode_ticks,
    file_replay_tick_stream,
    normalize_ticks,
    windowed_features,
)
from bda_spark.streaming.sources import console_sink

BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z
N_TICKS = 30  # one per minute -> three 10-minute windows


def _bp_tick(i: int) -> dict:
    return {
        "symbol": "BP",
        "timestamp": BASE_MS + i * 60_000,
        "source": "YLIFE_FEED",
        "data_type": "MARKET_DATA",
        "bid": -1.0,
        "ask": -1.0,
        "price": 100.0 + i,
        "volume": 10.0 + i,
        "spread_raw": -1.0,
        "spread_table": -1.0,
        "volatility": 1.0,
        "market_sentiment": 0.5,
        "trading_activity": 50.0,
    }


def _eth_tick(i: int) -> dict:
    return {
        "symbol": "ETHEREUM",
        "timestamp": BASE_MS + i * 60_000,
        "source": "XTB_FEED",
        "data_type": "MARKET_DATA",
        "bid": (100.0 + i) * 0.5 + 6.0,
        "ask": (100.0 + i) * 0.5 + 7.0,  # linear in BP price -> corr 1.0
        "price": 2000.0 + i,
        "volume": -1.0,
        "spread_raw": 0.1,
        "spread_table": 0.2,
        "volatility": -1.0,
        "market_sentiment": -1.0,
        "trading_activity": -1.0,
    }


@pytest.fixture(scope="module")
def tick_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("ticks")
    with open(d / "bp.jsonl", "w") as f:
        for i in range(N_TICKS):
            f.write(json.dumps(_bp_tick(i)) + "\n")
    with open(d / "eth.jsonl", "w") as f:
        for i in range(N_TICKS):
            f.write(json.dumps(_eth_tick(i)) + "\n")
    with open(d / "junk.jsonl", "w") as f:
        f.write("this is not json\n")  # malformed Kafka record
        bad = dict(_bp_tick(0), symbol="XOM", source="EVIL_FEED")  # fails enum gate
        f.write(json.dumps(bad) + "\n")
    return str(d)


@pytest.fixture(scope="module")
def work_dir(tmp_path_factory) -> str:
    return str(tmp_path_factory.mktemp("pipeline"))


@pytest.fixture(scope="module")
def bp_pipeline(spark, tick_dir, work_dir) -> TickPipeline:
    ticks = file_replay_tick_stream(spark, tick_dir)
    return TickPipeline(spark, ticks, "BP", work_dir)


def _batch_windows(spark, tick_dir: str):
    """The batch twin of the fused query's input: the same decode,
    ingest gate, normalization and 10-minute window averages over the
    fixture read as a plain (non-streaming) frame."""
    feats = SYMBOL_FEATURES["BP"]
    ticks = validate_ticks(decode_ticks(spark.read.text(tick_dir)))
    return windowed_features(normalize_ticks(ticks, "BP", feats), feats)


def _batch_model(spark, tick_dir: str, pipe: TickPipeline):
    """A LinearRegression fitted in batch over the fixture's windows
    with the pipeline's own assembler and params — the model the fused
    query publishes when it drains the fixture in one trigger."""
    from pyspark.ml.regression import LinearRegression

    # one partition, as the fused query fits: the same summation order
    assembled = (
        pipe._assembler_agg.transform(_batch_windows(spark, tick_dir))
        .select("features", "label")
        .repartition(1)
    )
    return LinearRegression(
        featuresCol="features", labelCol="label", **pipe._lr_params
    ).fit(assembled)


def _drain(query, timeout: float = 300.0) -> None:
    """Bounded drain: a wedged AvailableNow stream (state-store or
    source regression) must FAIL the test, not hang the whole suite."""
    assert query.awaitTermination(timeout), (
        f"stream {query.name or query.id} did not terminate within "
        f"{timeout}s"
    )
    assert query.exception() is None, query.exception()


# ------------------------------------------------------------- decode path
def test_decode_and_validate(spark, tick_dir, tmp_path):
    """S2/F2: from_json decode of the 13-field tick schema; malformed
    records become all-null rows (PERMISSIVE) and the D8 ingest gate
    drops them plus the enum-violating record."""
    decoded = file_replay_tick_stream(spark, tick_dir)
    q = (
        decoded.writeStream.format("memory")
        .queryName("decoded_ticks")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    all_rows = spark.table("decoded_ticks")
    assert all_rows.count() == 2 * N_TICKS + 2
    assert all_rows.filter("symbol IS NULL").count() == 1  # malformed line
    valid = validate_ticks(all_rows)
    assert valid.count() == 2 * N_TICKS  # null row + EVIL_FEED row dropped
    assert set(all_rows.columns) == {
        "symbol", "timestamp", "source", "data_type", "bid", "ask", "price",
        "volume", "spread_raw", "spread_table", "volatility",
        "market_sentiment", "trading_activity",
    }


# ----------------------------------------------------- two-query pipeline
def test_trainer_fits_and_publishes_model(bp_pipeline):
    _drain(bp_pipeline.start_trainer_and_backfiller(available_now=True))
    model = bp_pipeline.store.current()
    assert model is not None
    assert len(model.coefficients) == 5


def test_fused_query_matches_batch_recomputation(spark, tick_dir, tmp_path):
    """The fused trainer+backfiller against a batch recomputation: drained
    over the fixture in ONE data trigger, its labels table equals the
    batch window averages per window and its published model equals a
    batch LinearRegression fit (same params) over those windows."""
    from bda_spark.sources.batch import read_parquet

    pipe = TickPipeline(
        spark, file_replay_tick_stream(spark, tick_dir), "BP", str(tmp_path)
    )
    q = pipe.start_trainer_and_backfiller(available_now=True)
    _drain(q)
    # one data trigger read every fixture line, the two junk lines too
    assert [p["numInputRows"] for p in q.recentProgress
            if p["numInputRows"]] == [2 * N_TICKS + 2]

    want = {
        r.window_start: r.label for r in _batch_windows(spark, tick_dir).collect()
    }
    got = {
        r.window_start: r.actual_price
        for r in read_parquet(spark, pipe.labels_path).collect()
    }
    assert len(want) == 3 and set(got) == set(want)
    for w, label in want.items():
        assert got[w] == pytest.approx(label, rel=1e-9)

    streamed = pipe.store.current()
    batch = _batch_model(spark, tick_dir, pipe)
    assert list(streamed.coefficients) == pytest.approx(
        list(batch.coefficients), rel=1e-9, abs=1e-12
    )
    assert streamed.intercept == pytest.approx(batch.intercept, rel=1e-9, abs=1e-12)


def test_predictor_appends_null_label_predictions(spark, tick_dir, tmp_path):
    """The predictor alone (model published through ModelStore.save, no
    fused query) appends one NULL-label prediction per tick."""
    pipe = TickPipeline(
        spark, file_replay_tick_stream(spark, tick_dir), "BP", str(tmp_path)
    )
    pipe.store.save(_batch_model(spark, tick_dir, pipe), "LinearRegression")
    _drain(pipe.start_predictor(available_now=True))
    rows = pipe.predictions().collect()
    assert len(rows) == N_TICKS  # one prediction per BP tick
    assert all(r.label is None for r in rows)  # labels start NULL
    assert all(r.prediction is not None for r in rows)
    # input_data is to_json(struct(features)) — parseable, right keys
    parsed = json.loads(rows[0].input_data)
    assert set(parsed) == {
        "volume", "volatility", "market_sentiment", "trading_activity", "price"
    }
    # price is itself a feature and the label is the window-avg price, so
    # the fit is near-exact; predictions should track the actual price
    for r in rows:
        actual = json.loads(r.input_data)["price"]
        assert abs(r.prediction - actual) < 5.0


def test_predictor_batch_without_bp_ticks_commits_empty_dir(
    spark, tmp_path_factory
):
    """A predictor micro-batch holding no tick of the pipeline's symbol
    still commits its batch dir (an empty part file, ``_SUCCESS``
    written) and reads back as zero rows: replaying an ETHEREUM-only
    file, then a BP file, the predictions table holds exactly the BP
    file's valid ticks."""
    src = tmp_path_factory.mktemp("predict_eth_then_bp")
    with open(src / "a_eth.jsonl", "w") as f:
        for i in range(N_TICKS):
            f.write(json.dumps(_eth_tick(i)) + "\n")
    with open(src / "b_bp.jsonl", "w") as f:
        for i in range(N_TICKS):
            f.write(json.dumps(_bp_tick(i)) + "\n")
    # deterministic replay order (mtime ties are broken arbitrarily)
    for sec, name in enumerate(["a_eth.jsonl", "b_bp.jsonl"]):
        os.utime(src / name, (1700000000 + sec * 10, 1700000000 + sec * 10))
    work = tmp_path_factory.mktemp("predict_eth_then_bp_work")
    pipe = TickPipeline(
        spark,
        file_replay_tick_stream(spark, str(src), max_files_per_trigger=1),
        "BP",
        str(work),
    )
    pipe.store.save(_batch_model(spark, str(src), pipe), "LinearRegression")
    q = pipe.start_predictor(available_now=True)
    _drain(q)
    batch_ids = sorted(
        p["batchId"] for p in q.recentProgress if p["numInputRows"]
    )
    assert len(batch_ids) == 2
    first = os.path.join(pipe.predictions_path, f"batch={batch_ids[0]}")
    assert os.path.exists(os.path.join(first, "_SUCCESS"))
    assert pipe.predictions().count() == N_TICKS


def test_label_backfill_sets_window_averages(bp_pipeline):
    # no-ops when the module's earlier tests already drained the source
    _drain(bp_pipeline.start_trainer_and_backfiller(available_now=True))
    _drain(bp_pipeline.start_predictor(available_now=True))
    rows = bp_pipeline.predictions().collect()
    assert len(rows) == N_TICKS  # the read-time join preserved row count
    # expected label = avg price of the tick's 10-minute window
    expected = {0: 104.5, 1: 114.5, 2: 124.5}
    for r in rows:
        window_idx = (r.timestamp - BASE_MS) // (10 * 60_000)
        assert r.label == pytest.approx(expected[window_idx])


def test_backfill_is_idempotent(bp_pipeline):
    before = sorted(
        (r.timestamp, r.label) for r in bp_pipeline.predictions().collect()
    )
    assert before and all(label is not None for _, label in before)
    # replaying the fused query from a fresh checkpoint re-merges the
    # same labels; the merge is an upsert so nothing changes
    windowed = windowed_features(
        bp_pipeline.normalized, bp_pipeline.feature_cols,
        bp_pipeline.window, bp_pipeline.watermark,
    )
    q = bp_pipeline._writer(
        windowed, bp_pipeline._train_and_backfill_batch,
        bp_pipeline.checkpoints["fused"] + "_replay", "update", True, None,
    ).start()
    _drain(q)
    after = sorted(
        (r.timestamp, r.label) for r in bp_pipeline.predictions().collect()
    )
    assert before == after


def test_hybrid_predictor_scores_with_both_models(spark, tick_dir, tmp_path_factory):
    """D5/T10 interplay: with a historical_store set, each tick carries
    both the streaming and the tournament-selected historical model's
    prediction — via chained transforms, no join (fixes the reference's
    symbol-only join, SURVEY §2.3 J2)."""
    from bda_spark.ml.persistence import ModelStore

    work = str(tmp_path_factory.mktemp("hybrid"))
    ticks = file_replay_tick_stream(spark, tick_dir)
    hist_store = ModelStore(work + "/historical_models")
    pipe = TickPipeline(spark, ticks, "BP", work, historical_store=hist_store)
    # one model as both the streaming and the "historical" champion: the
    # two prediction columns must then agree exactly
    model = _batch_model(spark, tick_dir, pipe)
    pipe.store.save(model, "LinearRegression")
    hist_store.save(model, "LinearRegression")
    _drain(pipe.start_predictor(available_now=True))
    rows = pipe.predictions().collect()
    assert len(rows) == N_TICKS
    assert all(r.prediction_historical is not None for r in rows)
    assert all(abs(r.prediction_historical - r.prediction) < 1e-9 for r in rows)


def test_predictor_scores_spark_ml_pointer_like_the_document(spark, tick_dir, tmp_path):
    """Upgrade path and scoring differential through the predictor's own
    handler: a work dir whose pointer names a Spark ML LinearRegression
    predicts, the coefficient document published after it predicts the
    same per tick (rel 1e-12), and both equal the model's ``transform``
    after VectorAssembler's ``skip`` rule, which drops the same null and
    NaN rows as the predictor's ``na.drop``."""
    from pyspark.sql import functions as F

    from bda_spark.ml.persistence import LinearCoefficients
    from bda_spark.streaming.batchdir import BATCH_PREFIX

    pipe = TickPipeline(
        spark, file_replay_tick_stream(spark, tick_dir), "BP", str(tmp_path)
    )
    feats = pipe.feature_cols
    model = _batch_model(spark, tick_dir, pipe)
    ticks = normalize_ticks(
        validate_ticks(decode_ticks(spark.read.text(tick_dir))), "BP", feats
    )
    batch = ticks.union(
        ticks.limit(2).select(
            "symbol",
            F.lit(None).cast("double").alias(feats[0]),
            *feats[1:-1],
            F.lit(float("nan")).alias(feats[-1]),
            "label", (F.col("timestamp") + 1).alias("timestamp"), "event_time",
        )
    ).cache()
    assert batch.count() == N_TICKS + 2

    def scored(batch_id):
        pipe._predict_batch(batch, batch_id)
        out = spark.read.parquet(
            os.path.join(pipe.predictions_path, f"{BATCH_PREFIX}{batch_id}")
        )
        return {r.timestamp: r.prediction for r in out.collect()}

    pipe.store.save(model, "LinearRegression")
    legacy = scored(0)
    pipe.store.save(LinearCoefficients.of(model, feats), "LinearCoefficients")
    document = scored(1)
    want = {
        r.timestamp: r.prediction
        for r in model.transform(pipe._assembler_pred.transform(batch)).collect()
    }
    batch.unpersist()
    assert len(want) == N_TICKS
    assert set(legacy) == set(document) == set(want)
    for ts, p in want.items():
        assert legacy[ts] == pytest.approx(p, rel=1e-12, abs=0)
        assert document[ts] == pytest.approx(p, rel=1e-12, abs=0)


def test_predictor_batches_compile_no_new_class(spark, tmp_path_factory):
    """The ingest gate's future-timestamp test keeps each micro-batch's
    time out of generated code: over three one-file predictor batches,
    every batch after the first compiles no new class (Spark's
    CodegenMetrics compile counter does not move)."""
    from bda_spark.ml.persistence import LinearCoefficients

    src = tmp_path_factory.mktemp("predict_compile_src")
    for n in range(3):
        with open(src / f"f{n}.jsonl", "w") as f:
            for i in range(n * 5, n * 5 + 5):
                f.write(json.dumps(_bp_tick(i)) + "\n")
        os.utime(src / f"f{n}.jsonl", (1700000000 + n * 10, 1700000000 + n * 10))
    pipe = TickPipeline(
        spark,
        file_replay_tick_stream(spark, str(src), max_files_per_trigger=1),
        "BP",
        str(tmp_path_factory.mktemp("predict_compile_work")),
    )
    feats = pipe.feature_cols
    pipe.store.save(
        LinearCoefficients(tuple(feats), (0.0,) * (len(feats) - 1) + (1.0,), 0.0),
        "LinearCoefficients",
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    after = []

    def handler(batch_df, batch_id):
        pipe._predict_batch(batch_df, batch_id)
        after.append(compiles.getCount())

    _drain(pipe._writer(
        pipe.normalized, handler, pipe.checkpoints["pred"], "append", True, None
    ).start())
    assert len(after) == 3
    assert [b - a for a, b in zip(after, after[1:])] == [0, 0]
    assert pipe.predictions().count() == 15


# ------------------------------------------------- stream-stream corr join
def test_correlation_pipeline(spark, tick_dir, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("corr"))
    a = file_replay_tick_stream(spark, tick_dir).filter("symbol = 'BP'")
    b = file_replay_tick_stream(spark, tick_dir).filter("symbol = 'ETHEREUM'")
    pipe = CorrelationPipeline(
        spark, a, b, work, value_col_a="price", value_col_b="ask",
        pair_name="BP-ETH",
    )
    _drain(pipe.start(available_now=True))
    rows = pipe.correlations().collect()
    assert len(rows) == 1
    row = rows[0]
    assert row.symbol == "BP-ETH"
    # eth_ask = 0.5 * bp_price + 7 across every 1-min bucket -> corr = 1
    assert row.correlation == pytest.approx(1.0, abs=1e-9)
    assert row.bp_price == pytest.approx(114.5)  # mean of 100..129
    assert row.eth_ask == pytest.approx(0.5 * 114.5 + 7.0)
    assert row.window_start_ts == BASE_MS
    assert row.window_end_ts == BASE_MS + (N_TICKS - 1) * 60_000


def test_correlation_batch_without_joined_rows_commits_empty_dir(
    spark, tmp_path_factory
):
    """A correlation micro-batch whose join emits no row (a BP-only
    file: its ticks wait in join state) commits its ``batch=<id>`` dir,
    ``_SUCCESS`` written, which reads as zero rows; the next batch
    joins them against ETH and writes the one summary row."""
    from bda_spark.streaming.batchdir import BATCH_PREFIX

    src = tmp_path_factory.mktemp("corr_empty_src")
    with open(src / "a_bp.jsonl", "w") as f:
        for i in range(N_TICKS):
            f.write(json.dumps(_bp_tick(i)) + "\n")
    with open(src / "b_eth.jsonl", "w") as f:
        for i in range(N_TICKS):
            f.write(json.dumps(_eth_tick(i)) + "\n")
    for sec, name in enumerate(["a_bp.jsonl", "b_eth.jsonl"]):
        os.utime(src / name, (1700000000 + sec * 10, 1700000000 + sec * 10))
    work = str(tmp_path_factory.mktemp("corr_empty"))
    ticks = file_replay_tick_stream(spark, str(src), max_files_per_trigger=1)
    pipe = CorrelationPipeline(
        spark, ticks.filter("symbol = 'BP'"), ticks.filter("symbol = 'ETHEREUM'"), work
    )
    q = pipe.start(available_now=True)
    _drain(q)
    first = min(p["batchId"] for p in q.recentProgress)
    empty = os.path.join(pipe.correlations_path, f"{BATCH_PREFIX}{first}")
    assert os.path.exists(os.path.join(empty, "_SUCCESS"))
    assert spark.read.parquet(empty).count() == 0
    [row] = pipe.correlations().collect()
    assert row.correlation == pytest.approx(1.0, abs=1e-9)


def test_correlation_default_compaction_keeps_superseded_generation(
    spark, tick_dir, tmp_path_factory
):
    """A default ``compact()`` vacuums with the 10-minute maintenance
    min age: a generation superseded past ``vacuum_keep`` stays on disk
    while an in-flight ``correlations()`` reader may still hold it, and
    only an explicit ``vacuum_min_age_seconds=0.0`` sweeps it. The
    handler is driven with the batch twin of the joined stream; it
    leaves nothing cached behind."""
    from pyspark import StorageLevel

    from bda_spark.sources.versioned import VERSIONS_DIR
    from bda_spark.streaming.correlation import bucket_join, bucketed_feed

    work = str(tmp_path_factory.mktemp("corr_compact"))
    a = file_replay_tick_stream(spark, tick_dir).filter("symbol = 'BP'")
    b = file_replay_tick_stream(spark, tick_dir).filter("symbol = 'ETHEREUM'")
    pipe = CorrelationPipeline(spark, a, b, work)
    ticks = decode_ticks(spark.read.text(tick_dir))
    joined = bucket_join(
        bucketed_feed(ticks.filter("symbol = 'BP'"), "price", "a"),
        bucketed_feed(ticks.filter("symbol = 'ETHEREUM'"), "ask", "b"),
    )
    gens_dir = os.path.join(pipe.correlations_path, VERSIONS_DIR)

    def generations() -> list[str]:
        return sorted(d for d in os.listdir(gens_dir) if re.fullmatch(r"gen-\d+", d))

    for batch_id in range(3):
        pipe._process_batch(joined, batch_id)
        assert joined.storageLevel == StorageLevel.NONE
        pipe.compact()
    # the first generation is past vacuum_keep=2, but its successor
    # committed moments ago, so the min age keeps it
    assert generations() == ["gen-00000001", "gen-00000002", "gen-00000003"]
    assert pipe.correlations().count() == 3

    pipe._process_batch(joined, 3)
    pipe.compact(vacuum_min_age_seconds=0.0)
    assert generations() == ["gen-00000003", "gen-00000004"]
    assert pipe.correlations().count() == 4


# ------------------------------------------------------- late data (T6)
def test_watermark_drops_late_data(spark, tmp_path_factory):
    """T6: a record older than the watermark arriving in a later
    micro-batch is excluded from its (already-finalized) window. Two
    sequential AvailableNow runs share one checkpoint, so the watermark
    advanced by run 1 (persisted in the checkpoint) gates run 2's late
    tick — the deterministic replay form of continuous late arrival."""
    from bda_spark.streaming.pipeline import normalize_ticks, windowed_features

    d = tmp_path_factory.mktemp("late")
    feature_cols = ["volume", "volatility", "market_sentiment",
                    "trading_activity", "price"]

    src, out = d / "src", str(d / "windows_out")
    src.mkdir()

    def run_once():
        ticks = file_replay_tick_stream(spark, str(src))
        windowed = windowed_features(
            normalize_ticks(ticks, "BP", feature_cols),
            feature_cols, window="10 minutes", watermark="5 minutes",
        )
        q = (
            windowed.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", str(d / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

    with open(src / "a_ontime.jsonl", "w") as f:
        for i in range(30):  # minutes 0..29 -> watermark ends at 24 min
            f.write(json.dumps(_bp_tick(i)) + "\n")
    run_once()

    with open(src / "b_late.jsonl", "w") as f:
        f.write(json.dumps(_bp_tick(2)) + "\n")   # late: before the watermark
        f.write(json.dumps(_bp_tick(35)) + "\n")  # on time: advances watermark
    run_once()

    rows = {
        r.window_start.minute: r for r in spark.read.parquet(out).collect()
    }
    # window [0,10): finalized with ticks 0..9 only; the late tick
    # (price 102) would have shifted the average had it been admitted
    assert rows[0].label == pytest.approx(104.5)
    # the on-time tick's window [30,40) exists in state (emitted once a
    # later watermark passes it; not yet here), while [10,20) is final
    assert rows[10].label == pytest.approx(114.5)


# ------------------------------------------- error surfacing (not skipping)
def test_unreadable_labels_table_raises_not_skips(spark, tick_dir, tmp_path_factory):
    """An existing-but-unreadable labels table must RAISE from the
    labeled view, not silently read as 'nothing labeled yet' (the
    bare-except hazard class: existence is a filesystem question, read
    errors are real errors)."""
    work = str(tmp_path_factory.mktemp("corrupt_labels"))
    ticks = file_replay_tick_stream(spark, tick_dir)
    pipe = TickPipeline(spark, ticks, "BP", work)
    pipe.store.save(_batch_model(spark, tick_dir, pipe), "LinearRegression")
    _drain(pipe.start_predictor(available_now=True))
    assert all(r.label is None for r in pipe.predictions().collect())
    os.makedirs(pipe.labels_path)
    junk = os.path.join(pipe.labels_path, "part-00000.parquet")
    with open(junk, "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception):
        pipe.predictions().collect()
    assert os.path.exists(junk)  # nothing was destroyed


# ------------------------------------------------- concurrent start_all (T8)
def test_start_all_concurrent_growing_source(spark, tmp_path_factory):
    """T8 production mode: both queries (fused trainer+backfiller,
    predictor) live AT ONCE against a growing file source (reference
    NEW_train_offset_3_10min.py:334). The sinks are disjoint (models/
    and labels/ merges vs predictions/ appends), so no append is lost
    to a concurrent rewrite — every tick must surface exactly once in
    the labeled view, with its window's label."""
    d = tmp_path_factory.mktemp("concurrent")
    src = d / "src"
    src.mkdir()
    with open(src / "t0.jsonl", "w") as f:
        for i in range(10):
            f.write(json.dumps(_bp_tick(i)) + "\n")
    ticks = file_replay_tick_stream(spark, str(src))
    pipe = TickPipeline(spark, ticks, "BP", str(d / "work"))
    # warm-start: publish a model before going live, so the concurrent
    # predictor never consumes ticks it cannot yet score
    _drain(pipe.start_trainer_and_backfiller(available_now=True))
    queries = pipe.start_all(
        triggers={"trainer": "1 second", "predictor": "1 second"}
    )
    assert len(queries) == 2
    try:
        for batch in (1, 2):  # grow the source while both run
            with open(src / f"t{batch}.jsonl", "w") as f:
                for i in range(batch * 10, batch * 10 + 10):
                    f.write(json.dumps(_bp_tick(i)) + "\n")
            time.sleep(2)
        deadline = time.time() + 90
        done = False
        while not done and time.time() < deadline:
            try:
                rows = pipe.predictions().collect()
                done = len(rows) == N_TICKS and all(
                    r.label is not None for r in rows
                )
            except Exception:
                pass  # predictions dir not created yet — keep polling
            if not done:
                time.sleep(2)
    finally:
        for q in queries:
            q.stop()
        # don't assert inside finally: a stuck query would REPLACE the
        # try body's real failure in the report — collect, then check
        stuck = [q.name for q in queries if not q.awaitTermination(300)]
    assert not stuck, f"queries stuck after stop(): {stuck}"
    rows = pipe.predictions().collect()
    assert len(rows) == N_TICKS  # nothing lost, nothing duplicated
    expected = {0: 104.5, 1: 114.5, 2: 124.5}
    for r in rows:
        widx = (r.timestamp - BASE_MS) // (10 * 60_000)
        assert r.label == pytest.approx(expected[widx])


def test_start_all_rejects_unknown_trigger_keys(spark, tick_dir, tmp_path):
    """A removed key ("backfiller") or a typo ("predict") must fail
    loudly, naming the valid keys, before any query starts — not drop
    the cadence silently."""
    pipe = TickPipeline(
        spark, file_replay_tick_stream(spark, tick_dir), "BP", str(tmp_path)
    )
    before = len(spark.streams.active)
    for bad in ({"backfiller": "5 minutes"}, {"predict": "1 second"}):
        with pytest.raises(ValueError) as e:
            pipe.start_all(triggers=bad)
        msg = str(e.value)
        assert next(iter(bad)) in msg
        assert "trainer" in msg and "predictor" in msg
    assert len(spark.streams.active) == before


# --------------------------------------------------- rate-limited replay (T9)
def test_streaming_session_windows_match_batch(spark, tmp_path_factory):
    """Data-driven session windows on the LIVE stream: two bursts per
    symbol separated by >gap silence must finalize as two sessions
    each, byte-identical to the batch session_window over the same
    records (the streaming plan adds only the watermark)."""
    import json as _json

    from bda_spark.streaming import file_replay_tick_stream, sessionize_ticks

    src = tmp_path_factory.mktemp("session_src")
    # burst 1: ticks at t+0..4 min; silence; burst 2 at t+20..22 min
    rows = []
    for sym, base_price in (("BP", 100.0), ("ETHEREUM", 2000.0)):
        for i in list(range(5)) + [20, 21, 22]:
            rows.append(
                dict(
                    _bp_tick(i),
                    symbol=sym,
                    price=base_price + i,
                    source="YLIFE_FEED",
                )
            )
    with open(src / "ticks.jsonl", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    out = str(tmp_path_factory.mktemp("session_out"))
    stream = sessionize_ticks(
        file_replay_tick_stream(spark, str(src)), gap="5 minutes"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("live_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    live = {tuple(r) for r in spark.sql("SELECT * FROM live_sessions").collect()}

    # batch twin through the SAME decode path
    from bda_spark.streaming import decode_ticks

    batch = {
        tuple(r)
        for r in sessionize_ticks(
            decode_ticks(spark.read.text(str(src))), gap="5 minutes"
        ).collect()
    }
    assert live == batch and len(live) == 4, (live, batch)
    # each symbol: one 5-tick burst, one 3-tick burst
    per_symbol = sorted(
        (r[0], r[3]) for r in live
    )  # (symbol, n_ticks)
    assert per_symbol == [
        ("BP", 3),
        ("BP", 5),
        ("ETHEREUM", 3),
        ("ETHEREUM", 5),
    ], per_symbol


def test_session_append_mode_emits_only_watermark_finalized(
    spark, tmp_path_factory
):
    """Append mode is the production shape: a session row is emitted
    exactly once, when the watermark passes its end (no tick can
    extend it anymore). Replaying burst-1 and burst-2 as separate
    micro-batches, the watermark driven by burst-2 (t+20 min, 2 min
    delay) finalizes burst-1's session (ends t+4+5 gap = t+9); the
    burst-2 session stays OPEN in the state store — nothing ever
    advances the watermark past it — so it is not emitted."""
    import json as _json

    from bda_spark.streaming import file_replay_tick_stream, sessionize_ticks

    src = tmp_path_factory.mktemp("session_append_src")
    with open(src / "a_burst1.jsonl", "w") as f:
        for i in range(5):
            f.write(_json.dumps(_bp_tick(i)) + "\n")
    with open(src / "b_burst2.jsonl", "w") as f:
        for i in (20, 21, 22):
            f.write(_json.dumps(_bp_tick(i)) + "\n")
    # deterministic replay order (mtime ties are broken arbitrarily)
    for sec, name in enumerate(["a_burst1.jsonl", "b_burst2.jsonl"]):
        os.utime(src / name, (1700000000 + sec * 10, 1700000000 + sec * 10))

    stream = sessionize_ticks(
        file_replay_tick_stream(spark, str(src), max_files_per_trigger=1),
        gap="5 minutes",
        watermark="2 minutes",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("append_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM append_sessions").collect()
    assert [(r["symbol"], r["n_ticks"]) for r in rows] == [("BP", 5)], rows


def test_rate_limited_replay(spark, tick_dir, tmp_path):
    """T9: maxFilesPerTrigger=1 paces the replay to one file per
    micro-batch (the file-source twin of Kafka maxOffsetsPerTrigger) —
    three fixture files must arrive as three separate batches."""
    ticks = file_replay_tick_stream(spark, tick_dir, max_files_per_trigger=1)
    sizes = []
    q = (
        ticks.writeStream.foreachBatch(
            lambda df, _bid: sizes.append(df.count())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    assert sorted(s for s in sizes if s) == [2, N_TICKS, N_TICKS]
    assert len([s for s in sizes if s]) == 3


def test_stream_stream_left_outer_join_pads_after_watermark(
    spark, tmp_path_factory
):
    """T5/J1 outer mode: bucket minute-2 exists only on the A feed; the
    unmatched row must be HELD while a match is still possible and
    emitted null-padded once a later batch advances the watermark past
    its bucket. Matched buckets 0/1 join normally."""
    import json as _json

    from bda_spark.streaming import decode_ticks
    from bda_spark.streaming.correlation import bucket_join, bucketed_feed

    src = tmp_path_factory.mktemp("outer_src")
    # batch 1: A ticks minutes 0,1,2 / B ticks minutes 0,1 only
    with open(src / "a_batch1.jsonl", "w") as f:
        for i in (0, 1, 2):
            f.write(_json.dumps(_bp_tick(i)) + "\n")
        for i in (0, 1):
            f.write(_json.dumps(_eth_tick(i)) + "\n")
    # batch 2: far-ahead ticks on BOTH feeds — the join's effective
    # watermark is min(watermark_a, watermark_b), so a late tick on one
    # side alone advances nothing. Watermark becomes 30 - 10 = 20 at
    # the NEXT batch boundary (watermarks advance between batches).
    with open(src / "b_batch2.jsonl", "w") as f:
        f.write(_json.dumps(_bp_tick(30)) + "\n")
        f.write(_json.dumps(_eth_tick(30)) + "\n")
    # batch 3: any further tick — the batch that runs WITH watermark 20
    # and therefore evicts + null-pads the expired minute-2 state
    with open(src / "c_batch3.jsonl", "w") as f:
        f.write(_json.dumps(_bp_tick(31)) + "\n")
    # the file source orders batches by modification time and ties are
    # arbitrary (same-millisecond writes) — pin distinct mtimes so the
    # three micro-batches replay in authoring order deterministically
    for sec, name in enumerate(
        ["a_batch1.jsonl", "b_batch2.jsonl", "c_batch3.jsonl"]
    ):
        os.utime(src / name, (1700000000 + sec * 10, 1700000000 + sec * 10))

    ticks = file_replay_tick_stream(spark, str(src), max_files_per_trigger=1)
    a = bucketed_feed(ticks.filter("symbol = 'BP'"), "price", "a")
    b = bucketed_feed(ticks.filter("symbol = 'ETHEREUM'"), "ask", "b")
    q = (
        bucket_join(a, b, how="left_outer")
        .writeStream.format("memory")
        .queryName("outer_join_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM outer_join_out").collect()
    by_minute = {}
    for r in rows:
        minute = (r["ts_a"] - BASE_MS) // 60_000
        by_minute[minute] = r
    # minutes 0 and 1 matched: B side present
    assert by_minute[0]["val_b"] is not None
    assert by_minute[1]["val_b"] is not None
    # minute 2 unmatched: emitted null-padded AFTER the watermark passed
    assert by_minute[2]["val_b"] is None and by_minute[2]["ts_b"] is None
    # minute 30 matched on both feeds (inner matches emit immediately);
    # minute 31 is A-only and its bucket never expired -> held in state
    if 30 in by_minute:  # emission batch may precede/equal termination
        assert by_minute[30]["val_b"] is not None
    assert 31 not in by_minute


def test_correlation_handler_matches_python_recomputation_per_batch(
    spark, tmp_path_factory
):
    """Differential test of the correlation handler: over four replayed
    micro-batches, each batch's summary row equals a pure-Python
    recomputation from exactly the rows the join emitted in that batch.
    Those rows are captured by a twin memory-sink query over the same
    joined stream and trigger, split per batch by its progress row
    counts. Buckets straddle batch boundaries, so later batches join
    new rows against join state; the last batch holds one bucket only,
    so its correlation is undefined and its batch dir is empty."""
    import datetime
    import math

    from bda_spark.streaming.batchdir import BATCH_PREFIX

    # a tick at second ``o`` of minute ``m``; values vary within and
    # across buckets, and the two feeds are not linearly related, so
    # every correlation is strictly inside (-1, 1)
    def bp(m: int, o: int) -> dict:
        price = 100.0 + 1.7 * m + 0.13 * o + (m * 7 + o) % 5 * 0.61
        return dict(_bp_tick(0), timestamp=BASE_MS + (m * 60 + o) * 1000, price=price)

    def eth(m: int, o: int) -> dict:
        ask = 50.0 + 0.9 * m + 0.21 * o + (m * 3 + o) % 7 * 0.47
        return dict(_eth_tick(0), timestamp=BASE_MS + (m * 60 + o) * 1000, ask=ask)

    def minute(m: int, offsets: tuple[int, ...], feed) -> list[dict]:
        return [feed(m, o) for o in offsets]

    files = {
        # minutes 0-4; minute 4 continues in the next file on both feeds
        "f1.jsonl": [
            t for m in range(5)
            for t in minute(m, (0, 20), bp) + minute(m, (10,), eth)
        ],
        # minute 4 again (joins new rows against batch-1 state), 5-8
        "f2.jsonl": minute(4, (40,), bp) + minute(4, (50,), eth) + [
            t for m in range(5, 9)
            for t in minute(m, (5, 35), bp) + minute(m, (15, 45), eth)
        ],
        # ETH-only minute 8 (joins batch-2 BP state), then minutes 9-12
        "f3.jsonl": minute(8, (55,), eth) + [
            t for m in range(9, 13)
            for t in minute(m, (1,), bp) + minute(m, (2, 3), eth)
        ],
        # one bucket on both feeds: corr over one bucket is undefined
        "f4.jsonl": minute(13, (0, 30), bp) + minute(13, (15,), eth),
    }
    src = tmp_path_factory.mktemp("corr_diff_src")
    for sec, (name, rows) in enumerate(files.items()):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(src / name, (1700000000 + sec * 10, 1700000000 + sec * 10))

    work = str(tmp_path_factory.mktemp("corr_diff"))
    ticks = file_replay_tick_stream(spark, str(src), max_files_per_trigger=1)
    pipe = CorrelationPipeline(
        spark, ticks.filter("symbol = 'BP'"), ticks.filter("symbol = 'ETHEREUM'"), work
    )
    _drain(pipe.start(available_now=True))
    twin = (
        pipe.joined.writeStream.format("memory")
        .queryName("corr_diff_joined")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "twin_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(twin)

    joined = spark.sql("SELECT * FROM corr_diff_joined").collect()
    counts = {
        p["batchId"]: p["sink"]["numOutputRows"] for p in twin.recentProgress
    }
    assert sum(counts.values()) == len(joined)
    per_batch, start = {}, 0
    for batch_id in sorted(counts):
        if counts[batch_id]:
            per_batch[batch_id] = joined[start : start + counts[batch_id]]
        start += counts[batch_id]
    assert len(per_batch) == 4

    def mean(xs):
        return sum(xs) / len(xs)

    for batch_id, rows in per_batch.items():
        buckets = {}
        for r in rows:
            buckets.setdefault(r["bucket_a"]["start"], []).append(r)
        xs = [mean([r["val_a"] for r in rs]) for rs in buckets.values()]
        ys = [mean([r["val_b"] for r in rs]) for rs in buckets.values()]
        out = spark.read.parquet(
            os.path.join(pipe.correlations_path, f"{BATCH_PREFIX}{batch_id}")
        ).collect()
        if len(buckets) < 2:
            assert out == []
            continue
        mx, my = mean(xs), mean(ys)
        cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
        corr = cov / math.sqrt(
            sum((x - mx) ** 2 for x in xs) * sum((y - my) ** 2 for y in ys)
        )
        start_ts = min(r["ts_a"] for r in rows)
        [row] = out
        assert row.symbol == "BP-ETH"
        assert row.timestamp == row.window_start_ts == start_ts
        assert row.window_end_ts == max(r["ts_a"] for r in rows)
        assert row.event_time == datetime.datetime.fromtimestamp(
            start_ts // 1000
        ).replace(microsecond=start_ts % 1000 * 1000)
        assert -1.0 < corr < 1.0
        assert row.correlation == pytest.approx(corr, rel=1e-12, abs=0)
        assert row.bp_price == pytest.approx(
            mean([r["val_a"] for r in rows]), rel=1e-12, abs=0
        )
        assert row.eth_ask == pytest.approx(
            mean([r["val_b"] for r in rows]), rel=1e-12, abs=0
        )
    # the straddling minutes 4 and 8 joined in more than one batch
    minutes = {
        batch_id: {(r["ts_a"] - BASE_MS) // 60_000 for r in rows}
        for batch_id, rows in per_batch.items()
    }
    assert sum(4 in ms for ms in minutes.values()) == 2
    assert sum(8 in ms for ms in minutes.values()) == 2


def test_streaming_frequent_items_bounds_across_batches(
    spark, tmp_path_factory
):
    """Stateful Misra-Gries over a two-batch replay with a 4-slot
    budget: the carried summaries must fold batch 2 into batch 1's
    state (not restart), and each shard's LATEST snapshot must satisfy
    est <= true <= est + err for every item of the whole stream, with
    every item heavier than the shard's err bound present."""
    from collections import Counter

    from bda_spark.streaming.stateful import streaming_frequent_items

    d = tmp_path_factory.mktemp("mg_stream")
    b1 = (["alpha"] * 30 + ["beta"] * 20 + [f"rare{i}" for i in range(10)])
    b2 = (["alpha"] * 25 + ["gamma"] * 15 + [f"tail{i}" for i in range(10)])
    with open(d / "a_batch1.txt", "w") as f:
        f.write("\n".join(b1) + "\n")
    with open(d / "b_batch2.txt", "w") as f:
        f.write("\n".join(b2) + "\n")
    # deterministic replay order (mtime ties are broken arbitrarily)
    for sec, name in enumerate(["a_batch1.txt", "b_batch2.txt"]):
        os.utime(d / name, (1700000000 + sec * 10, 1700000000 + sec * 10))

    stream = streaming_frequent_items(
        spark.readStream.option("maxFilesPerTrigger", "1").text(str(d)),
        "value",
        counters=4,
        n_shards=2,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("mg_snapshots")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM mg_snapshots").collect()
    assert rows
    # at least one shard saw both batches (seq reaches 2)
    max_seq = {}
    for r in rows:
        max_seq[r["shard"]] = max(max_seq.get(r["shard"], 0), r["seq"])
    assert max(max_seq.values()) == 2, max_seq
    latest = [r for r in rows if r["seq"] == max_seq[r["shard"]]]

    exact = Counter(b1 + b2)
    # shard assignment must match the operator's (xxhash64 % n_shards)
    from pyspark.sql import functions as SF

    shard_of = {
        r["w"]: r["s"]
        for r in spark.createDataFrame(
            [(w,) for w in exact], "w string"
        ).select(
            "w", SF.pmod(SF.xxhash64("w"), SF.lit(2)).alias("s")
        ).collect()
    }
    est = {
        (r["shard"], r["item"]): r["est_count"]
        for r in latest
        if r["item"] is not None
    }
    # the bound rides on the null-item row of EVERY snapshot, so it is
    # present even if a shard's summary compacted to empty
    err = {r["shard"]: r["err_bound"] for r in latest if r["item"] is None}
    assert set(err) == set(max_seq), "every shard must carry a bound row"
    for word, true_n in exact.items():
        shard = shard_of[word]
        e = est.get((shard, word), 0)
        bound = err[shard]
        assert e <= true_n <= e + bound, (word, e, true_n, bound)
        if true_n > bound:
            assert (shard, word) in est, (word, true_n, bound)
    # the budget really is enforced: <= counters items + the bound row
    per_snapshot = Counter((r["shard"], r["seq"]) for r in rows)
    assert max(per_snapshot.values()) <= 4 + 1


# ------------------------------------- custom stateful operator (T7 deep)
def test_running_feature_stats_state_carries_across_batches(
    spark, tmp_path_factory
):
    """applyInPandasWithState: per-symbol Welford/EWMA state must fold
    each micro-batch into the RUNNING statistics (one snapshot row per
    batch), not restart per batch. maxFilesPerTrigger=1 forces the two
    fixture files through as two batches; a drifted second batch trips
    the ±2σ flag."""
    import math

    from bda_spark.streaming.pipeline import normalize_ticks
    from bda_spark.streaming.stateful import running_feature_stats

    d = tmp_path_factory.mktemp("stateful")
    src = d / "src"
    src.mkdir()
    with open(src / "a_first.jsonl", "w") as f:
        for i in range(10):  # prices 100..109
            f.write(json.dumps(_bp_tick(i)) + "\n")
    with open(src / "b_second.jsonl", "w") as f:
        for i in range(10, 20):  # prices 110..119, +1000 -> drifted
            t = _bp_tick(i)
            t["price"] += 1000.0
            f.write(json.dumps(t) + "\n")
    # distinct mtimes pin the micro-batch order (file source drains
    # oldest-first)
    os.utime(src / "a_first.jsonl", (1_000_000_000, 1_000_000_000))
    os.utime(src / "b_second.jsonl", (1_000_000_100, 1_000_000_100))
    ticks = file_replay_tick_stream(spark, str(src), max_files_per_trigger=1)
    feature_cols = ["volume", "volatility", "market_sentiment",
                    "trading_activity", "price"]
    stats = running_feature_stats(
        normalize_ticks(ticks, "BP", feature_cols).withColumnRenamed(
            "label", "price_label"
        ),
        value_col="price",
    )
    q = (
        stats.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("append")
        .option("checkpointLocation", str(d / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = sorted(
        spark.table("running_stats").collect(), key=lambda r: r.n_total
    )
    assert [r.batch_rows for r in rows] == [10, 10]
    assert [r.n_total for r in rows] == [10, 20]  # state carried over
    prices = [100.0 + i for i in range(10)] + [1110.0 + i for i in range(10)]
    assert rows[0].mean == pytest.approx(sum(prices[:10]) / 10)
    assert rows[1].mean == pytest.approx(sum(prices) / 20)
    expected_std = math.sqrt(
        sum((p - sum(prices) / 20) ** 2 for p in prices) / 20
    )
    assert rows[1].std == pytest.approx(expected_std)
    # EWMA after batch 2 = closed-form fold of all 20 ordered prices
    ewma = prices[0]
    for p in prices[1:]:
        ewma = 0.9 * ewma + 0.1 * p
    assert rows[1].ewma == pytest.approx(ewma)
    assert rows[0].drift is False  # first batch has no baseline
    assert rows[1].drift is True  # +1000 jump leaves the ±2σ band


def test_fold_running_stats_chunking_invariant():
    """The pure fold: sequentially folding ordered chunks equals one
    fold of the whole ordered array (Welford combine + closed-form
    EWMA), and the EWMA matches the naive per-row recurrence — so the
    concat-sort-once update in running_feature_stats is exact however
    Arrow chunked the micro-batch."""
    import numpy as np

    from bda_spark.streaming.stateful import fold_running_stats

    rng = np.random.default_rng(7)
    v = rng.normal(50.0, 5.0, size=101)
    alpha = 0.1
    whole = fold_running_stats(0, 0.0, 0.0, None, v, alpha)
    n, mean, m2, ewma = 0, 0.0, 0.0, None
    for lo, hi in [(0, 1), (1, 40), (40, 40), (40, 101)]:  # ragged chunks
        n, mean, m2, ewma, _bm = fold_running_stats(
            n, mean, m2, ewma, v[lo:hi], alpha
        )
    assert n == whole[0] == 101
    assert mean == pytest.approx(whole[1])
    assert m2 == pytest.approx(whole[2])
    assert ewma == pytest.approx(whole[3])
    naive = v[0]
    for x in v[1:]:
        naive = (1 - alpha) * naive + alpha * x
    assert ewma == pytest.approx(naive)
    assert mean == pytest.approx(v.mean())
    assert m2 == pytest.approx(((v - v.mean()) ** 2).sum())


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_breakout_highs_plan_and_schema(spark, tick_dir):
    """The transformWithStateInPandas plan builds without execution and
    carries the declared output schema (runs even without protobuf)."""
    from bda_spark.streaming.stateful import BREAKOUT_SCHEMA, breakout_highs

    df = breakout_highs(file_replay_tick_stream(spark, tick_dir))
    assert df.isStreaming
    assert df.schema == BREAKOUT_SCHEMA


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas state server needs protobuf "
    "(not installed in this container)",
)
def test_breakout_highs_state_carries_across_micro_batches(
    spark, tmp_path_factory
):
    """transformWithStateInPandas (T7, Spark-4 typed-state API): record
    highs are emitted exactly when beaten, and the running high
    survives micro-batch boundaries (maxFilesPerTrigger=1 makes each
    file its own batch)."""
    from bda_spark.streaming.stateful import breakout_highs

    d = tmp_path_factory.mktemp("breakout_ticks")
    batch1 = [100.0, 95.0, 105.0, 101.0]
    batch2 = [103.0, 110.0, 70.0]
    for fname, prices, off in (("a.jsonl", batch1, 0), ("b.jsonl", batch2, 10)):
        with open(d / fname, "w") as f:
            for j, p in enumerate(prices):
                f.write(json.dumps(dict(_bp_tick(off + j), price=p)) + "\n")
    stats = breakout_highs(
        file_replay_tick_stream(spark, str(d), max_files_per_trigger=1)
    )
    q = (
        stats.writeStream.format("memory")
        .queryName("breakouts")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path_factory.mktemp("hw_ckpt"))
        )
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = sorted(spark.table("breakouts").collect(), key=lambda r: r.timestamp)
    got = [(r.price, r.prev_high) for r in rows]
    # batch1: 100 (fresh), 105 (beats 100); batch2: 110 (beats the 105
    # carried in ValueState across the batch boundary)
    assert got == [(100.0, None), (105.0, 100.0), (110.0, 105.0)]


def test_dedup_within_watermark_drops_redelivered_ticks(
    spark, tick_dir, tmp_path_factory
):
    """At-least-once redelivery: the same tick file landed twice must
    yield each (symbol, timestamp) exactly once downstream."""
    import shutil

    from bda_spark.streaming.sources import dedup_ticks_within_watermark

    d = tmp_path_factory.mktemp("dup_ticks")
    shutil.copy(f"{tick_dir}/bp.jsonl", d / "bp.jsonl")
    shutil.copy(f"{tick_dir}/bp.jsonl", d / "bp_redelivered.jsonl")
    deduped = dedup_ticks_within_watermark(
        file_replay_tick_stream(spark, str(d))
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("deduped_ticks")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path_factory.mktemp("dedup_ckpt"))
        )
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = spark.table("deduped_ticks").collect()
    assert len(rows) == N_TICKS  # not 2x
    assert len({(r.symbol, r.timestamp) for r in rows}) == N_TICKS


# ------------------------------------------------------- console sink (S8)
def test_console_sink_smoke(spark, tick_dir):
    """S8: the debug console sink drains an AvailableNow replay without
    error (output goes to the driver log, so only liveness is asserted)."""
    q = console_sink(file_replay_tick_stream(spark, tick_dir), available_now=True)
    _drain(q)
    assert q.exception() is None


def test_backfill_converges_when_window_splits_across_batches(spark, tmp_path):
    """The production-trigger hazard: one 10-min window's ticks arrive
    over TWO micro-batches of the fused query. The watermarked
    update-mode aggregation carries the window's running average in
    state, so the final label is the TRUE window average — a per-batch
    groupBy would have overwritten it with the last batch's partial."""
    d = tmp_path / "split_ticks"
    d.mkdir()
    with open(d / "first.jsonl", "w") as f:
        for i in range(5):  # prices 100..104, all inside one window
            f.write(json.dumps(_bp_tick(i)) + "\n")
    with open(d / "second.jsonl", "w") as f:
        for i in range(5, 10):  # prices 105..109, same window
            f.write(json.dumps(_bp_tick(i)) + "\n")

    ticks = file_replay_tick_stream(spark, str(d), max_files_per_trigger=1)
    pipe = TickPipeline(spark, ticks, "BP", str(tmp_path / "work"))
    q = pipe.start_trainer_and_backfiller(available_now=True)
    _drain(q)
    assert len([p for p in q.recentProgress if p["numInputRows"]]) == 2
    assert pipe.store.current() is not None
    from bda_spark.sources.batch import read_parquet

    labels = read_parquet(spark, pipe.labels_path).collect()
    assert len(labels) == 1
    assert labels[0]["actual_price"] == pytest.approx(104.5)  # avg(100..109)


def test_predictor_replay_is_idempotent(spark, bp_pipeline, tmp_path):
    """At-least-once replay: re-running the predictor from a fresh
    checkpoint re-processes the same batches; the batch-scoped
    overwrite lands each batch in its own directory, so the replay
    rewrites rather than duplicates."""
    import os as _os

    # self-sufficient under -k selection / xdist: ensure the pipeline
    # has actually trained and predicted (no-op when the module's
    # earlier tests already ran — same checkpoints)
    if not _os.path.exists(bp_pipeline.predictions_path):
        _drain(bp_pipeline.start_trainer_and_backfiller(available_now=True))
        _drain(bp_pipeline.start_predictor(available_now=True))
    before = bp_pipeline.predictions().count()
    assert before > 0  # a zero-row baseline would make the check vacuous
    q = bp_pipeline._writer(
        bp_pipeline.normalized, bp_pipeline._predict_batch,
        str(tmp_path / "pred_replay_ckpt"), "append", True, None,
    ).start()
    _drain(q)
    assert bp_pipeline.predictions().count() == before


def test_encode_ticks_round_trips_through_decode(spark, tick_dir):
    """The producer's serialization half, verified broker-less:
    decode(encode(ticks)) must be the identity on typed tick rows (the
    env-gated integration test pushes the same bytes through a real
    topic where one exists). Keying by symbol pins per-symbol ordering
    to one Kafka partition."""
    from bda_spark.streaming.sources import decode_ticks, encode_ticks

    typed = validate_ticks(
        decode_ticks(spark.read.text(tick_dir))
    )
    enc = encode_ticks(typed)
    assert enc.columns == ["key", "value"]
    assert set(r["key"] for r in enc.select("key").distinct().collect()) == {
        "BP",
        "ETHEREUM",
    }
    want = sorted(map(tuple, typed.collect()))
    got = sorted(map(tuple, decode_ticks(enc).collect()))
    assert got == want


# ----------------------------------------------------- full-surface soak (T8)
def test_soak_all_surfaces_concurrent_with_maintenance(
    spark, tmp_path_factory
):
    """VERDICT r9 #5 — the all-surfaces-concurrent integration gap:
    fused trainer+backfiller AND predictor AND the stream-stream
    correlation join, all on processingTime triggers against a growing
    source, while ``compact_predictions`` (incremental AND a mid-soak
    ``full=True`` chain collapse, each with its generation vacuum) and
    the correlation table's ``compact`` fire repeatedly MID-STREAM.
    Prior tests pinned writer-vs-compactor in isolation
    (test_batchdir.py); this pins the composition:

    - at every sampled instant, ``predictions()`` is EXACT-so-far —
      no duplicate (symbol, timestamp) ever, whatever mix of
      generations/refs/batch dirs the read resolved mid-compaction;
    - every correlation row is the true per-batch value (the feeds are
      globally linear, so any batch with >= 2 buckets must read 1.0);
    - final state is exactly the written ticks, every label correct;
    - the predictions file count is BOUNDED across cycles (compaction
      absorbs the per-batch dirs instead of letting them accrete).
    """
    d = tmp_path_factory.mktemp("soak")
    src = d / "src"
    src.mkdir()

    def land(batch: int, n: int = 10) -> None:
        # write-then-rename: the file source must never see a partial
        # file from the concurrently polling stream
        tmp, dst = src / f".t{batch}.tmp", src / f"t{batch}.jsonl"
        with open(tmp, "w") as f:
            for i in range(batch * n, batch * n + n):
                f.write(json.dumps(_bp_tick(i)) + "\n")
                f.write(json.dumps(_eth_tick(i)) + "\n")
        os.rename(tmp, dst)

    land(0)
    ticks = file_replay_tick_stream(spark, str(src))
    pipe = TickPipeline(spark, ticks, "BP", str(d / "work"))
    corr = CorrelationPipeline(
        spark,
        file_replay_tick_stream(spark, str(src)).filter("symbol = 'BP'"),
        file_replay_tick_stream(spark, str(src)).filter(
            "symbol = 'ETHEREUM'"
        ),
        str(d / "corr"),
        value_col_a="price",
        value_col_b="ask",
        pair_name="BP-ETH",
    )
    # warm-start the model so the live predictor scores from batch one
    _drain(pipe.start_trainer_and_backfiller(available_now=True))
    queries = pipe.start_all(
        triggers={"trainer": "1 second", "predictor": "1 second"}
    ) + [corr.start(available_now=False, processing_time="1 second")]
    n_batches = 5
    try:
        for batch in range(1, n_batches):
            land(batch)
            time.sleep(2)
            # maintenance racing the live writers: incremental cycles
            # with one full (chain-collapsing) cycle mid-soak; keep=2
            # gives any in-flight reader its one-cycle grace while the
            # soak actually exercises generation deletion
            pipe.compact_predictions(
                vacuum_min_age_seconds=0.0, full=(batch == 3)
            )
            corr.compact(vacuum_min_age_seconds=0.0)
            # sampled-instant exactness: whatever subset of ticks has
            # surfaced, it surfaced exactly once
            rows = pipe.predictions().select("symbol", "timestamp").collect()
            assert len(rows) == len(set(rows)), (
                f"duplicate predictions mid-soak at batch {batch}"
            )
        want = n_batches * 10
        # generous under load: four concurrent 1 s-trigger queries on a
        # fully loaded suite can take minutes to drain the backlog; the
        # loop exits the moment it converges, so a healthy run never
        # pays this (observed: 120 s flaked once in a loaded 18-min
        # full-suite run and passed in isolation)
        deadline = time.time() + 300
        done = False
        while not done and time.time() < deadline:
            rows = pipe.predictions().collect()
            done = len(rows) == want and all(
                r.label is not None for r in rows
            )
            if not done:
                time.sleep(2)
    finally:
        for q in queries:
            q.stop()
        stuck = [q.name for q in queries if not q.awaitTermination(300)]
    assert not stuck, f"queries stuck after stop(): {stuck}"
    # final exactness: every tick exactly once, with its window's label
    pipe.compact_predictions(vacuum_min_age_seconds=0.0)
    rows = pipe.predictions().collect()
    assert len(rows) == want
    assert len({(r.symbol, r.timestamp) for r in rows}) == want
    for r in rows:
        widx = (r.timestamp - BASE_MS) // (10 * 60_000)
        lo = 100.0 + widx * 10
        n_in_window = min(want - widx * 10, 10)
        assert r.label == pytest.approx(lo + (n_in_window - 1) / 2.0)
    # correlation rows: per-batch summaries of a globally linear pair
    crows = corr.correlations().collect()
    assert crows, "no correlation batch ever emitted"
    for r in crows:
        assert r.correlation == pytest.approx(1.0, abs=1e-6)
    # bounded file count: compaction kept absorbing the per-batch dirs
    n_parquet = sum(
        len([f for f in files if f.endswith(".parquet")])
        for _, _, files in os.walk(pipe.predictions_path)
    )
    n_batch_dirs = len(
        [
            n
            for n in os.listdir(pipe.predictions_path)
            if n.startswith("batch=")
        ]
    )
    # watermark-swept + at most one grace cycle of absorbed dirs plus
    # any dirs the final seconds of the stream landed after the last
    # compaction (bounded by the poll loop's duration, not the soak's)
    assert n_batch_dirs <= 25, n_batch_dirs
    assert n_parquet <= 120, n_parquet
