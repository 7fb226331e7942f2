"""The continuous train / predict / label-backfill app (SURVEY.md §3.1,
§2.9 T1-T8, §2.10 D1/D3/D4).

Reproduces the reference's per-symbol streaming app (reference:
Deliverable_3/NEW_train_offset_3_10min.py:94-334) as TWO queries, with
its anti-patterns fixed per SURVEY §4:

- fused trainer+backfiller: watermarked 10-min tumbling window -> avg
  features + avg label -> one foreachBatch that (1) refits a
  LinearRegression and publishes its coefficients as a JSON document
  through the pointer-file ModelStore (ref :124-211; no Spark ML
  writer, so no Spark job to publish) and (2) upserts the window's
  cumulative average price into a small ``labels`` table keyed by
  (symbol, window) with the crash-safe idempotent merge sink (ref
  :290-332).
  The reference ran these as two queries over identical window state;
  one stateful pass here keeps one state store, one source scan and
  one checkpoint. No driver-side collect() loop of per-window
  read-modify-writes (ref :301-325), and the label half is
  checkpointed (the reference's label query wasn't, ref :328-332).
- predictor: per-tick features -> foreachBatch scoring with the
  linear model as one Catalyst expression, ``intercept + Σ wᵢ·fᵢ``
  (no VectorAssembler, no ``transform``); the model is CACHED and
  reloaded only when the pointer changes (the reference re-read it
  from disk every 1-second batch, ref :237); feature serialization is
  ``to_json(struct(...))`` — JVM-side — instead of the reference's
  row-at-a-time Python UDF (ref :244-248).

The predictions table is append-only and labels are joined on the
window bucket AT READ TIME (``predictions()``). Every table has exactly
ONE writer (predictor -> predictions/, fused query -> models/ and
labels/), so the two queries of ``start_all`` run genuinely
concurrently with no append-vs-merge race on the predictions dir.

Every query is checkpointed and driven either by
``Trigger.AvailableNow`` (tests: deterministic replay-to-completion) or
a processing-time trigger (production cadence: 10 min / 1 s, ref
:211,:280).

Predictions land in a batch-dir sink with versioned compaction
(streaming.batchdir): replay-idempotent per-batch dirs on the hot path,
absorbed by ``compact_predictions`` into pred_date-partitioned
reader-atomic generations carrying a batch-id high-watermark — file
count stays bounded under a 1-second trigger, and a crash-replay of an
absorbed batch is a no-op.
"""

from __future__ import annotations

import os

from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import LinearRegression
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import (
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.cleaning import validate_ticks
from ..functions.timeutils import event_time_from_millis
from ..ml.persistence import LinearCoefficients, ModelStore
from ..sources.sinks import idempotent_merge_parquet
from .batchdir import compact_batch_dirs, read_batch_table, write_batch_dir

# what _predict_batch writes (PREDICTIONS_SCHEMA minus the read-time
# label, plus the pred_date partition/pruning column)
RAW_PREDICTIONS_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("timestamp", LongType()),
        StructField("event_time", TimestampType()),
        StructField("input_data", StringType()),
        StructField("prediction", DoubleType()),
        StructField("prediction_historical", DoubleType()),
        StructField("pred_date", DateType()),
    ]
)

# Per-symbol feature sets (reference: NEW_train_offset_3_10min.py:21-27;
# equity feeds carry volume/volatility/sentiment/activity, the crypto
# feed carries the bid/ask book columns).
SYMBOL_FEATURES: dict[str, list[str]] = {
    "BP": ["volume", "volatility", "market_sentiment", "trading_activity", "price"],
    "COP": ["volume", "volatility", "market_sentiment", "trading_activity", "price"],
    "SHEL": ["volume", "volatility", "market_sentiment", "trading_activity", "price"],
    "XOM": ["volume", "volatility", "market_sentiment", "trading_activity", "price"],
    "ETHEREUM": ["bid", "ask", "spread_raw", "spread_table", "price"],
}

LABEL_COLUMN = "price"


def normalize_ticks(
    ticks: DataFrame, symbol: str, feature_cols: list[str]
) -> DataFrame:
    """Symbol filter + double casts + label + exact epoch-millis
    event_time (reference: :107-121; timestamp_millis instead of the
    reference's /1000 double cast)."""
    return (
        ticks.filter(F.col("symbol") == symbol)
        .select(
            "symbol",
            *[F.col(f).cast("double").alias(f) for f in feature_cols],
            F.col(LABEL_COLUMN).cast("double").alias("label"),
            F.col("timestamp").cast("long").alias("timestamp"),
        )
        .withColumn("event_time", event_time_from_millis("timestamp"))
    )


def windowed_features(
    df: DataFrame,
    feature_cols: list[str],
    window: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """T1/T2/A1: watermarked tumbling window x symbol -> avg of each
    feature + avg label (reference: :124-151). Works identically on a
    batch frame (no watermark applied) — the batch twin is the
    events_windowed_10min CORRECTNESS query."""
    if df.isStreaming:
        df = df.withWatermark("event_time", watermark)
    return (
        df.groupBy(F.window("event_time", window), "symbol")
        .agg(
            *[F.avg(f).alias(f"avg_{f}") for f in feature_cols],
            F.avg("label").alias("label"),
        )
        .select(
            "symbol",
            *[f"avg_{f}" for f in feature_cols],
            "label",
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
        )
    )


class TickPipeline:
    """One symbol's two-query continuous app over a decoded tick stream.

    Layout under ``work_dir``: models/, checkpoints/{fused,pred}/,
    predictions/ (batch-dir
    sink, see streaming.batchdir: one ``batch=<id>`` dir per
    micro-batch on the hot path, absorbed by ``compact_predictions``
    into pred_date-hive-partitioned versioned generations so dashboard
    scans of recent days partition-prune over compacted files; the
    parquet stand-in for the reference's Cassandra
    ``model_predictions_10m`` table, schema RAW_PREDICTIONS_SCHEMA),
    labels/ (tiny: one row per (symbol, window), upserted by the fused
    trainer+backfiller alone).
    """

    def __init__(
        self,
        spark: SparkSession,
        ticks: DataFrame,
        symbol: str,
        work_dir: str,
        feature_cols: list[str] | None = None,
        window: str = "10 minutes",
        watermark: str = "20 minutes",
        max_iter: int = 50,
        reg_param: float = 0.01,
        elastic_net_param: float = 0.5,
        historical_store: ModelStore | None = None,
    ):
        self.spark = spark
        self.symbol = symbol
        self.feature_cols = feature_cols or SYMBOL_FEATURES[symbol]
        self.window = window
        self.watermark = watermark
        self.work_dir = work_dir
        self.models_dir = os.path.join(work_dir, "models")
        self.predictions_path = os.path.join(work_dir, "predictions")
        self.labels_path = os.path.join(work_dir, "labels")
        self.checkpoints = {
            q: os.path.join(work_dir, "checkpoints", q)
            for q in ("fused", "pred")
        }
        self.store = ModelStore(self.models_dir)
        self.historical_store = historical_store
        self._lr_params = dict(
            maxIter=max_iter, regParam=reg_param, elasticNetParam=elastic_net_param
        )
        # the ingest gate the decode path promises: malformed/partial
        # records (PERMISSIVE nulls, enum violations) die HERE, not as a
        # VectorAssembler crash that would crash-loop the checkpointed
        # predictor on the same poisoned offset forever
        self.normalized = normalize_ticks(
            validate_ticks(ticks), symbol, self.feature_cols
        )
        # belt-and-braces: a null that still reaches an assembler (e.g.
        # a tick passing the gate with a null optional feature) drops
        # the row instead of killing the query
        self._assembler_agg = VectorAssembler(
            inputCols=[f"avg_{f}" for f in self.feature_cols],
            outputCol="features", handleInvalid="skip",
        )
        self._assembler_pred = VectorAssembler(
            inputCols=self.feature_cols, outputCol="features",
            handleInvalid="skip",
        )
        self._lr = LinearRegression(
            featuresCol="features", labelCol="label", **self._lr_params
        )

    # -------------------------------------------------------- predictor
    def _predict_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Per-tick prediction with the cached current model; appends to
        the predictions table with a NULL label (backfilled later).
        input_data = to_json(struct(features)) — D1's UDF-free form.

        The streaming model is linear (the trainer's coefficient
        document, or a Spark ML ``LinearRegressionModel`` published
        before the document existed, aligned by position), so it scores
        as one expression, ``intercept + Σ wᵢ·fᵢ``, after ``na.drop`` on
        the feature columns: the rows VectorAssembler's ``skip`` rule
        would drop (a null or NaN feature).

        With a ``historical_store`` set, the tournament-selected
        historical model scores the SAME frame via a chained assembler
        and transform — no join at all, which fixes the reference's
        symbol-only join (ref stream_and_historical_model.py:599-603,
        a cross-match at >1 row per symbol per batch; SURVEY §2.3 J2).
        No emptiness probe (a job per batch that skipped none in the
        benchmark): a batch without this symbol's ticks commits an
        empty part file, which reads back as zero rows."""
        model = self.store.current()
        if model is None:
            return
        if not isinstance(model, LinearCoefficients):
            model = LinearCoefficients.of(model, self.feature_cols)
        preds = batch_df.na.drop(subset=self.feature_cols).withColumn(
            "prediction_streaming", model.prediction(self.feature_cols)
        )
        historical = self.historical_store.current() if self.historical_store else None
        if historical is not None:
            preds = historical.transform(
                self._assembler_pred.transform(preds)
            ).withColumnRenamed("prediction", "prediction_historical")
        else:
            preds = preds.withColumn(
                "prediction_historical", F.lit(None).cast("double")
            )
        out = preds.select(
            "symbol",
            "timestamp",
            "event_time",
            F.to_json(F.struct(*[F.col(f) for f in self.feature_cols])).alias(
                "input_data"
            ),
            F.col("prediction_streaming").alias("prediction"),
            "prediction_historical",
            F.to_date("event_time").alias("pred_date"),
        )
        # batch-scoped overwrite = replay idempotence: foreachBatch is
        # at-least-once after a failure, and a blind append would land
        # the re-run batch twice. Each batch owns one subdirectory and
        # the ingest path does NOT shuffle or hive-split — minimum
        # files per batch; pred_date rides along as a plain column and
        # becomes the hive partitioning when compact_predictions()
        # absorbs the batch dirs into the read-optimized generation.
        # Batches at or below the compacted watermark are skipped: a
        # crash-replay of an absorbed batch must not resurrect a dir
        # that double-counts against the compacted copy.
        write_batch_dir(out, self.predictions_path, batch_id)

    # ------------------------------------------- fused trainer+backfiller
    def _train_and_backfill_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """D4 + T7/T10: one windowed micro-batch feeds both sinks — a
        fresh LinearRegression refit whose coefficients are published
        as a JSON document through the pointer file (reference:
        :177-203), then the label upsert into the tiny
        ``labels`` table (reference: :290-332). Both halves are
        replay-idempotent (pointer-file model publish; keyed label
        merge), so a crash between them just redoes both on the
        replayed batch.

        The rows come from the WATERMARKED windowed aggregation in
        update mode: the state store carries each window's running
        average across micro-batch boundaries, so every emitted row is
        the full cumulative value and the keyed replace-merge converges
        to the true window average under ANY trigger alignment. The
        labels meet the predictions via the bucket equi-join in
        ``predictions()``.

        The aggregate is tiny (one row per window) but costs a full
        stateful pass. With 5 features Spark's ``auto`` solver is the
        normal-equation WLS (the L1 term solved by OWLQN on the driver),
        2 jobs per fit, not one job per L-BFGS iteration. Materializing
        the aggregate once, repartitioned (a shuffle barrier — coalesce
        would fold the stateful stage itself into one task) into one
        cached partition, lets the count (the emptiness gate), the fit
        and the labels merge all read that one partition instead of
        re-running the stateful pass."""
        windowed = batch_df.repartition(1).cache()
        try:
            if windowed.count() == 0:
                return
            assembled = self._assembler_agg.transform(windowed).select(
                "features", "label"
            )
            model = self._lr.fit(assembled)
            self.store.save(
                LinearCoefficients.of(model, self.feature_cols),
                "LinearCoefficients",
            )
            labels = windowed.select(
                "symbol",
                "window_start",
                F.col("label").alias("actual_price"),
            )
            idempotent_merge_parquet(
                self.spark, labels, self.labels_path,
                keys=["symbol", "window_start"],
            )
        finally:
            windowed.unpersist()

    def start_trainer_and_backfiller(self, available_now: bool = True,
                                     processing_time: str | None = "10 minutes"):
        """The one stateful query feeding both the model refit and the
        label merge (see _train_and_backfill_batch)."""
        windowed = windowed_features(
            self.normalized, self.feature_cols, self.window, self.watermark
        )
        return self._writer(
            windowed, self._train_and_backfill_batch,
            self.checkpoints["fused"], "update", available_now,
            processing_time,
        ).start()

    # ------------------------------------------------------------ start
    def _writer(self, df: DataFrame, fn, checkpoint: str, mode: str,
                available_now: bool, processing_time: str | None):
        writer = (
            df.writeStream.foreachBatch(fn)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer

    def start_predictor(self, available_now: bool = True,
                        processing_time: str | None = "1 second"):
        return self._writer(
            self.normalized, self._predict_batch, self.checkpoints["pred"], "append",
            available_now, processing_time,
        ).start()

    def run_available_now(self) -> None:
        """Deterministic replay: drain the source through the fused
        trainer+backfiller (one stateful pass publishes the model and
        merges the labels), then the predictor (which therefore always
        sees a trained model). Production starts the queries
        concurrently and awaits — see start_all."""
        for starter in (self.start_trainer_and_backfiller,
                        self.start_predictor):
            q = starter(available_now=True)
            q.awaitTermination()

    def start_all(self, triggers: dict[str, str] | None = None) -> list:
        """T8: the production app — the fused trainer+backfiller and the
        predictor, concurrently on processing-time triggers; caller
        awaits via spark.streams.awaitAnyTermination() (reference: :334).

        Concurrency-safe: the queries write disjoint locations (models/
        and labels/ merges vs predictions/ appends), so neither can
        clobber the other's in-flight output. ``triggers`` overrides the
        per-query cadence (production defaults mirror the reference:
        trainer 10 min, predictor 1 s); an unknown key raises
        ValueError before any query starts."""
        t = {"trainer": "10 minutes", "predictor": "1 second"}
        unknown = sorted(set(triggers or ()) - set(t))
        if unknown:
            raise ValueError(
                f"unknown triggers keys {unknown}; valid keys: {sorted(t)}"
            )
        t.update(triggers or {})
        return [
            self.start_trainer_and_backfiller(False, t["trainer"]),
            self.start_predictor(False, t["predictor"]),
        ]

    def compact_predictions(
        self,
        vacuum_keep: int = 2,
        vacuum_min_age_seconds: float | None = None,
        full: bool = False,
    ) -> int:
        """Maintenance: absorb the per-micro-batch ``batch=<id>`` dirs
        into a read-optimized, pred_date-hive-partitioned versioned
        generation whose sidecar records the absorbed batch-id high-
        watermark (see streaming.batchdir — the parquet rebuild of the
        reference's Cassandra-absorbs-appends property, ref
        NEW_train_offset_3_10min.py:259-270). PARTITION-SCOPED: each
        cycle rewrites only the pred_date partitions its fresh batches
        touch (for the live stream: today), carrying every other day
        forward by reference — maintenance stays O(new data) however
        old the table grows. Safe to run WHILE the predictor streams
        (only _SUCCESS-committed batch dirs absorb, never past an
        in-flight one). Run ``full=True`` on a slow cadence (e.g.
        daily) to collapse the reference chain into one self-contained
        generation. Returns the new watermark."""
        return compact_batch_dirs(
            self.spark,
            self.predictions_path,
            partition_by=["pred_date"],
            vacuum_keep=vacuum_keep,
            vacuum_min_age_seconds=vacuum_min_age_seconds,
            full=full,
        )

    def predictions(self) -> DataFrame:
        """The labeled predictions view: the exact predictions table
        (compacted generation ∪ fresh batch dirs — zero rows, not an
        exception, before the first batch lands) bucket equi-joined
        with the labels table (broadcast — one row per window).
        Label-less windows read as NULL, exactly like the reference's
        Cassandra rows before their backfill write.

        Existence of the labels table is decided by the FILESYSTEM, not
        by catching read errors: a corrupt or unreadable labels table
        raises instead of silently reading as 'nothing labeled yet'
        (the bare-except hazard the merge sink also guards against)."""
        from ..sources.sinks import _hadoop_path

        cols = [f.name for f in RAW_PREDICTIONS_SCHEMA.fields]
        preds = read_batch_table(
            self.spark, self.predictions_path, RAW_PREDICTIONS_SCHEMA
        ).select(*cols)  # canonical order whatever mix of layouts fed it
        fs, labels_p = _hadoop_path(self.spark, self.labels_path)
        if not fs.exists(labels_p):
            return preds.withColumn("label", F.lit(None).cast("double"))
        from ..sources.batch import read_parquet

        # versioned-aware: every labels merge commits a reader-atomic
        # generation, so a read never races a concurrent merge's commit
        # — a PLAIN labels dir from an older writer still resolves
        # through the same reader (passthrough branch)
        labels = read_parquet(self.spark, self.labels_path)
        bucketed = preds.withColumn(
            "window_start", F.window("event_time", self.window)["start"]
        )
        return (
            bucketed.join(
                F.broadcast(labels), ["symbol", "window_start"], "left"
            )
            .withColumn("label", F.col("actual_price"))
            .drop("actual_price", "window_start")
        )
