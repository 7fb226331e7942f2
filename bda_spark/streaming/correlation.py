"""Stream-stream windowed correlation join (SURVEY.md §3.3, §2.3 J1,
§2.4 A2/A7, §2.9 T1/T3/T5).

Two decoded tick streams are bucketed to 1-minute tumbling windows,
watermarked 10 minutes on both sides, inner-joined on bucket equality
(Spark plans a StreamingSymmetricHashJoin whose state both watermarks
bound), then each micro-batch computes per-bucket averages, the Pearson
correlation across buckets, and appends one summary row to the
``correlations`` table (reference: Deliverable_3/joined_streams.py:46-180).

Differences from the reference, per SURVEY §4: the summary row is one
two-level aggregation written in one Spark job instead of three
``collect()`` round-trips (ref :108-123), and rate limiting is the
Structured Streaming ``maxOffsetsPerTrigger`` / ``maxFilesPerTrigger``
knob, not the legacy DStream confs (ref :16-18).

The handler runs exactly one action per trigger, the summary's write,
so the join and its state-store commits run once per trigger.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def bucketed_feed(
    ticks: DataFrame,
    value_col: str,
    tag: str,
    bucket: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Project one feed to (timestamp, value), add event_time +
    watermark + 1-min bucket column (reference: joined_streams.py:46-83).
    Column names are tag-suffixed so the self-join is unambiguous.

    Order matters: the watermark is applied BEFORE the window column
    is derived, so the bucket carries the watermark — which is what
    lets bucket-equality serve as the join key for stream-stream
    OUTER joins ("watermark in the join keys"); with the window
    derived first, outer modes are rejected at analysis. The raw
    event-time column is then DROPPED: it carries the same watermark
    tag as the bucket, and a stream may expose at most one event-time
    column (consumers rebuild wall-clock times from the epoch-millis
    ``ts_{tag}``, which stays)."""
    return (
        ticks.select(
            F.col("timestamp").alias(f"ts_{tag}"),
            F.col(value_col).cast("double").alias(f"val_{tag}"),
        )
        .withColumn(f"event_time_{tag}", F.timestamp_millis(F.col(f"ts_{tag}")))
        .withWatermark(f"event_time_{tag}", watermark)
        .withColumn(f"bucket_{tag}", F.window(F.col(f"event_time_{tag}"), bucket))
        .drop(f"event_time_{tag}")
    )


def bucket_join(a: DataFrame, b: DataFrame, how: str = "inner") -> DataFrame:
    """J1: join on 1-minute bucket equality; with both sides
    watermarked, Spark evicts join state past the watermark
    (reference: joined_streams.py:86-92).

    The condition is equality on the WINDOW STRUCT itself (not its
    unpacked fields): that is the form Spark's state-watermark
    derivation recognizes, which is what legalizes ``how="left_outer"``
    / ``"right_outer"`` — the outer modes the reference's inner-only
    app cannot express. Outer semantics under watermarks: an unmatched
    row is held in state and emitted null-padded only once the
    watermark passes its bucket (before that, a match could still
    arrive), so outer results trail the data by the watermark delay —
    the correct price of a correct answer on an infinite stream."""
    return a.join(b, F.col("bucket_a") == F.col("bucket_b"), how)


class CorrelationPipeline:
    """The A-B correlation app over two tick feeds (e.g. BP price vs
    ETHEREUM ask). Appends rows shaped like schemas.CORRELATIONS_SCHEMA
    to a parquet ``correlations`` table."""

    def __init__(
        self,
        spark: SparkSession,
        ticks_a: DataFrame,
        ticks_b: DataFrame,
        work_dir: str,
        value_col_a: str = "price",
        value_col_b: str = "ask",
        pair_name: str = "BP-ETH",
        bucket: str = "1 minute",
        watermark: str = "10 minutes",
    ):
        self.spark = spark
        self.pair_name = pair_name
        self.correlations_path = os.path.join(work_dir, "correlations")
        self.checkpoint = os.path.join(work_dir, "checkpoints", "correlations")
        a = bucketed_feed(ticks_a, value_col_a, "a", bucket, watermark)
        b = bucketed_feed(ticks_b, value_col_b, "b", bucket, watermark)
        self.joined = bucket_join(a, b)

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Per-bucket averages -> Pearson corr across buckets -> one
        summary row, fully plan-side (no collect), in ONE aggregation:
        per bucket the value averages, the min and max of ``ts_a`` and
        the value sums and counts; across buckets the correlation of
        the averages, the min and max timestamps and the overall means
        (sums over counts, so each equals the ``avg`` over the joined
        rows). A batch whose corr is undefined (fewer than 2 buckets,
        an empty batch included) writes an empty ``batch=<id>`` dir,
        which reads as no row.

        The write is the handler's only action, so the stream-stream
        join and the state-store commits of its shuffle partitions run
        once per trigger."""
        buckets = batch_df.groupBy("bucket_a").agg(
            F.avg("val_a").alias("avg_a"),
            F.avg("val_b").alias("avg_b"),
            F.min("ts_a").alias("min_ts"),
            F.max("ts_a").alias("max_ts"),
            F.sum("val_a").alias("sum_a"),
            F.sum("val_b").alias("sum_b"),
            F.count("val_a").alias("n_a"),
            F.count("val_b").alias("n_b"),
        )
        out = (
            buckets.agg(
                F.corr("avg_a", "avg_b").alias("correlation"),
                F.min("min_ts").alias("window_start_ts"),
                F.max("max_ts").alias("window_end_ts"),
                F.try_divide(F.sum("sum_a"), F.sum("n_a")).alias("bp_price"),
                F.try_divide(F.sum("sum_b"), F.sum("n_b")).alias("eth_ask"),
            )
            .filter(F.col("correlation").isNotNull())
            .select(
                F.lit(self.pair_name).alias("symbol"),
                F.col("window_start_ts").alias("timestamp"),
                F.timestamp_millis("window_start_ts").alias("event_time"),
                "window_start_ts",
                "window_end_ts",
                "correlation",
                "bp_price",
                "eth_ask",
            )
        )
        # batch-scoped overwrite: an at-least-once replay of this batch
        # rewrites its own summary instead of appending a duplicate
        # row; batches already absorbed by compact() are skipped (see
        # streaming.batchdir)
        from .batchdir import write_batch_dir

        write_batch_dir(out, self.correlations_path, batch_id)

    def start(
        self,
        available_now: bool = True,
        processing_time: str | None = "5 minutes",
    ):
        writer = self.joined.writeStream.foreachBatch(self._process_batch).option(
            "checkpointLocation", self.checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def compact(
        self,
        vacuum_keep: int = 2,
        vacuum_min_age_seconds: float | None = None,
    ) -> int:
        """Absorb the per-batch summary dirs into one compacted
        versioned generation (batch-id high-watermark recorded with the
        commit; see streaming.batchdir). One row lands per micro-batch,
        so this is pure small-file hygiene — run it on the maintenance
        cadence. ``vacuum_min_age_seconds`` None keeps superseded
        generations for ``versioned.DEFAULT_MAINTENANCE_MIN_AGE_SECONDS``
        so an in-flight ``correlations()`` reader keeps its files."""
        from .batchdir import compact_batch_dirs

        return compact_batch_dirs(
            self.spark,
            self.correlations_path,
            vacuum_keep=vacuum_keep,
            vacuum_min_age_seconds=vacuum_min_age_seconds,
        )

    def correlations(self) -> DataFrame:
        """The exact summary table at any instant — compacted
        generation ∪ fresh batch dirs; an empty typed frame (not an
        exception) before the first summary lands."""
        from ..schemas import CORRELATIONS_SCHEMA
        from .batchdir import read_batch_table

        cols = [f.name for f in CORRELATIONS_SCHEMA.fields]
        return read_batch_table(
            self.spark, self.correlations_path, CORRELATIONS_SCHEMA
        ).select(*cols)
