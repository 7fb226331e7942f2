"""Batch sources: parquet and JSON scans (SURVEY.md §2.1 S3, S11-S13).

The reference reads bronze/silver with inferred schemas
(reference: Deliverable_3/load_to_silver_layer.py:40-41) and lands
scraper output as JSON (reference: Batch Data Codes/hdfs.py:141-158).
We keep vectorized parquet reads on (the reference disabled them) and
expose explicit-schema JSON ingestion so Catalyst can prune/pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import NEWS_SCHEMA, TESTDATA_TABLES


def read_parquet(
    spark: SparkSession, path: str, generation: int | None = None
) -> DataFrame:
    """The reader for every parquet table this engine writes. A
    versioned root (sources.versioned — every keyed merge, key delete,
    compaction and optimize commits a reader-atomic generation) reads
    as its current committed generation, or as ``generation`` (time
    travel, see ``versioned.resolve_table``), in one scan that includes
    the partitions the generation carries by reference. A plain dir is
    one glob-escaped scan of ``path``. Lists the commit chain once."""
    from .versioned import (
        _read_generation,
        current_generation,
        generation_manifest,
        glob_escape,
        resolve_table,
    )

    if generation is None:
        gen = current_generation(spark, path)
    else:
        resolve_table(spark, path, generation)  # raises when unavailable
        gen = int(generation)
    if gen is None:
        return spark.read.parquet(glob_escape(path))
    manifest, plain = generation_manifest(spark, path, gen)
    return _read_generation(spark, path, gen, manifest, plain)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-provided synthetic table (TESTDATA.md).

    ``events.parquet`` carries TIMESTAMP(NANOS), which Spark's parquet
    reader rejects; we read it as long (legacy conf, session-settable)
    and convert exactly with integer division ns -> us (``div``, not
    ``/`` — float division would lose precision above 2^53).

    Precision assumption: Spark timestamps are microsecond-resolution,
    so sub-µs distinctions the DuckDB oracle could see are truncated
    here. Tie-sensitive queries (asof/lead ordering) are deterministic
    as long as the data doesn't distinguish events below 1 µs — true of
    the driver's generator.

    The session timezone is pinned to UTC at read time (not only in our
    session factory) so date/window bucketing matches the tz-naive
    DuckDB oracle even under the driver's vanilla SparkSession on a
    non-UTC host.

    Timestamp flavor is CANONICALIZED here, at the source boundary: the
    driver's generator has shipped ``ts`` as TIMESTAMP(NANOS) (read as
    long, converted exactly), as tz-tagged TIMESTAMP, and as untagged
    TIMESTAMP_NTZ across regenerations. Every consumer downstream
    (``unix_millis``, watermarks, window()) assumes one type, so the
    scan normalizes to session-tz TIMESTAMP (LTZ) — under the UTC pin
    above, NTZ -> LTZ is value-preserving. Without this, a driver-side
    data regeneration flips query plans from green to
    DATATYPE_MISMATCH (the round-5 bench outage).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(path)
    # every table, every timestamp column: orders/lineitem dates ship
    # as untagged timestamp[us] too, one regeneration away from the
    # same LTZ-only-function crash events.ts hit
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def footer_stats_aggregate(
    spark: SparkSession,
    path: str,
    min_max_cols: list[str] | None = None,
):
    """COUNT/MIN/MAX over a parquet table answered from FOOTER
    metadata — zero row groups decompressed. At 100 TB, "how many rows
    does this table have / what's its key range" is a monitoring query
    that should not cost a full scan; parquet footers already hold the
    answer per row group and Spark's DSv2 parquet source pushes the
    whole aggregation down (``PushedAggregation`` in the scan node)
    when no filter forces row inspection.

    The pushdown needs two session confs (V2 source + aggregate
    pushdown), which are flipped only around this read and restored —
    the rest of the engine stays on its default source path. Returns a
    one-row DataFrame already COLLECTED to a Row (the result is a
    handful of scalars; keeping it lazy would let the confs revert
    before execution)."""
    cols = min_max_cols or []
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    prev_push = spark.conf.get("spark.sql.parquet.aggregatePushdown", None)
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in cols:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        df = spark.read.parquet(path).agg(*aggs)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        row = df.collect()[0]
        return row, ("PushedAggregation" in plan)
    finally:
        if prev_v1 is not None:
            spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)
        else:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        if prev_push is not None:
            spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_push)
        else:
            spark.conf.unset("spark.sql.parquet.aggregatePushdown")


def read_json_articles(spark: SparkSession, path: str) -> DataFrame:
    """News-article JSON ingestion with the explicit scraper schema
    (replaces the reference's bespoke WebHDFS writer + inferred read).
    """
    return spark.read.schema(NEWS_SCHEMA).json(path)


def land_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S11 write side: land records as JSON-lines, the bronze format the
    reference's scraper pushes through WebHDFS (reference:
    Batch Data Codes/hdfs.py:141-158) — distributed ``df.write.json``
    instead of a driver-side requests loop."""
    df.write.mode(mode).json(path)
