"""Data-quality expressions (SURVEY.md §2.2 P7-P10, §2.10 D8).

Sentinel repair mirrors the reference's conditional price fix
(reference: NEW_train_offset_3_10min_ETH.py:113-127) and the producer
validation constraints (reference: tests_pub_sub_schema.py:53-112),
expressed as pure Column logic so they run JVM-side under codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import SENTINEL, TICK_SOURCES


def repair_sentinel_price(
    price: str = "price", bid: str = "bid", ask: str = "ask"
) -> Column:
    """-1.0 price sentinel (XTB rows) repaired as bid/ask midpoint."""
    return F.when(F.col(price) == SENTINEL, (F.col(bid) + F.col(ask)) / 2.0).otherwise(
        F.col(price)
    )


def drop_sentinels(df: DataFrame, cols: list[str]) -> DataFrame:
    """Filter out rows where any given metric still carries the -1.0 sentinel."""
    cond = None
    for c in cols:
        this = F.col(c) != SENTINEL
        cond = this if cond is None else (cond & this)
    return df.filter(cond) if cond is not None else df


def validate_ticks(df: DataFrame) -> DataFrame:
    """Ingest-side constraint gate replicating the producer's 9 checks:
    required fields non-null, enum source/data_type, sentiment in [-1,1],
    activity in [0,100] (sentinel allowed), no future timestamps.

    The future-timestamp test compares inside a lambda
    (``exists(array(timestamp), t -> t <= now)``), a CodegenFallback
    expression: generated code calls it rather than inlining it. In a
    streaming micro-batch Spark replaces ``current_timestamp()`` with
    that batch's time after optimization; inlined, the time would make
    every batch's generated predicate a new source and a new Janino
    compile (one per trigger, forever, on a 1 s trigger). The price is
    an interpreted lambda per row, a one-element array and one
    comparison.
    """
    return df.filter(
        F.col("symbol").isNotNull()
        & F.col("timestamp").isNotNull()
        & F.col("source").isin(TICK_SOURCES)
        & (F.col("data_type") == "MARKET_DATA")
        & ((F.col("market_sentiment").between(-1.0, 1.0)) | (F.col("market_sentiment") == SENTINEL))
        & ((F.col("trading_activity").between(0.0, 100.0)) | (F.col("trading_activity") == SENTINEL))
        & F.exists(
            F.array("timestamp"), lambda t: t <= F.unix_millis(F.current_timestamp())
        )
    )
