"""Cost-gated scan spreading (functions.spread, r17 guide §2.5).

The r16 blanket repartition-after-read measured +42% and was rejected;
the r17 helper must therefore (a) refuse to add an exchange anywhere
the gate says it buys nothing — tiny, unsized and already-wide
inputs — and (b) leave every consumer's RESULT bit-identical when it
does fire (round-robin placement feeds only order-insensitive
consumers)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bda_spark.functions.spread import spread_scan


def _partitions(df) -> int:
    return df.rdd.getNumPartitions()


def test_tiny_input_is_untouched(spark):
    df = spark.range(10)
    out = spread_scan(df, 1024 * 1024)
    assert out is df  # no-op, not even a new plan node


def test_underparallelized_input_spreads_to_cost_target(spark):
    # range stats: 8 bytes/row -> 80k rows ~ 640 KB; at 64 KB/task the
    # gate wants ~10 tasks but caps at defaultParallelism
    df = spark.range(80_000).coalesce(1)
    out = spread_scan(df, 64 * 1024)
    par = spark.sparkContext.defaultParallelism
    assert 1 < _partitions(out) <= par


def test_already_parallel_input_is_untouched(spark):
    """The gate reads the planner's REAL width: an input that already
    plans multi-task (here: defaultParallelism range partitions, like
    a multi-file table) is never re-exchanged — the 100 TB shape,
    and the measured 10-file-rung regression the r17 gate fixed."""
    df = spark.range(80_000)  # 640 KB over defaultParallelism partitions
    assert spread_scan(df, 64 * 1024) is df


def test_unsized_rdd_input_is_untouched(spark):
    """An RDD-backed frame has no Catalyst size estimate: its
    sizeInBytes is the Long.MaxValue fallback. That must read as
    "unknown", not as a huge input — a one-partition in-memory frame
    gets no RoundRobin exchange."""
    rdd = spark.sparkContext.parallelize([(i, f"doc {i}") for i in range(100)], 1)
    df = spark.createDataFrame(rdd, "doc_id long, text string")
    assert _partitions(df) == 1
    out = spread_scan(df, 64 * 1024)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan, plan
    assert out is df


def test_shingles_identical_with_and_without_spread(spark, monkeypatch):
    import bda_spark.operators.dedup as dedup

    rows = [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} shared common tail") for i in range(200)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    plain = sorted(dedup.shingles(docs).collect())
    # force the gate to fire (1 byte/task => want = defaultParallelism)
    monkeypatch.setattr(dedup, "GRAM_BYTES_PER_TASK", 1)
    spread = sorted(dedup.shingles(docs).collect())
    assert plain == spread


def test_positional_grams_identical_with_and_without_spread(spark, monkeypatch):
    import bda_spark.operators.dedup as dedup

    rows = [(i, "a quick brown fox jumps over the lazy dog " + str(i)) for i in range(100)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    plain = sorted(dedup.positional_grams(docs, 3).collect())
    monkeypatch.setattr(dedup, "GRAM_BYTES_PER_TASK", 1)
    spread = sorted(dedup.positional_grams(docs, 3).collect())
    assert plain == spread


def test_spearman_materialize_knob_shapes_and_values(spark, sf_dir):
    """ADVICE r16: spearman(materialize=False) keeps the plan lazy end
    to end (fault-tolerant — no executor-local checkpoint anywhere),
    while the default materializes the shared histogram; both shapes
    agree numerically. (The r17 one-pass joint-histogram fusion was
    built, measured SLOWER at sf0.1 — 3.14 s vs 2.14 s interleaved —
    and rejected; see the spearman docstring.)"""
    from bda_spark.functions.stats import spearman
    from bda_spark.sources.batch import load_table

    e = load_table(spark, sf_dir, "events")
    mat = spearman(e, "value", "user_id")
    lazy = spearman(e, "value", "user_id", materialize=False)
    lazy_plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in lazy_plan, lazy_plan  # no checkpoint
    a = mat.collect()[0]["spearman"]
    b = lazy.collect()[0]["spearman"]
    assert a == pytest.approx(b, abs=1e-9)
