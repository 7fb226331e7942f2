"""Cost-gated scan spreading (guide §2.5 "input skew" / §1.2 step 1).

A parquet ROW GROUP is the unit of scan parallelism: a table written as
one file with one row group scans as exactly ONE task no matter how
many cores the cluster has (the driver's test tables all ship that
way, and a gzip file or a badly compacted table does the same thing in
production). For most operators that is irrelevant — the scan is a
sliver of the query — but a stage whose PER-ROW cost is high (n-gram
shingling + 64 minhash lanes, positional-gram explosion, wide exact-
decimal aggregation buffers) then runs its whole per-row bill on one
core while the rest of the box idles.

``spread_scan`` is the gated fix: round-robin repartition the rows to
``min(defaultParallelism, ceil(input_bytes / bytes_per_task))`` tasks,
but ONLY when the planner would otherwise underparallelize the input
(estimated scan tasks < that target). ``bytes_per_task`` is the
operator's declared cost class — how few input bytes justify one task
of downstream work — NOT a file-split size; 64 KiB is right for a
stage that explodes each row into dozens of hashed grams, and would be
absurd for a plain filter.

Why gating matters (r16, measured): BLANKET repartition-after-read
over every table cost +42% at bench scale — the exchange is pure
overhead wherever the downstream per-row cost is small. The r17 gate
inverts the decision: each call site opts in with its cost class, and
the helper refuses to add an exchange when the input already splits
wide enough (at 100 TB a corpus scan plans thousands of tasks, so
``have >= want`` short-circuits and the hot path is exchange-free —
the same shape the r16 plan audits pinned).

Scale behavior of the knobs:
- ``defaultParallelism`` caps the spread at cluster width (local[32]
  -> 32; a 1000-core cluster -> 1000) — scale-adaptive, not a local
  constant (round rules: no local[32]-only tuning).
- the "already parallel" check reads the planner's REAL scan width
  (physical partition count), so multi-file inputs — which plan wide
  on their own — are never re-exchanged (measured: widening a 10-task
  scan to 32 was 15% slower; widening a 1-task scan 1.06-1.30x
  faster).
- ``BDA_SPREAD_SCANS=0`` disables every spread (deployment kill
  switch, and the A/B lever the r17 measurements used).

Determinism: round-robin repartition sorts rows within each input
partition before assigning them (``spark.sql.execution.sortBeforeRepartition``,
on by default) so task retries reproduce the same placement; every
consumer downstream of a spread here is order-insensitive anyway
(groupBy aggregates, equi-joins, explode feeding aggregates).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame

# Cost classes (bytes of input that justify one task of downstream
# work). Chosen from r17 profiles: a shingling/gram stage spends
# ~1 s/MB of raw text on one core, so 64 KiB targets ~60 ms tasks;
# the exact-decimal aggregation buffer burns ~0.15 s/MB, so 1 MiB
# keeps its exchange amortized.
GRAM_BYTES_PER_TASK = 64 * 1024
AGG_BYTES_PER_TASK = 1024 * 1024

# Catalyst's "no statistics" fallback: an RDD-backed or otherwise
# unsized plan reports spark.sql.defaultSizeInBytes (Long.MaxValue,
# ~2**63), scaled by the row-width ratio of any projection above it.
# An estimate this large is "unknown", not a reason to spread.
_UNKNOWN_SIZE = 2**62


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df`` (for a parquet scan: the sum
    of the input file sizes, filters propagated), or None when Catalyst
    has none. Estimate-only — used to DECIDE a repartition, never to
    compute a result."""
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None
    return None if size >= _UNKNOWN_SIZE else size


def spread_scan(df: DataFrame, bytes_per_task: int) -> DataFrame:
    """Round-robin repartition ``df`` for a downstream high-per-row-cost
    stage — ONLY when the planner leaves it NEAR-SERIAL (module doc).
    Returns ``df`` unchanged whenever the exchange buys nothing: tiny
    or unsized input (< one task's worth, or no Catalyst estimate),
    input already multi-task, or the kill switch. Callers should
    project to the columns the heavy stage needs BEFORE spreading
    (guide §2.3: never exchange bytes the stage won't read).

    Gate detail (r17, measured): ``have`` is the planner's REAL scan
    width (``df.rdd.getNumPartitions()`` — one cheap physical-planning
    pass, no job), not a bytes estimate: a 10-file rung summing 2.5 MB
    estimated 1 task but actually scanned 10-wide, and spreading it
    32-wide measured 15% SLOWER (the exchange bought ~nothing). The
    spread therefore arms only below ``max(2, cores/8)`` planned tasks
    — the one-row-group / one-gzip pathology it exists for — and
    widening an already-parallel scan is left to the planner."""
    if os.environ.get("BDA_SPREAD_SCANS", "1").lower() in ("0", "false", "off"):
        return df
    size = _plan_size_bytes(df)
    if not size or size <= bytes_per_task:
        return df
    spark = df.sparkSession
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:
        return df
    want = min(int(par), math.ceil(size / bytes_per_task))
    if want <= 1:
        return df
    try:
        have = df.rdd.getNumPartitions()
    except Exception:
        return df
    if have >= max(2, int(par) // 8) or have >= want:
        return df
    return df.repartition(want)
