"""Sinks (SURVEY.md §2.1 S4, S6, S7).

Replaces the reference's driver-side ``collect()`` + per-row CQL INSERT
loop (reference: Deliverable_4/load_to_gold_layer.py:76-97) with
distributed ``df.write``; adds an idempotent key-based merge used by the
label-backfill stream in place of Cassandra read-modify-write
(reference: NEW_train_offset_3_10min.py:301-325), and its removal twin,
the key delete.

The merge and the delete rewrite an existing table through the one
protocol in ``sources.versioned.rewrite_generation``: each commits a
new reader-atomic generation, pinned to the generation it read and
guarded by a compare-and-swap, so a concurrent reader never sees a
missing or partial table and a racing writer makes this one rerun
instead of silently losing either commit. Read the tables they write
with ``sources.batch.read_parquet``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .versioned import (  # noqa: F401  (_hadoop_path: shared import point)
    Base,
    Rewrite,
    _hadoop_path,
    rewrite_generation,
)


def overwrite_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Silver/gold table overwrite; partitioned at scale so downstream
    scans partition-prune (the reference wrote unpartitioned tables)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def idempotent_merge_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str | None = None,
    vacuum_keep: int = 2,
    vacuum_min_age_seconds: float | None = None,
) -> None:
    """Upsert-by-primary-key semantics over a parquet table.

    Equivalent of Cassandra's PK overwrite the reference relies on for
    label backfill: rows in ``updates`` replace existing rows with the
    same key; others are kept (a Delta/Iceberg MERGE on a real
    deployment). Replaying the same updates changes nothing.

    With ``partition_col`` set (a column of ``updates`` whose value
    must be a stable function of the key — a key never moves between
    partitions, which holds for time-bucketed layouts like
    window/date), the table is laid out hive-partitioned on that
    column and the merge is PARTITION-SCOPED: only the partitions
    present in ``updates`` are read (partition-pruned scan), merged
    and written into the new generation; every untouched partition
    carries forward by reference, so write amplification is bounded by
    the touched-partition volume, not the table size. Without it the
    merge rewrites the whole table — the small-table shape.

    Schema evolution: ``allowMissingColumns`` — an upgraded writer
    adding a column (e.g. ``delete_docs`` growing tombstones a
    ``tombstoned_at``) merges into the legacy table it inherits instead
    of raising NUM_COLUMNS_MISMATCH after the caller's physical deletes
    already ran; legacy rows get NULL in the new column, which
    downstream readers treat conservatively (``vacuum_tombstones``
    never sweeps unknown-age rows). A partition-scoped merge whose
    rows change the table's columns or types rewrites the whole table,
    because every file of a generation is read with one schema.

    ``vacuum_keep`` / ``vacuum_min_age_seconds`` tune the retention of
    superseded generations: commit-count retention alone gives rapidly
    merged tables (per-micro-batch upserts) a reader grace window of
    only ``vacuum_keep - 1`` merges, so the min age DEFAULTS to
    ``versioned.DEFAULT_MAINTENANCE_MIN_AGE_SECONDS`` (10 min) — a
    reader that resolved a generation always gets at least that long
    to finish its scan no matter how fast merges land. Batch callers
    that want immediate reclamation pass 0.0 explicitly. The flip side
    is STORAGE: a whole-table merge retains one superseded copy per
    merge inside the window, so a fast trigger merging a large
    unpartitioned table should opt DOWN to roughly its slowest expected
    scan, or merge partition-scoped."""
    keyset = updates.select(*keys).distinct()

    def merge(rows: DataFrame) -> DataFrame:
        return rows.join(keyset, on=keys, how="left_anti").unionByName(
            updates, allowMissingColumns=True
        )

    def plan(base: Base) -> Rewrite:
        existing = base.read()
        if existing is None:
            return Rewrite(updates, partition_col=partition_col)
        if partition_col is None:
            return Rewrite(merge(existing))
        touched = [
            r[0] for r in updates.select(partition_col).distinct().collect()
        ]
        merged = merge(base.scope(existing, partition_col, touched))
        if _file_columns(merged, partition_col) != _file_columns(
            existing, partition_col
        ):
            # a new column or type: every file the table's one scan
            # reads must share one schema, so rewrite them all
            return Rewrite(merge(existing), partition_col=partition_col)
        return Rewrite(merged, touched, partition_col)

    rewrite_generation(
        spark,
        path,
        plan,
        vacuum_keep=vacuum_keep,
        vacuum_min_age_seconds=vacuum_min_age_seconds,
    )


def _file_columns(df: DataFrame, partition_col: str) -> dict[str, str]:
    """Name -> type of the columns ``df``'s rows store in a data file
    (parquet matches them by name, so order is free); the partition
    column lives in the directory name instead."""
    return {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
        if f.name != partition_col
    }


# ---------------------------------------------------------------------------
# Key-based DELETE — the removal twin of idempotent_merge_parquet.
# The reference's only delete is a driver-side CQL loop
# (remove_pred_minus1.py:13-29, rewritten as a filter by S15); derived
# artifacts (signature/cell/code indexes) need a real propagating
# delete for takedown / opt-out / re-licensing events, and it must be
# O(touched partitions), reader-atomic, and a strict no-op on replay
# (at-least-once delivery replays deletes like everything else).


def delete_keys_parquet(
    spark: SparkSession,
    ids: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str | None = None,
    vacuum_keep: int = 2,
    vacuum_min_age_seconds: float | None = None,
) -> int:
    """Remove every row of the parquet table at ``path`` whose ``keys``
    tuple appears in ``ids`` (a DataFrame carrying exactly the key
    columns). Returns the number of rows removed; 0 means the table
    was NOT rewritten at all — a replayed delete is a pure read (and a
    missing table reads as 0).

    Whole-table by default: an anti-join into a new generation. With
    ``partition_col`` (a hive-partitioned table): one semi-join finds
    the partitions holding doomed rows and counts them, then ONLY those
    partitions are rewritten into the new generation — O(touched
    partitions); a partition whose rows are all doomed is gone, and
    every other partition carries by reference. Commits, retention and
    the race guard are the merge's (``idempotent_merge_parquet``)."""
    ids = ids.select(*keys).distinct()

    def plan(base: Base) -> Rewrite:
        existing = base.read()
        if existing is None:
            return Rewrite(result=0, commit=False)
        doomed = existing.join(ids, on=keys, how="left_semi")
        if partition_col is None:
            removed = doomed.count()
            if removed == 0:
                return Rewrite(result=0, commit=False)
            kept = existing.join(ids, on=keys, how="left_anti")
            return Rewrite(kept, result=int(removed))
        counts = doomed.groupBy(partition_col).count().collect()
        if not counts:
            return Rewrite(result=0, commit=False)
        touched = [r[0] for r in counts]
        kept = base.scope(existing, partition_col, touched).join(
            ids, on=keys, how="left_anti"
        )
        return Rewrite(
            kept, touched, partition_col, result=int(sum(r[1] for r in counts))
        )

    return rewrite_generation(
        spark,
        path,
        plan,
        vacuum_keep=vacuum_keep,
        vacuum_min_age_seconds=vacuum_min_age_seconds,
    )
