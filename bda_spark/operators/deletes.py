"""Deletion / tombstone propagation across the corpus and every
derived artifact — the takedown path a production LLM-data pipeline
needs: an opt-out, DMCA takedown, or re-licensed source must disappear
from the kept corpus AND from the signature/cell/code indexes built
over it, without a full rebuild.

The reference's only delete is a driver-side CQL loop
(Deliverable_4/remove_pred_minus1.py:13-29 — rewritten in-engine as a
filter by S15); its derived artifacts are append-only. Here every
artifact is deleted through ``sources.sinks.delete_keys_parquet``:
a reader-atomic generation commit, O(touched partitions) on hive
layouts, and a strict no-op on replay (0 hits -> no write), so the
delete composes with at-least-once delivery the same way the merges
do.

Tombstones close the RESURRECTION hole: the incremental ingest loops
(streaming.incremental) merge each micro-batch into the indexes
keyed by id, so replaying an OLD batch that still contains a deleted
document would silently re-insert it — physical deletion alone is not
enough under at-least-once replay. ``delete_docs`` therefore also
upserts the ids into a small tombstones table, and the ingest loops
drop tombstoned ids from every batch before matching/merging
(``filter_tombstoned``). The tombstones table is tiny (one row per
ever-deleted id), broadcast-joined against each batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localrows import rows_frame
from ..sources.batch import read_parquet
from ..sources.sinks import (
    _hadoop_path,
    delete_keys_parquet,
    idempotent_merge_parquet,
)

__all__ = [
    "delete_docs",
    "filter_tombstoned",
    "read_tombstones",
    "vacuum_tombstones",
]


def _ids_frame(spark: SparkSession, ids, id_col: str) -> DataFrame:
    """Normalize a python list / single-column DataFrame of ids to a
    distinct one-column frame named ``id_col``. List ids infer their
    Spark type from the first element (int -> long, str -> string) so
    string-keyed artifacts join on the right type instead of silently
    coercing; mixed-type lists are rejected rather than mistyped."""
    if isinstance(ids, DataFrame):
        src = ids.columns[0] if id_col not in ids.columns else id_col
        return ids.select(F.col(src).alias(id_col)).distinct()
    ids = list(ids)
    if not ids:
        return rows_frame(spark, [], f"{id_col} long")
    if isinstance(ids[0], str):
        if not all(isinstance(i, str) for i in ids):
            raise TypeError("delete ids mix str and non-str keys")
        return rows_frame(
            spark, [(i,) for i in ids], f"{id_col} string"
        ).distinct()
    return rows_frame(
        spark, [(int(i),) for i in ids], f"{id_col} long"
    ).distinct()


def read_tombstones(
    spark: SparkSession, tombstones_path: str, id_col: str = "doc_id"
) -> DataFrame | None:
    """The tombstones table at ``tombstones_path``, or None if no
    delete has ever been recorded there. Every tombstone upsert commits
    a versioned generation (see ``delete_docs``), so this resolves the
    current one — a reader racing a concurrent upsert sees the previous
    complete generation, never a missing or half-written table it could
    read as "no tombstones" and skip filtering."""
    fs, p = _hadoop_path(spark, tombstones_path)
    if not fs.exists(p):
        return None
    return read_parquet(spark, tombstones_path).select(id_col)


def filter_tombstoned(
    df: DataFrame,
    tombstones_path: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop rows whose ``id_col`` has been tombstoned. No-op (and no
    extra scan in the plan) when the tombstones table does not exist.
    The ingest loops call this on every micro-batch so a replayed old
    batch cannot resurrect a deleted document; the table is one row
    per ever-deleted id, so the anti-join broadcasts."""
    ts = read_tombstones(df.sparkSession, tombstones_path, id_col)
    if ts is None:
        return df
    return df.join(
        F.broadcast(ts.withColumnRenamed(id_col, "_ts_id")),
        df[id_col] == F.col("_ts_id"),
        "left_anti",
    )


def delete_docs(
    spark: SparkSession,
    ids,
    *,
    corpus_path: str | None = None,
    minhash_index_path: str | None = None,
    semantic_index_path: str | None = None,
    ivf_sq8_index_path: str | None = None,
    pq_codes_path: str | None = None,
    flags_paths: tuple | list = (),
    tombstones_path: str | None = None,
    id_col: str = "doc_id",
    vec_ids=None,
) -> dict:
    """Propagate a document deletion to every artifact that mentions
    it. ``ids`` is a python list of ids or a one-column DataFrame.
    Returns {artifact_name: rows_removed}; replaying the same delete
    removes 0 rows from every artifact and rewrites none of them
    (every underlying delete is hit-gated; the tombstone entry reports
    the id count and its upsert is an idempotent key merge).

    Artifacts and their delete shapes:

    - ``corpus_path``: the kept documents table (flat or versioned),
      keyed ``id_col``.
    - ``minhash_index_path``: ``dedup.minhash_index`` signatures (flat
      or versioned), keyed doc_id — a deleted doc stops matching in
      ``minhash_match_new`` immediately.
    - ``semantic_index_path``: ``similarity.semantic_index_build``
      root; its ``cells/`` table is hive-partitioned by centroid_id,
      so only the cells that held the doc's vector rewrite
      (O(touched cells)) — ``semantic_match_new`` stops matching.
    - ``ivf_sq8_index_path``: ``quantize.ivf_sq8_index_build`` root;
      same partition-scoped shape on ``codes/``.
    - ``pq_codes_path``: a persisted ``pq.pq_encode`` code table
      (flat), keyed vec_id.
    - ``flags_paths``: match-flag tables written by the incremental
      loops ((new_id, corpus_id, ...) rows); a row is removed if the
      deleted id appears on EITHER side.
    - ``tombstones_path``: upserts the ids so the ingest loops
      (``filter_tombstoned``) drop them from replayed batches.

    Embedding-keyed artifacts use ``vec_ids`` when the vector id space
    differs from the document id space; by default the ids are reused
    (the common pipeline contract vec_id == doc_id).
    """
    ids_df = _ids_frame(spark, ids, id_col)
    vecs_df = (
        _ids_frame(spark, vec_ids, "vec_id")
        if vec_ids is not None
        else ids_df.select(F.col(id_col).alias("vec_id"))
    )
    removed: dict[str, int] = {}
    if corpus_path:
        removed["corpus"] = delete_keys_parquet(
            spark, ids_df, corpus_path, keys=[id_col]
        )
    if minhash_index_path:
        removed["minhash_index"] = delete_keys_parquet(
            spark,
            ids_df.select(F.col(id_col).alias("doc_id")),
            minhash_index_path,
            keys=["doc_id"],
        )
    if semantic_index_path:
        removed["semantic_index"] = delete_keys_parquet(
            spark,
            vecs_df,
            f"{semantic_index_path.rstrip('/')}/cells",
            keys=["vec_id"],
            partition_col="centroid_id",
        )
    if ivf_sq8_index_path:
        removed["ivf_sq8_index"] = delete_keys_parquet(
            spark,
            vecs_df,
            f"{ivf_sq8_index_path.rstrip('/')}/codes",
            keys=["vec_id"],
            partition_col="centroid_id",
        )
    if pq_codes_path:
        removed["pq_codes"] = delete_keys_parquet(
            spark, vecs_df, pq_codes_path, keys=["vec_id"]
        )
    for i, fp in enumerate(flags_paths):
        n = 0
        for side in ("new_id", "corpus_id"):
            n += delete_keys_parquet(
                spark,
                ids_df.select(F.col(id_col).alias(side)),
                fp,
                keys=[side],
            )
        removed[f"flags_{i}"] = n
    if tombstones_path:
        # the merge commits a reader-atomic generation, so an ingest
        # micro-batch's read_tombstones never sees a missing table and
        # silently skips filtering. The default vacuum grace (10 min)
        # keeps the superseded generation readable for in-flight batch
        # scans; the table is one row per ever-deleted id, so the
        # retained copies are tiny.
        # ``tombstoned_at`` funds the retention story
        # (vacuum_tombstones); a REPLAYED delete refreshes it — age
        # restarts from the latest delete, which only extends
        # retention, never shortens it.
        idempotent_merge_parquet(
            spark,
            ids_df.withColumn("tombstoned_at", F.current_timestamp()),
            tombstones_path,
            keys=[id_col],
        )
        removed["tombstoned"] = ids_df.count()
    return removed


def vacuum_tombstones(
    spark: SparkSession,
    tombstones_path: str,
    max_age_seconds: float,
    id_col: str = "doc_id",
) -> int:
    """Retention for the tombstones table — the lifecycle half the
    r11 VERDICT flagged (task 6): the table grows monotonically (one
    row per ever-deleted id) and is broadcast against every ingest
    micro-batch, so takedown-heavy deployments need a sweep. A
    tombstone exists ONLY to stop an at-least-once source replay from
    resurrecting its id; once the id is older than the maximum
    replayable source retention (Kafka topic retention, file-source
    backfill horizon — the caller knows it), no replayed batch can
    still carry it and the tombstone is dead weight. Pass that
    retention (plus slack) as ``max_age_seconds``.

    Removes every tombstone whose ``tombstoned_at`` is older than the
    cutoff and returns the count. The sweep IS ``delete_keys_parquet``
    — reader-atomic: an ingest batch reading
    concurrently sees the pre- or post-vacuum generation, never a
    half state. Rows from the pre-timestamp layout (no
    ``tombstoned_at`` column / null value) have UNKNOWN age and are
    never swept — conservative: an unswept tombstone costs bytes, a
    wrongly swept one re-admits a taken-down document."""
    fs, p = _hadoop_path(spark, tombstones_path)
    if not fs.exists(p):
        return 0
    full = read_parquet(spark, tombstones_path)
    if "tombstoned_at" not in full.columns:
        return 0
    cutoff = F.current_timestamp() - F.expr(
        f"INTERVAL {int(max_age_seconds)} SECONDS"
    )
    # Keyed on (id, tombstoned_at), NOT id alone: the doomed set is
    # computed from the generation current at THIS read, but
    # delete_keys_parquet re-pins its own (possibly newer) base
    # generation for the anti-join and CAS commit. A delete_docs
    # replay landing between the two reads REFRESHES tombstoned_at;
    # an id-only doomed set would still sweep that freshly-refreshed
    # row — the cross-writer lost-update window the CAS alone cannot
    # see (both writers commit in order, but the stale predicate
    # rides along). Matching the timestamp re-checks age against the
    # rows actually present at the delete's pinned generation: a
    # refreshed tombstone no longer matches and survives, preserving
    # the "age restarts only ever EXTENDS retention" contract.
    doomed = full.filter(
        F.col("tombstoned_at").isNotNull()
        & (F.col("tombstoned_at") < cutoff)
    ).select(id_col, "tombstoned_at")
    return delete_keys_parquet(
        spark, doomed, tombstones_path, keys=[id_col, "tombstoned_at"]
    )
