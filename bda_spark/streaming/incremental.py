"""Streaming incremental dedup: match a LIVE document stream against a
persisted MinHash signature index, and grow the index with each
micro-batch — the production loop a corpus ingest runs (the batch twin
is ``operators.dedup.minhash_index`` / ``minhash_match_new``; this
wires it into Structured Streaming's foreachBatch).

Per micro-batch:
  1. signatures of the batch are computed once (one shingle pass over
     the batch only — the corpus is NEVER re-shingled),
  2. the batch is banded against the CURRENT index (pass
     ``max_bucket_size`` to cap hot corpus posting lists; the chained
     cap is RECALL-SAFE for near-identical hot clusters — see
     ``minhash_match_new`` and the
     ``minhash_bucket_truncation`` exposure audit) and flagged matches
     land in ``flags_path``,
  3. the batch's signatures merge into ``index_path`` so LATER batches
     dedup against everything seen so far.

Both writes go through ``idempotent_merge_parquet`` keyed by document
id, so a replayed micro-batch (foreachBatch is at-least-once after a
failure) upserts instead of duplicating — the restart-safety contract
the rest of the streaming layer follows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import minhash_index, minhash_match_new
from ..sources.batch import read_parquet
from ..sources.sinks import _hadoop_path, idempotent_merge_parquet


def stream_dedup_against_index(
    stream_docs: DataFrame,
    index_path: str,
    flags_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    band_rows: int = 2,
    seed: int = 42,
    available_now: bool = False,
    max_bucket_size: int | None = None,
    vacuum_min_age_seconds: float = 60.0,
    tombstones_path: str | None = None,
):
    """Start the incremental-dedup stream over ``stream_docs`` (a
    streaming DataFrame carrying ``id_col`` + ``text_col``). Returns
    the StreamingQuery. ``index_path`` may start empty (first batch
    bootstraps it) or point at a corpus-built ``minhash_index``.

    Ordering note: batches are processed serially by the engine, so
    "earlier batch" is well-defined; duplicates WITHIN one micro-batch
    are not flagged against each other (they all match the pre-batch
    index only) — run the batch ``dedup_corpus`` on the landed corpus
    for intra-batch collapse, or keep micro-batches small enough that
    intra-batch dups are rare."""
    spark = stream_docs.sparkSession

    def _process(batch: DataFrame, batch_id: int) -> None:
        # an at-least-once source can deliver the same doc twice WITHIN
        # one micro-batch; the keyed merge dedups only against rows
        # already in the table, so duplicate ids must collapse here or
        # they'd sit in the index (and fan out candidate pairs) forever
        batch = batch.select(id_col, text_col).dropDuplicates([id_col])
        if tombstones_path:
            # a replayed OLD batch may still carry a doc deleted by
            # operators.deletes.delete_docs since — merging it back
            # would resurrect the takedown; drop tombstoned ids first
            from ..operators.deletes import filter_tombstoned

            batch = filter_tombstoned(batch, tombstones_path, id_col)
        sigs = minhash_index(
            batch, id_col, text_col, ngram, num_hashes, seed
        ).localCheckpoint(eager=True)
        fs, index_p = _hadoop_path(spark, index_path)
        if fs.exists(index_p):
            # read_parquet resolves versioned roots (every merge
            # commits one); a raw spark.read.parquet would see only
            # the underscore-prefixed generation dirs and fail
            index = read_parquet(spark, index_path)
            # redelivery guard: a doc whose id is ALREADY indexed was
            # processed by an earlier (possibly crashed) attempt — it
            # must not be re-flagged against itself or against
            # near-dups that arrived after it. Only genuinely-new ids
            # are matched; the signature merge below is a keyed upsert
            # either way.
            fresh = sigs.join(index.select("doc_id"), "doc_id", "left_anti")
            flags = minhash_match_new(
                batch,
                index,
                threshold=threshold,
                id_col=id_col,
                text_col=text_col,
                ngram=ngram,
                num_hashes=num_hashes,
                band_rows=band_rows,
                seed=seed,
                max_bucket_size=max_bucket_size,
                new_sigs=fresh,
            )
            idempotent_merge_parquet(
                spark, flags, flags_path, keys=["new_id", "corpus_id"],
                vacuum_min_age_seconds=vacuum_min_age_seconds,
            )
        # vacuum grace on a VERSIONED index is a storage trade: each
        # micro-batch merge commits a full new generation, so the
        # retained-copy count is (grace / trigger-period). The module's
        # 10-min maintenance default would hold ~600 full index copies
        # at a 1 s trigger; this sink defaults to 60 s — longer than
        # any sane scan of a micro-batch-merged table, bounded at ~60
        # retained copies worst-case — and exposes the knob for slow
        # dashboard readers (raise it) or offline runs (0.0)
        idempotent_merge_parquet(
            spark, sigs, index_path, keys=["doc_id"],
            vacuum_min_age_seconds=vacuum_min_age_seconds,
        )

    writer = (
        stream_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_semantic_dedup_against_index(
    stream_embeddings: DataFrame,
    index_path: str,
    flags_path: str,
    checkpoint: str,
    threshold: float = 0.9,
    n_probe: int = 1,
    n_centroids: int = 64,
    seed: int = 42,
    available_now: bool = False,
    vacuum_min_age_seconds: float = 60.0,
    tombstones_path: str | None = None,
):
    """The SemDeDup twin of ``stream_dedup_against_index``: match each
    micro-batch of (vec_id, embedding) against the persisted
    ``semantic_index_build`` artifact, land (new_id, corpus_id,
    cosine) flags, then upsert the batch into the index so LATER
    batches dedup against everything seen. Same restart-safety
    contract: both writes are keyed idempotent merges, already-indexed
    ids are filtered before matching (a replayed batch re-flags
    nothing), duplicates within one micro-batch collapse by id.

    Bootstrap: a missing index trains centroids on the FIRST batch
    (production pre-builds from the landed corpus instead — a batch-
    sized sample prices cells exactly like the sample-trained IVF
    fit, but a skewed first batch starts skewed). Drift: the append
    reports cell-size skew; when ``needs_retrain`` fires this sink
    keeps going — within-cell matching stays correct, only hot-cell
    read cost degrades — and the CALLER schedules the off-peak
    ``semantic_index_build`` rebuild, the same division of labor as
    ``ivf_sq8_index_append``."""
    from ..operators.similarity import (
        semantic_index_append,
        semantic_index_build,
        semantic_match_new,
    )

    spark = stream_embeddings.sparkSession

    def _process(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select("vec_id", "embedding").dropDuplicates(
            ["vec_id"]
        )
        if tombstones_path:
            # same resurrection guard as the minhash loop (see
            # operators.deletes): replayed pre-delete batches must not
            # re-insert a taken-down vector
            from ..operators.deletes import filter_tombstoned

            batch = filter_tombstoned(batch, tombstones_path, "vec_id")
        fs, cells_p = _hadoop_path(spark, f"{index_path.rstrip('/')}/cells")
        if not fs.exists(cells_p):
            semantic_index_build(
                batch, index_path, n_centroids=n_centroids, seed=seed
            )
            return
        indexed = read_parquet(
            spark, f"{index_path.rstrip('/')}/cells"
        ).select("vec_id")
        fresh = batch.join(indexed, "vec_id", "left_anti").localCheckpoint(
            eager=True
        )
        flags = semantic_match_new(
            spark, index_path, fresh, threshold=threshold, n_probe=n_probe
        )
        idempotent_merge_parquet(
            spark,
            flags,
            flags_path,
            keys=["new_id", "corpus_id"],
            vacuum_min_age_seconds=vacuum_min_age_seconds,
        )
        semantic_index_append(spark, index_path, fresh)

    writer = (
        stream_embeddings.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_corpus_ingest(
    stream_docs: DataFrame,
    benchmark: DataFrame,
    corpus_path: str,
    index_path: str,
    fates_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    min_quality: float = 0.0,
    decontam_ngram: int = 13,
    ngram: int = 3,
    num_hashes: int = 64,
    band_rows: int = 2,
    seed: int = 42,
    max_bucket_size: int | None = None,
    available_now: bool = False,
    vacuum_min_age_seconds: float = 60.0,
    tombstones_path: str | None = None,
):
    """The STREAMING twin of ``plans.datamix.corpus_build_pipeline`` —
    the full training-data ingest loop as one foreachBatch pipeline.
    Each micro-batch of (doc_id, text) runs the same stage order as
    the batch build, and every document lands EXACTLY ONE fate row:

        near-dup vs the growing KEPT-corpus MinHash index -> "neardup"
        fixed quality gate (score < ``min_quality``)      -> "quality"
        benchmark n-gram overlap                          -> "contaminated"
        survivors                                         -> "kept"

    Kept docs merge into ``corpus_path``; their signatures merge into
    ``index_path`` so later batches dedup against the corpus so far;
    fates merge into ``fates_path`` (the audit trail — every ingested
    byte that fails to reach training is attributable to a stage).

    Deliberate streaming-vs-batch deltas, each the principled choice:

    - The index holds KEPT docs only. A later twin of a REMOVED doc is
      judged on its own merits — its twin never entered the corpus, so
      flagging it as a duplicate would drop content the training set
      does not contain. (Quality/contamination verdicts are
      doc-local, so the twin of a gated doc fails the same gate by
      itself whenever it is close enough to matter.)
    - The quality gate is a FIXED threshold, not the batch build's
      corpus-relative percentile — price it from the landed corpus
      with ``plans.datamix.quality_cutoff`` and re-price on your own
      schedule; a micro-batch has no stable distribution to rank
      against. Default 0.0 = gate off.
    - Benchmark shingles are computed ONCE at stream start (broadcast
      into every batch's join) — the eval suite does not change per
      micro-batch.
    - Intra-batch near-dups are not flagged against each other (both
      may be kept) — same contract as ``stream_dedup_against_index``;
      run the batch ``dedup_corpus`` over the landed corpus for a
      final intra-corpus collapse, or keep micro-batches small.

    Restart safety: all three writes are keyed idempotent merges and
    already-INDEXED (kept) ids skip reprocessing; a replayed batch
    re-derives identical fates for removed docs and upserts them — a
    no-op in content."""
    from ..operators.dedup import shingles
    from ..plans.datamix import contamination_hits

    spark = stream_docs.sparkSession
    bench_shingles = (
        shingles(benchmark, n=decontam_ngram)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _process(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select("doc_id", "text").dropDuplicates(["doc_id"])
        if tombstones_path:
            # resurrection guard (operators.deletes): a replayed
            # pre-delete batch must not re-land a taken-down doc in
            # the corpus or the index
            from ..operators.deletes import filter_tombstoned

            batch = filter_tombstoned(batch, tombstones_path, "doc_id")
        sigs = minhash_index(
            batch, "doc_id", "text", ngram, num_hashes, seed
        ).localCheckpoint(eager=True)
        fs, index_p = _hadoop_path(spark, index_path)
        have_index = fs.exists(index_p)
        if have_index:
            index = read_parquet(spark, index_path)
            fresh_sigs = sigs.join(
                index.select("doc_id"), "doc_id", "left_anti"
            )
            fresh = batch.join(index.select("doc_id"), "doc_id", "left_anti")
            flags = minhash_match_new(
                fresh,
                index,
                threshold=threshold,
                ngram=ngram,
                num_hashes=num_hashes,
                band_rows=band_rows,
                seed=seed,
                max_bucket_size=max_bucket_size,
                new_sigs=fresh_sigs,
            )
            dup_ids = (
                flags.select(F.col("new_id").alias("doc_id"))
                .distinct()
                .localCheckpoint(eager=True)
            )
        else:
            fresh, fresh_sigs = batch, sigs
            from ..functions.localrows import rows_frame

            dup_ids = rows_frame(spark, [], "doc_id long")
        survivors = fresh.join(dup_ids, "doc_id", "left_anti")
        toks = F.filter(F.split("text", " "), lambda x: x != "")
        score = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
            F.size(toks), F.lit(1)
        )
        low_ids = (
            survivors.filter(score < float(min_quality))
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        survivors = survivors.join(low_ids, "doc_id", "left_anti")
        hit_ids = (
            contamination_hits(
                survivors,
                None,
                n=decontam_ngram,
                benchmark_shingles=bench_shingles,
            )
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        kept = survivors.join(hit_ids, "doc_id", "left_anti")
        kept_ids = kept.select("doc_id").localCheckpoint(eager=True)
        fates = (
            dup_ids.withColumn("fate", F.lit("neardup"))
            .unionByName(low_ids.withColumn("fate", F.lit("quality")))
            .unionByName(hit_ids.withColumn("fate", F.lit("contaminated")))
            .unionByName(kept_ids.withColumn("fate", F.lit("kept")))
        )
        idempotent_merge_parquet(
            spark, kept, corpus_path, keys=["doc_id"],
            vacuum_min_age_seconds=vacuum_min_age_seconds,
        )
        idempotent_merge_parquet(
            spark, fates, fates_path, keys=["doc_id"],
            vacuum_min_age_seconds=vacuum_min_age_seconds,
        )
        idempotent_merge_parquet(
            spark,
            fresh_sigs.join(kept_ids, "doc_id", "left_semi"),
            index_path,
            keys=["doc_id"],
            vacuum_min_age_seconds=vacuum_min_age_seconds,
        )

    writer = (
        stream_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
