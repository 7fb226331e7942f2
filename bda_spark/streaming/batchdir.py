"""Micro-batch-owned append dirs with versioned, partition-scoped
compaction — the replay-idempotent, bounded-file-count sink shape for
foreachBatch appenders (predictions, correlations).

Problem: foreachBatch is at-least-once after a failure, so a blind
``append`` lands a replayed batch twice; per-batch OVERWRITE of one
``batch=<id>`` subdirectory fixes replay (each batch owns its dir) but
grows one directory per micro-batch forever — the small-file path that
kills a 1-second-trigger table at scale. This module adds the
maintenance half: periodically ABSORB the batch dirs into a
read-optimized versioned generation (``sources.versioned`` — reader-
atomic commit markers) that records the max absorbed batch id as a
HIGH-WATERMARK sidecar, the property the reference got for free from
Cassandra's PK-upsert absorbing appends (reference:
NEW_train_offset_3_10min.py:259-270) rebuilt on parquet:

    table/
      batch=00000017/...        hot path: one dir per micro-batch
      _versions/gen-00000003/   compacted data (+ _watermark / _refs)
      _commits/00000003.…       atomic generation markers

- WRITE (per micro-batch): overwrite ``batch=<id>`` — minimum files,
  no shuffle, no hive splitting; the writer SKIPS ids at or below the
  compacted watermark, so a crash-replay of an already-absorbed batch
  is a no-op instead of resurrecting a stale dir.
- READ: compacted generation ∪ COMMITTED batch dirs above the
  watermark — exact at every instant. The compacted generation is one
  scan, its carried partitions included (``sources.versioned``); the
  batch dirs are classified by one ``globStatus`` and read by a second
  scan. A batch dir without its ``_SUCCESS`` marker is in flight (or a
  crashed write the stream will replay) and is skipped: its rows
  surface the moment the writer's job commits, never partially.
- COMPACT: PARTITION-SCOPED and incremental, committed through the
  one rewrite protocol (``sources.versioned.rewrite_generation``, as
  every merge, delete and OPTIMIZE is). Only the hive partitions the
  fresh batch dirs actually touch are merged and rewritten into the
  new generation; every untouched partition is carried forward BY
  REFERENCE in a ``_refs`` manifest (name -> holding generation, the
  Iceberg-manifest idea), so maintenance cost is O(new data +
  touched partitions), never O(accumulated table). The new watermark
  is written INSIDE the generation dir (atomic with the commit
  marker). ``sources.versioned.vacuum_versions`` understands the
  manifest: referenced generations are pinned (their superseded
  partitions pruned) until the last referencing generation leaves
  retention. A periodic ``full=True`` run is the major compaction
  that collapses the reference chain back to one self-contained
  generation, which releases the pinned holder generations.
- CLEANUP: absorbed batch dirs are NOT deleted by the compaction that
  absorbed them — they sit <= watermark where every reader and the
  writer already ignore them, and the NEXT compaction run sweeps
  them. That one-cycle grace period means a reader that listed the
  table just before the commit can finish scanning the dirs it
  resolved (the same retention contract the generation layout gives
  compacted data).

Concurrency with the live stream: compaction only absorbs batch dirs
that carry ``_SUCCESS``, and never absorbs PAST a missing one — a dir
mid-write (exists, no ``_SUCCESS`` yet) blocks itself and everything
after it from absorption until its writer commits or replays, so the
watermark can never advance over in-flight data and silently bury it.

At 100 TB: the hot path stays O(batch) with zero shuffle; file count
is bounded by (batches since last compaction + live partition
layout); compaction touches only the partitions new data landed in
(for a time-partitioned predictions table: today's partition, not the
year's); and inside a hot partition the rewrite is range-distributed
across tasks, not funneled through one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.versioned import (
    WATERMARK_FILE,
    Base,
    Rewrite,
    _cast,
    _gen_dir,
    _hadoop_path,
    _read_small_file,
    _write_small_file,
    commit_generation,
    current_generation,
    glob_escape,
    pin_generation,
    rewrite_generation,
)

BATCH_PREFIX = "batch="


def _batch_dirs(spark: SparkSession, root: str) -> dict[int, str]:
    """Existing ``batch=<id>`` dirs under ``root``: id -> path."""
    fs, root_p = _hadoop_path(spark, root)
    if not fs.exists(root_p):
        return {}
    out: dict[int, str] = {}
    for st in fs.listStatus(root_p):
        name = st.getPath().getName()
        if name.startswith(BATCH_PREFIX) and name[len(BATCH_PREFIX):].isdigit():
            out[int(name[len(BATCH_PREFIX):])] = f"{root.rstrip('/')}/{name}"
    return out


def _probe_batch_dirs(
    spark: SparkSession, root: str, dirs: dict[int, str]
) -> dict[int, tuple[bool, bool, bool]]:
    """(committed, has_data, hive) for EVERY batch dir in ONE metadata
    round-trip, a single ``globStatus(batch=*/*)``: committed = the
    writer's ``_SUCCESS`` marker landed; has_data = at least one data
    file exists (an empty-but-committed batch has only the marker);
    hive = the dir contains ``key=value`` subdirs, i.e. the
    PRE-batchdir layout (batch=<id>/pred_date=<d>/) that partition
    discovery cannot mix with flat batch dirs. A dashboard polling a
    1 s-trigger table between compactions pays one RPC, not one per
    batch. A dir with no children yet (writer mid-create) contributes
    no entries and reads as uncommitted. The root is glob-escaped, so
    a root like ``/data/runs[2024]/preds`` matches itself, not a
    character class."""
    if not dirs:
        return {}
    fs, _ = _hadoop_path(spark, root)
    glob = spark._jvm.org.apache.hadoop.fs.Path(
        f"{glob_escape(root.rstrip('/'))}/{BATCH_PREFIX}*/*"
    )
    out = {bid: [False, False, False] for bid in dirs}
    for st in fs.globStatus(glob) or []:
        parent = st.getPath().getParent().getName()
        bid_s = parent[len(BATCH_PREFIX):]
        if not (parent.startswith(BATCH_PREFIX) and bid_s.isdigit()):
            continue
        flags = out.get(int(bid_s))
        if flags is None:
            continue
        name = st.getPath().getName()
        if name == "_SUCCESS":
            flags[0] = True
        elif st.isDirectory() and "=" in name:
            flags[2] = True
        elif not name.startswith(("_", ".")):
            flags[1] = True
    return {bid: tuple(flags) for bid, flags in out.items()}


def _classify_fresh(
    spark: SparkSession, root: str, dirs: dict[int, str], wm: int
) -> tuple[dict[int, str], dict[int, str], int | None]:
    """Split the above-watermark batch dirs into (committed, with_data,
    first_uncommitted_id). Raises on a legacy hive-layout batch dir —
    that table needs ``migrate_batch_layout`` (offline) first."""
    committed: dict[int, str] = {}
    with_data: dict[int, str] = {}
    blocked: int | None = None
    fresh = {bid: p for bid, p in dirs.items() if bid > wm}
    probed = _probe_batch_dirs(spark, root, fresh)
    for bid in sorted(fresh):
        ok, has_data, hive = probed[bid]
        if hive:
            raise IOError(
                f"{dirs[bid]} uses the legacy nested layout "
                f"(batch=<id>/<col>=<val>/) — flat batch dirs cannot be "
                f"read alongside it (Spark partition discovery conflicts)."
                f" Run streaming.batchdir.migrate_batch_layout(spark, "
                f"{root!r}, partition_by=[...]) once, offline."
            )
        if not ok:
            if blocked is None:
                blocked = bid
            continue
        committed[bid] = fresh[bid]
        if has_data:
            with_data[bid] = fresh[bid]
    return committed, with_data, blocked


def legacy_layout_entries(spark: SparkSession, root: str) -> list[str]:
    """Root-level entries that belong to neither the batch-dir nor the
    versioned layout — i.e. data appended by a pre-batch-dir writer.
    Mixing the two layouts under one root fails Spark's partition
    discovery ('conflicting directory structures'), so both the writer
    and the reader refuse while these exist (run
    ``migrate_batch_layout`` once, offline)."""
    fs, root_p = _hadoop_path(spark, root)
    if not fs.exists(root_p):
        return []
    out = []
    for st in fs.listStatus(root_p):
        name = st.getPath().getName()
        if name.startswith((BATCH_PREFIX, "_", ".")):
            continue
        out.append(name)
    return sorted(out)


def _require_success_markers(spark: SparkSession) -> None:
    """The batch-dir protocol RELIES on the committer's ``_SUCCESS``
    marker (readers skip uncommitted dirs; compaction never absorbs
    past one). With ``mapreduce.fileoutputcommitter.marksuccessfuljobs``
    disabled — a setting some cloud deployments flip — every dir would
    read as in-flight forever: reads silently empty, the watermark
    frozen, batch dirs accumulating unboundedly. Fail LOUDLY at write
    time instead; an in-memory conf lookup, nothing filesystem-side."""
    conf = spark._jsc.hadoopConfiguration()
    val = conf.get("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
    if str(val).lower() == "false":
        raise IOError(
            "streaming.batchdir requires _SUCCESS markers, but "
            "mapreduce.fileoutputcommitter.marksuccessfuljobs=false in "
            "this session's Hadoop configuration — re-enable it (the "
            "marker is one empty file per micro-batch) or use a "
            "different sink"
        )


def _require_batch_layout(spark: SparkSession, root: str) -> None:
    legacy = legacy_layout_entries(spark, root)
    if legacy:
        raise IOError(
            f"{root} mixes a legacy append layout (root-level entries "
            f"{legacy[:5]}{'...' if len(legacy) > 5 else ''}) with "
            f"batch=<id> dirs — Spark partition discovery cannot read "
            f"that. Run streaming.batchdir.migrate_batch_layout(spark, "
            f"root) once (offline) to absorb the legacy data."
        )


def compacted_watermark(
    spark: SparkSession, root: str, generation: int | None = None
) -> int:
    """Max batch id absorbed into the compacted generation; -1 when
    nothing has been compacted. One generation-resolve + one tiny file
    read. Pass ``generation`` to read a PINNED generation's watermark —
    read-modify-write callers (compaction, batch-table deletes) derive
    every read from one generation so a concurrent commit cannot hand
    them a stale/fresh mix."""
    gen = (
        int(generation)
        if generation is not None
        else current_generation(spark, root)
    )
    if gen is None:
        return -1
    line = _read_small_file(
        spark, f"{_gen_dir(root, gen)}/{WATERMARK_FILE}"
    )
    if line is None:
        return -1
    line = line.strip()
    return int(line) if line.lstrip("-").isdigit() else -1


def _write_watermark(spark: SparkSession, data_dir: str, watermark: int) -> None:
    _write_small_file(
        spark, f"{data_dir}/{WATERMARK_FILE}", str(int(watermark))
    )


def write_batch_dir(df: DataFrame, root: str, batch_id: int) -> bool:
    """The hot-path sink for one micro-batch: overwrite this batch's
    own ``batch=<id>`` dir (replay-idempotent — a re-run batch rewrites
    its own rows and nothing else). Skips (returning False) when the
    batch is already absorbed into the compacted table, so a crash-
    replay from an old checkpoint cannot resurrect a stale dir that
    double-counts against the compacted copy. No shuffle, no hive
    splitting: read-optimized layout is COMPACTION's job, not the
    ingest path's."""
    spark = df.sparkSession
    _require_success_markers(spark)
    _require_batch_layout(spark, root)
    if int(batch_id) <= compacted_watermark(spark, root):
        return False
    df.write.mode("overwrite").parquet(
        f"{root.rstrip('/')}/{BATCH_PREFIX}{int(batch_id)}"
    )
    return True


def read_batch_table(
    spark: SparkSession, root: str, schema: StructType
) -> DataFrame:
    """The exact current table: compacted generation (manifest-
    resolved) ∪ COMMITTED batch dirs above the watermark. Returns an
    EMPTY frame of ``schema`` when neither exists yet (a dashboard
    polling before the first micro-batch lands gets zero rows, not an
    exception). In-flight batch dirs (no ``_SUCCESS`` yet) are
    skipped — their rows appear atomically when the writer's job
    commits. ``schema`` must match the writer's columns; every part is
    cast/ordered to it, and the inferred ``batch`` partition column is
    dropped."""
    _require_batch_layout(spark, root)
    base = pin_generation(spark, root)
    wm = compacted_watermark(spark, root, generation=base.gen)
    parts: list[DataFrame] = []
    compacted = base.read(schema)
    if compacted is not None:
        parts.append(compacted)
    _, with_data, _ = _classify_fresh(
        spark, root, _batch_dirs(spark, root), wm
    )
    if with_data:
        fresh = [with_data[bid] for bid in sorted(with_data)]
        parts.append(
            _cast(
                spark.read.option("basePath", root)
                .parquet(*[glob_escape(f) for f in fresh])
                .drop("batch"),
                schema,
            )
        )
    if not parts:
        from ..functions.localrows import rows_frame

        return rows_frame(spark, [], schema)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _spread_within_partitions(
    df: DataFrame, partition_by: list[str] | None
) -> DataFrame:
    """Pre-write shuffle for a hive-partitioned layout. Single column:
    range-distribute on (pcol, row-hash) so one hot partition value
    does NOT funnel through one task — each value's rows stay
    contiguous (each task writes ~1 file per value it covers, no
    tasks×values fragment explosion) while a hot value spans as many
    tasks as its volume needs; no explicit partition count, so AQE
    coalesces the shuffle at small volumes and widens it at scale.
    Multiple columns: hash-cluster on the partition tuple (~one file
    per value combination — the bounded-file-count baseline; the range
    spread needs a single orderable leading key)."""
    if not partition_by:
        return df
    if len(partition_by) > 1:
        return df.repartition(*partition_by)
    pcol = partition_by[0]
    others = [c for c in df.columns if c != pcol]
    if not others:
        return df.repartition(F.col(pcol))
    return df.repartitionByRange(F.col(pcol), F.xxhash64(*others))


def _spread_writer(levels: list[str] | None):
    """Writer for a batch-dir generation: hive-partitioned on
    ``levels`` (spread across tasks, see ``_spread_within_partitions``),
    or plain parquet without them."""

    def write(rows: DataFrame, data_dir: str) -> None:
        if not levels:
            rows.write.mode("overwrite").parquet(data_dir)
            return
        _spread_within_partitions(rows, levels).write.partitionBy(
            *levels
        ).mode("overwrite").parquet(data_dir)

    return write


def compact_batch_dirs(
    spark: SparkSession,
    root: str,
    partition_by: list[str] | None = None,
    vacuum_keep: int = 2,
    vacuum_min_age_seconds: float | None = None,
    full: bool = False,
) -> int:
    """Maintenance: absorb every COMMITTED batch dir above the current
    watermark into a new read-optimized generation whose ``_watermark``
    sidecar — written INSIDE the generation dir, hence atomic with its
    commit marker — records the max absorbed batch id. Returns the new
    watermark (the old one when there was nothing to absorb).

    INCREMENTAL by default (single-column ``partition_by``): only the
    hive partitions the fresh batches touch are merged (partition-
    pruned read of the current generation) and rewritten; untouched
    partitions carry forward by reference in the ``_refs`` manifest —
    maintenance cost is O(new data + touched partitions), not
    O(accumulated table). ``full=True`` (or no/multi-col
    ``partition_by``) rewrites everything into one self-contained
    generation — the MAJOR compaction that collapses the reference
    chain; run it on a slow cadence (daily) under the fast incremental
    one (minutes).

    Concurrent-writer safe: only ``_SUCCESS``-marked dirs are
    absorbed, and nothing past the first unmarked id — an in-flight or
    crash-pending dir can never be jumped by the watermark and buried.
    Absorbed dirs are NOT deleted here; they sit <= watermark
    (invisible to readers and the writer) until the NEXT run's sweep,
    giving in-flight readers that resolved them a full maintenance
    cycle to finish (the same grace contract as generation vacuum).
    ``vacuum_min_age_seconds`` defaults to
    ``versioned.DEFAULT_MAINTENANCE_MIN_AGE_SECONDS`` (10 min) so
    superseded generations also outlive any in-flight scan; pass 0.0
    for immediate reclamation in offline runs.

    Crash-safe at every point: a crash before the commit marker leaves
    invisible debris (next run redoes the work); after the marker, the
    absorbed dirs sit <= watermark where readers and the batch writer
    already ignore them, and the next run sweeps them before absorbing
    anything new.

    Cross-WRITER safe: the cycle is one ``rewrite_generation`` plan —
    watermark, manifest and compacted-data read derive from ONE pinned
    generation and the commit carries it as a CAS, so a merge, delete
    or competing compaction landing in between makes this cycle rerun
    against the new generation instead of publishing one that silently
    discards the competitor's."""
    pcol = (
        partition_by[0]
        if partition_by is not None and len(partition_by) == 1
        else None
    )

    def plan(base: Base) -> Rewrite:
        _require_batch_layout(spark, root)
        wm = compacted_watermark(spark, root, generation=base.gen)
        dirs = _batch_dirs(spark, root)
        fs, _ = _hadoop_path(spark, root)
        # grace-period sweep: dirs the PREVIOUS compaction absorbed (and
        # any replay debris) are <= watermark, invisible since that commit
        for bid, path in sorted(dirs.items()):
            if bid <= wm:
                _, p = _hadoop_path(spark, path)
                fs.delete(p, True)
        committed, with_data, blocked = _classify_fresh(spark, root, dirs, wm)
        if blocked is not None:
            # never absorb past an uncommitted dir: ids >= blocked wait
            # for their writer (live stream or crash-replay) to commit
            committed = {b: p for b, p in committed.items() if b < blocked}
            with_data = {b: p for b, p in with_data.items() if b < blocked}
        has_refs = any(g != base.gen for g in base.manifest.values())
        # MAJOR compaction with nothing fresh still has work when refs
        # exist: collapse the chain (an idle stream must not leave
        # holder generations pinned forever — that IS the unbounded
        # growth full=True exists to stop)
        if not committed and not (full and has_refs):
            return Rewrite(result=wm, commit=False)
        new_wm = max(committed, default=wm)
        fresh: DataFrame | None = None
        if with_data:
            fresh = (
                spark.read.option("basePath", root)
                .parquet(*[glob_escape(with_data[b]) for b in sorted(with_data)])
                .drop("batch")
            )
        if fresh is None and base.plain:
            # only empty-committed dirs atop an UNPARTITIONED generation:
            # nothing can carry by reference and a full copy for an
            # empty absorb is waste — leave them; they absorb (and then
            # sweep) with the next data-bearing compaction
            return Rewrite(result=wm, commit=False)
        if fresh is None and not full:
            # only empty-but-committed batches: nothing to rewrite —
            # carry every entry forward and advance the mark
            return Rewrite(
                touched=[], partition_col=pcol, result=new_wm, watermark=new_wm
            )
        old = base.read(fresh.schema if fresh is not None else None)
        # an unpartitioned current generation has no hive entries to
        # carry by reference — the first partitioned compaction over it
        # is a full rewrite (it converts the layout; later runs are
        # incremental)
        if not full and pcol is not None and not base.plain:
            # merge ONLY the partitions the fresh batches touch; the
            # touched-value list is tiny (one per partition value, not
            # per row) and prunes the compacted scan
            touched = [r[0] for r in fresh.select(pcol).distinct().collect()]
            rows = fresh
            if old is not None:
                rows = base.scope(old, pcol, touched).unionByName(fresh)
            return Rewrite(
                rows, touched, pcol, result=new_wm,
                write=_spread_writer([pcol]), watermark=new_wm,
            )
        # MAJOR compaction: one self-contained generation (refs
        # collapse; with no fresh data the old table rewrites alone; with
        # no rows anywhere an empty generation still advances the mark)
        if old is None:
            rows = fresh
        elif fresh is None:
            rows = old
        else:
            rows = old.unionByName(fresh)
        return Rewrite(
            rows, result=new_wm, write=_spread_writer(partition_by),
            watermark=new_wm,
        )

    # absorbed dirs are left in place (<= watermark: invisible); the
    # NEXT compaction's sweep deletes them after the grace period
    return rewrite_generation(
        spark,
        root,
        plan,
        vacuum_keep=vacuum_keep,
        vacuum_min_age_seconds=vacuum_min_age_seconds,
        adopt=False,
    )


def delete_keys_batch_table(
    spark: SparkSession,
    root: str,
    ids: DataFrame,
    keys: list[str],
    vacuum_keep: int = 2,
    vacuum_min_age_seconds: float | None = None,
) -> int:
    """Key-based DELETE over a batch-dir table — the takedown path for
    streaming-compacted artifact stores (predictions, correlations,
    incremental indexes held in this layout). It covers both halves of
    the table; ``sources.sinks.delete_keys_parquet`` on the same root
    would commit the compacted half the same way (the rewrite protocol
    carries ``_watermark`` and ``_refs``) but never look at the fresh
    batch dirs, and would adopt them into its generation first.

    - COMPACTED half: one ``rewrite_generation`` plan, partition-scoped
      and manifest-aware — one semi-join finds the touched top-level
      partitions, only those rewrite into the new generation (deeper
      partition levels kept), every untouched entry carries forward by
      reference, and the watermark rides along. O(touched partitions),
      the same cost shape as incremental compaction; a racing
      compaction or merge makes it rerun against the new generation.
    - FRESH ``batch=<id>`` dirs (committed, above the watermark):
      each dir holding doomed rows is rewritten in place — the same
      single-writer-per-dir contract the stream's own replay overwrite
      relies on (run takedowns from the maintenance owner, not
      concurrently with that exact batch's replay).

    Returns total rows removed; 0 = nothing rewritten anywhere (a
    replayed delete is a pure read). Physical removal only — pair with
    ``operators.deletes`` tombstones when the upstream source can
    replay batches that still carry the id."""
    ids = ids.select(*keys).distinct()

    def plan(base: Base) -> Rewrite:
        _require_batch_layout(spark, root)
        compacted = base.read()
        if compacted is None:
            return Rewrite(result=0, commit=False)
        doomed = compacted.join(ids, on=keys, how="left_semi")
        if base.plain:
            removed = doomed.count()
            if removed == 0:
                return Rewrite(result=0, commit=False)
            kept = compacted.join(ids, on=keys, how="left_anti")
            return Rewrite(kept, result=int(removed))
        # deeper partition levels (if any) stay: the rewrite keeps the
        # layout
        levels = base.hive_levels()
        pcol = levels[0]
        counts = doomed.groupBy(pcol).count().collect()
        if not counts:
            return Rewrite(result=0, commit=False)
        touched = [r[0] for r in counts]
        kept = base.scope(compacted, pcol, touched).join(
            ids, on=keys, how="left_anti"
        )
        return Rewrite(
            kept, touched, pcol, result=int(sum(r[1] for r in counts)),
            write=_spread_writer(levels),
        )

    removed_compacted = rewrite_generation(
        spark,
        root,
        plan,
        vacuum_keep=vacuum_keep,
        vacuum_min_age_seconds=vacuum_min_age_seconds,
        adopt=False,
    )

    # fresh committed dirs above the (possibly just-advanced) watermark
    removed_fresh = 0
    wm = compacted_watermark(spark, root)
    dirs = _batch_dirs(spark, root)
    _committed, with_data, _blocked = _classify_fresh(spark, root, dirs, wm)
    for bid in sorted(with_data):
        path = with_data[bid]
        df = spark.read.parquet(glob_escape(path))
        hits = df.join(ids, on=keys, how="left_semi").count()
        if hits == 0:
            continue
        kept = df.join(ids, on=keys, how="left_anti").localCheckpoint(
            eager=True
        )  # materialize BEFORE overwriting the dir being read
        kept.write.mode("overwrite").parquet(path)
        removed_fresh += int(hits)
    return int(removed_compacted) + removed_fresh


def migrate_batch_layout(
    spark: SparkSession, root: str, partition_by: list[str] | None = None
) -> int:
    """One-time OFFLINE migration of PRE-batchdir layouts into the
    batch-dir layout. Two legacy forms are absorbed:

    - root-level append entries (the old append-at-root writer): moved
      by rename into generation 1, watermark -1 — every existing and
      future ``batch=<id>`` dir stays visible.
    - nested hive batch dirs (the old per-batch partitioned writer,
      ``batch=<id>/<col>=<val>/...``): their ROWS are read and
      rewritten into generation 1 together with every flat batch dir
      at or below the highest legacy id (those would become invisible
      when the watermark jumps), watermark = that highest id so a
      checkpoint replay of an absorbed batch is a no-op. Pass
      ``partition_by`` to lay the generation out hive-partitioned.

    Run without concurrent readers or writers — the per-entry rename /
    multi-dir absorb window exists only here. Returns the number of
    entries absorbed."""
    if current_generation(spark, root) is not None:
        raise ValueError(
            f"migrate_batch_layout: {root} already has compacted "
            f"generations; legacy entries alongside them need manual "
            f"reconciliation"
        )
    entries = legacy_layout_entries(spark, root)
    dirs = _batch_dirs(spark, root)
    hive_bids = sorted(
        bid
        for bid, (_, _, hive) in _probe_batch_dirs(spark, root, dirs).items()
        if hive
    )
    if entries and hive_bids:
        raise ValueError(
            f"migrate_batch_layout: {root} mixes root-level legacy "
            f"entries AND nested hive batch dirs — reconcile manually"
        )
    fs, root_p = _hadoop_path(spark, root)
    jvm = spark._jvm

    if hive_bids:
        max_legacy = hive_bids[-1]
        absorb = {b: p for b, p in dirs.items() if b <= max_legacy}
        frames = []
        for bid in sorted(absorb):
            df = spark.read.parquet(glob_escape(absorb[bid]))
            if "batch" in df.columns:
                df = df.drop("batch")
            frames.append(df)
        merged = frames[0]
        for f2 in frames[1:]:
            merged = merged.unionByName(f2)

        def _write_rows(data_dir: str) -> None:
            if partition_by:
                _spread_within_partitions(
                    merged, partition_by
                ).write.mode("overwrite").partitionBy(*partition_by).parquet(
                    data_dir
                )
            else:
                merged.write.mode("overwrite").parquet(data_dir)
            _write_watermark(spark, data_dir, max_legacy)

        commit_generation(spark, root, _write_rows)
        for bid in sorted(absorb):
            _, p = _hadoop_path(spark, absorb[bid])
            fs.delete(p, True)
        return len(absorb)

    if not entries:
        return 0

    def _write(data_dir: str) -> None:
        _, data_p = _hadoop_path(spark, data_dir)
        fs.mkdirs(data_p)
        for name in entries:
            _, src = _hadoop_path(spark, f"{root.rstrip('/')}/{name}")
            dest = jvm.org.apache.hadoop.fs.Path(f"{data_dir}/{name}")
            if not fs.rename(src, dest):
                raise IOError(
                    f"migrate_batch_layout: could not move {name} into "
                    f"{data_dir}"
                )
        _write_watermark(spark, data_dir, -1)

    commit_generation(spark, root, _write)
    return len(entries)
