"""streaming.batchdir: the bounded-file-count foreachBatch sink —
per-micro-batch dirs absorbed into versioned generations with a
batch-id high-watermark (the parquet rebuild of the reference's
Cassandra-absorbs-appends property, NEW_train_offset_3_10min.py:259-270)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from bda_spark.streaming.batchdir import (
    compact_batch_dirs,
    compacted_watermark,
    legacy_layout_entries,
    migrate_batch_layout,
    read_batch_table,
    write_batch_dir,
)

SCHEMA = StructType(
    [
        StructField("k", IntegerType()),
        StructField("v", StringType()),
        StructField("day", StringType()),
    ]
)


def _batch(spark, bid, n=10):
    return spark.createDataFrame(
        [Row(k=bid * 100 + i, v=f"b{bid}", day=f"d{i % 2}") for i in range(n)],
        SCHEMA,
    )


def _rows(spark, root):
    return sorted(
        (r.k, r.v, r.day) for r in read_batch_table(spark, root, SCHEMA).collect()
    )


def _parquet_files(root):
    return [
        p for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    ]


def test_empty_table_reads_as_typed_empty_frame(spark, tmp_path):
    """A dashboard polling before the first micro-batch lands gets zero
    rows with the declared schema — not an exception (ADVICE r7)."""
    root = str(tmp_path / "never_written")
    got = read_batch_table(spark, root, SCHEMA)
    assert got.count() == 0
    assert got.schema == SCHEMA


def test_compaction_preserves_rows_and_bounds_files(spark, tmp_path):
    """N micro-batches then maintenance: row set identical, absorbed
    batch dirs survive ONE grace cycle (in-flight readers that
    resolved them finish) and are swept by the next run, and the file
    count collapses to the compacted layout."""
    root = str(tmp_path / "tbl")
    for bid in range(6):
        assert write_batch_dir(_batch(spark, bid), root, bid)
    before = _rows(spark, root)
    assert compacted_watermark(spark, root) == -1

    wm = compact_batch_dirs(spark, root, partition_by=["day"])
    assert wm == 5
    assert compacted_watermark(spark, root) == 5
    assert _rows(spark, root) == before
    # grace period: absorbed dirs linger (<= watermark, invisible to
    # readers and the writer) until the NEXT compaction sweeps them
    assert [d for d in os.listdir(root) if d.startswith("batch=")]

    # new batches after compaction land and read alongside the table
    assert write_batch_dir(_batch(spark, 6), root, 6)
    assert _rows(spark, root) == sorted(
        before + [(600 + i, "b6", f"d{i % 2}") for i in range(10)]
    )
    # second compaction sweeps the grace dirs and absorbs the fresh one
    assert compact_batch_dirs(spark, root, partition_by=["day"]) == 6
    assert [d for d in os.listdir(root) if d.startswith("batch=")] == [
        "batch=6"
    ]
    files_hot = len(_parquet_files(root))
    # a no-fresh run completes the sweep; file count is now the
    # compacted layout (+ one retained generation), far below the
    # 7-batch hot layout
    assert compact_batch_dirs(spark, root, partition_by=["day"]) == 6
    assert not [d for d in os.listdir(root) if d.startswith("batch=")]
    assert len(_parquet_files(root)) < files_hot
    assert len(_rows(spark, root)) == 70


def test_replay_of_absorbed_batch_is_a_noop(spark, tmp_path):
    """Kill-and-replay from an old checkpoint: re-delivering a batch
    that compaction already absorbed must write nothing and produce
    zero duplicate rows."""
    root = str(tmp_path / "replay")
    for bid in range(3):
        write_batch_dir(_batch(spark, bid), root, bid)
    compact_batch_dirs(spark, root, partition_by=["day"])
    before = _rows(spark, root)
    # checkpoint rolled back: batches 1 and 2 are delivered again
    assert not write_batch_dir(_batch(spark, 1), root, 1)
    assert not write_batch_dir(_batch(spark, 2), root, 2)
    assert _rows(spark, root) == before
    # grace dirs are invisible but present; the next run sweeps them
    compact_batch_dirs(spark, root, partition_by=["day"])
    assert _rows(spark, root) == before
    assert not [d for d in os.listdir(root) if d.startswith("batch=")]


def test_crash_between_commit_and_cleanup_never_double_counts(spark, tmp_path):
    """The crash window compaction must survive: the generation (with
    its watermark) committed but the absorbed dirs were not yet
    deleted. Readers ignore dirs <= watermark; the next compaction
    sweeps them without re-absorbing."""
    root = str(tmp_path / "crashwin")
    for bid in range(3):
        write_batch_dir(_batch(spark, bid), root, bid)
    compact_batch_dirs(spark, root)
    before = _rows(spark, root)
    # resurrect an absorbed dir exactly as a mid-cleanup crash leaves it
    _batch(spark, 1).write.mode("overwrite").parquet(
        os.path.join(root, "batch=1")
    )
    assert _rows(spark, root) == before  # <= watermark: invisible
    wm = compact_batch_dirs(spark, root)
    assert wm == 2  # nothing new absorbed
    assert _rows(spark, root) == before
    assert not os.path.exists(os.path.join(root, "batch=1"))


def test_legacy_layout_is_refused_then_migrated(spark, tmp_path):
    """ADVICE r7: a table written by the old append-at-root layout must
    be refused (Spark partition discovery would fail on the mix), and
    migrate_batch_layout absorbs it as generation 1 / watermark -1 so
    every batch dir stays visible."""
    root = str(tmp_path / "legacy")
    legacy = spark.createDataFrame(
        [Row(k=i, v="old", day="d0") for i in range(5)], SCHEMA
    )
    legacy.write.parquet(root)  # root-level part files
    assert legacy_layout_entries(spark, root)
    with pytest.raises(IOError, match="legacy append layout"):
        write_batch_dir(_batch(spark, 0), root, 0)
    with pytest.raises(IOError, match="legacy append layout"):
        read_batch_table(spark, root, SCHEMA).count()

    assert migrate_batch_layout(spark, root) > 0
    assert legacy_layout_entries(spark, root) == []
    assert compacted_watermark(spark, root) == -1
    old = _rows(spark, root)
    assert old == [(i, "old", "d0") for i in range(5)]
    # batch dirs (including batch=0: watermark is -1) now land normally
    assert write_batch_dir(_batch(spark, 0), root, 0)
    assert len(_rows(spark, root)) == 15
    # and compaction unifies everything
    compact_batch_dirs(spark, root, partition_by=["day"])
    assert len(_rows(spark, root)) == 15


def test_pipeline_compact_predictions_end_to_end(spark, tmp_path_factory):
    """The TickPipeline integration: run the replay, compact, and the
    labeled view is row-identical with a bounded file count; fresh
    batches after compaction still surface."""
    import json

    from bda_spark.streaming import TickPipeline, file_replay_tick_stream

    tick_dir = tmp_path_factory.mktemp("bd_ticks")
    base_ms = 1_700_000_000_000
    with open(tick_dir / "bp.jsonl", "w") as f:
        for i in range(30):
            f.write(json.dumps({
                "symbol": "BP", "timestamp": base_ms + i * 60_000,
                "source": "YLIFE_FEED", "data_type": "MARKET_DATA",
                "bid": -1.0, "ask": -1.0, "price": 100.0 + i,
                "volume": 10.0 + i, "spread_raw": -1.0,
                "spread_table": -1.0, "volatility": 1.0,
                "market_sentiment": 0.5, "trading_activity": 50.0,
            }) + "\n")
    work = str(tmp_path_factory.mktemp("compact_preds"))
    ticks = file_replay_tick_stream(spark, str(tick_dir))
    pipe = TickPipeline(spark, ticks, "BP", work)
    pipe.run_available_now()
    before = sorted(
        (r.timestamp, r.prediction, r.label)
        for r in pipe.predictions().collect()
    )
    assert before
    files_before = len(_parquet_files(pipe.predictions_path))
    wm = pipe.compact_predictions()
    assert wm >= 0
    after = sorted(
        (r.timestamp, r.prediction, r.label)
        for r in pipe.predictions().collect()
    )
    assert after == before
    # absorbed dirs survive one grace cycle; the next compaction (and
    # its vacuum) sweeps them, collapsing the file count
    pipe.compact_predictions()
    assert sorted(
        (r.timestamp, r.prediction, r.label)
        for r in pipe.predictions().collect()
    ) == before
    assert not [
        d for d in os.listdir(pipe.predictions_path) if d.startswith("batch=")
    ]
    assert len(_parquet_files(pipe.predictions_path)) <= files_before
    # the compacted generation is hive-partitioned by pred_date: a
    # day-scoped dashboard scan partition-prunes
    gen_dirs = os.listdir(os.path.join(pipe.predictions_path, "_versions"))
    gen = [d for d in gen_dirs if not d.endswith(".lock")][0]
    assert any(
        n.startswith("pred_date=")
        for n in os.listdir(
            os.path.join(pipe.predictions_path, "_versions", gen)
        )
    )


# --- round 9: partition-scoped incremental compaction ------------------


def _part_files(root, gen, part):
    """(relative path, mtime) of every data file under one hive
    partition of one generation dir."""
    d = os.path.join(root, "_versions", f"gen-{gen:08d}", part)
    out = []
    for dirpath, _, names in os.walk(d):
        for n in names:
            p = os.path.join(dirpath, n)
            out.append((os.path.relpath(p, root), os.stat(p).st_mtime_ns))
    return sorted(out)


def _day_batch(spark, bid, day, n=6):
    return spark.createDataFrame(
        [Row(k=bid * 100 + i, v=f"b{bid}", day=day) for i in range(n)], SCHEMA
    )


def test_incremental_compaction_rewrites_only_touched_partitions(spark, tmp_path):
    """The O(new data) maintenance contract: a compaction cycle whose
    fresh batches touch only day d1 must not rewrite (or even re-lay)
    a single file of day d0 — d0 carries into the new generation BY
    REFERENCE, byte-identical files, identical reads."""
    from bda_spark.sources.versioned import read_generation_refs

    root = str(tmp_path / "inc")
    write_batch_dir(_day_batch(spark, 0, "d0"), root, 0)
    write_batch_dir(_day_batch(spark, 1, "d1"), root, 1)
    assert compact_batch_dirs(spark, root, partition_by=["day"]) == 1
    d0_before = _part_files(root, 1, "day=d0")
    assert d0_before
    before = _rows(spark, root)

    # a cycle touching ONLY d1
    write_batch_dir(_day_batch(spark, 2, "d1"), root, 2)
    assert compact_batch_dirs(spark, root, partition_by=["day"]) == 2
    # d0's files in generation 1: same names, same mtimes — untouched
    assert _part_files(root, 1, "day=d0") == d0_before
    # generation 2 holds d1 physically and d0 by reference
    assert read_generation_refs(spark, root, 2) == {"day=d0": 1}
    gen2 = os.path.join(root, "_versions", f"gen-{2:08d}")
    assert not os.path.exists(os.path.join(gen2, "day=d0"))
    assert os.path.exists(os.path.join(gen2, "day=d1"))
    # reads are exact through the manifest
    assert _rows(spark, root) == sorted(
        before + [(200 + i, "b2", "d1") for i in range(6)]
    )


def test_referenced_generation_is_pinned_pruned_then_released(spark, tmp_path):
    """vacuum keeps a generation alive while any retained manifest
    references it (pruned to its live partitions), and sweeps it the
    cycle after the last reference leaves retention."""
    root = str(tmp_path / "pin")
    write_batch_dir(_day_batch(spark, 0, "d0"), root, 0)
    write_batch_dir(_day_batch(spark, 1, "d1"), root, 1)
    compact_batch_dirs(spark, root, partition_by=["day"], vacuum_min_age_seconds=0.0)          # gen1
    expect = _rows(spark, root)
    for bid in (2, 3):  # two more d1-only cycles -> gen2, gen3
        write_batch_dir(_day_batch(spark, bid, "d1"), root, bid)
        compact_batch_dirs(spark, root, partition_by=["day"], vacuum_min_age_seconds=0.0)
        expect = sorted(
            expect + [(bid * 100 + i, f"b{bid}", "d1") for i in range(6)]
        )
    gen1 = os.path.join(root, "_versions", f"gen-{1:08d}")
    # gen1 outlives keep=2 retention BECAUSE gen2/gen3 reference its
    # d0 — but its superseded d1 partition is pruned
    assert os.path.exists(os.path.join(gen1, "day=d0"))
    assert not os.path.exists(os.path.join(gen1, "day=d1"))
    assert _rows(spark, root) == expect

    # MAJOR compaction collapses the reference chain...
    write_batch_dir(_day_batch(spark, 4, "d0"), root, 4)
    compact_batch_dirs(spark, root, partition_by=["day"], full=True, vacuum_min_age_seconds=0.0)  # gen4
    expect = sorted(expect + [(400 + i, "b4", "d0") for i in range(6)])
    assert _rows(spark, root) == expect
    # ...and once the last referencing generation (gen3) leaves the
    # keep=2 retention window, gen1 is finally swept
    write_batch_dir(_day_batch(spark, 5, "d1"), root, 5)
    compact_batch_dirs(spark, root, partition_by=["day"], vacuum_min_age_seconds=0.0)             # gen5
    assert not os.path.exists(gen1)
    expect = sorted(expect + [(500 + i, "b5", "d1") for i in range(6)])
    assert _rows(spark, root) == expect


def test_uncommitted_batch_dir_blocks_absorption_and_is_skipped_by_reads(
    spark, tmp_path
):
    """ADVICE r8 (high): a batch dir without _SUCCESS is mid-write (or
    a crash the stream will replay) — compaction must not absorb it
    NOR anything after it (the watermark would bury its rows forever),
    and readers skip it instead of seeing partial rows."""
    root = str(tmp_path / "gate")
    for bid in range(4):
        write_batch_dir(_batch(spark, bid), root, bid)
    # simulate batch 2 mid-write: its _SUCCESS marker is not there yet
    os.remove(os.path.join(root, "batch=2", "_SUCCESS"))

    visible = _rows(spark, root)
    assert visible == sorted(
        (bid * 100 + i, f"b{bid}", f"d{i % 2}")
        for bid in (0, 1, 3)
        for i in range(10)
    )
    # absorption stops BEFORE the uncommitted dir: 3 stays un-absorbed
    # even though it is committed
    assert compact_batch_dirs(spark, root, partition_by=["day"]) == 1
    assert _rows(spark, root) == visible

    # the writer completes (replay): everything absorbs
    with open(os.path.join(root, "batch=2", "_SUCCESS"), "w"):
        pass
    assert compact_batch_dirs(spark, root, partition_by=["day"]) == 3
    assert len(_rows(spark, root)) == 40


def test_concurrent_writer_and_compactor_lose_nothing(spark, tmp_path):
    """VERDICT r8 #6: compaction running at its documented maintenance
    cadence WHILE the stream writes. Every sampled read must be exact
    on batch granularity (a batch is all-or-nothing, never partial),
    and the final table holds every batch exactly once."""
    import threading

    root = str(tmp_path / "race")
    N, ROWS = 18, 4
    failures = []

    def writer():
        try:
            for bid in range(N):
                write_batch_dir(_batch(spark, bid, n=ROWS), root, bid)
        except Exception as e:  # surface into the main thread
            failures.append(e)

    t = threading.Thread(target=writer)
    t.start()
    try:
        while t.is_alive():
            compact_batch_dirs(spark, root, partition_by=["day"])
            rows = _rows(spark, root)
            by_batch = {}
            for _, v, _ in rows:
                by_batch[v] = by_batch.get(v, 0) + 1
            # atomic per-batch visibility: all rows or none, no dups
            assert all(c == ROWS for c in by_batch.values()), by_batch
    finally:
        t.join()
    assert not failures, failures
    # quiesced: two more cycles absorb + sweep everything
    compact_batch_dirs(spark, root, partition_by=["day"])
    compact_batch_dirs(spark, root, partition_by=["day"])
    final = _rows(spark, root)
    assert len(final) == N * ROWS
    assert len(set(final)) == N * ROWS
    assert not [d for d in os.listdir(root) if d.startswith("batch=")]


def test_legacy_hive_batch_dirs_detected_and_migrated(spark, tmp_path):
    """ADVICE r8 (medium): the pre-batchdir writer laid predictions as
    batch=<id>/<col>=<val>/ (hive INSIDE each batch dir). Mixing that
    with flat batch dirs breaks Spark partition discovery — the reader
    and compactor must refuse with a migration hint, and
    migrate_batch_layout must absorb the nested dirs (plus any flat
    dir at or below the highest legacy id) into generation 1 with the
    watermark advanced so checkpoint replays are no-ops."""
    from bda_spark.streaming.batchdir import migrate_batch_layout

    root = str(tmp_path / "oldhive")
    # two old-layout batches...
    for bid in range(2):
        _batch(spark, bid).write.partitionBy("day").mode("overwrite").parquet(
            os.path.join(root, f"batch={bid}")
        )
    # ...then the upgraded writer lands a flat one
    write_batch_dir(_batch(spark, 2), root, 2)

    with pytest.raises(IOError, match="legacy nested layout"):
        read_batch_table(spark, root, SCHEMA).count()
    with pytest.raises(IOError, match="legacy nested layout"):
        compact_batch_dirs(spark, root, partition_by=["day"])

    # offline migration absorbs batches 0 and 1 (the flat batch=2 is
    # above the legacy watermark and stays visible as a batch dir)
    assert migrate_batch_layout(spark, root, partition_by=["day"]) == 2
    assert compacted_watermark(spark, root) == 1
    assert len(_rows(spark, root)) == 30
    # replay of an absorbed legacy batch is a no-op
    assert not write_batch_dir(_batch(spark, 1), root, 1)
    # and normal operation resumes: writes, reads, compaction
    assert write_batch_dir(_batch(spark, 3), root, 3)
    assert len(_rows(spark, root)) == 40
    assert compact_batch_dirs(spark, root, partition_by=["day"]) == 3
    assert len(_rows(spark, root)) == 40


def _file_scans(df):
    """The file-scan nodes of ``df``'s executed plan, after it ran."""

    def walk(node):
        yield node
        for i in range(node.children().size()):
            yield from walk(node.children().apply(i))

    plan = df._jdf.queryExecution().executedPlan()
    return [
        n for n in walk(plan)
        if n.getClass().getSimpleName() == "FileSourceScanExec"
    ]


def _files_size(scan) -> int:
    it = scan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() == "filesSize":
            return kv._2().value()
    raise AssertionError("scan has no filesSize metric")


def test_manifest_read_partition_prunes(spark, tmp_path):
    """The read side of the 100 TB story: a day-scoped scan over the
    manifest-resolved compacted table must touch ONLY that day's
    files — partition pruning works through reference carries (the
    generation and its holders are one scan based at ``_versions``, so
    the hive column keeps its partition-filter power)."""
    root = str(tmp_path / "prune")
    write_batch_dir(_day_batch(spark, 0, "d0"), root, 0)
    write_batch_dir(_day_batch(spark, 1, "d1"), root, 1)
    compact_batch_dirs(spark, root, partition_by=["day"])
    write_batch_dir(_day_batch(spark, 2, "d1"), root, 2)
    compact_batch_dirs(spark, root, partition_by=["day"])  # d0 by ref

    table = read_batch_table(spark, root, SCHEMA)
    want = {"d0": list(range(6)), "d1": [*range(100, 106), *range(200, 206)]}
    for day, holder in (("d0", 1), ("d1", 2)):
        scan = table.filter(F.col("day") == day)
        # the pruned result is exact...
        assert sorted(r.k for r in scan.collect()) == want[day]
        # ...and the EXECUTED plan is one file scan whose bytes are
        # exactly the data files of that day's holder generation
        part = os.path.join(root, "_versions", f"gen-{holder:08d}", f"day={day}")
        held = sum(os.path.getsize(f) for f in glob.glob(f"{part}/*.parquet"))
        scans = _file_scans(scan)
        assert len(scans) == 1, scans
        assert held > 0 and _files_size(scans[0]) == held, day


def test_generation_with_three_holders_plans_one_file_scan(spark, tmp_path):
    """A generation whose partitions sit in three holder generations
    (its own, and two it carries by reference) is read by one scan."""
    from bda_spark.sources.batch import read_parquet
    from bda_spark.sources.versioned import generation_manifest

    root = str(tmp_path / "three")
    for bid, day in enumerate(("d0", "d1", "d2")):
        write_batch_dir(_day_batch(spark, bid, day), root, bid)
        compact_batch_dirs(spark, root, partition_by=["day"])
    manifest, _plain = generation_manifest(spark, root, 3)
    assert manifest == {"day=d0": 1, "day=d1": 2, "day=d2": 3}

    df = read_parquet(spark, root)
    assert sorted(r.k for r in df.collect()) == [
        *range(6), *range(100, 106), *range(200, 206)
    ]
    assert len(_file_scans(df)) == 1
    # the option that lets one scan span holders is set per read
    assert spark.conf.get("spark.sql.files.ignoreInvalidPartitionPaths") == "false"


def test_full_compaction_collapses_refs_even_when_idle(spark, tmp_path):
    """Code-review r9: an idle stream (everything already absorbed)
    must still be able to collapse the reference chain with a
    full=True major compaction — otherwise holder generations stay
    pinned forever."""
    from bda_spark.sources.versioned import read_generation_refs

    root = str(tmp_path / "idlefull")
    write_batch_dir(_day_batch(spark, 0, "d0"), root, 0)
    write_batch_dir(_day_batch(spark, 1, "d1"), root, 1)
    compact_batch_dirs(spark, root, partition_by=["day"])          # gen1
    write_batch_dir(_day_batch(spark, 2, "d1"), root, 2)
    compact_batch_dirs(spark, root, partition_by=["day"])          # gen2: d0 by ref
    assert read_generation_refs(spark, root, 2) == {"day=d0": 1}
    before = _rows(spark, root)

    # idle: nothing fresh — the major compaction must still collapse
    wm = compact_batch_dirs(spark, root, partition_by=["day"], full=True)
    assert wm == 2  # watermark unchanged: nothing was absorbed
    assert read_generation_refs(spark, root, 3) == {}
    gen3 = os.path.join(root, "_versions", f"gen-{3:08d}")
    assert os.path.exists(os.path.join(gen3, "day=d0"))
    assert os.path.exists(os.path.join(gen3, "day=d1"))
    assert _rows(spark, root) == before
    # a second idle full run is a no-op (self-contained already)
    assert compact_batch_dirs(
        spark, root, partition_by=["day"], full=True
    ) == 2
    assert not os.path.exists(
        os.path.join(root, "_versions", f"gen-{4:08d}")
    )


def test_versioned_readers_resolve_refs(spark, tmp_path):
    """Code-review r9: the versioned tables' reader
    (sources.batch.read_parquet) must resolve the _refs manifest — a
    reader that scans only the generation dir would silently drop
    every referenced partition."""
    from bda_spark.sources.batch import read_parquet

    root = str(tmp_path / "refread")
    write_batch_dir(_day_batch(spark, 0, "d0"), root, 0)
    write_batch_dir(_day_batch(spark, 1, "d1"), root, 1)
    compact_batch_dirs(spark, root, partition_by=["day"])          # gen1
    write_batch_dir(_day_batch(spark, 2, "d1"), root, 2)
    compact_batch_dirs(spark, root, partition_by=["day"])          # gen2: d0 by ref
    # sweep grace dirs so only the compacted table remains
    compact_batch_dirs(spark, root, partition_by=["day"])
    expect = {(r.k, r.v, r.day) for r in read_batch_table(spark, root, SCHEMA).collect()}
    got = {(r["k"], r["v"], r["day"]) for r in read_parquet(spark, root).collect()}
    assert {day for _, _, day in got} == {"d0", "d1"}
    assert got == expect


def test_optimize_table_preserves_referenced_partitions(spark, tmp_path):
    """Code-review r9 follow-up: optimize_table on a refs-bearing
    versioned table must rewrite the WHOLE logical table (manifest
    resolved), never just the generation dir's physical partitions —
    and its self-contained output collapses the reference chain."""
    from bda_spark.sources.layout import optimize_table
    from bda_spark.sources.versioned import (
        current_generation,
        read_generation_refs,
    )

    root = str(tmp_path / "opt")
    write_batch_dir(_day_batch(spark, 0, "d0"), root, 0)
    write_batch_dir(_day_batch(spark, 1, "d1"), root, 1)
    compact_batch_dirs(spark, root, partition_by=["day"])          # gen1
    write_batch_dir(_day_batch(spark, 2, "d1"), root, 2)
    compact_batch_dirs(spark, root, partition_by=["day"])          # gen2: d0 by ref
    compact_batch_dirs(spark, root, partition_by=["day"])          # sweep grace
    before = _rows(spark, root)
    assert read_generation_refs(spark, root, 2) == {"day=d0": 1}

    # leave a grace dir in place (absorbed, <= watermark, not yet
    # swept) — exactly what optimize must not resurrect
    _day_batch(spark, 1, "d1").write.mode("overwrite").parquet(
        os.path.join(root, "batch=1")
    )
    optimize_table(spark, root, range_col="k")
    gen = current_generation(spark, root)
    assert read_generation_refs(spark, root, gen) == {}
    assert _rows(spark, root) == before
    # the _watermark sidecar carried through the rewrite: the grace
    # dir stays invisible and an absorbed batch id still skips
    assert compacted_watermark(spark, root) == 2
    assert not write_batch_dir(_day_batch(spark, 2, "d1"), root, 2)
    assert _rows(spark, root) == before


def _empty_committed_dir(root, bid):
    """An empty-but-committed batch dir exactly as an empty micro-batch
    leaves it: only the committer's _SUCCESS marker."""
    d = os.path.join(root, f"batch={bid}")
    os.makedirs(d, exist_ok=True)
    open(os.path.join(d, "_SUCCESS"), "w").close()


def test_full_compaction_with_nothing_to_merge_commits_empty_carry(
    spark, tmp_path
):
    """A scheduled full=True major compaction over ONLY empty-committed
    batch dirs (no generation yet) must commit an empty carry
    generation and advance the watermark — not crash on merged=None
    and then fail every cycle until data arrives (ADVICE r9 medium)."""
    root = str(tmp_path / "emptyfull")
    _empty_committed_dir(root, 0)
    _empty_committed_dir(root, 1)
    wm = compact_batch_dirs(spark, root, partition_by=["day"], full=True)
    assert wm == 1
    assert compacted_watermark(spark, root) == 1
    got = read_batch_table(spark, root, SCHEMA)
    assert got.count() == 0 and got.schema == SCHEMA
    # a second scheduled major compaction atop the data-less carry
    # generation is the other half of the crash window
    _empty_committed_dir(root, 2)
    wm = compact_batch_dirs(spark, root, partition_by=["day"], full=True)
    assert wm == 2
    # and the table recovers normally once real data lands
    write_batch_dir(_day_batch(spark, 3, "d0"), root, 3)
    wm = compact_batch_dirs(spark, root, partition_by=["day"], full=True)
    assert wm == 3
    assert len(_rows(spark, root)) == 6


def test_batch_table_roundtrip_with_glob_metachar_root(spark, tmp_path):
    """A root containing Hadoop glob metacharacters must classify its
    committed batch dirs correctly (an unescaped globStatus probe would
    read them all as uncommitted — watermark frozen, dirs accreting)."""
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    for parent in ("runs[2024]", "pre{a,b}ds"):
        root = str(tmp_path / parent / "preds")
        df.write.mode("overwrite").parquet(f"{root}/batch=0")
        assert read_batch_table(spark, root, df.schema).count() == 10
        wm = compact_batch_dirs(spark, root, vacuum_min_age_seconds=0.0)
        assert wm == 0, parent
        assert compacted_watermark(spark, root) == 0
        assert read_batch_table(spark, root, df.schema).count() == 10


# --- r12 VERDICT task 5: compaction CAS + batch-table takedown --------


def test_delete_keys_batch_table_keeps_layout_invariants(spark, tmp_path):
    """Key-delete over a batch-dir table: watermark carried (NOT
    regressed to -1 — the corruption a generic versioned delete would
    cause), untouched partitions carried by reference, doomed rows
    removed from BOTH the compacted generation and fresh committed
    batch dirs, and a replayed delete removes 0 and rewrites nothing."""
    from bda_spark.streaming.batchdir import delete_keys_batch_table

    root = str(tmp_path / "tbl")
    for bid in range(2):
        assert write_batch_dir(_batch(spark, bid), root, bid)
    assert compact_batch_dirs(spark, root, partition_by=["day"]) == 1
    # fresh, not-yet-absorbed batch holding two doomed rows
    assert write_batch_dir(_batch(spark, 2), root, 2)
    before = dict(_rows_by_k(spark, root))

    ids = spark.createDataFrame(
        [(0,), (100,), (200,), (201,), (99999,)], "k long"
    )
    removed = delete_keys_batch_table(spark, root, ids, keys=["k"])
    assert removed == 4  # 0,100 compacted; 200,201 fresh; 99999 absent
    assert compacted_watermark(spark, root) == 1  # NOT -1
    got = dict(_rows_by_k(spark, root))
    assert set(before) - set(got) == {0, 100, 200, 201}
    assert got == {k: v for k, v in before.items() if k not in (0, 100, 200, 201)}
    # replay: pure read, no rewrite anywhere
    assert delete_keys_batch_table(spark, root, ids, keys=["k"]) == 0
    # the table still compacts and reads normally afterwards
    assert compact_batch_dirs(spark, root, partition_by=["day"]) == 2
    assert dict(_rows_by_k(spark, root)) == got


def _rows_by_k(spark, root):
    return [
        (r.k, (r.v, r.day))
        for r in read_batch_table(spark, root, SCHEMA).collect()
    ]


def test_compaction_cas_retries_and_preserves_racing_delete(
    spark, tmp_path, monkeypatch
):
    """The r12 VERDICT task-5 interleave, mirroring test_deletes'
    stale-writer test: a takedown commits between a compaction cycle's
    pinned read and its commit. The compaction's CAS must detect the
    race, retry against the new generation, and the final table must
    NOT resurrect the deleted row (the lost update an unguarded
    compactor would publish)."""
    import bda_spark.sources.versioned as versioned
    from bda_spark.sources.versioned import (
        commit_generation as real_commit,
    )
    from bda_spark.streaming.batchdir import delete_keys_batch_table

    root = str(tmp_path / "tbl")
    assert write_batch_dir(_batch(spark, 0), root, 0)
    assert compact_batch_dirs(spark, root, partition_by=["day"]) == 0
    assert write_batch_dir(_batch(spark, 1), root, 1)

    fired = {"n": 0}

    def racing_commit(spark_, root_, write_fn, expected_base=None):
        # the compactor has pinned its reads; the takedown lands NOW,
        # before the compactor's commit captures its base
        if fired["n"] == 0:
            fired["n"] = 1
            ids = spark_.createDataFrame([(3,)], "k long")
            assert (
                delete_keys_batch_table(spark_, root_, ids, keys=["k"]) == 1
            )
        return real_commit(
            spark_, root_, write_fn, expected_base=expected_base
        )

    monkeypatch.setattr(versioned, "commit_generation", racing_commit)
    wm = compact_batch_dirs(spark, root, partition_by=["day"])
    monkeypatch.undo()
    assert wm == 1
    assert fired["n"] == 1  # the interleave actually happened
    ks = {k for k, _ in _rows_by_k(spark, root)}
    assert 3 not in ks, "racing takedown was silently discarded"
    assert ks == {k for k in range(10) if k != 3} | {
        100 + i for i in range(10)
    }
