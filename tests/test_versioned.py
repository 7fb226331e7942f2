"""Reader-atomic versioned tables: commit/resolve round trips, plain-dir
migration, vacuum retention, and the headline guarantee — a reader
hammering the table DURING optimize_table never sees it missing or
partial (the window the legacy aside-swap could not close)."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import Row

from bda_spark.sources.batch import read_parquet
from bda_spark.sources.layout import optimize_table
from bda_spark.sources.versioned import (
    commit_generation,
    current_generation,
    is_versioned,
    resolve_table,
    to_versioned,
    vacuum_versions,
)


def _rows(spark, n=400):
    return spark.createDataFrame(
        [Row(event_id=i, v=float(i) * 0.5) for i in range(n)]
    )


def test_commit_resolve_round_trip(spark, tmp_path):
    root = str(tmp_path / "vt")
    df = _rows(spark)
    gen = commit_generation(spark, root, lambda p: df.write.parquet(p))
    assert gen == 1 and is_versioned(spark, root)
    assert resolve_table(spark, root).endswith("gen-00000001")
    assert read_parquet(spark, root).count() == 400
    # second commit becomes current atomically
    gen2 = commit_generation(
        spark, root, lambda p: df.limit(100).write.parquet(p)
    )
    assert gen2 == 2
    assert read_parquet(spark, root).count() == 100


def test_resolve_passthrough_on_plain_dir(spark, tmp_path):
    plain = str(tmp_path / "plain")
    _rows(spark).write.parquet(plain)
    assert not is_versioned(spark, plain)
    assert resolve_table(spark, plain) == plain
    assert read_parquet(spark, plain).count() == 400


def test_to_versioned_migrates_in_place(spark, tmp_path):
    root = str(tmp_path / "mig")
    df = _rows(spark)
    df.write.parquet(root)
    want = sorted(r.event_id for r in df.collect())
    assert to_versioned(spark, root) == 1
    got = sorted(r.event_id for r in read_parquet(spark, root).collect())
    assert got == want
    # nothing but the versioned layout remains at top level
    assert sorted(os.listdir(root)) == ["_commits", "_versions"]
    with pytest.raises(ValueError, match="already versioned"):
        to_versioned(spark, root)


def test_vacuum_keeps_reader_grace_generation(spark, tmp_path):
    root = str(tmp_path / "vac")
    df = _rows(spark, 50)
    for _ in range(4):
        commit_generation(spark, root, lambda p: df.write.parquet(p))
    assert current_generation(spark, root) == 4
    removed = vacuum_versions(spark, root, keep=2)
    assert removed == 2  # gens 1,2 swept; 3 kept for in-flight readers
    on_disk = sorted(
        n for n in os.listdir(os.path.join(root, "_versions"))
        if not n.endswith(".lock") and not n.startswith(".")
    )
    assert on_disk == ["gen-00000003", "gen-00000004"]
    # swept generations' slot locks are gone too
    locks = sorted(
        n for n in os.listdir(os.path.join(root, "_versions"))
        if n.endswith(".lock") and not n.startswith(".")
    )
    assert locks == ["gen-00000003.lock", "gen-00000004.lock"]
    assert read_parquet(spark, root).count() == 50


def test_commit_cleans_crashed_uncommitted_debris(spark, tmp_path):
    root = str(tmp_path / "debris")
    df = _rows(spark, 30)
    commit_generation(spark, root, lambda p: df.write.parquet(p))
    # simulate a writer that died after writing gen-2 but before the marker
    debris = os.path.join(root, "_versions", "gen-00000002")
    os.makedirs(debris)
    with open(os.path.join(debris, "garbage.parquet"), "w") as f:
        f.write("not parquet at all")
    # readers are unaffected: the debris is unreferenced
    assert read_parquet(spark, root).count() == 30
    # the next committer deletes the debris and writes gen-2 cleanly
    gen = commit_generation(spark, root, lambda p: df.write.parquet(p))
    assert gen == 2
    assert read_parquet(spark, root).count() == 30


def test_optimize_table_versioned_is_reader_atomic(spark, tmp_path):
    """The done-condition test: a thread reads the table in a loop the
    whole time optimize_table rewrites it repeatedly; every read
    resolves a complete generation — correct count, no exception, no
    window where the table is absent."""
    root = str(tmp_path / "hot")
    n = 600
    df = _rows(spark, n)
    commit_generation(spark, root, lambda p: df.write.parquet(p))

    stop = threading.Event()
    errors: list[str] = []
    reads = [0]

    def reader():
        while not stop.is_set():
            try:
                got = read_parquet(spark, root).count()
                if got != n:
                    errors.append(f"partial table: {got} rows")
                reads[0] += 1
            except Exception as e:  # absent table, partial listing, ...
                errors.append(repr(e))

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(3):
            # generous retention: a reader stalled across MULTIPLE
            # whole maintenance cycles (loaded CI) must not have its
            # resolved generation vacuumed mid-scan — retention policy
            # itself is pinned by the dedicated vacuum tests
            optimize_table(
                spark, root, range_col="event_id",
                target_file_bytes=64 * 1024 * 1024, vacuum_keep=10,
            )
    finally:
        stop.set()
        t.join()
    assert errors == []
    assert reads[0] >= 3  # the reader genuinely overlapped the rewrites
    assert current_generation(spark, root) == 4
    assert read_parquet(spark, root).count() == n


def test_read_parquet_resolves_versioned_roots(spark, tmp_path):
    """The standard batch entry point reads a versioned table through
    its current generation transparently; plain paths pass through."""
    root = str(tmp_path / "through_batch")
    df = _rows(spark, 120)
    commit_generation(spark, root, lambda p: df.write.parquet(p))
    commit_generation(spark, root, lambda p: df.limit(40).write.parquet(p))
    assert read_parquet(spark, root).count() == 40
    plain = str(tmp_path / "plain_batch")
    df.write.parquet(plain)
    assert read_parquet(spark, plain).count() == 120


def test_generation_mixing_root_files_and_partitions_is_refused(spark, tmp_path):
    """A generation holding data files both at its root and in a hive
    partition dir cannot be read by one partition-discovering scan
    without dropping the root files, so the reader refuses it, with or
    without partitions carried by reference."""
    root = str(tmp_path / "mixed")
    df = _rows(spark, 10)

    def write(p):
        df.write.parquet(p)
        df.write.parquet(f"{p}/part=1")

    commit_generation(spark, root, write)
    with pytest.raises(IOError, match="mixes root-level data files"):
        read_parquet(spark, root)


def test_idempotent_merge_on_versioned_root(spark, tmp_path):
    """Upserts into a versioned table commit as new generations:
    readers never see the between-renames window, keys merge exactly
    as on plain dirs, and replaying the same merge is a no-op."""
    from pyspark.sql import Row

    from bda_spark.sources.sinks import idempotent_merge_parquet

    root = str(tmp_path / "merge_vt")
    base = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    commit_generation(spark, root, lambda p: base.write.parquet(p))
    upd = spark.createDataFrame([Row(k=2, v="B2"), Row(k=4, v="d")])
    idempotent_merge_parquet(spark, upd, root, keys=["k"])
    got = {r["k"]: r["v"] for r in read_parquet(spark, root).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}
    assert current_generation(spark, root) == 2
    # replay: idempotent, one more generation, same content
    idempotent_merge_parquet(spark, upd, root, keys=["k"])
    assert {r["k"]: r["v"] for r in read_parquet(spark, root).collect()} == got
    # a partition-scoped merge cannot re-lay an unpartitioned
    # generation: an explicit error, not a mixed layout
    with pytest.raises(ValueError, match="unpartitioned"):
        idempotent_merge_parquet(
            spark, upd.withColumn("p", upd["k"] % 2), root,
            keys=["k"], partition_col="p",
        )


def test_time_travel_reads_within_vacuum_retention(spark, tmp_path):
    """Reading a specific committed generation (Delta VERSION AS OF
    analog), bounded by vacuum retention: swept generations raise
    instead of silently reading debris."""
    root = str(tmp_path / "tt")
    df = _rows(spark, 90)
    commit_generation(spark, root, lambda p: df.write.parquet(p))
    commit_generation(spark, root, lambda p: df.limit(60).write.parquet(p))
    commit_generation(spark, root, lambda p: df.limit(30).write.parquet(p))
    assert read_parquet(spark, root).count() == 30
    assert read_parquet(spark, root, generation=1).count() == 90
    assert read_parquet(spark, root, generation=2).count() == 60
    with pytest.raises(FileNotFoundError, match="not available"):
        read_parquet(spark, root, generation=7)
    vacuum_versions(spark, root, keep=2)
    with pytest.raises(FileNotFoundError, match="not available"):
        read_parquet(spark, root, generation=1)
    assert read_parquet(spark, root, generation=2).count() == 60


def test_crashed_writer_slot_is_skipped_not_clobbered(spark, tmp_path):
    """A claimed-but-uncommitted slot (crashed or still-running writer)
    must never be deleted or reused by another committer — the next
    commit takes the next free slot and readers resolve correctly."""
    root = str(tmp_path / "claimed")
    df = _rows(spark, 40)
    commit_generation(spark, root, lambda p: df.write.parquet(p))
    # simulate a writer that claimed gen-2 and died mid-write
    open(os.path.join(root, "_versions", "gen-00000002.lock"), "w").close()
    debris = os.path.join(root, "_versions", "gen-00000002")
    os.makedirs(debris)
    with open(os.path.join(debris, "partial.parquet"), "w") as f:
        f.write("half-written junk")
    gen = commit_generation(spark, root, lambda p: df.limit(10).write.parquet(p))
    assert gen == 3  # slot 2 skipped, never touched
    assert os.path.exists(os.path.join(debris, "partial.parquet"))
    assert read_parquet(spark, root).count() == 10


def test_concurrent_commit_conflict_aborts_cleanly(spark, tmp_path):
    """If another generation commits while an attempt is writing, the
    attempt must abort (lost-update guard) and leave the committed
    state untouched — no marker, no readable debris."""
    root = str(tmp_path / "conflict")
    df = _rows(spark, 40)
    commit_generation(spark, root, lambda p: df.write.parquet(p))

    def racing_write(p):
        # a concurrent maintenance job commits gen-2 mid-write
        commit_generation(
            spark, root, lambda q: df.limit(5).write.parquet(q)
        )
        df.limit(20).write.parquet(p)

    with pytest.raises(IOError, match="lost update|committed under"):
        commit_generation(spark, root, racing_write)
    # the racer's commit IS the table (it claimed the next free slot,
    # 3, since the loser held slot 2's lock); the loser published
    # nothing and cleaned its slot
    assert current_generation(spark, root) == 3
    assert read_parquet(spark, root).count() == 5
    assert not os.path.exists(os.path.join(root, "_versions", "gen-00000002"))


def test_vacuum_counts_committed_generations_not_numbers(spark, tmp_path):
    """An aborted attempt leaves a generation-number gap; retention
    must still keep the newest `keep` COMMITTED generations — counting
    by number would sweep the previous committed generation through
    the gap, breaking in-flight readers."""
    root = str(tmp_path / "gap")
    df = _rows(spark, 30)
    commit_generation(spark, root, lambda p: df.write.parquet(p))  # gen 1
    # simulate a claimed-but-aborted slot 2 (number gap)
    open(os.path.join(root, "_versions", "gen-00000002.lock"), "w").close()
    assert commit_generation(
        spark, root, lambda p: df.limit(9).write.parquet(p)
    ) == 3
    removed = vacuum_versions(spark, root, keep=2)
    assert removed == 0  # committed gens are {1, 3}: BOTH retained
    assert read_parquet(spark, root, generation=1).count() == 30
    assert read_parquet(spark, root).count() == 9


def test_commit_chain_rule_unit():
    """The pure chain-resolution rule: linear history only, same-base
    races resolved by earliest marker mtime (tie: lowest gen), orphans
    never revive, legacy bare markers form a trusted prefix, and a
    vacuumed prefix re-anchors at the bare root marker."""
    from bda_spark.sources.versioned import _commit_chain

    # same-base race: earliest mtime wins even with a higher gen number
    assert _commit_chain([(1, 0, 100), (2, 1, 200), (3, 1, 150)]) == [
        (1, 100),
        (3, 150),
    ]
    # mtime tie -> lowest gen wins
    assert _commit_chain([(1, 0, 100), (2, 1, 200), (3, 1, 200)]) == [
        (1, 100),
        (2, 200),
    ]
    # the chain continues from the winner; the orphan never revives
    assert _commit_chain(
        [(1, 0, 100), (3, 1, 150), (2, 1, 200), (4, 3, 300)]
    ) == [(1, 100), (3, 150), (4, 300)]
    # legacy bare markers are a trusted ascending prefix
    assert _commit_chain([(2, None, 60), (1, None, 50), (3, 2, 70)]) == [
        (1, 50),
        (2, 60),
        (3, 70),
    ]
    # vacuumed prefix: the bare re-anchored root bootstraps the chain
    assert _commit_chain([(3, None, 70), (4, 3, 80)]) == [(3, 70), (4, 80)]
    # a stale based twin of the bare root (vacuum crash window) is inert
    assert _commit_chain(
        [(3, None, 70), (3, 2, 70), (4, 3, 80)]
    ) == [(3, 70), (4, 80)]


def test_same_base_race_has_one_visible_winner(spark, tmp_path):
    """The TOCTOU disk state the old max-marker rule resolved wrongly:
    two writers based on generation 1 both managed to create markers.
    Readers must resolve the earlier-committed writer and never the
    other — no silently-discarded visible update."""
    root = str(tmp_path / "race")
    df = _rows(spark, 30)
    commit_generation(spark, root, lambda p: df.write.parquet(p))
    # writer A (slot 2, base 1) committed first...
    df.limit(20).write.parquet(os.path.join(root, "_versions", "gen-00000002"))
    a_marker = os.path.join(root, "_commits", "00000002.00000001")
    open(a_marker, "w").close()
    os.utime(a_marker, (1_700_000_000, 1_700_000_000))
    # ...writer B (slot 3, base 1) slipped through the check-then-act
    # window and committed later
    df.limit(5).write.parquet(os.path.join(root, "_versions", "gen-00000003"))
    b_marker = os.path.join(root, "_commits", "00000003.00000001")
    open(b_marker, "w").close()
    os.utime(b_marker, (1_700_000_100, 1_700_000_100))

    assert current_generation(spark, root) == 2
    assert read_parquet(spark, root).count() == 20
    # the orphaned commit is not readable history, even via time travel
    with pytest.raises(FileNotFoundError, match="not available"):
        read_parquet(spark, root, generation=3)
    # the next commit chains from the WINNER, not the orphan
    gen = commit_generation(spark, root, lambda p: df.limit(7).write.parquet(p))
    assert read_parquet(spark, root).count() == 7
    assert current_generation(spark, root) == gen


def test_vacuum_min_age_guards_young_generations(spark, tmp_path):
    """Commit-count retention alone gives rapidly-merged tables a
    one-merge reader grace window; the min-age guard must keep any
    generation whose successor committed more recently than the age."""
    root = str(tmp_path / "minage")
    df = _rows(spark, 30)
    for n in (30, 20, 10):
        commit_generation(spark, root, lambda p, n=n: df.limit(n).write.parquet(p))
    # all three commits are seconds old: nothing may be swept
    assert vacuum_versions(spark, root, keep=1, min_age_seconds=3600) == 0
    assert read_parquet(spark, root, generation=1).count() == 30
    # age the markers past the guard: retention applies again
    commits = os.path.join(root, "_commits")
    for name in os.listdir(commits):
        os.utime(os.path.join(commits, name), (1_700_000_000, 1_700_000_000))
    assert vacuum_versions(spark, root, keep=2, min_age_seconds=3600) == 1
    assert read_parquet(spark, root).count() == 10
    assert read_parquet(spark, root, generation=2).count() == 20


def test_merge_vacuum_retention_is_tunable(spark, tmp_path):
    """idempotent_merge_parquet exposes the vacuum knobs: a generous
    vacuum_keep retains history that the old hardcoded keep=2 swept."""
    from pyspark.sql import Row as R

    from bda_spark.sources.sinks import idempotent_merge_parquet

    root = str(tmp_path / "merge_keep")
    base = spark.createDataFrame([R(k=1, v="a"), R(k=2, v="b")])
    commit_generation(spark, root, lambda p: base.write.parquet(p))
    for i in range(3):
        upd = spark.createDataFrame([R(k=1, v=f"v{i}")])
        idempotent_merge_parquet(spark, upd, root, keys=["k"], vacuum_keep=10)
    # every generation is still readable (keep=10 swept nothing)
    assert current_generation(spark, root) == 4
    assert read_parquet(spark, root, generation=1).count() == 2
    assert {r["v"] for r in read_parquet(spark, root).collect()} == {"v2", "b"}


def test_reader_survives_rapid_merges_with_default_grace(spark, tmp_path):
    """VERDICT r8 #7: with the old min_age default of 0.0, a reader
    that resolved generation N got only `keep - 1` COMMITS of grace —
    one fast merge sequence away from a FileNotFoundException
    mid-scan. The maintenance default (10 min) is time-based: the
    resolved path stays readable through keep+1 back-to-back merges."""
    from pyspark.sql import Row as R

    from bda_spark.sources.sinks import idempotent_merge_parquet

    root = str(tmp_path / "grace")
    base = spark.createDataFrame([R(k=i, v="base") for i in range(20)])
    commit_generation(spark, root, lambda p: base.write.parquet(p))
    reader_path = resolve_table(spark, root)  # an in-flight scan's view
    for i in range(3):  # keep(2) + 1 rapid merges, default grace
        upd = spark.createDataFrame([R(k=1, v=f"v{i}")])
        idempotent_merge_parquet(spark, upd, root, keys=["k"])
    assert current_generation(spark, root) == 4
    # count-based retention alone would have swept generation 1 twice
    # over; the time guard kept the reader's resolved path whole
    assert spark.read.parquet(reader_path).count() == 20
    # explicit zero grace restores immediate reclamation for offline use
    vacuum_versions(spark, root, keep=2, min_age_seconds=0.0)
    assert not os.path.exists(reader_path)


def test_commit_chain_clock_skew_has_exactly_one_winner():
    """VERDICT r8 #8 (unit half): the same-base race resolution trusts
    filesystem mtime monotonicity; under artificial skew the chain
    must still resolve DETERMINISTICALLY to exactly one linear
    history — earliest mtime wins, gen number breaking exact ties."""
    from bda_spark.sources.versioned import _commit_chain

    # gen2 and gen3 both merged from base 1; gen3's marker carries an
    # EARLIER mtime (skewed clock) -> gen3 wins, gen2 is orphaned
    entries = [(1, 0, 1000), (2, 1, 2000), (3, 1, 1500)]
    assert _commit_chain(entries) == [(1, 1000), (3, 1500)]
    # exact mtime tie -> lowest generation number, still one winner
    entries = [(1, 0, 1000), (2, 1, 2000), (3, 1, 2000)]
    assert _commit_chain(entries) == [(1, 1000), (2, 2000)]
    # the winner's successors chain from IT; the orphan's would-be
    # successors (base = orphaned gen) are unreachable forever
    entries = [(1, 0, 1000), (2, 1, 2000), (3, 1, 1500), (4, 2, 3000), (5, 3, 3000)]
    assert _commit_chain(entries) == [(1, 1000), (3, 1500), (5, 3000)]


def test_clock_skew_same_base_markers_on_disk(spark, tmp_path):
    """VERDICT r8 #8 (filesystem half): two same-base markers with
    perturbed mtimes — every reader resolves the same single winner,
    the loser is not readable history, and vacuum sweeps the orphan
    without touching the winner."""
    root = str(tmp_path / "skew")
    df = _rows(spark, 40)
    commit_generation(spark, root, lambda p: df.limit(40).write.parquet(p))
    # two racing writers prepared generations 2 and 3 from base 1
    for gen, n in ((2, 30), (3, 20)):
        gdir = os.path.join(root, "_versions", f"gen-{gen:08d}")
        df.limit(n).write.parquet(gdir)
        open(os.path.join(root, "_commits", f"{gen:08d}.{1:08d}"), "w").close()
    # skew: the numerically LATER marker carries the EARLIER mtime
    commits = os.path.join(root, "_commits")
    os.utime(os.path.join(commits, f"{2:08d}.{1:08d}"), (2_000_000_000, 2_000_000_000))
    os.utime(os.path.join(commits, f"{3:08d}.{1:08d}"), (1_900_000_000, 1_900_000_000))

    assert current_generation(spark, root) == 3
    assert read_parquet(spark, root).count() == 20
    with pytest.raises(FileNotFoundError, match="not available"):
        read_parquet(spark, root, generation=2)  # orphaned, not history
    # vacuum: orphan swept, winner intact, chain unchanged
    vacuum_versions(spark, root, keep=1, min_age_seconds=0.0)
    assert not os.path.exists(os.path.join(root, "_versions", f"gen-{2:08d}"))
    assert read_parquet(spark, root).count() == 20
    assert current_generation(spark, root) == 3
