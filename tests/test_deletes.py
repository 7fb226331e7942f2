"""Deletion / tombstone propagation (operators/deletes.py +
sources.sinks.delete_keys_parquet): a taken-down document disappears
from the corpus and every derived artifact (MinHash signature index,
semantic cell index, IVF+SQ8 code table, match flags), the rewrite
touches only doomed partitions, a replayed delete is a strict no-op,
and tombstones stop a replayed pre-delete ingest batch from
resurrecting the doc."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bda_spark.operators.deletes import delete_docs, filter_tombstoned
from bda_spark.sources.batch import read_parquet
from bda_spark.sources.sinks import delete_keys_parquet
from bda_spark.sources.versioned import _gen_dir, generation_manifest

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4


def _ids(spark, vals, col="doc_id"):
    return spark.createDataFrame([(int(v),) for v in vals], f"{col} long")


def _tree(path: str) -> dict[str, float]:
    """relative file path -> mtime for every data file under path."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getmtime(p)
    return out


# --- delete_keys_parquet: flat, partitioned, versioned ----------------


def test_flat_delete_and_replay_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "doc_id long, v string"
    ).write.parquet(path)
    removed = delete_keys_parquet(
        spark, _ids(spark, [3, 7, 999]), path, keys=["doc_id"]
    )
    assert removed == 2
    assert {r.doc_id for r in read_parquet(spark, path).collect()} == (
        set(range(10)) - {3, 7}
    )
    before = _tree(path)
    assert (
        delete_keys_parquet(spark, _ids(spark, [3, 7]), path, keys=["doc_id"])
        == 0
    )
    # replay rewrote NOTHING: every data file byte-identical in place
    assert _tree(path) == before


def test_partitioned_delete_touches_only_doomed_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    rows = [(i, i % 4, f"v{i}") for i in range(40)]
    spark.createDataFrame(
        rows, "doc_id long, cell int, v string"
    ).write.partitionBy("cell").parquet(path)
    untouched_before = {
        k: v for k, v in _tree(path).items() if k.startswith("cell=1/")
        or k.startswith("cell=3/")
    }
    # doomed ids live in cells 0 and 2 only
    removed = delete_keys_parquet(
        spark, _ids(spark, [0, 2, 4]), path, keys=["doc_id"],
        partition_col="cell",
    )
    assert removed == 3
    got = read_parquet(spark, path)
    assert got.count() == 37
    assert {r.doc_id for r in got.filter("cell in (0, 2)").collect()} == (
        {i for i in range(40) if i % 4 in (0, 2)} - {0, 2, 4}
    )
    # cells 1 and 3 were never rewritten: the plain dir became
    # generation 1 and the delete's generation 2 references them there
    manifest, _plain = generation_manifest(spark, path, 2)
    assert manifest == {"cell=0": 2, "cell=1": 1, "cell=2": 2, "cell=3": 1}
    untouched_after = {
        k: v for k, v in _tree(_gen_dir(path, 1)).items()
        if k.startswith("cell=1/") or k.startswith("cell=3/")
    }
    assert untouched_after == untouched_before
    # replay: no hits, no writes anywhere
    before = _tree(path)
    assert (
        delete_keys_parquet(
            spark, _ids(spark, [0, 2, 4]), path, keys=["doc_id"],
            partition_col="cell",
        )
        == 0
    )
    assert _tree(path) == before


def test_partitioned_delete_removes_emptied_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1), (5, 2)],
        "doc_id long, cell int",
    ).write.partitionBy("cell").parquet(path)
    removed = delete_keys_parquet(
        spark, _ids(spark, [3, 4]), path, keys=["doc_id"],
        partition_col="cell",
    )
    assert removed == 2
    manifest, _plain = generation_manifest(spark, path, 2)
    assert sorted(manifest) == ["cell=0", "cell=2"]
    got = read_parquet(spark, path)
    assert {(r.doc_id, r.cell) for r in got.collect()} == {
        (1, 0), (2, 0), (5, 2),
    }


def test_versioned_delete_is_reader_atomic_and_replay_safe(spark, tmp_path):
    from bda_spark.sources.versioned import (
        current_generation,
        to_versioned,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "doc_id long, v string"
    ).write.parquet(path)
    to_versioned(spark, path)
    gen0 = current_generation(spark, path)
    removed = delete_keys_parquet(
        spark, _ids(spark, [1, 5]), path, keys=["doc_id"],
        vacuum_min_age_seconds=0.0,
    )
    assert removed == 2
    # the delete committed a NEW generation (readers resolving mid-
    # delete saw gen0 whole; no in-place rewrite ever happened)
    assert current_generation(spark, path) == gen0 + 1
    assert {r.doc_id for r in read_parquet(spark, path).collect()} == (
        set(range(8)) - {1, 5}
    )
    # replay: zero hits -> NO new generation committed
    assert (
        delete_keys_parquet(
            spark, _ids(spark, [1, 5]), path, keys=["doc_id"],
            vacuum_min_age_seconds=0.0,
        )
        == 0
    )
    assert current_generation(spark, path) == gen0 + 1


def test_delete_missing_table_returns_zero(spark, tmp_path):
    assert (
        delete_keys_parquet(
            spark, _ids(spark, [1]), str(tmp_path / "absent"), keys=["doc_id"]
        )
        == 0
    )


# --- delete_docs: propagation to the match surfaces -------------------


def test_deleted_doc_stops_matching_minhash(spark, tmp_path):
    from bda_spark.operators.dedup import minhash_index, minhash_match_new

    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text=BASE),
            Row(doc_id=2, text="totally different words " * 10),
        ]
    )
    idx = str(tmp_path / "mh_index")
    minhash_index(corpus).write.parquet(idx)
    probe = spark.createDataFrame(
        [Row(doc_id=101, text=BASE + "tail variation words")]
    )

    def matches():
        return {
            (r.new_id, r.corpus_id)
            for r in minhash_match_new(
                probe, read_parquet(spark, idx), threshold=0.5
            ).collect()
        }

    assert matches() == {(101, 1)}
    removed = delete_docs(spark, [1], minhash_index_path=idx)
    assert removed == {"minhash_index": 1}
    assert matches() == set()
    # replayed delete: strict no-op
    assert delete_docs(spark, [1], minhash_index_path=idx) == {
        "minhash_index": 0
    }


def test_deleted_vec_stops_matching_semantic_and_cells_prune(
    spark, tmp_path
):
    from bda_spark.operators.similarity import (
        semantic_index_build,
        semantic_match_new,
    )

    rng = np.random.default_rng(7)
    dim = 16
    base = rng.normal(size=dim)
    vecs = [(0, [float(x) for x in base])] + [
        (i, [float(x) for x in rng.normal(size=dim)]) for i in range(1, 40)
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "semidx")
    semantic_index_build(emb, path, n_centroids=4, seed=3, max_iter=8)
    twin = spark.createDataFrame(
        [(9000, [float(x) for x in base + rng.normal(scale=1e-3, size=dim)])],
        "vec_id long, embedding array<double>",
    )

    def matches():
        return {
            (r.new_id, r.corpus_id)
            for r in semantic_match_new(
                spark, path, twin, threshold=0.95
            ).collect()
        }

    assert matches() == {(9000, 0)}
    cells = os.path.join(path, "cells")
    # which cell holds vec 0? every OTHER cell must not be rewritten
    doomed_cell = (
        spark.read.parquet(cells).filter("vec_id = 0").collect()[0].centroid_id
    )
    others_before = {
        k: v
        for k, v in _tree(cells).items()
        if not k.startswith(f"centroid_id={doomed_cell}/")
    }
    removed = delete_docs(spark, [0], semantic_index_path=path)
    assert removed == {"semantic_index": 1}
    assert matches() == set()
    # the plain cells dir became generation 1; every other cell is
    # still there, untouched, referenced by the delete's generation
    others_after = {
        k: v
        for k, v in _tree(_gen_dir(cells, 1)).items()
        if not k.startswith(f"centroid_id={doomed_cell}/")
    }
    assert others_after == others_before  # O(touched cells), measured
    assert delete_docs(spark, [0], semantic_index_path=path) == {
        "semantic_index": 0
    }


def test_deleted_vec_leaves_ivf_sq8_search(spark, tmp_path):
    from bda_spark.operators.quantize import (
        ivf_sq8_index_build,
        ivf_sq8_search,
    )

    rng = np.random.default_rng(11)
    dim = 16
    vecs = [
        (i, [float(x) for x in rng.normal(size=dim)]) for i in range(60)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ann")
    ivf_sq8_index_build(emb, path, n_centroids=4)
    # probe with a NEW near-twin of vec 0 (self-matches are excluded by
    # design, so querying with vec 0 itself would never return 0)
    base0 = np.asarray(vecs[0][1])
    q = spark.createDataFrame(
        [(9000, [float(x) for x in base0 + rng.normal(scale=1e-3, size=dim)])],
        "vec_id long, embedding array<double>",
    )
    full = {
        r.neighbor_id
        for r in ivf_sq8_search(
            spark, path, q, emb, k=5, n_probe=4, oversample=12
        ).collect()
    }
    assert 0 in full  # the twin's nearest corpus neighbor is vec 0
    removed = delete_docs(spark, [0], ivf_sq8_index_path=path)
    assert removed == {"ivf_sq8_index": 1}
    after = {
        r.neighbor_id
        for r in ivf_sq8_search(
            spark, path, q, emb, k=5, n_probe=4, oversample=12
        ).collect()
    }
    assert 0 not in after
    assert len(after) == 5  # still returns a full top-k from survivors


def test_delete_docs_scrubs_flags_both_sides(spark, tmp_path):
    flags = str(tmp_path / "flags")
    spark.createDataFrame(
        [(101, 1, 0.9), (102, 2, 0.8), (1, 103, 0.7)],
        "new_id long, corpus_id long, est_jaccard double",
    ).write.parquet(flags)
    removed = delete_docs(spark, [1], flags_paths=[flags])
    assert removed == {"flags_0": 2}  # corpus side of one, new side of other
    assert {
        (r.new_id, r.corpus_id)
        for r in read_parquet(spark, flags).collect()
    } == {(102, 2)}


# --- tombstones: the resurrection guard -------------------------------


def test_tombstones_block_replayed_batch_resurrection(spark, tmp_path):
    """End-to-end takedown under at-least-once replay: ingest a corpus
    via the streaming loop, delete one doc (tombstoned), then REPLAY
    the original batch from a fresh checkpoint — the deleted doc must
    NOT reappear in the index, while the untouched doc upserts
    normally."""
    from bda_spark.streaming.incremental import stream_dedup_against_index

    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b1.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": BASE}) + "\n")
        f.write(
            json.dumps({"doc_id": 2, "text": "totally different " * 10})
            + "\n"
        )
    index_path = str(tmp_path / "index")
    flags_path = str(tmp_path / "flags")
    ts_path = str(tmp_path / "tombstones")

    def run(ckpt: str):
        q = stream_dedup_against_index(
            spark.readStream.schema("doc_id long, text string").json(
                str(src)
            ),
            index_path,
            flags_path,
            checkpoint=str(tmp_path / ckpt),
            threshold=0.5,
            available_now=True,
            tombstones_path=ts_path,
        )
        assert q.awaitTermination(300)
        assert q.exception() is None, q.exception()

    run("ckpt1")
    assert {
        r.doc_id for r in read_parquet(spark, index_path).collect()
    } == {1, 2}
    removed = delete_docs(
        spark, [1], minhash_index_path=index_path, tombstones_path=ts_path
    )
    assert removed == {"minhash_index": 1, "tombstoned": 1}
    # redelivery: fresh checkpoint replays the SAME source files
    run("ckpt2")
    assert {
        r.doc_id for r in read_parquet(spark, index_path).collect()
    } == {2}
    # replayed delete after the replayed batch: still a no-op
    assert delete_docs(
        spark, [1], minhash_index_path=index_path, tombstones_path=ts_path
    ) == {"minhash_index": 0, "tombstoned": 1}


def test_filter_tombstoned_noop_without_table(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    got = filter_tombstoned(df, str(tmp_path / "absent_ts"))
    assert got.count() == 1


# --- r12 ADVICE fixes --------------------------------------------------


def test_replayed_delete_refuses_stranded_flat_swap(spark, tmp_path):
    """An older writer's crash in its flat swap BETWEEN
    rename(target, __merge_old) and rename(tmp, target) left the only
    copy of the table under __merge_old with target absent. Replaying
    the delete must refuse, naming that dir — never report 0 rows
    removed from a table that merely looks absent — and move
    nothing."""
    import shutil

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "doc_id long, v string"
    ).write.parquet(path)
    # simulate the crash window: table moved aside, replacement never
    # landed (the staged tmp dir is gone with the crashed process's
    # completed-but-unrenamed write — worst case: only __merge_old)
    shutil.move(path, path + "__merge_old")
    assert not os.path.exists(path)
    with pytest.raises(IOError, match="__merge_old"):
        delete_keys_parquet(spark, _ids(spark, [3, 7]), path, keys=["doc_id"])
    assert os.listdir(tmp_path) == ["t__merge_old"]
    assert {
        r.doc_id for r in spark.read.parquet(path + "__merge_old").collect()
    } == set(range(10))


def test_delete_docs_string_keys_roundtrip(spark, tmp_path):
    """ADVICE r11 #4: list ids infer their type — string-keyed corpora
    delete by list without the long-coercion ValueError."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(f"doc-{i}", f"v{i}") for i in range(6)],
        "doc_id string, v string",
    ).write.parquet(path)
    removed = delete_docs(spark, ["doc-2", "doc-4"], corpus_path=path)
    assert removed == {"corpus": 2}
    assert {r.doc_id for r in read_parquet(spark, path).collect()} == {
        "doc-0", "doc-1", "doc-3", "doc-5"
    }
    with pytest.raises(TypeError):
        delete_docs(spark, ["doc-1", 5], corpus_path=path)


def test_tombstones_table_is_versioned_reader_atomic(spark, tmp_path):
    """ADVICE r11 #2: the tombstones table commits as reader-atomic
    generations (versioned root), so an ingest micro-batch's
    read_tombstones can never hit a between-renames window and skip
    filtering; superseded generations stay readable for the grace."""
    from bda_spark.operators.deletes import read_tombstones
    from bda_spark.sources.versioned import is_versioned

    ts_path = str(tmp_path / "ts")
    delete_docs(spark, [1, 2], tombstones_path=ts_path)
    assert is_versioned(spark, ts_path)
    delete_docs(spark, [3], tombstones_path=ts_path)
    assert is_versioned(spark, ts_path)
    got = read_tombstones(spark, ts_path)
    assert {r.doc_id for r in got.collect()} == {1, 2, 3}
    # filter_tombstoned reads through the versioned layout
    batch = spark.createDataFrame(
        [(i, "x") for i in range(1, 6)], "doc_id long, text string"
    )
    kept = filter_tombstoned(batch, ts_path)
    assert {r.doc_id for r in kept.collect()} == {4, 5}


# --- r12: delete/merge concurrency contract (VERDICT r11 task 5) ------


def test_interleaved_merge_and_delete_generation_commits(
    spark, tmp_path, monkeypatch
):
    """A delete racing a merge on the same versioned root: the attempt
    whose read-modify-write derives from a generation that a competitor
    superseded mid-flight must be REJECTED (CommitRace "stale writer")
    with nothing committed, and the delete then reruns against the
    winner's generation — so both writes land, and readers observe the
    pre-, mid- or post-table, never a half state or a lost update. The
    interleave is made deterministic by injecting the competing merge
    exactly between the delete's pinned read and its commit."""
    from bda_spark.sources import sinks, versioned
    from bda_spark.sources.versioned import (
        CommitRace,
        current_generation,
    )

    path = str(tmp_path / "t")
    rows = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "doc_id long, v string"
    )
    sinks.idempotent_merge_parquet(
        spark, rows, path, keys=["doc_id"], vacuum_min_age_seconds=0.0,
    )
    base = current_generation(spark, path)

    real_commit = versioned.commit_generation
    injected = {"done": False}
    rejected: list[str] = []

    def racing_commit(spark_, root, write_fn, expected_base=None):
        if not injected["done"]:
            injected["done"] = True
            # the competitor lands FIRST: a merge upserting doc_id=5
            sinks.idempotent_merge_parquet(
                spark_,
                spark_.createDataFrame(
                    [(5, "MERGED")], "doc_id long, v string"
                ),
                root,
                keys=["doc_id"],
                vacuum_min_age_seconds=0.0,
            )
            assert current_generation(spark_, root) == base + 1
        try:
            return real_commit(
                spark_, root, write_fn, expected_base=expected_base
            )
        except CommitRace as e:
            rejected.append(str(e))
            # the loser left nothing behind: the winner's merge is
            # intact and the chain advanced exactly once
            got = {
                r.doc_id: r.v for r in read_parquet(spark_, root).collect()
            }
            assert got[5] == "MERGED" and 3 in got and 7 in got
            assert len(got) == 10
            assert current_generation(spark_, root) == base + 1
            raise

    monkeypatch.setattr(versioned, "commit_generation", racing_commit)
    removed = sinks.delete_keys_parquet(
        spark, _ids(spark, [3, 7]), path, keys=["doc_id"]
    )
    monkeypatch.undo()
    assert len(rejected) == 1 and "stale writer" in rejected[0]
    # the rerun derived from the winner's generation: both writes kept
    assert removed == 2
    assert current_generation(spark, path) == base + 2
    got = {r.doc_id: r.v for r in read_parquet(spark, path).collect()}
    assert set(got) == set(range(10)) - {3, 7}
    assert got[5] == "MERGED"
    # replaying the delete is a no-op
    assert (
        sinks.delete_keys_parquet(
            spark, _ids(spark, [3, 7]), path, keys=["doc_id"]
        )
        == 0
    )


def test_stale_expected_base_rejected_loudly(spark, tmp_path):
    """commit_generation CAS: a caller whose data derives from a
    superseded generation is rejected before writing, and the table's
    visible history is untouched."""
    from bda_spark.sources.versioned import (
        commit_generation,
        current_generation,
    )

    path = str(tmp_path / "t")

    def w(rows):
        def fn(p):
            spark.createDataFrame(rows, "doc_id long").write.parquet(p)
        return fn

    g1 = commit_generation(spark, path, w([(1,)]))
    g2 = commit_generation(spark, path, w([(1,), (2,)]), expected_base=g1)
    assert g2 == g1 + 1
    with pytest.raises(IOError, match="stale writer"):
        commit_generation(spark, path, w([(99,)]), expected_base=g1)
    assert current_generation(spark, path) == g2
    assert {r.doc_id for r in read_parquet(spark, path).collect()} == {1, 2}


# --- r12: tombstone lifecycle (VERDICT r11 task 6) --------------------


def test_vacuum_tombstones_age_gate_and_no_resurrection(spark, tmp_path):
    """A vacuumed tombstone id (older than the replayable source
    retention) neither BLOCKS a fresh ingest of a new document reusing
    the id nor resurrects the old one — because the source, by the
    vacuum's precondition, no longer replays batches that old. Young
    tombstones survive a long-retention vacuum."""
    from bda_spark.operators.deletes import (
        read_tombstones,
        vacuum_tombstones,
    )

    ts_path = str(tmp_path / "ts")
    delete_docs(spark, [1, 2], tombstones_path=ts_path)
    # long retention: nothing is old enough to sweep
    assert vacuum_tombstones(spark, ts_path, max_age_seconds=3600) == 0
    assert {r.doc_id for r in read_tombstones(spark, ts_path).collect()} == {
        1, 2,
    }
    # retention 0: every tombstone is past the (zero) replay horizon
    assert vacuum_tombstones(spark, ts_path, max_age_seconds=0) == 2
    got = read_tombstones(spark, ts_path)
    assert got is None or got.count() == 0
    # ingest of a NEW document under a vacuumed id passes the filter
    batch = spark.createDataFrame(
        [(1, "fresh"), (3, "x")], "doc_id long, text string"
    )
    kept = filter_tombstoned(batch, ts_path)
    assert {r.doc_id for r in kept.collect()} == {1, 3}
    # and vacuum on an absent/empty table is a no-op
    assert vacuum_tombstones(spark, str(tmp_path / "none"), 0) == 0


def test_delete_into_legacy_doc_id_only_tombstones_table(spark, tmp_path):
    """r12 ADVICE (high): delete_docs must merge into a PRE-r12
    tombstones table (doc_id-only — no tombstoned_at column) instead
    of raising NUM_COLUMNS_MISMATCH after the physical deletes already
    ran (the id would be deleted but never tombstoned, and a replayed
    ingest batch could resurrect it). Covers both legacy layouts: a
    plain parquet dir and a versioned root born before the timestamp
    column existed. Legacy rows get null tombstoned_at and are never
    swept by vacuum (unknown age = conservative keep)."""
    from bda_spark.operators.deletes import (
        read_tombstones,
        vacuum_tombstones,
    )
    from bda_spark.sources.sinks import idempotent_merge_parquet
    from bda_spark.sources.versioned import is_versioned

    legacy = spark.createDataFrame([(1,), (2,)], "doc_id long")
    # layout A: plain dir (pre-versioned, pre-timestamp)
    plain = str(tmp_path / "plain_ts")
    legacy.write.parquet(plain)
    # layout B: versioned root, doc_id-only generation
    versioned = str(tmp_path / "versioned_ts")
    idempotent_merge_parquet(spark, legacy, versioned, keys=["doc_id"])
    assert is_versioned(spark, versioned)

    for path in (plain, versioned):
        delete_docs(spark, [2, 3], tombstones_path=path)  # must not raise
        got = read_tombstones(spark, path)
        assert {r.doc_id for r in got.collect()} == {1, 2, 3}
        # ids 2,3 were (re)stamped by the delete; untouched legacy id 1
        # is null-age and survives even a zero-retention vacuum
        assert vacuum_tombstones(spark, path, max_age_seconds=0) == 2
        assert {r.doc_id for r in read_tombstones(spark, path).collect()} == {
            1,
        }


def test_vacuum_tombstones_is_replay_safe_with_refresh(spark, tmp_path):
    """A REPLAYED delete refreshes tombstoned_at, so the id's
    retention clock restarts from the latest delete — the conservative
    direction (age can only be underestimated, never overestimated)."""
    from bda_spark.operators.deletes import (
        read_tombstones,
        vacuum_tombstones,
    )

    ts_path = str(tmp_path / "ts")
    delete_docs(spark, [7], tombstones_path=ts_path)
    delete_docs(spark, [7], tombstones_path=ts_path)  # replay
    assert read_tombstones(spark, ts_path).count() == 1
    assert vacuum_tombstones(spark, ts_path, max_age_seconds=3600) == 0
    assert vacuum_tombstones(spark, ts_path, max_age_seconds=0) == 1


def test_vacuum_spares_tombstone_refreshed_mid_vacuum(
    spark, tmp_path, monkeypatch
):
    """r12 ADVICE (low): the cross-writer window between vacuum's
    doomed-set read and delete_keys_parquet's pinned re-read. A
    delete_docs replay that REFRESHES tombstoned_at in that window
    must not have its fresh tombstone swept by the stale doomed set —
    the sweep matches on (id, tombstoned_at), so the refreshed row no
    longer matches and survives. Deterministic interleave: the real
    delete_keys_parquet is wrapped so the refreshing replay commits
    between vacuum's read and its delete."""
    import bda_spark.operators.deletes as deletes_mod
    from bda_spark.operators.deletes import (
        read_tombstones,
        vacuum_tombstones,
    )
    from bda_spark.sources.sinks import (
        delete_keys_parquet as real_delete,
        idempotent_merge_parquet,
    )

    ts_path = str(tmp_path / "ts")
    # plant a BACKDATED tombstone (age >> any max_age we pass) in a
    # versioned table, exactly the shape delete_docs writes
    stale = spark.createDataFrame([(7,)], "doc_id long").withColumn(
        "tombstoned_at", F.lit("2020-01-01 00:00:00").cast("timestamp")
    )
    idempotent_merge_parquet(spark, stale, ts_path, keys=["doc_id"])

    fired = {"n": 0}

    def interleaved_delete(spark_, ids, path, keys, **kw):
        # vacuum has already computed its doomed set from the pre-
        # refresh generation; the takedown replay now lands and
        # refreshes id 7's tombstoned_at before the sweep executes
        if fired["n"] == 0:
            fired["n"] = 1
            delete_docs(spark_, [7], tombstones_path=ts_path)
        return real_delete(spark_, ids, path, keys, **kw)

    monkeypatch.setattr(deletes_mod, "delete_keys_parquet", interleaved_delete)
    swept = vacuum_tombstones(spark, ts_path, max_age_seconds=60)
    assert fired["n"] == 1  # the interleave actually happened
    # the stale (2020) row no longer exists at the sweep's pinned
    # generation under its refreshed timestamp — nothing is swept and
    # the fresh tombstone survives
    assert swept == 0
    assert {r.doc_id for r in read_tombstones(spark, ts_path).collect()} == {
        7,
    }
    monkeypatch.undo()
    # sanity: with no refresh, the same backdated row DOES sweep
    assert vacuum_tombstones(spark, ts_path, max_age_seconds=0) == 1
