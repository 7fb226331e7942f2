"""Streaming incremental dedup (streaming/incremental.py): a document
stream matched micro-batch by micro-batch against a growing persisted
MinHash index — batch 2's near-dup of a batch-1 doc is flagged, fresh
docs are not, and the index ends holding every doc's signature."""

from __future__ import annotations

import json
import os

import pytest

from bda_spark.sources.batch import read_parquet


BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4


def _write_batch(d: str, name: str, rows: list[dict]) -> None:
    with open(os.path.join(d, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def doc_stream_dir(tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    # batch 1: two unique docs
    _write_batch(
        str(d), "b1.jsonl",
        [
            {"doc_id": 1, "text": BASE},
            {"doc_id": 2, "text": "totally different words " * 10},
        ],
    )
    # batch 2: a near-dup of doc 1 + a fresh doc
    _write_batch(
        str(d), "b2.jsonl",
        [
            {"doc_id": 101, "text": BASE + "tail variation words"},
            {"doc_id": 102, "text": "completely fresh content here " * 9},
        ],
    )
    return str(d)


def test_stream_dedup_flags_cross_batch_near_dup(spark, doc_stream_dir, tmp_path):
    from bda_spark.streaming.incremental import stream_dedup_against_index

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(doc_stream_dir)
    )
    index_path = str(tmp_path / "index")
    flags_path = str(tmp_path / "flags")
    q = stream_dedup_against_index(
        stream,
        index_path,
        flags_path,
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.5,
        available_now=True,
    )
    assert q.awaitTermination(300), "incremental dedup stream wedged"
    assert q.exception() is None, q.exception()

    index = read_parquet(spark, index_path)
    assert {r["doc_id"] for r in index.select("doc_id").collect()} == {
        1, 2, 101, 102,
    }
    flags = read_parquet(spark, flags_path).collect()
    assert {(r["new_id"], r["corpus_id"]) for r in flags} == {(101, 1)}
    assert all(r["est_jaccard"] > 0.5 for r in flags)

    # restart-safety: re-running the whole stream from a FRESH
    # checkpoint (same sinks) must not duplicate flags or signatures —
    # the merges are keyed upserts
    q2 = stream_dedup_against_index(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(doc_stream_dir),
        index_path,
        flags_path,
        checkpoint=str(tmp_path / "ckpt2"),
        threshold=0.5,
        available_now=True,
    )
    assert q2.awaitTermination(300)
    assert q2.exception() is None, q2.exception()
    assert read_parquet(spark, index_path).count() == 4
    again = read_parquet(spark, flags_path).collect()
    assert {(r["new_id"], r["corpus_id"]) for r in again} == {(101, 1)}
    assert len(again) == 1


# ------------------------------------------------ full ingest loop
BENCH_PASSAGE = (
    "the quick brown fox jumps over the lazy dog near the old river bank "
    "while seventeen sleepy owls watch quietly"
)
WORDS = [f"w{i}" for i in range(40)]


def test_stream_corpus_ingest_fates_and_growth(spark, tmp_path):
    """Two-batch replay of the full streaming training-data ingest:
    every doc gets exactly one fate, kept docs land + index, a
    cross-batch near-dup of a KEPT doc is flagged while the twin of a
    REMOVED doc is judged on its own merits, and a fresh-checkpoint
    rerun changes nothing (keyed merges)."""
    from bda_spark.streaming.incremental import stream_corpus_ingest

    d = tmp_path / "docs"
    d.mkdir()
    a_text = " ".join(WORDS)
    _write_batch(
        str(d), "b1.jsonl",
        [
            {"doc_id": 1, "text": a_text},                      # kept
            {"doc_id": 2, "text": "spam " * 40},                # quality
            {"doc_id": 3, "text": BENCH_PASSAGE + " " + " ".join(
                f"x{i}" for i in range(20))},                   # contaminated
        ],
    )
    _write_batch(
        str(d), "b2.jsonl",
        [
            {"doc_id": 101, "text": a_text + " tiny tail edit"},  # neardup of 1
            {"doc_id": 102, "text": " ".join(f"y{i}" for i in range(35))},  # kept
            # twin of the REMOVED doc 3: its own grams overlap the
            # benchmark, so it is contaminated BY ITSELF, not a dup
            {"doc_id": 103, "text": BENCH_PASSAGE + " " + " ".join(
                f"z{i}" for i in range(20))},
        ],
    )
    benchmark = spark.createDataFrame(
        [(9000, BENCH_PASSAGE)], "doc_id long, text string"
    )
    paths = dict(
        corpus_path=str(tmp_path / "corpus"),
        index_path=str(tmp_path / "index"),
        fates_path=str(tmp_path / "fates"),
    )

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .json(str(d))
        )
        q = stream_corpus_ingest(
            stream,
            benchmark,
            checkpoint=str(tmp_path / ckpt),
            threshold=0.5,
            min_quality=0.2,
            available_now=True,
            **paths,
        )
        assert q.awaitTermination(300), "ingest stream wedged"
        assert q.exception() is None, q.exception()

    run("ckpt1")
    fates = {
        r.doc_id: r.fate
        for r in read_parquet(spark, paths["fates_path"]).collect()
    }
    assert fates == {
        1: "kept", 2: "quality", 3: "contaminated",
        101: "neardup", 102: "kept", 103: "contaminated",
    }
    corpus_ids = {
        r.doc_id for r in read_parquet(spark, paths["corpus_path"]).collect()
    }
    assert corpus_ids == {1, 102}
    index_ids = {
        r.doc_id
        for r in read_parquet(spark, paths["index_path"])
        .select("doc_id").collect()
    }
    assert index_ids == {1, 102}

    run("ckpt2")  # fresh checkpoint, same sinks
    assert {
        r.doc_id: r.fate
        for r in read_parquet(spark, paths["fates_path"]).collect()
    } == fates
    assert read_parquet(spark, paths["corpus_path"]).count() == 2
    assert read_parquet(spark, paths["index_path"]).count() == 2
