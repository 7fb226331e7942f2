"""Unit tests for the bucketed near-dup/ANN operators on planted
duplicates (the oracle harness separately checks them against exact
all-pairs SQL on the driver tables)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

from bda_spark.operators.dedup import (
    minhash_neardup_pairs,
    neardup_clusters,
    shingles,
)
from bda_spark.operators.similarity import (
    ivf_topk,
    simhash_neardup_pairs,
    simhash_topk,
)


def _doc(words):
    return " ".join(words)


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(500)]
    base = list(rng.choice(vocab, size=60))
    near = base.copy()
    near[5] = "CHANGED"  # one token edit -> jaccard ~ 0.9
    rows = [
        Row(doc_id=0, text=_doc(base)),
        Row(doc_id=1, text=_doc(near)),
    ]
    for i in range(2, 30):
        rows.append(Row(doc_id=i, text=_doc(list(rng.choice(vocab, size=60)))))
    return spark.createDataFrame(rows)


def test_shingles_shape(spark, docs):
    sh = shingles(docs, n=3)
    counts = {r.doc_id: r.n for r in sh.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    assert counts[0] == 58  # 60 tokens -> 58 distinct 3-gram shingles


def test_minhash_finds_planted_pair_only(spark, docs):
    pairs = minhash_neardup_pairs(docs, threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(0, 1)]
    # one token edit kills shingles at 3 positions: 55 shared / 61 union
    assert pairs[0].jaccard == pytest.approx(55 / 61, abs=1e-6)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal(64)
    near = base + rng.standard_normal(64) * 0.01  # cosine ~ 1.0
    rows = [
        Row(vec_id=0, embedding=[float(x) for x in base]),
        Row(vec_id=1, embedding=[float(x) for x in near]),
    ]
    for i in range(2, 40):
        rows.append(
            Row(vec_id=i, embedding=[float(x) for x in rng.standard_normal(64)])
        )
    return spark.createDataFrame(rows)


def test_simhash_finds_planted_pair(spark, emb):
    pairs = simhash_neardup_pairs(emb, threshold=0.9).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]
    assert pairs[0].cosine > 0.99


def test_simhash_topk_ranks_planted_neighbor_first(spark, emb):
    queries = emb.filter("vec_id = 0")
    topk = simhash_topk(emb, queries, k=3).collect()
    assert len(topk) == 3
    assert topk[0].query_id == 0
    by_rank = sorted(topk, key=lambda r: r.rk)
    assert by_rank[0].neighbor_id == 1  # the planted near-dup
    assert by_rank[0].cosine > 0.99
    assert by_rank[0].cosine >= by_rank[1].cosine >= by_rank[2].cosine


# ----------------------------------------------------- clustering (CC)
def test_dedup_corpus_end_to_end(spark):
    """The one-call pipeline: case/punctuation variants die in the
    exact stage, small edits die in the near-dup stage, unique docs
    survive, and the removed-mapping attributes every drop to its
    keeper with the right reason."""
    from pyspark.sql import Row

    from bda_spark.operators.dedup import dedup_corpus

    base = " ".join(f"tok{i}" for i in range(40))
    edited = " ".join(
        f"tok{i}" if i != 20 else "EDITED" for i in range(40)
    )
    unique = " ".join(f"other{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base.upper() + "!!"),   # exact after canon
            Row(doc_id=3, text=edited),                # near-dup of 1
            Row(doc_id=4, text=unique),
            Row(doc_id=5, text=base + " !? "),         # exact after canon
        ]
    )
    kept, removed = dedup_corpus(docs, threshold=0.5)
    assert {r["doc_id"] for r in kept.collect()} == {1, 4}
    got = {
        r["doc_id"]: (r["kept_id"], r["reason"]) for r in removed.collect()
    }
    assert got == {
        2: (1, "exact"),
        5: (1, "exact"),
        3: (1, "neardup"),
    }
    # original columns untouched on the survivors
    assert set(kept.columns) == {"doc_id", "text"}


def test_neardup_clusters_components(spark):
    """Transitive chains collapse to one cluster labeled by the min id;
    disjoint pairs stay separate components."""
    pairs = spark.createDataFrame(
        [Row(doc_a=1, doc_b=5), Row(doc_a=5, doc_b=9),   # chain 1-5-9
         Row(doc_a=9, doc_b=2),                          # extends to 2
         Row(doc_a=7, doc_b=8)],                         # separate pair
    )
    got = {r.doc_id: r.cluster_id for r in neardup_clusters(pairs).collect()}
    assert got == {1: 1, 5: 1, 9: 1, 2: 1, 7: 7, 8: 7}


def test_neardup_clusters_raises_when_round_budget_too_small(spark):
    """A component whose diameter exceeds max_iterations must FAIL
    loudly, never return silently-split cluster labels."""
    import pytest

    chain = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(1, 8)]  # diameter-7 chain
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(chain, max_iterations=2, local_threshold=0)
    # with enough rounds the same graph converges to one component
    got = {
        r.cluster_id
        for r in neardup_clusters(
            chain, max_iterations=10, local_threshold=0
        ).collect()
    }
    assert got == {1}


def test_incremental_dedup_matches_new_batch_against_index(spark, tmp_path):
    """The production incremental shape: persist the corpus signature
    index once, then match a NEW batch against it — the near-dup of a
    corpus doc is found with high estimated Jaccard, the fresh doc is
    not flagged, and the corpus text is never re-read."""
    from bda_spark.operators.dedup import minhash_index, minhash_match_new

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text="totally different words " * 10),
            Row(doc_id=3, text="yet another unrelated document body " * 8),
        ]
    )
    idx_path = str(tmp_path / "mh_index")
    minhash_index(corpus).write.parquet(idx_path)  # the persisted artifact
    index = spark.read.parquet(idx_path)

    new_batch = spark.createDataFrame(
        [
            Row(doc_id=101, text=base + "tail variation words"),  # near-dup of 1
            Row(doc_id=102, text="completely fresh content here " * 9),
        ]
    )
    got = minhash_match_new(new_batch, index, threshold=0.5).collect()
    assert {(r.new_id, r.corpus_id) for r in got} == {(101, 1)}
    assert all(r.est_jaccard > 0.5 for r in got)
    # determinism: same seeds -> identical estimate on rerun
    again = minhash_match_new(new_batch, index, threshold=0.5).collect()
    assert {(r.new_id, r.corpus_id, r.est_jaccard) for r in again} == {
        (r.new_id, r.corpus_id, r.est_jaccard) for r in got
    }


def test_neardup_clusters_log_round_convergence(spark):
    """Pointer jumping makes round count logarithmic in the diameter: a
    diameter-40 chain must converge well inside 8 rounds (min-label
    propagation alone would need 40)."""
    chain = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(1, 41)]
    )
    got = {
        r.cluster_id
        for r in neardup_clusters(
            chain, max_iterations=8, local_threshold=0
        ).collect()
    }
    assert got == {1}


# ------------------------------------------------------------- IVF ANN
def test_ivf_full_probe_equals_brute_force(spark, emb):
    """Probing every cell makes IVF provably exact: identical rows to
    the brute-force top-k regardless of what KMeans learned."""
    from bda_spark.functions.vectors import cosine_similarity_col
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    queries = emb.filter("vec_id < 3")
    got = sorted(
        (r.query_id, r.rk, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8).collect()
    )
    v = F.col("embedding").cast("array<double>")
    q = queries.select(F.col("vec_id").alias("query_id"), v.alias("va"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), v.alias("vb"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    brute = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_similarity_col(F.col("va"), F.col("vb")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    want = sorted(
        (r.query_id, r.rk, r.neighbor_id) for r in brute.collect()
    )
    assert got == want


def test_ivf_partial_probe_recalls_planted_neighbor(spark, emb):
    """The realistic regime: probe a fraction of cells. The planted
    near-identical neighbor shares its query's cell (cosine ~1 implies
    the same Voronoi region at any sane quantization), so recall@1 of
    the true nearest neighbor must survive heavy pruning."""
    queries = emb.filter("vec_id = 0")
    got = ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=2).collect()
    assert got, "probed cells produced no candidates"
    best = min(got, key=lambda r: r.rk)
    assert best.neighbor_id == 1 and best.cosine > 0.99


# ------------------------------------------------- hot-bucket cap (LSH)
@pytest.fixture(scope="module")
def mega_cluster_docs(spark):
    """20 near-identical docs (NOT exact dups — each appends a unique
    token, pairwise jaccard ~0.9) plus background uniques: the planted
    hot band-bucket a 100 TB run would hit."""
    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(500)]
    base = _doc(list(rng.choice(vocab, size=60)))
    rows = [Row(doc_id=i, text=base + f" uniq{i}") for i in range(20)]
    for i in range(20, 30):
        rows.append(Row(doc_id=i, text=_doc(list(rng.choice(vocab, size=60)))))
    return spark.createDataFrame(rows)


def test_hot_bucket_cap_bounds_candidates(spark, mega_cluster_docs):
    """A k-member near-identical cluster yields O(k^2) candidates
    uncapped; the rank-gap cap bounds it to O(k * cap) chain edges
    while keeping every bucket's candidate graph connected."""
    from bda_spark.operators.dedup import (
        _banded_candidates,
        band_keys,
        minhash_signatures,
    )

    bands = band_keys(
        minhash_signatures(shingles(mega_cluster_docs))
    ).localCheckpoint(eager=True)
    uncapped = _banded_candidates(bands, max_bucket_size=1 << 40).count()
    capped = _banded_candidates(bands, max_bucket_size=4).count()
    assert uncapped == 20 * 19 // 2  # every pair collides somewhere
    # chain edges in a 20-member hot bucket at cap 4 are sum(min(4,
    # 20-i)) = 70; residual small buckets (members whose unique suffix
    # shifted a band hash) may add a few all-pairs edges on top, but
    # the quadratic regime is gone
    assert capped < uncapped / 2
    assert capped >= 19  # consecutive-rank edges keep it connected


def test_hot_bucket_cap_preserves_dedup_outcome(spark, mega_cluster_docs):
    """Done-condition from the design note: capped vs uncapped runs
    reach the IDENTICAL kept/removed (cluster) outcome on the planted
    mega-cluster, and every emitted pair is still exact-verified."""
    capped_pairs = minhash_neardup_pairs(
        mega_cluster_docs, threshold=0.5, max_bucket_size=4
    )
    assert capped_pairs.filter("jaccard < 0.5").count() == 0
    uncapped_pairs = minhash_neardup_pairs(
        mega_cluster_docs, threshold=0.5, max_bucket_size=1 << 40
    )
    got_capped = {
        r.doc_id: r.cluster_id
        for r in neardup_clusters(
            capped_pairs.select("doc_a", "doc_b")
        ).collect()
    }
    got_uncapped = {
        r.doc_id: r.cluster_id
        for r in neardup_clusters(
            uncapped_pairs.select("doc_a", "doc_b")
        ).collect()
    }
    assert got_capped == got_uncapped == {i: 0 for i in range(20)}


def test_zero_norm_embeddings_are_similar_to_nothing(spark):
    """cos(0, x) = 0 by convention: without the guard, 0/0 = NaN sorts
    above every real cosine descending and passes every >= threshold
    filter, making zero vectors (empty documents) universal rank-1
    neighbors and bogus 'near-duplicates' of each other."""
    import math

    rows = [
        Row(vec_id=0, embedding=[0.0] * 8),   # zero vector
        Row(vec_id=1, embedding=[0.0] * 8),   # second zero vector
        Row(vec_id=2, embedding=[1.0] + [0.0] * 7),
        Row(vec_id=3, embedding=[0.9, 0.1] + [0.0] * 6),
    ]
    emb = spark.createDataFrame(rows)
    pairs = simhash_neardup_pairs(emb, threshold=0.45, dim=8).collect()
    assert all(not math.isnan(r["cosine"]) for r in pairs)
    assert {(r.id_a, r.id_b) for r in pairs} == {(2, 3)}  # the real pair only
    got = simhash_topk(emb, emb.filter("vec_id = 2"), k=3, dim=8).collect()
    assert all(not math.isnan(r["cosine"]) for r in got)
    assert got and got[0]["neighbor_id"] == 3  # not a zero vector


def test_match_new_uncapped_by_default_and_truncation_audit(spark):
    """ADVICE r7: the hot-bucket cap on the incremental match is a
    recall trade that must be OPT-IN (a truncated posting entry is
    never compared, unlike the self-join's chain edges). Default =
    uncapped finds a near-dup even when its corpus_id ranks above a
    small cap in every shared bucket; the audit helper reports exactly
    the exposure a cap would create."""
    from bda_spark.operators.dedup import (
        minhash_bucket_truncation,
        minhash_index,
        minhash_match_new,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    # a mega-cluster of near-identical docs with LOW ids floods every
    # band bucket; the interesting corpus twin has the HIGHEST id
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=base) for i in range(1, 9)]
        + [Row(doc_id=99, text=base + " unique suffix words here")]
    )
    index = minhash_index(corpus)
    new_batch = spark.createDataFrame(
        [Row(doc_id=101, text=base + " unique suffix words here")]
    )
    uncapped = minhash_match_new(new_batch, index, threshold=0.9)
    assert (99 in {r.corpus_id for r in uncapped.collect()})
    # a tiny cap (4 < cluster size) can hide high-ranked corpus ids;
    # the audit quantifies the exposure BEFORE anyone enables it
    audit = minhash_bucket_truncation(index, max_bucket_size=4).collect()
    assert audit, "the mega-cluster must overflow at least one bucket"
    assert all(r.truncated_rows == r.bucket_size - 4 for r in audit)
    assert all(r.bucket_size > 4 for r in audit)


def test_chained_cap_reaches_above_cap_near_dups(spark):
    """VERDICT r8 #5: the recall-safe cap. Fixture: a near-identical
    corpus mega-cluster whose interesting twin has the HIGHEST id, so
    a cap of 4 leaves it out of every shared bucket's posting list. A
    plain truncating cap, which compared only the posting list, missed
    the (101, 99) pair; the chained cap reaches it through verified
    corpus chain edges, and on this chain-connected fixture the capped
    result equals the uncapped ground truth."""
    from pyspark.sql import Row

    from bda_spark.operators.dedup import minhash_index, minhash_match_new

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    # 99 is byte-identical to the flood, so its signature (hence EVERY
    # band bucket) coincides with the cluster's and it ranks dead last
    # in each posting list — the worst case for a capped posting list
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=base) for i in range(1, 9)]
        + [Row(doc_id=99, text=base)]
    )
    index = minhash_index(corpus)
    new_batch = spark.createDataFrame([Row(doc_id=101, text=base)])

    uncapped = {
        (r.new_id, r.corpus_id)
        for r in minhash_match_new(new_batch, index, threshold=0.5).collect()
    }
    assert (101, 99) in uncapped

    chained_rows = minhash_match_new(
        new_batch, index, threshold=0.5, max_bucket_size=4,
    ).collect()
    chained = {(r.new_id, r.corpus_id) for r in chained_rows}
    assert (101, 99) in chained
    # chain-connected fixture: chained == uncapped ground truth
    assert chained == uncapped
    # schema-stable: same 3 columns as the uncapped match; direct hits
    # carry their estimate, chain-expanded rows read as NULL
    assert set(chained_rows[0].asDict()) == {"new_id", "corpus_id", "est_jaccard"}
    assert any(r.est_jaccard is not None for r in chained_rows)
    direct_pairs = {
        (r.new_id, r.corpus_id)
        for r in chained_rows
        if r.est_jaccard is not None
    }
    assert direct_pairs <= chained


def test_cc_local_and_distributed_paths_agree(spark):
    """The hybrid switch must be invisible: driver union-find (small
    graphs) and distributed pointer jumping produce identical
    (doc_id, cluster_id) maps — same node set, same min-id labels."""
    import random

    rng = random.Random(7)
    pairs = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(1, 30)]          # chain
        + [Row(doc_a=100 + rng.randrange(20), doc_b=100 + rng.randrange(20))
           for _ in range(40)]                                      # blob
        + [Row(doc_a=999, doc_b=1000)]                              # islet
    )
    local = {
        (r.doc_id, r.cluster_id)
        for r in neardup_clusters(pairs).collect()                  # hybrid->local
    }
    dist = {
        (r.doc_id, r.cluster_id)
        for r in neardup_clusters(pairs, local_threshold=0).collect()
    }
    assert local == dist


def test_external_queries_are_first_class_across_all_ann_families(spark):
    """r9 VERDICT #3: every ANN family must answer EXTERNAL query
    vectors (vec_ids absent from the corpus) — ivf_topk/simhash_topk
    used to join the query vector back from the corpus by vec_id and
    silently dropped them. Each family must return exactly k ranked
    neighbors per external query, and (for the exact-regime probes)
    agree with brute force on the top-1."""
    import numpy as np
    from bda_spark.operators.quantize import ivf_sq8_topk, sq8_topk
    from bda_spark.operators.similarity import ivf_topk, simhash_topk
    from bda_spark.sources.batch import load_table

    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    dim = len(emb.select("embedding").first()[0])
    # external queries: copies of three corpus vectors under vec_ids
    # far outside the corpus id space (plus a tiny nudge on one)
    base = {r["vec_id"]: list(r["embedding"]) for r in emb.filter(
        F.col("vec_id").isin([0, 1, 2])).collect()}
    rows = [
        (1_000_000 + i, [float(x) + (0.001 if i == 2 else 0.0) for x in v])
        for i, v in enumerate(base.values())
    ]
    queries = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    k = 4

    results = {
        "simhash_topk": simhash_topk(emb, queries, k=k, dim=dim),
        "ivf_topk": ivf_topk(
            emb, queries, k=k, n_centroids=8, n_probe=8, train_per_centroid=32
        ),
        "sq8_topk": sq8_topk(emb, queries, k=k),
        "ivf_sq8_topk": ivf_sq8_topk(
            emb, queries, k=k, n_centroids=8, n_probe=8, oversample=8
        ),
    }
    # brute-force top-1 per query for the exact-regime check
    X = np.array([r["embedding"] for r in emb.orderBy("vec_id").collect()])
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").collect()]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    expect_top1 = {}
    for qid, qv in rows:
        q = np.array(qv); q = q / np.linalg.norm(q)
        expect_top1[qid] = ids[int(np.argmax(Xn @ q))]
    for fam, df in results.items():
        got = df.collect()
        per_q = {}
        for r in got:
            per_q.setdefault(r["query_id"], []).append(r)
        assert set(per_q) == {qid for qid, _ in rows}, fam
        for qid, rs in per_q.items():
            assert len(rs) == k, (fam, qid, len(rs))
            assert sorted(r["rk"] for r in rs) == list(range(1, k + 1)), fam
        if fam in ("ivf_topk", "ivf_sq8_topk", "sq8_topk"):
            # full-probe / full-scan regimes: top-1 must equal brute force
            for qid, rs in per_q.items():
                top1 = min(rs, key=lambda r: r["rk"])["neighbor_id"]
                assert top1 == expect_top1[qid], (fam, qid, top1)


# ---------------------------------------------------- duplicate passages
def test_duplicate_passages_exact_span_and_positions(spark):
    """Planted 15-token passage shared by two docs at different
    offsets: the diagonal run-merge must report exactly one span with
    exact positions and length (8-gram runs of a 15-token passage =
    8 consecutive matches -> span_tokens = 8 + 8 - 1 = 15)."""
    from bda_spark.operators.dedup import duplicate_passages

    passage = " ".join(f"p{i}" for i in range(15))
    rows = [
        (1, " ".join(f"a{i}" for i in range(5)) + " " + passage + " "
         + " ".join(f"z{i}" for i in range(5))),
        (2, " ".join(f"b{i}" for i in range(3)) + " " + passage + " "
         + " ".join(f"y{i}" for i in range(4))),
        (3, " ".join(f"c{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = duplicate_passages(docs, n=8, min_span_tokens=12).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.doc_a, r.doc_b, r.pos_a, r.pos_b, r.span_tokens) == (
        1, 2, 5, 3, 15,
    )


def test_duplicate_passages_occurrence_cap_drops_boilerplate(spark):
    """A passage stamped into MORE docs than the occurrence cap is
    boilerplate: every one of its grams exceeds the cap, so no spans
    emit (fan-out stays bounded instead of cap^2-exploding); the same
    corpus under a higher cap reports every pair."""
    from bda_spark.operators.dedup import duplicate_passages

    passage = " ".join(f"q{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(i, f"u{i}x u{i}y " + passage) for i in range(10)],
        ["doc_id", "text"],
    )
    capped = duplicate_passages(
        docs, n=8, min_span_tokens=12, max_gram_occurrences=9
    )
    assert capped.count() == 0
    uncapped = duplicate_passages(
        docs, n=8, min_span_tokens=12, max_gram_occurrences=100
    )
    assert uncapped.count() == 45  # all C(10,2) pairs


def test_duplicate_passages_short_docs_and_min_span(spark):
    """Docs shorter than n produce no grams (no crash); shared runs
    below min_span_tokens are filtered."""
    from bda_spark.operators.dedup import duplicate_passages

    shared10 = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, "tiny doc"),
            (2, shared10 + " " + "tail1 tail2"),
            (3, shared10 + " " + "other1 other2"),
        ],
        ["doc_id", "text"],
    )
    # 10-token shared run: span_tokens = 10 < 12 -> filtered
    assert duplicate_passages(docs, n=8, min_span_tokens=12).count() == 0
    got = duplicate_passages(docs, n=8, min_span_tokens=10).collect()
    assert len(got) == 1 and got[0].span_tokens == 10


# ---------------------------------------------------------------------------
# Cross-corpus fuzzy join (operators/dedup.py::minhash_fuzzy_join)


def _fuzzy_corpora(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "machine learning systems require large curated training corpora",
        "completely unrelated text about cooking pasta with fresh tomatoes",
    ]
    left = [(i, t) for i, t in enumerate(base)]
    # right: 0 = near-dup of left 0 (one token changed), 1 = exact copy
    # of left 1, 2 = novel
    right = [
        (100, base[0].replace("lazy", "sleepy")),
        (101, base[1]),
        (102, "astronomy telescopes observe distant galaxies every night"),
    ]
    return (
        spark.createDataFrame(left, "doc_id long, text string"),
        spark.createDataFrame(right, "doc_id long, text string"),
    )


def test_fuzzy_join_links_cross_corpus_neardups_exactly(spark):
    from bda_spark.operators.dedup import minhash_fuzzy_join

    left, right = _fuzzy_corpora(spark)
    got = {
        (r.left_id, r.right_id): r.jaccard
        for r in minhash_fuzzy_join(left, right, threshold=0.3).collect()
    }
    assert (1, 101) in got and got[(1, 101)] == 1.0
    assert (0, 100) in got and 0.3 <= got[(0, 100)] < 1.0
    # novel docs never link; jaccard is the EXACT verify, so the pair
    # set is threshold-stable
    assert all(k in {(1, 101), (0, 100)} for k in got), got


def test_fuzzy_join_side_cap_bounds_bucket_fanout(spark):
    from bda_spark.operators.dedup import minhash_fuzzy_join
    from pyspark.sql import functions as F

    # 30 identical docs per side: every band bucket holds all 30 of
    # each; cap=5 bounds candidates at 5x5 per bucket
    left = spark.range(0, 30).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta eta theta").alias("text"),
    )
    right = spark.range(100, 130).select(
        F.col("id").alias("doc_id"), F.lit(
            "alpha beta gamma delta epsilon zeta eta theta"
        ).alias("text"),
    )
    capped = minhash_fuzzy_join(
        left, right, threshold=0.5, max_bucket_size=5
    )
    n = capped.count()
    assert 0 < n <= 25  # cap^2, not 30*30
    full = minhash_fuzzy_join(
        left, right, threshold=0.5, max_bucket_size=None
    ).count()
    assert full == 900


def test_simhash_hamming_prefilter_math_and_recall_at_threshold(spark):
    """r13 Hamming prefilter (the simhash 100x-rung fix): the bound
    must sit far below a threshold pair's expected matched bits and
    far above a random pair's, and pairs planted NEAR the cosine
    threshold must survive the full operator (the prefilter may only
    ever drop what the exact rescore would reject anyway)."""
    import math

    from bda_spark.operators.similarity import (
        _hamming_min_match_bits,
        simhash_neardup_pairs,
    )

    # strict setting: 1024 bits, p(0.9) ~ 0.8564
    bits_min = _hamming_min_match_bits(0.9, 16, 64)
    p = 1 - math.acos(0.9) / math.pi
    mu, sigma = 1024 * p, math.sqrt(1024 * p * (1 - p))
    assert bits_min <= mu - 6.9 * sigma  # >= ~7-sigma below the mean
    assert bits_min >= 512 + 15 * 16  # >= ~15-sigma above random (512, 16)

    # planted pairs straddling the threshold: ~0.92 must be found,
    # the exact filter (not the prefilter) decides the ~0.88 one
    rng = np.random.default_rng(23)
    base = rng.standard_normal(64)
    base /= np.linalg.norm(base)

    def at_cosine(c):
        o = rng.standard_normal(64)
        o -= o.dot(base) * base
        o /= np.linalg.norm(o)
        return c * base + math.sqrt(1 - c * c) * o

    rows = [
        Row(vec_id=0, embedding=[float(x) for x in base]),
        Row(vec_id=1, embedding=[float(x) for x in at_cosine(0.92)]),
        Row(vec_id=2, embedding=[float(x) for x in at_cosine(0.88)]),
    ]
    for i in range(3, 60):
        rows.append(
            Row(
                vec_id=i,
                embedding=[float(x) for x in rng.standard_normal(64)],
            )
        )
    emb = spark.createDataFrame(rows)
    # hamming_prefilter=True: pin the filter ON (60 vectors sit far
    # below the size gate that arms it automatically)
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in simhash_neardup_pairs(
            emb, threshold=0.9, band_rows=16, num_bands=64,
            hamming_prefilter=True,
        ).collect()
    }
    assert (0, 1) in got and got[(0, 1)] == pytest.approx(0.92, abs=1e-6)
    assert (0, 2) not in got  # below threshold: rejected by exact filter

    # regime equivalence: the size-gated small-corpus path (filter
    # skipped) must return the identical pair set and cosines
    plain = {
        (r.id_a, r.id_b): r.cosine
        for r in simhash_neardup_pairs(
            emb, threshold=0.9, band_rows=16, num_bands=64,
            hamming_prefilter=False,
        ).collect()
    }
    assert plain == got


def test_sampled_prefilter_plan_arithmetic():
    """r15: the sampled in-join stage arms exactly when ~2 words of
    signature bits separate true pairs from random collisions — high
    thresholds arm (strict dedup, where the 1000x rung measured the
    unsampled plan sort-spilling ~70 GB), low thresholds and narrow
    signatures return None (plan shape unchanged from pre-r15)."""
    from bda_spark.operators.similarity import (
        _min_match_bits,
        _sampled_prefilter_plan,
    )

    plan = _sampled_prefilter_plan(0.9, 16, 64)
    assert plan is not None
    word_idxs, max_ham = plan
    assert word_idxs == [0, 8] and len(word_idxs) == 2
    # the bound is the z=7 Binomial bound over exactly the carried bits
    bits = 2 * 4 * 16  # 2 words x 4 bands/word x 16 bits/band
    assert max_ham == bits - _min_match_bits(bits, 0.9)
    # a random pair's expected Hamming is bits/2 = 64 — the armed
    # bound must sit well below it (that's the whole point)
    assert max_ham < bits / 2
    # low threshold: bound lands above the random mean -> disarmed
    assert _sampled_prefilter_plan(0.45, 6, 96) is None
    # <3 words: full filter already narrow -> disarmed
    assert _sampled_prefilter_plan(0.9, 32, 2) is None


def test_simhash_staged_prefilter_equals_exact_on_planted_clusters(spark):
    """r15 staged-prefilter regression: at threshold 0.9 the sampled
    stage is ARMED (see plan test) and every true pair must still
    come out — staged result identical to the exact (prefilter-off)
    regime at both the registry shape and the r20 production-knob
    shape, on a fixture dense with planted near-identical clusters
    AND random collision fodder."""
    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for _ in range(20):  # 20 clusters x 3 near-identical members
        base = rng.standard_normal(64)
        for _ in range(3):
            v = base + rng.normal(scale=0.02, size=64)
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
            vid += 1
    for _ in range(200):  # random singletons: collision fodder
        rows.append(
            Row(
                vec_id=vid,
                embedding=[float(x) for x in rng.standard_normal(64)],
            )
        )
        vid += 1
    emb = spark.createDataFrame(rows)
    for band_rows, num_bands in ((16, 64), (20, 116)):
        staged = {
            (r.id_a, r.id_b): r.cosine
            for r in simhash_neardup_pairs(
                emb, threshold=0.9, band_rows=band_rows,
                num_bands=num_bands, hamming_prefilter=True,
            ).collect()
        }
        exact = {
            (r.id_a, r.id_b): r.cosine
            for r in simhash_neardup_pairs(
                emb, threshold=0.9, band_rows=band_rows,
                num_bands=num_bands, hamming_prefilter=False,
            ).collect()
        }
        assert staged == exact
        # every planted intra-cluster pair the banding surfaced is
        # present (>= catches all 3 per cluster in the common case;
        # equality with `exact` above is the real invariant)
        assert len(staged) >= 20


def test_embedding_neardup_auto_routes_and_matches(spark):
    """r15 front-door router: the measured crossover as engine
    behavior. On a small corpus auto must take the simhash route and
    return exactly simhash_neardup_pairs' result; the pinned semantic
    route under the derived k ~ n/125 policy (k=1 here: the exact
    all-pairs regime) must return every exact pair; unknown methods
    refuse loudly."""
    import pytest as _pytest

    from bda_spark.operators.similarity import embedding_neardup_auto

    rng = np.random.default_rng(11)
    rows = [
        Row(vec_id=0, embedding=[1.0] + [0.0] * 63),
        Row(vec_id=1, embedding=[0.999] + [0.04] + [0.0] * 62),
    ]
    for i in range(2, 40):
        rows.append(
            Row(
                vec_id=i,
                embedding=[float(x) for x in rng.standard_normal(64)],
            )
        )
    emb = spark.createDataFrame(rows)

    got_auto = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in embedding_neardup_auto(emb, threshold=0.9).collect()
    }
    got_simhash = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in simhash_neardup_pairs(emb, threshold=0.9).collect()
    }
    assert got_auto == got_simhash and (0, 1) in got_auto

    # n_vecs hint skips the count and must not change the route
    got_hint = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in embedding_neardup_auto(
            emb, threshold=0.9, n_vecs=40
        ).collect()
    }
    assert got_hint == got_auto

    # pinned semantic route: 40 vectors -> derived k = round(40/125) -> 1
    # cell = the exact all-pairs regime, so the planted pair must be
    # found with the identical exact cosine
    got_semantic = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in embedding_neardup_auto(
            emb, threshold=0.9, method="semantic"
        ).collect()
    }
    assert got_semantic == got_auto

    with _pytest.raises(ValueError, match="unknown method"):
        embedding_neardup_auto(emb, method="knn")


def test_simhash_quadratic_size_gate(spark, monkeypatch):
    """r16 size gate (VERDICT r15 #2): past the measured ~1M-vector
    crossover, a pinned simhash call must REFUSE by default — the
    quadratic b*2^-r*n^2/2 collision term is measured engine knowledge
    (522 s at 2M vectors), not something a user should stumble into —
    and proceed-with-warning only under an explicit
    ``allow_quadratic=True``. The gate trips on the counted corpus AND
    on a caller-supplied ``n_hint`` (the router's threaded count), and
    the opted-in result is identical to the below-gate result."""
    from bda_spark.operators import similarity as sim

    rng = np.random.default_rng(3)
    rows = [
        Row(vec_id=0, embedding=[1.0] + [0.0] * 63),
        Row(vec_id=1, embedding=[0.999] + [0.04] + [0.0] * 62),
    ]
    for i in range(2, 40):
        rows.append(
            Row(
                vec_id=i,
                embedding=[float(x) for x in rng.standard_normal(64)],
            )
        )
    emb = spark.createDataFrame(rows)

    below_gate = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in simhash_neardup_pairs(emb, threshold=0.9).collect()
    }
    assert (0, 1) in below_gate

    monkeypatch.setattr(sim, "_AUTO_NEARDUP_MAX_SIMHASH_VECTORS", 30)
    # counted corpus (40 >= 30) trips the gate
    with pytest.raises(ValueError, match="allow_quadratic"):
        simhash_neardup_pairs(emb, threshold=0.9)
    # the threaded count trips it too, without any corpus scan
    with pytest.raises(ValueError, match="embedding_neardup_auto"):
        simhash_neardup_pairs(emb, threshold=0.9, n_hint=10_000_000)
    # a below-crossover hint does not trip
    monkeypatch.setattr(sim, "_AUTO_NEARDUP_MAX_SIMHASH_VECTORS", 1_000_000)
    assert {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in simhash_neardup_pairs(
            emb, threshold=0.9, n_hint=40
        ).collect()
    } == below_gate
    # explicit opt-in past the gate: warns, proceeds, identical output
    monkeypatch.setattr(sim, "_AUTO_NEARDUP_MAX_SIMHASH_VECTORS", 30)
    with pytest.warns(UserWarning, match="quadratic"):
        opted_in = {
            (r.id_a, r.id_b): round(r.cosine, 9)
            for r in simhash_neardup_pairs(
                emb, threshold=0.9, allow_quadratic=True
            ).collect()
        }
    assert opted_in == below_gate


def test_embedding_neardup_auto_semantic_route_past_crossover(
    spark, monkeypatch
):
    """r16 (VERDICT r15 #6): the router's >=crossover branch proven
    end-to-end at a realistic threshold — with the crossover lowered
    under the planted corpus size, ``method="auto"`` at 0.9 must take
    the SEMANTIC route (the simhash family is stubbed to fail loudly
    if dispatched), derive n_centroids from the k ~ n/125 policy, and
    still return the planted near-dup pair with its exact cosine."""
    from bda_spark.operators import similarity as sim
    from bda_spark.operators.similarity import embedding_neardup_auto

    rng = np.random.default_rng(5)
    rows = [
        Row(vec_id=0, embedding=[1.0] + [0.0] * 63),
        Row(vec_id=1, embedding=[0.999] + [0.04] + [0.0] * 62),
    ]
    for i in range(2, 40):
        rows.append(
            Row(
                vec_id=i,
                embedding=[float(x) for x in rng.standard_normal(64)],
            )
        )
    emb = spark.createDataFrame(rows)
    expect = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in simhash_neardup_pairs(emb, threshold=0.9).collect()
    }
    assert (0, 1) in expect

    monkeypatch.setattr(sim, "_AUTO_NEARDUP_MAX_SIMHASH_VECTORS", 30)

    def _refuse_simhash(*a, **k):  # the route the auto call must NOT take
        raise AssertionError("auto routed simhash past the crossover")

    monkeypatch.setattr(sim, "simhash_neardup_pairs", _refuse_simhash)
    got = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in embedding_neardup_auto(emb, threshold=0.9).collect()
    }
    assert got == expect


def test_embedding_neardup_auto_threads_count_into_simhash(monkeypatch):
    """r15 ADVICE: the auto route's own count must ride into the
    simhash branch as ``n_hint`` — one corpus scan per call, not two.
    Pinned by recording the kwargs the router actually passes."""
    from bda_spark.operators import similarity as sim
    from bda_spark.operators.similarity import embedding_neardup_auto

    seen = {}

    def _record(embeddings, **kwargs):
        seen.update(kwargs)
        return "sentinel"

    monkeypatch.setattr(sim, "simhash_neardup_pairs", _record)
    out = embedding_neardup_auto("fake_df", threshold=0.9, n_vecs=40)
    assert out == "sentinel"
    assert seen["n_hint"] == 40
