"""Bucketed near-duplicate detection at scale: MinHash-LSH over n-gram
shingle sets (SURVEY extension; the scale path behind the exact
``ngram_jaccard_pairs`` baseline in plans.textops).

Shape of the plan (the 100 TB design):

1. shingle + hash each document (one scan, JVM-side expressions)
2. 32-bit minhash signatures via the universal family
   h_k(x) = (a_k * x + b_k) mod p,  p = 2^31 - 1 (products stay under
   2^63, so ANSI-mode long arithmetic cannot overflow)
3. band the signature (b bands x r rows), hash each band to one 64-bit
   key, explode -> (doc_id, band_key)
4. self-join on band_key: ONLY documents agreeing on an entire band
   collide, so join fan-out is per-bucket, not per-shingle —
   candidates ~ O(n * dup_rate) instead of the all-pairs O(n^2)
5. exact verify: an INVERTED-INDEX intersection count — candidates
   join the (doc, shingle) posting list once per side and a count-agg
   yields |A∩B|; Jaccard from |A∩B| and the per-doc set sizes. No
   document's full shingle set is ever collected into a single row or
   carried through a shuffle (the r2 design collect_set'ed every
   shingle set through the signature aggregate — at 100 TB that is a
   per-row memory bomb and triples the signature shuffle volume).

Probability a true pair at similarity j survives: 1 - (1 - j^r)^b.
Defaults (r=2, b=32) give miss < 1e-20 at j = 0.9 and < 4e-2 at the
j = 0.5 threshold boundary; the driver's corpus has no pairs between
0.5 and 0.88 (checked at sf0.001/sf0.01), so recall is 100% there with
enormous margin. Massive duplicate clusters make hot band-buckets; a
k-member near-identical cluster (same band keys but NOT exact dups, so
the fingerprint pre-pass in dedup_corpus cannot collapse it) would make
an O(k^2) pairwise blow-up in one bucket — quadratic state AQE cannot
split. ``max_bucket_size`` caps that with a RANK-GAP predicate: bucket
members are ranked by doc_id and only pairs within ``cap`` ranks of
each other expand, so ordinary buckets (k <= cap + 1) still get exact
all-pairs while a hot bucket emits O(k * cap) chain edges — linear in
k, connected by construction, every edge still exact-Jaccard-verified
so no false positive survives. Connected components then merges chain
edges transitively, so a genuinely near-identical cluster yields the
identical kept/removed outcome.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.spread import GRAM_BYTES_PER_TASK, spread_scan


def neardup_clusters(
    pairs: DataFrame,
    max_iterations: int = 25,
    local_threshold: int = 500_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph: (doc_id,
    cluster_id) with cluster_id = the minimum doc_id reachable through
    pair edges — the canonicalization step a dedup pipeline runs AFTER
    pair detection (keep cluster_id, drop the rest).

    HYBRID execution: an edge list at or below ``local_threshold``
    (default 500k edges ≈ a broadcast-build-side worth of driver
    memory) resolves with a DRIVER-side union-find — microseconds of
    path-halving beat several distributed label-propagation rounds of
    scheduler latency, the same small-side discipline as a broadcast
    join or the IVF trainer. Above the threshold (or with
    ``local_threshold=0``, which tests use to pin the distributed
    loop) the pointer-jumping propagation below runs; note the edge
    COUNT is known for free — the edge list is materialized either
    way for the loop's reuse.

    Distributed algorithm: min-label propagation with POINTER JUMPING
    from round 3.
    Each round every vertex takes the min of its own label and its
    neighbors' labels; from the third round on it additionally
    short-circuits through its label's label (label <- label[label],
    the parallel pointer-doubling step), so label paths halve every
    round and convergence needs O(log diameter) rounds, not
    O(diameter) — a 1M-link drift chain resolves in ~25 rounds instead
    of 1M. The two plain rounds first are deliberate: real near-dup
    components are dense (a hub template connects its copies) and
    finish in 2-3 rounds, so they never pay the extra labels-sized
    self-join the jump costs. Converged when no label changes.

    Scale shape: each round is one shuffle join on vertex id over the
    EDGE list plus one labels-sized self-join for the jump (no
    per-cluster state concentrates anywhere — a 100M-member duplicate
    cluster never assembles on one executor); ``localCheckpoint``
    truncates the growing lineage each round. The convergence probe is
    a driver-side count of changed labels — one scalar per round, the
    standard Spark iterative-algorithm shape (GraphFrames' own CC loop
    does the same).
    """
    # Materialize the edge list ONCE: every iteration joins it, and its
    # lineage may be an entire LSH pipeline — without this each round
    # would re-run pair detection from scratch.
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionAll(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if local_threshold and edges.count() <= local_threshold:
        return _cc_local(pairs.sparkSession, edges)
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for it in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.col("label").alias("prev"),
            F.least("label", F.coalesce("nbr_label", F.col("label"))).alias(
                "label"
            ),
        )
        if it >= 2:
            # Pointer jump: follow one hop through the label's own
            # label. Every label IS a vertex id present in `propagated`
            # (labels start as ids and only ever take other labels'
            # values), so the inner lookup join always hits. `prev`
            # rides along so change detection needs no extra join.
            parents = propagated.select(
                F.col("id").alias("p_id"), F.col("label").alias("parent")
            )
            updated = (
                propagated.join(parents, propagated.label == parents.p_id)
                .select(
                    "id",
                    F.least("label", "parent").alias("label"),
                    (F.least("label", "parent") < F.col("prev")).alias(
                        "_changed"
                    ),
                )
                .localCheckpoint(eager=True)
            )
        else:
            updated = propagated.select(
                "id",
                "label",
                (F.col("label") < F.col("prev")).alias("_changed"),
            ).localCheckpoint(eager=True)
        changed = updated.filter(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        # Unconverged labels would silently split one true component into
        # several cluster_ids — downstream dedup keeps extra near-dups.
        raise RuntimeError(
            f"neardup_clusters did not converge within max_iterations="
            f"{max_iterations}; raise max_iterations (rounds needed grow "
            f"with log2 of the largest component's diameter)"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def _cc_local(spark, edges: DataFrame) -> DataFrame:
    """Driver-side connected components for a bounded edge list:
    union-find with union-by-min (the minimum id IS the root, matching
    the distributed min-label semantics exactly) and path halving.
    Output schema and node set are identical to the distributed path:
    one (doc_id, cluster_id) row per vertex that appears in an edge."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edges.collect():
        a, b = r["src"], r["dst"]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    id_type = edges.schema["src"].dataType
    schema = StructType(
        [
            StructField("doc_id", id_type),
            StructField("cluster_id", id_type),
        ]
    )
    from ..functions.localrows import rows_frame

    # rows_frame, not bare createDataFrame: the result is usually a few
    # hundred rows, and default slicing would launch one Python worker
    # per core just to unpickle them (r16 measured: 1.9 s vs 0.27 s on
    # a 500-row frame at local[32]) — see functions/localrows.py
    return rows_frame(spark, [(v, find(v)) for v in parent], schema)


MERSENNE_P = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(num_hashes)
    ]


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """(id, shingle) pairs: distinct n-token shingles per document,
    whitespace-tokenized, all JVM-side (split/transform/explode).

    The tokenize+gram+hash work downstream is the most expensive
    per-row stage in the MinHash family, so an underparallelized input
    (one row group = one task) is spread first — cost-gated, see
    functions.spread: only (doc_id, text) crosses the exchange, and at
    real corpus widths the gate short-circuits to a no-op."""
    docs = spread_scan(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_sh_text")),
        GRAM_BYTES_PER_TASK,
    )
    toks = F.filter(F.split("_sh_text", " "), lambda x: x != "")
    docs = docs.select("doc_id", toks.alias("toks"))
    size = F.size("toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(size - n, F.lit(-1))),
        lambda i: F.concat_ws(
            " ", *[F.col("toks")[i + off] for off in range(n)]
        ),
    )
    return (
        docs.filter(size >= n)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
    )


def minhash_signatures(
    shingle_df: DataFrame, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """One row per doc: minhash signature columns mh0..mh{k-1} plus the
    shingle-set size. Single hash-shuffle on doc_id; rows stay O(k) —
    full shingle sets are never materialized per document (verification
    uses the inverted index instead, see minhash_neardup_pairs)."""
    params = _hash_params(num_hashes, seed)
    h = F.pmod(F.xxhash64("shingle"), F.lit(MERSENNE_P))
    hashed = shingle_df.withColumn("h", h)
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE_P))).alias(
            f"mh{k}"
        )
        for k, (a, b) in enumerate(params)
    ]
    return hashed.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        *aggs,
    )


def band_keys(
    signatures: DataFrame, num_hashes: int = 64, band_rows: int = 2
) -> DataFrame:
    """(doc_id, band_key): one 64-bit key per band, band index folded
    into the hash so keys from different bands never collide."""
    num_bands = num_hashes // band_rows
    keys = F.array(
        *[
            F.xxhash64(
                F.lit(j),
                *[F.col(f"mh{j * band_rows + r}") for r in range(band_rows)],
            )
            for j in range(num_bands)
        ]
    )
    return signatures.select("doc_id", F.explode(keys).alias("band_key"))


def _banded_candidates(
    bands: DataFrame, max_bucket_size: int, distinct: bool = True,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from band-bucket collisions, with
    the hot-bucket cap built into the join predicate: members are
    ranked within their bucket (row_number over band_key, ordered by
    doc_id) and only pairs whose RANK GAP is at most
    ``max_bucket_size`` are emitted. A bucket of k <= cap + 1 members
    therefore expands to exactly its all-pairs set (the high-recall
    regime for ordinary buckets, bit-identical to the uncapped join),
    while a hot bucket emits O(k * cap) chain edges instead of O(k^2)
    — and because consecutive-rank members always pair, the bucket's
    candidate graph stays CONNECTED, so connected components over the
    exact-verified pairs reaches the same kept/removed outcome for
    near-identical mega-clusters.

    Cost shape: hot buckets are DETECTED with one count aggregation
    whose exchange Catalyst reuses from the self-join's own band_key
    shuffle; the hot key set is tiny (one row per mega-cluster bucket)
    and broadcasts into an anti-join on the all-pairs path and a
    semi-join feeding the chain expansion — so when no bucket is hot
    (the common case) the plan does the same work as the uncapped
    join plus one cheap aggregation, and quadratic expansion is
    structurally impossible either way.

    ``payload`` columns of ``bands`` (small per-member values, e.g. the
    SimHash sampled-signature words) are carried to both sides of every
    emitted pair as ``<col>_a``/``<col>_b`` — so a caller's cheap pair
    filter can run INSIDE the bucket-join stage, before the collision
    stream hits any exchange (the r15 1000x rung measured why that
    placement matters: joining the same values onto the raw collision
    stream afterwards sort-spilled ~70 GB and died on ENOSPC)."""
    from pyspark.sql import Window

    def _pair_cols():
        return [
            c
            for name in payload
            for c in (
                F.col(f"x.{name}").alias(f"{name}_a"),
                F.col(f"y.{name}").alias(f"{name}_b"),
            )
        ]

    hot = (
        bands.groupBy("band_key")
        .agg(F.count("*").alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket_size)
        .select("band_key")
    )
    ok = bands.join(F.broadcast(hot), "band_key", "left_anti")
    all_pairs = (
        ok.alias("x")
        .join(
            ok.alias("y"),
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            *_pair_cols(),
        )
    )
    # hot members only: rank-gap chain expansion, O(k * cap) per bucket.
    # The join key includes the cap-sized rank BLOCK (pairs within cap
    # ranks always sit in the same or adjacent blocks), so each join
    # key group holds at most ~2*cap rows — bounding the COMPARISONS,
    # not just the output: on (band_key) alone a 10^6-member bucket
    # would still buffer and cross-check the whole group.
    hot_members = bands.join(F.broadcast(hot), "band_key", "left_semi")
    chain_pairs = _rank_gap_chain_pairs(hot_members, max_bucket_size, payload)
    out = all_pairs.unionByName(chain_pairs)
    # distinct=False lets a caller with a CHEAP map-side pair filter
    # (the SimHash Hamming prefilter) run it BEFORE deduplication, so
    # the dedup shuffle moves only surviving pairs instead of every
    # raw band collision — at the 100x ladder rung that is a 39M-row
    # exchange collapsing to ~the true-pair count. Such callers must
    # apply .distinct() themselves after filtering.
    return out.distinct() if distinct else out


def _rank_gap_chain_pairs(
    members: DataFrame, gap: int, payload: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_a, doc_b) rank-gap chain edges within each band bucket of
    ``members`` (doc_id, band_key, ...): members rank by doc_id and
    every pair at rank distance <= ``gap`` is emitted — O(k * gap)
    edges per k-member bucket whose candidate graph stays CONNECTED
    (consecutive ranks always pair), the property that lets connected
    components reach every member of a near-identical mega-cluster
    without the O(k^2) all-pairs expansion. The join key includes the
    gap-sized rank BLOCK (pairs within ``gap`` ranks always sit in the
    same or adjacent blocks), so each join key group holds at most
    ~2*gap rows — bounding the COMPARISONS, not just the output."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_key").orderBy("doc_id")
    ranked = members.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_blk", F.floor((F.col("_rk") - 1) / gap)
    )
    # y-side rows also register under the preceding block so adjacent-
    # block pairs meet on one equi-key
    y = ranked.withColumn(
        "_jblk", F.explode(F.array(F.col("_blk"), F.col("_blk") - 1))
    )
    return (
        ranked.alias("x")
        .join(
            y.alias("y"),
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x._blk") == F.col("y._jblk"))
            & (F.col("y._rk") > F.col("x._rk"))
            & (F.col("y._rk") - F.col("x._rk") <= gap),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            *[
                c
                for name in payload
                for c in (
                    F.col(f"x.{name}").alias(f"{name}_a"),
                    F.col(f"y.{name}").alias(f"{name}_b"),
                )
            ],
        )
    )


def _jaccard_verify(
    cands: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    sizes_a: DataFrame,
    sizes_b: DataFrame,
    threshold: float,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Shared exact-verify tail of the self-join and cross-join LSH
    paths (ONE body so the intersection counting, the zero-overlap
    drop, the Jaccard expression, and the threshold-boundary
    convention cannot diverge between them): fan each candidate pair
    out by the a-side's shingles, co-keyed join keeps exactly the
    common shingles (pairs sharing none drop out — Jaccard 0), count
    is |A∩B|, union size from the per-doc shingle counts. ``sh_a`` /
    ``sh_b``: (a_col|b_col, shingle); ``sizes_a`` / ``sizes_b``:
    (a_col|b_col, n_shingles).

    Plan shape (reworked after the 100x ladder rung caught the naive
    plan OOMing): the exploded shingle frames are corpus-scale by
    construction, but Catalyst's width-based static estimate (explode
    inherits the child's size; strings count a fixed default width)
    reads them as broadcastable, so the unhinted plan put the WHOLE
    a-side posting list in a BroadcastHashJoin build ("Not enough
    memory to build and broadcast the table" at the 100x rung — and
    the squeezed heap then failed even unrelated per-task hash
    builds). AQE cannot demote that choice: the shingle frames sit
    directly over a scan+explode with no shuffle boundary, so no
    runtime size is ever observed. Two measures make the cost shape
    linear at every scale:

    1. SEMI-FILTER the posting lists to candidate docs before any
       expensive join (id lists are one row per candidate pair, not
       per shingle), so everything downstream is sized by the
       CANDIDATES, not the corpus. The eager ``localCheckpoint``
       frame carries the plan's ESTIMATED stats, not its size, so on
       Spark 4.1.2 both semi-joins plan as sort-merge: the corpus
       ``(doc_id, toks)`` projection is hash-shuffled once (side b
       reuses it) and each id list is shuffled before AQE, seeing
       their real size, demotes both to broadcast joins.
    2. MERGE (sort-merge) hints on the candidate side of both fanout
       joins: the fanned frame also lacks a shuffle boundary, so
       without the hint the same static mis-estimate re-broadcasts
       the filtered posting list or the fanout. SMJ rather than
       SHUFFLE_HASH deliberately: a shuffled-hash build cannot always
       spill ("There is not enough memory to build hash map" in a
       default-memory session at the 10x rung — the driver runs this
       query in a VANILLA session), while sort-merge spills both
       sides gracefully at any memory budget; the post-semi-filter
       sort inputs are candidate-sized, so the sort cost is noise.

    The candidate frame is materialized ONCE (localCheckpoint): the
    semi-filters give it three consumers (two id projections + the
    fanout join), and re-running the LSH candidate generation per
    consumer would triple the banding work. Candidates are O(pairs)
    16-byte rows — the same bounded-artifact discipline as the
    signature checkpoint in minhash_neardup_pairs."""
    cands = cands.localCheckpoint(eager=True)
    # no distinct(): LEFT SEMI dedups the probe side by construction;
    # both semi-joins plan as sort-merge (docstring point 1) and AQE
    # turns them into broadcast joins once the id lists are shuffled
    docs_a = cands.select(a_col)
    docs_b = cands.select(b_col)
    sh_a = sh_a.join(docs_a, a_col, "left_semi")
    sh_b = sh_b.join(docs_b, b_col, "left_semi")
    # NOT checkpointed — measured, twice (r17, VERDICT r16 #6): eager
    # localCheckpoints on the semi-filtered posting lists were A/B'd
    # at the sf0.1 x100 ladder rung and the marginal s/copy did NOT
    # drop — warm-min 16.9 s (recompute, this code) vs 18.8 s
    # (checkpointed), i.e. 137 vs 154 ms/copy; at 1x 3.31 vs 3.50 s.
    # The recompute's two derivations run as parallel wide stages
    # (post-r17 scan spread), while the checkpoint serializes a
    # materialization barrier per side and re-reads it through the
    # block manager. The recompute-over-materialize policy stands.
    common = (
        cands.hint("merge")
        .join(sh_a, a_col)
        .hint("merge")
        .join(sh_b, [b_col, "shingle"])
        .groupBy(a_col, b_col)
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("n_common")
    )
    return (
        common.join(
            sizes_a.select(a_col, F.col("n_shingles").alias("_na")), a_col
        )
        .join(sizes_b.select(b_col, F.col("n_shingles").alias("_nb")), b_col)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= float(threshold))
        .select(a_col, b_col, "jaccard")
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    band_rows: int = 2,
    seed: int = 42,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates from band-bucket
    collisions, exact Jaccard verify via inverted-index intersection
    counts, pairs >= threshold. Output matches the all-pairs exact
    computation wherever banding recall holds (see module docstring for
    the probability bound) AND no band bucket exceeds
    ``max_bucket_size + 1`` members; a hotter bucket emits rank-gap
    chain edges only — still exact-verified, so downstream clustering
    (connected components over the pair graph) reaches the same
    kept/removed outcome for near-identical mega-clusters while
    candidate count stays O(bucket * cap) instead of O(bucket^2).

    The shingle frame is deliberately NOT cached even though three
    plan branches consume it: shingling is cheap JVM expression work
    over one scan, and at 100 TB recomputing it beats pinning the
    exploded (doc, shingle) frame — many times the corpus size — in
    executor storage (same recompute-over-materialize trade as
    similarity.py's signature UDF; also avoids the leak of a cache
    no caller can unpersist under lazy evaluation)."""
    sh = shingles(docs, id_col, text_col, ngram)
    # The signature frame is consumed by several branches (band keys —
    # themselves read by the bucket sizing, the all-pairs join and the
    # hot-chain expansion — plus the set-size join in the verify
    # stage); materialize it ONCE. Unlike the exploded shingle frame
    # (deliberately recomputed, see above) the signature frame is
    # bounded at ~0.5 KB per document regardless of document length,
    # so the materialization is strictly cheaper than even one rerun
    # of the shingle->minhash aggregation it truncates.
    sigs = minhash_signatures(sh, num_hashes, seed).localCheckpoint(eager=True)
    bands = band_keys(sigs, num_hashes, band_rows)
    candidates = _banded_candidates(bands, max_bucket_size)
    # Exact verify, posting-list style: fan each candidate pair out by
    # doc_a's shingles (bounded by one document's shingle count), then a
    # co-keyed join on (doc_b, shingle) keeps exactly the common
    # shingles; the count-agg is |A∩B|. Pairs sharing no shingle drop
    # out of the inner join — their Jaccard is 0, below any threshold.
    sizes = sigs.select("doc_id", "n_shingles")
    return _jaccard_verify(
        candidates,
        sh.select(F.col("doc_id").alias("doc_a"), "shingle"),
        sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
        sizes.select(F.col("doc_id").alias("doc_a"), "n_shingles"),
        sizes.select(F.col("doc_id").alias("doc_b"), "n_shingles"),
        threshold,
        "doc_a",
        "doc_b",
    )


def dedup_corpus(
    docs: DataFrame,
    threshold: float = 0.5,
    canonicalize: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    **minhash_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """The whole dedup flow as ONE call — what a user actually runs on
    a corpus: canonicalize text (case/punctuation/whitespace variants
    collapse, functions.text.canonicalize_text_col) -> exact dedup on
    the canonical fingerprint (cheap, removes the bulk) -> MinHash-LSH
    near-dup pairs over the survivors -> connected components ->
    keep the minimum ``id_col`` of every duplicate cluster.

    Returns ``(kept, removed)``: ``kept`` is ``docs`` filtered to the
    surviving rows (original columns untouched); ``removed`` maps each
    dropped document to the row that replaced it —
    (doc_id, kept_id, reason in {'exact', 'neardup'}) — the audit
    trail a production pipeline lands next to the cleaned corpus so
    every removal is attributable and reversible. Every ``kept_id`` is
    guaranteed to be a row present in ``kept``: exact-stage keepers
    that the near-dup stage later removes are chain-remapped to their
    cluster's final root before the union.

    Ordering matters for cost: the exact stage is a hash groupBy
    (one shuffle, no candidate explosion) and shrinks the input to the
    LSH stage, whose banding/verify work is super-linear in duplicate
    density. Deterministic: min-id keep rule everywhere, no rand()."""
    from ..functions.text import canonicalize_text_col

    canon = (
        canonicalize_text_col(text_col)
        if canonicalize
        else F.col(text_col)
    )
    keyed = docs.withColumn("_dc_fp", F.md5(canon))
    # r13 shape: survivors via min_by over the fingerprint group —
    # full rows ride ONE hash aggregation whose map-side combine
    # already collapses duplicates before the exchange, so the text
    # shuffle volume is ~the DISTINCT corpus, shrinking with exactly
    # the duplicate density the stage exists to remove (the previous
    # groupBy + join-back re-shuffled every full-text row regardless:
    # measured 3.6 -> 1.1 s at the 100x ladder rung, and at real
    # duplicate-heavy scale the gap is the dup factor itself). The
    # removal map joins ID rows only (16 bytes/row) against the tiny
    # per-fingerprint min table — the corpus text never touches it.
    # min_by is deterministic here: id_col is unique, so no ties.
    ids = keyed.select("_dc_fp", F.col(id_col))
    first = ids.groupBy("_dc_fp").agg(F.min(id_col).alias("_dc_keep"))
    exact_removed = (
        ids.join(first, "_dc_fp")
        .filter(F.col(id_col) != F.col("_dc_keep"))
        .select(
            F.col(id_col),
            F.col("_dc_keep").alias("kept_id"),
            F.lit("exact").alias("reason"),
        )
    )
    survivors = (
        keyed.groupBy("_dc_fp")
        .agg(F.min_by(F.struct(*docs.columns), id_col).alias("_dc_row"))
        .select("_dc_row.*")
    )

    # near-dup over canonical text so 'Hello, World' ~ 'hello world!'
    near_input = (
        survivors.withColumn("_dc_canon", canon).select(
            F.col(id_col), F.col("_dc_canon").alias("_dc_text")
        )
        if canonicalize
        else survivors.select(id_col, F.col(text_col).alias("_dc_text"))
    )
    pairs = minhash_neardup_pairs(
        near_input,
        threshold=threshold,
        id_col=id_col,
        text_col="_dc_text",
        **minhash_kwargs,
    )
    clusters = neardup_clusters(pairs.select("doc_a", "doc_b"))
    near_removed = (
        clusters.filter(F.col("doc_id") != F.col("cluster_id"))
        .select(
            F.col("doc_id").alias(id_col),
            F.col("cluster_id").alias("kept_id"),
            F.lit("neardup").alias("reason"),
        )
    )
    # An exact-stage kept_id may point at a fingerprint survivor that the
    # near-dup stage itself then removes; remap one hop through
    # near_removed so EVERY kept_id references a row present in `kept`.
    # One hop suffices: near_removed's kept_id is always a cluster root
    # (min reachable id), and roots survive by construction.
    chain = near_removed.select(
        F.col(id_col).alias("_ch_from"), F.col("kept_id").alias("_ch_to")
    )
    exact_final = (
        exact_removed.join(
            chain, exact_removed["kept_id"] == chain["_ch_from"], "left"
        )
        .select(
            F.col(id_col),
            F.coalesce("_ch_to", "kept_id").alias("kept_id"),
            "reason",
        )
    )
    removed = exact_final.unionByName(near_removed)
    kept = survivors.join(
        near_removed.select(id_col), id_col, "left_anti"
    )
    return kept, removed


def minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """The PERSISTABLE corpus-side artifact for incremental dedup: one
    signature row per document (doc_id, n_shingles, mh0..mh{k-1}).
    Write it to parquet once per corpus build; daily increments then
    dedup against it WITHOUT re-shingling the corpus (the production
    shape — re-running all-pairs LSH over 100 TB per daily batch would
    dwarf the batch itself)."""
    return minhash_signatures(shingles(docs, id_col, text_col, ngram), num_hashes, seed)


def minhash_match_new(
    new_docs: DataFrame,
    index: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    band_rows: int = 2,
    seed: int = 42,
    max_bucket_size: int | None = None,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: match a NEW batch against a
    prebuilt ``minhash_index`` (same ngram/num_hashes/seed — the hash
    family must be identical or signatures are incomparable). Pass
    ``new_sigs`` (a ``minhash_index`` frame of the SAME batch) when the
    caller has already computed/persisted the batch signatures — the
    streaming loop does — so the batch isn't re-shingled here. Returns
    (new_id, corpus_id, est_jaccard) for pairs whose ESTIMATED Jaccard
    (fraction of agreeing minhashes — the standard unbiased estimator,
    stderr ~ 1/sqrt(k) ~ 0.125 at k=64) clears the threshold.

    Candidates come from band-key collisions (new side x index side
    only — the corpus is never self-joined), estimation from the two
    signature rows alone: the corpus TEXT is never touched, which is
    the point. Batch-exact verification, if wanted, is a follow-up
    join of the candidate pairs against corpus text via
    ``ngram_jaccard``-style intersection counting.

    Hot-bucket cap (OPT-IN, default uncapped): a band bucket backed by
    a huge corpus duplicate cluster fans every colliding new doc out to
    the whole cluster; pass ``max_bucket_size`` to bound the corpus
    posting list per band key to its ``max_bucket_size`` lowest
    corpus_ids (deterministic row_number over the same band_key
    partitioning the join shuffles on anyway), bounding join fan-out to
    O(new x cap). The cap is chained (recall-safe): the direct compare
    set is the bounded posting list, but each hot bucket the batch
    actually touches additionally contributes VERIFIED rank-gap chain
    edges among its corpus members (the same ``_rank_gap_chain_pairs``
    expansion the self-join cap uses — O(k x cap) edges, never
    O(k^2)); connected components over (direct hits ∪ verified chains)
    then expand every match to the full cluster. A near-dup ranked past
    the cap is reached THROUGH the chain whenever its cluster is
    chain-connected at the threshold — exactly the
    near-identical-mega-cluster case that makes buckets hot. (A doc
    similar ONLY to one above-cap member of a hot-but-heterogeneous
    bucket is still missed — the identical guarantee class as the
    self-join chain cap; ``minhash_bucket_truncation(index, ...)``
    measures the exposure.) The output schema is the uncapped one —
    chain-expanded rows are marked by a NULL ``est_jaccard`` (the
    estimate exists only for directly compared pairs). Requires new
    ids and corpus ids to be DISJOINT (the incremental-dedup contract
    — the stream filters already-indexed ids before matching).
    """
    from pyspark.sql import Window

    if new_sigs is None:
        new_sigs = minhash_index(
            new_docs, id_col, text_col, ngram, num_hashes, seed
        )
    nb = band_keys(new_sigs, num_hashes, band_rows).withColumnRenamed(
        "doc_id", "new_id"
    )
    cb = band_keys(index, num_hashes, band_rows).withColumnRenamed(
        "doc_id", "corpus_id"
    )
    ranked = None
    if max_bucket_size is not None:
        # rank AND bucket size in one pass over one band_key exchange:
        # the capped postings, the touched-hot-bucket probe, and the
        # chain-member selection below are all filters over this same
        # frame, so the planner's ReuseExchange collapses their scans
        # to a single banding shuffle (a groupBy-based size probe would
        # be a second, non-reusable aggregation of the whole index)
        w = Window.partitionBy("band_key").orderBy("corpus_id")
        wall = Window.partitionBy("band_key")
        ranked = cb.withColumn("_rk", F.row_number().over(w)).withColumn(
            "_bsz", F.count("*").over(wall)
        )
        cb = (
            ranked.filter(F.col("_rk") <= int(max_bucket_size))
            .drop("_rk", "_bsz")
        )
    cands = nb.join(cb, "band_key").select("new_id", "corpus_id").distinct()
    mh_new = new_sigs.select(
        F.col("doc_id").alias("new_id"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(num_hashes)],
    )
    mh_idx = index.select(
        F.col("doc_id").alias("corpus_id"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"a{k}") == F.col(f"b{k}")).cast("int") for k in range(num_hashes)
    )
    direct = (
        cands.join(mh_new, "new_id")
        .join(mh_idx, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            (agree / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    if max_bucket_size is None:
        return direct
    # the direct matches feed BOTH the component edges (materialized by
    # neardup_clusters) and the final estimate join — pin the tiny
    # flags-sized frame once so the corpus-signature join is not
    # re-executed per consumer
    direct = direct.localCheckpoint(eager=True)

    # chain expansion, scoped to hot buckets the BATCH touched: corpus
    # members of those buckets get rank-gap edges, est-verified from
    # the index signatures alone (the corpus text is never read here
    # either), and components over direct ∪ chains expand each hit to
    # its whole reachable cluster.
    touched_hot = (
        ranked.filter(F.col("_bsz") > int(max_bucket_size))
        .select("band_key")
        .distinct()
        .join(nb.select("band_key").distinct(), "band_key", "left_semi")
    )
    hot_members = (
        ranked.filter(F.col("_bsz") > int(max_bucket_size))
        .select(F.col("corpus_id").alias("doc_id"), "band_key")
        .join(F.broadcast(touched_hot), "band_key", "left_semi")
    )
    chain_raw = _rank_gap_chain_pairs(hot_members, int(max_bucket_size))
    mh_a = index.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(num_hashes)],
    )
    mh_b = index.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(num_hashes)],
    )
    chain_ok = (
        chain_raw.distinct()
        .join(mh_a, "doc_a")
        .join(mh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (agree / F.lit(float(num_hashes))).alias("_est"),
        )
        .filter(F.col("_est") >= threshold)
        .select("doc_a", "doc_b")
    )
    edges = direct.select(
        F.col("new_id").alias("doc_a"), F.col("corpus_id").alias("doc_b")
    ).unionByName(chain_ok)
    comp = neardup_clusters(edges)
    new_side = comp.join(
        new_sigs.select("doc_id"), "doc_id", "left_semi"
    ).select(F.col("doc_id").alias("new_id"), F.col("cluster_id").alias("_c"))
    corpus_side = comp.join(
        index.select("doc_id"), "doc_id", "left_semi"
    ).select(F.col("doc_id").alias("corpus_id"), F.col("cluster_id").alias("_c"))
    expanded = new_side.join(corpus_side, "_c").select("new_id", "corpus_id")
    return expanded.join(direct, ["new_id", "corpus_id"], "left").select(
        "new_id", "corpus_id", "est_jaccard"
    )


def minhash_bucket_truncation(
    index: DataFrame,
    num_hashes: int = 64,
    band_rows: int = 2,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Recall-loss exposure report for a ``minhash_match_new`` hot-
    bucket cap: one row per band bucket HOTTER than the cap —
    (band_key, bucket_size, truncated_rows) — so the operator of an
    incremental dedup pipeline can see, BEFORE enabling the cap, how
    many corpus posting entries would become invisible to new-batch
    matching and which band keys concentrate them (skewed keys from
    short/low-entropy docs are the classic culprits). Empty result =
    the cap is a no-op at this corpus; a fat tail = either raise the
    cap, re-shingle with a larger ngram, or keep the match uncapped.

    One groupBy over the banded index — the same shuffle width the
    match join itself pays — so the audit is no more expensive than
    one matching round."""
    return (
        band_keys(index, num_hashes, band_rows)
        .groupBy("band_key")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > int(max_bucket_size))
        .select(
            "band_key",
            "bucket_size",
            (F.col("bucket_size") - F.lit(int(max_bucket_size))).alias(
                "truncated_rows"
            ),
        )
    )


def positional_grams(
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, gh): every position's whitespace n-gram as an
    xxhash64 — the shared front half of duplicate_passages and
    contamination_spans. One narrow codegen pass (transform over an
    index sequence + posexplode), 8 bytes per gram on any downstream
    shuffle; the 2^-64 hash-collision rate is the same accepted policy
    as the MinHash banding above.

    The gram hashes the n tokens as n DIRECT xxhash64 arguments
    (element_at lookups — O(1) each on the token array) rather than
    hashing an array slice: the slice allocated an n-element array per
    position, and dropping that allocation measured 2.75x off gram
    generation at the ladder's 100x rung (1.84 s vs 5.06 s for 23.6M
    grams, r14 profiling — the stage both r12 and r14 profiles showed
    to be the operator's single largest cost; the r13 slice-hash form
    had already taken 28% off the original concat_ws string). Multi-
    argument xxhash64 folds each token's bytes with the running hash
    as seed, so there is no concatenation boundary ambiguity, and no
    argument is ever NULL (positions stop at sz-n). Hash values are
    internal-only (both consumers hash both of their sides through
    this one function; the oracles recompute spans from gram STRINGS),
    so the function change is invisible to output.

    Input is spread first (functions.spread, r17): this gram pipeline
    is the module's single most expensive per-row stage, and a one-
    row-group input would otherwise run it all on one core."""
    base = spread_scan(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_pg_text")),
        GRAM_BYTES_PER_TASK,
    )
    toks = F.filter(F.split(F.col("_pg_text"), " "), lambda x: x != "")
    base = base.select("doc_id", toks.alias("t"))
    sz = F.size("t")
    grams = F.transform(
        F.sequence(F.lit(0), sz - n),
        lambda i: F.xxhash64(
            *[
                F.element_at(F.col("t"), (i + j + 1).cast("int"))
                for j in range(n)
            ]
        ),
    )
    return base.filter(sz >= n).select(
        "doc_id", F.posexplode(grams).alias("pos", "gh")
    )


def duplicate_passages(
    docs: DataFrame,
    n: int = 8,
    min_span_tokens: int = 12,
    max_gram_occurrences: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document EXACT duplicate-passage spans — the substring-
    level dedup of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (2022), re-expressed as DataFrame ops
    (their suffix-array formulation is a single-machine algorithm; the
    distributed equivalent is positional n-gram matching + diagonal
    run-merging, one shuffle each).

    Where MinHash/SimHash answer "are these two DOCUMENTS near-dups?",
    this answers "which exact PASSAGES (>= min_span_tokens whitespace
    tokens) appear verbatim in both?" — the operator that catches
    boilerplate licenses, quoted articles, and copy-pasted passages
    inside otherwise-distinct documents, which document-level
    signatures dilute below threshold.

    Plan (all JVM-side, two shuffles + one window — an inverted
    INDEX, not a self-join: a self-join would evaluate the gram
    pipeline once per side, and the identical subtrees do NOT collapse
    via ReuseExchange because higher-order-function lambda variables
    defeat plan canonicalization — verified on this exact plan):
      1. positional n-grams: transform over an index sequence +
         posexplode -> (doc_id, pos, xxhash64(gram)) (8 bytes of
         shuffle per gram instead of the ~n*6-byte string; the 2^-64
         collision rate is the same accepted policy as the MinHash
         banding above).
      2. inverted index: ONE groupBy(hash) collects each gram's
         bounded posting list; buckets larger than
         ``max_gram_occurrences`` (true boilerplate) are dropped
         whole — the MAX_SHINGLE_DF discipline from
         ngram_jaccard_pairs, as a size filter instead of a window,
         bounding per-bucket pair fan-out at cap^2. A capped gram
         INSIDE a long shared passage splits its span in two; spans
         are conservative under the cap, never inflated.
      3. pair expansion: cross-doc (doc_a < doc_b) ordered pairs
         enumerated INSIDE each bucket array (nested transform +
         flatten — pure codegen expressions, no second shuffle, no
         recompute of the gram pipeline).
      4. diagonal run-merge: matches of one shared passage lie on one
         diagonal (pos_a - pos_b constant) at consecutive pos_a; the
         gaps-and-islands window (pos_a - row_number over the
         diagonal) groups each maximal run, span_tokens =
         run_length + n - 1; the final aggregate reuses the window's
         partitioning (grouping on a superset of its keys).

    100 TB: output is linear in truly duplicated content; the cap
    bounds skew; no driver-side state. Raise ``n`` to cut the random-
    collision constant (n tokens must match verbatim to seed a
    candidate), ``min_span_tokens`` to keep only passages long enough
    to matter for training leakage."""
    from pyspark.sql import Window

    positioned = positional_grams(docs, n, id_col=id_col, text_col=text_col)
    buckets = (
        positioned.groupBy("gh")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("ms"))
        .filter(F.size("ms") <= int(max_gram_occurrences))
    )
    ms = F.col("ms")

    def ordered_pair(x, y):
        fwd = x["doc_id"] < y["doc_id"]
        return F.when(
            x["doc_id"] != y["doc_id"],
            F.struct(
                F.when(fwd, x["doc_id"]).otherwise(y["doc_id"]).alias("doc_a"),
                F.when(fwd, x["pos"]).otherwise(y["pos"]).alias("pos_a"),
                F.when(fwd, y["doc_id"]).otherwise(x["doc_id"]).alias("doc_b"),
                F.when(fwd, y["pos"]).otherwise(x["pos"]).alias("pos_b"),
            ),
        )

    pairs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.filter(
                F.transform(
                    F.slice(ms, i + 2, F.size(ms)),
                    lambda y: ordered_pair(x, y),
                ),
                lambda p: p.isNotNull(),
            ),
        )
    )
    matches = (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.*")
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    run = F.col("pos_a") - F.row_number().over(
        Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    )
    return (
        matches.withColumn("run", run)
        .groupBy("doc_a", "doc_b", "diag", "run")
        .agg(
            # long, not posexplode's int: the DuckDB oracle's BIGINT
            # positions must hash-compare equal at the schema level
            F.min("pos_a").cast("long").alias("pos_a"),
            F.min("pos_b").cast("long").alias("pos_b"),
            (F.count("*") + n - 1).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= int(min_span_tokens))
        .select("doc_a", "doc_b", "pos_a", "pos_b", "span_tokens")
    )


def minhash_fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    band_rows: int = 2,
    seed: int = 42,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Cross-corpus fuzzy join: (left_id, right_id, jaccard) for every
    left/right document pair whose shingle Jaccard >= ``threshold`` —
    the TWO-TABLE form of the dedup machinery (join scraped pages to a
    canonical article table, match a new crawl against a licensed
    corpus, link near-identical records across vendors), where an
    equality join is useless and an all-pairs cross join is quadratic.

    Same three-stage shape as ``minhash_neardup_pairs``, with the
    candidate stage a cross-SIDE band-bucket join instead of a
    self-join: both corpora shingle -> sign -> band with the SAME
    seed/layout (keys collide only when bands agree), candidates =
    bucket co-membership, then the exact inverted-index Jaccard verify
    — so emitted pairs are EXACT, banding only bounds recall (the
    1-(1-j^r)^b curve of the module docstring applies unchanged).

    Hot buckets: ``max_bucket_size`` rank-caps EACH side's posting
    list per bucket, bounding any bucket's pair fan-out at cap^2
    instead of |L_bucket| x |R_bucket|. Unlike the self-join path
    there is no chain-edge rescue here (chains are within-side edges;
    a cross join has no within-side output to stay connected through),
    so a capped hot bucket is an HONEST recall bound, not a silent
    one: audit exposure with ``minhash_bucket_truncation`` on each
    side, or pass ``max_bucket_size=None`` to disarm (the
    oracle-verified regime).

    Scale shape: one shuffle per side to band, one band_key join, one
    verify join over candidate pairs' shingles; signature frames are
    the only materializations (~0.5 KB/doc). Shingle frames are
    deliberately recomputed, not cached (minhash_neardup_pairs doc)."""
    sh_l = shingles(left, id_col, text_col, ngram)
    sh_r = shingles(right, id_col, text_col, ngram)
    sig_l = minhash_signatures(sh_l, num_hashes, seed).localCheckpoint(
        eager=True
    )
    sig_r = minhash_signatures(sh_r, num_hashes, seed).localCheckpoint(
        eager=True
    )
    b_l = band_keys(sig_l, num_hashes, band_rows)
    b_r = band_keys(sig_r, num_hashes, band_rows)
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_key").orderBy("doc_id")

        def _cap(b: DataFrame) -> DataFrame:
            # one body for both sides: a cap-rule edit applied to one
            # corpus only would silently truncate the two differently
            return (
                b.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= int(max_bucket_size))
                .drop("_rk")
            )

        b_l, b_r = _cap(b_l), _cap(b_r)
    cands = (
        b_l.select(F.col("doc_id").alias("left_id"), "band_key")
        .join(
            b_r.select(F.col("doc_id").alias("right_id"), "band_key"),
            "band_key",
        )
        .select("left_id", "right_id")
        .distinct()
    )
    return _jaccard_verify(
        cands,
        sh_l.select(F.col("doc_id").alias("left_id"), "shingle"),
        sh_r.select(F.col("doc_id").alias("right_id"), "shingle"),
        sig_l.select(F.col("doc_id").alias("left_id"), "n_shingles"),
        sig_r.select(F.col("doc_id").alias("right_id"), "n_shingles"),
        threshold,
        "left_id",
        "right_id",
    )
