"""SimHash-bucketed embedding similarity: near-dup pairs and top-k ANN
candidates (SURVEY extension; the scale path behind the exact
``embedding_neardup_pairs`` / ``cosine_topk`` baselines in
plans.vectorops).

Signatures are random-hyperplane SimHash: bit_i = sign(v . h_i) with
P[bit match] = 1 - angle/pi. Bits are grouped into b bands of r bits;
vectors agreeing on any whole band become candidates, then candidates
are EXACTLY re-scored with the true cosine — so precision is always
exact and only recall depends on banding:
P[candidate at cosine c] = 1 - (1 - p^r)^b, p = 1 - arccos(c)/pi.

The signature computation is an Arrow-batched pandas UDF (one numpy
matmul per batch) — the documented exception to the no-Python rule:
thousands of per-dimension expressions would defeat codegen, while the
matmul is exactly what vectorized hardware wants. Everything else
(explode, band join, exact rerank) is JVM-side.

Parameter note: the registered queries run at cosine 0.45 — on the
synthetic near-orthogonal corpus that is a WEAK-signal regime
(p ~= 0.65 vs 0.5 for random pairs), so banding passes most pairs
through to the exact rerank (the LSH gap rho -> 1 as the threshold
approaches the random-pair similarity). At realistic semantic-dedup
thresholds (0.9+: p ~= 0.86) the same plan prunes aggressively with
r = 16; the defaults here are chosen for provable recall at 0.45:
r = 6, b = 96 gives miss < 6e-4 per true pair.

The learned-cell families (IVF top-k here, IVF+SQ8 in quantize.py, and
the SemDeDup operators: pairs, dedup, persisted index, cross-corpus
join) share ONE coarse quantizer, ``_CoarseQuantizer``: train, assign,
probe, save and load, with the physical layout — a flat centroid list,
or a top-level list plus a centroid table past 1024 centroids —
chosen once from k and never branched on by a caller. Assignment and
probing rank cells with one numpy kernel (``_nearest_cells``), so an
indexed vector's exact twin always probes the vector's own cell. The
within-cell pair work is one GEMM scan (``_gemm_pairs``) whether a cell
is scanned against itself (``_cell_candidates_gemm``) or against the
other side of a match (``_cross_cell_matches``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..functions.vectors import dot_col, l2_norm_col
from ..sources.batch import read_parquet


def simhash_band_udf(dim: int, band_rows: int = 6, num_bands: int = 96,
                     seed: int = 42):
    """Pandas UDF: embedding -> array of ``num_bands`` 64-bit band keys
    (r sign-bits packed per band, band index folded into the key)."""
    rng = np.random.default_rng(seed)
    hyperplanes = rng.standard_normal((dim, band_rows * num_bands))
    weights = (1 << np.arange(band_rows)).astype(np.int64)
    band_offsets = (np.arange(num_bands, dtype=np.int64) + 1) << 32

    @F.pandas_udf(ArrayType(LongType()))
    def band_keys(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy()).astype(np.float64)  # batch x dim
        bits = (mat @ hyperplanes) > 0  # batch x (b*r)
        packed = bits.reshape(len(mat), num_bands, band_rows) @ weights
        keyed = packed.astype(np.int64) + band_offsets
        return pd.Series(list(keyed))

    return band_keys


def _candidates(
    left: DataFrame,
    right: DataFrame,
    dim: int,
    band_rows: int,
    num_bands: int,
    seed: int,
    anti_reflexive: bool,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Band-bucket join of two keyed embedding frames -> distinct
    (id_a, id_b) candidate pairs.

    ``anti_reflexive=True`` is the SELF-JOIN contract (id_a < id_b over
    ONE corpus — ``right`` must be the same frame, enforced below): it
    routes through the rank-gap hot-bucket cap with the per-vector key
    arrays checkpointed once. The two-frame path (queries x corpus,
    ``anti_reflexive=False``) evaluates the signature UDF once per join
    side — deliberate: the matmul is a narrow, shuffle-free map, while
    persisting the exploded (id, band_key) frame (b rows per vector)
    would cost memory/disk proportional to b x corpus."""
    if anti_reflexive and left is not right:
        raise ValueError(
            "_candidates: anti_reflexive=True is the self-join contract "
            "— left and right must be the same frame (pairs involving "
            "right-only rows would silently never be generated)"
        )
    udf = simhash_band_udf(dim, band_rows, num_bands, seed)

    def keyed(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(f"id_{side}"),
            F.explode(udf(F.col("embedding"))).alias("band_key"),
        )

    if anti_reflexive:
        return _self_join_candidates(
            left, dim, band_rows, num_bands, seed, max_bucket_size
        )[0]
    return (
        keyed(left, "a")
        .join(keyed(right, "b"), "band_key")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _self_join_candidates(
    embeddings: DataFrame,
    dim: int,
    band_rows: int,
    num_bands: int,
    seed: int,
    max_bucket_size: int,
    distinct: bool = True,
    payload_words: list[int] | None = None,
    sig: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Self-join near-dup candidate path: (candidates(id_a, id_b),
    sig(doc_id, _keys) checkpointed). A k-member near-identical
    embedding cluster shares every band key, so the uncapped bucket
    join is O(k^2 * num_bands) — route through the same rank-gap chain
    cap as MinHash (dedup._banded_candidates). The per-vector key
    ARRAY is checkpointed once (one UDF pass, ~num_bands longs per
    vector) so every downstream consumer — the cap's extra band
    explodes AND the Hamming prefilter's packed-word projection —
    reads cheap materialized rows instead of re-running the matmul.
    Callers that must resolve a size-gated regime BEFORE shaping the
    candidate plan (simhash_neardup_pairs) build ``sig`` themselves
    via ``_simhash_sig`` — its eager checkpoint makes the count free —
    and pass it in."""
    from .dedup import _banded_candidates

    if sig is None:
        sig = _simhash_sig(embeddings, dim, band_rows, num_bands, seed)
    # payload_words ride ON the band rows (16 bytes for the sampled
    # prefilter's two words) so the caller's pair filter can run inside
    # the bucket-join stage — see _banded_candidates(payload=...)
    payload = tuple(f"_s{w}" for w in (payload_words or []))
    bands = sig.select(
        "doc_id",
        F.explode("_keys").alias("band_key"),
        *[
            _packed_sig_word(w, band_rows, num_bands).alias(f"_s{w}")
            for w in (payload_words or [])
        ],
    )
    cands = (
        _banded_candidates(
            bands, max_bucket_size, distinct=distinct, payload=payload
        )
        .withColumnRenamed("doc_a", "id_a")
        .withColumnRenamed("doc_b", "id_b")
    )
    return cands, sig


def _simhash_sig(
    embeddings: DataFrame, dim: int, band_rows: int, num_bands: int,
    seed: int,
) -> DataFrame:
    """(doc_id, _keys) — the per-vector band-key arrays, eagerly
    localCheckpoint-ed so the one matmul pass is paid exactly once and
    every later read (counts, band explodes, packed-word projections)
    is a cached-rows read."""
    udf = simhash_band_udf(dim, band_rows, num_bands, seed)
    return embeddings.select(
        F.col("vec_id").alias("doc_id"),
        udf(F.col("embedding")).alias("_keys"),
    ).localCheckpoint(eager=True)


def _packed_sig_words(band_rows: int, num_bands: int) -> list["F.Column"]:
    """Projection of a ``_keys`` band-key array into packed 64-bit
    signature words ``_w0.._wN`` — the WHOLE r*b-bit SimHash signature
    as plain long columns, derived JVM-side from the checkpointed key
    array (each key's low ``band_rows`` bits are its band's sign-bit
    pattern; the band-index offset sits above bit 32 and is masked
    off). Words pack ``64 // band_rows`` bands each; unused high bits
    are zero on BOTH sides of any pair, so they contribute nothing to
    an xor-popcount. Pure codegen arithmetic — no UDF, no arrays on
    the hot path."""
    bpw = max(1, 64 // band_rows)
    return [
        _packed_sig_word(w, band_rows, num_bands).alias(f"_w{w}")
        for w in range((num_bands + bpw - 1) // bpw)
    ]


def _packed_sig_word(
    word_idx: int, band_rows: int, num_bands: int
) -> "F.Column":
    """One packed signature word (see ``_packed_sig_words``): the
    ``64 // band_rows`` band keys starting at band ``word_idx * bpw``,
    packed low-to-high. Factored out so the sampled prefilter can
    derive just the two words it carries through the bucket join."""
    bpw = max(1, 64 // band_rows)
    mask = (1 << band_rows) - 1
    start = word_idx * bpw
    parts = [
        F.shiftleft(
            F.element_at("_keys", i + 1).bitwiseAND(F.lit(mask)),
            j * band_rows,
        )
        for j, i in enumerate(range(start, min(start + bpw, num_bands)))
    ]
    expr = parts[0]
    for p in parts[1:]:
        expr = expr.bitwiseOR(p)
    return expr


def _hamming_min_match_bits(
    threshold: float, band_rows: int, num_bands: int, z: float = 7.0
) -> int:
    """Minimum matching sign-bits a candidate pair must show to be
    worth the exact-cosine rescore. For a pair at angle theta each of
    the r*b hyperplane bits matches independently with
    p = 1 - theta/pi (the SimHash identity), so matched bits ~
    Binomial(r*b, p): a pair AT the cosine threshold sits at
    mu = r*b*p with sigma = sqrt(r*b*p*(1-p)), while a RANDOM
    (near-orthogonal) pair sits at r*b/2. The bound mu - z*sigma with
    z = 7 keeps the per-pair false-drop probability below ~1e-12 —
    nine orders of magnitude under the banding scheme's own miss rate
    (e.g. 3.6e-3 at cosine 0.9, r=16, b=64) — while rejecting random
    collisions at ~18 sigma. Conditioning on the banding collision
    that MADE the pair a candidate only shifts its matched-bit count
    UP, so the unconditional bound is conservative."""
    return _min_match_bits(band_rows * num_bands, threshold, z)


def _min_match_bits(total_bits: int, threshold: float, z: float = 7.0) -> int:
    """``_hamming_min_match_bits`` generalized to any bit count — the
    sampled prefilter prices its bound over the subset of signature
    bits it actually carries."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, float(threshold)))) / math.pi
    mu = total_bits * p
    sigma = math.sqrt(total_bits * p * (1.0 - p)) if 0.0 < p < 1.0 else 0.0
    return max(0, int(math.floor(mu - z * sigma)))


def _sampled_prefilter_plan(
    threshold: float, band_rows: int, num_bands: int
) -> tuple[list[int], int] | None:
    """The in-join sampled-bits stage of the Hamming prefilter: which
    two packed signature words to carry through the bucket self-join,
    and the max sampled Hamming distance a candidate may show.

    WHY A STAGE BEFORE THE FULL PREFILTER EXISTS (r15, measured): past
    the words-table broadcast cap the full prefilter joins the raw
    collision stream against the packed-word table — at the 1000x rung
    (2M vectors, ~2e8-2e9 random collisions at the default/knob
    settings) the sort-merge join carried ~37 signature longs per raw
    collision row and sort-spilled ~70 GB before dying on ENOSPC. Two
    words (16 bytes) carried ON the band rows instead filter the
    stream INSIDE the bucket-join stage, before any exchange: at
    threshold 0.9 the 7-sigma bound over ~120-128 sampled bits sits
    ~3 sigma above a random pair's mean, killing ~99.7-99.9% of random
    collisions for ~16 bytes/row of extra shuffle. The full-signature
    filter (and the exact rescore) still run on the survivors — this
    stage only ever drops pairs, with the same z=7 per-TRUE-pair
    false-drop bound (~1e-12) the full filter carries, so the recall
    discipline is unchanged.

    Returns None when the sampled bound cannot separate true pairs
    from random ones (low thresholds: the bound lands above the random
    mean and would keep everything) or when the signature packs into
    <3 words (the full filter is already narrow) — callers then skip
    the stage entirely, keeping the pre-r15 plan shape."""
    import math

    bpw = max(1, 64 // band_rows)
    n_words = (num_bands + bpw - 1) // bpw
    if n_words < 3:
        return None
    word_idxs = [0, n_words // 2]
    bands_in = sum(
        min(bpw, num_bands - w * bpw) for w in word_idxs
    )
    bits = bands_in * band_rows
    max_ham = bits - _min_match_bits(bits, threshold)
    # arm only when the bound sits >= 2 sigma below a random pair's
    # mean Hamming (bits/2, sigma = sqrt(bits)/2) — i.e. when the
    # stage actually kills the bulk of random collisions
    if max_ham >= bits / 2.0 - math.sqrt(bits):
        return None
    return word_idxs, max_ham


def _rescored(candidates: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Exact cosine for each candidate pair (JVM-side zip_with dot).

    Norms are computed ONCE PER ROW on each join input and carried
    through the exchange, so per-PAIR work is one dot + one divide —
    ``cosine_similarity_col`` inline would re-aggregate both 64-element
    norms per pair (and the when() guard duplicates its den subtree:
    these HOF aggregates evaluate interpreted, so that's ~5x the
    arithmetic on the candidate-pair hot path). Same expressions in
    the same order, just hoisted — bit-identical results, pinned by
    the unchanged r6 oracle hashes."""
    v = F.col("embedding").cast("array<double>")
    a = embeddings.select(
        F.col("vec_id").alias("id_a"),
        v.alias("va"),
        l2_norm_col(v).alias("_na"),
    )
    b = embeddings.select(
        F.col("vec_id").alias("id_b"),
        v.alias("vb"),
        l2_norm_col(v).alias("_nb"),
    )
    den = F.col("_na") * F.col("_nb")
    cos = F.when(den == 0.0, F.lit(0.0)).otherwise(
        dot_col(F.col("va"), F.col("vb")) / den
    )
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", cos)
        .drop("va", "vb", "_na", "_nb")
    )


# Size cap for broadcasting the packed-signature word table into the
# Hamming prefilter joins (raw row-bytes estimate; ~64 MB covers ~3M
# 1024-bit signatures). Past it the words join distributed — at that
# corpus size the production move is raising band_rows anyway.
_SIG_WORDS_BROADCAST_CAP = 64 << 20

# Below this many vectors the Hamming prefilter is pure overhead and
# is skipped: the random-collision rescore volume it exists to kill is
# ~b * 2^-r * n^2 / 2 pairs (module docstring) — ~2k pairs at n=2k,
# sub-second to rescore directly — while the prefilter's fixed cost
# (two word joins + a post-filter distinct + the wide packed-word
# codegen) measured ~1.8 s at the sf0.1 ladder 1x rung (t1x 0.79 ->
# 2.59 s with it always-on). At the threshold (~16k vectors, ~125k
# random pairs at r=16/b=64) the rescore cost and the prefilter's
# fixed cost are the same order; past it the prefilter wins and its
# advantage grows with n^2 (the 100x rung: 63.7 -> 16.9 s).
_HAMMING_PREFILTER_MIN_VECTORS = 16_384


def simhash_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    dim: int = 64,
    band_rows: int = 6,
    num_bands: int = 96,
    seed: int = 42,
    max_bucket_size: int = 256,
    hamming_prefilter: bool | None = None,
    n_hint: int | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs via SimHash candidates + exact rerank.
    Replaces the all-pairs broadcast O(n^2) plan: the corpus is never
    crossed with itself, only bucket-mates meet in the join.

    ``max_bucket_size`` is the hot-bucket cap (see MinHash's twin):
    buckets up to the cap expand all-pairs exactly; hotter buckets emit
    rank-gap chain edges, so a mega-cluster's PAIR list is partial but
    its connected-component (the dedup outcome) is identical. Raise it
    when exact pair enumeration inside huge clusters matters more than
    the quadratic cost.

    HAMMING PREFILTER (the r13 scale fix): the dominant 100x-rung cost
    was exact-rescoring the ~b * 2^-r * n^2 / 2 RANDOM band collisions
    — 39M candidate pairs at the 200k-vector rung, 110 of 98 s, zero
    survivors at 0.9. Before any embedding travels, each candidate
    pair now compares its FULL r*b-bit signature (packed into long
    columns from the already-checkpointed key arrays —
    ``_packed_sig_words``) with pure codegen xor+bit_count; pairs
    below ``_hamming_min_match_bits`` (a 7-sigma Binomial bound, see
    its docstring for why it cannot meaningfully dent recall) are
    dropped before the 64-double join + interpreted dot product. A
    random collision sits ~18 sigma below the bound, so the rescore
    sees ~only true pairs; the signature matmul already paid for
    every bit this filter reads. ``hamming_prefilter=None`` (default)
    arms it by corpus size (``_HAMMING_PREFILTER_MIN_VECTORS`` — below
    it the filter's fixed cost exceeds the rescore it saves);
    True/False pin a regime (tests pin True to exercise the filter on
    small planted fixtures). Output is identical in every regime — the
    prefilter only ever drops pairs the exact filter rejects.

    STAGED since r15: when the threshold is high enough for ~2 words
    of sampled signature bits to separate true pairs from random
    collisions (``_sampled_prefilter_plan``), those 16 bytes ride the
    band rows and kill the random collisions INSIDE the bucket-join
    stage — the raw collision stream never reaches an exchange. The
    1000x ladder rung measured why: without the stage, the word joins
    past the broadcast cap sort-merge-joined the raw collision stream
    (~37 longs per row), sort-spilled ~70 GB and died on ENOSPC; with
    it, only survivors (~true pairs + a ~0.1-0.3% sigma tail) shuffle.
    Both stages carry the same z=7 per-true-pair false-drop bound.

    SIZE-GATED since r16: banding at fixed r has a measured-quadratic
    collision count (SCALE_LADDER.json three_decades: 1.95e9 = b*2^-r*
    n^2/2 collisions = ~500 of 522 s at the 2M-vector rung; the priced
    r-growth knob is ~neutral there, and LSH theory floors
    recall-holding banding at Theta(n^(1+rho))). Past
    ``_AUTO_NEARDUP_MAX_SIMHASH_VECTORS`` — the measured crossover
    where the linear learned-cell family wins — this function REFUSES
    unless ``allow_quadratic=True`` (then it warns and proceeds: the
    quadratic term is collision COUNT, priced at ~260 ns/collision by
    the ladder, so an informed caller can budget it). The routed front
    door is ``embedding_neardup_auto``, which picks the linear family
    automatically. ``n_hint`` skips the corpus count when the caller
    already knows it (the router threads its own count through)."""
    # the size-gated regimes (quadratic-refusal + prefilter arming)
    # are resolved BEFORE the candidate plan is shaped: sig's eager
    # checkpoint makes the count a cached-rows read, and the sampled
    # in-join stage's payload words should ride the band rows only
    # when the prefilter will actually run (a small-corpus call must
    # keep the exact pre-prefilter plan).
    sig = _simhash_sig(embeddings, dim, band_rows, num_bands, seed)
    n_vecs = int(n_hint) if n_hint is not None else sig.count()
    if n_vecs >= _AUTO_NEARDUP_MAX_SIMHASH_VECTORS:
        if not allow_quadratic:
            raise ValueError(
                f"simhash_neardup_pairs: {n_vecs} vectors is past the "
                f"measured ~{_AUTO_NEARDUP_MAX_SIMHASH_VECTORS} "
                "crossover where fixed-r banding's b*2^-r*n^2/2 random-"
                "collision term dominates (SCALE_LADDER.json "
                "three_decades: 1.95e9 collisions = ~500 of 522 s at "
                "2M vectors; the priced r-growth knob is ~neutral). "
                "Use embedding_neardup_auto (routes to the linear "
                "learned-cell family past the crossover), or pass "
                "allow_quadratic=True to accept the quadratic term."
            )
        import warnings

        warnings.warn(
            f"simhash_neardup_pairs on {n_vecs} vectors: expected "
            f"~{num_bands * 2.0 ** -band_rows * n_vecs * n_vecs / 2:.2e}"
            " random band collisions (~260 ns each, measured) — the "
            "quadratic regime; embedding_neardup_auto routes past it.",
            stacklevel=2,
        )
    if hamming_prefilter is None:
        hamming_prefilter = n_vecs >= _HAMMING_PREFILTER_MIN_VECTORS
    # the sampled stage (see _sampled_prefilter_plan) is priced purely
    # from (threshold, r, b); its two words ride the band rows so the
    # raw collision stream is filtered INSIDE the bucket-join stage
    plan = (
        _sampled_prefilter_plan(threshold, band_rows, num_bands)
        if hamming_prefilter
        else None
    )
    cands, sig = _self_join_candidates(
        embeddings, dim, band_rows, num_bands, seed, max_bucket_size,
        distinct=False,  # dedup AFTER the prefilter: the distinct's
        # exchange then moves surviving pairs, not every raw collision
        payload_words=plan[0] if plan else None,
        sig=sig,
    )
    if not hamming_prefilter:
        # small-corpus regime: the rescore volume the prefilter kills
        # is quadratically small here; its fixed cost dominates (see
        # the constant's comment). Identical output either way — the
        # prefilter only ever drops pairs the exact filter rejects.
        pre = cands.select("id_a", "id_b").distinct()
    else:
        if plan:
            word_idxs, max_ham_sampled = plan
            sampled_ham = sum(
                F.bit_count(
                    F.col(f"_s{w}_a").bitwiseXOR(F.col(f"_s{w}_b"))
                ).cast("int")
                for w in word_idxs
            )
            # filter + distinct BEFORE the full-word joins: the
            # survivors (~true pairs + the sampled bound's sigma tail)
            # are what shuffles, never the raw collision stream — at
            # the 1000x rung that is the difference between a ~16-byte
            # wider band shuffle and a ~70 GB ENOSPC sort-spill
            cands = (
                cands.filter(sampled_ham <= F.lit(max_ham_sampled))
                .select("id_a", "id_b")
                .distinct()
            )
        words = sig.select(
            "doc_id", *_packed_sig_words(band_rows, num_bands)
        )
        n_words = len(words.columns) - 1
        wa = words.select(
            F.col("doc_id").alias("id_a"),
            *[F.col(f"_w{i}").alias(f"_wa{i}") for i in range(n_words)],
        )
        wb = words.select(
            F.col("doc_id").alias("id_b"),
            *[F.col(f"_w{i}").alias(f"_wb{i}") for i in range(n_words)],
        )
        # Under the cap both word joins are map-side (the candidate
        # stream never shuffles for them); past it they fall back to
        # the distributed join — which the sampled stage above has by
        # then shrunk to survivors only (with AQE free to broadcast
        # the small side at runtime), the shape that survives the
        # third decade.
        if n_vecs * (n_words + 1) * 8 <= _SIG_WORDS_BROADCAST_CAP:
            wa, wb = F.broadcast(wa), F.broadcast(wb)
        hamming = sum(
            F.bit_count(
                F.col(f"_wa{i}").bitwiseXOR(F.col(f"_wb{i}"))
            ).cast("int")
            for i in range(n_words)
        )
        max_ham = band_rows * num_bands - _hamming_min_match_bits(
            threshold, band_rows, num_bands
        )
        pre = (
            cands.join(wa, "id_a")
            .join(wb, "id_b")
            .filter(hamming <= F.lit(max_ham))
            .select("id_a", "id_b")
        )
        if not plan:
            pre = pre.distinct()
    return (
        _rescored(pre, embeddings)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _kmeans_once(
    X: "np.ndarray", k: int, rng: "np.random.Generator", max_iter: int
) -> tuple["np.ndarray", float]:
    """One kmeans++-seeded Lloyd's run; returns (centroids, inertia).
    Distances use the |x|^2 + |c|^2 - 2x.c expansion (an (n x k)
    matrix + one matmul, never an (n x k x dim) tensor). Empty cells
    re-seed from the point farthest from its nearest centroid."""
    n = len(X)
    # kmeans++ seeding with the same |x|^2 + |c|^2 - 2x.c expansion as
    # the Lloyd loop below: each step is one BLAS matvec instead of
    # materializing an (n x dim) difference temporary — the naive form
    # made seeding O(k) 50 MB allocations per restart and dominated
    # the whole fit at the ladder's scaled-centroid regime (k ~ 1600:
    # ~320 s of 404 s). Clamped at 0 (the expansion can go epsilon-
    # negative, and rng.choice requires a non-negative pmf).
    x2f = (X ** 2).sum(axis=1)

    def _d2_to(idx: int) -> "np.ndarray":
        return np.maximum(x2f + x2f[idx] - 2.0 * (X @ X[idx]), 0.0)

    chosen = [int(rng.integers(n))]
    d2 = _d2_to(chosen[0])
    for _ in range(1, k):
        total = float(d2.sum())
        if total <= 0.0:  # all remaining points identical
            nxt = int(rng.integers(n))
        else:
            nxt = int(rng.choice(n, p=d2 / total))
        chosen.append(nxt)
        d2 = np.minimum(d2, _d2_to(nxt))
    C = X[chosen].astype(np.float64).copy()
    x2 = (X ** 2).sum(axis=1)[:, None]
    d = None
    for _ in range(int(max_iter)):
        d = x2 + (C ** 2).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
        a = d.argmin(axis=1)
        # cluster means by stable-sort + segmented reduceat: one
        # O(n log n) argsort and ONE contiguous pass over X. The
        # obvious per-cluster loop (`for j in range(k): X[a == j]`)
        # rescans all n rows PER CLUSTER — O(n*k) per Lloyd iteration,
        # it dominated the 100x ladder fit by minutes; np.add.at is an
        # unbuffered ufunc an order of magnitude slower than the
        # sorted pass; per-dim bincount pays k-independent per-call
        # overhead that dominates the small-k fits every production
        # query runs
        order = np.argsort(a, kind="stable")
        sorted_a = a[order]
        starts = np.flatnonzero(
            np.r_[True, sorted_a[1:] != sorted_a[:-1]]
        )
        seg_sums = np.add.reduceat(X[order], starts, axis=0)
        uniq = sorted_a[starts]
        sums = np.zeros_like(C)
        sums[uniq] = seg_sums
        counts = np.zeros(k)
        counts[uniq] = np.diff(np.r_[starts, len(sorted_a)])
        newC = np.where(
            counts[:, None] > 0, sums / np.maximum(counts, 1.0)[:, None], C
        )
        empty = np.flatnonzero(counts == 0)
        if len(empty):
            # re-seed every empty cell from the points farthest from
            # their nearest centroid (distinct points, worst first)
            far = np.argsort(-d.min(axis=1))[: len(empty)]
            newC[empty] = X[far]
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    d = x2 + (C ** 2).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
    return C, float(np.maximum(d.min(axis=1), 0.0).sum())


def _kmeans_fit(
    X: "np.ndarray", k: int, seed: int, max_iter: int, nredo: int = 4
) -> "np.ndarray":
    """Seeded Lloyd's over the DRIVER-side training sample — the FAISS
    coarse-quantizer discipline: the trainer's input is
    O(k x train_per_centroid) rows BY CONSTRUCTION (a broadcast-
    scalar-sized problem, like a join's build side), so a local
    vectorized fit replaces ~maxIter distributed jobs of scheduler
    overhead with milliseconds of numpy. ``nredo`` independent
    kmeans++ restarts keep the best-inertia run (FAISS's own guard
    against a bad local optimum — a single greedy seeding can cost
    real partial-probe recall). Deterministic for a given
    (sample, k, seed).

    ``nredo`` scales DOWN as k grows (2048/k, floor 1): restart
    variance is per-cell seeding luck averaged over k cells, so the
    inertia spread across restarts shrinks with k — at the scaled-
    centroid regime (k ~ 1600 at the 100x ladder rung) extra restarts
    buy ~nothing and each costs a full O(n*k) Lloyd run (FAISS ships
    nredo=1 at every k for the same reason); at small k, where one
    bad greedy seeding can really cost recall, all ``nredo`` restarts
    still run.

    Past ``_HIER_K_THRESHOLD`` centroids the fit goes TWO-LEVEL
    (``_kmeans_fit_hierarchical``): the flat Lloyd cost is O(n*k) per
    iteration, and under the scaled-centroid discipline (k ~ n/125,
    sample ~ 64*k) that term is quadratic in the corpus — the honest
    scale limit the 100x ladder exposed (r11: 404 s of driver numpy
    at k=1600 before vectorization, ~24 s after, still the dominant
    share of semantic_dedup's t100x). The two-level fit trains
    ceil(sqrt(k)) top cells, partitions the sample once, and fits
    per-cell sub-quantizers — O(n*sqrt(k)) per iteration, the
    standard FAISS/IVF multi-level coarse-trainer shape. Quality is
    near-flat's (each sub-fit is a full kmeans++ Lloyd on its cell;
    the only constraint is the top-level partition), pinned by the
    inertia-ratio test in tests/test_semdedup.py."""
    from ..functions.blas import limit_blas_threads

    # r16: the fit's matrices are bounded-sample-sized by construction,
    # where OpenBLAS's default all-cores pool costs 25x the math in
    # thread fan-out/sync (see functions/blas.py; measured 2.5 s -> 0.10 s
    # per k=64 fit on the 32-core bench host)
    limit_blas_threads()
    n = len(X)
    k = max(1, min(int(k), n))
    if k > _HIER_K_THRESHOLD:
        return _kmeans_fit_hierarchical(X, k, seed, max_iter)
    rng = np.random.default_rng(seed)
    best, best_inertia = None, float("inf")
    for _ in range(max(1, min(int(nredo), 2048 // k))):
        C, inertia = _kmeans_once(X, k, rng, max_iter)
        if inertia < best_inertia:
            best, best_inertia = C, inertia
    return best


# Flat Lloyd is O(n*k)/iter; two-level is O(n*sqrt(k))/iter. The
# crossover where the (n x k) distance matrix also stops fitting
# comfortably in driver memory sits around a few hundred centroids.
_HIER_K_THRESHOLD = 512


def _proportional_alloc(counts: "np.ndarray", k: int) -> "np.ndarray":
    """Allocate ``k`` sub-centroid slots across top-level cells
    PROPORTIONAL TO CELL MASS (largest-remainder rounding): at least 1
    per non-empty cell, never more than the cell's point count, total
    exactly ``k`` whenever sum(counts) >= k (else sum(counts) — the
    "n_distinct-ish" shortfall case). The remainder loop iterates only
    cells that still have spare points and re-scans until placed —
    a bounded tile here could exit with remainder unplaced while
    spare capacity sat concentrated in a few cells (r11 ADVICE #5),
    silently breaking the exactly-k contract. Shared by the driver
    two-level trainer and the distributed coarse quantizer so their
    allocation semantics cannot drift."""
    counts = np.asarray(counts, dtype=np.int64)
    quota = k * counts / max(1, counts.sum())
    k2 = np.minimum(np.floor(quota).astype(int), counts)
    k2 = np.maximum(k2, (counts > 0).astype(int))
    rem = k - int(k2.sum())
    if rem > 0:
        order = np.argsort(-(quota - np.floor(quota)))
        while rem > 0:
            spare = [j for j in order if k2[j] < counts[j]]
            if not spare:
                break
            for j in spare:
                if rem <= 0:
                    break
                k2[j] += 1
                rem -= 1
    elif rem < 0:
        order = np.argsort(quota - np.floor(quota))
        while rem < 0:
            shrinkable = [
                j for j in order if k2[j] > (1 if counts[j] > 0 else 0)
            ]
            if not shrinkable:
                break
            for j in shrinkable:
                if rem >= 0:
                    break
                k2[j] -= 1
                rem += 1
    return k2


def _kmeans_fit_hierarchical(
    X: "np.ndarray", k: int, seed: int, max_iter: int
) -> "np.ndarray":
    """Two-level coarse quantizer for large k (see _kmeans_fit): fit
    k1 = ceil(sqrt(k)) top-level cells, assign the sample once, then
    fit k2_j sub-centroids inside each top cell with k2_j allocated
    PROPORTIONAL TO CELL MASS (largest-remainder rounding, at least 1
    per non-empty cell, never more than the cell's point count) so
    dense regions get finer cells — the same pricing logic as the
    global k ~ n/125 discipline, applied within the sample. Exactly
    min(k, n_distinct-ish) centroids come back (shortfalls from tiny
    cells are redistributed to cells with spare points). Deterministic
    for (sample, k, seed): each sub-fit is seeded seed+j+1."""
    n = len(X)
    k1 = int(np.ceil(np.sqrt(k)))
    top = _kmeans_fit(X, k1, seed, max_iter)  # k1 <= threshold: flat
    d = (
        (X ** 2).sum(axis=1)[:, None]
        + (top ** 2).sum(axis=1)[None, :]
        - 2.0 * (X @ top.T)
    )
    a = d.argmin(axis=1)
    counts = np.bincount(a, minlength=len(top))
    k2 = _proportional_alloc(counts, k)
    parts = []
    for j in range(len(top)):
        if counts[j] == 0 or k2[j] == 0:
            continue
        members = X[a == j]
        if k2[j] == 1:
            parts.append(members.mean(axis=0)[None, :])
        else:
            parts.append(
                _kmeans_fit(members, int(k2[j]), seed + j + 1, max_iter)
            )
    return np.concatenate(parts, axis=0)


def bounded_training_sample(
    embeddings: DataFrame,
    target: int,
    seed: int,
    n_hint: int | None = None,
    col: str = "embedding",
) -> "np.ndarray":
    """Collect a DRIVER-side training sample of ~``target`` vectors,
    bounded at 4x target no matter what (the shared quantizer-training
    discipline of ``_CoarseQuantizer.flat`` and ``pq.pq_train``). The
    small-vs-large decision does NOT pay a full corpus count: an
    early-terminating ``take`` probe (CollectLimit's incremental job —
    one task at toy scale, a handful at 100 TB, never a task per file
    split) checks whether the corpus exceeds 4x the target; at or
    below it the whole corpus IS the sample. Above it, the exact
    count (skipped when the caller passes ``n_hint``) prices the
    Bernoulli sampling fraction. A hint is advisory, never trusted
    with an unbounded collect: the probe stays limit-capped, and
    hitting the cap falsifies the hint and falls through to sampling
    with the hint discarded."""
    emb_arr = F.col(col).cast("array<double>").alias("e")
    target = int(target)
    cap = 4 * target + 1
    fit_rows = None
    if n_hint is not None:
        small = n_hint <= 4 * target
        if small:
            probed = embeddings.select(emb_arr).limit(cap).collect()
            if len(probed) < cap:
                fit_rows = probed
            else:
                small = False
                n_hint = None
    else:
        # probe and fetch in ONE early-terminating job: under the cap,
        # these rows ARE the whole corpus = the training set; at the
        # cap, the corpus is large and we fall through to Bernoulli
        # sampling. The fetch is bounded at 4x the training sample —
        # proportionate to what the fit collects anyway.
        probed = embeddings.select(emb_arr).limit(cap).collect()
        small = len(probed) < cap
        if small:
            fit_rows = probed
    if fit_rows is None:
        n = n_hint if n_hint is not None else embeddings.count()
        # 1.05x: Bernoulli sampling undershoots the expectation about
        # half the time; the pad keeps the realized sample at/above
        # the budget with near-certainty
        fit_rows = (
            embeddings.sample(min(1.0, 1.05 * target / n), seed=seed)
            .select(emb_arr)
            .collect()
        )
    return np.asarray([r["e"] for r in fit_rows], dtype=np.float64)


# Past this many centroids, shipping the whole centroid set driver-side
# (pandas-UDF closure / plan literal) stops scaling: the k ~ n/125 cell
# policy makes k grow LINEARLY with the corpus, so at ~1e8+ vectors the
# centroid array alone is hundreds of MB of driver memory and literal —
# the plan stops compiling long before the executors hurt. Above the
# cap the semantic family's quantizer switches to the TWO-LEVEL layout
# (``_CoarseQuantizer.train``): the driver only ever holds the ~sqrt(k)
# top-level centroids; the full centroid set lives in a DataFrame and
# assignment is a cogroup, not a closed-over matmul. Production queries
# (k <= 256 everywhere) never cross the cap.
_LITERAL_K_CAP = 1024

# Top-level cell-count ceiling for the two-level trainer: ceil(sqrt(k))
# up to this bound, so the one remaining driver-side array is at most
# 4096 x dim — fixed, corpus-independent. 4096 top cells support
# k ~ 16M sub-centroids (k ~ n/125 => a ~2e9-vector corpus) before the
# EXPECTED top cell exceeds the sub-fit task budget.
_TOP_CELL_CAP = 4096

# Rows per GEMM call in the nearest-cell kernel. OpenBLAS picks its
# micro-kernel path from the matrix shape, so one row can score ulps
# apart in products of different heights (measured with numpy 1.26's
# OpenBLAS: single-threaded, every height that is not a multiple of 4
# changes bits; with a 4-thread pool most heights below 64 do). Every
# call is zero-padded to this one height, which makes a row's distances
# a function of the row and the centroids alone: assignment and probing
# see the same vector in differently-sized Arrow batches and still pick
# the same cell, even on a bisector.
_KERNEL_ROWS = 256


def _vectors(col, dim: int = 0) -> "np.ndarray":
    """An Arrow array column (one vector per row) as a float64 matrix;
    an empty column is a (0 x dim) matrix."""
    if not len(col):
        return np.empty((0, dim))
    return np.stack([np.asarray(v, dtype=np.float64) for v in col])


def _nearest_cells(
    X: "np.ndarray", C: "np.ndarray", n_probe: int = 0
) -> tuple["np.ndarray", "np.ndarray"]:
    """The one nearest-cell kernel behind every assignment and probe:
    rank the rows of ``C`` for each row of ``X`` by L2, computed as
    |c|^2 - 2x.c (an (n x k) matrix + one matmul; the |x|^2 term is
    constant per row and cannot move the ranking). ``n_probe=0``
    assigns: argmin, ties to the lowest id (numpy takes the first
    minimum). ``n_probe > 0`` probes: the first ``n_probe`` ids of a
    stable argsort, so ties again go to the lowest id and a vector's
    first probed cell IS its assigned cell. Returns (ids, dist), both
    rows x min(max(n_probe, 1), k); ``dist`` ranks across calls for
    the same row (the two-level probe's global window)."""
    c2 = (C ** 2).sum(axis=1)
    m = min(max(int(n_probe), 1), len(C))
    ids = np.empty((len(X), m), dtype=np.int64)
    dist = np.empty((len(X), m))
    for s in range(0, len(X), _KERNEL_ROWS):
        blk = X[s : s + _KERNEL_ROWS]
        rows = len(blk)
        if rows < _KERNEL_ROWS:
            blk = np.vstack([blk, np.zeros((_KERNEL_ROWS - rows, X.shape[1]))])
        d = (c2[None, :] - 2.0 * (blk @ C.T))[:rows]
        if n_probe:
            top = np.argsort(d, axis=1, kind="stable")[:, :m]
        else:
            top = d.argmin(axis=1)[:, None]
        ids[s : s + rows] = top
        dist[s : s + rows] = np.take_along_axis(d, top, axis=1)
    return ids, dist


def _cell_sim(X: "np.ndarray", own: "np.ndarray") -> "np.ndarray":
    """Cosine of each row of ``X`` to its own centroid (the
    far_from_centroid keeper score); a zero norm scores 0, the
    engine-wide convention."""
    denom = np.linalg.norm(X, axis=1) * np.linalg.norm(own, axis=1)
    num = (X * own).sum(axis=1)
    return np.where(denom > 0.0, num / np.maximum(denom, 1e-300), 0.0)


def _nearest_udf(
    centroids: list[list[float]], n_probe: int = 0, with_sim: bool = False
) -> "F.Column":
    """The kernel as one Arrow-batched pandas UDF over the row's
    ``embedding`` against the closed-over centroid matrix: the nearest
    cell id (int), the id plus ``cell_sim`` (struct) with ``with_sim``,
    or the ``n_probe`` nearest ids (array<int>). A map pass, no
    shuffle. This is the justified-pandas_udf case (same discipline as
    the SimHash signature matmul): the equivalent builtin expression is
    a higher-order transform/aggregate chain, which Catalyst evaluates
    INTERPRETED with per-row array allocation, not codegen — measured
    slower than the Arrow round trip."""
    C = np.asarray(centroids, dtype=np.float64)
    if n_probe:
        rtype = "array<int>"
    elif with_sim:
        rtype = "struct<centroid_id:int,cell_sim:double>"
    else:
        rtype = "int"

    @F.pandas_udf(rtype)
    def _nearest(col: pd.Series) -> pd.Series:
        X = _vectors(col, C.shape[1])
        ids = _nearest_cells(X, C, n_probe)[0].astype(np.int32)
        if n_probe:
            return pd.Series(list(ids))
        a = ids[:, 0]
        if with_sim:
            return pd.DataFrame({"centroid_id": a, "cell_sim": _cell_sim(X, C[a])})
        return pd.Series(a)

    return _nearest(F.col("embedding").cast("array<double>"))


class _CoarseQuantizer:
    """The coarse quantizer every IVF and SemDeDup operator shares:
    train, assign, probe, save and load, with the physical layout
    chosen once, from k, and carried by the instance — callers never
    branch on it.

    - FLAT: ``centroids`` is the whole k x dim list, closed over by the
      kernel's pandas UDF; assigning and probing are map passes.
    - TWO-LEVEL (``sub`` set): ``centroids`` holds only the top-level
      cells (at most ``_TOP_CELL_CAP``) and ``sub`` is the full
      centroid TABLE (top_id, centroid_id, centroid). A vector's top
      cell comes from the flat map pass over ``centroids``; its
      centroid from a cogroup of the top cell's vectors with that
      cell's sub-centroids — the corpus shuffles ONCE on the top id,
      and no executor ever sees more than one cell's centroids.

    Both layouts rank with the one ``_nearest_cells`` kernel (sub
    frames sorted by centroid_id, so ties go to the lowest id at both),
    which is what makes a vector's assigned cell its first probed cell:
    an appended vector and its exact twin in a later batch always meet.
    """

    def __init__(
        self, centroids: list[list[float]], sub: DataFrame | None = None
    ):
        self.centroids = centroids
        self.sub = sub

    @classmethod
    def train(
        cls,
        embeddings: DataFrame,
        k: int,
        seed: int = 42,
        max_iter: int = 10,
        n_hint: int | None = None,
    ) -> "_CoarseQuantizer":
        """The semantic family's layout choice: the flat driver fit up
        to the literal cap, the two-level fit above it (no k-proportional
        driver array or plan literal anywhere past it)."""
        if int(k) > _LITERAL_K_CAP:
            return cls.two_level(embeddings, k, seed, max_iter, n_hint=n_hint)
        return cls.flat(embeddings, k, seed, max_iter, n_hint=n_hint)

    @classmethod
    def flat(
        cls,
        embeddings: DataFrame,
        k: int,
        seed: int = 42,
        max_iter: int = 10,
        train_per_centroid: int = 256,
        n_hint: int | None = None,
    ) -> "_CoarseQuantizer":
        """The flat fit, SAMPLE-trained (the FAISS discipline): the
        coarse quantizer only needs enough points to place k cell
        centers — ``train_per_centroid x k`` of them — so the fit runs
        on a bounded sample ON THE DRIVER (``bounded_training_sample``,
        then ``_kmeans_fit``) and the full corpus is touched only by
        assignment. Training distributed on the full corpus would scan
        100 TB maxIter times for centroids statistically identical to
        the sample's. The IVF operators (``ivf_topk``, the IVF+SQ8
        family) call this directly at every k: their ``meta/`` stores a
        centroid list.

        Duplicate-centroid guard (possible when the sample has fewer
        distinct points than k — kmeans++ re-picks and re-seeding can
        return identical rows): two bitwise-identical centroids make
        nearest-cell ties that GEMM's column-position-dependent
        accumulation can resolve differently, splitting an
        exact-duplicate cluster between two cells where single-probe
        matching then misses it. The dedupe is order-PRESERVING: a
        no-op on continuous data, so existing cell labels hold. The
        two-level trainer's top cells come from here too."""
        X = bounded_training_sample(
            embeddings, int(train_per_centroid) * int(k), seed, n_hint=n_hint
        )
        C = _kmeans_fit(X, k, seed, max_iter)
        _, first = np.unique(C, axis=0, return_index=True)
        return cls(C[np.sort(first)].tolist())

    @classmethod
    def two_level(
        cls,
        embeddings: DataFrame,
        k: int,
        seed: int = 42,
        max_iter: int = 10,
        train_per_centroid: int = 128,
        n_hint: int | None = None,
    ) -> "_CoarseQuantizer":
        """The two-level fit, whose driver cost is CORPUS-INDEPENDENT:
        k1 = min(ceil(sqrt(k)), ``_TOP_CELL_CAP``) top cells fit flat on
        the driver (k1 x train_per_centroid sample rows, bounded
        regardless of corpus size — the ONLY centroid array the driver
        ever holds), then the full k centroids are trained DISTRIBUTED
        into the ``sub`` table: a Bernoulli sample of the corpus
        (k x train_per_centroid rows total, never collected) is
        top-assigned with one Arrow map pass, and each top cell's
        sub-centroids are fit in parallel by one ``applyInPandas`` task
        running the shared numpy kmeans on its cell's sample. Sub-slots
        are allocated proportional to cell mass
        (``_proportional_alloc`` — the same largest-remainder policy as
        the driver two-level trainer), and ``centroid_id`` is globally
        unique and deterministic: cell j's ids occupy
        [cumsum(k2)[j-1], cumsum(k2)[j]). The table is
        localCheckpoint-ed: every consumer references it without
        re-running the sample + fit.

        Scale shape: driver memory O(sqrt(k) x dim + k1) — NOT
        O(k x dim); executor work O(sample x sqrt(k)) for top
        assignment plus independent per-cell fits. Under the k ~ n/125
        cell policy, tpc=128 samples ~n (fine through the measured
        rungs); corpora big enough to make that sampling pass hurt
        should tune tpc down toward the FAISS-common 32 — per-task load
        then bounds at 32 x k/k1 (~131k rows at the k1=4096 cap) and
        each centroid still sees ~32 training points."""
        k = int(k)
        k1 = int(min(max(int(np.ceil(np.sqrt(k))), 2), _TOP_CELL_CAP))
        top = cls.flat(embeddings, k1, seed, max_iter, train_per_centroid, n_hint)
        n = int(n_hint) if n_hint is not None else embeddings.count()
        frac = min(1.0, 1.05 * k * int(train_per_centroid) / max(1, n))
        samp = top.assign(
            embeddings.sample(fraction=frac, seed=seed).select(
                F.col("embedding").cast("array<double>").alias("embedding")
            )
        ).withColumnRenamed("centroid_id", "_top")
        # k1 rows to the driver — prices the per-cell slot allocation
        counts = np.zeros(len(top.centroids), dtype=np.int64)
        for r in samp.groupBy("_top").agg(F.count("*").alias("cnt")).collect():
            counts[int(r["_top"])] = int(r["cnt"])
        k2 = _proportional_alloc(counts, k)
        offsets = np.concatenate([[0], np.cumsum(k2)[:-1]])
        plan = {
            int(j): (int(k2[j]), int(offsets[j]))
            for j in range(len(k2))
            if k2[j] > 0
        }
        fit_seed, fit_iter = int(seed), int(max_iter)

        def _fit_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
            j = int(pdf["_top"].iloc[0])
            kj, off = plan.get(j, (0, 0))
            if kj <= 0:
                return pd.DataFrame(
                    {"top_id": [], "centroid_id": [], "centroid": []}
                ).astype({"top_id": "int32", "centroid_id": "int64"})
            # Fit on UNIQUE rows: duplicate training points (a duplicate-
            # heavy corpus is exactly what SemDeDup exists for) would
            # otherwise yield bitwise-identical centroids — the tie the
            # flat fit's guard removes. np.unique also canonicalizes row
            # order, so the kmeans++ seeding sees a deterministic X for
            # (sample, seed) regardless of Spark's group-row order.
            X = np.unique(_vectors(pdf["embedding"]), axis=0)
            kj = min(kj, len(X))
            if kj == 1:
                C = X.mean(axis=0)[None, :]
            else:
                C = _kmeans_fit(X, kj, fit_seed + j + 1, fit_iter)
            return pd.DataFrame(
                {
                    "top_id": np.full(len(C), j, dtype=np.int32),
                    "centroid_id": off + np.arange(len(C), dtype=np.int64),
                    "centroid": list(C),
                }
            )

        sub = (
            samp.groupBy("_top")
            .applyInPandas(
                _fit_cell,
                "top_id int, centroid_id long, centroid array<double>",
            )
            .localCheckpoint(eager=True)
        )
        return cls(top.centroids, sub)

    def assign(self, df: DataFrame, with_sim: bool = False) -> DataFrame:
        """``df`` (which carries ``embedding``) plus ``centroid_id``, its
        nearest centroid, and with ``with_sim`` also ``cell_sim``, the
        cosine to that centroid (the far_from_centroid keeper score,
        computed in the same kernel call instead of a second pass).

        Two-level: a vector whose top cell holds no trained
        sub-centroid (possible when the training sample missed a sparse
        cell) gets the SENTINEL cell ``-top_id - 1``: deterministic,
        distinct per top cell, still a valid band key — such vectors
        band with their top-cell peers and every emitted pair is exact-
        verified downstream, so the fallback can only affect recall,
        never correctness. Their ``cell_sim`` is 1.0 (the prototype
        score: never preferred by the far-from-centroid keeper)."""
        if self.sub is None:
            cell = _nearest_udf(self.centroids, with_sim=with_sim)
            if not with_sim:
                return df.withColumn("centroid_id", cell)
            return df.withColumn("_a", cell).select(
                *df.columns, "_a.centroid_id", "_a.cell_sim"
            )
        extra = [StructField("centroid_id", LongType())]
        if with_sim:
            extra.append(StructField("cell_sim", DoubleType()))
        schema = StructType(df.schema.fields + extra)

        def _assign(key, vecs: "pd.DataFrame", cents: "pd.DataFrame"):
            out = vecs.drop(columns="_top")
            if not len(out) or not len(cents):
                out["centroid_id"] = -int(key[0]) - 1
                if with_sim:
                    out["cell_sim"] = 1.0
                return out
            cents = cents.sort_values("centroid_id", kind="stable")
            C = _vectors(cents["centroid"])
            X = _vectors(vecs["embedding"], C.shape[1])
            a = _nearest_cells(X, C)[0][:, 0]
            out["centroid_id"] = cents["centroid_id"].to_numpy()[a]
            if with_sim:
                out["cell_sim"] = _cell_sim(X, C[a])
            return out

        return (
            df.withColumn("_top", _nearest_udf(self.centroids))
            .groupBy("_top")
            .cogroup(self.sub.groupBy("top_id"))
            .applyInPandas(_assign, schema)
        )

    def probe(self, queries: DataFrame, n_probe: int) -> DataFrame:
        """(query_id, centroid_id) for each (vec_id, embedding) query's
        ``n_probe`` nearest cells — a tiny frame, queries x n_probe rows.

        Two-level: (1) each query's ``n_probe`` nearest TOP cells by the
        map pass (the standard hierarchical-IVF heuristic: the globally
        nearest sub-centroids concentrate in the nearest top cells —
        a bounded recall trade for corpus-independent driver state;
        every emitted match is still exact-cosine verified downstream);
        (2) a cogroup pairs each probed top cell's queries with that
        cell's sub-centroids and keeps each query's ``n_probe`` nearest
        WITHIN the group (the frame stays |queries| x n_probe^2); (3)
        one window takes the global ``n_probe`` nearest per query,
        ties to the lowest centroid_id. Vectors parked in SENTINEL
        cells are never probed: the same recall-only fallback as
        ``assign``."""
        kp = int(n_probe)
        q = queries.select(F.col("vec_id").alias("query_id"), "embedding")
        cells = F.explode(_nearest_udf(self.centroids, kp))
        if self.sub is None:
            return q.select("query_id", cells.alias("centroid_id"))

        def _rank(key, qs: "pd.DataFrame", cents: "pd.DataFrame"):
            if not len(qs) or not len(cents):
                return pd.DataFrame({"query_id": [], "centroid_id": [], "_d": []})
            cents = cents.sort_values("centroid_id", kind="stable")
            C = _vectors(cents["centroid"])
            ids, dist = _nearest_cells(_vectors(qs["embedding"], C.shape[1]), C, kp)
            return pd.DataFrame(
                {
                    "query_id": np.repeat(qs["query_id"].to_numpy(), ids.shape[1]),
                    "centroid_id": cents["centroid_id"].to_numpy()[ids].ravel(),
                    "_d": dist.ravel(),
                }
            )

        ranked = (
            q.select("query_id", "embedding", cells.alias("_top"))
            .groupBy("_top")
            .cogroup(self.sub.groupBy("top_id"))
            .applyInPandas(_rank, "query_id long, centroid_id long, _d double")
        )
        w = Window.partitionBy("query_id").orderBy("_d", "centroid_id")
        return (
            ranked.withColumn("_pr", F.row_number().over(w))
            .filter(F.col("_pr") <= kp)
            .select("query_id", "centroid_id")
        )

    def save(self, spark, base: str) -> None:
        """Persist under ``base``: ``meta/`` is one row, the centroid
        list (flat) or the top-level list plus the ``two_level`` layout
        marker; two-level also writes the ``centroids/`` table."""
        from ..functions.localrows import rows_frame

        if self.sub is None:
            meta = rows_frame(
                spark, [(self.centroids,)], "centroids array<array<double>>"
            )
        else:
            self.sub.write.mode("overwrite").parquet(f"{base}/centroids")
            meta = rows_frame(
                spark,
                [(self.centroids, "two_level")],
                "centroids array<array<double>>, layout string",
            )
        meta.write.mode("overwrite").parquet(f"{base}/meta")

    @classmethod
    def load(cls, spark, base: str) -> "_CoarseQuantizer":
        """Read what ``save`` wrote, in either layout."""
        meta = spark.read.parquet(f"{base}/meta").collect()[0]
        centroids = [list(c) for c in meta["centroids"]]
        if "layout" in meta.__fields__ and meta["layout"] == "two_level":
            return cls(centroids, spark.read.parquet(f"{base}/centroids"))
        return cls(centroids)


def _topk_rescore(
    cands: DataFrame, queries: DataFrame, embeddings: DataFrame, k: int
) -> DataFrame:
    """Shared tail of every ANN family: exact-cosine rescore of
    (query_id, neighbor_id) candidates and a deterministic per-query
    rank window — one body so the tie-break and the zero-norm
    convention cannot drift between families. Query vectors come from
    the QUERIES frame (broadcast — the query set is small by
    contract, same shape as ``quantize.ivf_sq8_search``), neighbor
    vectors from the corpus: an external query whose vec_id is absent
    from the corpus is first-class, not silently dropped."""
    v = F.col("embedding").cast("array<double>")
    # norms hoisted to once-per-row, same as _rescored — bit-identical
    # cosines, one dot + one divide per candidate instead of three
    # interpreted 64-element aggregates
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            v.alias("va"),
            l2_norm_col(v).alias("_na"),
        )
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        v.alias("vb"),
        l2_norm_col(v).alias("_nb"),
    )
    den = F.col("_na") * F.col("_nb")
    cos = F.when(den == 0.0, F.lit(0.0)).otherwise(
        dot_col(F.col("va"), F.col("vb")) / den
    )
    scored = (
        cands.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn("cosine", cos)
        .drop("va", "vb", "_na", "_nb")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )



def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 10,
    train_per_centroid: int = 256,
) -> DataFrame:
    """IVF-style ANN top-k: assign the corpus to KMeans cells once,
    probe each query's ``n_probe`` nearest cells, exact-cosine rerank
    only the vectors in probed cells. ``queries`` carries its own
    (vec_id, embedding) — EXTERNAL query vectors (vec_ids absent from
    the corpus) are first-class, the same contract as every other ANN
    family (``sq8_topk``, ``ivf_sq8_search``, ``simhash_topk``); a
    corpus row naturally never matches itself.
    The second bucketed ANN family
    next to SimHash: LSH buckets by random projection, IVF by learned
    partition — at 100 TB IVF wins when the corpus is clustered (cells
    match real density), LSH when it isn't.

    Scale shape: the probe table is (queries x n_probe) rows joined on
    centroid_id against the assignment table — a hash join keyed by
    cell, fanning out only to probed cells' members, never the corpus;
    with ``n_probe = n_centroids`` every cell is probed and the result
    is EXACTLY brute force (the correctness row runs that regime; the
    recall/speed trade of partial probing is pinned in pytest)."""
    quantizer = _CoarseQuantizer.flat(
        embeddings, n_centroids, seed, max_iter, train_per_centroid
    )
    assigned = quantizer.assign(embeddings.select("vec_id", "embedding"))
    cands = (
        quantizer.probe(queries, n_probe)
        .join(assigned, "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return _topk_rescore(cands, queries, embeddings, k)


def simhash_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    band_rows: int = 4,
    num_bands: int = 96,
    seed: int = 42,
) -> DataFrame:
    """Top-k nearest neighbors for each query vector: SimHash candidate
    generation (query side x corpus bucket join), exact cosine rerank,
    rank window per query. ``queries`` carries its own (vec_id,
    embedding) — external query vectors are first-class, the same
    contract as every other ANN family.

    Banding is wider than the near-dup path (r = 4 vs 6): a query's
    k-th neighbor can sit at cosine ~0.25 (p ~= 0.58), where r = 6
    misses ~2% of true neighbors; r = 4, b = 96 brings that under
    4e-6 per pair at the cost of more candidates to rerank."""
    cands = (
        _candidates(
            queries, embeddings, dim, band_rows, num_bands, seed, anti_reflexive=False
        )
        .withColumnRenamed("id_a", "query_id")
        .withColumnRenamed("id_b", "neighbor_id")
    )
    return _topk_rescore(cands, queries, embeddings, k)



# Per-task cell-size ceiling for the within-cell GEMM candidate scan:
# an m-member cell's similarity block is scanned in ~128 MB row-blocks,
# so memory is bounded, but a single task still owns the whole cell —
# past this size the cell routes to the join-based all-pairs path
# (reachable only when the caller DISARMS the hot-cell cap with a huge
# max_cell_size, i.e. the small-scale exact-oracle regimes; armed
# configs never build a GEMM cell bigger than the cap).
_GEMM_CELL_CAP = 8192
# Prefilter slack: numpy's blocked/FMA dot and the JVM's sequential
# zip_with fold disagree by ~1e-15 relative on a 64-dim unit dot; the
# margin is 6 orders wider, so the scan cannot drop a pair the exact
# rescore would keep, while still rejecting ~everything below the
# threshold.
_GEMM_MARGIN = 1e-9


def _gemm_pairs(
    threshold: float, va: "pd.Series", vb: "pd.Series | None" = None
) -> tuple["np.ndarray", "np.ndarray"]:
    """The one within-cell GEMM pair scan: normalize each side's
    vectors, scan Xa @ Xb.T in ~128 MB row-blocks, and return the
    index pairs (i, j) scoring >= threshold - ``_GEMM_MARGIN``. With
    ``vb`` omitted the scan is one side against itself and keeps the
    upper triangle (i < j). Zero-norm rows normalize to the zero
    vector: every score 0, the engine-wide cosine-0 convention (the
    exact rescore then decides them against the real threshold)."""

    def unit(col):
        X = _vectors(col)
        n = np.linalg.norm(X, axis=1)
        return np.where(n[:, None] > 0.0, X / np.maximum(n, 1e-300)[:, None], 0.0)

    Xa = unit(va)
    Xb = Xa if vb is None else unit(vb)
    thr = float(threshold) - _GEMM_MARGIN
    out_i, out_j = [], []
    blk = max(1, (1 << 24) // len(Xb))  # ~128 MB of f64 per block
    for s in range(0, len(Xa), blk):
        ii, jj = np.nonzero(Xa[s : s + blk] @ Xb.T >= thr)
        ii = ii + s
        if vb is None:
            keep = ii < jj
            ii, jj = ii[keep], jj[keep]
        out_i.append(ii)
        out_j.append(jj)
    return np.concatenate(out_i), np.concatenate(out_j)


def _cell_candidates_gemm(
    cells: DataFrame,
    embeddings: DataFrame,
    threshold: float,
    max_cell_size: int,
) -> DataFrame:
    """(id_a, id_b) near-dup CANDIDATES from single-assignment cells,
    with the within-cell all-pairs work done as one LOCAL matmul per
    cell instead of a 2x64-double self-join — the r13 profiling fix
    for SemDeDup's dominant cost. At the 100x ladder rung the old
    shape materialized 12.5M within-cell pair ROWS (the expected
    cell-size^2/2 volume; yield 0.37%) through a join, a distinct,
    and a per-pair interpreted zip_with dot: 36.6 of 41.9 s. Here each
    ≤cap cell's members are gathered once (one shuffle on the cell
    key) and a single applyInPandas task runs ``_gemm_pairs`` over
    them — the quadratic term still exists but costs a BLAS flop per
    pair, not a shuffled row, and the surviving ~true pairs alone pay
    the exact rescore (``_rescored``) so emitted cosines stay
    bit-identical to the join path and the DuckDB oracle.

    Cell routing (single assignment: each doc_id sits in exactly ONE
    cell, so the three branches are disjoint and pair rows are unique
    without a distinct):
      - size <= min(max_cell_size, _GEMM_CELL_CAP): GEMM scan (the
        common case — the k ~ n/125 policy holds expected cells at
        ~125);
      - size > max_cell_size (hot): rank-gap chain edges, exactly the
        recall-capped shape ``_banded_candidates`` uses (shared
        ``_rank_gap_chain_pairs``);
      - in between (only reachable with the cap disarmed past
        _GEMM_CELL_CAP, i.e. the exact-oracle regimes at small
        scale): the original all-pairs equi-join."""
    from .dedup import _rank_gap_chain_pairs

    cap = int(max_cell_size)
    gemm_cap = min(cap, _GEMM_CELL_CAP)
    sizes = cells.groupBy("band_key").agg(F.count("*").alias("_bsz"))
    small = sizes.filter(F.col("_bsz") <= gemm_cap).select("band_key")
    emb64 = embeddings.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("_e"),
    )
    members = cells.join(F.broadcast(small), "band_key", "left_semi").join(
        emb64, "doc_id"
    )

    def _scan(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id", kind="stable")
        ids = pdf["doc_id"].to_numpy()
        ii, jj = _gemm_pairs(threshold, pdf["_e"])
        return pd.DataFrame({"id_a": ids[ii], "id_b": ids[jj]})

    out = members.groupBy("band_key").applyInPandas(
        _scan, "id_a long, id_b long"
    )
    mid = sizes.filter(
        (F.col("_bsz") > gemm_cap) & (F.col("_bsz") <= cap)
    ).select("band_key")
    mid_members = cells.join(F.broadcast(mid), "band_key", "left_semi")
    all_pairs = (
        mid_members.alias("x")
        .join(
            mid_members.alias("y"),
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
        )
    )
    hot = sizes.filter(F.col("_bsz") > cap).select("band_key")
    hot_members = cells.join(F.broadcast(hot), "band_key", "left_semi")
    chain = _rank_gap_chain_pairs(hot_members, cap).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    return out.unionByName(all_pairs).unionByName(chain)


def _cross_cell_matches(
    cells_a: DataFrame,
    cells_b: DataFrame,
    vecs_a: DataFrame,
    vecs_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-cosine matches between two SIDES that share cells — the
    tail of ``semantic_match_new`` (new batch vs persisted cells) and
    ``semantic_fuzzy_join`` (left vs right). ``cells_x`` is
    (_cell, <id_x>): the cells each id sits in; ``vecs_x`` is
    (<id_x>, embedding), one row per id. Returns (<id_a>, <id_b>,
    cosine) for every same-cell pair with cosine >= ``threshold``.

    Cells where both sides fit ``_GEMM_CELL_CAP`` are scanned by one
    cogroup task each (``_gemm_pairs`` over Xa_n @ Xb_n.T), so the
    |A_cell| x |B_cell| candidate volume never materializes as rows;
    cells where either side exceeds the cap (reachable only with a
    hot-cell cap disarmed — the small-scale exact-oracle regimes) keep
    the cell equi-join. Both routes' candidates pay one exact-cosine
    verify with per-row norms hoisted, so emitted values are
    bit-identical to the pure-join plan and the DuckDB oracle."""
    ida, idb = vecs_a.columns[0], vecs_b.columns[0]
    sizes = cells_a.groupBy("_cell").agg(F.count("*").alias("_ca")).join(
        cells_b.groupBy("_cell").agg(F.count("*").alias("_cb")), "_cell"
    )  # cells missing a side emit nothing
    fits = (F.col("_ca") <= _GEMM_CELL_CAP) & (F.col("_cb") <= _GEMM_CELL_CAP)
    small = F.broadcast(sizes.filter(fits).select("_cell"))
    big = F.broadcast(sizes.filter(~fits).select("_cell"))
    v = F.col("embedding").cast("array<double>")

    def members(cells: DataFrame, vecs: DataFrame, idc: str) -> DataFrame:
        return cells.join(small, "_cell", "left_semi").join(
            vecs.select(idc, v.alias("_e")), idc
        )

    def _scan(key, pa: "pd.DataFrame", pb: "pd.DataFrame"):
        if not len(pa) or not len(pb):
            return pd.DataFrame(
                {
                    ida: np.array([], dtype=np.int64),
                    idb: np.array([], dtype=np.int64),
                }
            )
        ii, jj = _gemm_pairs(threshold, pa["_e"], pb["_e"])
        return pd.DataFrame(
            {ida: pa[ida].to_numpy()[ii], idb: pb[idb].to_numpy()[jj]}
        )

    gemm = (
        members(cells_a, vecs_a, ida)
        .groupBy("_cell")
        .cogroup(members(cells_b, vecs_b, idb).groupBy("_cell"))
        .applyInPandas(_scan, f"{ida} long, {idb} long")
    )
    fallback = (
        cells_a.join(big, "_cell", "left_semi")
        .join(cells_b.join(big, "_cell", "left_semi"), "_cell")
        .select(ida, idb)
    )
    a = vecs_a.select(ida, v.alias("va"), l2_norm_col(v).alias("_na"))
    b = vecs_b.select(idb, v.alias("vb"), l2_norm_col(v).alias("_nb"))
    den = F.col("_na") * F.col("_nb")
    cos = F.when(den == 0.0, F.lit(0.0)).otherwise(
        dot_col(F.col("va"), F.col("vb")) / den
    )
    return (
        gemm.unionByName(fallback)
        .join(a, ida)
        .join(b, idb)
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= float(threshold))
        .select(ida, idb, "cosine")
    )


def semantic_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 64,
    seed: int = 42,
    max_iter: int = 10,
    n_hint: int | None = None,
    max_cell_size: int = 256,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via LEARNED k-means cells — the
    candidate-generation half of SemDeDup (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication", 2023): cluster the corpus with the sample-trained
    coarse quantizer, enumerate pairs only WITHIN each cell,
    exact-cosine verify. Returns (id_a, id_b, cosine), id_a < id_b,
    cosine >= ``threshold``.

    The third candidate-generation family next to SimHash (random
    hyperplanes) and MinHash (shingle banding): learned cells adapt to
    the corpus's actual density, so on clustered real-world embeddings
    the same recall costs fewer candidates than data-oblivious
    projections — the reason the paper scales to web crawls. The
    trade: a duplicate pair STRADDLING a cell boundary is missed
    (the paper accepts this; near-identical vectors almost surely
    co-assign because assignment is a deterministic argmin over
    L2 and their distance is ~0), and ``n_centroids = 1`` recovers the
    exact all-pairs regime — the oracle-verified correctness anchor,
    same discipline as IVF's full-probe regime.

    Plan shape (the 100 TB design): the quantizer trains on a bounded
    sample (``_CoarseQuantizer.train`` — flat, or two-level at
    corpus-sized k), assignment is one pass (no shuffle when flat);
    the within-cell all-pairs work is one LOCAL matmul per cell
    (``_cell_candidates_gemm`` — members gather with one shuffle on
    the cell key, a blocked Xn @ Xn.T scan emits only pairs above
    threshold-minus-margin, and the survivors alone pay the exact
    rescore, so the expected-cell-size^2 candidate volume never
    materializes as rows); hot cells (k > ``max_cell_size``) degrade
    to rank-gap chain edges exactly like MinHash's hot band-buckets
    (shared ``dedup._rank_gap_chain_pairs`` — O(k * cap) bounded
    comparisons, candidate graph stays connected so downstream
    components still merge), and every emitted pair is exact-cosine
    verified, so the cap can only lose recall on hot-but-heterogeneous
    cells, never admit a false positive. At scale, grow
    ``n_centroids`` with the corpus so the expected cell stays
    constant-sized: total pair work is then linear in n."""
    if cells is None:
        quantizer = _CoarseQuantizer.train(
            embeddings, n_centroids, seed, max_iter, n_hint
        )
        # one materialization (same discipline as the MinHash
        # signature frame and the SimHash key arrays):
        # _cell_candidates_gemm references the cells frame from
        # 5 plan branches (size detection, small/mid/hot semi
        # routing, the chain expansion) — uncheckpointed, the
        # corpus scan + assignment would re-run per branch.
        # Two longs/row.
        cells = (
            quantizer.assign(embeddings.select("vec_id", "embedding"))
            .select(
                F.col("vec_id").alias("doc_id"),
                F.col("centroid_id").alias("band_key"),
            )
            .localCheckpoint(eager=True)
        )
    cands = _cell_candidates_gemm(
        cells, embeddings, float(threshold), max_cell_size
    )
    return _rescored(cands, embeddings).filter(
        F.col("cosine") >= float(threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 64,
    seed: int = 42,
    max_iter: int = 10,
    n_hint: int | None = None,
    max_cell_size: int = 256,
    keep: str = "min_id",
) -> DataFrame:
    """Full SemDeDup: semantic near-dup pairs -> connected components
    -> one keeper per duplicate group. Returns every corpus row as
    (vec_id, cluster_id, is_kept int) — singletons are their own
    cluster and always kept, so ``filter(is_kept = 1)`` IS the
    deduplicated corpus and the dropped fraction is auditable per
    cluster.

    ``keep`` picks the group representative:
      - "min_id" (default): the minimum vec_id — deterministic,
        engine-independent, SQL-expressible (the oracle-verified
        regime; same canonicalization as ``dedup.neardup_clusters``).
      - "far_from_centroid": the member with the LOWEST cosine
        similarity to its own k-means cell centroid — the paper's
        choice (keeping low-similarity examples preserves the tail of
        the semantic distribution instead of the prototype). Ties
        break on vec_id. Requires the learned centroids, so it is
        pinned by pytest rather than a SQL oracle.

    One assignment pass serves both the banding cells and the
    far_from_centroid keeper score (``cell_sim``). Components resolve
    with the shared hybrid union-find / pointer-jumping CC
    (``dedup.neardup_clusters``); the keeper window partitions by
    cluster_id — one extra shuffle on a frame that is one row per
    corpus vector, nothing pairwise."""
    from .dedup import neardup_clusters

    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(f"keep must be min_id|far_from_centroid: {keep!r}")
    far = keep == "far_from_centroid"
    assigned = (
        _CoarseQuantizer.train(embeddings, n_centroids, seed, max_iter, n_hint)
        .assign(embeddings.select("vec_id", "embedding"), with_sim=far)
        .drop("embedding")
        .localCheckpoint(eager=True)
    )
    pairs = semantic_neardup_pairs(
        embeddings,
        threshold=threshold,
        max_cell_size=max_cell_size,
        cells=assigned.select(
            F.col("vec_id").alias("doc_id"),
            F.col("centroid_id").alias("band_key"),
        ),
    )
    comp = neardup_clusters(
        pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
    ).select(F.col("doc_id").alias("vec_id"), "cluster_id")
    labeled = (
        embeddings.select("vec_id")
        .join(comp, "vec_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "vec_id"))
    )
    if not far:
        return labeled.select(
            "vec_id",
            "cluster_id",
            (F.col("cluster_id") == F.col("vec_id"))
            .cast("int")
            .alias("is_kept"),
        )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("cell_sim").asc(), F.col("vec_id").asc()
    )
    return (
        labeled.join(assigned.select("vec_id", "cell_sim"), "vec_id")
        .withColumn("is_kept", (F.row_number().over(w) == 1).cast("int"))
        .select("vec_id", "cluster_id", "is_kept")
    )


def semantic_index_build(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 64,
    seed: int = 42,
    max_iter: int = 10,
    n_hint: int | None = None,
) -> None:
    """Persist the SemDeDup corpus index — the embedding twin of
    ``dedup.minhash_index`` and the float sibling of
    ``quantize.ivf_sq8_index_build``: a 100 TB corpus is KMeans-fit
    and cell-assigned ONCE; daily increments then dedup against it
    without re-scanning or re-assigning the corpus.

    Layout under ``path``:
      ``cells/`` — (vec_id, embedding) HIVE-partitioned by
                   ``centroid_id``, so matching a new batch scans ONLY
                   the cells the batch probes (static partition
                   pruning) and maintenance rewrites only touched
                   cells. Float embeddings, not SQ8 codes: dedup
                   thresholding wants exact cosine, and the read set
                   per batch is a few cells, not the corpus.
      ``meta/``  — single row: the centroid list (flat layout), or the
                   TOP-level centroid list plus a layout marker
                   (two-level layout).
      ``centroids/`` — two-level layout only: the full sub-centroid
                   TABLE (top_id, centroid_id, centroid).

    The layout is the quantizer's (``_CoarseQuantizer.train``): at
    corpus-sized k the index is two-level, so building, matching
    against, and appending to it never holds or plan-embeds a
    k-sized array on the driver.

    ``semantic_match_new`` is the read side,
    ``semantic_index_append`` the live-corpus maintenance."""
    base = path.rstrip("/")
    quantizer = _CoarseQuantizer.train(
        embeddings, n_centroids, seed, max_iter, n_hint
    )
    quantizer.assign(embeddings.select("vec_id", "embedding")).repartition(
        "centroid_id"
    ).write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{base}/cells"
    )
    quantizer.save(embeddings.sparkSession, base)


def semantic_match_new(
    spark,
    path: str,
    new_embeddings: DataFrame,
    threshold: float = 0.9,
    n_probe: int = 1,
) -> DataFrame:
    """Incremental semantic dedup: match a NEW batch of (vec_id,
    embedding) against a persisted ``semantic_index_build`` artifact.
    Returns (new_id, corpus_id, cosine) for exact cosines at/above
    ``threshold`` — the embedding twin of ``dedup.minhash_match_new``:
    the corpus is never self-joined, never re-assigned, and only the
    cells the batch probes are READ at all (their ids collect to a
    list bounded by |batch| x n_probe and prune the hive scan
    statically). The probe runs in whichever layout the index was
    built in; against a two-level index the driver holds only the
    top-centroid list and the touched-cell filter.

    ``n_probe`` is the recall knob for cell-boundary straddle: with 1
    (the paper's within-cluster semantics) a twin assigned to the
    adjacent cell is missed; 2-3 probes check the runner-up cells at
    proportional extra read cost. Probing and assignment share one
    kernel, so an exact twin of an indexed vector always probes that
    vector's cell first. A corpus vector lives in exactly one cell,
    so multi-probe never duplicates a pair."""
    base = path.rstrip("/")
    new_embeddings = new_embeddings.select("vec_id", "embedding")
    # two consumers (the touched-cell collect and the cross-cell tail):
    # checkpoint the probe once; lazily, so the collect's job fills it
    probes = (
        _CoarseQuantizer.load(spark, base)
        .probe(new_embeddings, n_probe)
        .localCheckpoint(eager=False)
    )
    touched = [
        r[0] for r in probes.select("centroid_id").distinct().collect()
    ]
    if not touched:
        from ..functions.localrows import rows_frame

        return rows_frame(
            spark, [], "new_id long, corpus_id long, cosine double"
        )
    corpus = read_parquet(spark, f"{base}/cells").filter(
        F.col("centroid_id").isin(touched)
    )
    return _cross_cell_matches(
        probes.select(
            F.col("centroid_id").alias("_cell"),
            F.col("query_id").alias("new_id"),
        ),
        corpus.select(
            F.col("centroid_id").alias("_cell"),
            F.col("vec_id").alias("corpus_id"),
        ),
        new_embeddings.withColumnRenamed("vec_id", "new_id"),
        corpus.select(F.col("vec_id").alias("corpus_id"), "embedding"),
        threshold,
    )


def semantic_index_append(
    spark,
    path: str,
    new_embeddings: DataFrame,
    skew_threshold: float = 4.0,
) -> dict:
    """Live-corpus maintenance for ``semantic_index_build`` — same
    contract as ``quantize.ivf_sq8_index_append``: nearest EXISTING
    centroid (no retrain), partition-scoped idempotent upsert (only
    touched cells rewrite — O(batch + touched cells), never O(index)),
    then a cell-size skew probe. Appends keep old centroids, so a
    distribution shift concentrates new vectors into few cells and
    within-cell matching degrades toward hot-cell scans;
    ``needs_retrain=True`` past ``skew_threshold`` tells the CALLER to
    schedule ``semantic_index_build`` over the full corpus — this
    function never silently does a full-corpus pass. Replay-safe:
    re-appending the same batch upserts by vec_id into the same
    deterministic cell."""
    from ..sources.sinks import idempotent_merge_parquet

    base = path.rstrip("/")
    # materialize ONCE: three consumers follow (count, the merge
    # write, the touched-cell distinct) and each would otherwise
    # re-run the batch scan + centroid assignment — on a 1 s-trigger
    # stream that triples the per-batch maintenance work (same
    # discipline as stream_corpus_ingest's id frames)
    updates = (
        _CoarseQuantizer.load(spark, base)
        .assign(new_embeddings.select("vec_id", "embedding"))
        .localCheckpoint(eager=True)
    )
    appended = updates.count()
    idempotent_merge_parquet(
        spark,
        updates,
        f"{base}/cells",
        keys=["vec_id"],
        partition_col="centroid_id",
    )
    sizes = (
        read_parquet(spark, f"{base}/cells")
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"), F.avg("n").alias("mean"))
        .collect()[0]
    )
    skew = float(sizes["mx"]) / float(sizes["mean"]) if sizes["mean"] else 0.0
    touched = updates.select("centroid_id").distinct().count()
    return {
        "appended": int(appended),
        "cells_touched": int(touched),
        "skew": round(skew, 3),
        "needs_retrain": bool(skew > float(skew_threshold)),
    }


def semantic_fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 64,
    seed: int = 42,
    max_iter: int = 10,
    max_cell_size: int | None = 256,
) -> DataFrame:
    """Cross-corpus EMBEDDING join: (left_id, right_id, cosine) for
    every left/right pair with cosine >= ``threshold`` — the
    embedding twin of ``dedup.minhash_fuzzy_join`` (link a new crawl's
    embeddings to a canonical corpus, match product records across
    vendors by embedding) and the ad-hoc two-frame form of
    ``semantic_match_new`` (which requires a PERSISTED index; this
    takes two live DataFrames).

    Plan: ONE quantizer trained on a bounded sample of the UNION (both
    sides must share the partition or co-assignment is meaningless;
    two-level at corpus-sized k), each side assigned in one pass, and
    the shared cross-cell tail (``_cross_cell_matches``: within-cell
    GEMM scan, exact-cosine verify with hoisted per-row norms) —
    emitted pairs are exact, the learned partition only bounds recall
    (a true pair straddling a cell boundary is missed; near-identical
    vectors almost surely co-assign — the same SemDeDup trade as
    ``semantic_neardup_pairs``, and ``n_centroids=1`` recovers the
    exact all-cross-pairs regime, the oracle anchor).

    Hot cells: ``max_cell_size`` rank-caps EACH side per cell (pair
    fan-out <= cap^2 per cell). As in the text fuzzy join there is no
    chain rescue cross-corpus, so the cap is an honest recall bound;
    ``None`` disarms it. At scale grow ``n_centroids`` with the
    corpora so expected cell size stays constant."""
    left = left.select("vec_id", "embedding")
    right = right.select("vec_id", "embedding")
    quantizer = _CoarseQuantizer.train(
        left.unionByName(right), n_centroids, seed, max_iter
    )

    def _cells(df: DataFrame, idc: str) -> DataFrame:
        cells = quantizer.assign(df).select(
            F.col("centroid_id").alias("_cell"), F.col("vec_id").alias(idc)
        )
        if max_cell_size is not None:
            w = Window.partitionBy("_cell").orderBy(idc)
            cells = (
                cells.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= int(max_cell_size))
                .drop("_rk")
            )
        # two consumers downstream (the size count and the cell join
        # read both sides); the frame is two longs per row — same
        # materialization discipline as semantic_neardup_pairs' cells
        return cells.localCheckpoint(eager=True)

    return _cross_cell_matches(
        _cells(left, "left_id"),
        _cells(right, "right_id"),
        left.withColumnRenamed("vec_id", "left_id"),
        right.withColumnRenamed("vec_id", "right_id"),
        threshold,
    )


# The measured crossover between the two self-join near-dup families
# (SCALE_LADDER.json three_decades, r15): simhash banding's collision
# count is b*2^-r*n^2/2 — quadratic at fixed r, ~n^(1+rho) (rho ~ 0.22
# at cosine 0.9) with r scaled, and its 2M-vector rung measured 522 s
# against semantic_dedup's linear learned-cell shape (two-decade
# exponent 0.406). Below the crossover simhash wins on simplicity (no
# training, deterministic under a fixed seed, no cell-boundary miss
# class); above it the learned cells win on physics.
_AUTO_NEARDUP_MAX_SIMHASH_VECTORS = 1_000_000

# the documented SemDeDup cell policy: grow k with the corpus so the
# expected cell stays ~constant-sized and total pair work stays linear
_AUTO_NEARDUP_CELL_TARGET = 125


def embedding_neardup_auto(
    embeddings: DataFrame,
    threshold: float = 0.9,
    method: str = "auto",
    seed: int = 42,
    n_vecs: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs with the family choice made by the
    repo's own scale measurements — the front door the operators
    README routes through, as engine behavior instead of prose.

    ``method="auto"`` picks per corpus size (``n_vecs`` skips the
    count when the caller already knows it):

    - below ``_AUTO_NEARDUP_MAX_SIMHASH_VECTORS``:
      ``simhash_neardup_pairs`` — data-oblivious random-hyperplane
      banding; no training step, deterministic under ``seed``, no
      cell-boundary miss class. Its collision count is
      b*2^-r*n^2/2 (SCALE_LADDER.json three_decades: 1.95e9
      collisions = ~500 of 522 s at the 2M-vector rung; LSH-theory
      floor Theta(n^(1+rho))), which is why it is not the default
      past the crossover.
    - at or above it: ``semantic_neardup_pairs`` — SemDeDup learned
      cells under the k ~ n/125 policy (expected cell stays
      constant-sized, total pair work linear; measured two-decade
      exponent 0.406), ``n_centroids`` derived here so callers get
      the linear configuration without knowing the policy.

    ``method="simhash"`` / ``method="semantic"`` pin a family. Both
    families return the same contract: (id_a, id_b, cosine), id_a <
    id_b, every emitted pair EXACT-cosine verified at or above
    ``threshold`` — the approximation is candidate recall only
    (banding's detection rate vs cells' boundary-straddle misses)."""
    if method == "auto":
        if n_vecs is None:
            n_vecs = embeddings.count()
        method = (
            "simhash"
            if n_vecs < _AUTO_NEARDUP_MAX_SIMHASH_VECTORS
            else "semantic"
        )
    if method == "simhash":
        # one corpus scan per call, not two (r15 ADVICE): the router's
        # own count rides into the operator, whose prefilter-arming /
        # broadcast-cap / quadratic-gate decisions then read it instead
        # of re-counting the checkpointed signature frame
        return simhash_neardup_pairs(
            embeddings, threshold=threshold, seed=seed, n_hint=n_vecs
        )
    if method == "semantic":
        if n_vecs is None:
            n_vecs = embeddings.count()
        return semantic_neardup_pairs(
            embeddings,
            threshold=threshold,
            seed=seed,
            n_centroids=max(1, round(n_vecs / _AUTO_NEARDUP_CELL_TARGET)),
            n_hint=n_vecs,
        )
    raise ValueError(
        f"embedding_neardup_auto: unknown method {method!r} "
        "(expected 'auto', 'simhash', or 'semantic')"
    )
