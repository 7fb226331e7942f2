"""Scalar (int8) embedding quantization — the memory/IO lever of a
100 TB similarity deployment: a float32 embedding column stores 4
bytes per dimension; SQ8 codes store 1. The candidate-generation scan
(the part that touches EVERY vector) reads 4x fewer bytes and shuffles
4x smaller rows; the small surviving candidate set is reranked against
the exact float vectors, so the final top-k quality is bounded only by
what the coarse scan missed — the same prefilter-then-verify shape as
the blocked Bloom filter and the IVF probe.

All quantize/dequantize arithmetic is JVM-side higher-order functions
(``F.transform`` with the per-dimension scale/offset as broadcast
array literals) — no UDFs, codegen end-to-end.

Quantization grid: per-DIMENSION min/max (computed in one posexplode
aggregation — dims x 2 scalars to the driver, a few hundred bytes),
uniform 256 levels per dimension. Max per-dimension dequantization
error is (hi-lo)/510 (round-to-nearest on a 255-step grid).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.batch import read_parquet


def sq8_bounds(embeddings: DataFrame, col: str = "embedding") -> tuple[list, list]:
    """Per-dimension (lo, hi) lists via one explode+aggregate pass.
    |dims| rows reach the driver — the training-stats pass every
    quantizer needs, same cost class as write_zorder's approxQuantile."""
    rows = (
        embeddings.select(F.posexplode(col).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .orderBy("dim")
        .collect()
    )
    lo = [float(r["lo"]) for r in rows]
    hi = [float(r["hi"]) for r in rows]
    return lo, hi


def _lit_array(vals: list[float]) -> Column:
    # ONE Literal leaf, not F.array over per-element F.lit columns: a
    # 64-dim grid as CreateArray is a 64-child expression tree that
    # every later DataFrame transformation re-analyzes. NOTE (r17,
    # ADVICE r16): ``F.lit(list)`` does NOT do this — pyspark expands
    # a plain list right back into CreateArray; only the ndarray form
    # builds a single ArrayType Literal in the JVM (verified on the
    # analyzed plan: ``[0.1,2.5,...]`` vs ``array(0.1, 2.5, ...)``).
    # Same values, same DoubleType elements, exact float64 bits.
    import numpy as np

    return F.lit(np.asarray([float(v) for v in vals], dtype=np.float64))


def sq8_quantize(
    embeddings: DataFrame,
    lo: list[float],
    hi: list[float],
    col: str = "embedding",
    out: str = "codes",
) -> DataFrame:
    """Encode the float vector column as array<int> codes in [0, 255]
    (stored small; parquet dictionary/byte-packing drops them to ~1
    byte per dim on disk). Degenerate dimensions (hi == lo) encode as
    0 and decode exactly to lo. Values OUTSIDE the [lo, hi] grid clamp
    to the nearest edge code — identity for the data the grid was
    trained on, and the standard scalar-quantizer behavior for
    out-of-distribution vectors appended to a built index (the
    alternative, out-of-range codes, would silently break the
    1-byte-per-dim storage contract)."""
    lo_a, hi_a = _lit_array(lo), _lit_array(hi)
    codes = F.expr(
        f"""
        transform({col}, (x, i) ->
          CASE WHEN element_at({{hi}}, i + 1) = element_at({{lo}}, i + 1)
               THEN 0
               ELSE GREATEST(0, LEAST(255, CAST(round(
                 (CAST(x AS DOUBLE) - element_at({{lo}}, i + 1)) * 255.0
                 / (element_at({{hi}}, i + 1) - element_at({{lo}}, i + 1))
               ) AS INT))) END)
        """.replace("{lo}", "__sq8_lo").replace("{hi}", "__sq8_hi")
    )
    return (
        embeddings.withColumn("__sq8_lo", lo_a)
        .withColumn("__sq8_hi", hi_a)
        .withColumn(out, codes)
        .drop("__sq8_lo", "__sq8_hi")
    )


def sq8_dequantize_col(
    codes: str | Column, lo: list[float], hi: list[float]
) -> Column:
    """array<int> codes -> array<double> approximate vector."""
    c = F.col(codes) if isinstance(codes, str) else codes
    dims = len(lo)
    scale = [(hi[i] - lo[i]) / 255.0 for i in range(dims)]
    return F.zip_with(
        F.zip_with(c.cast("array<double>"), _lit_array(scale), lambda x, s: x * s),
        _lit_array(lo),
        lambda xs, o: xs + o,
    )


def _cos(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n1 = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    n2 = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    # zero-norm convention: similar to nothing, never NaN (which would
    # sort above every real value and poison the top-k)
    return F.when(n1 * n2 == 0.0, F.lit(0.0)).otherwise(dot / (n1 * n2))


def _coarse_then_rerank(
    probes: DataFrame,
    index: DataFrame,
    qside: DataFrame,
    exact: DataFrame,
    lo: list[float],
    hi: list[float],
    k: int,
    oversample: int,
) -> DataFrame:
    """Shared second half of the IVF+SQ8 pipelines (live and
    persisted-artifact — one body so tie-breaks, the self-match
    filter, and the rounding policy cannot diverge): coarse-rank
    probed candidates on dequantized int8 codes, keep k x oversample
    per query, exact-rerank against the float vectors."""
    # dequantize + norms hoisted BEFORE the probe join: an index row
    # is matched by every query probing its cell, so inline _cos would
    # re-dequantize and re-aggregate its norm once per (query, row)
    # pair; hoisted, each runs once per row and the pair-level work is
    # one dot + one divide. Same expressions in the same order as
    # _cos — bit-identical sims, pinned by the full-probe ≡ brute
    # force pytest and the r6 oracle hashes.
    deq = sq8_dequantize_col("codes", lo, hi)
    norm = lambda a: F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    hcos = lambda a, b, na, nb: F.when(na * nb == 0.0, F.lit(0.0)).otherwise(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (na * nb)
    )
    idx = index.withColumn("_dv", deq).withColumn("_dn", norm(F.col("_dv")))
    qn = qside.withColumn("_qn", norm(F.col("qv")))
    coarse = (
        probes.join(idx, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(qn, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            hcos(
                F.col("qv"), F.col("_dv"), F.col("_qn"), F.col("_dn")
            ).alias("sim_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_q"), "neighbor_id")
    candidates = (
        coarse.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= int(k) * int(oversample))
        .select("query_id", "neighbor_id")
    )
    ex = exact.withColumn("_en", norm(F.col("nv_exact")))
    reranked = (
        candidates.join(ex, "neighbor_id")
        .join(qn, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                hcos(
                    F.col("qv"),
                    F.col("nv_exact"),
                    F.col("_qn"),
                    F.col("_en"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        reranked.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= int(k))
    )


def ivf_sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    oversample: int = 4,
    seed: int = 42,
    max_iter: int = 10,
    col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The composed 100 TB ANN shape: IVF cell-probing makes the
    candidate set SUBLINEAR (only probed cells' members are touched),
    SQ8 codes make the coarse scan of those candidates 4x CHEAPER in
    bytes, and the exact float rerank touches only k x oversample rows
    per query. ``similarity.ivf_topk`` alone scans probed cells at
    float width; ``sq8_topk`` alone compares every corpus vector; this
    is both levers at once — the FAISS ``IVF+SQ8`` index expressed as
    DataFrame joins.

    Contract matches ``ivf_topk``: ``queries`` carries its own
    (id, embedding) — external query vectors (ids absent from the
    corpus) are first-class; returns (query_id, neighbor_id, cosine,
    rk).
    With ``n_probe = n_centroids`` and a large ``oversample`` the
    result is exactly brute force (the pinned-correctness regime);
    partial probing trades recall for probe fan-out, bounded in pytest.
    """
    from .similarity import _CoarseQuantizer

    # normalize to the (vec_id, embedding) contract the quantizer uses
    embeddings = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(col).alias("embedding")
    )
    queries = queries.select(
        F.col(id_col).alias("vec_id"), F.col(col).alias("embedding")
    )
    quantizer = _CoarseQuantizer.flat(embeddings, n_centroids, seed, max_iter)
    lo, hi = sq8_bounds(embeddings, "embedding")
    # the persistable index: (vec_id, centroid_id, codes) — 1 byte/dim
    index = sq8_quantize(
        quantizer.assign(embeddings), lo, hi, "embedding"
    ).select(F.col("vec_id").alias("neighbor_id"), "centroid_id", "codes")

    probes = quantizer.probe(queries, n_probe)
    qside = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )
    exact = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("nv_exact"),
    )
    return _coarse_then_rerank(
        probes, index, qside, exact, lo, hi, k, oversample
    )


def ivf_sq8_index_build(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the IVF+SQ8 index as parquet — the build-once /
    query-many production shape (the ANN twin of ``minhash_index``):
    a 100 TB corpus is KMeans-fit, assigned and quantized ONCE; every
    later query batch loads the artifact and probes it without
    touching the float corpus or refitting anything.

    Layout under ``path``:
      ``codes/``  — (vec_id, codes array<int>) ~1 B/dim, HIVE-
                    partitioned by ``centroid_id`` so maintenance
                    rewrites and probe-scoped scans touch only the
                    cells involved, never the whole index
      ``meta/``   — single row: centroids, per-dimension lo/hi grid

    ``ivf_sq8_search`` is the read side, ``ivf_sq8_index_append`` the
    live-corpus maintenance; the pair is equivalent to ``ivf_sq8_topk``
    run live (pinned in tests/test_quantize.py)."""
    from .similarity import _CoarseQuantizer

    embeddings = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(col).alias("embedding")
    )
    quantizer = _CoarseQuantizer.flat(embeddings, n_centroids, seed, max_iter)
    lo, hi = sq8_bounds(embeddings, "embedding")
    index = sq8_quantize(
        quantizer.assign(embeddings), lo, hi, "embedding"
    ).select("vec_id", "centroid_id", "codes")
    index.repartition("centroid_id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(f"{path.rstrip('/')}/codes")
    spark = embeddings.sparkSession
    from ..functions.localrows import rows_frame

    meta = rows_frame(
        spark,
        [(quantizer.centroids, lo, hi)],
        "centroids array<array<double>>, lo array<double>, hi array<double>",
    )
    meta.write.mode("overwrite").parquet(f"{path.rstrip('/')}/meta")


def _read_meta(spark, base: str):
    """(quantizer, lo, hi) from a persisted index's ``meta/`` row."""
    from .similarity import _CoarseQuantizer

    meta = spark.read.parquet(f"{base}/meta").collect()[0]
    quantizer = _CoarseQuantizer([list(c) for c in meta["centroids"]])
    return quantizer, list(meta["lo"]), list(meta["hi"])


def ivf_sq8_index_append(
    spark,
    path: str,
    new_embeddings: DataFrame,
    skew_threshold: float = 4.0,
    col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Live-corpus maintenance for a persisted ``ivf_sq8_index_build``
    artifact (the ANN twin of ``minhash_index`` + its streaming merge):
    assign each NEW vector to its nearest EXISTING centroid (one tiny
    probe — no retrain, the corpus is never re-scanned), quantize on
    the EXISTING lo/hi grid (out-of-grid values clamp to edge codes),
    and upsert into the codes table with the partition-scoped
    idempotent merge — only the cells the batch actually touches are
    rewritten, so maintenance cost is O(batch + touched cells), not
    O(index).

    Drift trigger: appends keep old centroids, so a distribution shift
    concentrates new vectors into few cells and partial-probe recall
    decays (a hot cell holds vectors far from its center). After the
    merge this measures cell-size skew — max cell size over mean
    non-empty cell size — and reports ``needs_retrain=True`` when it
    exceeds ``skew_threshold`` (a freshly-trained quantizer keeps cells
    near-balanced; 4x is well outside KMeans noise). The CALLER
    schedules the retrain (``ivf_sq8_index_build`` over the full
    corpus, typically off-peak): this function never silently does a
    full-corpus pass.

    Returns {"appended": n, "cells_touched": t, "skew": s,
    "needs_retrain": bool}. Replay-safe: re-appending the same batch
    upserts by vec_id (same deterministic cell), a no-op in content."""
    from ..sources.sinks import idempotent_merge_parquet

    base = path.rstrip("/")
    quantizer, lo, hi = _read_meta(spark, base)
    new_embeddings = new_embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(col).alias("embedding")
    )
    # nearest existing centroid by the same kernel the build assigned
    # with: deterministic, so a replayed batch (or a re-appended
    # vec_id) lands every vector in the cell it already occupies.
    # Materialized ONCE: three consumers follow (count, the merge
    # write, the touched-cell distinct)
    updates = (
        sq8_quantize(quantizer.assign(new_embeddings), lo, hi, "embedding")
        .select("vec_id", "codes", "centroid_id")
        .localCheckpoint(eager=True)
    )
    appended = updates.count()
    idempotent_merge_parquet(
        spark, updates, f"{base}/codes", keys=["vec_id"],
        partition_col="centroid_id",
    )
    sizes = (
        read_parquet(spark, f"{base}/codes")
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .agg(
            F.max("n").alias("mx"),
            F.avg("n").alias("mean"),
            F.count("*").alias("cells"),
        )
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


def ivf_sq8_search(
    spark,
    path: str,
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    oversample: int = 4,
    col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a persisted ``ivf_sq8_index_build`` artifact: probe cells,
    coarse-rank on the stored int8 codes, exact-rerank against
    ``embeddings`` (the float corpus, touched only for the k x
    oversample survivors per query). Same contract and output schema
    as ``ivf_sq8_topk`` — (query_id, neighbor_id, cosine, rk)."""
    base = path.rstrip("/")
    index = read_parquet(spark, f"{base}/codes")
    quantizer, lo, hi = _read_meta(spark, base)
    probes = quantizer.probe(
        queries.select(
            F.col(id_col).alias("vec_id"), F.col(col).alias("embedding")
        ),
        n_probe,
    )
    qside = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(col).cast("array<double>").alias("qv"),
        )
    )
    exact = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(col).cast("array<double>").alias("nv_exact"),
    )
    return _coarse_then_rerank(
        probes,
        index.withColumnRenamed("vec_id", "neighbor_id"),
        qside,
        exact,
        lo,
        hi,
        k,
        oversample,
    )


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    oversample: int = 4,
    col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-phase cosine top-k: coarse rank on DEQUANTIZED int8 codes
    (the 4x-cheaper scan), keep ``k * oversample`` candidates per
    query, exact-rerank the survivors on the float vectors. Returns
    (query_id, neighbor_id, cosine, rk) like the exact baseline.

    Scale shape: identical joins to the brute-force plan (query side
    broadcasts, corpus scanned once) — what changes at 100 TB is the
    BYTES: the corpus-wide phase reads the int8 table; only
    |queries| x k x oversample rows ever touch float vectors."""
    lo, hi = sq8_bounds(embeddings, col)
    coded = sq8_quantize(embeddings, lo, hi, col)
    deq = sq8_dequantize_col("codes", lo, hi)
    corpus_q = coded.select(
        F.col(id_col).alias("neighbor_id"), deq.alias("nv")
    )
    qside = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(col).cast("array<double>").alias("qv"),
        )
    )
    coarse = (
        corpus_q.join(qside, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cos(F.col("qv"), F.col("nv")).alias("sim_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim_q"), "neighbor_id"
    )
    candidates = (
        coarse.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= int(k) * int(oversample))
        .select("query_id", "neighbor_id")
    )
    exact = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(col).cast("array<double>").alias("nv_exact"),
    )
    reranked = (
        candidates.join(exact, "neighbor_id")
        .join(qside, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cos(F.col("qv"), F.col("nv_exact")), 6).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        reranked.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= int(k))
    )
