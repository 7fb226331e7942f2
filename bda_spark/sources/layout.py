"""Data layout for scan-time pruning (the read-path half of the 100 TB
story; the write-path half is sources/sinks.py + sources/bucketed.py),
plus the OPTIMIZE / compaction job that re-lays an existing table as a
new versioned generation (sources/versioned.py).

Hive partitioning (partitionBy) prunes at DIRECTORY granularity and is
right for low-cardinality keys (date, source). For the high-resolution
axis inside a partition — a timestamp, an id — the lever is RANGE
layout: ``repartitionByRange`` assigns each output file a disjoint
slice of the axis and ``sortWithinPartitions`` orders rows inside it,
so every parquet row group's min/max stats cover a tight range. A
predicate like ``ts BETWEEN a AND b`` then skips whole files (footer
min/max) and whole row groups inside surviving files — the scan cost
becomes proportional to the selected range, not the table.

Spark's range partitioner samples the column to pick balanced bounds
(reservoir sample per partition — one extra lightweight pass), so the
layout stays balanced under skew, where hash-bucketing the axis would
scatter the range across every file and void pruning entirely.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_range_sorted(
    df: DataFrame,
    path: str,
    col: str,
    num_files: int,
    partition_by: list[str] | None = None,
    bloom_filter_cols: dict[str, int] | None = None,
) -> None:
    """Land ``df`` as parquet range-clustered on ``col``: ``num_files``
    files (per hive partition if ``partition_by``), each owning a
    disjoint, internally-sorted slice of the axis.

    ``num_files`` sizes the slices: pick total_bytes / target_file_size
    (128-512 MB files are the parquet sweet spot — at 100 TB that is
    hundreds of thousands of files, which is exactly why the slicing
    must be done by the engine, not a driver loop).

    ``bloom_filter_cols`` maps column -> expected distinct count and
    adds a parquet bloom filter per listed column (see
    ``bloom_filter_options``): min/max stats prune the RANGE axis;
    blooms prune POINT lookups on high-cardinality keys the sort
    doesn't cover (user_id in a ts-sorted table)."""
    _write_clustered(
        df.repartitionByRange(num_files, col).sortWithinPartitions(col),
        path,
        partition_by,
        bloom_filter_cols,
    )


def _write_clustered(
    clustered: DataFrame,
    path: str,
    partition_by: list[str] | None,
    bloom_filter_cols: dict[str, int] | None,
) -> None:
    """Overwrite ``path`` with ``clustered`` as parquet, with the
    ``bloom_filter_options`` blooms, hive-partitioned on
    ``partition_by`` when given."""
    writer = clustered.write.mode("overwrite")
    for k, v in bloom_filter_options(bloom_filter_cols).items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def bloom_filter_options(
    bloom_filter_cols: dict[str, int] | None,
    disable_dictionary: bool = True,
) -> dict[str, str]:
    """Parquet writer options enabling a split-block bloom filter per
    column (parquet-mr's ``parquet.bloom.filter.enabled#col`` contract,
    honored by Spark's parquet sink). Blooms answer "is this VALUE
    possibly in this row group" for point/IN predicates on keys whose
    values hash-scatter across the file — exactly where min/max stats
    are useless (every row group spans nearly the full key domain).
    At 100 TB a point lookup on a bloomed key skips ~all row groups at
    footer-read cost; the write-side price is ~1.1 bytes per distinct
    value per row group at the default 1% FPP.

    ``expected.ndv`` sizes each filter: per ROW GROUP distinct count,
    not per table — overstating it wastes footer bytes, understating
    inflates the false-positive rate (a correctness-neutral, pure
    performance knob).

    ``disable_dictionary`` (default on) also turns OFF dictionary
    encoding for the bloomed columns: parquet-mr silently skips the
    bloom for any chunk that stays fully dictionary-encoded (the dict
    already answers membership exactly), so a bloomed-but-small chunk
    would land with no filter at all and the point-lookup plan changes
    shape with data volume. A bloom-worthy key is high-cardinality by
    definition — its dict pages overflow and fall back to plain at
    production chunk sizes anyway — so forcing plain encoding just
    makes the footer layout deterministic at every size."""
    opts: dict[str, str] = {}
    for col, ndv in (bloom_filter_cols or {}).items():
        opts[f"parquet.bloom.filter.enabled#{col}"] = "true"
        opts[f"parquet.bloom.filter.expected.ndv#{col}"] = str(int(ndv))
        if disable_dictionary:
            opts[f"parquet.enable.dictionary#{col}"] = "false"
    return opts


def bloom_filter_columns(spark, path: str) -> dict[str, bool]:
    """Footer-level audit: which columns of the parquet files under
    ``path`` carry a bloom filter (True iff every file's first row
    group has one for that column). pyarrow doesn't surface bloom
    offsets, so this asks the JVM's parquet-hadoop footer reader —
    the same classes Spark's scan uses to decide row-group skipping."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    present: dict[str, bool] = {}
    it = fs.listFiles(jpath, True)
    n_files = 0
    while it.hasNext():
        f = it.next().getPath()
        if not f.getName().endswith(".parquet"):
            continue
        n_files += 1
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
        )
        try:
            block = reader.getFooter().getBlocks().get(0)
            for i in range(block.getColumns().size()):
                cc = block.getColumns().get(i)
                name = cc.getPath().toDotString()
                has = cc.getBloomFilterOffset() >= 0
                present[name] = present.get(name, True) and has
        finally:
            reader.close()
    if n_files == 0:
        raise FileNotFoundError(f"no parquet files under {path}")
    return present


def zorder_key(
    df: DataFrame,
    cols: list[str],
    boundaries: dict[str, list[float]],
    bits: int = 6,
):
    """Z-value (Morton code) column for ``cols``: each column's value is
    quantile-bucketed against its ``boundaries`` (an ascending list of
    2^bits - 1 split points), then the bucket ids' bits are interleaved
    — bit i of column c lands at position i * len(cols) + c. Nearby
    z-values are nearby in EVERY dimension at once, which is the whole
    trick: files sorted by z hold small hyper-rectangles of the space,
    so footer min/max stats prune predicates on ANY participating
    column, not just a single sort axis.

    All expression work (bucketing via one F.aggregate over a literal
    boundary array — 2^bits comparisons per row, JVM-side under
    codegen — and the bit interleave) is pure Column arithmetic: no
    UDF, no shuffle of its own.

    Quantile (not linear min/max) bucketing makes the layout
    skew-robust: each bucket holds ~1/2^bits of the DATA, so a hot key
    range can't collapse every row into one z-slab."""
    d = len(cols)
    z = F.lit(0).cast("long")
    for c_idx, c in enumerate(cols):
        bnd = sorted(boundaries[c])
        # single Literal node (ndarray form; a plain list re-expands
        # to per-element CreateArray — ADVICE r16)
        arr = F.lit(np.asarray(bnd, dtype=np.float64))
        bucket = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc
            + F.when(F.col(c).cast("double") >= b, 1).otherwise(0),
        ).cast("long")
        for i in range(bits):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(
                F.call_function(
                    "shiftleft", bit, F.lit(i * d + c_idx).cast("int")
                )
            )
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    bits: int = 6,
    quantile_error: float = 0.001,
    bloom_filter_cols: dict[str, int] | None = None,
) -> None:
    """Land ``df`` z-order-clustered on ``cols`` — the multi-column
    generalization of ``write_range_sorted``: that prunes exactly one
    axis (rows sorted by ts leave user_id scattered through every
    file); z-order gives EVERY listed column partial pruning power, the
    layout for tables queried along several independent dimensions
    (the Delta/Iceberg OPTIMIZE ZORDER shape, built from Spark
    primitives).

    Cost shape: ONE extra stats pass (``approxQuantile`` computes all
    columns' boundary lists together; the 2^bits - 1 split points per
    column come to the driver — a few KB — and go back as literal
    arrays), then the same repartitionByRange + in-file sort as the
    1-D writer, now keyed by the z-value. Pruning per dimension is
    ~num_files^(1/d) of the files for a point predicate instead of 1/d
    of nothing — the classic z-order trade: each axis gives up a
    little locality so every axis keeps some."""
    _write_clustered(
        _zorder_clustered(df, cols, num_files, bits, quantile_error),
        path,
        None,
        bloom_filter_cols,
    )


def _zorder_clustered(
    df: DataFrame,
    cols: list[str],
    num_files: int,
    bits: int = 6,
    quantile_error: float = 0.001,
) -> DataFrame:
    """``df`` range-distributed into ``num_files`` slices of its
    z-value over ``cols``, each sorted (``write_zorder``)."""
    probs = [i / float(1 << bits) for i in range(1, 1 << bits)]
    qs = df.stat.approxQuantile(list(cols), probs, quantile_error)
    boundaries = {c: qs[i] for i, c in enumerate(cols)}
    z = zorder_key(df, list(cols), boundaries, bits)
    return (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def optimize_table(
    spark,
    path: str,
    zorder_cols: list[str] | None = None,
    range_col: str | None = None,
    target_file_bytes: int = 256 * 1024 * 1024,
    bloom_filter_cols: dict[str, int] | None = None,
    bits: int = 6,
    vacuum_keep: int = 2,
    vacuum_min_age_seconds: float = 0.0,
) -> int:
    """The periodic maintenance job in one call (the Delta/Iceberg
    ``OPTIMIZE [ZORDER BY]`` shape from Spark primitives): rewrite the
    table at ``path`` into ~target-sized files, clustered either by
    z-order (``zorder_cols``) or a single range axis (``range_col``),
    optionally with bloom filters on point-lookup keys. Returns the new
    file count.

    The rewrite commits as a new generation through
    ``sources.versioned.rewrite_generation``: readers resolving through
    ``sources.batch.read_parquet`` never observe a missing or partial
    table. It reads the whole logical table (partitions a generation
    carries by reference included) and writes one self-contained
    generation, so it doubles as the major compaction that collapses a
    reference chain; a hive-partitioned table keeps its partition
    columns (the clustering applies inside them, so partition-scoped
    merges and deletes keep working), and a batch-dir table's
    ``_watermark`` rides along. A plain dir is adopted as generation 1
    on its first optimize.
    ``vacuum_keep >= 2`` leaves the previous generation for in-flight
    readers; raise it (or pass a min age) when readers may straddle
    more than one maintenance cycle.

    Exactly one of ``zorder_cols`` / ``range_col`` may be given;
    neither means plain compaction (coalesce, no re-sort)."""
    if zorder_cols and range_col:
        raise ValueError("give zorder_cols OR range_col, not both")
    from .versioned import Rewrite, rewrite_generation

    def plan(base):
        if base.gen is None:
            raise FileNotFoundError(f"optimize_table: no table at {path}")
        n_files = int(max(1, -(-base.size_bytes() // target_file_bytes)))
        levels = base.hive_levels()

        def write(df, data_path: str) -> None:
            if zorder_cols:
                clustered = _zorder_clustered(
                    df, list(zorder_cols), n_files, bits
                )
            elif range_col:
                clustered = df.repartitionByRange(
                    n_files, range_col
                ).sortWithinPartitions(range_col)
            else:
                clustered = df.coalesce(n_files)
            _write_clustered(clustered, data_path, levels, bloom_filter_cols)

        return Rewrite(base.read(), result=n_files, write=write)

    return rewrite_generation(
        spark,
        path,
        plan,
        vacuum_keep=vacuum_keep,
        vacuum_min_age_seconds=vacuum_min_age_seconds,
    )


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> int:
    """Small-file compaction — the maintenance job every streaming sink
    needs at scale: micro-batch appends leave thousands of KB-sized
    files whose per-file open/footer cost eventually dominates scans.
    Rewrites ``path`` into ceil(total_bytes / target_file_bytes) files
    (256 MB default — the parquet sweet spot) and returns the new file
    count.

    ``coalesce`` (not repartition) does the merge: a narrow,
    shuffle-free union of input splits — compaction moves bytes once,
    from source files to compacted files, never through an exchange.

    This IS ``optimize_table`` with no clustering and no blooms, so it
    commits the same way: a new reader-atomic generation."""
    return optimize_table(spark, path, target_file_bytes=target_file_bytes)
