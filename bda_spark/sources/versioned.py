"""Versioned parquet tables: the one protocol this engine uses to
rewrite an existing table. Every keyed merge, key delete, compaction
and OPTIMIZE (``rewrite_generation`` below) commits a new immutable
generation, so a concurrent reader sees the old table or the new one —
never a missing or partial one — and two writers racing on one root
cannot silently discard each other's commit. It is the log-commit
trick of Delta Lake (VLDB 2020) and Iceberg, built from two filesystem
primitives that ARE atomic everywhere (HDFS, S3A with consistent
listing, local):

    root/_versions/gen-00000007/     <- immutable parquet data dirs
    root/_commits/00000007.00000006  <- empty marker; CREATE is atomic

A writer prepares generation N+1 fully under ``_versions`` (invisible:
readers never list that dir speculatively), then atomically creates the
commit marker. Readers resolve the marker CHAIN (below) to one
generation and scan only what it names; they see generation N until
the instant the marker appears, N+1 after — never a mix, never nothing. A
crash before the marker leaves unreferenced debris that the next writer
deletes; no heal rename is ever needed because the live table was never
touched.

Write-write conflicts — the chained-marker protocol
---------------------------------------------------
Each marker encodes the BASE generation its writer merged from
(``{gen:08d}.{base:08d}``; base 0 = first commit; bare ``{gen:08d}``
markers from the pre-chain layout are accepted as a trusted ascending
prefix). Readers accept a marker only if it extends a LINEAR chain:
starting from the last legacy generation (or 0), the next link is the
marker whose base equals the current head; among several same-base
markers the one with the earliest filesystem mtime wins (tie: lowest
generation number). A same-base loser is ORPHANED — no reader ever
resolves it — so two writers racing from the same base can never both
become visible: the visible history is always one linear chain, and no
visible commit is ever silently superseded by a racing merge.

Writers enforce the same rule on themselves: after creating its marker,
``commit_generation`` re-resolves the chain and, if its own generation
is not a link (a same-base competitor's marker carries an earlier
mtime, or a different commit landed first), it deletes its marker and
data and raises instead of reporting success. The residual assumption
is only that the filesystem assigns marker mtimes from one
non-decreasing clock (HDFS namenode / S3 / local kernel all do): a
marker created LATER never carries an EARLIER mtime, so a writer that
returned success can never be retroactively orphaned. Without a real
CAS primitive that is as strong as optimistic concurrency gets —
serializing high-rate concurrent mergers still wants an external
scheduler or lock service, exactly as Delta-on-S3 needed before
conditional PUT.

``vacuum_versions(keep=2, min_age_seconds=...)`` bounds storage: the
previous generation is retained one maintenance cycle so an in-flight
reader that resolved it just before a commit can finish its scan (the
same grace-period contract as Delta's VACUUM retention), and the
min-age guard keeps any generation whose SUCCESSOR committed more
recently than the given age — so rapid commit sequences (per-micro-
batch merges) cannot sweep a generation out from under a reader that
resolved it seconds ago.

Rewrites — ``rewrite_generation``
---------------------------------
One helper runs every read-modify-write. It pins the current
generation, hands the caller's ``plan`` that generation's manifest-
aware read, and commits what the plan returns with the pinned
generation as the compare-and-swap base. A plan replaces either the
whole table or only the hive partitions it names; every other
partition carries forward BY REFERENCE in the new generation's
``_refs`` manifest (entry name -> generation physically holding it,
the Iceberg-manifest idea), so a partition-scoped merge or delete
costs O(touched partitions), not O(table). The ``_watermark`` sidecar
(``streaming.batchdir``) rides along. An attempt that loses a commit
race (``CommitRace``) published nothing and reruns the plan against
the new generation. A plain parquet dir that an older writer left
behind is adopted once, by ``to_versioned``, on its first rewrite.

Committing is one empty-file create, whatever the table's size.

Reads — ``sources.batch.read_parquet``
--------------------------------------
A generation is read by one scan (``_read_generation``): its own dir
plus the dir of each partition it carries by reference, under one
``basePath`` (``_versions``), so partition pruning and partition type
inference cover every holder at once. The reader lists the commit
chain once per read.
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NullType

VERSIONS_DIR = "_versions"
COMMITS_DIR = "_commits"
REFS_FILE = "_refs"
# a batch-dir table's absorbed batch-id high-watermark (streaming.batchdir)
WATERMARK_FILE = "_watermark"
# a rewrite that keeps losing commit races this many times raises
REWRITE_ATTEMPTS = 3

# Default reader grace for HIGH-FREQUENCY maintenance callers (per-
# micro-batch merges, streaming compaction): with min_age 0, commit-
# count retention alone gives an in-flight reader only `keep - 1`
# commits of grace — one fast merge away from sweeping the generation
# it just resolved. Ten minutes comfortably exceeds any sane scan of a
# table maintained at micro-batch cadence; batch/offline callers that
# want immediate reclamation pass 0.0 explicitly.
DEFAULT_MAINTENANCE_MIN_AGE_SECONDS = 600.0


class CommitRace(IOError):
    """``commit_generation`` lost to a concurrent writer: its data
    derives from a superseded generation, or a competitor's marker won
    the chain. Nothing was published; rerunning against the new current
    generation is safe."""


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def glob_escape(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters in a DATA path
    handed to ``spark.read`` (whose path resolution always globs):
    without this, a root like ``/data/runs[2024]/preds`` reads as a
    character class and matches nothing. Escape ONLY the globbed data
    paths — the ``basePath`` option is a plain prefix compared against
    RESOLVED file paths and must stay raw (an escaped basePath fails
    the prefix match)."""
    return re.sub(r"([\[\]{}*?\\])", r"\\\1", path)


def _gen_dir(root: str, gen: int) -> str:
    return f"{root.rstrip('/')}/{VERSIONS_DIR}/gen-{gen:08d}"


def _read_small_file(spark: SparkSession, path: str) -> str | None:
    """First line of a tiny sidecar file, or None when absent."""
    fs, p = _hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    jvm = spark._jvm
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(p), "UTF-8")
    )
    try:
        return reader.readLine()
    finally:
        reader.close()


def _write_small_file(spark: SparkSession, path: str, content: str) -> None:
    fs, p = _hadoop_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def read_generation_refs(
    spark: SparkSession, root: str, gen: int
) -> dict[str, int]:
    """The generation's partition-reference manifest: relative entry
    name -> generation number that PHYSICALLY holds that entry's data.
    Incremental maintenance (streaming.batchdir partition-scoped
    compaction) writes only the partitions a cycle touched into its new
    generation and carries every untouched partition forward by
    reference — the Iceberg-manifest idea built from one tiny JSON
    sidecar. Empty dict = fully self-contained generation."""
    import json

    line = _read_small_file(spark, f"{_gen_dir(root, gen)}/{REFS_FILE}")
    if not line:
        return {}
    return {str(k): int(v) for k, v in json.loads(line).items()}


def write_generation_refs(
    spark: SparkSession, data_dir: str, refs: dict[str, int]
) -> None:
    """Write the ``_refs`` sidecar INSIDE a generation data dir (before
    its commit marker, so the manifest is atomic with the commit)."""
    import json

    _write_small_file(
        spark,
        f"{data_dir.rstrip('/')}/{REFS_FILE}",
        json.dumps({str(k): int(v) for k, v in refs.items()}, sort_keys=True),
    )


def _marker_entries(fs, commits_p) -> list[tuple[int, int | None, int]]:
    """All marker files under ``_commits``: (gen, base-or-None, mtime
    millis). Legacy pre-chain markers (bare digits) carry base None."""
    out: list[tuple[int, int | None, int]] = []
    for st in fs.listStatus(commits_p):
        name = st.getPath().getName()
        if name.isdigit():
            out.append((int(name), None, st.getModificationTime()))
        else:
            head, dot, tail = name.partition(".")
            if dot and head.isdigit() and tail.isdigit():
                out.append((int(head), int(tail), st.getModificationTime()))
    return out


def _commit_chain(
    entries: list[tuple[int, int | None, int]]
) -> list[tuple[int, int]]:
    """Resolve markers to the linear visible history: ordered
    [(gen, marker_mtime)]. Legacy (base-less) markers form a trusted
    ascending prefix; base-encoded markers then chain by base == head,
    earliest mtime (tie: lowest gen) winning each link. Markers that
    lose a link are orphaned — invisible to every reader forever."""
    chain = sorted((g, m) for g, b, m in entries if b is None)
    head = chain[-1][0] if chain else 0
    based = [e for e in entries if e[1] is not None and e[0] > head]
    while True:
        cands = [e for e in based if e[1] == head]
        if not cands:
            return chain
        g, _, m = min(cands, key=lambda e: (e[2], e[0]))
        chain.append((g, m))
        head = g
        based = [e for e in based if e[0] > head]


def _read_chain(spark: SparkSession, root: str) -> list[tuple[int, int]]:
    fs, commits = _hadoop_path(spark, f"{root.rstrip('/')}/{COMMITS_DIR}")
    if not fs.exists(commits):
        return []
    return _commit_chain(_marker_entries(fs, commits))


def current_generation(spark: SparkSession, root: str) -> int | None:
    """Head of the committed chain, or None for a non-versioned path.
    One small-dir listing — the only metadata a reader pays."""
    chain = _read_chain(spark, root)
    return chain[-1][0] if chain else None


def is_versioned(spark: SparkSession, root: str) -> bool:
    return current_generation(spark, root) is not None


def resolve_table(
    spark: SparkSession, root: str, generation: int | None = None
) -> str:
    """The current generation dir for a versioned root, the root itself
    for a plain parquet dir (so callers can resolve unconditionally). A
    generation that carries partitions by ``_refs`` holds only part of
    its table in this dir: read tables with
    ``sources.batch.read_parquet``. Pass ``generation`` for TIME TRAVEL —
    reading a specific committed generation that vacuum hasn't swept
    yet (the same as-of contract as Delta's VERSION AS OF, bounded by
    the vacuum retention). Only CHAIN generations resolve: an orphaned
    commit (a lost same-base race) is not readable history."""
    chain = _read_chain(spark, root)
    if generation is not None:
        gen = int(generation)
        fs, data_p = _hadoop_path(spark, _gen_dir(root, gen))
        if gen not in {g for g, _ in chain} or not fs.exists(data_p):
            raise FileNotFoundError(
                f"generation {generation} of {root} is not available "
                f"(never committed, orphaned by a write race, or swept "
                f"by vacuum_versions)"
            )
        return _gen_dir(root, gen)
    return root if not chain else _gen_dir(root, chain[-1][0])


def generation_manifest(
    spark: SparkSession, root: str, gen: int
) -> tuple[dict[str, int], bool]:
    """(manifest, plain) for one generation: manifest maps each hive
    entry name -> the generation PHYSICALLY holding it (the
    generation's own ``key=value`` dirs plus its ``_refs`` carries —
    always resolved directly to the holder, never through a chain);
    ``plain`` = the generation also holds non-hive data files (an
    unpartitioned layout, read as one dir)."""
    gen_dir = _gen_dir(root, int(gen))
    fs, gen_p = _hadoop_path(spark, gen_dir)
    manifest: dict[str, int] = {}
    plain = False
    for st in fs.listStatus(gen_p):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name:
            manifest[name] = int(gen)
        elif not name.startswith(("_", ".")):
            plain = True
    for name, holder in read_generation_refs(spark, root, int(gen)).items():
        manifest.setdefault(name, int(holder))
    return manifest, plain


def _cast(df: DataFrame, schema) -> DataFrame:
    """Align ``df`` to ``schema``'s column order and types."""
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _read_generation(
    spark: SparkSession,
    root: str,
    gen: int,
    manifest: dict[str, int],
    plain: bool,
    schema=None,
) -> DataFrame:
    """One scan of committed generation ``gen``: its own dir plus, for
    every partition its ``_refs`` carries, that partition's dir in the
    holder generation, read by ONE partition-discovering ``spark.read``
    based at ``_versions``. A partition filter prunes every holder's
    files inside that scan, and partition types are inferred over all
    values at once. The data columns come from one footer, so every
    file a generation reaches shares one schema (writers keep it so:
    a merge that changes it rewrites the whole table).

    ``schema`` aligns the result to the declared columns and types, and
    a generation holding no data (an empty-stream absorb) then reads as
    an empty frame of it."""
    if plain and manifest:
        # the scan skips files outside a partition dir, which would
        # drop these rows silently
        raise IOError(
            f"generation {gen} of {root} mixes root-level data files "
            f"with hive partitions — unreadable layout"
        )
    if not manifest and not plain and schema is not None:
        from ..functions.localrows import rows_frame

        return rows_frame(spark, [], schema)
    # its dir covers the generation's own files, partitioned or not;
    # each carried partition adds its dir in the holder generation
    paths = [_gen_dir(root, gen)] + [
        f"{_gen_dir(root, holder)}/{name}"
        for name, holder in sorted(manifest.items())
        if holder != gen
    ]
    df = (
        spark.read.option("basePath", f"{root.rstrip('/')}/{VERSIONS_DIR}")
        # the gen-N level above each partition dir names no column
        .option("ignoreInvalidPartitionPaths", "true")
        .parquet(*[glob_escape(p) for p in paths])
    )
    if schema is not None:
        return _cast(df, schema)
    # a partition column holding only nulls infers as VOID, which no
    # writer accepts as a partition column: read it as string
    void = [f.name for f in df.schema.fields if f.dataType == NullType()]
    return df.withColumns({c: F.col(c).cast("string") for c in void})


def commit_generation(
    spark: SparkSession,
    root: str,
    write_fn: Callable[[str], None],
    expected_base: int | None = None,
) -> int:
    """Publish a new generation: ``write_fn(data_path)`` must fully
    write the generation's parquet under ``data_path``; the commit
    marker is created only after it returns, so readers can never
    resolve a partially-written generation. Returns the new generation
    number.

    Concurrency protocol: each attempt first CLAIMS a generation slot
    by atomically creating ``gen-N.lock`` (skipping slots other
    writers — live or crashed — already claimed), so no two writers
    ever touch the same data dir and a committed generation can never
    be deleted or replaced by a racing attempt. The marker encodes the
    attempt's BASE generation, and readers resolve only linear chains
    (module docstring), so a same-base race has exactly one visible
    winner. After creating its marker, the attempt re-resolves the
    chain and — if its own commit is not a link — removes its marker
    and data and raises IOError instead of reporting a success no
    reader will ever see. Every lost race raises ``CommitRace``, which
    ``rewrite_generation`` retries against the new current generation
    (the optimistic-commit discipline).

    Crash-safe with no recovery step: an attempt that dies before its
    marker leaves only a claimed-but-uncommitted slot (lock + debris
    dir) that readers never resolve and ``vacuum_versions`` sweeps; an
    attempt that dies between marker creation and a losing self-check
    leaves an orphaned marker that readers skip and vacuum sweeps.

    ``expected_base`` is the COMPARE-AND-SWAP guard for read-modify-
    write callers (``rewrite_generation``):
    the generation the caller's ``write_fn`` data DERIVES from
    (0 / None for a fresh table). Without it, a writer whose read
    resolved generation N while a competitor committed N+1 before
    this function captured its base would publish N-derived data as
    N+2 on base N+1 — a chain-legal SILENT LOST UPDATE of the
    competitor's changes (the r11 VERDICT task-5 interleave). With
    it, a stale writer is rejected LOUDLY here before writing a
    byte, and the pre-marker + post-marker chain checks below close
    the remaining windows."""
    base = root.rstrip("/")
    cur = current_generation(spark, root)
    if expected_base is not None and (cur or 0) != int(expected_base):
        raise CommitRace(
            f"commit_generation: stale writer under {root} — caller's "
            f"data derives from generation {int(expected_base)} but the "
            f"table is at {cur or 0}; a commit would silently discard "
            f"the intervening writer's changes. Re-read the current "
            f"generation and retry."
        )
    if expected_base is not None:
        cur = int(expected_base) or None
    fs, versions_p = _hadoop_path(spark, f"{base}/{VERSIONS_DIR}")
    fs.mkdirs(versions_p)
    nxt = 1 if cur is None else cur + 1
    while True:
        _, lock = _hadoop_path(
            spark, f"{base}/{VERSIONS_DIR}/gen-{nxt:08d}.lock"
        )
        if fs.createNewFile(lock):
            break
        nxt += 1  # slot claimed by another (possibly crashed) writer
    data = _gen_dir(root, nxt)
    _, data_p = _hadoop_path(spark, data)
    # the lock makes this slot exclusively ours, and committed slots
    # are never re-claimed (the scan starts above the current marker),
    # so anything already in the dir is uncommitted debris — e.g. from
    # a crashed pre-lock-protocol writer — and safe to clear
    fs.delete(data_p, True)
    write_fn(data)

    def _abort(marker_p=None) -> None:
        if marker_p is not None:
            fs.delete(marker_p, False)
        fs.delete(data_p, True)
        fs.delete(lock, False)

    latest = current_generation(spark, root)
    if latest is not None and (cur is None or latest > cur):
        _abort()
        raise CommitRace(
            f"commit_generation: generation {latest} committed under "
            f"{root} while this attempt (base {cur}) was writing — "
            f"aborted to avoid publishing a lost update; rerun against "
            f"the new current generation"
        )
    _, commits_p = _hadoop_path(spark, f"{base}/{COMMITS_DIR}")
    fs.mkdirs(commits_p)
    _, marker = _hadoop_path(
        spark, f"{base}/{COMMITS_DIR}/{nxt:08d}.{(cur or 0):08d}"
    )
    if not fs.createNewFile(marker):
        _abort()
        raise IOError(
            f"commit_generation: marker {nxt:08d} already exists under "
            f"{root} despite the slot lock — manual intervention needed"
        )
    # Post-commit self-check: the check-then-act window between the
    # pre-marker re-check above and the marker create is real (two
    # same-base writers can both pass it); the chain rule resolves it
    # deterministically, and the loser must find out HERE, not report
    # success for a commit no reader will ever resolve.
    chain = _read_chain(spark, root)
    if nxt not in {g for g, _ in chain}:
        _abort(marker)
        raise CommitRace(
            f"commit_generation: generation {nxt} (base {cur}) lost a "
            f"same-base commit race under {root} — its marker was "
            f"orphaned by the chain rule; aborted to avoid reporting a "
            f"lost update as success; rerun against the new current "
            f"generation"
        )
    return nxt


def vacuum_versions(
    spark: SparkSession,
    root: str,
    keep: int = 2,
    min_age_seconds: float = 0.0,
) -> int:
    """Delete generation data (and markers/slot locks) older than the
    newest ``keep`` CHAIN generations. ``keep >= 2`` leaves the
    previous committed generation alive for one maintenance cycle so
    in-flight readers finish; never pass 1 unless no reader can be
    concurrent. The retention is counted over CHAIN generations, not
    generation numbers — aborted/crashed attempts leave number gaps,
    and arithmetic on the max number would sweep the previous committed
    generation right through such a gap. Unreferenced debris and
    orphaned (race-losing) markers in the swept range are removed too.

    ``min_age_seconds`` is the TIME-based guard commit-count retention
    alone lacks: a chain generation is swept only if its SUCCESSOR
    committed at least this long ago (a reader can have resolved G at
    any moment before G+1's marker appeared, so the successor's age
    bounds how stale the oldest legitimate G-reader can be). Under
    rapid commit sequences — per-micro-batch merges — count-based
    retention alone gives a grace window of one micro-batch; pass a
    min age at least as long as the slowest expected scan. Clock
    caveat: marker mtimes come from the filesystem's clock and ``now``
    from this process — keep margins generous, not millisecond-exact.

    REFERENCE-AWARE: a retained chain generation's ``_refs`` manifest
    (see ``read_generation_refs``) may point at partition dirs held
    PHYSICALLY by older generations — incremental compaction carries
    untouched partitions forward by reference instead of rewriting
    them. Such holder generations are PINNED: their data dirs survive
    the sweep (their markers still go — they are storage, not readable
    history), and within a pinned dir every ``key=value`` entry no
    retained manifest references is pruned, so storage stays bounded
    by the LIVE partition set, not by generation count. A pinned dir
    is released (fully swept) the cycle after its last referencing
    generation leaves retention.

    Returns the number of data dirs deleted."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    base = root.rstrip("/")
    fs, commits_p = _hadoop_path(spark, f"{base}/{COMMITS_DIR}")
    if not fs.exists(commits_p):
        return 0
    chain = _commit_chain(_marker_entries(fs, commits_p))
    if not chain:
        return 0
    cutoff = chain[-keep:][0][0]  # delete anything numbered below this
    if min_age_seconds > 0:
        now_ms = time.time() * 1000.0
        for i, (gen, _) in enumerate(chain):
            if gen >= cutoff:
                break
            succ_mtime = chain[i + 1][1]
            if now_ms - succ_mtime < min_age_seconds * 1000.0:
                cutoff = gen  # this link and everything above survive
                break
    # The new chain root's marker references a base about to be swept;
    # re-anchor it FIRST as a bare (legacy-format) marker — an atomic
    # create — so the chain keeps its bootstrap at every instant: a
    # reader listing mid-vacuum sees either (based root + live prefix)
    # or (bare root), both of which resolve the same head. Only then is
    # the swept prefix (and the root's old based marker) deleted.
    root_based = None
    if any(g < cutoff for g, _ in chain):
        root_based = next(
            (e for e in _marker_entries(fs, commits_p)
             if e[0] == cutoff and e[1] is not None),
            None,
        )
    if root_based is not None:
        _, bare = _hadoop_path(spark, f"{base}/{COMMITS_DIR}/{cutoff:08d}")
        fs.createNewFile(bare)  # False = already converted; fine
        _, based_marker = _hadoop_path(
            spark,
            f"{base}/{COMMITS_DIR}/{cutoff:08d}.{root_based[1]:08d}",
        )
        fs.delete(based_marker, False)
    # Pin every generation a RETAINED generation's manifest references:
    # those hold live partition data addressed by path (not by marker).
    pinned: dict[int, set[str]] = {}
    for gen, _ in chain:
        if gen >= cutoff:
            for name, holder in read_generation_refs(spark, base, gen).items():
                pinned.setdefault(int(holder), set()).add(name)
    fs, versions_p = _hadoop_path(spark, f"{base}/{VERSIONS_DIR}")
    removed = 0
    if fs.exists(versions_p):
        for st in fs.listStatus(versions_p):
            name = st.getPath().getName()
            num = name[4:-5] if name.endswith(".lock") else name[4:]
            if name.startswith("gen-") and num.isdigit():
                if int(num) < cutoff:
                    if not name.endswith(".lock") and int(num) in pinned:
                        # pinned: keep only the referenced entries —
                        # superseded partitions are pruned so a pinned
                        # dir's footprint is its live partitions only
                        live = pinned[int(num)]
                        for child in fs.listStatus(st.getPath()):
                            cname = child.getPath().getName()
                            if "=" in cname and cname not in live:
                                fs.delete(child.getPath(), True)
                        continue
                    fs.delete(st.getPath(), True)
                    if not name.endswith(".lock"):
                        removed += 1
    for st in fs.listStatus(commits_p):
        name = st.getPath().getName()
        gen_part = name.partition(".")[0]
        if gen_part.isdigit() and int(gen_part) < cutoff:
            fs.delete(st.getPath(), False)
    return removed


def to_versioned(spark: SparkSession, path: str) -> int:
    """One-time, OFFLINE migration of a plain parquet dir into the
    versioned layout: its files move into generation 1 and the marker
    commits. After this, ``sources.batch.read_parquet`` readers get
    atomic maintenance forever. The migration itself is the last
    non-atomic moment in the table's life — run it without concurrent
    readers (a rename-per-file window exists only here)."""
    base = path.rstrip("/")
    fs, root_p = _hadoop_path(spark, base)
    if not fs.exists(root_p):
        raise FileNotFoundError(f"to_versioned: no table at {path}")
    if is_versioned(spark, base):
        raise ValueError(f"to_versioned: {path} is already versioned")
    data = _gen_dir(base, 1)
    fs, data_p = _hadoop_path(spark, data)
    fs.mkdirs(data_p)
    jvm = spark._jvm
    for st in fs.listStatus(root_p):
        name = st.getPath().getName()
        if name in (VERSIONS_DIR, COMMITS_DIR):
            continue
        dest = jvm.org.apache.hadoop.fs.Path(f"{data}/{name}")
        if not fs.rename(st.getPath(), dest):
            raise IOError(f"to_versioned: could not move {name} into {data}")
    _, commits_p = _hadoop_path(spark, f"{base}/{COMMITS_DIR}")
    fs.mkdirs(commits_p)
    _, marker = _hadoop_path(spark, f"{base}/{COMMITS_DIR}/{1:08d}.{0:08d}")
    if not fs.createNewFile(marker):
        raise IOError(f"to_versioned: commit marker creation failed at {path}")
    return 1


# ---------------------------------------------------------------------------
# The one rewrite protocol: every keyed merge, key delete, compaction and
# OPTIMIZE of an existing table runs through ``rewrite_generation``.

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# the character set Spark/Hive escape in partition directory names
_HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(32)} | {
    chr(127)
}


def _hive_part_dirname(col: str, value) -> str:
    """Directory name hive layout gives a partition value. Covers the
    layouts this repo writes (int and string partition columns; null ->
    the hive default partition). Bool/float partition columns would
    need hive's exact literal formatting — not used here."""
    if value is None:
        return f"{col}={_HIVE_NULL}"
    esc = "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in str(value)
    )
    return f"{col}={esc}"


class Base(NamedTuple):
    """The generation one rewrite attempt derives from, pinned."""

    spark: SparkSession
    root: str
    gen: int | None  # None: no table yet
    manifest: dict[str, int]  # hive entry -> generation holding it
    plain: bool  # the generation holds unpartitioned data files

    def read(self, schema=None) -> DataFrame | None:
        """The one scan of the pinned generation (``_read_generation``);
        None when it holds no rows on disk (no table, or a data-less
        generation)."""
        if self.gen is None or not (self.manifest or self.plain):
            return None
        return _read_generation(
            self.spark, self.root, self.gen, self.manifest, self.plain, schema
        )

    def scope(self, df: DataFrame, col: str, values: list) -> DataFrame:
        """``df`` — this generation's read — cut to the ``col``
        partitions holding ``values``: a partition filter, so the scan
        reads only those partitions' files, whichever generations hold
        them. Null-safe:
        ``isin`` is three-valued, so a None among the values would
        match nothing, and a rewrite replacing the null partition would
        drop the rows it never read. Refuses a generation that is not
        partitioned on ``col``: a partition-scoped rewrite cannot
        change the layout."""
        foreign = [n for n in self.manifest if not n.startswith(f"{col}=")]
        if self.plain or foreign:
            layout = (
                "unpartitioned" if self.plain else f"partitioned as {foreign[:3]}"
            )
            raise ValueError(
                f"partition-scoped rewrite of {self.root} on {col!r}, but "
                f"its generation {self.gen} is {layout} — rewrite the "
                f"whole table to change its layout"
            )
        non_null = [v for v in values if v is not None]
        pred = F.col(col).isin(non_null) if non_null else F.lit(False)
        if len(non_null) < len(values):
            pred = pred | F.col(col).isNull()
        return df.filter(pred)

    def hive_levels(self) -> list[str]:
        """Partition columns of the pinned generation, outermost first
        (``day=3/sym=BP/part-...`` -> ["day", "sym"]), read off one
        holder dir; [] when unpartitioned."""
        if not self.manifest:
            return []
        first = next(iter(self.manifest))
        fs, path = _hadoop_path(
            self.spark, f"{_gen_dir(self.root, self.manifest[first])}/{first}"
        )
        levels = [first.partition("=")[0]]
        while True:
            nxt = next(
                (st.getPath() for st in fs.listStatus(path)
                 if st.isDirectory() and "=" in st.getPath().getName()),
                None,
            )
            if nxt is None:
                return levels
            levels.append(nxt.getName().partition("=")[0])
            path = nxt

    def size_bytes(self) -> int:
        """Bytes on disk of the pinned generation, referenced partitions
        included."""
        fs, gen_p = _hadoop_path(self.spark, _gen_dir(self.root, self.gen))
        total = fs.getContentSummary(gen_p).getLength()
        for name, holder in self.manifest.items():
            if holder != self.gen:
                _, p = _hadoop_path(
                    self.spark, f"{_gen_dir(self.root, holder)}/{name}"
                )
                total += fs.getContentSummary(p).getLength()
        return int(total)


class Rewrite(NamedTuple):
    """What one rewrite attempt commits. ``rows`` replace the whole
    table, or — with ``touched`` — only the ``partition_col``
    partitions holding those values: every other partition carries by
    reference, and a touched partition ``rows`` leaves empty is gone.
    Without ``write`` the rows land as parquet, hive-partitioned on
    ``partition_col`` when given; ``write(rows, data_dir)`` replaces
    that writer. ``watermark`` replaces the carried ``_watermark``.
    ``commit=False`` ends the rewrite without a commit. The rewrite
    returns ``result`` either way."""

    rows: DataFrame | None = None
    touched: list | None = None
    partition_col: str | None = None
    result: Any = None
    write: Callable[[DataFrame, str], None] | None = None
    watermark: int | None = None
    commit: bool = True


def pin_generation(spark: SparkSession, root: str) -> Base:
    """The current generation of ``root`` with its manifest."""
    gen = current_generation(spark, root)
    if gen is None:
        return Base(spark, root, None, {}, False)
    manifest, plain = generation_manifest(spark, root, gen)
    return Base(spark, root, gen, manifest, plain)


def rewrite_generation(
    spark: SparkSession,
    root: str,
    plan: Callable[[Base], Rewrite],
    vacuum_keep: int = 2,
    vacuum_min_age_seconds: float | None = None,
    adopt: bool = True,
) -> Any:
    """Rewrite the table at ``root`` as a new committed generation and
    return the plan's ``result``. Each attempt pins the current
    generation, calls ``plan(base)`` (``base.read()`` is its manifest-
    aware read) and commits the returned ``Rewrite`` with the pinned
    generation as ``expected_base``. A lost race (``CommitRace``)
    reruns the plan against the new generation, up to
    ``REWRITE_ATTEMPTS`` times in all. After a commit, ``vacuum_versions`` runs with ``vacuum_keep``
    and ``vacuum_min_age_seconds`` (default
    ``DEFAULT_MAINTENANCE_MIN_AGE_SECONDS``).

    ``adopt``: a plain parquet dir at ``root`` becomes generation 1 via
    ``to_versioned`` first (``_adopt_plain``). Batch-dir roots pass
    False — their plain ``batch=<id>`` dirs are the hot path, not a
    table to adopt."""
    if adopt and current_generation(spark, root) is None:
        _adopt_plain(spark, root)
    if vacuum_min_age_seconds is None:
        vacuum_min_age_seconds = DEFAULT_MAINTENANCE_MIN_AGE_SECONDS
    for attempt in range(REWRITE_ATTEMPTS):
        base = pin_generation(spark, root)
        rw = plan(base)
        if not rw.commit:
            return rw.result
        try:
            commit_generation(
                spark,
                root,
                lambda data_dir: _write_rewrite(spark, base, rw, data_dir),
                expected_base=base.gen or 0,
            )
        except CommitRace:
            if attempt == REWRITE_ATTEMPTS - 1:
                raise
            continue
        vacuum_versions(
            spark, root, keep=vacuum_keep, min_age_seconds=vacuum_min_age_seconds
        )
        return rw.result


def _write_rewrite(
    spark: SparkSession, base: Base, rw: Rewrite, data_dir: str
) -> None:
    fs, data_p = _hadoop_path(spark, data_dir)
    if rw.rows is None:
        fs.mkdirs(data_p)
    elif rw.write is not None:
        rw.write(rw.rows, data_dir)
    else:
        writer = rw.rows.write.mode("overwrite")
        if rw.partition_col is not None:
            writer = writer.partitionBy(rw.partition_col)
        writer.parquet(data_dir)
    if rw.touched is not None:
        replaced = {_hive_part_dirname(rw.partition_col, v) for v in rw.touched}
        replaced.update(
            st.getPath().getName()
            for st in fs.listStatus(data_p)
            if st.isDirectory()
        )
        refs = {n: g for n, g in base.manifest.items() if n not in replaced}
        if refs:
            write_generation_refs(spark, data_dir, refs)
    if rw.watermark is not None:
        watermark = str(int(rw.watermark))
    elif base.gen is not None:
        watermark = _read_small_file(
            spark, f"{_gen_dir(base.root, base.gen)}/{WATERMARK_FILE}"
        )
    else:
        watermark = None
    if watermark is not None:
        _write_small_file(spark, f"{data_dir}/{WATERMARK_FILE}", watermark)


def _adopt_plain(spark: SparkSession, root: str) -> None:
    """Adopt a plain parquet dir as generation 1 before its first
    rewrite. Refuses when an older writer's crashed rename swap left
    the table's only copy in a sibling dir: that data is not in the
    table, and adopting without it would drop it silently. Probes the
    plain table's schema first, so an unreadable dir raises before a
    file moves. Adoption renames the plain dir's entries, so it is not
    safe against a concurrent reader or writer of that dir; it happens
    once per table."""
    fs, root_p = _hadoop_path(spark, root)
    for suffix in ("__merge_old", "__compact_old"):
        stranded = root.rstrip("/") + suffix
        if fs.exists(_hadoop_path(spark, stranded)[1]):
            raise IOError(
                f"{stranded} holds data that a crashed rename swap moved "
                f"out of {root}; move its contents back into {root} (or "
                f"delete it, if the rows are not wanted) and rerun"
            )
    if fs.exists(root_p):
        spark.read.parquet(glob_escape(root))
        to_versioned(spark, root)
