"""SparkSession factory tuned for both local testing and cluster scale.

The reference runs `local[2..4]` with defaults and even disables the
vectorized parquet reader (reference: Deliverable_3/load_to_silver_layer.py:25);
we keep vectorized reads on and enable AQE so the same declarative plans
re-optimize at runtime on a real cluster (skew joins, partition coalescing).
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# Defaults sized for the local[32]/128GiB test harness; on a real cluster the
# same knobs are set by the submitter and AQE coalesces shuffle partitions
# to fit the data, so over-provisioning the static number is safe.
_DEFAULT_CONFS: dict[str, str] = {
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # dynamic broadcast conversion. Essential at 100 TB, free locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Static shuffle parallelism; AQE coalesces below this when small.
    # Streaming state stores size from THIS number (AQE never applies
    # to them), so it stays workload-small; batch shuffles instead
    # start from initialPartitionNum below.
    "spark.sql.shuffle.partitions": "32",
    # spark.sql.adaptive.coalescePartitions.initialPartitionNum is
    # deliberately NOT set here. It is the right scale-out lever on a
    # real cluster (AQE can only MERGE shuffle partitions, never split
    # them, so the static 32 eventually becomes a per-partition volume
    # cliff; the submitter should set initialPartitionNum ~2-4x total
    # cores with executor memory sized to match) — but it was built,
    # measured, and REVERTED as a session default in r14:
    # (1) neutral where it was supposed to win — minhash_neardup_pairs
    #     t1000x 106 vs 105 s at the 1000x ladder rung (the apparent
    #     2x win in the first isolated A/B was cold-vs-warm JVM, not
    #     the conf); the rung's costs are linear-per-copy without it;
    # (2) actively harmful in small-heap sessions — past the
    #     200-partition bypass-merge threshold every shuffle write
    #     switches to UnsafeShuffleWriter, whose task memory demand
    #     OOMed the 1g-heap test harness (ShuffleExternalSorter heap
    #     OOM in test_scale_ladder's 10x re-fit).
    # Arrow for any pandas interchange (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast threshold: dims like region/nation/supplier always broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Keep scans sized so a partition fits comfortably in executor memory.
    "spark.sql.files.maxPartitionBytes": "128m",
    # Correct session-local timezone handling for the epoch-millis ticks.
    "spark.sql.session.timeZone": "UTC",
    # Quiet the local UI; tests spin many sessions.
    "spark.ui.enabled": "false",
    # The driver-provided events table carries TIMESTAMP(NANOS) parquet
    # timestamps; read them as long and convert (see sources.batch).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Streaming checkpoint commits (offset/commit logs, state-store deltas)
# on the LOCAL filesystem go through Spark's FileSystem-based manager.
# Spark's default renames through Hadoop FileContext, whose
# getFileLinkStatus forks a ``readlink`` process per call when Hadoop
# has no native IO. One cold pass of the tick app (trainer, predictor,
# and the correlation join's 32 state stores; a 4-core VM) forked 2,256
# ``readlink`` and 905 ``chmod`` from the JVM, 6,750 processes in all;
# with this manager, 0 ``readlink``, 777 ``chmod`` and 1,976 processes.
# The FileSystem manager writes a temp file and renames it, which on a
# POSIX disk is as atomic as FileContext's rename; Hadoop ``.crc``
# files and Spark's checkpoint checksum files are still written. Not
# applied when fs.defaultFS is not local: an HDFS checkpoint keeps
# Spark's default, which relies on FileContext's atomic rename there.
# See local_checkpoint_manager().
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def local_checkpoint_manager(default_fs: str | None, current: str | None) -> str | None:
    """The checkpoint manager class to set on a session whose
    ``fs.defaultFS`` is ``default_fs`` and whose manager key currently
    holds ``current``: the FileSystem-based manager for a local
    filesystem with the key unset, else None (leave the session as it
    is)."""
    if current:
        return None
    scheme = (default_fs or "file:///").split(":", 1)[0].lower()
    return FS_CHECKPOINT_MANAGER if scheme == "file" else None


def local_cores(value: str | None) -> int:
    """Task slots for a local master: ``value`` (``$SPARK_GRAFT_CPUS``)
    when it is a positive integer, else the cores this process may run
    on, so an unset or malformed value never oversubscribes the host."""
    usable = len(os.sched_getaffinity(0))
    try:
        n = int(value)
    except (TypeError, ValueError):
        return usable
    return n if n > 0 else usable


def get_spark(
    app_name: str = "bda_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    master is configured; an unset or non-positive-integer value means
    the usable core count (see ``local_cores``).
    """
    from .functions.blas import blas_env, limit_blas_threads

    # r16: cap BLAS pools (see functions/blas.py). Three surfaces, all
    # needed: the DRIVER process (ctypes, works however late), the
    # LOCAL-mode JVM's python workers (inherit this process env — set
    # before the JVM launches), and CLUSTER executors (executorEnv).
    limit_blas_threads()
    for k, v in blas_env().items():
        os.environ.setdefault(k, v)
    if master is None:
        master = f"local[{local_cores(os.environ.get('SPARK_GRAFT_CPUS'))}]"
    confs = dict(_DEFAULT_CONFS)
    for k, v in blas_env().items():
        confs.setdefault(f"spark.executorEnv.{k}", v)
    if extra_confs:
        confs.update(extra_confs)
    conf = SparkConf().setAppName(app_name).setMaster(master).setAll(list(confs.items()))
    # fs.defaultFS is only known once the JVM has read its Hadoop conf,
    # so the context starts first; the session is created after the
    # choice, which keeps its SQL state lazy (reading spark.conf would
    # build it: +0.5 s on a cold JVM)
    sc = SparkContext.getOrCreate(conf)
    manager = local_checkpoint_manager(
        sc._jsc.hadoopConfiguration().get("fs.defaultFS"),
        confs.get(CHECKPOINT_MANAGER_KEY) or sc.getConf().get(CHECKPOINT_MANAGER_KEY),
    )
    if manager:
        conf.set(CHECKPOINT_MANAGER_KEY, manager)
    return SparkSession.builder.config(conf=conf).getOrCreate()
