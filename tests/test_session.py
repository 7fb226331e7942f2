"""The session factory's defaults: every conf it sets differs from
Spark's own default; a local session commits streaming checkpoints
through Spark's FileSystem-based manager unless the caller chose one,
and a non-local defaultFS keeps Spark's default; a local master gets
``$SPARK_GRAFT_CPUS`` task slots, or the usable core count when that is
unset or not a positive integer."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import NumberFormatException

from bda_spark.session import (
    _DEFAULT_CONFS,
    CHECKPOINT_MANAGER_KEY,
    FS_CHECKPOINT_MANAGER,
    get_spark,
    local_checkpoint_manager,
    local_cores,
)

FC_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _resolved_manager(spark, path: str) -> str:
    """The class of the manager Spark's own resolution picks for
    ``path`` under this session's Hadoop conf, looking through the
    checksum wrapper when one is applied."""
    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = pkg.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    cls = manager.getClass()
    if cls.getName().endswith("ChecksumCheckpointFileManager"):
        field = cls.getDeclaredField("underlyingFileMgr")
        field.setAccessible(True)
        cls = field.get(manager).getClass()
    return cls.getName()


def _spark_default(jvm, key: str) -> str | None:
    """Spark's registered default for ``key``: the SQLConf entry for a
    ``spark.sql.*`` key (following fallback entries to the key they
    defer to), the core config entry for ``spark.ui.enabled``. None
    when the default is computed per host (``session.timeZone`` is the
    JVM's zone), so no fixed value can be restated."""
    def scala_object(package, name):
        return getattr(getattr(package, f"{name}$"), "MODULE$")

    if key == "spark.ui.enabled":
        ui = scala_object(jvm.org.apache.spark.internal.config, "UI")
        return ui.UI_ENABLED().defaultValueString()
    sql_conf = scala_object(jvm.org.apache.spark.sql.internal, "SQLConf")
    entry = sql_conf.getConfigEntry(key)
    assert entry is not None, f"{key} is not a registered SQL conf"
    while entry.getClass().getSimpleName() == "FallbackConfigEntry":
        entry = entry.fallback()
    if entry.getClass().getSimpleName() == "ConfigEntryWithDefaultFunction":
        return None
    return entry.defaultValueString()


def _normalized(jvm, value: str) -> str:
    """``value`` as bytes when it parses as a size (``128m`` and
    ``134217728b`` compare equal), else lower-cased."""
    try:
        return str(jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(value))
    except NumberFormatException:  # not a size
        return value.strip().lower()


def test_default_confs_differ_from_spark(spark):
    """A session default that restates Spark's own is a knob with
    nothing to measure: every ``_DEFAULT_CONFS`` value must differ from
    the default Spark registers for its key."""
    jvm = spark._jvm
    restated = {
        key: value
        for key, value in _DEFAULT_CONFS.items()
        if (default := _spark_default(jvm, key)) is not None
        and _normalized(jvm, value) == _normalized(jvm, default)
    }
    assert not restated, f"these session defaults equal Spark's: {restated}"


def test_local_session_resolves_filesystem_manager(spark, tmp_path):
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER
    assert _resolved_manager(spark, str(tmp_path)) == FS_CHECKPOINT_MANAGER


def test_explicit_manager_wins(spark, tmp_path):
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # getOrCreate hands back the running session with these applied
        s = get_spark(
            "bda_spark_tests",
            extra_confs={
                "spark.sql.shuffle.partitions": partitions,
                CHECKPOINT_MANAGER_KEY: FC_CHECKPOINT_MANAGER,
            },
        )
        assert s.conf.get(CHECKPOINT_MANAGER_KEY) == FC_CHECKPOINT_MANAGER
        assert _resolved_manager(s, str(tmp_path)) == FC_CHECKPOINT_MANAGER
    finally:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER)


@pytest.mark.parametrize(
    "default_fs, current, expected",
    [
        ("file:///", None, FS_CHECKPOINT_MANAGER),
        (None, None, FS_CHECKPOINT_MANAGER),
        ("FILE:///", "", FS_CHECKPOINT_MANAGER),
        ("file:///", FC_CHECKPOINT_MANAGER, None),
        ("hdfs://namenode:8020", None, None),
        ("s3a://bucket", None, None),
        ("viewfs://cluster/", None, None),
    ],
)
def test_manager_choice(default_fs, current, expected):
    assert local_checkpoint_manager(default_fs, current) == expected


@pytest.mark.parametrize("value", [None, "abc", "0", "-2", "1.5", ""])
def test_local_cores_falls_back_to_usable_cores(value):
    assert local_cores(value) == len(os.sched_getaffinity(0))


def test_local_cores_takes_a_positive_integer():
    assert local_cores("8") == 8
