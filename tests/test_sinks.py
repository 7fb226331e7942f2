"""Sink tests (SURVEY §2.1 S4/S6/S7): parquet overwrite and the
idempotent key-merge used by the label-backfill stream, which commits
every rewrite as a versioned generation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from bda_spark.sources.batch import read_parquet
from bda_spark.sources.sinks import (
    idempotent_merge_parquet,
    overwrite_parquet,
)
from bda_spark.sources.versioned import (
    _gen_dir,
    current_generation,
    is_versioned,
    read_generation_refs,
)


def _rows(spark, data):
    return spark.createDataFrame([Row(k=k, v=v) for k, v in data], "k int, v string")


def test_overwrite_replaces_whole_table(spark, tmp_path):
    p = str(tmp_path / "t")
    overwrite_parquet(_rows(spark, [(1, "a"), (2, "b")]), p)
    got = {(r.k, r.v) for r in spark.read.parquet(p).collect()}
    assert got == {(1, "a"), (2, "b")}
    overwrite_parquet(_rows(spark, [(3, "c")]), p, partition_by=["k"])
    assert {(r.k, r.v) for r in spark.read.parquet(p).collect()} == {(3, "c")}


def test_merge_creates_when_missing(spark, tmp_path):
    p = str(tmp_path / "t")
    idempotent_merge_parquet(spark, _rows(spark, [(1, "a")]), p, ["k"])
    assert {(r.k, r.v) for r in read_parquet(spark, p).collect()} == {(1, "a")}


def test_merge_upserts_by_key(spark, tmp_path):
    p = str(tmp_path / "t")
    idempotent_merge_parquet(spark, _rows(spark, [(1, "a"), (2, "b")]), p, ["k"])
    # update key 2, insert key 3; key 1 untouched
    idempotent_merge_parquet(spark, _rows(spark, [(2, "B"), (3, "c")]), p, ["k"])
    got = {(r.k, r.v) for r in read_parquet(spark, p).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # idempotent: replaying the same updates changes nothing
    idempotent_merge_parquet(spark, _rows(spark, [(2, "B"), (3, "c")]), p, ["k"])
    assert {(r.k, r.v) for r in read_parquet(spark, p).collect()} == got


def test_merge_leaves_no_temp_dirs(spark, tmp_path):
    p = str(tmp_path / "t")
    idempotent_merge_parquet(spark, _rows(spark, [(1, "a")]), p, ["k"])
    idempotent_merge_parquet(spark, _rows(spark, [(1, "A")]), p, ["k"])
    assert os.listdir(tmp_path) == ["t"]


def test_merge_unreadable_table_raises_not_destroys(spark, tmp_path):
    """An existing-but-unreadable table must raise, not be silently
    replaced by only the updates (the reference's bare-except hazard)."""
    p = str(tmp_path / "t")
    os.makedirs(p)
    junk = os.path.join(p, "part-00000.parquet")
    with open(junk, "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception):
        idempotent_merge_parquet(spark, _rows(spark, [(1, "a")]), p, ["k"])
    # the junk file is still there — nothing was destroyed
    assert os.path.exists(junk)


def _prows(spark, data):
    return spark.createDataFrame(
        [Row(k=k, v=v, d=d) for k, v, d in data], "k int, v string, d int"
    )


def _partition_bytes(path: str, part: str) -> list[tuple[str, bytes]]:
    pdir = os.path.join(path, part)
    return [
        (f, open(os.path.join(pdir, f), "rb").read())
        for f in sorted(os.listdir(pdir))
        if not f.startswith((".", "_"))
    ]


def test_partitioned_merge_touches_only_updated_partitions(spark, tmp_path):
    """The partition-scoped merge must leave untouched partitions
    byte-identical (no whole-table write amplification) while upserting
    into touched ones and creating new ones: the new generation holds
    the touched partitions and carries the others by reference to the
    generation that wrote them."""
    p = str(tmp_path / "t")
    idempotent_merge_parquet(
        spark, _prows(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3)]),
        p, ["k"], partition_col="d",
    )
    gen1 = _gen_dir(p, 1)
    before_d1 = _partition_bytes(gen1, "d=1")
    assert before_d1  # the layout really is hive-partitioned
    # update k=2 (in d=2), insert k=4 into brand-new d=4; d=1/d=3 untouched
    idempotent_merge_parquet(
        spark, _prows(spark, [(2, "B", 2), (4, "x", 4)]),
        p, ["k"], partition_col="d",
    )
    assert current_generation(spark, p) == 2
    assert read_generation_refs(spark, p, 2) == {"d=1": 1, "d=3": 1}
    assert sorted(
        n for n in os.listdir(_gen_dir(p, 2)) if n.startswith("d=")
    ) == ["d=2", "d=4"]
    assert _partition_bytes(gen1, "d=1") == before_d1
    got = {(r.k, r.v, r.d) for r in read_parquet(spark, p).collect()}
    assert got == {(1, "a", 1), (2, "B", 2), (3, "c", 3), (4, "x", 4)}
    # idempotent: replaying the same updates changes nothing, and the
    # untouched partition is STILL byte-identical
    idempotent_merge_parquet(
        spark, _prows(spark, [(2, "B", 2), (4, "x", 4)]),
        p, ["k"], partition_col="d",
    )
    assert read_generation_refs(spark, p, 3) == {"d=1": 1, "d=3": 1}
    assert _partition_bytes(gen1, "d=1") == before_d1
    assert {(r.k, r.v, r.d) for r in read_parquet(spark, p).collect()} == got
    # no merge temp/aside dirs left behind
    assert os.listdir(tmp_path) == ["t"]


def test_merge_refuses_partition_stranded_in_merge_old(spark, tmp_path):
    """An older writer's rename swap that crashed between
    rename(dest->aside) and rename(tmp->dest) left one partition's only
    copy under __merge_old. The merge must refuse, naming that dir,
    and change nothing — adopting the table without the partition
    would drop its rows silently."""
    import shutil

    p = str(tmp_path / "t")
    _prows(spark, [(1, "a", 1), (2, "b", 2)]).write.partitionBy("d").parquet(p)
    # simulate the mid-swap crash: d=1 moved aside, never replaced
    os.makedirs(p + "__merge_old")
    shutil.move(os.path.join(p, "d=1"), os.path.join(p + "__merge_old", "d=1"))
    with pytest.raises(IOError, match="__merge_old"):
        idempotent_merge_parquet(
            spark, _prows(spark, [(2, "B", 2)]), p, ["k"], partition_col="d",
        )
    assert not is_versioned(spark, p)
    assert sorted(os.listdir(tmp_path)) == ["t", "t__merge_old"]
    got = {(r.k, r.v, r.d) for r in spark.read.parquet(p).collect()}
    assert got == {(2, "b", 2)}


def test_merge_refuses_whole_table_stranded_in_merge_old(spark, tmp_path):
    """Unpartitioned crash window of an older writer: the live dir was
    moved aside and the replacement rename never happened — the table
    LOOKS absent. The merge must refuse instead of treating the table
    as new (which would silently drop every non-updated key)."""
    import shutil

    p = str(tmp_path / "t")
    _rows(spark, [(1, "a"), (2, "b")]).write.parquet(p)
    shutil.move(p, p + "__merge_old")
    with pytest.raises(IOError, match="__merge_old"):
        idempotent_merge_parquet(spark, _rows(spark, [(2, "B")]), p, ["k"])
    assert os.listdir(tmp_path) == ["t__merge_old"]


def test_json_land_and_read_roundtrip(spark, tmp_path):
    """S11 both sides: land articles as JSON-lines, re-read with the
    explicit scraper schema — types and nulls survive."""
    from bda_spark.schemas import NEWS_SCHEMA
    from bda_spark.sources.batch import land_json, read_json_articles

    rows = [
        ("Oil up", "body a", "2024-01-01", ["oil", "energy"], False,
         "wnp.pl", "u1", "1"),
        ("No date", "body b", None, [], True, "beurs.nl", "u2", "2"),
    ]
    df = spark.createDataFrame(rows, NEWS_SCHEMA)
    p = str(tmp_path / "articles")
    land_json(df, p)
    back = read_json_articles(spark, p)
    assert back.schema == NEWS_SCHEMA
    got = {(r.title, r.date, tuple(r.keywords), r.is_premium)
           for r in back.collect()}
    assert got == {("Oil up", "2024-01-01", ("oil", "energy"), False),
                   ("No date", None, (), True)}


def test_partitioned_merge_preserves_null_partition_rows(spark, tmp_path):
    """A null partition value must merge like any other partition:
    isin() with a None in the touched list matches nothing, which used
    to drop every pre-existing null-partition row whose key was absent
    from the updates."""
    from bda_spark.sources.sinks import idempotent_merge_parquet

    path = str(tmp_path / "nullpart")
    base = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", None), (3, "c", None)],
        "k long, v string, p string",
    )
    idempotent_merge_parquet(spark, base, path, keys=["k"], partition_col="p")
    upd = spark.createDataFrame([(2, "B2", None)], "k long, v string, p string")
    idempotent_merge_parquet(spark, upd, path, keys=["k"], partition_col="p")
    got = {r["k"]: (r["v"], r["p"]) for r in read_parquet(spark, path).collect()}
    assert got == {1: ("a", "d1"), 2: ("B2", None), 3: ("c", None)}


def test_partition_scoped_merge_adding_a_column_keeps_it(spark, tmp_path):
    """A partition-scoped merge whose rows carry a new column keeps it
    on read: the merge rewrites the whole table, so the carried
    partitions' files gain the column (NULL) instead of being read
    with a schema that lacks it."""
    path = str(tmp_path / "evolve")
    idempotent_merge_parquet(
        spark,
        spark.createDataFrame([(1, "a", 0), (2, "b", 1)], "k long, v string, p int"),
        path, ["k"], partition_col="p",
    )
    idempotent_merge_parquet(
        spark,
        spark.createDataFrame([(3, "c", 1, 7)], "k long, v string, p int, extra int"),
        path, ["k"], partition_col="p",
    )
    got = read_parquet(spark, path)
    assert "extra" in got.columns
    assert sorted((r.k, r.p, r.extra) for r in got.collect()) == [
        (1, 0, None), (2, 1, None), (3, 1, 7)
    ]


def test_every_merge_births_a_versioned_root(spark, tmp_path):
    """Every merge commits a reader-atomic generation — flat or
    partition-scoped, into a fresh root or a plain dir an older writer
    left (adopted once as generation 1) — so a reader polling between
    per-micro-batch merges never observes a missing table (the window a
    live dashboard's footer read raced in the soak test, hitting
    FileNotFoundException on a moved-aside part file). Later merges
    keep upserting by key, and the versioned-aware reader sees exactly
    the merged table."""
    path = str(tmp_path / "labels")
    a = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    idempotent_merge_parquet(spark, a, path, keys=["k"])
    assert current_generation(spark, path) == 1
    b = spark.createDataFrame([(2, 99.0), (3, 30.0)], "k long, v double")
    idempotent_merge_parquet(
        spark, b, path, keys=["k"], vacuum_min_age_seconds=0.0,
    )
    assert current_generation(spark, path) == 2
    got = {r.k: r.v for r in read_parquet(spark, path).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0}
    assert sorted(os.listdir(path)) == ["_commits", "_versions"]

    parted = str(tmp_path / "parted")
    idempotent_merge_parquet(
        spark, a.withColumn("d", a.k % 2), parted, keys=["k"], partition_col="d",
    )
    assert current_generation(spark, parted) == 1

    plain = str(tmp_path / "plain")
    a.write.parquet(plain)
    idempotent_merge_parquet(spark, b, plain, keys=["k"])
    assert current_generation(spark, plain) == 2  # adopted as 1, merged as 2
    assert sorted(os.listdir(plain)) == ["_commits", "_versions"]
    assert {r.k: r.v for r in read_parquet(spark, plain).collect()} == got
