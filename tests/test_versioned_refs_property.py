"""Property-based lifecycle tests for the versioned layer.

Reference manifests (r9): arbitrary sequences of incremental-style generation
commits (each holding a random subset of partitions physically and
carrying the rest by fully-resolved reference) interleaved with
vacuums at arbitrary retention — after every operation, every
partition the CURRENT manifest references must physically exist, and
the manifest must equal the model the compaction semantics predict.

This is the invariant the scripted tests pin on two fixed topologies
(`test_batchdir.py`), generalized: a vacuum that sweeps or prunes one
holder generation still referenced by ANY retained manifest is data
loss, whatever the ref graph looks like.

Filesystem-only: write_fn fakes data files with `touch`, so each
commit/vacuum is milliseconds — no Spark jobs, just the JVM
filesystem API the real machinery uses.

The rewrite protocol, row by row: random sequences of partition-scoped
merges, key deletes (emptying a partition, the null one included),
vacuums and OPTIMIZE on one root, each followed by a read checked
against a Python dict model of the table.
"""

from __future__ import annotations

import os
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pytest

from bda_spark.sources.batch import read_parquet
from bda_spark.sources.layout import optimize_table
from bda_spark.sources.sinks import delete_keys_parquet, idempotent_merge_parquet
from bda_spark.sources.versioned import (
    _gen_dir,
    commit_generation,
    current_generation,
    generation_manifest,
    pin_generation,
    read_generation_refs,
    vacuum_versions,
    write_generation_refs,
)

PARTS = ["day=d0", "day=d1", "day=d2", "day=d3"]

# an op is either a commit (frozenset of physically-held partition
# names, possibly empty = refs-only carry) or a vacuum keep count
ops_strategy = st.lists(
    st.one_of(
        st.frozensets(st.sampled_from(PARTS), max_size=4).map(
            lambda s: ("commit", s)
        ),
        st.integers(min_value=1, max_value=3).map(lambda k: ("vacuum", k)),
    ),
    min_size=1,
    max_size=10,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=ops_strategy)
def test_referenced_partitions_always_exist(spark, ops):
    root = os.path.join(tempfile.mkdtemp(), "t")
    model: dict[str, int] = {}  # name -> physical holder generation

    def check():
        gen = current_generation(spark, root)
        if gen is None:
            return
        manifest, _plain = generation_manifest(spark, root, gen)
        assert manifest == model, (manifest, model)
        for name, holder in manifest.items():
            d = os.path.join(_gen_dir(root, holder), name)
            assert os.path.isdir(d), f"referenced {name}@gen{holder} swept"
            assert os.listdir(d), f"referenced {name}@gen{holder} emptied"

    for kind, arg in ops:
        if kind == "commit":
            physical = sorted(arg)

            def _write(data_dir: str, physical=physical) -> None:
                os.makedirs(data_dir, exist_ok=True)
                for name in physical:
                    d = os.path.join(data_dir, name)
                    os.makedirs(d)
                    with open(os.path.join(d, "part-0.parquet"), "w") as f:
                        f.write("x")
                refs = {
                    n: g for n, g in model.items() if n not in physical
                }
                if refs:
                    write_generation_refs(spark, data_dir, refs)

            gen = commit_generation(spark, root, _write)
            for name in physical:
                model[name] = gen
        else:
            if current_generation(spark, root) is None:
                continue
            vacuum_versions(spark, root, keep=arg, min_age_seconds=0.0)
        check()


# --- the rewrite protocol against a row model --------------------------

KEYS = range(8)


def _part(k: int) -> int | None:
    """A key's partition: a stable function of the key, null for a third."""
    return None if k % 3 == 2 else k % 3


row_ops = st.lists(
    st.one_of(
        st.frozensets(st.sampled_from(KEYS), min_size=1, max_size=4).map(
            lambda ks: ("merge", ks)
        ),
        st.frozensets(st.sampled_from(KEYS), min_size=1, max_size=3).map(
            lambda ks: ("delete", ks)
        ),
        st.sampled_from([0, 1, None]).map(lambda p: ("empty_partition", p)),
        st.integers(min_value=1, max_value=3).map(lambda k: ("vacuum", k)),
        st.just(("optimize", None)),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=row_ops)
def test_rewrites_match_a_row_model(spark, ops):
    root = os.path.join(tempfile.mkdtemp(), "t")
    model: dict[int, tuple[str, int | None]] = {}  # k -> (v, p)

    def delete(keys) -> int:
        ids = spark.createDataFrame([(k,) for k in sorted(keys)], "k long")
        return delete_keys_parquet(
            spark, ids, root, ["k"], partition_col="p",
            vacuum_min_age_seconds=0.0,
        )

    for step, (kind, arg) in enumerate(ops):
        if kind == "merge":
            rows = [(k, f"v{step}", _part(k)) for k in sorted(arg)]
            idempotent_merge_parquet(
                spark,
                spark.createDataFrame(rows, "k long, v string, p int"),
                root, ["k"], partition_col="p", vacuum_min_age_seconds=0.0,
            )
            model.update({k: (v, p) for k, v, p in rows})
        elif kind == "delete":
            assert delete(arg) == len(arg & model.keys())
            for k in arg:
                model.pop(k, None)
        elif kind == "empty_partition":
            doomed = {k for k, (_, p) in model.items() if p == arg}
            assert delete(doomed or {99}) == len(doomed)
            for k in doomed:
                del model[k]
        elif kind == "vacuum":
            vacuum_versions(spark, root, keep=arg, min_age_seconds=0.0)
        elif current_generation(spark, root) is None:
            with pytest.raises(FileNotFoundError):
                optimize_table(spark, root)
        else:
            optimize_table(spark, root)
            assert read_generation_refs(
                spark, root, current_generation(spark, root)
            ) == {}
        if model:
            got = {
                r.k: (r.v, r.p) for r in read_parquet(spark, root).collect()
            }
            assert got == model, (kind, arg)
        elif current_generation(spark, root) is not None:
            assert pin_generation(spark, root).read() is None  # no rows on disk


def test_refs_read_infers_the_schema_once(spark, tmp_path):
    """A generation whose partitions sit in three holder generations
    reads with ONE schema-inference job, not one per holder, and the
    holder holding only the null partition still types the int
    partition column as int."""
    from bda_spark.sources.versioned import generation_manifest

    root = str(tmp_path / "t")
    for p in (None, 0, 1):  # gen1 holds p=null, gen2 p=0, gen3 p=1
        idempotent_merge_parquet(
            spark,
            spark.createDataFrame(
                [({None: 15, 0: 10, 1: 11}[p], "x", p)],
                "k long, v string, p int",
            ),
            root, ["k"], partition_col="p",
        )
    manifest, _plain = generation_manifest(spark, root, 3)
    assert sorted(manifest.values()) == [1, 2, 3]

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    sc.setLocalProperty("spark.jobGroup.id", "refs-read")
    try:
        df = read_parquet(spark, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("refs-read")) == 1
    assert dict(df.dtypes)["p"] == "int"
    assert sorted((r.k, r.p) for r in df.collect()) == [
        (10, 0), (11, 1), (15, None)
    ]
