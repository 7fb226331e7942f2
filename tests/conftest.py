from __future__ import annotations

import os
import re
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bda_spark.schemas import TESTDATA_TABLES
from bda_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

# Two-tier suite (r17, VERDICT r16 #1): the full suite outgrew the
# driver's pytest budget (~34 min; the driver's r16 run truncated at
# 82% with zero failures). Tests carrying the ``deep`` marker — the
# sf0.1 oracle re-sweep, the scale-ladder rung build, and other
# multi-minute evidence jobs — run only when BDA_DEEP_SUITE=1 or when
# an explicit ``-m`` expression names ``deep`` (``pytest -m deep``). The
# DEFAULT (driver-run) tier keeps every behavioral test and the FULL
# all-100-queries DuckDB oracle sweep at sf0.001, so correctness
# coverage is untouched; the deep tier re-proves the same results at
# 10x scale (its tier sizes and timings are in EVIDENCE.md).


def pytest_collection_modifyitems(config, items):
    if os.environ.get("BDA_DEEP_SUITE") == "1":
        return
    if re.search(r"\bdeep\b", config.option.markexpr or ""):
        return
    skip = pytest.mark.skip(
        reason="deep tier (BDA_DEEP_SUITE=1): multi-minute evidence test"
    )
    for item in items:
        if "deep" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bda_spark_tests", extra_confs={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(SF_SMALL, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con
