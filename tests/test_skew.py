"""AQE skew-join handling, demonstrated live (SURVEY §4): the engine
relies on Spark's default ``spark.sql.adaptive.skewJoin.enabled``
(true, with AQE itself on by default), so a join whose shuffle puts
~95% of the fact rows in one partition must be re-planned at runtime
into a skew join — the hot partition split across tasks — instead of
serializing one reducer.

Thresholds are lowered to make a test-sized table "skewed"; at real
scale the defaults (256 MB partition, 5x median) fire the same path.
The salting twin for non-join skew lives in datamix.pack_sequences_
salted; this pins the ENGINE-side mechanism Spark's defaults enable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    # force a shuffle join: broadcasting the dim would hide the skew
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@pytest.fixture
def skew_confs(spark):
    old = {k: spark.conf.get(k) for k in SKEW_CONFS}
    for k, v in SKEW_CONFS.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        spark.conf.set(k, v)


def test_aqe_splits_the_hot_partition(spark, skew_confs):
    fact = spark.range(0, 200_000).select(
        F.when(F.col("id") % 20 != 0, F.lit(0))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 50_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dval")
    )
    j = fact.join(dim, "k")
    # collect() (not count()) so THIS DataFrame's plan is the one AQE
    # finalizes — count() spawns its own aggregate QueryExecution
    rows = len(j.collect())
    # 190,001 fact rows carry k=0 (id%20!=0, plus id=0) and match dim
    # key 0 once; the 9,999 others (k=id, multiples of 20) match iff
    # k < 50,000 -> 2,499 more
    assert rows == 192_500
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan
