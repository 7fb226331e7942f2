"""Placement differential: a registered query's result must not depend
on physical placement. Each query runs twice in the shared session, once
as is and once with the runtime confs that move data flipped — one
shuffle partition, AQE off, no size-based broadcast, 1 MB file splits
(the master cannot change inside one JVM). The queries are the
quantizer-backed IVF / SemDeDup family and its ANN neighbours."""

from __future__ import annotations

import pytest

from bda_spark.plans import get_queries
from tests.differential import assert_same_result

FLIPPED = {
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.files.maxPartitionBytes": str(1 << 20),
}

QUERIES = (
    "semantic_dedup_pairs",
    "semantic_dedup_keepers",
    "ivf_topk",
    "embeddings_fuzzy_join",
    "embedding_neardup_auto",
    "pq_adc_topk",
)


@pytest.mark.parametrize("name", QUERIES)
def test_query_result_independent_of_placement(name, spark, sf_dir):
    query = get_queries()[name]
    saved = {k: spark.conf.get(k, None) for k in FLIPPED}

    def flipped():
        for k, v in FLIPPED.items():
            spark.conf.set(k, v)
        return query(spark, sf_dir)

    try:
        assert_same_result(lambda: query(spark, sf_dir), flipped)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
