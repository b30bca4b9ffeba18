"""Pre-bucketed validation: the join runs with ZERO exchanges.

The 10^12-turn scale claim made concrete: once both sides are stored
bucketed by (conv_id, turn_idx) with equal bucket counts, the validation
plan — one row per key, then the join — contains no ShuffleExchange on
either side — the shuffle was paid once at write time (sources/bucketed.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.datagen.transcripts import gen_transcript_pair
from spanner_data_validator_spark.sources.bucketed import (
    validate_bucketed,
    write_bucketed,
)
from spanner_data_validator_spark.sources.transcript_source import TRANSCRIPT_SCHEMA


@pytest.fixture(scope="module", params=[0, 5], ids=["unique", "dup5"])
def bucketed_pair(spark, request):
    """Both sides bucketed; ``dup5`` plants five exact duplicate keys."""
    dup = request.param
    src_t, tgt_t = f"bkt_src_d{dup}", f"bkt_tgt_d{dup}"
    pair = gen_transcript_pair(60, seed=23, dup_rows=dup, hot_convs=1, hot_size=80)
    src = spark.createDataFrame(pair.source, schema=TRANSCRIPT_SCHEMA)
    tgt = spark.createDataFrame(pair.target, schema=TRANSCRIPT_SCHEMA)
    write_bucketed(src, src_t, buckets=8)
    write_bucketed(tgt, tgt_t, buckets=8)
    yield pair, src_t, tgt_t
    spark.sql(f"DROP TABLE IF EXISTS {src_t}")
    spark.sql(f"DROP TABLE IF EXISTS {tgt_t}")


def test_bucketed_join_has_no_exchange(spark, bucketed_pair):
    _, src_t, tgt_t = bucketed_pair
    classified = validate_bucketed(spark, src_t, tgt_t)
    classified.count()  # run under AQE, then read the final plan
    plan = classified._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan


def test_bucketed_counts_match_expected(spark, bucketed_pair):
    pair, src_t, tgt_t = bucketed_pair
    classified = validate_bucketed(spark, src_t, tgt_t)
    got = {r["status"]: r["n"] for r in
           classified.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert got == pair.expected
