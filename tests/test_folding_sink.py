"""The replaced-state sink (streaming/sink.FoldingParquetSink) behind the
frontier and view maintenance sinks: Spark jobs per call, and state chains
written in the older layout. Direct ``sink(df, id)`` calls, no stream."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.skyline import pareto_frontier
from spanner_data_validator_spark.streaming.frontier_sink import (
    FrontierMaintenanceSink)
from spanner_data_validator_spark.streaming.ivm_sink import ViewMaintenanceSink


def _pts(spark, pts):
    return spark.createDataFrame(pts, "x long, y long")


def _changes(spark, rows):
    return spark.createDataFrame(rows, "k string, v int, op string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _jobs(spark, group, action) -> int:
    """Spark jobs that ``action()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# name -> (make(spark, out), batch 0, batch 1)
SINKS = {
    "frontier": (
        lambda spark, out: FrontierMaintenanceSink(spark, out, "x", "y"),
        lambda spark: _pts(spark, [(5, 5), (6, 9)]),
        lambda spark: _pts(spark, [(3, 8), (5, 7), (9, 1)])),
    "view": (
        lambda spark, out: ViewMaintenanceSink(spark, out, ["k"], "v",
                                               "k string"),
        lambda spark: _changes(spark, [("a", 1, "I"), ("b", 3, "I")]),
        lambda spark: _changes(spark, [("a", 1, "D"), ("c", 9, "I")])),
}


@pytest.mark.parametrize("name", sorted(SINKS))
def test_sink_call_runs_only_the_fold_plan(spark, tmp_path, name):
    """A call runs exactly the jobs of writing ``fold(prev, batch)`` once:
    no emptiness pre-pass, no schema inference of the previous state, no
    read-back count."""
    make, first, second = SINKS[name]
    sink = make(spark, str(tmp_path / name))
    sink(first(spark), 0)
    batch = second(spark)
    plan = sink.fold(sink.latest(), batch)
    group = f"fold-{name}-{tmp_path.name}"
    call = _jobs(spark, f"{group}-call", lambda: sink(batch, 1))
    noop = _jobs(spark, f"{group}-noop",
                 lambda: plan.write.format("noop").mode("overwrite").save())
    assert call == noop
    assert sink.is_committed(1)


def test_empty_state_leaves_no_directory(spark, tmp_path):
    sink = FrontierMaintenanceSink(spark, str(tmp_path / "f"), "x", "y")
    sink(_pts(spark, []), 0)
    assert sink.committed_rows(0) == {"frontier": 0}
    assert not os.path.exists(sink.data_path("frontier", 0))
    assert sink.latest().schema.simpleString() == (
        "struct<x:bigint,y:bigint,n_points:bigint>")
    assert sink.latest().count() == 0
    sink(_pts(spark, [(2, 2)]), 1)
    assert _rows(sink.latest()) == [(2, 2, 1)]


def test_older_layout_chain_reads_and_folds(spark, tmp_path):
    """A chain laid out the older way — a state directory for every
    committed id, markers ``{"batch_id": i}`` without row counts — reads
    back the same, and the next batch folds onto it."""
    waves = [[], [(5, 5), (6, 9), (5, 5)], [(3, 8), (5, 7), (9, 1)]]
    out = str(tmp_path / "f")
    os.makedirs(os.path.join(out, "_commits"))
    seen = []
    for i, wave in enumerate(waves):
        seen += wave
        state = pareto_frontier(_pts(spark, seen), F.col("x"), F.col("y"))
        state.coalesce(1).write.parquet(
            os.path.join(out, "frontier", f"batch={i}"))
        with open(os.path.join(out, "_commits", str(i)), "w") as f:
            json.dump({"batch_id": i}, f)

    sink = FrontierMaintenanceSink(spark, out, "x", "y")
    assert _rows(sink.latest()) == _rows(state)
    nxt = [(1, 9), (3, 6), (5, 5), (2, 20)]
    sink(_pts(spark, nxt), len(waves))
    want = pareto_frontier(_pts(spark, seen + nxt), F.col("x"), F.col("y"))
    assert _rows(sink.latest()) == _rows(want)
