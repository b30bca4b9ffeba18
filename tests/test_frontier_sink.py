"""Streaming Pareto-frontier maintenance (streaming/frontier_sink)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.skyline import pareto_frontier
from spanner_data_validator_spark.streaming.frontier_sink import (
    FrontierMaintenanceSink,
)


def _pts(spark, pts):
    return spark.createDataFrame(pts, "x long, y long")


def _frontier(sink):
    return {(r["x"], r["y"], r["n_points"]) for r in sink.latest().collect()}


def test_incremental_merge_equals_batch_skyline(spark, tmp_path):
    waves = [
        [(5, 5), (6, 9), (5, 5)],          # initial frontier {(5,5) x2}
        [(3, 8), (5, 7), (9, 1)],          # (5,7) dominated on arrival
        [(1, 9), (3, 6), (5, 5), (2, 20)], # (3,6) displaces (3,8); +1 dup
    ]
    sink = FrontierMaintenanceSink(spark, str(tmp_path / "f"), "x", "y")
    for i, w in enumerate(waves):
        sink(_pts(spark, w), i)
    all_pts = [p for w in waves for p in w]
    expect = {(r["x"], r["y"], r["n_points"])
              for r in pareto_frontier(_pts(spark, all_pts),
                                       F.col("x"), F.col("y")).collect()}
    assert _frontier(sink) == expect
    # dominated point never returns: (3,8) gone, (3,6) present
    assert (3, 6, 1) in _frontier(sink) and not any(
        p[:2] == (3, 8) for p in _frontier(sink))


def test_replay_of_committed_batch_is_noop(spark, tmp_path):
    sink = FrontierMaintenanceSink(spark, str(tmp_path / "f"), "x", "y")
    sink(_pts(spark, [(2, 2)]), 0)
    before = _frontier(sink)
    sink(_pts(spark, [(2, 2)]), 0)  # engine replays same batch id
    assert _frontier(sink) == before == {(2, 2, 1)}


def test_crash_between_write_and_marker_recomputes_cleanly(spark, tmp_path):
    sink = FrontierMaintenanceSink(spark, str(tmp_path / "f"), "x", "y")
    sink(_pts(spark, [(4, 4), (4, 4)]), 0)
    # simulate a failed attempt of batch 1: data written, marker missing
    target = sink.data_path("frontier", 1)
    _pts(spark, [(9, 9)]).write.mode("overwrite").parquet(target)
    assert not sink.ledger.is_committed(1)
    assert _frontier(sink) == {(4, 4, 2)}  # debris invisible (committed id)
    sink(_pts(spark, [(1, 5)]), 1)  # the replay
    assert _frontier(sink) == {(4, 4, 2), (1, 5, 1)}


def test_empty_batch_carries_frontier_forward(spark, tmp_path):
    sink = FrontierMaintenanceSink(spark, str(tmp_path / "f"), "x", "y")
    sink(_pts(spark, [(7, 7)]), 0)
    sink(_pts(spark, []), 1)
    assert _frontier(sink) == {(7, 7, 1)}


def test_random_waves_incremental_equals_batch(spark, tmp_path):
    import random

    rng = random.Random(20260820)
    for trial in range(2):
        waves = [[(rng.randrange(6), rng.randrange(6))
                  for _ in range(rng.randrange(1, 12))]
                 for _ in range(4)]
        sink = FrontierMaintenanceSink(
            spark, str(tmp_path / f"f{trial}"), "x", "y")
        for i, w in enumerate(waves):
            sink(_pts(spark, w), i)
        all_pts = [p for w in waves for p in w]
        expect = {(r["x"], r["y"], r["n_points"])
                  for r in pareto_frontier(_pts(spark, all_pts),
                                           F.col("x"), F.col("y")).collect()}
        assert _frontier(sink) == expect, (trial, waves)


def test_engine_restart_resumes_version_chain(spark, tmp_path):
    """Stop a real stream mid-corpus, add a wave, restart on the SAME
    checkpoint: the sink folds only the new batch onto the committed
    chain and the final frontier equals the batch skyline of everything."""
    import os

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    w1 = [(5, 5), (3, 8), (9, 1)]
    w2 = [(3, 6), (5, 5), (1, 9)]

    def run_once():
        sink = FrontierMaintenanceSink(spark, str(tmp_path / "f"), "x", "y")
        stream = (spark.readStream.schema("x long, y long")
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return sink

    _pts(spark, w1).coalesce(1).write.mode("append").parquet(in_dir)
    run_once()
    _pts(spark, w2).coalesce(1).write.mode("append").parquet(in_dir)
    sink = run_once()  # restart from checkpoint; batch ids continue

    expect = {(r["x"], r["y"], r["n_points"])
              for r in pareto_frontier(_pts(spark, w1 + w2),
                                       F.col("x"), F.col("y")).collect()}
    assert _frontier(sink) == expect
    # the chain advanced: at least two committed versions exist
    assert len(sink.ledger.committed_ids()) >= 2
