"""streaming/lag_monitor: batch-grouping invariance, restart recovery,
wave-order contract."""

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.streaming.lag_monitor import LagMonitorSink


def _waved(spark, rows):
    return spark.createDataFrame(rows, "wave long, us long").select(
        "wave", F.timestamp_micros(F.col("us")).alias("ts"))


BASE_US = 1_700_000_000_000_000
# wave 0: frontier to +10s; wave 1: one row 4s BEHIND wave 0's max (needs
# ceil lag 6s vs hw 10s), one ahead; wave 2: 2.5s behind wave 1's frontier
ROWS = [
    (0, BASE_US),
    (0, BASE_US + 10_000_000),
    (1, BASE_US + 4_000_000),      # lag vs 10s hw -> 6s
    (1, BASE_US + 12_000_000),
    (2, BASE_US + 9_500_000),      # lag vs 12s hw -> ceil(2.5) = 3s
    (2, BASE_US + 13_000_000),
]
# (2, 9_500_000): 12_000_000 - 9_500_000 = 2_500_000 -> ceil 3s; the two
# frontier rows and (1, 12_000_000)/(2, 13_000_000) are in order -> 0.
EXPECT = {0: 4, 6: 1, 3: 1}


def _histogram(monitor, spark):
    return {r["lag_s"]: r["n"] for r in monitor.histogram(spark).collect()}


def _feed(monitor, spark, batches):
    for i, waves in enumerate(batches):
        monitor(_waved(spark, [r for r in ROWS if r[0] in waves]), i)


@pytest.mark.parametrize("grouping", [
    [(0,), (1,), (2,)],       # one wave per batch
    [(0, 1), (2,)],           # merged head
    [(0,), (1, 2)],           # merged tail
    [(0, 1, 2)],              # single batch
])
def test_batch_grouping_invariance(spark, tmp_path, grouping):
    monitor = LagMonitorSink(str(tmp_path / f"m{len(grouping)}"))
    _feed(monitor, spark, grouping)
    assert _histogram(monitor, spark) == EXPECT


def test_replay_is_idempotent_and_restart_recovers(spark, tmp_path):
    out = str(tmp_path / "mon")
    m1 = LagMonitorSink(out)
    _feed(m1, spark, [(0,), (1,)])
    # replay batch 1 (engine retry after crash-before-checkpoint)
    m1(_waved(spark, [r for r in ROWS if r[0] == 1]), 1)
    # restart: fresh sink object over the same directory must recover the
    # high-water mark from committed partials before batch 2
    m2 = LagMonitorSink(out)
    m2(_waved(spark, [r for r in ROWS if r[0] == 2]), 2)
    assert _histogram(m2, spark) == EXPECT


def test_wave_order_violation_raises(spark, tmp_path):
    monitor = LagMonitorSink(str(tmp_path / "mon"))
    monitor(_waved(spark, [r for r in ROWS if r[0] == 1]), 0)
    with pytest.raises(ValueError, match="wave order"):
        monitor(_waved(spark, [r for r in ROWS if r[0] == 0]), 1)


def test_wave_split_across_batches_raises(spark, tmp_path):
    """One wave must not span two micro-batches: its second half raises."""
    monitor = LagMonitorSink(str(tmp_path / "mon"))
    monitor(_waved(spark, [ROWS[0]]), 0)
    with pytest.raises(ValueError, match="wave order"):
        monitor(_waved(spark, [ROWS[1]]), 1)


def test_empty_batch_is_committed_noop(spark, tmp_path):
    monitor = LagMonitorSink(str(tmp_path / "mon"))
    monitor(_waved(spark, [r for r in ROWS if r[0] == 0]), 0)
    monitor(_waved(spark, []), 1)
    monitor(_waved(spark, [r for r in ROWS if r[0] in (1, 2)]), 2)
    assert monitor.sink.is_committed(1)
    assert _histogram(monitor, spark) == EXPECT
