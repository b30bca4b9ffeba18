"""Every ledger-backed sink ignores stray files in its ``_commits/`` dir.

A commit directory on a shared filesystem picks up foreign names: NFS
``.nfs*`` handles of deleted-but-open files, and the ``<id>.tmp`` of a
marker whose publish crashed. Neither is a commit. For each sink: commit
batch 0, plant both, then a fresh sink over the same directory (a restart)
must read exactly what it read before, and replaying batch 0 must be a
no-op. Direct ``sink(df, id)`` calls on tiny frames, no streaming query.
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators import constraints as C
from spanner_data_validator_spark.streaming.constraint_monitor import (
    ConstraintMonitor)
from spanner_data_validator_spark.streaming.frontier_sink import (
    FrontierMaintenanceSink)
from spanner_data_validator_spark.streaming.ivm_sink import ViewMaintenanceSink
from spanner_data_validator_spark.streaming.lag_monitor import LagMonitorSink
from spanner_data_validator_spark.streaming.sink import (
    AtomicMultiParquetSink, CommitLedger, ExactlyOnceParquetSink,
    TallyForeachBatch)


def _classified(spark):
    return spark.createDataFrame(
        [(1, 101, "MATCH", "2024-01-01 10:00:00"),
         (1, 102, "MISMATCH", "2024-01-01 10:10:00")],
        "conv_id long, turn_idx long, status string, ts_s string",
    ).select("conv_id", "turn_idx", "status",
             F.col("ts_s").cast("timestamp").alias("ts"))


def _rows(df):
    return None if df is None else sorted(tuple(r) for r in df.collect())


def _multi_write(sink, spark, batch_id):
    sink.write_batch(batch_id, {"a": spark.range(1), "b": spark.range(2)})


# name -> (make(spark, out), write(sink, spark, batch_id), read(sink, spark),
#          ledger(sink))
SINKS = {
    "exactly_once_parquet": (
        lambda spark, out: ExactlyOnceParquetSink(out),
        lambda s, spark, i: s(spark.range(3), i),
        lambda s, spark: _rows(s.read_committed(spark)),
        lambda s: s.ledger),
    "tally": (
        lambda spark, out: TallyForeachBatch(out),
        lambda s, spark, i: s(_classified(spark), i),
        lambda s, spark: (_rows(s.report(spark)), _rows(s.read_rows(spark)),
                          _rows(s.read_mismatches(spark))),
        lambda s: s.ledger),
    "atomic_multi_parquet": (
        lambda spark, out: AtomicMultiParquetSink(out, ["a", "b"]),
        _multi_write,
        lambda s, spark: (_rows(s.read_committed(spark, "a")),
                          _rows(s.read_committed(spark, "b"))),
        lambda s: s.ledger),
    "frontier": (
        lambda spark, out: FrontierMaintenanceSink(spark, out, "x", "y"),
        lambda s, spark, i: s(spark.createDataFrame(
            [(1, 5), (4, 4), (5, 5)], "x long, y long"), i),
        lambda s, spark: _rows(s.latest()),
        lambda s: s.ledger),
    "view": (
        lambda spark, out: ViewMaintenanceSink(spark, out, ["k"], "v",
                                               "k string"),
        lambda s, spark, i: s(spark.createDataFrame(
            [("a", 1, "I"), ("b", 3, "I")], "k string, v int, op string"), i),
        lambda s, spark: _rows(s.latest()),
        lambda s: s.ledger),
    "lag_monitor": (
        lambda spark, out: LagMonitorSink(out),
        lambda s, spark, i: s(spark.createDataFrame(
            [(0, 10_000_000), (0, 4_000_000)], "wave long, us long").select(
                "wave", F.timestamp_micros("us").alias("ts")), i),
        lambda s, spark: _rows(s.histogram(spark)),
        lambda s: s.sink.ledger),
    "constraint_monitor": (
        lambda spark, out: ConstraintMonitor(out, [C.not_null("v")]),
        lambda s, spark, i: s(spark.createDataFrame([(1,), (None,)], "v long"),
                              i),
        lambda s, spark: _rows(s.totals(spark)),
        lambda s: s.sink.ledger),
}


@pytest.mark.parametrize("name", sorted(SINKS))
def test_stray_commit_files_are_ignored(spark, tmp_path, name):
    make, write, read, ledger = SINKS[name]
    out = str(tmp_path / name)
    sink = make(spark, out)
    write(sink, spark, 0)
    before = read(sink, spark)
    assert before, "batch 0 must publish something"

    commits = ledger(sink).dir
    with open(os.path.join(commits, ".nfs0001"), "wb") as f:
        f.write(b"\x00\x01 not json")
    with open(os.path.join(commits, "7.tmp"), "w") as f:
        f.write('{"batch_id": 7')  # a torn, unpublished marker

    restarted = make(spark, out)
    assert ledger(restarted).committed_ids() == [0]
    assert not ledger(restarted).is_committed(7)
    assert read(restarted, spark) == before
    write(restarted, spark, 0)  # replay of the committed batch id
    assert read(restarted, spark) == before


def test_ledger_meta_and_latest_before(tmp_path):
    ledger = CommitLedger(str(tmp_path / "out"))
    assert ledger.latest_before() is None and ledger.meta(3) is None
    for i in (0, 3, 5):
        ledger.commit(i, {"rows": i})
    assert ledger.meta(3) == {"batch_id": 3, "rows": 3}
    assert ledger.latest_before() == 5
    assert ledger.latest_before(5) == 3
    assert ledger.latest_before(0) is None
    assert not os.path.exists(os.path.join(ledger.dir, "5.tmp"))
