"""Atomic multi-table exactly-once sinks: both-or-neither under a crash
between the per-table writes (VERDICT r4 #5).

Separate per-table fences (e.g. two JdbcExactlyOnceSinks) expose a crash
window where one table's batch is published and the other's is not; these
tests prove the one-marker sinks (TallyForeachBatch,
AtomicMultiParquetSink, JdbcAtomicMultiSink) publish nothing at all until
the single commit point, and that the replay then publishes everything.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.comparator import MATCH
from spanner_data_validator_spark.streaming.jdbc_sink import (
    JdbcAtomicMultiSink)
from spanner_data_validator_spark.streaming.sink import (
    AtomicMultiParquetSink, ExactlyOnceParquetSink, TallyForeachBatch)
from spanner_data_validator_spark.streaming.validate_stream import (
    windowed_status_counts)


def _batch(spark):
    return spark.createDataFrame(
        [(1, 101, "MATCH", "2024-01-01 10:00:00"),
         (1, 102, "MISMATCH", "2024-01-01 10:10:00"),
         (2, 201, "SOURCE_ONLY", "2024-01-01 11:00:00")],
        "conv_id long, turn_idx long, status string, ts_s string",
    ).select("conv_id", "turn_idx", "status",
             F.col("ts_s").cast("timestamp").alias("ts"))


def test_parquet_crash_between_writes_publishes_nothing(spark, tmp_path,
                                                        monkeypatch):
    sink = TallyForeachBatch(str(tmp_path / "out"), window_duration="1 hour")

    def crash(batch_id, meta=None):
        raise RuntimeError("simulated crash before the single commit")

    # crash AFTER the classified rows are staged, BEFORE the marker
    monkeypatch.setattr(sink.ledger, "commit", crash)
    with pytest.raises(RuntimeError):
        sink(_batch(spark), 0)
    # both-or-neither: NO table shows the batch — not even the rows that
    # were fully written to disk
    assert sink.read_rows(spark) is None
    assert sink.read_mismatches(spark) is None
    assert sink.report(spark) is None
    # replay (Structured Streaming re-runs the uncommitted batch id):
    # everything becomes visible together
    monkeypatch.undo()
    sink(_batch(spark), 0)
    assert sink.read_rows(spark).count() == 3
    assert sink.read_mismatches(spark).count() == 2
    rep = {(r.status, r.n) for r in sink.report(spark).collect()}
    assert rep == {("MATCH", 1), ("MISMATCH", 1), ("SOURCE_ONLY", 1)}


def test_parquet_replay_of_committed_batch_is_noop(spark, tmp_path):
    sink = TallyForeachBatch(str(tmp_path / "out2"))
    sink(_batch(spark), 0)
    sink(_batch(spark), 0)  # replay of a committed batch
    assert sink.read_rows(spark).count() == 3
    # empty batch commits all-zero but still fences the id
    sink(_batch(spark).where(F.lit(False)), 1)
    assert sink.is_committed(1)
    assert sink.ledger.meta(1) == {
        "batch_id": 1, "rows": {"classified": 0},
        "status": {"MATCH": 0, "MISMATCH": 0, "SOURCE_ONLY": 0,
                   "TARGET_ONLY": 0},
        "schema": _batch(spark).schema.toDDL()}
    assert sink.read_rows(spark).count() == 3


def test_multi_parquet_marker_gates_every_table(spark, tmp_path):
    ms = AtomicMultiParquetSink(str(tmp_path / "ms"), ["a", "b"])
    da = spark.createDataFrame([(1,)], "x long")
    db = spark.createDataFrame([(2,), (3,)], "x long")
    # stage both without committing: invisible
    ms._write_data(0, {"a": da, "b": db})
    assert ms.read_committed(spark, "a") is None
    assert ms.read_committed(spark, "b") is None
    # the single commit publishes both
    ms.write_batch(0, {"a": da, "b": db})
    assert ms.read_committed(spark, "a").count() == 1
    assert ms.read_committed(spark, "b").count() == 2
    with pytest.raises(ValueError):
        ms.write_batch(1, {"zz": da})


@pytest.mark.parametrize("empty", [False, True], ids=["3rows", "empty"])
@pytest.mark.parametrize("make", [TallyForeachBatch, ExactlyOnceParquetSink],
                         ids=["tally", "exactly_once"])
def test_one_spark_job_per_sink_call(spark, tmp_path, make, empty):
    """A sink call is ONE Spark job: the write counts its own rows (and the
    tally sink its per-status counts) instead of reading them back."""
    df = _batch(spark).where(F.lit(not empty))
    sink = make(str(tmp_path / "out"))
    sc = spark.sparkContext
    group = f"sink-call-{make.__name__}-{empty}"
    sc.setJobGroup(group, "one sink call")
    try:
        sink(df, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert sink.is_committed(0)


def _second_batch(spark):
    return spark.createDataFrame(
        [(3, 301, "MATCH", "2024-01-01 10:20:00"),
         (4, 401, "TARGET_ONLY", "2024-01-01 12:00:00")],
        "conv_id long, turn_idx long, status string, ts_s string",
    ).select("conv_id", "turn_idx", "status",
             F.col("ts_s").cast("timestamp").alias("ts"))


def test_three_table_layout_reads_the_same(spark, tmp_path):
    """A directory written in the older layout (classified, tallies and
    mismatches staged under one marker) reads through TallyForeachBatch
    exactly like one the sink writes today from the same frames."""
    frames = [_batch(spark), _second_batch(spark),
              _batch(spark).where(F.lit(False))]
    old = AtomicMultiParquetSink(str(tmp_path / "old"),
                                 ["classified", "tallies", "mismatches"])
    new = TallyForeachBatch(str(tmp_path / "new"))
    for i, df in enumerate(frames):
        old.write_batch(i, {
            "classified": df,
            "tallies": windowed_status_counts(df).select(
                "window_start", "status", "n"),
            "mismatches": df.where(F.col("status") != MATCH)})
        new(df, i)
    assert old.committed_rows(1) == {
        "classified": 2, "tallies": 2, "mismatches": 1}

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    prior = TallyForeachBatch(str(tmp_path / "old"))
    for read in ("read_rows", "read_mismatches", "report"):
        assert rows(getattr(prior, read)(spark)) \
            == rows(getattr(new, read)(spark)), read
    # both MATCH rows fall in the 10:00 window, one from each batch
    assert rows(new.report(spark).select("status", "n")) == [
        ("MATCH", 2), ("MISMATCH", 1), ("SOURCE_ONLY", 1), ("TARGET_ONLY", 1)]


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


def test_report_reads_with_the_marker_schema(spark, tmp_path):
    """The markers carry the classified schema, so building the report runs
    no schema-inference job, and the status totals over ``report()``
    collected, as the bench reads them, run 3 jobs (4 when the read infers
    the schema first)."""
    sink = TallyForeachBatch(str(tmp_path / "out"))
    sink(_batch(spark), 0)
    sink(_second_batch(spark), 1)
    assert sink.ledger.meta(0)["schema"] == _batch(spark).schema.toDDL()
    assert _jobs(spark, "report-frame", lambda: sink.report(spark)) == 0
    assert _jobs(spark, "report-totals", lambda: (
        sink.report(spark).groupBy("status").agg(F.sum("n")).collect())) == 3


def test_markers_without_schema_read_by_inference(spark, tmp_path):
    """Markers written before the schema was recorded (and a mix of old and
    new markers) read the same rows, by schema inference."""
    import json

    sink = TallyForeachBatch(str(tmp_path / "out"))
    sink(_batch(spark), 0)
    sink(_second_batch(spark), 1)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    want = rows(sink.read_rows(spark)), rows(sink.report(spark))
    for old in (0, 1):  # first a mix, then only older markers
        meta = sink.ledger.meta(old)
        del meta["schema"]
        with open(sink.ledger._marker(old), "w") as f:
            json.dump(meta, f)
        assert (rows(sink.read_rows(spark)), rows(sink.report(spark))) == want
        # building the frame runs the inference job
        assert _jobs(spark, f"infer-{old}", lambda: sink.read_rows(spark)) == 1


@pytest.fixture()
def derby_multi(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/atomicdb;create=true"
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute("CREATE TABLE report "
               "(window_start TIMESTAMP, status VARCHAR(16), n BIGINT, "
               "batch_id BIGINT)")
    st.execute("CREATE TABLE conflicts "
               "(conv_id BIGINT, turn_idx BIGINT, status VARCHAR(16), "
               "batch_id BIGINT)")
    st.close()
    conn.close()
    yield JdbcAtomicMultiSink(url, ["report", "conflicts"])
    from spanner_data_validator_spark.streaming.jdbc_sink import (
        shutdown_embedded_derby)
    shutdown_embedded_derby(spark, url)


def _frames(spark):
    report = spark.createDataFrame(
        [("2024-01-01 10:00:00", "MISMATCH", 1),
         ("2024-01-01 11:00:00", "SOURCE_ONLY", 1)],
        "ws string, status string, n long",
    ).select(F.col("ws").cast("timestamp").alias("window_start"),
             "status", "n")
    conflicts = spark.createDataFrame(
        [(1, 102, "MISMATCH"), (2, 201, "SOURCE_ONLY")],
        "conv_id long, turn_idx long, status string")
    return {"report": report, "conflicts": conflicts}


def test_jdbc_crash_between_writes_publishes_nothing(spark, derby_multi,
                                                     monkeypatch):
    frames = _frames(spark)

    def crash(spark_, batch_id, tables):
        raise RuntimeError("simulated crash after staging, before promote")

    # crash AFTER both staging tables are fully appended, BEFORE the one
    # promote transaction
    monkeypatch.setattr(derby_multi, "_promote", crash)
    with pytest.raises(RuntimeError):
        derby_multi.write_batch(spark, 0, frames)
    assert derby_multi.read_committed(spark, "report").count() == 0
    assert derby_multi.read_committed(spark, "conflicts").count() == 0
    # replay: one commit publishes BOTH tables
    monkeypatch.undo()
    derby_multi.write_batch(spark, 0, frames)
    assert derby_multi.read_committed(spark, "report").count() == 2
    got = derby_multi.read_committed(spark, "conflicts")
    assert sorted((r.conv_id, r.turn_idx, r.status) for r in got.collect()) \
        == [(1, 102, "MISMATCH"), (2, 201, "SOURCE_ONLY")]
    # replay of the committed batch: no-op, no duplicates
    derby_multi.write_batch(spark, 0, frames)
    assert derby_multi.read_committed(spark, "conflicts").count() == 2


def test_jdbc_partial_stage_crash_then_replay(spark, derby_multi,
                                              monkeypatch):
    """Crash with only ONE table staged (mid-_stage): nothing visible,
    replay converges — the staging tables are scratch, the fence is law."""
    frames = _frames(spark)
    orig_stage = derby_multi._stage

    def stage_one_then_crash(spark_, batch_id, fr):
        orig_stage(spark_, batch_id, {"report": fr["report"]})
        raise RuntimeError("simulated crash mid-staging")

    monkeypatch.setattr(derby_multi, "_stage", stage_one_then_crash)
    with pytest.raises(RuntimeError):
        derby_multi.write_batch(spark, 1, frames)
    assert derby_multi.read_committed(spark, "report").count() == 0
    assert derby_multi.read_committed(spark, "conflicts").count() == 0
    monkeypatch.undo()
    derby_multi.write_batch(spark, 1, frames)
    assert derby_multi.read_committed(spark, "report").count() == 2
    assert derby_multi.read_committed(spark, "conflicts").count() == 2
