"""Streaming validation tests: watermarked outer join, stateful classifier,
exactly-once sink, checkpoint resume, windows, listener metrics.

These are the correctness gates for SURVEY.md §7.1 milestones 4-9. Each test
runs a real Structured Streaming query (availableNow trigger) over parquet
file-streams — the sandbox stand-in for Iceberg incremental scans — with a
far-future sentinel row advancing the watermark so all state flushes
deterministically (see jobs/validate_transcripts.py docstring).
"""

from __future__ import annotations

import os
from collections import Counter

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.datagen.transcripts import gen_transcript_pair
from spanner_data_validator_spark.jobs.validate_transcripts import (
    append_sentinel,
    classify_transcripts,
    run_batch_validation,
    run_streaming_validation,
    sentinel_filter,
)
from spanner_data_validator_spark.session import StateLayout, scoped_conf
from spanner_data_validator_spark.sources.transcript_source import (
    stream_transcripts,
    write_transcripts,
)
from spanner_data_validator_spark.streaming.sink import (
    ExactlyOnceParquetSink,
    TallyForeachBatch,
)
from spanner_data_validator_spark.streaming.validate_stream import (
    session_mismatch_windows,
    windowed_status_counts,
)


def _status_counts(df) -> dict[str, int]:
    return {r["status"]: r["n"] for r in
            df.groupBy("status").agg(F.count("*").alias("n")).collect()}


def _stage_pair(spark, tmp, *, dup_rows=0, n_convs=30, seed=7, sentinel=True, **kw):
    pair = gen_transcript_pair(n_convs, seed=seed, dup_rows=dup_rows,
                               hot_convs=1, hot_size=100, **kw)
    src_dir, tgt_dir = f"{tmp}/src", f"{tmp}/tgt"
    write_transcripts(pair.source, spark, src_dir, n_files=3)
    write_transcripts(pair.target, spark, tgt_dir, n_files=3)
    if sentinel:
        append_sentinel(spark, src_dir, tgt_dir)
    return pair, src_dir, tgt_dir


@pytest.mark.parametrize("engine", ["join", "stateful"])
def test_stream_counts_match_expected_and_batch(spark, tmp_path, engine):
    """Stream (both engines) == planted expected counts == batch plan, with
    planted duplicate keys collapsing to one row per key."""
    pair, src_dir, tgt_dir = _stage_pair(spark, tmp_path, dup_rows=5)
    sink = run_streaming_validation(
        spark, src_dir, tgt_dir, f"{tmp_path}/out", f"{tmp_path}/ckpt",
        watermark="10 minutes", band="2 hours", engine=engine)
    res = sink.read_rows(spark)
    assert _status_counts(res) == pair.expected
    # exactly one emission per key
    assert res.count() == res.select("conv_id", "turn_idx").distinct().count()
    if engine == "join":
        batch = run_batch_validation(spark, src_dir, tgt_dir)
        assert _status_counts(batch) == pair.expected


def test_continuous_trigger_path_commits_batches(spark, tmp_path):
    """The processingTime (non-availableNow) trigger — previously unreachable
    from the CLI — runs, commits batches through the exactly-once sink, and
    stops cleanly."""
    import time

    pair, src_dir, tgt_dir = _stage_pair(spark, tmp_path, dup_rows=0)
    sink = run_streaming_validation(
        spark, src_dir, tgt_dir, f"{tmp_path}/out", f"{tmp_path}/ckpt",
        watermark="10 minutes", band="2 hours", engine="join",
        available_now=False, trigger_interval="1 seconds")
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            res = sink.read_rows(spark)
            if res is not None and res.count() > 0:
                break
            time.sleep(1)
        res = sink.read_rows(spark)
        assert res is not None and res.count() > 0
        # every emitted row carries a valid classification
        assert res.where(~F.col("status").isin(
            "MATCH", "MISMATCH", "SOURCE_ONLY", "TARGET_ONLY")).count() == 0
    finally:
        for q in spark.streams.active:
            q.stop()


def test_late_data_beyond_band_splits_pair(spark, tmp_path):
    """Event-time band semantics: a target row whose ts drifted past the join
    band can no longer pair — the key degrades to SOURCE_ONLY + TARGET_ONLY
    (one emission each), exactly like the batch plan."""
    pair = gen_transcript_pair(20, seed=11, dup_rows=0, hot_convs=0,
                               mismatch_rate=0, source_only_rate=0,
                               target_only_rate=0, late_fraction=0)
    tgt = pair.target.copy()
    drifted = tgt.index[:10]
    tgt.loc[drifted, "ts"] = tgt.loc[drifted, "ts"] + pd.Timedelta(hours=5)

    src_dir, tgt_dir = f"{tmp_path}/src", f"{tmp_path}/tgt"
    write_transcripts(pair.source, spark, src_dir, n_files=2)
    write_transcripts(tgt, spark, tgt_dir, n_files=2)
    append_sentinel(spark, src_dir, tgt_dir)

    sink = run_streaming_validation(
        spark, src_dir, tgt_dir, f"{tmp_path}/out", f"{tmp_path}/ckpt",
        watermark="10 minutes", band="2 hours", engine="join")
    got = _status_counts(sink.read_rows(spark))
    n = pair.expected["MATCH"]
    assert got == {"MATCH": n - 10, "SOURCE_ONLY": 10, "TARGET_ONLY": 10}
    batch = run_batch_validation(spark, src_dir, tgt_dir)
    assert _status_counts(batch) == got


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Stop mid-stream, deliver the rest, resume from checkpoint: the union of
    committed batches equals the one-shot batch result — no dupes, no loss."""
    pair = gen_transcript_pair(30, seed=13, dup_rows=0, hot_convs=1, hot_size=80)
    # target arrives in two drops IN EVENT-TIME ORDER (rows older than the
    # run-1 watermark would be dropped as late data — correct semantics, but
    # not what this test is probing)
    tgt_sorted = pair.target.sort_values("ts", kind="stable").reset_index(drop=True)
    cut = int(len(tgt_sorted) * 0.6)
    src_dir, tgt_dir = f"{tmp_path}/src", f"{tmp_path}/tgt"
    write_transcripts(pair.source, spark, src_dir, n_files=3)
    write_transcripts(tgt_sorted.iloc[:cut], spark, tgt_dir, n_files=2)

    out, ckpt = f"{tmp_path}/out", f"{tmp_path}/ckpt"
    sink = run_streaming_validation(
        spark, src_dir, tgt_dir, out, ckpt,
        watermark="10 minutes", band="2 hours", engine="join")
    committed_first = len(sink.ledger.committed_ids())

    # second drop + sentinel, then RESUME from the same checkpoint
    write_transcripts(tgt_sorted.iloc[cut:], spark, tgt_dir, n_files=2,
                      subdir="drop2")
    append_sentinel(spark, src_dir, tgt_dir)
    sink = run_streaming_validation(
        spark, src_dir, tgt_dir, out, ckpt,
        watermark="10 minutes", band="2 hours", engine="join")

    res = sink.read_rows(spark)
    assert _status_counts(res) == pair.expected
    assert res.count() == res.select("conv_id", "turn_idx").distinct().count()
    committed_total = len(sink.ledger.committed_ids())
    assert committed_total > committed_first  # resume produced new batches


def test_stateful_engine_checkpoint_resume(spark, tmp_path):
    """applyInPandasWithState state survives a stop/resume: deliver the
    target in two drops with a restart between them; totals still match the
    generator's ground truth and each key is emitted exactly once."""
    pair = gen_transcript_pair(20, seed=31, dup_rows=0, hot_convs=1, hot_size=60)
    src_dir, tgt_dir = f"{tmp_path}/src", f"{tmp_path}/tgt"
    tgt_sorted = pair.target.sort_values("ts", kind="stable").reset_index(drop=True)
    cut = len(tgt_sorted) // 2
    write_transcripts(pair.source, spark, src_dir, n_files=2)
    write_transcripts(tgt_sorted.iloc[:cut], spark, tgt_dir, n_files=2)

    out, ckpt = f"{tmp_path}/out", f"{tmp_path}/ckpt"
    run_streaming_validation(spark, src_dir, tgt_dir, out, ckpt,
                             watermark="10 minutes", band="2 hours",
                             engine="stateful")
    write_transcripts(tgt_sorted.iloc[cut:], spark, tgt_dir, n_files=2,
                      subdir="drop2")
    append_sentinel(spark, src_dir, tgt_dir)
    sink = run_streaming_validation(spark, src_dir, tgt_dir, out, ckpt,
                                    watermark="10 minutes", band="2 hours",
                                    engine="stateful")
    res = sink.read_rows(spark)
    assert _status_counts(res) == pair.expected
    assert res.count() == res.select("conv_id", "turn_idx").distinct().count()


def test_empty_streams_commit_cleanly(spark, tmp_path):
    """Zero-row inputs (only the sentinel) drain without error; the sink
    commits empty batches and report() stays None."""
    src_dir, tgt_dir = f"{tmp_path}/src", f"{tmp_path}/tgt"
    os.makedirs(src_dir), os.makedirs(tgt_dir)
    append_sentinel(spark, src_dir, tgt_dir)
    sink = run_streaming_validation(
        spark, src_dir, tgt_dir, f"{tmp_path}/out", f"{tmp_path}/ckpt",
        watermark="10 minutes", band="2 hours")
    assert sink.read_rows(spark) is None
    assert sink.report(spark) is None


def test_sink_replay_is_idempotent(spark, tmp_path):
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    df = spark.range(5).select(F.col("id"), F.lit("MATCH").alias("status"))
    sink(df, 0)
    sink(df, 0)  # replayed micro-batch (same batch_id) must be a no-op
    sink(df, 1)
    out = sink.read_committed(spark)
    assert out.count() == 10
    assert sink.is_committed(0) and sink.is_committed(1)


def test_windowed_tallies_match_batch(spark, tmp_path):
    """Per-window tally report over the committed classified rows == batch
    windowed aggregation on the same classified rows."""
    pair, src_dir, tgt_dir = _stage_pair(spark, tmp_path, seed=17)
    sink = run_streaming_validation(
        spark, src_dir, tgt_dir, f"{tmp_path}/out", f"{tmp_path}/ckpt",
        watermark="10 minutes", band="2 hours", window_duration="1 hour")
    report = sink.report(spark)

    batch = run_batch_validation(spark, src_dir, tgt_dir)
    expect = (windowed_status_counts(batch, window_duration="1 hour")
              .groupBy("window_start", "status").agg(F.sum("n").alias("n")))
    got = {(r["window_start"], r["status"]): r["n"] for r in report.collect()}
    want = {(r["window_start"], r["status"]): r["n"] for r in expect.collect()}
    assert got == want
    # the per-status counts each marker records, observed on its batch's
    # write, sum to the report
    marked = Counter()
    for i in sink.ledger.committed_ids():
        marked.update(sink.ledger.meta(i)["status"])
    reported = Counter()
    for (_, status), n in got.items():
        reported[status] += n
    assert marked == reported and marked.total() == sink.read_rows(spark).count()
    # mismatch sink carries exactly the non-MATCH rows
    mm = sink.read_mismatches(spark)
    assert mm.count() == sum(v for k, v in pair.expected.items() if k != "MATCH")


def test_streaming_tumbling_window_agg_matches_batch(spark, tmp_path):
    """A REAL streaming tumbling-window aggregation (watermark + append mode)
    over one transcript stream equals the batch expression on the same data —
    the sentinel row advances the watermark so every window closes."""
    from spanner_data_validator_spark.sources.transcript_source import (
        read_transcripts,
        stream_transcripts,
    )

    pair, src_dir, _ = _stage_pair(spark, tmp_path, dup_rows=0)
    stream = stream_transcripts(spark, src_dir, watermark="10 minutes")
    agg = (stream.groupBy(F.window("ts", "1 hour").alias("w"), "role")
                 .agg(F.count("*").alias("n"))
                 .select(F.col("w.start").alias("window_start"), "role", "n"))
    sink = ExactlyOnceParquetSink(str(tmp_path / "winsink"))
    q = (agg.writeStream.outputMode("append")
            .option("checkpointLocation", f"{tmp_path}/winckpt")
            .foreachBatch(sink).trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["window_start"], r["role"]): r["n"]
           for r in sink.read_committed(spark).collect()}

    batch = (read_transcripts(spark, src_dir)
             .where(sentinel_filter())
             .groupBy(F.window("ts", "1 hour").alias("w"), "role")
             .agg(F.count("*").alias("n"))
             .select(F.col("w.start").alias("window_start"), "role", "n"))
    want = {(r["window_start"], r["role"]): r["n"] for r in batch.collect()}
    # the sentinel's own window stays open (watermark never passes it) — every
    # REAL window must be emitted exactly once with the exact count
    assert {k: v for k, v in got.items() if k in want} == want
    extras = set(got) - set(want)
    assert all("2100" in str(k[0]) for k in extras), extras  # sentinel only


def test_streaming_session_window_agg_matches_batch(spark, tmp_path):
    """Native streaming session_window aggregation (gap 30 min) per
    conversation equals the batch session expression on the same stream."""
    from spanner_data_validator_spark.sources.transcript_source import (
        read_transcripts,
        stream_transcripts,
    )

    pair, src_dir, _ = _stage_pair(spark, tmp_path, dup_rows=0)
    stream = stream_transcripts(spark, src_dir, watermark="10 minutes")
    agg = (stream.groupBy("conv_id", F.session_window("ts", "30 minutes").alias("w"))
                 .agg(F.count("*").alias("n"))
                 .select("conv_id", F.col("w.start").alias("session_start"), "n"))
    sink = ExactlyOnceParquetSink(str(tmp_path / "sesssink"))
    q = (agg.writeStream.outputMode("append")
            .option("checkpointLocation", f"{tmp_path}/sessckpt")
            .foreachBatch(sink).trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["conv_id"], r["session_start"]): r["n"]
           for r in sink.read_committed(spark).collect()}

    batch = (read_transcripts(spark, src_dir)
             .groupBy("conv_id", F.session_window("ts", "30 minutes").alias("w"))
             .agg(F.count("*").alias("n"))
             .select("conv_id", F.col("w.start").alias("session_start"), "n"))
    want = {(r["conv_id"], r["session_start"]): r["n"]
            for r in batch.collect()
            if r["conv_id"] != "__sentinel__"}
    real_got = {k: v for k, v in got.items() if k[0] != "__sentinel__"}
    assert real_got == want


def test_session_windows_split_on_gap(spark):
    """session_mismatch_windows groups diverged turns into gap-delimited
    bursts; a conversation with two bursts 2h apart yields two sessions."""
    rows = []
    for i, ts in enumerate(["2025-01-01 00:00:00", "2025-01-01 00:05:00",
                            "2025-01-01 02:30:00", "2025-01-01 02:31:00"]):
        rows.append(("c1", i, "MISMATCH", 1, 2, None, None, datetime.fromisoformat(ts)))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, status string, src_fp long, "
              "tgt_fp long, src_ts timestamp, tgt_ts timestamp, ts timestamp")
    out = session_mismatch_windows(df, gap="30 minutes").collect()
    assert len(out) == 2
    assert sorted(r["n_diverged"] for r in out) == [2, 2]


def test_listener_collects_progress_and_lineage(spark, tmp_path):
    from spanner_data_validator_spark.streaming.listener import (
        ValidationMetricsListener,
    )

    listener = ValidationMetricsListener()
    spark.streams.addListener(listener)
    try:
        pair, src_dir, tgt_dir = _stage_pair(spark, tmp_path, seed=19, n_convs=10)
        run_streaming_validation(
            spark, src_dir, tgt_dir, f"{tmp_path}/out", f"{tmp_path}/ckpt",
            watermark="10 minutes", band="2 hours")
        # listener events are async; progress should have landed by query end
        import time
        for _ in range(50):
            if listener.snapshots and listener.total_input_rows() > 0:
                break
            time.sleep(0.2)
        assert listener.total_input_rows() > 0
        assert any(s["sources"] for s in listener.snapshots)
        lineage = str(tmp_path / "lineage.jsonl")
        listener.dump(lineage)
        assert os.path.getsize(lineage) > 0
    finally:
        spark.streams.removeListener(listener)


def test_native_streaming_tumbling_window(spark, tmp_path):
    """A single watermarked stream through a tumbling-window aggregation in
    append mode — the native streaming window operator (no foreachBatch),
    compared against the identical batch aggregation."""
    from spanner_data_validator_spark.sources.transcript_source import (
        read_transcripts,
        stream_transcripts,
    )

    pair = gen_transcript_pair(20, seed=29, dup_rows=0)
    d = str(tmp_path / "src")
    write_transcripts(pair.source, spark, d, n_files=2)
    append_sentinel(spark, d)

    stream = stream_transcripts(spark, d, watermark="10 minutes")
    agg = (stream.groupBy(F.window("ts", "1 hour").alias("w"), "role")
           .agg(F.count("*").alias("n"))
           .select(F.col("w.start").alias("ws"), "role", "n"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (agg.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .format("parquet").option("path", out)
         .trigger(availableNow=True).start())
    q.awaitTermination(240)

    got = {(r["ws"], r["role"]): r["n"] for r in spark.read.parquet(out).collect()
           if not str(r["ws"]).startswith("2100")}
    batch = (read_transcripts(spark, d).where(sentinel_filter())
             .groupBy(F.window("ts", "1 hour").alias("w"), "role")
             .agg(F.count("*").alias("n"))
             .select(F.col("w.start").alias("ws"), "role", "n"))
    want = {(r["ws"], r["role"]): r["n"] for r in batch.collect()}
    assert got == want and len(got) > 5


def test_native_streaming_session_window(spark, tmp_path):
    """session_window over a watermarked stream (native stateful operator)."""
    from spanner_data_validator_spark.sources.transcript_source import (
        read_transcripts,
        stream_transcripts,
    )

    pair = gen_transcript_pair(12, seed=31, dup_rows=0)
    d = str(tmp_path / "src")
    write_transcripts(pair.source, spark, d, n_files=2)
    append_sentinel(spark, d)

    stream = stream_transcripts(spark, d, watermark="10 minutes")
    agg = (stream.groupBy("conv_id", F.session_window("ts", "30 minutes").alias("w"))
           .agg(F.count("*").alias("n"))
           .select("conv_id", F.col("w.start").alias("ws"), "n"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (agg.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .format("parquet").option("path", out)
         .trigger(availableNow=True).start())
    q.awaitTermination(240)

    got = {(r["conv_id"], r["ws"]): r["n"]
           for r in spark.read.parquet(out).collect()
           if r["conv_id"] != "__sentinel__"}
    batch = (read_transcripts(spark, d).where(sentinel_filter())
             .groupBy("conv_id", F.session_window("ts", "30 minutes").alias("w"))
             .agg(F.count("*").alias("n"))
             .select("conv_id", F.col("w.start").alias("ws"), "n"))
    want = {(r["conv_id"], r["ws"]): r["n"] for r in batch.collect()}
    assert got == want
    # generator plants >1h gaps inside conversations → multiple sessions exist
    assert len({k[0] for k in got}) < len(got)


def test_native_streaming_sliding_window(spark, tmp_path):
    """Sliding windows (2h window, 1h slide) over a single watermarked stream
    in append mode — every row lands in exactly two windows; counts equal the
    identical batch aggregation (VERDICT r2 item 9: tumbling and session had
    native-streaming tests, sliding only a batch/foreachBatch path)."""
    from spanner_data_validator_spark.sources.transcript_source import (
        read_transcripts,
        stream_transcripts,
    )

    pair = gen_transcript_pair(20, seed=37, dup_rows=0)
    d = str(tmp_path / "src")
    write_transcripts(pair.source, spark, d, n_files=2)
    append_sentinel(spark, d)

    stream = stream_transcripts(spark, d, watermark="10 minutes")
    agg = (stream.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "role")
           .agg(F.count("*").alias("n"))
           .select(F.col("w.start").alias("ws"), "role", "n"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (agg.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .format("parquet").option("path", out)
         .trigger(availableNow=True).start())
    q.awaitTermination(240)

    got = {(r["ws"], r["role"]): r["n"] for r in spark.read.parquet(out).collect()
           if not str(r["ws"]).startswith("2100")}
    batch = (read_transcripts(spark, d).where(sentinel_filter())
             .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "role")
             .agg(F.count("*").alias("n"))
             .select(F.col("w.start").alias("ws"), "role", "n"))
    want = {(r["ws"], r["role"]): r["n"] for r in batch.collect()}
    assert got == want and len(got) > 5
    # sliding invariant: total windowed mass is exactly 2x the row count
    n_rows = read_transcripts(spark, d).where(sentinel_filter()).count()
    assert sum(got.values()) == 2 * n_rows


def test_skewed_conversation_state_distribution(spark, tmp_path):
    """SURVEY §7.3 risk: one conversation holding ~half of all turns must NOT
    concentrate join state — the state key is the fine-grained
    (conv_id, turn_idx), so the hot conversation spreads across partitions.
    Proven against the REAL state store (Spark state data source over the
    run's checkpoint), not a simulated hash: max/mean per-partition state
    rows < 3. The watermark delay exceeds the corpus span so nothing is
    evicted before we read the store."""
    pair = gen_transcript_pair(30, seed=7, hot_convs=1, hot_size=300,
                               dup_rows=0)
    hot_share = pair.source.groupby("conv_id").size().max() / len(pair.source)
    assert hot_share > 0.4  # the skew is real
    src_dir, tgt_dir = str(tmp_path / "src"), str(tmp_path / "tgt")
    write_transcripts(pair.source, spark, src_dir, n_files=3)
    write_transcripts(pair.target, spark, tgt_dir, n_files=3)
    # no sentinel: we want state resident, not flushed. The query runs on a
    # pinned layout: RocksDB, 8 partitions. The state layout rule gives a
    # corpus this small one partition, where no spread can show.
    classified = classify_transcripts(
        stream_transcripts(spark, src_dir, watermark="3650 days"),
        stream_transcripts(spark, tgt_dir, watermark="3650 days"),
        band="2 hours")
    with scoped_conf(spark, StateLayout("rocksdb", 8).conf()):
        q = (classified.writeStream.outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .foreachBatch(TallyForeachBatch(str(tmp_path / "out")))
             .trigger(availableNow=True).start())
    q.awaitTermination(300)
    assert not q.isActive

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for side, expect_rows in (("left", len(pair.source)),
                              ("right", len(pair.target))):
        st = (spark.read.format("statestore").option("joinSide", side)
              .load(str(tmp_path / "ckpt")))
        counts = {r["partition_id"]: r["count"]
                  for r in st.groupBy("partition_id").count().collect()}
        total = sum(counts.values())
        assert total == expect_rows  # nothing evicted, nothing duplicated
        mean = total / n_part
        assert max(counts.values()) / mean < 3, (side, counts)


def test_iceberg_merge_sink_contract(spark, monkeypatch):
    """No Iceberg runtime jar ships in this sandbox, so the production MERGE
    sink is pinned by contract: the statement text (null-safe key equality,
    update+insert-star idempotent upsert) and the source-view registration
    are asserted by intercepting SparkSession.sql (VERDICT r2 item 4)."""
    from spanner_data_validator_spark.streaming.sink import (
        build_merge_sql,
        merge_into_iceberg,
    )

    sql = build_merge_sql("cat.db.report", "src_view",
                          ["conv_id", "turn_idx", "window_start"])
    assert sql.startswith("MERGE INTO cat.db.report t USING src_view s ON ")
    assert "t.conv_id <=> s.conv_id" in sql
    assert "t.turn_idx <=> s.turn_idx" in sql
    assert "t.window_start <=> s.window_start" in sql
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    with pytest.raises(ValueError):
        build_merge_sql("t", "v", [])

    captured = []
    monkeypatch.setattr(type(spark), "sql",
                        lambda self, q, **kw: captured.append(q))
    batch = spark.createDataFrame(
        [("c1", 0, "MATCH")], "conv_id STRING, turn_idx INT, status STRING")
    merge_into_iceberg(batch, "cat.db.report", ["conv_id", "turn_idx"])
    monkeypatch.undo()
    assert len(captured) == 1
    assert "MERGE INTO cat.db.report" in captured[0]
    # the micro-batch was registered under the view the MERGE reads from
    view = captured[0].split(" USING ")[1].split(" ")[0]
    assert spark.table(view).count() == 1


def test_streaming_dedup_within_horizon_and_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics end-to-end: a repeat inside the
    watermark horizon is dropped; once the watermark evicts the key's state,
    the same key is emitted again (bounded-state contract). Three availableNow
    runs over one checkpoint pin the micro-batch order deterministically."""
    from spanner_data_validator_spark.streaming.dedup_stream import (
        streaming_first_seen,
    )

    in_dir = str(tmp_path / "in")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    t0 = datetime(2020, 1, 1, 12, 0, 0)

    def drop(name, rows):
        spark.createDataFrame(rows, "k LONG, ts TIMESTAMP") \
             .coalesce(1).write.parquet(f"{in_dir}/{name}")

    def run_once():
        stream = (spark.readStream
                  .schema("k LONG, ts TIMESTAMP")
                  .option("recursiveFileLookup", "true").parquet(in_dir))
        q = (streaming_first_seen(stream, ["k"], ts_col="ts", delay="1 hour")
             .writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    from datetime import timedelta as td
    drop("f1", [(1, t0), (2, t0)])
    run_once()
    # dup of k=1 10 min later: inside the 1h horizon -> dropped;
    # k=3 at +3h advances the watermark to +2h, evicting k=1's state (+1h)
    drop("f2", [(1, t0 + td(minutes=10)), (3, t0 + td(hours=3))])
    run_once()
    # same key after eviction -> re-emitted (horizon-bounded, not global)
    drop("f3", [(1, t0 + td(hours=3, minutes=10))])
    run_once()

    counts = {r["k"]: r["n"] for r in spark.read.parquet(out_dir)
              .groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 2, 2: 1, 3: 1}


def test_windowed_digest_stream_matches_batch(spark, tmp_path):
    """The streaming digest monitor (ONE stateful agg over both tagged sides)
    emits, per closed (window, range, side), exactly the digest the batch
    expression computes — and the sentinel (non-numeric conv_id, far-future
    window) advances the watermark without ever reaching the append sink."""
    from spanner_data_validator_spark.operators.digest import range_digest
    from spanner_data_validator_spark.sources.transcript_source import (
        read_transcripts,
        stream_transcripts,
    )
    from spanner_data_validator_spark.streaming.digest_stream import (
        dual_windowed_digest,
    )

    pair, src_dir, tgt_dir = _stage_pair(spark, tmp_path, dup_rows=0)
    rid = F.pmod(F.expr("try_cast(regexp_replace(conv_id, '[^0-9]', '') AS BIGINT)"),
                 F.lit(8))
    fp = F.xxhash64(F.concat_ws("|", "role", "text"))

    s = stream_transcripts(spark, src_dir, watermark="10 minutes")
    t = stream_transcripts(spark, tgt_dir, watermark="10 minutes")
    q = (dual_windowed_digest(s, t, rid, fp, window="1 hour")
         .writeStream.format("parquet")
         .option("path", f"{tmp_path}/digests")
         .option("checkpointLocation", f"{tmp_path}/ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    got = spark.read.parquet(f"{tmp_path}/digests")
    assert got.where(F.col("range_id").isNull()).count() == 0  # no sentinel

    def batch_side(path, side):
        df = read_transcripts(spark, path).where(F.col("conv_id") != "__sentinel__")
        win = F.window("ts", "1 hour")
        return (range_digest(
                    df.select(win.alias("w"), rid.alias("rid"), fp.alias("fingerprint")),
                    F.struct(F.col("w.start").alias("ws"), F.col("rid")),
                    F.col("fingerprint"))
                .select(F.col("range_id.ws").alias("window_start"),
                        F.col("range_id.rid").alias("range_id"),
                        F.lit(side).alias("side"),
                        "n_rows", "xor_fp", "sum_lo", "sum_hi"))

    want = batch_side(src_dir, "source").unionByName(batch_side(tgt_dir, "target"))
    got_set = {tuple(r) for r in got.collect()}
    want_set = {tuple(r) for r in want.collect()}
    assert got_set == want_set and len(got_set) > 0


def test_merge_semantics_duckdb_convergence():
    """Iceberg MERGE equivalence (VERDICT r3 item 9): the upsert semantics of
    build_merge_sql — null-safe key match, UPDATE SET * / INSERT * — executed
    against DuckDB via the delete+insert expansion on a replayed batch:
    applying the same micro-batch twice converges to the same table state,
    including a NULL key component (the <=> / IS NOT DISTINCT FROM case)."""
    import duckdb

    from spanner_data_validator_spark.streaming.sink import (
        build_merge_sql,
        merge_as_delete_insert_sql,
    )

    keys = ["conv_id", "turn_idx", "window_start"]
    # the two renderings agree on key semantics: same key set, null-safe
    merge = build_merge_sql("tallies", "batch", keys)
    for k in keys:
        assert f"t.{k} <=> s.{k}" in merge
    stmts = merge_as_delete_insert_sql("tallies", "batch", keys)

    con = duckdb.connect()
    con.sql("CREATE TABLE tallies(conv_id VARCHAR, turn_idx INT, "
            "window_start TIMESTAMP, n BIGINT)")
    con.sql("INSERT INTO tallies VALUES "
            "('a', 1, TIMESTAMP '2024-01-01 00:00:00', 5), "
            "('b', 2, TIMESTAMP '2024-01-01 00:00:00', 7), "
            "(NULL, 3, TIMESTAMP '2024-01-01 01:00:00', 9)")
    # replayed micro-batch: updates keys (a,1), (NULL,3) — the NULL key must
    # match its own row, not insert a duplicate — and inserts (c,4)
    con.sql("CREATE TABLE batch(conv_id VARCHAR, turn_idx INT, "
            "window_start TIMESTAMP, n BIGINT)")
    con.sql("INSERT INTO batch VALUES "
            "('a', 1, TIMESTAMP '2024-01-01 00:00:00', 50), "
            "(NULL, 3, TIMESTAMP '2024-01-01 01:00:00', 90), "
            "('c', 4, TIMESTAMP '2024-01-01 02:00:00', 11)")

    def state():
        return sorted(map(str, con.sql(
            "SELECT * FROM tallies").fetchall()))

    for stmt in stmts:          # first apply
        con.sql(stmt)
    first = state()
    expected = sorted(map(str, [
        ("a", 1, __import__("datetime").datetime(2024, 1, 1, 0, 0), 50),
        ("b", 2, __import__("datetime").datetime(2024, 1, 1, 0, 0), 7),
        (None, 3, __import__("datetime").datetime(2024, 1, 1, 1, 0), 90),
        ("c", 4, __import__("datetime").datetime(2024, 1, 1, 2, 0), 11),
    ]))
    assert first == expected
    for stmt in stmts:          # crash-replay of the SAME batch
        con.sql(stmt)
    assert state() == first     # convergence: replay is a no-op state-wise


def test_watermark_drop_accounting(spark, tmp_path):
    """Late-data drops are observable, not silent — with two measured Spark
    subtleties pinned here: (a) batch N's late-record filter uses the
    watermark PLANNED FOR BATCH N-1 (i.e. derived from batch N-2's data),
    one batch BEHIND the eviction watermark — so a late row for a window
    that closes during its own batch, or that closed only on the previous
    batch's data, is still absorbed; (b) numRowsDroppedByWatermark counts
    rows entering the STATE operator — post-partial-aggregation groups,
    not raw input rows."""
    import time
    from datetime import datetime

    in_dir = str(tmp_path / "in")
    schema = "k int, ts timestamp"

    def write(rows, mode):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode(mode).parquet(in_dir))
        time.sleep(1.1)  # distinct mtimes keep file-batch order stable

    h = lambda hour, minute: datetime(2025, 1, 1, hour, minute)
    # batch 0: hours 0 and 1; max 01:55 -> watermark (after) 01:45
    write([(i, h(0, i)) for i in range(3)]
          + [(i, h(1, 50 + i)) for i in range(4)] + [(99, h(1, 55))], "errorifexists")
    # batch 1: hour 3 -> watermark 02:51; hours 0,1 evicted (emit 3 and 5)
    write([(0, h(3, 0)), (1, h(3, 1))], "append")
    # batch 2: filter watermark is 01:45 (batch 1's plan, from batch 0's
    # data) while the eviction watermark is already 02:51 — so the hour-0
    # late row is dropped (end 01:00 <= 01:45) but the hour-1 late row is
    # ABSORBED (end 02:00 > 01:45) into the window evicted this same batch;
    # 6 rows for the open hour 2 absorb; flush row closes everything
    write([(50, h(0, 0)), (51, h(1, 0))]
          + [(i, h(2, i)) for i in range(6)]
          + [(98, datetime(2100, 1, 1))], "append")

    agg = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(in_dir)
           .withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n")))
    out = str(tmp_path / "out")
    q = (agg.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for p in q.recentProgress for op in p["stateOperators"])
    assert dropped == 1  # one dropped GROUP (hour-0), not raw rows
    got = {r["w"].start.hour: r["n"] for r in
           spark.read.parquet(out).where(
               F.col("w.start") < "2099-01-01").collect()}
    # hour 0 excluded its late row; hour 1 absorbed its late row (filter lag)
    assert got == {0: 3, 1: 6, 2: 6, 3: 2}


def test_merge_semantics_double_apply_converges_duckdb():
    """The sandbox DuckDB (1.0) has no MERGE keyword, so the sink's
    idempotent-upsert SEMANTICS are executed instead of the statement:
    the join keys are parsed back out of build_merge_sql's own ON
    clause (tying the test to the generated statement, not a parallel
    spec) and applied as the canonical MERGE rewrite — UPDATE..FROM on
    null-safe key match, INSERT..anti-join for the rest. Applying the
    same micro-batch twice must be a fixed point (crash-replay safety),
    and a second batch must update matched keys and insert new ones
    (VERDICT r3 item 9)."""
    import duckdb
    import re
    from spanner_data_validator_spark.streaming.sink import build_merge_sql

    sql = build_merge_sql("report", "batch", ["k1", "k2"])
    on = sql.split(" ON ", 1)[1].split(" WHEN ", 1)[0]
    keys = re.findall(r"t\.(\w+) <=> s\.\1", on)
    assert keys == ["k1", "k2"]
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql

    con = duckdb.connect()
    con.sql("CREATE TABLE report (k1 INT, k2 INT, n INT)")

    def apply(batch_rows):
        con.sql("CREATE OR REPLACE TABLE batch (k1 INT, k2 INT, n INT)")
        con.executemany("INSERT INTO batch VALUES (?, ?, ?)", batch_rows)
        match = " AND ".join(
            f"report.{k} IS NOT DISTINCT FROM batch.{k}" for k in keys)
        con.sql(f"UPDATE report SET n = batch.n FROM batch WHERE {match}")
        anti = " AND ".join(
            f"report.{k} IS NOT DISTINCT FROM batch.{k}" for k in keys)
        con.sql(f"INSERT INTO report SELECT * FROM batch WHERE NOT EXISTS "
                f"(SELECT 1 FROM report WHERE {anti})")

    def canon(rows):
        return sorted(map(tuple, rows),
                      key=lambda r: tuple((x is None, x) for x in r))

    def state():
        return canon(con.sql("SELECT * FROM report").fetchall())

    b1 = [(1, 1, 10), (1, None, 11), (2, 2, 20)]  # NULL key: null-safe path
    apply(b1)
    first = state()
    assert first == canon(b1)
    apply(b1)                      # crash-replay of the same batch
    assert state() == first       # fixed point: no dup rows, no change
    apply([(1, 1, 99), (3, 3, 30)])
    assert state() == canon(
        [(1, 1, 99), (1, None, 11), (2, 2, 20), (3, 3, 30)])


def test_dedup_keys_has_one_legal_value():
    """Both engines always keep one row per key; ``dedup_keys`` is kept for
    callers that still pass True and refuses anything else before touching
    Spark."""
    with pytest.raises(ValueError):
        run_streaming_validation(None, "src", "tgt", "out", "ckpt",
                                 dedup_keys=False)


def test_drain_stops_and_raises_past_its_timeout(spark, tmp_path,
                                                 monkeypatch):
    """A registry stream run still going when the drain timeout passes is
    stopped and fails loudly instead of leaving a partial sink to be read."""
    from spanner_data_validator_spark.plans import streaming_queries as sq

    monkeypatch.setattr(sq, "_DRAIN_TIMEOUT_S", 0.01)
    df = spark.range(40).select("id", F.col("id").cast("timestamp").alias("ts"))
    stream = sq._file_stream(spark, df, str(tmp_path), files=4, per_trigger=1)
    with pytest.raises(TimeoutError):
        sq._drain(stream.writeStream.format("noop").queryName("drain_timeout"),
                  str(tmp_path))
    assert "drain_timeout" not in {q.name for q in spark.streams.active}
