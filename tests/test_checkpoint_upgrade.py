"""Checkpoint upgrade-compatibility laws (VERDICT r4 #8).

What survives a code upgrade mid-stream, pinned against a real checkpoint:
run 1 drains the initial files with availableNow and NO sentinel, so the
stream-stream join's state store holds every unmatched key at shutdown;
each variant then restarts a MODIFIED query from a copy of that
checkpoint. Accepted changes must recover the held state (the outer rows
emit after restart — proof of recovery, not rebuild); rejected changes
must fail with Spark's state-metadata check, not silently corrupt.

Laws (also documented in README "Checkpoint upgrade compatibility"):
  A. adding a downstream STATELESS projection — ACCEPTED
  B. adding STATEFUL operators (the per-side dedup before the join) —
     REJECTED (operator-id/state-metadata mismatch at restart)
  C. changing spark.sql.shuffle.partitions — ACCEPTED and IGNORED for
     state: the operator keeps its checkpoint-pinned partition count
  D. changing the watermark delay and the trigger — ACCEPTED
  E. restarting where the state layout rule picks another provider and
     partition count — ACCEPTED, and the checkpoint's own layout is kept
  F. restarting under another checkpoint file manager (Spark's default
     FileContext one ⇄ the FileSystem-API one the validation stream picks
     for a local checkpoint) — ACCEPTED
"""
from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.datagen.transcripts import (
    TRANSCRIPT_SCHEMA,
    gen_transcript_pair,
)
from spanner_data_validator_spark.jobs.validate_transcripts import (
    append_sentinel,
    classify_transcripts,
    run_streaming_validation,
    sentinel_filter,
)
from spanner_data_validator_spark.session import (
    CHECKPOINT_MANAGER_CONF,
    PARTITIONS_CONF,
    StateLayout,
    scoped_conf,
    state_layout,
)
from spanner_data_validator_spark.sources.transcript_source import (
    parquet_rows,
    stream_transcripts,
    write_transcripts,
)
from spanner_data_validator_spark.streaming.sink import ExactlyOnceParquetSink
from spanner_data_validator_spark.streaming.validate_stream import (
    classify_stream,
    fingerprint_stream,
)


def _classified(spark, src_dir, tgt_dir, *, watermark="10 minutes"):
    src = fingerprint_stream(
        stream_transcripts(spark, src_dir, watermark=watermark))
    tgt = fingerprint_stream(
        stream_transcripts(spark, tgt_dir, watermark=watermark))
    return classify_stream(src, tgt, band="2 hours").where(sentinel_filter())


def _run(spark, out, ckpt, df):
    sink = ExactlyOnceParquetSink(out)
    q = (df.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .foreachBatch(sink).trigger(availableNow=True).start())
    q.awaitTermination(300)
    assert not q.isActive
    return sink


@pytest.fixture(scope="module")
def upgrade_env(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("ckpt_upgrade")
    pair = gen_transcript_pair(n_convs=40, seed=13, hot_convs=0, dup_rows=0,
                               late_fraction=0.0, mismatch_rate=0.05,
                               source_only_rate=0.05, target_only_rate=0.05)
    src_dir, tgt_dir = str(tmp / "src"), str(tmp / "tgt")
    write_transcripts(pair.source, spark, src_dir, n_files=2)
    write_transcripts(pair.target, spark, tgt_dir, n_files=2)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        sink1 = _run(spark, str(tmp / "out1"), str(tmp / "ckpt"),
                     _classified(spark, src_dir, tgt_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # run 1 emitted matches eagerly, and its final no-data batch advanced
    # the watermark to max(ts) - delay (the availableNow law, CLAUDE.md),
    # so MOST outer rows emitted too — but the keys inside the last
    # watermark+band window are still HELD in state, which is what each
    # restart must recover
    run1 = {r["status"]: r["n"] for r in
            sink1.read_committed(spark).groupBy("status")
            .agg(F.count("*").alias("n")).collect()}
    assert run1.get("SOURCE_ONLY", 0) < pair.expected["SOURCE_ONLY"]
    # checkpoint copies BEFORE any restart mutates them
    for v in ("a", "b", "c", "d"):
        shutil.copytree(str(tmp / "ckpt"), str(tmp / f"ckpt_{v}"))
    append_sentinel(spark, src_dir, tgt_dir)
    return {"tmp": tmp, "pair": pair, "src": src_dir, "tgt": tgt_dir,
            "sink1": sink1, "run1": run1}


def _totals(spark, *sinks):
    out = {}
    for s in sinks:
        df = s.read_committed(spark)
        if df is None:
            continue
        for r in df.groupBy("status").agg(F.count("*").alias("n")).collect():
            out[r["status"]] = out.get(r["status"], 0) + r["n"]
    return out


def test_a_stateless_projection_added_is_accepted(spark, upgrade_env):
    e = upgrade_env
    df = (_classified(spark, e["src"], e["tgt"])
          .withColumn("status_code", F.substring("status", 1, 1)))
    sink2 = _run(spark, str(e["tmp"] / "out_a"), str(e["tmp"] / "ckpt_a"), df)
    out2 = sink2.read_committed(spark)
    # the upgraded projection is live...
    assert "status_code" in out2.columns
    # ...and the restart recovered run 1's held state: exactly the outer
    # keys the old code still buffered emit through the NEW plan
    held_so = (e["pair"].expected["SOURCE_ONLY"]
               - e["run1"].get("SOURCE_ONLY", 0))
    assert held_so > 0
    assert out2.where("status = 'SOURCE_ONLY'").count() == held_so
    assert _totals(spark, e["sink1"], sink2) == e["pair"].expected


def test_b_added_stateful_operator_is_rejected(spark, upgrade_env):
    """Adding dropDuplicatesWithinWatermark upstream of the join inserts
    new stateful operators and shifts operator ids — Spark's state-metadata
    validation must refuse the restart. The checkpoint here comes from the
    join-only plan; restarting it with ``classify_transcripts``, which
    every join-engine ``run_streaming_validation`` builds (one
    dropDuplicatesWithinWatermark per side), is that change: a join-engine
    checkpoint written without the per-side dedup cannot be resumed by
    ``run_streaming_validation``. (A DOWNSTREAM windowed agg never gets this far: it fails
    analysis first because the join's coalesced ts has no watermark
    attribution — the chained-agg law.)"""
    e = upgrade_env
    df = classify_transcripts(stream_transcripts(spark, e["src"]),
                              stream_transcripts(spark, e["tgt"]))
    sink = ExactlyOnceParquetSink(str(e["tmp"] / "out_b"))
    q = (df.writeStream.outputMode("append")
         .option("checkpointLocation", str(e["tmp"] / "ckpt_b"))
         .foreachBatch(sink).trigger(availableNow=True).start())
    with pytest.raises(Exception) as ei:
        q.awaitTermination(300)
        if q.exception() is not None:
            raise q.exception()
    # the specific guard, not a generic crash. Subtlety pinned here: the
    # check fires when the first REAL batch plans against state metadata —
    # a restart that finds no new data can terminate cleanly without ever
    # validating the changed plan (observed on Spark 4.1).
    assert "STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA" \
        in str(ei.value)


def test_c_shuffle_partition_change_ignored_for_state(spark, upgrade_env):
    from spanner_data_validator_spark.streaming.state_inspect import (
        read_state_metadata)

    e = upgrade_env
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        sink2 = _run(spark, str(e["tmp"] / "out_c"),
                     str(e["tmp"] / "ckpt_c"),
                     _classified(spark, e["src"], e["tgt"]))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert _totals(spark, e["sink1"], sink2) == e["pair"].expected
    meta = read_state_metadata(spark, str(e["tmp"] / "ckpt_c"))
    # the join keeps its checkpoint-pinned 8 state partitions — the new
    # session default is ignored for the stateful operator
    assert {r["numPartitions"] for r in meta.collect()} == {8}


def test_d_watermark_and_trigger_change_accepted(spark, upgrade_env):
    e = upgrade_env
    sink2 = _run(spark, str(e["tmp"] / "out_d"), str(e["tmp"] / "ckpt_d"),
                 _classified(spark, e["src"], e["tgt"],
                             watermark="5 minutes"))
    assert _totals(spark, e["sink1"], sink2) == e["pair"].expected


def test_e_layout_rule_does_not_resize_a_started_checkpoint(spark, tmp_path):
    """A checkpoint started under RocksDB with 8 partitions and no sentinel
    is restarted through ``run_streaming_validation``, whose layout rule
    picks the heap store with one partition for this corpus. Spark restores
    the provider and the partition count from the offset log: the held
    state is recovered, and the checkpoint keeps RocksDB and 8 partitions."""
    from spanner_data_validator_spark.streaming.state_inspect import (
        read_state_metadata)

    pair = gen_transcript_pair(n_convs=40, seed=13, hot_convs=0, dup_rows=0,
                               late_fraction=0.0, mismatch_rate=0.05,
                               source_only_rate=0.05, target_only_rate=0.05)
    src_dir, tgt_dir = str(tmp_path / "src"), str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    write_transcripts(pair.source, spark, src_dir, n_files=2)
    write_transcripts(pair.target, spark, tgt_dir, n_files=2)
    with scoped_conf(spark, StateLayout("rocksdb", 8).conf()):
        sink1 = _run(spark, str(tmp_path / "out1"), ckpt,
                     classify_transcripts(stream_transcripts(spark, src_dir),
                                          stream_transcripts(spark, tgt_dir)))
    run1 = _totals(spark, sink1)
    assert run1.get("SOURCE_ONLY", 0) < pair.expected["SOURCE_ONLY"]
    append_sentinel(spark, src_dir, tgt_dir)
    keys = parquet_rows(spark, src_dir) + parquet_rows(spark, tgt_dir)
    sessions = int(spark.conf.get(PARTITIONS_CONF))
    assert state_layout(keys, sessions) == StateLayout("hdfs", 1)

    sink2 = run_streaming_validation(spark, src_dir, tgt_dir,
                                     str(tmp_path / "out2"), ckpt)
    out2 = {r["status"]: r["n"] for r in sink2.read_rows(spark)
            .groupBy("status").agg(F.count("*").alias("n")).collect()}
    held_so = pair.expected["SOURCE_ONLY"] - run1.get("SOURCE_ONLY", 0)
    assert held_so > 0
    assert out2["SOURCE_ONLY"] == held_so
    assert {s: run1.get(s, 0) + out2.get(s, 0) for s in pair.expected} \
        == pair.expected
    assert (sink2.state_store, sink2.state_partitions) == ("rocksdb", 8)
    meta = read_state_metadata(spark, ckpt)
    assert {r["numPartitions"] for r in meta.collect()} == {8}
    # every state version the restart wrote is a RocksDB changelog; the
    # heap store would have written .delta files
    files = [f.name for f in (tmp_path / "ckpt" / "state").rglob("*")]
    assert any(f.endswith(".changelog") for f in files)
    assert not any(f.endswith(".delta") for f in files)


FILE_CONTEXT_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
                        "FileContextBasedCheckpointFileManager")


@pytest.mark.parametrize("first", ["file_context", "rule"])
def test_f_checkpoint_manager_change_is_accepted(spark, tmp_path, first):
    """A checkpoint holding join state, started under Spark's default
    FileContext manager, restarts through ``run_streaming_validation``,
    whose rule picks the FileSystem-API manager for a local checkpoint; a
    checkpoint that rule started restarts under the FileContext manager.
    Either way the held outer rows emit: the files on disk are the same and
    the offset log does not pin the manager."""
    pair = gen_transcript_pair(n_convs=40, seed=13, hot_convs=0, dup_rows=0,
                               late_fraction=0.0, mismatch_rate=0.05,
                               source_only_rate=0.05, target_only_rate=0.05)
    src_dir, tgt_dir = str(tmp_path / "src"), str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    write_transcripts(pair.source, spark, src_dir, n_files=2)
    write_transcripts(pair.target, spark, tgt_dir, n_files=2)

    def under_file_context(out):
        df = classify_transcripts(stream_transcripts(spark, src_dir),
                                  stream_transcripts(spark, tgt_dir))
        sink = ExactlyOnceParquetSink(out)
        with scoped_conf(spark, {CHECKPOINT_MANAGER_CONF: FILE_CONTEXT_MANAGER}):
            q = (df.writeStream.outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .foreachBatch(sink).trigger(availableNow=True).start())
            q.awaitTermination(300)
        assert not q.isActive
        manager = q._jsq.streamingQuery().offsetLog().fileManager()
        assert manager.getClass().getName() == FILE_CONTEXT_MANAGER
        return sink.read_committed(spark)

    def under_rule(out):
        return run_streaming_validation(spark, src_dir, tgt_dir, out, ckpt
                                        ).read_rows(spark)

    def counts(df):
        return {r["status"]: r["n"] for r in
                df.groupBy("status").agg(F.count("*").alias("n")).collect()}

    runs = [under_file_context, under_rule]
    if first == "rule":
        runs.reverse()
    run1 = counts(runs[0](str(tmp_path / "out1")))
    assert run1.get("SOURCE_ONLY", 0) < pair.expected["SOURCE_ONLY"]
    append_sentinel(spark, src_dir, tgt_dir)
    out2 = counts(runs[1](str(tmp_path / "out2")))
    held_so = pair.expected["SOURCE_ONLY"] - run1.get("SOURCE_ONLY", 0)
    assert held_so > 0
    assert out2["SOURCE_ONLY"] == held_so
    assert {s: run1.get(s, 0) + out2.get(s, 0) for s in pair.expected} \
        == pair.expected
