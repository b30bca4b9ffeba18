"""North-star resumability: the snapshot-table dual-stream validator stops
mid-ingest and resumes from its checkpoint — join state, source offsets, and
sink exactly-once all survive, and the final totals equal the batch run.

The restart is only meaningful if run 1's UNMATCHED rows (held in the
stream-stream join's state store at stop) emit after the resume — they were
seen only before the stop, so a correct SOURCE_ONLY tally proves the state
store was recovered, not rebuilt.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.datagen.transcripts import (
    TRANSCRIPT_SCHEMA,
    gen_transcript_pair,
)
from spanner_data_validator_spark.jobs.validate_transcripts import (
    classify_transcripts,
    sentinel_frame,
)
from spanner_data_validator_spark.sources import snapshot_stream as st
from spanner_data_validator_spark.sources import snapshots as snap

pytestmark = pytest.mark.usefixtures("temp_dirs_in_tmp_path")

_DDL = ("conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")


def _start(spark, src_t, tgt_t, work):
    st.register(spark)

    def tail(table):
        return (spark.readStream.format(st.SOURCE_NAME)
                .option("table_dir", table).option("schema", _DDL)
                .option("cursor_file", f"{table}.cursor").load()
                .withWatermark("ts", "10 minutes"))

    out = classify_transcripts(tail(src_t), tail(tgt_t))
    return (out.select("status")
            .writeStream.format("parquet").option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .outputMode("append")
            .trigger(processingTime="200 milliseconds").start())


def test_validator_resumes_from_checkpoint_with_held_state(spark):
    pair = gen_transcript_pair(n_convs=60, seed=11, hot_convs=0,
                               dup_rows=0, late_fraction=0.0,
                               mismatch_rate=0.05, source_only_rate=0.05,
                               target_only_rate=0.05)
    src = spark.createDataFrame(pair.source, schema=TRANSCRIPT_SCHEMA)
    tgt = spark.createDataFrame(pair.target, schema=TRANSCRIPT_SCHEMA)
    cut = F.lit("2025-01-02 16:00:00").cast("timestamp")

    work = tempfile.mkdtemp(prefix="sdv_t_snapval_restart_")
    src_t, tgt_t = f"{work}/src_t", f"{work}/tgt_t"
    # wave 1 (event-time-ordered commits: everything before the cut)
    snap.commit(src.where(F.col("ts") < cut), src_t)
    snap.commit(tgt.where(F.col("ts") < cut), tgt_t)

    q = _start(spark, src_t, tgt_t, work)
    st.drain_to_version(q, 1)

    # run 1 must have emitted only prompt matches — outer results for
    # wave-1 singles are still held in the recovered state store
    mid = spark.read.parquet(f"{work}/out")
    mid_n = mid.count()
    assert mid.where(F.col("status").isin("SOURCE_ONLY", "TARGET_ONLY",
                                          "MATCH", "MISMATCH")).count() == mid_n

    # wave 2 + far-future sentinel arrive AFTER the stop
    snap.commit(src.where(F.col("ts") >= cut), src_t)
    snap.commit(tgt.where(F.col("ts") >= cut), tgt_t)
    sent = sentinel_frame(spark)
    snap.commit(sent, src_t)
    snap.commit(sent, tgt_t)

    q = _start(spark, src_t, tgt_t, work)
    st.drain_to_version(q, 3)

    got = {r["status"]: r["n"] for r in
           spark.read.parquet(f"{work}/out")
           .groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}

    # batch ground truth: the same plan on the same (static) frames
    want = {r["status"]: r["n"] for r in
            classify_transcripts(src, tgt)
            .groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want
    assert got.get("SOURCE_ONLY", 0) > 0 and got.get("MISMATCH", 0) > 0
    # the restart added rows (wave-2 + flushed wave-1 state)
    assert sum(got.values()) > mid_n
