"""Snapshot-tailing streaming source (sources/snapshot_stream.py)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.sources import snapshot_stream as st
from spanner_data_validator_spark.sources import snapshots as snap

pytestmark = pytest.mark.usefixtures("temp_dirs_in_tmp_path")


def _mk_table(spark, slices):
    d = tempfile.mkdtemp(prefix="sdv_t_snapst_") + "/t"
    for lo, hi in slices:
        snap.commit(spark.range(lo, hi).select(F.col("id").alias("k")), d)
    return d


def _run(spark, table, out, ckpt, target_v, vpt=1, cursor=None):
    st.register(spark)
    reader = (spark.readStream.format(st.SOURCE_NAME)
              .option("table_dir", table).option("schema", "k long")
              .option("versions_per_trigger", vpt))
    if cursor:
        reader = reader.option("cursor_file", cursor)
    stream = reader.load()
    q = (stream.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .outputMode("append")
         .trigger(processingTime="200 milliseconds").start())
    st.drain_to_version(q, target_v)
    return q


def test_tail_exactly_once_one_batch_per_version(spark):
    table = _mk_table(spark, [(0, 100), (100, 250), (250, 300)])
    work = tempfile.mkdtemp(prefix="sdv_t_snapst_run_")
    q = _run(spark, table, f"{work}/out", f"{work}/ckpt", 3,
             cursor=f"{work}/cursor")
    out = spark.read.parquet(f"{work}/out")
    assert out.count() == 300 and out.distinct().count() == 300
    data_batches = [p.numInputRows for p in q.recentProgress
                    if p.numInputRows]
    assert data_batches == [100, 150, 50]  # one commit per micro-batch


def test_restart_resumes_without_duplicates(spark):
    # cursor_file preserves pacing AND forward-only admission across the
    # restart (without it the fresh reader's cursor rewound below the
    # checkpoint and the engine's next NEW batch re-covered a committed
    # snapshot — 70 duplicate rows, measured)
    table = _mk_table(spark, [(0, 50), (50, 120)])
    work = tempfile.mkdtemp(prefix="sdv_t_snapst_restart_")
    cursor = f"{work}/cursor"
    _run(spark, table, f"{work}/out", f"{work}/ckpt", 2, cursor=cursor)
    # two more commits AFTER the first run stopped; restart from checkpoint
    snap.commit(spark.range(120, 200).select(F.col("id").alias("k")), table)
    snap.commit(spark.range(200, 210).select(F.col("id").alias("k")), table)
    q = _run(spark, table, f"{work}/out", f"{work}/ckpt", 4, cursor=cursor)
    out = spark.read.parquet(f"{work}/out")
    assert out.count() == 210 and out.distinct().count() == 210
    assert out.agg(F.min("k"), F.max("k")).first() == (0, 209)
    # pacing survived: the two post-restart commits arrived as two batches
    post = [p.numInputRows for p in q.recentProgress if p.numInputRows]
    assert post == [80, 10]


def test_restart_without_cursor_admits_all_but_never_duplicates(spark):
    table = _mk_table(spark, [(0, 50), (50, 120)])
    work = tempfile.mkdtemp(prefix="sdv_t_snapst_nocursor_")
    _run(spark, table, f"{work}/out", f"{work}/ckpt", 2)
    snap.commit(spark.range(120, 200).select(F.col("id").alias("k")), table)
    snap.commit(spark.range(200, 210).select(F.col("id").alias("k")), table)
    q = _run(spark, table, f"{work}/out", f"{work}/ckpt", 4)
    out = spark.read.parquet(f"{work}/out")
    assert out.count() == 210 and out.distinct().count() == 210
    # fallback trades pacing for safety: one catch-up batch of both commits
    post = [p.numInputRows for p in q.recentProgress if p.numInputRows]
    assert post == [90]


def test_versions_per_trigger_batching(spark):
    table = _mk_table(spark, [(0, 10), (10, 20), (20, 30), (30, 40)])
    work = tempfile.mkdtemp(prefix="sdv_t_snapst_vpt_")
    q = _run(spark, table, f"{work}/out", f"{work}/ckpt", 4, vpt=2,
             cursor=f"{work}/cursor")
    assert spark.read.parquet(f"{work}/out").count() == 40
    data_batches = [p.numInputRows for p in q.recentProgress
                    if p.numInputRows]
    assert data_batches == [20, 20]  # two snapshots absorbed per batch


class _LaggingQuery:
    """A stopped-at-the-no-data-trigger query whose second source is still
    one version behind the first."""

    lastProgress = {"numInputRows": 0,
                    "sources": [{"endOffset": "{'v': 4}"},
                                {"endOffset": {"v": 3}}]}
    stopped = False

    def exception(self):
        return None

    def stop(self):
        self.stopped = True


def test_drain_waits_for_every_source():
    q = _LaggingQuery()
    with pytest.raises(TimeoutError):
        st.drain_to_version(q, 4, timeout_s=0.3, poll_s=0.05)
    assert q.stopped
    # the same progress passes once the target is the lagging source's
    st.drain_to_version(q, 3, timeout_s=0.3, poll_s=0.05)
