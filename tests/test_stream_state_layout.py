"""The validation stream's state layout: sized from the input present at
query start (``parquet_rows``), chosen by ``session.state_layout``, applied
to the query only, never left in the caller's session."""

from __future__ import annotations

import json
import os
import time

import pytest

from spanner_data_validator_spark.datagen.transcripts import gen_transcript_pair
from spanner_data_validator_spark.jobs import validate_transcripts
from spanner_data_validator_spark.jobs.validate_transcripts import (
    append_sentinel,
    run_streaming_validation,
)
from spanner_data_validator_spark.session import (
    HEAP_BYTES_PER_KEY,
    PARTITIONS_CONF,
    PROVIDER_CONF,
    STATE_STORE_CLASSES,
    state_layout,
)
from spanner_data_validator_spark.sources import transcript_source
from spanner_data_validator_spark.sources.transcript_source import (
    parquet_rows,
    write_transcripts,
)
from spanner_data_validator_spark.streaming.state_inspect import read_state_metadata


def _stage(spark, tmp_path, *, sentinel=True):
    pair = gen_transcript_pair(n_convs=20, seed=5)
    src_dir, tgt_dir = str(tmp_path / "src"), str(tmp_path / "tgt")
    write_transcripts(pair.source, spark, src_dir, n_files=2)
    write_transcripts(pair.target, spark, tgt_dir, n_files=2)
    if sentinel:
        append_sentinel(spark, src_dir, tgt_dir)
    return pair, src_dir, tgt_dir


def _offset_conf(ckpt: str, batch_id: int = 0) -> dict:
    with open(os.path.join(ckpt, "offsets", str(batch_id))) as f:
        return json.loads(f.read().splitlines()[1])["conf"]


def _caller_conf(spark):
    return spark.conf.get(PROVIDER_CONF), spark.conf.get(PARTITIONS_CONF)


def test_parquet_rows_reads_footers_only(spark, tmp_path):
    pair, src_dir, _ = _stage(spark, tmp_path)
    # the staged files plus the sentinel; the _SUCCESS marker and hidden
    # staging names are skipped
    assert parquet_rows(spark, src_dir) == len(pair.source) + 1
    os.makedirs(os.path.join(src_dir, "_stage_x"))
    with open(os.path.join(src_dir, "_stage_x", "part.parquet"), "w") as f:
        f.write("half-written")
    assert parquet_rows(spark, src_dir) == len(pair.source) + 1
    # a scheme-qualified path reads through the same Hadoop file system
    assert parquet_rows(spark, "file://" + src_dir) == len(pair.source) + 1
    # unknown when the path cannot be listed or a footer cannot be read
    assert parquet_rows(spark, str(tmp_path / "missing")) is None
    assert parquet_rows(spark, "nosuchfs://host/path") is None
    with open(os.path.join(src_dir, "broken.parquet"), "w") as f:
        f.write("not parquet")
    assert parquet_rows(spark, src_dir) is None


def test_parquet_rows_past_the_footer_cap_counts_bytes(spark, tmp_path,
                                                       monkeypatch):
    d = str(tmp_path / "same")
    df = spark.range(1000).selectExpr("id", "cast(id as string) s")
    for i in range(3):  # three identical files: rows per byte is exact
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/{i}")
    monkeypatch.setattr(transcript_source, "_MAX_FOOTERS", 1)
    assert parquet_rows(spark, d) == 3000


def test_layout_sized_from_input_and_caller_conf_kept(spark, tmp_path):
    """A small availableNow run gets the heap store with one partition, as
    its offset log and state metadata show; the caller's session keeps its
    provider and partition count."""
    pair, src_dir, tgt_dir = _stage(spark, tmp_path)
    before = _caller_conf(spark)
    assert before[0] == STATE_STORE_CLASSES["rocksdb"]
    ckpt = str(tmp_path / "ckpt")
    sink = run_streaming_validation(spark, src_dir, tgt_dir,
                                    str(tmp_path / "out"), ckpt)
    assert _caller_conf(spark) == before
    assert sink.projected_keys == len(pair.source) + len(pair.target) + 2
    assert (sink.state_store, sink.state_partitions) == ("hdfs", 1)
    conf = _offset_conf(ckpt)
    assert conf[PROVIDER_CONF] == STATE_STORE_CLASSES["hdfs"]
    assert conf[PARTITIONS_CONF] == "1"
    assert {r["numPartitions"] for r in read_state_metadata(spark, ckpt).collect()} == {1}


def test_heap_store_sized_against_the_session_heap(spark, tmp_path,
                                                   monkeypatch):
    """The heap the rule sizes against is the running JVM's, not what
    ``driver_memory()`` says: with ``SDV_DRIVER_MEM`` far above the real
    heap, a projection past a quarter of the real heap gets RocksDB."""
    monkeypatch.delenv("SDV_STATE_STORE", raising=False)
    monkeypatch.setenv("SDV_DRIVER_MEM", "100000g")
    heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    side = heap // 4 // HEAP_BYTES_PER_KEY // 2 + 1
    assert state_layout(2 * side, 8).provider == "hdfs"  # by driver_memory()
    monkeypatch.setattr(validate_transcripts, "parquet_rows",
                        lambda spark, path: side)
    pair, src_dir, tgt_dir = _stage(spark, tmp_path)
    sink = run_streaming_validation(spark, src_dir, tgt_dir,
                                    str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert sink.projected_keys == 2 * side
    assert (sink.state_store, sink.state_partitions) == \
        ("rocksdb", int(spark.conf.get(PARTITIONS_CONF)))
    totals = {r["status"]: r["count"]
              for r in sink.read_rows(spark).groupBy("status").count().collect()}
    assert totals == {k: v for k, v in pair.expected.items() if v}


def test_continuous_run_keeps_caller_conf(spark, tmp_path, monkeypatch):
    """A processingTime run has no projection: the provider is the env's
    (here the heap store, unlike the caller's RocksDB) with the session's
    partition count. The caller's conf is back as soon as the call returns,
    while the running query keeps the layout it started with: Spark clones
    the session inside ``start()``."""
    monkeypatch.setenv("SDV_STATE_STORE", "hdfs")
    _, src_dir, tgt_dir = _stage(spark, tmp_path)
    before = _caller_conf(spark)
    assert before[0] == STATE_STORE_CLASSES["rocksdb"]
    ckpt = str(tmp_path / "ckpt")
    sink = run_streaming_validation(spark, src_dir, tgt_dir,
                                    str(tmp_path / "out"), ckpt,
                                    available_now=False, trigger_interval="1 second")
    try:
        assert _caller_conf(spark) == before
        assert sink.projected_keys is None
        assert (sink.state_store, sink.state_partitions) == ("hdfs", int(before[1]))
        deadline = time.time() + 120
        while not os.path.exists(os.path.join(ckpt, "commits", "0")):
            assert time.time() < deadline, "batch 0 never committed"
            time.sleep(0.5)
    finally:
        for q in spark.streams.active:
            q.stop()
    conf = _offset_conf(ckpt)
    assert conf[PROVIDER_CONF] == STATE_STORE_CLASSES["hdfs"]
    assert conf[PARTITIONS_CONF] == before[1]


@pytest.mark.parametrize("engine", ["join", "stateful"])
def test_restart_reports_the_checkpoint_layout(spark, tmp_path, engine,
                                               monkeypatch):
    """A restart runs with the layout its checkpoint was started with, and
    the sink says so, whatever the rule would pick for the input now."""
    pair, src_dir, tgt_dir = _stage(spark, tmp_path, sentinel=False)
    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setenv("SDV_STATE_STORE", "rocksdb")
    first = run_streaming_validation(spark, src_dir, tgt_dir,
                                     str(tmp_path / "out"), ckpt, engine=engine)
    monkeypatch.delenv("SDV_STATE_STORE")
    append_sentinel(spark, src_dir, tgt_dir)
    again = run_streaming_validation(spark, src_dir, tgt_dir,
                                     str(tmp_path / "out"), ckpt, engine=engine)
    rocksdb = ("rocksdb", int(spark.conf.get(PARTITIONS_CONF)))
    assert (first.state_store, first.state_partitions) == rocksdb
    assert (again.state_store, again.state_partitions) == rocksdb
    assert again.projected_keys is None
    assert _offset_conf(ckpt, 1)[PROVIDER_CONF] == STATE_STORE_CLASSES["rocksdb"]
    totals = {}
    for r in again.read_rows(spark).groupBy("status").count().collect():
        totals[r["status"]] = r["count"]
    assert totals == {k: v for k, v in pair.expected.items() if v}


def test_cli_writes_the_layout_into_lineage(spark, tmp_path, monkeypatch):
    from pyspark.sql.streaming import StreamingQueryManager

    from spanner_data_validator_spark import session
    from spanner_data_validator_spark.jobs.validate_transcripts import main

    pair, src_dir, tgt_dir = _stage(spark, tmp_path)
    # the CLI on the test session, without leaving its listener registered
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(StreamingQueryManager, "addListener", lambda self, l: None)
    out = tmp_path / "out"
    main(["--source", src_dir, "--target", tgt_dir, "--out", str(out),
          "--checkpoint", str(tmp_path / "ckpt")])
    with open(out / "lineage" / "state_layout.json") as f:
        assert json.load(f) == {
            "state_store": "hdfs", "state_partitions": 1,
            "projected_keys": len(pair.source) + len(pair.target) + 2}
