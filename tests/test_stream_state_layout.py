"""The validation stream's state layout: sized from the input present at
query start (``parquet_rows``), chosen by ``session.state_layout``, applied
to the query only, never left in the caller's session. The same holds for
its checkpoint file manager (``session.checkpoint_conf``)."""

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
    CHECKPOINT_MANAGER_CONF,
    FS_CHECKPOINT_MANAGER,
    HEAP_BYTES_PER_KEY,
    PARTITIONS_CONF,
    PROVIDER_CONF,
    STATE_STORE_CLASSES,
    checkpoint_conf,
    state_layout,
)
from spanner_data_validator_spark.sources import transcript_source
from spanner_data_validator_spark.sources.transcript_source import (
    parquet_rows,
    write_transcripts,
)
from spanner_data_validator_spark.streaming.sink import TallyForeachBatch
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
    return (spark.conf.get(PROVIDER_CONF), spark.conf.get(PARTITIONS_CONF),
            spark.conf.get(CHECKPOINT_MANAGER_CONF, None))


def _field(obj, name):
    """A private JVM field, read by reflection."""
    f = obj.getClass().getDeclaredField(name)
    f.setAccessible(True)
    return f.get(obj)


def _manager(log) -> str:
    """The checkpoint file manager class behind a metadata log."""
    return log.fileManager().getClass().getName()


def _state_store_managers(spark, ckpt: str) -> list[str]:
    """The file manager under the checksum wrapper of every heap state
    store loaded for checkpoint ``ckpt``."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
    loaded = _field(cls.getDeclaredField("MODULE$").get(None), "loadedProviders")
    found, it = [], loaded.valuesIterator()
    root = "file:" + ckpt + "/"
    while it.hasNext():
        provider = it.next()
        if not provider.stateStoreId().checkpointRootLocation().startswith(root):
            continue
        fm = _field(provider, "fm")
        assert fm.getClass().getSimpleName() == "ChecksumCheckpointFileManager"
        found.append(_field(fm, "underlyingFileMgr").getClass().getName())
    return found


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
    for _ in range(3):  # three identical files: rows per byte is exact
        df.coalesce(1).write.mode("append").parquet(d)
    monkeypatch.setattr(transcript_source, "_MAX_FOOTERS", 1)
    assert parquet_rows(spark, d) == 3000


def test_parquet_rows_projects_what_the_stream_reads(spark, tmp_path):
    """The file stream reads the files directly under its path and under
    ``k=v`` partition directories, not other subdirectories; the projection
    counts exactly those rows."""
    pair = gen_transcript_pair(n_convs=20, seed=5)

    def streamed(d: str) -> int:
        name = "rows_" + os.path.basename(d)
        q = (transcript_source.stream_transcripts(spark, d, watermark=None)
             .writeStream.format("memory").queryName(name)
             .option("checkpointLocation", d + "_ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.table(name).count()

    mixed = str(tmp_path / "mixed")  # one file flat, two in plain subdirs
    for sub in ("", "/0", "/1"):
        write_transcripts(pair.source, spark, mixed + sub, n_files=1)
    parts = str(tmp_path / "parts")  # two k=v partition directories
    for sub in ("/k=0", "/k=1"):
        write_transcripts(pair.source, spark, parts + sub, n_files=1)
    assert parquet_rows(spark, mixed) == streamed(mixed) == len(pair.source)
    assert parquet_rows(spark, parts) == streamed(parts) == 2 * len(pair.source)


def test_checkpoint_conf_picks_the_manager_from_the_scheme(spark):
    """Local checkpoints, however written, get the FileSystem-API manager;
    any other scheme keeps Spark's choice, decided without creating its
    file system (no namenode is contacted)."""
    fs_api = {CHECKPOINT_MANAGER_CONF: FS_CHECKPOINT_MANAGER}
    assert checkpoint_conf(spark, "/abs/path") == fs_api
    assert checkpoint_conf(spark, "rel/path") == fs_api
    assert checkpoint_conf(spark, "file:///abs/path") == fs_api
    assert checkpoint_conf(spark, "hdfs://nn:8020/x") == {}
    schemes = {st.getScheme() for st in
               spark._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()}
    assert "hdfs" not in schemes


def test_local_run_checkpoints_through_the_filesystem_manager(
        spark, tmp_path, monkeypatch):
    """A local availableNow run writes its offset and commit logs, both
    source logs and every state store through the FileSystem-API manager:
    the logs read off the query's StreamExecution, the stores off the
    providers loaded for its checkpoint while a batch commits. Checksum
    files and state schemas are still written. The caller's conf is
    unchanged."""
    from pyspark.sql.streaming import DataStreamWriter

    _, src_dir, tgt_dir = _stage(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    queries, stores = [], []
    start, call = DataStreamWriter.start, TallyForeachBatch.__call__

    def start_and_keep(self, *args, **kwargs):
        queries.append(start(self, *args, **kwargs))
        return queries[-1]

    def call_and_read_stores(self, batch_df, batch_id):
        call(self, batch_df, batch_id)
        stores.append(_state_store_managers(spark, ckpt))

    monkeypatch.setattr(DataStreamWriter, "start", start_and_keep)
    monkeypatch.setattr(TallyForeachBatch, "__call__", call_and_read_stores)
    before = _caller_conf(spark)
    assert before[2] is None
    run_streaming_validation(spark, src_dir, tgt_dir, str(tmp_path / "out"), ckpt)
    assert _caller_conf(spark) == before

    (q,) = queries
    execution = q._jsq.streamingQuery()
    sources = execution.sources()
    logs = [execution.offsetLog(), execution.commitLog(),
            *(_field(sources.apply(i), "metadataLog") for i in range(sources.size()))]
    assert len(logs) == 4
    assert {_manager(log) for log in logs} == {FS_CHECKPOINT_MANAGER}
    # the join's four stores and one per side's dedup, one partition each
    assert stores and all(len(s) == 6 for s in stores)
    assert {m for s in stores for m in s} == {FS_CHECKPOINT_MANAGER}
    # Hadoop's .crc files, Spark's state checksums and state schemas stay
    files = {p.name for p in (tmp_path / "ckpt").rglob("*")}
    assert {".0.crc", ".1.delta.crc", "1.delta.crc", "schema"} <= files


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
        # the offset log was built in start(), under the manager
        (q,) = spark.streams.active
        assert _manager(q._jsq.streamingQuery().offsetLog()) == FS_CHECKPOINT_MANAGER
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
