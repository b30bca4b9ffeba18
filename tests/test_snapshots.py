"""Snapshot-versioned parquet tables (sources/snapshots.py)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.sources import snapshots as snap

pytestmark = pytest.mark.usefixtures("temp_dirs_in_tmp_path")


def _table(spark):
    d = tempfile.mkdtemp(prefix="sdv_t_snap_") + "/t"
    for lo, hi in ((0, 10), (10, 25), (25, 30)):
        snap.commit(spark.range(lo, hi).select(F.col("id").alias("k")), d)
    return d


def test_versions_and_time_travel(spark):
    d = _table(spark)
    assert snap.current_version(d) == 3
    assert snap.read_snapshot(spark, d, 1).count() == 10
    assert snap.read_snapshot(spark, d, 2).count() == 25
    assert snap.read_snapshot(spark, d).count() == 30


def test_incremental_is_file_set_difference(spark):
    d = _table(spark)
    inc = snap.read_incremental(spark, d, 1, 3)
    got = sorted(r["k"] for r in inc.collect())
    assert got == list(range(10, 30))
    # the scan must touch ONLY the files added after v1 — no old data read
    v1_files = set(snap.snapshot_files(d, 1))
    assert v1_files and not (set(inc.inputFiles()) & v1_files)


def test_incremental_empty_range(spark):
    d = _table(spark)
    assert snap.read_incremental(spark, d, 3, 3).count() == 0


def test_bad_versions_raise(spark):
    d = _table(spark)
    with pytest.raises(ValueError):
        snap.read_snapshot(spark, d, 4)
    with pytest.raises(ValueError):
        snap.read_snapshot(spark, d, 0)
    with pytest.raises(ValueError):
        snap.read_incremental(spark, d, -1, 2)


def test_commits_are_immutable_appends(spark):
    d = _table(spark)
    f1 = snap.snapshot_files(d, 1)
    f3 = snap.snapshot_files(d, 3)
    assert set(f1) <= set(f3)  # old files still listed, never rewritten
    assert len(f3) == 3


def test_failed_hint_write_keeps_previous_version(tmp_path, monkeypatch):
    """A crash while the version hint is being written leaves the previous
    hint readable, and the next commit lands as that version + 1."""
    import builtins
    import os

    t = str(tmp_path / "t")
    assert snap.commit_files(t, [f"{t}/data/a.parquet"]) == 1
    real_open = builtins.open

    def crash_on_hint(path, mode="r", *args, **kwargs):
        f = real_open(path, mode, *args, **kwargs)
        if "w" in mode and os.path.basename(path).startswith("version-hint"):
            f.close()  # opened (and truncated), then the process dies
            raise OSError("crash while writing the version hint")
        return f

    with monkeypatch.context() as m:
        m.setattr(builtins, "open", crash_on_hint)
        with pytest.raises(OSError, match="version hint"):
            snap.commit_files(t, [f"{t}/data/b.parquet"])
    assert snap.current_version(t) == 1
    assert snap.commit_files(t, [f"{t}/data/c.parquet"]) == 2
    assert snap.current_version(t) == 2
    assert snap.snapshot_files(t, 2) == [f"{t}/data/a.parquet",
                                         f"{t}/data/c.parquet"]


class TestSnapshotCommitWriter:
    """Python DataSource sink with atomic snapshot commit
    (sources/snapshot_sink.py)."""

    def test_one_save_one_snapshot_many_task_files(self, spark):
        import tempfile

        from spanner_data_validator_spark.sources import snapshot_sink as sk
        sk.register(spark)
        d = tempfile.mkdtemp(prefix="sdv_t_sink_") + "/t"
        (spark.range(900).select(F.col("id").alias("k")).repartition(6)
         .write.format(sk.SINK_NAME).option("table_dir", d)
         .mode("append").save())
        assert snap.current_version(d) == 1
        assert len(snap.snapshot_files(d, 1)) == 6
        assert snap.read_snapshot(spark, d).count() == 900

    def test_empty_partitions_write_no_files(self, spark):
        import tempfile

        from spanner_data_validator_spark.sources import snapshot_sink as sk
        sk.register(spark)
        d = tempfile.mkdtemp(prefix="sdv_t_sink_empty_") + "/t"
        (spark.range(3).select(F.col("id").alias("k")).repartition(16)
         .write.format(sk.SINK_NAME).option("table_dir", d)
         .mode("append").save())
        assert len(snap.snapshot_files(d, 1)) <= 3
        assert snap.read_snapshot(spark, d).count() == 3

    def test_orphan_pending_files_invisible(self, spark):
        import os
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        from spanner_data_validator_spark.sources import snapshot_sink as sk
        sk.register(spark)
        d = tempfile.mkdtemp(prefix="sdv_t_sink_orphan_") + "/t"
        (spark.range(10).select(F.col("id").alias("k"))
         .write.format(sk.SINK_NAME).option("table_dir", d)
         .mode("append").save())
        # a zombie task's file that no commit ever referenced
        orphan_dir = os.path.join(d, "data", "pending-zombie")
        os.makedirs(orphan_dir)
        pq.write_table(pa.table({"k": [999]}),
                       os.path.join(orphan_dir, "part.parquet"))
        assert snap.read_snapshot(spark, d).count() == 10  # orphan unseen

    def test_overwrite_mode_rejected(self, spark):
        import tempfile

        import pytest
        from py4j.protocol import Py4JJavaError

        from spanner_data_validator_spark.sources import snapshot_sink as sk
        sk.register(spark)
        d = tempfile.mkdtemp(prefix="sdv_t_sink_ow_") + "/t"
        with pytest.raises((ValueError, Py4JJavaError, Exception)):
            (spark.range(3).select(F.col("id").alias("k"))
             .write.format(sk.SINK_NAME).option("table_dir", d)
             .mode("overwrite").save())


class TestSnapshotStreamWriter:
    """Streaming micro-batch commits with batch-id fencing
    (sources/snapshot_sink._SnapshotStreamCommitWriter)."""

    def _stream_in(self, spark, n=400, files=4, per_trigger=2):
        import tempfile

        from spanner_data_validator_spark.sources import snapshot_sink as sk
        sk.register(spark)
        work = tempfile.mkdtemp(prefix="sdv_t_ssink_")
        (spark.range(n).select(F.col("id").alias("k"))
         .repartition(files).write.parquet(f"{work}/in"))
        stream = (spark.readStream.schema("k long")
                  .option("maxFilesPerTrigger", per_trigger)
                  .parquet(f"{work}/in"))
        q = (stream.writeStream.format(sk.SINK_NAME)
             .option("table_dir", f"{work}/t")
             .option("checkpointLocation", f"{work}/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return f"{work}/t"

    def test_one_snapshot_per_microbatch(self, spark):
        t = self._stream_in(spark)
        assert snap.current_version(t) == 2
        out = snap.read_snapshot(spark, t)
        assert out.count() == 400 and out.distinct().count() == 400

    def test_fence_skips_replayed_batch(self, spark):
        from spanner_data_validator_spark.sources.snapshot_sink import (
            _SnapshotStreamCommitWriter)
        t = self._stream_in(spark)
        v = snap.current_version(t)
        w = _SnapshotStreamCommitWriter({"table_dir": t})
        w.commit([], 0)  # engine replaying batch 0 after recovery
        assert snap.current_version(t) == v  # fenced: no new snapshot

    def test_fence_records_batch_to_version(self, spark):
        import json
        import os
        t = self._stream_in(spark)
        batch_ids = [json.load(open(os.path.join(t, "metadata", f"v{v}.json")))
                     ["stream_batch_id"] for v in (1, 2)]
        assert batch_ids == [0, 1]

    def test_replay_after_torn_commit_is_noop(self, monkeypatch):
        """The first commit of batch 0 dies right after its snapshot is
        published; the engine's replay of batch 0 must publish nothing."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from spanner_data_validator_spark.sources.snapshot_sink import (
            _SnapshotStreamCommitWriter)
        t = tempfile.mkdtemp(prefix="sdv_t_ssink_torn_") + "/t"

        def attempt():
            w = _SnapshotStreamCommitWriter({"table_dir": t})
            msg = w.write(iter([pa.record_batch({"k": [1, 2, 3]})]))
            return w, [msg]

        publish = snap.commit_files

        def publish_then_die(*args, **kwargs):
            publish(*args, **kwargs)
            raise RuntimeError("killed after the snapshot was published")

        w, msgs = attempt()
        monkeypatch.setattr(snap, "commit_files", publish_then_die)
        with pytest.raises(RuntimeError):
            w.commit(msgs, 0)
        monkeypatch.undo()
        assert snap.current_version(t) == 1
        w, msgs = attempt()  # recovery: a fresh writer replays batch 0
        w.commit(msgs, 0)
        assert snap.current_version(t) == 1
        rows = sorted(k for f in snap.snapshot_files(t, 1)
                      for k in pq.read_table(f).column("k").to_pylist())
        assert rows == [1, 2, 3]


class TestCompactionAndExpiry:
    """Replace snapshots (maintenance), incremental invisibility, expiry."""

    def test_compaction_invisible_to_incremental(self, spark):
        import tempfile

        d = tempfile.mkdtemp(prefix="sdv_t_compact_") + "/t"
        snap.commit(spark.range(0, 100).select(F.col("id").alias("k")), d,
                    files=4)
        snap.commit(spark.range(100, 150).select(F.col("id").alias("k")), d,
                    files=4)
        v_compact = snap.compact(spark, d, files=1)
        assert v_compact == 3
        snap.commit(spark.range(150, 180).select(F.col("id").alias("k")), d)
        # time travel sees the rewrite: current layout is compact
        assert len(snap.snapshot_files(d, 3)) == 1
        assert snap.read_snapshot(spark, d).count() == 180
        # incremental across the compaction: ONLY the appended rows, the
        # rewrite re-emits nothing (a bare file-set difference would have
        # re-counted all 150 rewritten rows)
        inc = snap.read_incremental(spark, d, 1, 4)
        got = sorted(r["k"] for r in inc.collect())
        assert got == list(range(100, 180))

    def test_tail_stream_skips_compaction(self, spark):
        import tempfile

        from spanner_data_validator_spark.sources import snapshot_stream as st
        d = tempfile.mkdtemp(prefix="sdv_t_compact_tail_") + "/t"
        snap.commit(spark.range(0, 60).select(F.col("id").alias("k")), d)
        snap.compact(spark, d, files=1)
        snap.commit(spark.range(60, 90).select(F.col("id").alias("k")), d)
        st.register(spark)
        work = tempfile.mkdtemp(prefix="sdv_t_compact_tail_run_")
        stream = (spark.readStream.format(st.SOURCE_NAME)
                  .option("table_dir", d).option("schema", "k long")
                  .option("versions_per_trigger", 1)
                  .option("cursor_file", f"{work}/cursor").load())
        q = (stream.writeStream.format("parquet")
             .option("path", f"{work}/out")
             .option("checkpointLocation", f"{work}/ckpt")
             .outputMode("append")
             .trigger(processingTime="200 milliseconds").start())
        st.drain_to_version(q, 3)
        out = spark.read.parquet(f"{work}/out")
        assert out.count() == 90 and out.distinct().count() == 90

    def test_replace_rejects_unknown_removals(self, spark):
        import tempfile

        import pytest
        d = tempfile.mkdtemp(prefix="sdv_t_replace_bad_") + "/t"
        snap.commit(spark.range(5).select(F.col("id").alias("k")), d)
        with pytest.raises(ValueError):
            snap.commit_files(d, [], operation="replace",
                              removed=["/nope.parquet"])

    def test_expire_reclaims_only_unreferenced(self, spark):
        import os
        import tempfile

        import pytest
        d = tempfile.mkdtemp(prefix="sdv_t_expire_") + "/t"
        snap.commit(spark.range(0, 40).select(F.col("id").alias("k")), d)
        snap.commit(spark.range(40, 70).select(F.col("id").alias("k")), d)
        snap.compact(spark, d, files=1)
        deleted = snap.expire_snapshots(d, keep_last=1)
        # v1/v2's original files are unreferenced by the compacted v3
        assert len(deleted) == 2
        assert all(not os.path.exists(f) for f in deleted)
        # current snapshot fully readable after reclaim
        assert snap.read_snapshot(spark, d).count() == 70
        with pytest.raises(ValueError):
            snap.read_snapshot(spark, d, 1)

    def test_incremental_across_expired_range_raises_cleanly(self, spark):
        import tempfile

        import pytest
        d = tempfile.mkdtemp(prefix="sdv_t_expire_inc_") + "/t"
        snap.commit(spark.range(0, 10).select(F.col("id").alias("k")), d)
        snap.commit(spark.range(10, 20).select(F.col("id").alias("k")), d)
        snap.commit(spark.range(20, 30).select(F.col("id").alias("k")), d)
        snap.expire_snapshots(d, keep_last=1)
        with pytest.raises(ValueError, match="expired"):
            snap.read_incremental(spark, d, 0, 3)
        # within the retained range still fine (no metas crossed): 3..3
        assert snap.read_incremental(spark, d, 3, 3).count() == 0

    def test_repeated_expiry_with_larger_window_no_crash(self, spark):
        import tempfile

        d = tempfile.mkdtemp(prefix="sdv_t_expire_twice_") + "/t"
        for lo in range(0, 50, 10):
            snap.commit(spark.range(lo, lo + 10)
                        .select(F.col("id").alias("k")), d)
        snap.expire_snapshots(d, keep_last=1)   # removes metas v1..v4
        snap.commit(spark.range(50, 60).select(F.col("id").alias("k")), d)
        # larger retention window now spans already-expired versions
        snap.expire_snapshots(d, keep_last=4)
        assert snap.read_snapshot(spark, d).count() == 60

    def test_empty_batch_save_still_commits(self, spark):
        import tempfile

        from spanner_data_validator_spark.sources import snapshot_sink as sk
        sk.register(spark)
        d = tempfile.mkdtemp(prefix="sdv_t_sink_allempty_") + "/t"
        (spark.range(0).select(F.col("id").alias("k"))
         .write.format(sk.SINK_NAME).option("table_dir", d)
         .mode("append").save())
        assert snap.current_version(d) == 1
        assert snap.snapshot_files(d, 1) == []


def test_delete_where_rewrites_only_hit_files(spark, tmp_path):
    import os

    from spanner_data_validator_spark.sources.snapshots import (
        current_version,
        delete_where,
        read_snapshot,
        snapshot_files,
    )

    t = str(tmp_path / "t")
    snap.commit(spark.range(0, 100).select(F.col("id").alias("k")), t)
    snap.commit(spark.range(100, 200).select(F.col("id").alias("k")), t)
    before_files = set(snapshot_files(t, 2))
    v, n = delete_where(spark, t, F.col("k").between(150, 159))
    assert (v, n) == (3, 10)
    after = read_snapshot(spark, t)
    assert after.count() == 190
    assert after.where(F.col("k").between(150, 159)).count() == 0
    # copy-on-write: the file without matches survives untouched
    untouched = before_files & set(snapshot_files(t, 3))
    assert len(untouched) == 1
    assert all(os.path.exists(f) for f in untouched)
    # time travel still shows the rows at the older version
    assert read_snapshot(spark, t, 2).count() == 200


def test_delete_where_nothing_matched_is_noop(spark, tmp_path):
    from spanner_data_validator_spark.sources.snapshots import (
        current_version,
        delete_where,
    )

    t = str(tmp_path / "t")
    snap.commit(spark.range(10).select(F.col("id").alias("k")), t)
    v, n = delete_where(spark, t, F.col("k") > 999)
    assert (v, n) == (1, 0) and current_version(t) == 1


def test_incremental_scan_raises_on_delete_unless_opted_in(spark, tmp_path):
    import pytest

    from spanner_data_validator_spark.sources.snapshots import (
        delete_where,
        incremental_files,
        read_incremental,
    )

    t = str(tmp_path / "t")
    snap.commit(spark.range(0, 50).select(F.col("id").alias("k")), t)
    delete_where(spark, t, F.col("k") < 5)                      # v2: delete
    snap.commit(spark.range(50, 60).select(F.col("id").alias("k")), t)  # v3
    with pytest.raises(ValueError, match="DELETE snapshot"):
        incremental_files(t, 1, 3)
    # opting in skips the rewrite (no re-emission) but still sees v3's rows
    files = incremental_files(t, 1, 3, skip_deletes=True)
    got = spark.read.parquet(*files)
    assert got.count() == 10
    assert got.agg(F.min("k"), F.max("k")).first() == (50, 59)


def test_schema_evolution_add_column(spark, tmp_path):
    from spanner_data_validator_spark.sources.snapshots import (
        read_incremental,
        read_snapshot,
    )

    t = str(tmp_path / "t")
    snap.commit(spark.range(3).select(F.col("id").alias("k")), t)
    snap.commit(spark.range(3, 6).select(F.col("id").alias("k"),
                                         (F.col("id") * 10).alias("q")), t)
    cur = read_snapshot(spark, t)
    assert set(cur.columns) == {"k", "q"}
    got = {r["k"]: r["q"] for r in cur.collect()}
    # pre-evolution rows read the added column as NULL (Iceberg ADD COLUMN)
    assert got == {0: None, 1: None, 2: None, 3: 30, 4: 40, 5: 50}
    # incremental scan of just the old commit lacks... no: mergeSchema only
    # merges files IN the scan; a v0..v1 scan sees only k
    assert set(read_incremental(spark, t, 0, 1).columns) == {"k"}
    assert set(read_incremental(spark, t, 1, 2).columns) == {"k", "q"}
