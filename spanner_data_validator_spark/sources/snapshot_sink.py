"""Python DataSource WRITER committing atomically into a snapshot table.

The write path of the ``sources/snapshots.py`` table format through
Spark's sink seam (``df.write.format("sdv_snapshot_commit")``), with the
real two-phase commit protocol a production sink needs:

* each task streams its Arrow batches into its own parquet file under the
  table's ``data/pending-…`` area and returns a commit message naming the
  file (``DataSourceArrowWriter`` — zero per-row Python);
* the DRIVER's ``commit`` registers every task's file as ONE new snapshot
  via :func:`snapshots.commit_files` — the rename-then-flip-version-hint
  step makes the whole write visible atomically;
* ``abort`` deletes the pending files; and because readers resolve scans
  through manifests only, files from failed/zombie tasks are invisible
  even if abort never runs — the same orphan-tolerance Iceberg gets from
  its metadata tree;
* a streaming commit records its micro-batch id in that same snapshot
  metadata, so a replay of a published batch finds it there and skips.

Reference analogue: the BigQuery conflicting-record sinks
(`JDBCToSpannerDVTWithHash.java:191-246`) — there the warehouse provides
the atomic commit; here the table format does.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

SINK_NAME = "sdv_snapshot_commit"


@dataclass
class _FileMsg(WriterCommitMessage):
    path: str | None
    rows: int


class _SnapshotCommitWriter(DataSourceArrowWriter):
    def __init__(self, options: dict):
        self.table_dir = options["table_dir"]

    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.parquet as pq

        out_dir = os.path.join(self.table_dir, "data",
                               f"pending-{uuid.uuid4().hex[:12]}")
        writer = None
        path = os.path.join(out_dir, "part.parquet")
        rows = 0
        for batch in iterator:
            if writer is None:
                os.makedirs(out_dir, exist_ok=True)
                writer = pq.ParquetWriter(path, batch.schema)
            writer.write_table(pa.Table.from_batches([batch]))
            rows += batch.num_rows
        if writer is None:
            return _FileMsg(None, 0)  # empty partition: no file, no entry
        writer.close()
        return _FileMsg(path, rows)

    def commit(self, messages):
        from spanner_data_validator_spark.sources import snapshots as snap

        files = [m.path for m in messages if m is not None and m.path]
        # an all-empty write still commits (an empty snapshot), so save()
        # always advances the version — the Iceberg empty-append behavior
        snap.commit_files(self.table_dir, files)

    def abort(self, messages):
        import shutil

        for m in messages:
            if m is not None and m.path:
                shutil.rmtree(os.path.dirname(m.path), ignore_errors=True)


class _SnapshotStreamCommitWriter(DataSourceStreamArrowWriter,
                                  _SnapshotCommitWriter):
    """Streaming sink: one micro-batch = one snapshot commit, EXACTLY ONCE.

    The engine replays a logged-but-uncommitted micro-batch after recovery
    under the SAME batch id. Each commit records its batch id in the
    snapshot metadata (``stream_batch_id``), written by the same atomic
    rename that publishes the snapshot, so there is no window in which the
    data is visible but the batch is not recorded. A commit whose id is not
    above the current snapshot's ``stream_batch_id`` is a replay and skips —
    the same batch-id fencing discipline as
    ``streaming/sink.TallyForeachBatch``, implemented at the table-format
    layer. The replay's fresh pending files become orphans, which readers
    never see (manifest-resolved scans).
    """

    # the abstract streaming `write` precedes the batch implementation in
    # the MRO — delegate explicitly (same per-task pending-file protocol)
    def write(self, iterator):
        return _SnapshotCommitWriter.write(self, iterator)

    def commit(self, messages, batchId: int) -> None:
        from spanner_data_validator_spark.sources import snapshots as snap

        last = snap.stream_batch_id(self.table_dir)
        if last is not None and batchId <= last:
            self.abort(messages, batchId)  # replay: drop the fresh files
            return
        files = [m.path for m in messages if m is not None and m.path]
        if files:
            snap.commit_files(self.table_dir, files, stream_batch_id=batchId)

    def abort(self, messages, batchId: int) -> None:
        _SnapshotCommitWriter.abort(self, messages)


class SnapshotCommitDataSource(DataSource):
    """``df.write.format("sdv_snapshot_commit").option("table_dir", d)
    .mode("append").save()`` — one save() call = one atomic snapshot.
    ``df.writeStream.format("sdv_snapshot_commit")`` — one micro-batch =
    one batch-id-fenced snapshot commit."""

    @classmethod
    def name(cls) -> str:
        return SINK_NAME

    def writer(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "snapshot commits are append-only; use a fresh table_dir "
                "instead of overwrite")
        return _SnapshotCommitWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):
        return _SnapshotStreamCommitWriter(self.options)


def register(spark) -> None:
    """Idempotent registration with a SparkSession."""
    spark.dataSource.register(SnapshotCommitDataSource)
