"""Streaming source that TAILS a snapshot-versioned table: offsets are
snapshot versions, micro-batches are manifest file-set differences.

This is the Iceberg streaming-read model the north star names ("consumes
two Iceberg incremental-scan streams"), implemented over
``sources/snapshots.py`` tables through the Python DataSource seam:

* ``latestOffset``  — the table's current committed version (read from the
  durable version hint; uncommitted data files are invisible because
  admission is manifest-driven, never directory-listing-driven — the
  atomicity property a raw file stream lacks).
* ``partitions(a, b)`` — one input partition per data file added between
  snapshots a and b (the manifest set difference). Files are immutable,
  so a replayed batch regenerates byte-identical rows.
* ``read(part)``    — the executor reads its parquet file via pyarrow and
  yields Arrow record batches (zero per-row Python).

Offsets derive from durable manifests, so restart semantics are trivial
compared to the generator source (``pyds._StreamReader``'s measured
high-water dance): any (a, b] range the engine replays from its offset
log yields exactly the same rows, and a committed batch is never
re-admitted because the engine's checkpoint, not process state, owns the
cursor. ``versions_per_trigger`` caps how many snapshots one micro-batch
absorbs (the Iceberg ``max-files-per-micro-batch`` analogue).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from spanner_data_validator_spark.sources.pyds import (
    drain_to_offset,
    load_offset_file,
    store_offset_file,
)

SOURCE_NAME = "sdv_snapshot_tail"


@dataclass
class _File(InputPartition):
    path: str


class _SnapshotTailReader(DataSourceStreamReader):
    """RESTART CONTRACT (the pyds lesson, measured there and here): after a
    recovery the engine opens its next NEW batch from the fresh reader's
    ``latestOffset`` — if that falls behind the checkpointed offset, the
    new batch RE-COVERS committed snapshots under a new batch id and the
    sink cannot dedup it (70 duplicated rows in the first version of this
    test). A replay of the last logged-UNCOMMITTED batch is always safe
    (same batch id — the file sink's metadata dedups it); only the pacing
    cursor must never rewind. So:

    * with ``cursor_file`` (point it inside the query's checkpoint dir):
      ``commit`` persists the engine-committed version; a restarted reader
      resumes pacing from there — versions_per_trigger preserved across
      restarts;
    * without it: the first poll of a fresh reader admits EVERYTHING
      outstanding (cur), trading pacing for unconditional correctness.
    """

    def __init__(self, options: dict):
        self.table_dir = options["table_dir"]
        self.vpt = int(options.get("versions_per_trigger", "1"))
        self.cursor_file = options.get("cursor_file")
        # None = unknown position (fresh process, no file)
        self._last = (load_offset_file(self.cursor_file)
                      if self.cursor_file else None)

    def initialOffset(self) -> dict:
        return {"v": 0}

    def latestOffset(self) -> dict:
        from spanner_data_validator_spark.sources import snapshots as snap

        cur = snap.current_version(self.table_dir)
        if self.vpt <= 0 or self._last is None:
            self._last = cur
            return {"v": cur}
        nxt = min(cur, self._last + self.vpt)
        self._last = max(self._last, nxt)
        return {"v": nxt}

    def partitions(self, start: dict, end: dict):
        from spanner_data_validator_spark.sources import snapshots as snap

        s, e = int(start["v"]), int(end["v"])
        if e <= s:
            return []
        # operation-aware walk: REPLACE (compaction) snapshots are skipped,
        # so table maintenance never re-emits rows into the stream
        return [_File(p)
                for p in snap.incremental_files(self.table_dir, s, e)]

    def read(self, part: _File):
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(part.path)
        # Spark maps tz-naive Arrow timestamps to TIMESTAMP_NTZ, which
        # withWatermark rejects (CLAUDE.md gotcha); parquet INT96/naive
        # micros are UTC-adjusted by the writer, so reinterpreting them as
        # UTC is exact
        fields = []
        changed = False
        for f in t.schema:
            if pa.types.is_timestamp(f.type):
                # INT96 reads back as NANOSECOND, which Spark's Arrow
                # bridge rejects — normalize to tz-aware microseconds
                unit = "us" if f.type.unit == "ns" else f.type.unit
                tz = f.type.tz or "UTC"
                if (unit, tz) != (f.type.unit, f.type.tz):
                    fields.append(pa.field(f.name, pa.timestamp(unit, tz=tz)))
                    changed = True
                    continue
            fields.append(f)
        if changed:
            t = t.cast(pa.schema(fields))
        yield from t.to_batches()

    def commit(self, end: dict) -> None:
        # manifests are durable and the engine's checkpoint owns progress;
        # the cursor file only preserves versions_per_trigger pacing (and
        # forward-only admission) across reader restarts
        if self.cursor_file:
            v = int(end["v"])
            if self._last is None or v > self._last:
                self._last = max(self._last or 0, v)
            store_offset_file(self.cursor_file, v)


class SnapshotTailDataSource(DataSource):
    """``spark.readStream.format("sdv_snapshot_tail")`` over a
    ``sources/snapshots.py`` table.

    Options: ``table_dir`` (required), ``schema`` (DDL string, required —
    parquet schema authority stays with the committed files),
    ``versions_per_trigger`` (snapshots admitted per micro-batch; <= 0
    means all available)."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return self.options["schema"]

    def streamReader(self, schema):
        return _SnapshotTailReader(self.options)


def register(spark) -> None:
    """Idempotent registration with a SparkSession."""
    spark.dataSource.register(SnapshotTailDataSource)


def drain_to_version(query, target_version: int, *,
                     timeout_s: float = 300.0, poll_s: float = 0.25) -> None:
    """:func:`pyds.drain_to_offset` on the snapshot version ``v``: stop once
    EVERY source reached ``target_version`` and a no-data trigger followed."""
    drain_to_offset(query, target_version, "v",
                    timeout_s=timeout_s, poll_s=poll_s)
