"""Exactly-once idempotent sinks for the validation streams.

Production target: Iceberg ``MERGE INTO`` keyed ``(conv_id, turn_idx,
window_start)`` inside ``foreachBatch`` — replaying a micro-batch after a
crash re-merges the same keys and the table converges to the same state
(SURVEY.md §7.1 milestone 8; the Spark-native upgrade of the reference's
append-only BigQuery STORAGE_WRITE_API sink,
JDBCToSpannerDVTWithHash.java:191-246, which is NOT exactly-once).

Jar-free implementation (no Iceberg catalog on the session): the same
``foreachBatch`` driver fenced by batch id, needing no table format. On
disk::

    <out>/_commits/<id>           one JSON marker per committed batch
    <out>/<table>/batch=<id>/     that batch's parquet, one dir per table

* **one marker per batch** — Structured Streaming replays a failed
  micro-batch with the SAME ``batch_id``. A batch first stages every
  table's directory (overwrite), then :class:`CommitLedger` publishes
  ``_commits/<id>`` with one atomic ``os.replace``. Readers only see
  marker-backed batches, so a crash anywhere before the marker leaves
  every table of the batch invisible, and a replay of a committed id is a
  no-op.
* **one Spark job per table** — each write counts its own rows with a
  ``pyspark.sql.Observation`` on the write job; nothing is read back.
* the directory layout doubles as the MERGE key space: one row per
  (conv_id, turn_idx) ever reaches the sink in append mode (the outer join
  emits each key's final classification exactly once), so key-level merge
  reduces to batch-level idempotent append.

:class:`TallyForeachBatch` is the validation stream's sink: it stages only
the classified rows, with per-status counts in the marker, and derives the
per-window report and the mismatch rows from them on read;
:class:`ExactlyOnceParquetSink` is the one-table case;
:class:`FoldingParquetSink` keeps replaced state instead of appended rows
(batch N commits ``fold(state N-1, batch N)``) — the streaming frontier
and view maintenance sinks are its folds. The reference
writes its report and conflicting rows as two independent sinks
(JDBCToSpannerDVTWithHash.java:393-415, 468-469) with no such atomicity.
``merge_into_iceberg`` is the real-cluster path, exercised when an Iceberg
catalog is configured on the session.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.comparator import MATCH, STATUSES
from spanner_data_validator_spark.streaming.validate_stream import (
    windowed_status_counts,
)


class CommitLedger:
    """The ``<out>/_commits/`` marker directory of one exactly-once sink.

    A batch is committed iff ``_commits/<id>`` exists. Markers are
    published atomically (``<id>.tmp`` then ``os.replace``) and carry a
    metadata dict; only all-digit names count as markers, so in-flight
    ``.tmp`` files and foreign files (NFS ``.nfs*`` handles, editor
    backups) are ignored.
    """

    def __init__(self, out_dir: str):
        self.dir = os.path.join(out_dir, "_commits")
        os.makedirs(self.dir, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.dir, str(batch_id))

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def committed_ids(self) -> list[int]:
        return sorted(int(n) for n in os.listdir(self.dir) if n.isdecimal())

    def commit(self, batch_id: int, meta: dict | None = None) -> None:
        tmp = self._marker(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, **(meta or {})}, f)
        os.replace(tmp, self._marker(batch_id))  # the ONE atomic commit point

    def meta(self, batch_id: int) -> dict | None:
        """The metadata committed with ``batch_id``, or None if uncommitted."""
        try:
            with open(self._marker(batch_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def latest_before(self, batch_id: int | None = None) -> int | None:
        """The newest committed id below ``batch_id`` (below none when
        ``batch_id`` is None), or None if there is none."""
        ids = [i for i in self.committed_ids()
               if batch_id is None or i < batch_id]
        return ids[-1] if ids else None


class AtomicMultiParquetSink:
    """Batch-fenced parquet sink where ONE commit marker covers N tables.

    Every table's batch directory is STAGED first, then the single
    ``_commits/<id>`` marker is the only publication point: readers gate
    every table on it, so all tables of a batch become visible together or
    not at all. Replays overwrite the same staged dirs and re-create the
    same marker — idempotent. On Iceberg the equivalent is a single
    multi-table transaction (or one table with a type column).
    """

    def __init__(self, out_dir: str, tables: list[str]):
        if not tables:
            raise ValueError("at least one table is required")
        self.out_dir = out_dir
        self.tables = list(tables)
        self.ledger = CommitLedger(out_dir)

    def is_committed(self, batch_id: int) -> bool:
        return self.ledger.is_committed(batch_id)

    def data_path(self, table: str, batch_id: int) -> str:
        return os.path.join(self.out_dir, table, f"batch={batch_id}")

    def committed_rows(self, batch_id: int) -> dict[str, int] | None:
        meta = self.ledger.meta(batch_id)
        return None if meta is None else meta["rows"]

    @staticmethod
    def _write(df: DataFrame, target: str, **metrics: Column) -> dict:
        """Write ``df`` to ``target`` in ONE Spark job. Returns the row count
        (``rows``) and each of ``metrics``, all observed on that job; an
        empty write leaves no directory."""
        obs = Observation()
        (df.observe(obs, F.count(F.lit(1)).alias("rows"),
                    *(c.alias(k) for k, c in metrics.items()))
           .write.mode("overwrite").parquet(target))
        got = obs.get
        if got["rows"] == 0:
            shutil.rmtree(target, ignore_errors=True)
        return got

    # stage/commit split so tests can prove both-or-neither by crashing
    # between the two steps
    def _write_data(self, batch_id: int,
                    frames: dict[str, DataFrame | None]) -> dict[str, int]:
        unknown = set(frames) - set(self.tables)
        if unknown:
            raise ValueError(f"unknown tables: {sorted(unknown)}")
        return {table: 0 if df is None
                else self._write(df, self.data_path(table, batch_id))["rows"]
                for table, df in frames.items()}

    def write_batch(self, batch_id: int,
                    frames: dict[str, DataFrame | None]) -> dict[str, int] | None:
        """Stage every table's batch, then commit once. Returns per-table
        rows written, or None for a replayed already-committed batch."""
        if self.is_committed(batch_id):
            return None
        rows = self._write_data(batch_id, frames)
        self.ledger.commit(batch_id, {"rows": rows})
        return rows

    def read_committed(self, spark: SparkSession, table: str,
                       schema: str | None = None) -> DataFrame | None:
        """Exactly the marker-backed batches of one table — a batch whose
        marker is missing is invisible for EVERY table. With a DDL
        ``schema`` the read runs no schema-inference job."""
        if table not in self.tables:
            raise ValueError(f"unknown table: {table}")
        paths = [self.data_path(table, i)
                 for i in self.ledger.committed_ids()
                 if self.committed_rows(i).get(table, 0) > 0]
        if not paths:
            return None
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*paths)


class ExactlyOnceParquetSink(AtomicMultiParquetSink):
    """``foreachBatch`` callable appending each micro-batch to
    ``<out>/data/batch=<id>`` — the one-table case of
    :class:`AtomicMultiParquetSink`."""

    def __init__(self, out_dir: str):
        super().__init__(out_dir, ["data"])

    def __call__(self, batch_df: DataFrame | None, batch_id: int) -> int | None:
        """Write one micro-batch; returns rows written, or None on a
        replayed already-committed batch (skipped — exactly-once)."""
        rows = self.write_batch(batch_id, {"data": batch_df})
        return None if rows is None else rows["data"]

    def read_committed(self, spark: SparkSession,
                       table: str = "data") -> DataFrame | None:
        return super().read_committed(spark, table)


class TallyForeachBatch(AtomicMultiParquetSink):
    """The validation stream's ``foreachBatch`` sink: each micro-batch's
    classified rows staged as ``classified/batch=<id>`` and published by ONE
    commit marker, in ONE Spark job.

    The marker records the batch's row count, its per-status counts and
    the classified schema as DDL (``{"rows": {"classified": n}, "status":
    {"MATCH": n, ...}, "schema": "conv_id STRING, ..."}``), the counts
    observed on the write job itself. The committed rows are read with that
    schema, so reading them runs no schema-inference job; markers without
    one (older layouts) are read by inference. The per-window report and
    the mismatch rows are derived from the committed classified rows on
    read. Because the append-mode outer join emits each (conv_id, turn_idx)
    exactly once across the query's lifetime, the committed rows are the
    whole classified output, so the report equals the batch report on the
    same input.

    Directories written with the older three-table layout (``tallies`` and
    ``mismatches`` staged next to ``classified`` under the same marker) read
    the same: only ``classified`` is read.
    """

    def __init__(self, out_dir: str, *, window_duration: str = "1 hour"):
        super().__init__(out_dir, ["classified"])
        self.window_duration = window_duration
        # the state layout of the query feeding the sink, as
        # run_streaming_validation ran it
        self.state_store: str | None = None
        self.state_partitions: int | None = None
        self.projected_keys: int | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return  # replay of a committed batch: exactly-once no-op
        status = self._write(
            batch_df, self.data_path("classified", batch_id),
            **{s: F.count_if(F.col("status") == s) for s in STATUSES})
        rows = status.pop("rows")
        self.ledger.commit(batch_id, {"rows": {"classified": rows},
                                      "status": status,
                                      "schema": batch_df.schema.toDDL()})

    def read_rows(self, spark: SparkSession) -> DataFrame | None:
        schemas = {self.ledger.meta(i).get("schema")
                   for i in self.ledger.committed_ids()}
        schema = schemas.pop() if len(schemas) == 1 else None
        return self.read_committed(spark, "classified", schema)

    def read_mismatches(self, spark: SparkSession) -> DataFrame | None:
        rows = self.read_rows(spark)
        return None if rows is None else rows.where(F.col("status") != MATCH)

    def report(self, spark: SparkSession) -> DataFrame | None:
        """Per-window status counts ``(window_start, status, n)`` over the
        committed classified rows."""
        rows = self.read_rows(spark)
        if rows is None:
            return None
        return windowed_status_counts(
            rows, window_duration=self.window_duration
        ).select("window_start", "status", "n")


class FoldingParquetSink(AtomicMultiParquetSink):
    """``foreachBatch`` callable maintaining REPLACED state rather than
    appended rows: committed batch N holds ``fold(prev, batch N)``, where
    ``prev`` is the state at the newest committed id below N. ONE table of
    :class:`AtomicMultiParquetSink`, so each state is written in one Spark
    job and published by the one ``_commits/<id>`` marker.

    * Structured Streaming replays a failed batch under the SAME batch id;
      the replay folds onto the same committed predecessor (read by
      committed id, never by directory listing) and overwrites the same
      staged directory, so a half-written attempt is invisible and a
      double-apply is impossible — a fold that adds counts would otherwise
      double them.
    * :meth:`latest` is the newest committed state: what a downstream
      reader sees and what the next batch after a restart folds onto, so
      the checkpoint and the chain of states advance together.
    * ``batch_df=None`` carries ``prev`` forward. An empty state leaves no
      directory (the marker records ``rows`` 0) and reads back as an empty
      frame of ``schema``; states are always read with the declared DDL
      ``schema``, so reading one runs no schema-inference job.

    Each batch rewrites the whole STATE, so its cost scales with the state
    (a frontier, a grouping's cardinality), never with the corpus. For
    states too large to rewrite per batch, the same fencing drives a
    MERGE INTO an Iceberg table instead (:func:`merge_into_iceberg`).
    """

    def __init__(self, spark: SparkSession, out_dir: str, table: str,
                 schema: str,
                 fold: Callable[[DataFrame, DataFrame], DataFrame]):
        super().__init__(out_dir, [table])
        self.spark = spark
        self.table = table
        self.schema = schema
        self.fold = fold

    def _state(self, batch_id: int | None) -> DataFrame:
        """The committed state at ``batch_id`` (empty for None)."""
        if batch_id is not None:
            rows = self.ledger.meta(batch_id).get("rows")
            # markers without row counts (the older layout, one state
            # directory for every committed id) are read like nonzero ones
            if rows is None or rows[self.table] > 0:
                return (self.spark.read.schema(self.schema)
                        .parquet(self.data_path(self.table, batch_id)))
        return self.spark.createDataFrame([], self.schema)

    def latest(self) -> DataFrame:
        """The newest committed state (empty before the first commit)."""
        return self._state(self.ledger.latest_before())

    def __call__(self, batch_df: DataFrame | None, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return  # replay of a committed batch: exactly-once no-op
        prev = self._state(self.ledger.latest_before(batch_id))
        new = prev if batch_df is None else self.fold(prev, batch_df)
        self.write_batch(batch_id, {self.table: new})


def build_merge_sql(table: str, view: str, key_cols: list[str]) -> str:
    """The exactly-once upsert statement the Iceberg sink executes per batch.

    Null-safe key equality (``<=>``) so a NULL key component still matches
    its own row on replay; UPDATE+INSERT * makes a replayed batch converge to
    the same table state (same keys re-written with the same values) — the
    MERGE-level analogue of the parquet sink's batch-id fencing.
    """
    if not key_cols:
        raise ValueError("MERGE requires at least one key column")
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in key_cols)
    return (
        f"MERGE INTO {table} t USING {view} s ON {on}\n"
        "WHEN MATCHED THEN UPDATE SET *\n"
        "WHEN NOT MATCHED THEN INSERT *"
    )


def merge_as_delete_insert_sql(table: str, view: str,
                               key_cols: list[str]) -> list[str]:
    """The MERGE's exact upsert semantics as two standard statements, for
    engines without MERGE INTO (the DuckDB equivalence test, plain-JDBC
    fallback sinks): UPDATE SET * on a matched key ≡ delete the matched row
    and insert the source row, so

        DELETE FROM t USING s WHERE <null-safe key equality>;
        INSERT INTO t SELECT * FROM s;

    converges to the same table state as :func:`build_merge_sql` whenever
    the batch has unique keys — which the validation stream guarantees (the
    append-mode outer join emits each key once). Replaying the pair is
    idempotent for the same reason the MERGE is: the second DELETE removes
    exactly what the first INSERT added. Proven against DuckDB in
    tests/test_streaming.py::test_merge_semantics_duckdb_convergence.
    """
    if not key_cols:
        raise ValueError("MERGE requires at least one key column")
    on = " AND ".join(f"{table}.{k} IS NOT DISTINCT FROM s.{k}"
                      for k in key_cols)
    return [
        f"DELETE FROM {table} USING {view} s WHERE {on}",
        f"INSERT INTO {table} SELECT * FROM {view}",
    ]


def merge_into_iceberg(
    batch_df: DataFrame,
    table: str,
    key_cols: list[str],
) -> None:
    """Iceberg ``MERGE INTO`` upsert for one micro-batch (real-cluster path).

    Requires an Iceberg catalog on the SparkSession — no Iceberg runtime jar
    ships in this sandbox, so the statement construction is contract-tested
    (tests/test_streaming.py) and the batch-fenced parquet sink above is the
    executed stand-in; see README "Iceberg surfaces". Keys
    ``(conv_id, turn_idx, window_start)`` per the target pipeline.
    """
    spark = batch_df.sparkSession
    view = f"__merge_src_{abs(hash(table)) % 10_000}"
    batch_df.createOrReplaceTempView(view)
    spark.sql(build_merge_sql(table, view, key_cols))
