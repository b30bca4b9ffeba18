"""Streaming incremental view maintenance: fold a CDC changelog stream into
a materialized aggregate, exactly-once.

Each micro-batch produces view_N = apply_changes(view_{N-1}, batch_N)
(operators/ivm.py) written to an immutable per-batch directory, committed by
an atomic ``streaming.sink.CommitLedger`` marker — the same fencing
discipline as ``streaming.sink.ExactlyOnceParquetSink`` but for REPLACED
state rather than appended rows:

* Structured Streaming replays a failed batch under the SAME batch_id; the
  replay recomputes from the same immutable predecessor view and overwrites
  the same target directory, so a half-written attempt is invisible and a
  double-apply impossible (the previous view is read by COMMITTED id, never
  by directory listing).
* ``latest()`` exposes the current view (max committed id), which is also
  what a downstream reader or the next restart folds from — the checkpoint
  and the view chain advance together.

At scale the per-batch view write is proportional to the VIEW (grouping
cardinality), not the corpus — the whole point of maintaining the aggregate
incrementally. For key spaces too large to rewrite per batch, the same
fencing drives a MERGE INTO an Iceberg view table instead
(streaming/sink.merge_into_iceberg); the chain-of-immutable-versions layout
here is the jar-free equivalent.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.ivm import apply_changes
from spanner_data_validator_spark.streaming.sink import CommitLedger

__all__ = ["ViewMaintenanceSink"]


class ViewMaintenanceSink:
    """``foreachBatch`` callable maintaining a COUNT/SUM view from a
    changelog stream with columns ``keys... , <measure_col>, op``."""

    def __init__(self, spark: SparkSession, out_dir: str, keys: list[str],
                 measure_col: str, key_ddl: str):
        self.spark = spark
        self.out_dir = out_dir
        self.keys = list(keys)
        self.measure_col = measure_col
        self.key_ddl = key_ddl  # e.g. "event_type string"
        self.ledger = CommitLedger(out_dir)

    def _view_path(self, batch_id: int) -> str:
        return os.path.join(self.out_dir, "view", f"batch={batch_id}")

    def _view(self, batch_id: int | None) -> DataFrame:
        """The committed view at ``batch_id`` (empty for None)."""
        if batch_id is None:
            return self.spark.createDataFrame(
                [], f"{self.key_ddl}, n_rows bigint, m_sum bigint")
        return self.spark.read.parquet(self._view_path(batch_id))

    def latest(self) -> DataFrame:
        """The current maintained view (empty before the first commit)."""
        return self._view(self.ledger.latest_before())

    def __call__(self, batch_df: DataFrame | None, batch_id: int) -> None:
        if self.ledger.is_committed(batch_id):
            return  # replay of a committed batch: exactly-once no-op
        prev = self._view(self.ledger.latest_before(batch_id))
        if batch_df is None:
            new = prev
        else:
            new = apply_changes(prev, batch_df, self.keys,
                                F.col(self.measure_col))
        target = self._view_path(batch_id)
        shutil.rmtree(target, ignore_errors=True)  # failed-attempt debris
        new.coalesce(1).write.mode("overwrite").parquet(target)
        self.ledger.commit(batch_id)
