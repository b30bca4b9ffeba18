"""Streaming Pareto-frontier maintenance: a monotone accumulator sink.

The skyline is a *mergeable monotone summary*: skyline(A ∪ B) =
skyline(skyline(A) ∪ skyline(B)), and a point dominated once is dominated
forever. So a stream's running frontier needs no watermark, no eviction,
and no per-key state store — each micro-batch folds its points into the
tiny stored frontier (dimensions × frontier breadth, not corpus-sized).
Point multiplicities at surviving coordinates add exactly: a point that
survives in the union survived in each side, so summing per-(x, y)
``n_points`` before re-sweeping is exact.

Exactly-once via the same chain-of-immutable-versions fencing as
``ivm_sink.ViewMaintenanceSink``: a replayed batch id recomputes from the
same committed predecessor and lands in the same directory behind an
atomic ``streaming.sink.CommitLedger`` marker, so double-apply is
impossible (critical here — n_points would double).

At 100 TB the per-batch work is one distributed local-prune over the
batch (operators/skyline.pareto_frontier stage 1) plus a merge against a
frontier that is orders of magnitude smaller than the data; the rewrite
cost is proportional to the FRONTIER, never the corpus.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.skyline import (
    pareto_frontier,
    sweep_collapsed,
)
from spanner_data_validator_spark.streaming.sink import CommitLedger

__all__ = ["FrontierMaintenanceSink"]


class FrontierMaintenanceSink:
    """``foreachBatch`` callable maintaining the running skyline of a
    stream with BIGINT objective columns ``x_col``/``y_col`` (minimized)."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 x_col: str, y_col: str):
        self.spark = spark
        self.out_dir = out_dir
        self.x_col, self.y_col = x_col, y_col
        self.ledger = CommitLedger(out_dir)

    def _path(self, batch_id: int) -> str:
        return os.path.join(self.out_dir, "frontier", f"batch={batch_id}")

    def _version(self, batch_id: int | None) -> DataFrame:
        """The committed frontier at ``batch_id`` (empty for None)."""
        if batch_id is None:
            return self.spark.createDataFrame(
                [], "x bigint, y bigint, n_points bigint")
        return self.spark.read.parquet(self._path(batch_id))

    def latest(self) -> DataFrame:
        return self._version(self.ledger.latest_before())

    def __call__(self, batch_df: DataFrame | None, batch_id: int) -> None:
        if self.ledger.is_committed(batch_id):
            return  # replay of a committed batch: exactly-once no-op
        prev = self._version(self.ledger.latest_before(batch_id))
        if batch_df is None or batch_df.isEmpty():
            new = prev
        else:
            batch_sky = pareto_frontier(
                batch_df, F.col(self.x_col).cast("long"),
                F.col(self.y_col).cast("long"))
            # weighted union: n_points rides through stage 1 of the
            # re-sweep by pre-summing per exact point.
            merged = (prev.unionByName(batch_sky)
                      .groupBy("x", "y")
                      .agg(F.sum("n_points").alias("n_points")))
            new = sweep_collapsed(merged)
        target = self._path(batch_id)
        shutil.rmtree(target, ignore_errors=True)  # failed-attempt debris
        new.coalesce(1).write.mode("overwrite").parquet(target)
        self.ledger.commit(batch_id)
