"""Streaming Pareto-frontier maintenance: a monotone accumulator sink.

The skyline is a *mergeable monotone summary*: skyline(A ∪ B) =
skyline(skyline(A) ∪ skyline(B)), and a point dominated once is dominated
forever. So a stream's running frontier needs no watermark, no eviction,
and no per-key state store — each micro-batch folds its points into the
tiny stored frontier (dimensions × frontier breadth, not corpus-sized).
Point multiplicities at surviving coordinates add exactly: a point that
survives in the union survived in each side, so summing per-(x, y)
``n_points`` before re-sweeping is exact.

The fold runs inside ``streaming.sink.FoldingParquetSink``, whose
batch-id fencing makes it exactly-once (critical here — a double-applied
batch would double ``n_points``).

At 100 TB the per-batch work is one distributed local-prune over the
batch (operators/skyline.pareto_frontier stage 1) plus a merge against a
frontier that is orders of magnitude smaller than the data; the rewrite
cost is proportional to the FRONTIER, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.skyline import (
    pareto_frontier,
    sweep_collapsed,
)
from spanner_data_validator_spark.streaming.sink import FoldingParquetSink

__all__ = ["FrontierMaintenanceSink"]


class FrontierMaintenanceSink(FoldingParquetSink):
    """``foreachBatch`` callable maintaining the running skyline of a
    stream with BIGINT objective columns ``x_col``/``y_col`` (minimized)."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 x_col: str, y_col: str):
        super().__init__(spark, out_dir, "frontier",
                         "x bigint, y bigint, n_points bigint", self._merge)
        self.x_col, self.y_col = x_col, y_col

    def _merge(self, prev: DataFrame, batch_df: DataFrame) -> DataFrame:
        batch_sky = pareto_frontier(
            batch_df, F.col(self.x_col).cast("long"),
            F.col(self.y_col).cast("long"))
        # weighted union: n_points rides through stage 1 of the re-sweep by
        # pre-summing per exact point.
        return sweep_collapsed(prev.unionByName(batch_sky)
                               .groupBy("x", "y")
                               .agg(F.sum("n_points").alias("n_points")))
