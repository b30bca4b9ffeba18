"""Streaming incremental view maintenance: fold a CDC changelog stream into
a materialized aggregate, exactly-once.

Each micro-batch produces view_N = apply_changes(view_{N-1}, batch_N)
(operators/ivm.py): the maintenance identity agg' = agg + delta holds for
the distributive COUNT/SUM view, so a batch costs one pass over its changes
plus a keyed outer join against the view — never a base scan. The fold
runs inside ``streaming.sink.FoldingParquetSink``, whose batch-id fencing
makes it exactly-once; ``latest()`` is the current view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.ivm import apply_changes
from spanner_data_validator_spark.streaming.sink import FoldingParquetSink

__all__ = ["ViewMaintenanceSink"]


class ViewMaintenanceSink(FoldingParquetSink):
    """``foreachBatch`` callable maintaining a COUNT/SUM view from a
    changelog stream with columns ``keys... , <measure_col>, op``;
    ``key_ddl`` declares the key columns, e.g. ``"event_type string"``."""

    def __init__(self, spark: SparkSession, out_dir: str, keys: list[str],
                 measure_col: str, key_ddl: str):
        super().__init__(spark, out_dir, "view",
                         f"{key_ddl}, n_rows bigint, m_sum bigint",
                         self._apply)
        self.keys = list(keys)
        self.measure_col = measure_col

    def _apply(self, prev: DataFrame, batch_df: DataFrame) -> DataFrame:
        return apply_changes(prev, batch_df, self.keys,
                             F.col(self.measure_col))
