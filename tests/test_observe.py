"""Dataset.observe in-flight metrics (streaming/observe.py)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.streaming.observe import fold_observed

pytestmark = pytest.mark.usefixtures("temp_dirs_in_tmp_path")


def _run(spark, in_dir, files_per_trigger):
    schema = "id long, flag string, v double"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", files_per_trigger)
              .parquet(in_dir))
    obs = stream.observe(
        "m",
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("flag") == "bad").cast("long")).alias("n_bad"),
        F.max("id").alias("max_id"))
    work = tempfile.mkdtemp(prefix="sdv_t_observe_")
    q = (obs.select("id")
         .writeStream.format("noop")
         .option("checkpointLocation", f"{work}/ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return fold_observed(q, "m", sum_cols=["n", "n_bad"], max_cols=["max_id"])


def test_totals_invariant_to_batch_boundaries(spark):
    df = spark.range(400).select(
        "id",
        F.when(F.col("id") % 7 == 0, "bad").otherwise("ok").alias("flag"),
        (F.col("id") * 0.5).alias("v"))
    in_dir = tempfile.mkdtemp(prefix="sdv_t_observe_in_") + "/in"
    df.repartition(4).write.parquet(in_dir)
    one = _run(spark, in_dir, 1)
    two = _run(spark, in_dir, 2)
    assert one["n"] == two["n"] == 400
    assert one["n_bad"] == two["n_bad"] == 58   # ceil(400/7)
    assert one["max_id"] == two["max_id"] == 399
    # boundary-dependent field differs exactly as expected
    assert one["n_batches_with_data"] == 4
    assert two["n_batches_with_data"] == 2


def test_missing_observation_yields_zero_batches(spark):
    class P:  # a progress whose batch carried no observation row
        observedMetrics = {}
    class Q:
        recentProgress = [P(), P()]
    m = fold_observed(Q(), "m", sum_cols=["n"], max_cols=["max_id"])
    assert m == {"n": 0, "max_id": None, "n_batches_with_data": 0}
