"""Shuffle-free validation over pre-bucketed tables (the 10^12-turn path).

At full scale the ONE unavoidable cost in the validation plan is the join
shuffle: both sides exchange (key, fingerprint, ts) hash-partitioned on the
key. When the same corpus is validated repeatedly (daily reconciliation, the
reference's recurring-run mode), that shuffle can be paid ONCE at write time:
store both sides as tables bucketed by the full join key
``(conv_id, turn_idx)`` with the same bucket count, and every subsequent
validation join is bucket-local — EnsureRequirements inserts NO Exchange on
either side.

This is Spark's equivalent of co-located tables; on a 1000-executor cluster
it removes the all-to-all network phase entirely (reads are node-local after
the first run with consistent bucketing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# NOTE: jobs.validate_transcripts imports sources.transcript_source, and this
# module is re-exported from sources/__init__ — importing the job at module
# level would make the package graph circular (it breaks exactly when a
# foreachBatch callback thread re-imports the package mid-initialization),
# so the validation import lives inside validate_bucketed.


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    buckets: int = 32,
    bucket_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    json_cols: frozenset[str] = frozenset({"tool"}),
) -> None:
    """Persist one side as a parquet table bucketed (and sorted) by key.

    Two rules make the later join exchange-free:

    * bucket on the FULL join key — since Spark 3.3,
      ``spark.sql.requireAllClusterKeysForCoPartition`` defaults true, so a
      join only skips the exchange when both sides' bucketing covers every
      join key (bucketing by conv_id alone still shuffles);
    * JSON columns are normalized HERE, once, at write time — an
      ArrowEvalPython node does not propagate the scan's bucketed output
      partitioning, so a read-time normalizer UDF would reintroduce both
      exchanges. Normalization output is not valid JSON, so re-normalizing
      at read time would be a no-op anyway; validate_bucketed fingerprints
      the stored columns verbatim.
    """
    from spanner_data_validator_spark.functions.fingerprint import (
        normalize_json_udf,
    )
    from pyspark.sql import functions as F

    for c in json_cols:
        if c in df.columns:
            df = df.withColumn(c, normalize_json_udf(F.col(c)))
    (df.write.mode("overwrite").format("parquet")
       .bucketBy(buckets, *bucket_cols)
       .sortBy(*sort_cols)
       .saveAsTable(table))


def validate_bucketed(
    spark: SparkSession,
    source_table: str,
    target_table: str,
    *,
    algo: str = "xxhash64",
    band: str = "2 hours",
) -> DataFrame:
    """``classify_transcripts`` over two bucketed tables: one row per key,
    then the full-outer classify. JSON columns were normalized at write
    time, so the whole plan is JVM expressions over the bucketed scans; the
    per-side aggregate and the join both reuse the bucketing and the plan
    contains no Exchange (asserted in tests/test_bucketed.py)."""
    from spanner_data_validator_spark.jobs.validate_transcripts import (
        classify_transcripts,
    )

    return classify_transcripts(spark.table(source_table),
                                spark.table(target_table),
                                algo=algo, band=band, json_cols=frozenset())
