"""Streaming validation core: watermarked symmetric full-outer join → classify.

This is the streaming re-expression of the reference's CoGroupByKey match
(JDBCToSpannerDVTWithHash.java:348-353) + CountMatchesDoFn classification
(dofns/CountMatchesDoFn.java:67-122): two watermarked transcript streams are
reduced to (conv_id, turn_idx, fingerprint, ts) and joined with Spark's
StreamingSymmetricHashJoin; rows whose partner never arrives are emitted as
SOURCE_ONLY / TARGET_ONLY when the watermark closes their state.

Scale design (10^12 turns, 1000 executors):

* The join exchanges carry only (conv_id, turn_idx, int64 fingerprint, ts) —
  text/tool payloads are dropped map-side by the fingerprint projection, so
  state-store and shuffle bytes are ~40 B/row regardless of transcript size.
* Join state is keyed by the natural fine-grained key (conv_id, turn_idx):
  hot conversations spread across turn_idx values, so no salting is needed on
  the join itself (AQE skew-join covers residual skew on the batch path; in
  streaming, HDFS/RocksDB state-store partitioning follows the shuffle hash).
* The time-band condition bounds state: a row is evictable once the watermark
  passes ``ts + band``. Watermark delay and band are the ONLY knobs that
  change emission timing — they must be identical across cluster sizes for
  reference-identical outputs (BASELINE.json north_rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spanner_data_validator_spark.functions.fingerprint import fingerprint_turns
from spanner_data_validator_spark.operators.comparator import (
    MATCH,
    MISMATCH,
    classify_status,
)
from spanner_data_validator_spark.sources.transcript_source import (
    KEY_COLS,
    PAYLOAD_COLS,
)


def fingerprint_stream(
    df: DataFrame,
    *,
    algo: str = "xxhash64",
    json_cols: frozenset[str] = frozenset({"tool"}),
) -> DataFrame:
    """Map-side reduction of a (possibly streaming) transcript DF to
    ``(conv_id, turn_idx, fingerprint, ts)``.

    Watermarks survive projections, so applying this after
    ``stream_transcripts(..., watermark=...)`` keeps the event-time watermark
    attached to ``ts``. The projection is ``fingerprint_turns``.
    """
    return fingerprint_turns(df, KEY_COLS, PAYLOAD_COLS, algo=algo,
                             json_cols=json_cols, ts_col="ts")


def classify_stream(
    src_fp: DataFrame,
    tgt_fp: DataFrame,
    *,
    band: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join on (conv_id, turn_idx).

    ``band`` is the time-range condition required for streaming outer joins:
    a pair only matches when ``|src.ts - tgt.ts| <= band``, and state for a
    row is dropped (emitting the outer null) once the watermark passes
    ``ts + band``. Works identically on batch DataFrames (Catalyst just
    constant-folds the band into the join condition), which is how the
    batch-vs-streaming equivalence tests run the same code path.

    Output: ``conv_id, turn_idx, status, src_fp, tgt_fp, src_ts, tgt_ts, ts``.
    """
    s = src_fp.select(
        F.col("conv_id").alias("s_conv_id"),
        F.col("turn_idx").alias("s_turn_idx"),
        F.col("fingerprint").alias("src_fp"),
        F.col("ts").alias("src_ts"),
    )
    t = tgt_fp.select(
        F.col("conv_id").alias("t_conv_id"),
        F.col("turn_idx").alias("t_turn_idx"),
        F.col("fingerprint").alias("tgt_fp"),
        F.col("ts").alias("tgt_ts"),
    )
    cond = F.expr(
        "s_conv_id = t_conv_id AND s_turn_idx = t_turn_idx "
        f"AND tgt_ts >= src_ts - INTERVAL {band} "
        f"AND tgt_ts <= src_ts + INTERVAL {band}"
    )
    joined = s.join(t, cond, "full_outer")
    return joined.select(
        F.coalesce(F.col("s_conv_id"), F.col("t_conv_id")).alias("conv_id"),
        F.coalesce(F.col("s_turn_idx"), F.col("t_turn_idx")).alias("turn_idx"),
        classify_status("src_fp", "tgt_fp").alias("status"),
        F.col("src_fp"),
        F.col("tgt_fp"),
        F.col("src_ts"),
        F.col("tgt_ts"),
        F.coalesce(F.col("tgt_ts"), F.col("src_ts")).alias("ts"),
    )


def windowed_status_counts(
    classified: DataFrame,
    *,
    window_duration: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) event-time window × status
    counts — the streaming analogue of the reference's five Count.perKey
    (JDBCToSpannerDVTWithHash.java:367-391) collapsed into one hash aggregate.

    Batch path: same expression. Streaming path: Spark's chained-stateful
    support requires windowing on a watermark-propagated column, but the
    classified stream's event time is ``coalesce(tgt_ts, src_ts)`` (either
    side may be null after a full outer join), which loses watermark
    attribution — and re-calling withWatermark after a stateful operator is
    disallowed. The production streaming tally therefore runs this function
    on read over the classified rows the exactly-once sink committed
    (sink.TallyForeachBatch.report — proven equal to the batch expression in
    tests/test_streaming.py::test_windowed_tallies_match_batch). Windowing a
    SINGLE watermarked stream with this function works natively.
    """
    return (
        classified.groupBy(F.window("ts", window_duration, slide).alias("w"), "status")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "status",
            "n",
        )
    )


def session_mismatch_windows(
    classified: DataFrame, *, gap: str = "30 minutes"
) -> DataFrame:
    """Per-conversation session windows (gap on ts) over non-MATCH rows —
    'which conversations diverged, and in which activity burst'.
    """
    return (
        classified.where(F.col("status") != MATCH)
        .groupBy(F.col("conv_id"), F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_diverged"),
            F.sum(F.when(F.col("status") == MISMATCH, 1).otherwise(0)).alias(
                "n_mismatch"
            ),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_diverged",
            "n_mismatch",
        )
    )
