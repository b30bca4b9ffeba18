"""Streaming digest-drift monitor: continuous validation triage in O(windows
× ranges) state instead of O(in-flight keys).

The exact streaming validator (`streaming/validate_stream.py`) holds join
state for every unmatched key inside the watermark+band horizon — at
10^6 turns/s × 2.2 h that is ~8×10^9 state rows cluster-wide. Often the
production question is cheaper: "IS anything diverging, and WHERE?" This
monitor answers it with a watermarked streaming aggregation instead of a
join: each side folds into a per-(event-time window, range) running digest
(count, xor-fold, split 32-bit sums — `operators/digest.range_digest`
semantics), so state is ``open_windows × n_ranges × 2`` rows of ~40 B
regardless of input rate — with 2^16 ranges and a handful of open windows,
megabytes where the join holds hundreds of gigabytes.

Closed windows land in an append sink; comparing the two sides' digests
(`operators/digest.digest_drift` keyed on (window_start, range_id)) names
the windows/ranges that diverged, and `operators/digest.incremental_validate`
(or the exact streaming join, replayed over just those ranges) does the
row-granular classification. Digest equality proves MATCH-ness without ever
pairing rows; the miss probability per range is ~2^-128 (see digest.py).

Both streams can also be unioned (with a ``side`` tag) into ONE query — one
stateful aggregation, one checkpoint — which is what `dual_windowed_digest`
does; per-side filtering happens at read time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.digest import DIGEST_COLS, digest_aggs


def windowed_digest(
    stream: DataFrame,
    range_id: Column,
    fingerprint: Column,
    *,
    window: str = "1 hour",
    ts_col: str = "ts",
    range_col: str = "range_id",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Per-(tumbling window, range) running digest of a watermarked stream.

    Output: ``(window_start, range_col, [extra_keys...,] n_rows, xor_fp,
    sum_lo, sum_hi)``. In append mode a row is emitted once, when the
    watermark closes its window — the digest is then final. The aggregate is
    partial/final (map-side combined); the exchange and the state store carry
    one row per (window, range[, key]), never the stream's rows.
    """
    fp = fingerprint.cast("long")
    extra = extra_keys or []
    return (
        stream.select(
            F.window(F.col(ts_col), window).alias("w"),
            range_id.alias(range_col),
            *[F.col(k) for k in extra],
            fp.alias("__fp"),
        )
        .groupBy("w", range_col, *extra)
        .agg(*digest_aggs(F.col("__fp")))
        .select(F.col("w.start").alias("window_start"), range_col, *extra,
                *DIGEST_COLS)
    )


def dual_windowed_digest(
    src: DataFrame,
    tgt: DataFrame,
    range_id: Column,
    fingerprint: Column,
    *,
    window: str = "1 hour",
    ts_col: str = "ts",
    range_col: str = "range_id",
) -> DataFrame:
    """Both sides through ONE stateful aggregation: the streams are unioned
    with a ``side`` tag and digested per (window, range, side). One
    checkpoint, one state store; split by ``side`` at read time and feed
    `digest_drift(range_col=["window_start", range_col])`.
    """
    tagged = src.withColumn("side", F.lit("source")).unionByName(
        tgt.withColumn("side", F.lit("target"))
    )
    return windowed_digest(
        tagged,
        range_id,
        fingerprint,
        window=window,
        ts_col=ts_col,
        range_col=range_col,
        extra_keys=["side"],
    )
