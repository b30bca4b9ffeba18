"""Stateful classification via ``applyInPandasWithState``.

Alternative to the built-in stream-stream outer join (validate_stream.py)
giving *explicit* control over when SOURCE_ONLY / TARGET_ONLY rows emit —
the reference-exact semantics of CountMatchesDoFn (dofns/CountMatchesDoFn
.java:67-122) where a key is classified once both sides were seen, or
declared one-sided when the range read completes; here "read completes"
becomes "event-time watermark passes ts + band" (SURVEY.md §7.1 milestone 5).

Input: the two fingerprinted streams, watermarked on ``ts``, tagged with a
``side`` column ('source' | 'target') and unioned here. Grouping key:
(conv_id, turn_idx) — the state store shards by the same hash partitioning
as the join-based variant, so hot conversations spread across turn_idx.

State per key (GroupStateTimeout.EventTimeTimeout):
    (src_fp, tgt_fp, done, max_ts_ms)

* row arrives → fold min-fingerprint-per-side (the deterministic
  first-element rule, CountMatchesDoFn.java:73-80 / comparator.dedup_first);
  both sides present & not yet emitted → emit MATCH / MISMATCH *immediately*
  (lower latency than the outer join, which holds matched pairs until the
  band expires on the slower side).
* event-time timeout fires (watermark > max_ts + band) → if never paired,
  emit SOURCE_ONLY / TARGET_ONLY; state removed either way.

Everything crossing the Python boundary is Arrow-batched; per-group work is
a few numpy/pandas ops on pre-reduced (key, fingerprint) rows — no payload
bytes reach Python.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("src_fp", T.LongType()),
        T.StructField("tgt_fp", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("src_fp", T.LongType()),
        T.StructField("tgt_fp", T.LongType()),
        T.StructField("done", T.BooleanType()),
        T.StructField("max_ts_ms", T.LongType()),
    ]
)


def _emit(key: Tuple[Any, ...], status: str, src_fp, tgt_fp, ts_ms: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": [key[0]],
            "turn_idx": pd.array([key[1]], dtype="int32"),
            "status": [status],
            "src_fp": pd.array([src_fp], dtype="Int64"),
            "tgt_fp": pd.array([tgt_fp], dtype="Int64"),
            "ts": [pd.Timestamp(ts_ms, unit="ms")],
        }
    )


def make_classifier(band_ms: int = 7_200_000):
    """Build the per-group state function with a fixed expiry band."""

    def classify(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            src_fp, tgt_fp, done, max_ts_ms = state.get
            state.remove()
            if not done:
                status = "SOURCE_ONLY" if tgt_fp is None else "TARGET_ONLY"
                yield _emit(key, status, src_fp, tgt_fp, max_ts_ms)
            return

        src_fp, tgt_fp, done, max_ts_ms = (
            state.get if state.exists else (None, None, False, 0)
        )
        for pdf in pdfs:
            ts_ms = (pdf["ts"].astype("int64") // 1_000_000).max()
            max_ts_ms = max(max_ts_ms, int(ts_ms))
            for side_name, col in (("source", "src_fp"), ("target", "tgt_fp")):
                fps = pdf.loc[pdf["side"] == side_name, "fingerprint"]
                if len(fps):
                    m = int(fps.min())
                    cur = src_fp if col == "src_fp" else tgt_fp
                    new = m if cur is None else min(cur, m)
                    if col == "src_fp":
                        src_fp = new
                    else:
                        tgt_fp = new

        if not done and src_fp is not None and tgt_fp is not None:
            status = "MATCH" if src_fp == tgt_fp else "MISMATCH"
            yield _emit(key, status, src_fp, tgt_fp, max_ts_ms)
            done = True

        state.update((src_fp, tgt_fp, done, max_ts_ms))
        # expire when the watermark passes ts + band; must be strictly ahead
        # of the current watermark or Spark rejects the timestamp
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(max_ts_ms + band_ms, wm + 1))

    return classify


def classify_stateful(
    src_fp: DataFrame,
    tgt_fp: DataFrame,
    *,
    band_ms: int = 7_200_000,
) -> DataFrame:
    """Apply the stateful classifier to two watermarked, fingerprinted
    streams of (conv_id, turn_idx, fingerprint, ts), tagged with ``side``
    and unioned here."""
    sided_stream = src_fp.withColumn("side", F.lit("source")).unionByName(
        tgt_fp.withColumn("side", F.lit("target")))
    return sided_stream.groupBy("conv_id", "turn_idx").applyInPandasWithState(
        make_classifier(band_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
