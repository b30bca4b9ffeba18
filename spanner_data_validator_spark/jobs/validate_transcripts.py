"""End-to-end transcript validation job (batch + streaming), spark-submit-able.

Streaming dataflow (the north-star pipeline):

    source stream ─ fingerprint ─ first per key ─┐
                                                 ├─ watermarked full-outer join ─ classify ─┐
    target stream ─ fingerprint ─ first per key ─┘                (or applyInPandasWithState)│
                                                                                            ▼
                     exactly-once foreachBatch sink (classified rows,
                     one commit marker per micro-batch)

The streaming sink (``streaming/sink.TallyForeachBatch``) stages each
micro-batch as ``<out>/classified/batch=<id>`` in one Spark job and
publishes it with the marker ``<out>/_commits/<id>``, which records the
batch's row and per-status counts; the per-window report and the mismatch
rows are derived from the committed rows on read.

Batch mode, ``jobs/revalidate`` and the streaming join engine all run the
one plan ``classify_transcripts`` — which is how tests prove stream/batch
count equality on the same input.

Usage (cluster; spark-submit takes the job's script path):
    spark-submit --py-files sdv.zip \
        spanner_data_validator_spark/jobs/validate_transcripts.py \
        --source /path/src --target /path/tgt --out /path/out \
        --checkpoint /path/ckpt --watermark "10 minutes" --band "2 hours"

Usage (local):
    python -m spanner_data_validator_spark.jobs.validate_transcripts \
        --source /path/src --target /path/tgt --out /path/out \
        --checkpoint /path/ckpt

Watermark note: an idle file stream never advances its watermark past
``max(ts) - delay``, so the final keys' outer/timeout results stay in state
until more data arrives — correct streaming semantics, not a bug. Finite
test/bench runs append a far-future **sentinel** row to both streams
(``append_sentinel``) to push the watermark past all real data; sentinel keys
are filtered out of the classified output by ``sentinel_filter``.
"""

from __future__ import annotations

import argparse
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.comparator import dedup_first
from spanner_data_validator_spark.sources.transcript_source import (
    KEY_COLS,
    read_transcripts,
    stream_transcripts,
    write_transcripts,
)
from spanner_data_validator_spark.streaming.sink import TallyForeachBatch
from spanner_data_validator_spark.streaming.stateful import classify_stateful
from spanner_data_validator_spark.streaming.validate_stream import (
    classify_stream,
    fingerprint_stream,
)

SENTINEL_CONV = "__sentinel__"


def sentinel_filter():
    return F.col("conv_id") != SENTINEL_CONV


def sentinel_frame(spark: SparkSession, *, ts: str = "2100-01-01") -> DataFrame:
    """The one far-future sentinel transcript row (watermark punctuation)."""
    return spark.range(1).select(
        F.lit(SENTINEL_CONV).alias("conv_id"), F.lit(0).cast("int").alias("turn_idx"),
        F.lit("system").alias("role"), F.lit("sentinel").alias("text"),
        F.lit(None).cast("string").alias("tool"), F.lit(ts).cast("timestamp").alias("ts"))


def append_sentinel(spark: SparkSession, *dirs: str, ts: str = "2100-01-01") -> None:
    """Append :func:`sentinel_frame` to each stream dir."""
    sent = sentinel_frame(spark, ts=ts)
    for d in dirs:
        write_transcripts(sent, spark, d, n_files=1, subdir=f"sentinel_{int(time.time()*1000)}")


def _one_row_per_key(fp: DataFrame) -> DataFrame:
    if fp.isStreaming:
        return fp.dropDuplicatesWithinWatermark(KEY_COLS)
    return dedup_first(fp, KEY_COLS, carry_cols=["ts"])


def classify_transcripts(
    src_df: DataFrame,
    tgt_df: DataFrame,
    *,
    algo: str = "xxhash64",
    band: str = "2 hours",
    json_cols: frozenset[str] = frozenset({"tool"}),
) -> DataFrame:
    """The one transcript plan, static or streaming: fingerprint → one row
    per key per side → band-bounded full-outer classify → sentinel filter.

    The reference inspects only the first element per key
    (CountMatchesDoFn.java:73-80); without the collapse each dup key fans
    out k_src×k_tgt rows. Each side picks the rule from its ``isStreaming``:
    a static frame keeps its min-(fingerprint, ts) row (``dedup_first``, an
    aggregate on the join keys: the join reuses its exchange, or the
    bucketing of tables bucketed by the key); a stream keeps the first
    arrival within its watermark (``dropDuplicatesWithinWatermark``). Exact
    duplicates give both rules the same row; duplicates whose payloads
    differ may classify differently in a stream and a batch run.
    ``json_cols``: pass an empty set for JSON normalized at write time.
    """
    src, tgt = (_one_row_per_key(fingerprint_stream(df, algo=algo, json_cols=json_cols))
                for df in (src_df, tgt_df))
    return classify_stream(src, tgt, band=band).where(sentinel_filter())


def run_batch_validation(
    spark: SparkSession,
    src_path: str,
    tgt_path: str,
    *,
    algo: str = "xxhash64",
    band: str = "2 hours",
) -> DataFrame:
    """:func:`classify_transcripts` over two transcript tables."""
    return classify_transcripts(read_transcripts(spark, src_path),
                                read_transcripts(spark, tgt_path),
                                algo=algo, band=band)


def run_streaming_validation(
    spark: SparkSession,
    src_path: str,
    tgt_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    algo: str = "xxhash64",
    watermark: str = "10 minutes",
    band: str = "2 hours",
    engine: str = "join",
    available_now: bool = True,
    trigger_interval: str = "10 seconds",
    window_duration: str = "1 hour",
    max_files_per_trigger: int | None = None,
    timeout_s: float = 300.0,
    dedup_keys: bool = True,
    state_store: str | None = None,
    projected_state_keys: int | None = None,
) -> TallyForeachBatch:
    """Run the streaming pipeline; returns the sink for result readback.

    ``engine='join'`` → :func:`classify_transcripts` on the two streams: a
    per-side ``dropDuplicatesWithinWatermark`` (the reference's first element
    per key; watermark-bounded state) feeding the built-in
    StreamingSymmetricHashJoin full-outer; ``engine='stateful'`` →
    applyInPandasWithState classifier (lower MATCH latency, reference-exact
    emission control, duplicate-key collapse in its own state).

    ``dedup_keys`` has one legal value, True; it is kept only so callers
    that still pass it keep working.

    ``state_store``: ``'rocksdb'`` / ``'hdfs'`` pin the provider for this
    query; ``'auto'`` picks via :func:`session.select_state_store` from
    ``projected_state_keys`` (worst-case in-flight keys ≈ rate × (watermark +
    band), or total turns for a finite sentinel-punctuated drain, since the
    watermark only advances at the end). ``None`` keeps the session default.
    The chosen provider is recorded on the returned sink (``.state_store``)
    so benches can report it. Only valid for a FRESH checkpoint — Spark pins
    the provider in checkpoint metadata on first start.
    """
    if dedup_keys is not True:
        raise ValueError("dedup_keys must be True: both engines keep one row per key")
    from spanner_data_validator_spark.session import (
        STATE_STORE_CLASSES,
        select_state_store,
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    chosen = state_store
    if chosen == "auto":
        chosen = select_state_store(projected_state_keys)
    prev_provider = spark.conf.get(provider_key, None)
    if chosen is not None:
        spark.conf.set(provider_key, STATE_STORE_CLASSES[chosen])
    src = stream_transcripts(
        spark, src_path, watermark=watermark, max_files_per_trigger=max_files_per_trigger
    )
    tgt = stream_transcripts(
        spark, tgt_path, watermark=watermark, max_files_per_trigger=max_files_per_trigger
    )

    if engine == "stateful":
        classified = classify_stateful(
            fingerprint_stream(src, algo=algo), fingerprint_stream(tgt, algo=algo),
            band_ms=_interval_ms(band),
        ).where(sentinel_filter())
    else:
        classified = classify_transcripts(src, tgt, algo=algo, band=band)

    sink = TallyForeachBatch(out_dir, window_duration=window_duration)
    sink.state_store = next(
        (name for name, cls in STATE_STORE_CLASSES.items()
         if cls == spark.conf.get(provider_key, "")), None)
    writer = (
        classified.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        try:
            q.awaitTermination(timeout_s)
            if q.isActive:
                # an availableNow query still running at the deadline means
                # the sink holds PARTIAL commits — surface it instead of
                # returning silently-incomplete totals (callers would report
                # undercounts)
                q.stop()
                raise TimeoutError(
                    f"availableNow streaming validation did not drain within "
                    f"{timeout_s}s; sink at {out_dir} holds partial commits")
        finally:
            # the provider is captured in the query's checkpoint metadata at
            # first-batch start, so it is safe to restore the session default
            # once the query has terminated
            if chosen is not None and prev_provider is not None:
                spark.conf.set(provider_key, prev_provider)
    else:
        writer.trigger(processingTime=trigger_interval).start()
        # continuous path: the conf must stay set until the first batch plans
        # its state stores — the caller owns the session default from here
    return sink


def _interval_ms(band: str) -> int:
    qty, unit = band.split()
    mult = {
        "second": 1_000, "seconds": 1_000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit.lower()]
    return int(qty) * mult


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True)
    ap.add_argument("--target", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--mode", choices=["batch", "streaming"], default="streaming")
    ap.add_argument("--engine", choices=["join", "stateful"], default="join")
    ap.add_argument("--algo", choices=["xxhash64", "sha256"], default="xxhash64")
    ap.add_argument("--watermark", default="10 minutes")
    ap.add_argument("--band", default="2 hours")
    ap.add_argument("--window", default="1 hour")
    ap.add_argument("--available-now", action=argparse.BooleanOptionalAction,
                    default=True,
                    help="drain all available input then stop (default); "
                    "--no-available-now runs a continuous processing-time "
                    "trigger instead")
    args = ap.parse_args(argv)

    from spanner_data_validator_spark.session import get_spark
    from spanner_data_validator_spark.streaming.listener import (
        ValidationMetricsListener,
    )

    spark = get_spark(app_name="sdv-validate-transcripts")
    listener = ValidationMetricsListener()
    spark.streams.addListener(listener)

    if args.mode == "batch":
        classified = run_batch_validation(
            spark, args.source, args.target, algo=args.algo, band=args.band)
        classified.write.mode("overwrite").parquet(os.path.join(args.out, "classified"))
    else:
        sink = run_streaming_validation(
            spark,
            args.source,
            args.target,
            args.out,
            args.checkpoint,
            algo=args.algo,
            watermark=args.watermark,
            band=args.band,
            engine=args.engine,
            window_duration=args.window,
            available_now=args.available_now,
        )
        if args.available_now:
            report = sink.report(spark)
            if report is not None:
                report.show(50, truncate=False)
        else:
            # continuous trigger: the query runs until externally stopped;
            # block here so spark-submit keeps the driver alive
            spark.streams.awaitAnyTermination()
    listener.dump(os.path.join(args.out, "lineage", "progress.jsonl"))


if __name__ == "__main__":
    main()
