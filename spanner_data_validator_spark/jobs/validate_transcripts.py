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
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.comparator import dedup_first
from spanner_data_validator_spark.session import (
    PARTITIONS_CONF,
    PROVIDER_CONF,
    STATE_STORE_CLASSES,
    StateLayout,
    checkpoint_conf,
    scoped_conf,
    state_heap,
    state_layout,
)
from spanner_data_validator_spark.sources.transcript_source import (
    KEY_COLS,
    hadoop_path,
    parquet_rows,
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

    **State layout.** The state-store provider and the state partition
    count come from :func:`session.state_layout` over the projected keys.
    An ``availableNow`` run holds every key until the sentinel advances the
    watermark, so its projection is the rows of both inputs present at
    query start, read from parquet footers (:func:`parquet_rows`); a
    continuous (``processingTime``) run has unbounded input, so its
    projection is unknown: RocksDB with the session's partition count. The
    heap store gets one partition per ``KEYS_PER_STATE_PARTITION`` (150 k)
    keys, up to ``spark.sql.shuffle.partitions``, while it fits a quarter
    of the heap the session has (:func:`session.state_heap`). Measured on
    4 cores, stream pass plus ``report()``, median of 3 (seconds); the
    67 k and 264 k rows with local checkpoints on the FileSystem-API
    manager (below), the 661 k and 1.65 M rows before it, on Spark's
    default manager and a busier host:

    ==========  ============  ======  ======  ======
    turns       RocksDB / 4   heap 4  heap 2  heap 1
    ==========  ============  ======  ======  ======
    67 k        4.05          3.06    2.92    3.22
    264 k       8.41          3.98    3.74    4.94
    661 k       21.8          9.34    9.96    12.8
    1.65 M      47.6          17.1    22.4    31.1
    ==========  ============  ======  ======  ======

    The best partition count is 2 at 264 k keys and 4 (all cores here)
    from about 600 k. At 67 k, 1 and 2 partitions are within a few
    percent (over 8 alternating reps, medians 3.08 and 3.01 s): the flip
    from 1 to 2 now lies near or below 67 k keys, and moving it gains
    little there, so the rule keeps ``KEYS_PER_STATE_PARTITION``. These
    flip sizes hold for 4 cores; on
    more (``PROBED_CORES``) the heap store keeps the session's count.
    A checkpoint keeps the layout it was sized
    with at its first start: Spark restores both from the offset log, so a
    restart runs with the checkpoint's layout, whatever the rule says now.
    The layout the query runs with is on the returned sink
    (``state_store``, ``state_partitions``, ``projected_keys``).

    **Checkpoint file manager.** A checkpoint on the local file system is
    written through Spark's FileSystem-API manager
    (:func:`session.checkpoint_conf`), which spawns no ``readlink`` per
    file call as the default FileContext one does without libhadoop.

    The caller's session keeps its own conf: the layout and the manager
    are set only while the query is built. Spark 4.1 clones the session
    into the query in ``start()`` (the StreamExecution constructor's
    ``cloneSession()``), and the offset and commit logs and the state
    stores take their conf from that call; the first batch writes the
    clone's layout to the offset log. The file sources build their
    metadata logs later, in the stream thread, from the caller's session,
    so an ``availableNow`` run holds the conf until the run ends; a
    continuous run hands the caller its conf back when ``start()``
    returns, and its source logs use Spark's default manager.
    """
    if dedup_keys is not True:
        raise ValueError("dedup_keys must be True: both engines keep one row per key")
    pinned = _checkpoint_layout(spark, checkpoint_dir)
    projected = None
    if pinned is None and available_now:
        rows = [parquet_rows(spark, p) for p in (src_path, tgt_path)]
        projected = None if None in rows else sum(rows)
    layout = pinned or state_layout(
        projected, int(spark.conf.get(PARTITIONS_CONF)),
        heap_mem=state_heap(spark), cores=spark.sparkContext.defaultParallelism)

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
    sink.state_store, sink.state_partitions = layout
    sink.projected_keys = projected
    writer = (
        classified.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        # continuous path: the query runs on; the caller owns it from here
        writer = writer.trigger(processingTime=trigger_interval)
    conf = {**({} if pinned else layout.conf()), **checkpoint_conf(spark, checkpoint_dir)}
    with scoped_conf(spark, conf):
        q = writer.start()
        if available_now:
            # the file sources build their metadata logs from this session
            # in the stream thread, after start() has returned
            q.awaitTermination(timeout_s)
    if available_now and q.isActive:
        # an availableNow query still running at the deadline means
        # the sink holds PARTIAL commits — surface it instead of
        # returning silently-incomplete totals (callers would report
        # undercounts)
        q.stop()
        raise TimeoutError(
            f"availableNow streaming validation did not drain within "
            f"{timeout_s}s; sink at {out_dir} holds partial commits")
    return sink


def _checkpoint_layout(spark: SparkSession, checkpoint_dir: str) -> StateLayout | None:
    """The state layout pinned in an existing checkpoint (its newest
    offset log entry), or None when the checkpoint has not started yet."""
    fs, offsets = hadoop_path(spark, f"{checkpoint_dir}/offsets")
    if not fs.exists(offsets):
        return None
    ids = [int(n) for st in fs.listStatus(offsets)
           if (n := st.getPath().getName()).isdecimal()]
    if not ids:
        return None
    stream = fs.open(spark._jvm.org.apache.hadoop.fs.Path(offsets, str(max(ids))))
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    # line 1 is the log version, line 2 the batch metadata with its conf
    conf = json.loads(text.splitlines()[1])["conf"]
    cls = conf[PROVIDER_CONF]
    provider = next((k for k, v in STATE_STORE_CLASSES.items() if v == cls), cls)
    return StateLayout(provider, int(conf[PARTITIONS_CONF]))


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
        lineage = os.path.join(args.out, "lineage")
        os.makedirs(lineage, exist_ok=True)
        with open(os.path.join(lineage, "state_layout.json"), "w") as f:
            json.dump({"state_store": sink.state_store,
                       "state_partitions": sink.state_partitions,
                       "projected_keys": sink.projected_keys}, f)
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
