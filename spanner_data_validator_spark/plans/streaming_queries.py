"""Streaming queries of the oracle-paired registry.

Real structured-streaming runs (``availableNow``) of the validator and its
monitors, snapshot-table sources and sinks, watermark recommendation and the
batch-equivalent window aggregations. Registered into
``demo_queries.QUERIES`` / ``ORACLES`` on import.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spanner_data_validator_spark.functions.hashing import portable_hash60_sql
from spanner_data_validator_spark.operators import constraints as C
from spanner_data_validator_spark.operators.comparator import MATCH
from spanner_data_validator_spark.plans.demo_queries import (
    _CLS_CTE,
    _benford_case,
    _ev_transcript_cte,
    _events_transcript_target,
    classified_events,
    register,
    transcripts_from_events,
    work_dir,
)
from spanner_data_validator_spark.session import (
    PARTITIONS_CONF,
    checkpoint_conf,
    scoped_conf,
)
from spanner_data_validator_spark.sources import pyds as _pyds


# ---------------------------------------------------------------------------
# windowed aggregation (streaming ops in their batch-equivalent form)
# ---------------------------------------------------------------------------

@register("tumbling_mismatch_counts", _CLS_CTE + """
SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, status,
       CAST(count(*) AS BIGINT) AS n
FROM cls GROUP BY 1, 2
""")
def q_tumbling_mismatch_counts(spark, sf_dir):
    """A1-streaming analogue: tumbling 1h event-time windows × status counts."""
    cls = classified_events(spark, sf_dir, with_ts=True)
    ts = F.timestamp_millis(F.coalesce(F.col("tgt_ts_millis"), F.col("src_ts_millis")))
    return (cls.groupBy(F.window(ts, "1 hour").alias("w"), "status")
               .agg(F.count("*").alias("n"))
               .select(F.unix_millis(F.col("w.start")).alias("window_start_ms"),
                       "status", "n"))


@register("session_windows", """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o
)
SELECT user_id, epoch_ms(min(ts)) AS session_start_ms, CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_id
""")
def q_session_windows(spark, sf_dir):
    """Session windows (gap 30 min) per user over the events stream — the
    batch form of the streaming session_window aggregation."""
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    return (ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
              .agg(F.count("*").alias("n_events"))
              .select("user_id", F.unix_millis(F.col("w.start")).alias("session_start_ms"),
                      "n_events"))


# ---------------------------------------------------------------------------
# streaming validation registered against the DuckDB oracle: a REAL
# structured-streaming run (availableNow) over an events-derived dual stream
# ---------------------------------------------------------------------------

# the stateful engine is the SEMANTICS spec (~15x slower than the join
# engine by design, BENCH.md) — it validates a reduced corpus: every 10th
# conversation, whole conversations so turn numbering is unchanged
_STATEFUL_USER_MOD = 10


# the state/shuffle partition count small streaming demos run under: every
# micro-batch commits one state store PER PARTITION per stateful operator, so
# a 20k-row demo at 32 partitions pays 32x(ops) store commits per trigger for
# empty partitions (measured: the snapshot validate demo dropped 51.5 s ->
# much less at 8). The validation stream sizes its own
# (``session.state_layout``).
_DEMO_PARTITIONS = {PARTITIONS_CONF: "8"}


# a finite availableNow run over a few staged files ends in seconds; past this
# the query is stuck, and a silent partial sink would pass for an answer
_DRAIN_TIMEOUT_S = 600


def _file_stream(spark, df, work, *, files, per_trigger, sentinel=None,
                 watermark=None):
    """Stage ``df`` as ``files`` parquet files in ``<work>/in`` and return
    the file stream over them, ``per_trigger`` files per micro-batch.

    ``sentinel`` (column -> value) appends one more file holding one row at
    ``ts`` 2100-01-01, those values and NULL elsewhere, each cast to its
    column's type: the newest file, so it arrives last and its far-future
    event time advances the watermark past every real window. Let it flow
    through the aggregation (CLAUDE.md sentinel-filter trap); its own window
    never closes, so it never reaches an append sink."""
    in_dir = f"{work}/in"
    df.repartition(files).write.parquet(in_dir)
    if sentinel is not None:
        row = {"ts": "2100-01-01", **sentinel}
        (spark.range(1)
         .select(*[F.lit(row.get(f.name)).cast(f.dataType).alias(f.name)
                   for f in df.schema])
         .write.mode("append").parquet(in_dir))
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", per_trigger).parquet(in_dir))
    return stream if watermark is None else stream.withWatermark("ts", watermark)


def _drain(writer, work):
    """Run ``writer`` to the end of its input (checkpoint ``<work>/ckpt``,
    ``availableNow``) and return the finished query. A query still running
    after ``_DRAIN_TIMEOUT_S`` is stopped and raises ``TimeoutError``."""
    q = (writer.option("checkpointLocation", f"{work}/ckpt")
         .trigger(availableNow=True).start())
    if not q.awaitTermination(_DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"stream over {work} still running after {_DRAIN_TIMEOUT_S} s")
    return q


def _drain_parquet(spark, stream, work):
    """Drain ``stream`` into an append parquet sink at ``<work>/out`` and
    return the rows it holds."""
    _drain(stream.writeStream.format("parquet").option("path", f"{work}/out")
           .outputMode("append"), work)
    return spark.read.parquet(f"{work}/out")


def _run_stream_totals(spark, sf_dir, engine, *, user_mod: int | None = None):
    from spanner_data_validator_spark.jobs.validate_transcripts import (
        append_sentinel,
        run_streaming_validation,
    )
    from spanner_data_validator_spark.sources.transcript_source import (
        write_transcripts,
    )

    # Fixture staging, not engine work (production validates two REAL tables):
    # target derives from source, and its union has two branches — persist the
    # derived source so the events scan + rank window run once, not three times
    src = transcripts_from_events(spark, sf_dir, user_mod=user_mod).persist()
    tgt = _events_transcript_target(src)
    work = work_dir(f"sdv_q_stream_{engine}_")
    src_dir, tgt_dir = f"{work}/src", f"{work}/tgt"
    try:
        write_transcripts(src, spark, src_dir, n_files=4)
        write_transcripts(tgt, spark, tgt_dir, n_files=4)
    finally:
        src.unpersist()
    append_sentinel(spark, src_dir, tgt_dir)
    sink = run_streaming_validation(
        spark, src_dir, tgt_dir, f"{work}/out", f"{work}/ckpt",
        watermark="10 minutes", band="2 hours", engine=engine)
    return sink.read_rows(spark).groupBy("status").agg(F.count("*").alias("n"))


@register("validate_stream_totals", _ev_transcript_cte())
def q_validate_stream_totals(spark, sf_dir):
    """REAL structured-streaming run: events-derived dual transcript streams →
    watermarked full-outer stream-stream join (availableNow) → committed
    classification totals. Oracle is the equivalent batch full-outer join."""
    return _run_stream_totals(spark, sf_dir, "join")


@register("validate_stream_atomic_totals", _ev_transcript_cte())
def q_validate_stream_atomic_totals(spark, sf_dir):
    """Registry twin of validate_stream_totals: the same streaming run
    through the same sink (streaming/sink.TallyForeachBatch: classified rows
    published by one commit marker — nothing visible before it, pinned in
    tests/test_atomic_sink.py). Kept registered because CORRECTNESS_r05.json
    names it; totals must equal the batch full-outer oracle exactly."""
    return _run_stream_totals(spark, sf_dir, "join")


def _revalidate_oracle() -> str:
    base = _ev_transcript_cte().split("cls AS (")[0]
    return base + """cls AS (
  SELECT CAST(CAST(coalesce(s.conv_id, t.conv_id) AS BIGINT) % 8 AS INT)
           AS range_id,
         CASE WHEN s.text IS NOT NULL AND t.text IS NOT NULL THEN
                CASE WHEN s.role = t.role AND s.text = t.text
                     THEN 'MATCH' ELSE 'MISMATCH' END
              WHEN t.text IS NULL THEN 'SOURCE_ONLY' ELSE 'TARGET_ONLY' END AS status
  FROM src s FULL OUTER JOIN tgt t
    ON s.conv_id = t.conv_id AND s.turn_idx = t.turn_idx
)
SELECT range_id, status, CAST(count(*) AS BIGINT) AS n
FROM cls GROUP BY range_id, status
"""


@register("revalidate_delta", _revalidate_oracle())
def q_revalidate_delta(spark, sf_dir):
    """Incremental revalidation driven by checkpoint lineage
    (jobs/revalidate): a streaming validation run covers the initial
    corpus (all conversations except conv % 40 = 5); a nightly drop then
    lands the held-out conversations — all in range 5 (conv % 8) — as new
    files. ``delta_ranges`` diffs the checkpoint WAL's committed file
    manifests against the directory listing, finds exactly range 5 dirty,
    and ONLY that range's files are re-read and re-classified (scan-scope
    law pinned in tests/test_revalidate.py); unchanged ranges reuse the
    sink's committed results. The merged per-(range, status) report must
    equal a FULL revalidation of the final corpus — which is the oracle."""
    from spanner_data_validator_spark.jobs.revalidate import (
        revalidate_delta_report, write_ranged_transcripts)
    from spanner_data_validator_spark.jobs.validate_transcripts import (
        append_sentinel, run_streaming_validation)

    src = transcripts_from_events(spark, sf_dir).persist()
    tgt = _events_transcript_target(src)
    is_delta = F.col("conv_id").cast("long") % 40 == 5
    work = work_dir("sdv_q_revalidate_")
    src_dir, tgt_dir = f"{work}/src", f"{work}/tgt"
    try:
        write_ranged_transcripts(src.where(~is_delta), spark, src_dir,
                                 tag="init")
        write_ranged_transcripts(tgt.where(~is_delta), spark, tgt_dir,
                                 tag="init")
        append_sentinel(spark, src_dir, tgt_dir)
        sink = run_streaming_validation(
            spark, src_dir, tgt_dir, f"{work}/out", f"{work}/ckpt",
            watermark="10 minutes", band="2 hours")
        # the nightly drop: whole new conversations, all in range 5
        write_ranged_transcripts(src.where(is_delta), spark, src_dir,
                                 tag="delta")
        write_ranged_transcripts(tgt.where(is_delta), spark, tgt_dir,
                                 tag="delta")
        return revalidate_delta_report(spark, sink, f"{work}/ckpt",
                                       src_dir, tgt_dir)
    finally:
        src.unpersist()


@register("validate_stream_stateful_totals", _ev_transcript_cte(_STATEFUL_USER_MOD))
def q_validate_stream_stateful_totals(spark, sf_dir):
    """Same streaming run through the applyInPandasWithState classifier
    (reference-exact emission timing, dofns/CountMatchesDoFn.java:67-122),
    over the reduced corpus — it's the semantics spec, never the bulk path."""
    return _run_stream_totals(spark, sf_dir, "stateful",
                              user_mod=_STATEFUL_USER_MOD)


@register("stream_snapshot_validate", _ev_transcript_cte(5))
def q_stream_snapshot_validate(spark, sf_dir):
    """THE north-star wiring end-to-end: source and migrated-target
    transcripts live in two SNAPSHOT-VERSIONED tables (sources/
    snapshots.py), each arriving in three commits plus a sentinel commit;
    two incremental-scan STREAMS tail them by snapshot version (sources/
    snapshot_stream.py — offsets are durable manifest versions, batches
    are file-set differences) and feed ``classify_transcripts``: the
    vectorized fingerprint reduction, one row per key per side, and the
    watermarked stateful full-outer join classifier. Totals equal the batch
    full-outer oracle exactly — the same plan the file-stream flagship
    runs, now over the table format the north star names."""
    from spanner_data_validator_spark.jobs.validate_transcripts import (
        classify_transcripts,
        sentinel_frame,
    )
    from spanner_data_validator_spark.sources import snapshot_stream as st
    from spanner_data_validator_spark.sources import snapshots as snap

    src = transcripts_from_events(spark, sf_dir, user_mod=5).persist()
    tgt = _events_transcript_target(src)
    work = work_dir("sdv_q_snapstream_")
    src_t, tgt_t = f"{work}/src_t", f"{work}/tgt_t"
    # commits must be EVENT-TIME-ordered (like real incremental ingest):
    # conv-keyed waves each span the whole month, so the watermark races to
    # month-end after commit 1 and the join drops later commits' rows as
    # late (measured: exactly one wave of matches vanished) — day-ranged
    # waves keep every commit ahead of the watermark the previous one set
    wave = F.floor((F.dayofmonth("ts") - 1) / F.lit(10))
    try:
        for m in (0, 1, 2):
            snap.commit(src.where(wave == m), src_t)
            snap.commit(tgt.where(wave == m), tgt_t)
    finally:
        src.unpersist()
    sent = sentinel_frame(spark)
    snap.commit(sent, src_t)
    snap.commit(sent, tgt_t)

    st.register(spark)
    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp")

    def tail(table):
        # two snapshots per micro-batch: same incremental semantics, half
        # the trigger/state-commit overhead on the demo corpus
        return (spark.readStream.format(st.SOURCE_NAME)
                .option("table_dir", table).option("schema", ddl)
                .option("versions_per_trigger", 2)
                .option("cursor_file", f"{table}.cursor").load()
                .withWatermark("ts", "10 minutes"))

    out = classify_transcripts(tail(src_t), tail(tgt_t))
    with scoped_conf(spark, {**_DEMO_PARTITIONS,
                             **checkpoint_conf(spark, f"{work}/ckpt")}):
        q = (out.select("status")
             .writeStream.format("parquet").option("path", f"{work}/out")
             .option("checkpointLocation", f"{work}/ckpt")
             .outputMode("append")
             .trigger(processingTime="200 milliseconds").start())
    # drain: BOTH sources at v4 and a no-data trigger after (so the
    # sentinel-advanced watermark has emitted the outer-join timeouts)
    st.drain_to_version(q, 4)
    return (spark.read.parquet(f"{work}/out")
            .groupBy("status").agg(F.count(F.lit(1)).alias("n")))


@register("stream_dedup_lang_counts", """
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 10 = 0
)
SELECT lang, CAST(count(DISTINCT text) AS BIGINT) AS n_docs
FROM corpus GROUP BY lang
""")
def q_stream_dedup_lang_counts(spark, sf_dir):
    """REAL structured-streaming dedup run: a doc stream with planted repeats
    (every 10th doc arrives twice, in different micro-batches) through
    dropDuplicatesWithinWatermark keyed on the 8-byte text fingerprint
    (streaming/dedup_stream.dedup_text_stream), append-sinked, then counted
    per language. The watermark horizon (2h) exceeds the event-time spread
    (10 min), so the streaming result equals batch distinct-text counts.
    Dedup state is keyed (lang, text_fp): per-language dedup — a GLOBAL
    key would let arrival order pick which language keeps a text that
    appears under several (7 such texts at sf0.1), which no batch oracle
    can replay."""
    from spanner_data_validator_spark.streaming.dedup_stream import (
        dedup_text_stream,
    )

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text", "lang"))
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                    "text", "lang"))
    corpus = corpus.withColumn(
        "ts", (F.lit(1_600_000_000) + F.col("doc_id") % 600).cast("timestamp"))

    work = work_dir("sdv_q_stream_dedup_")
    stream = _file_stream(spark, corpus, work, files=4, per_trigger=1)
    deduped = dedup_text_stream(stream, "text", ts_col="ts", delay="2 hours",
                                scope_cols=["lang"])
    return (_drain_parquet(spark, deduped.select("lang", "text_fp"), work)
            .groupBy("lang").agg(F.count("*").alias("n_docs")))


# ---------------------------------------------------------------------------
# sliding windows, snapshot-table writes and scans (sources/snapshots),
# in-stream HLL
# ---------------------------------------------------------------------------

@register("sliding_mismatch_counts", _CLS_CTE + """
SELECT epoch_ms(date_trunc('hour', ts) - k * INTERVAL 1 HOUR) AS window_start_ms,
       status, CAST(count(*) AS BIGINT) AS n
FROM cls, UNNEST([0, 1]) AS t(k)
GROUP BY 1, 2
""")
def q_sliding_mismatch_counts(spark, sf_dir):
    """Sliding event-time windows (2h window, 1h slide) × status counts —
    every row lands in exactly two overlapping windows."""
    cls = classified_events(spark, sf_dir, with_ts=True)
    ts = F.timestamp_millis(F.coalesce(F.col("tgt_ts_millis"), F.col("src_ts_millis")))
    return (cls.groupBy(F.window(ts, "2 hours", "1 hour").alias("w"), "status")
               .agg(F.count("*").alias("n"))
               .select(F.unix_millis(F.col("w.start")).alias("window_start_ms"),
                       "status", "n"))


def _snapshot_writer_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import (
        portable_hash60_sql,
    )

    x = portable_hash60_sql("CAST(k AS VARCHAR)", 5)
    return f"""
WITH s1 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 0),
s2 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 1),
modes AS (
  SELECT 'v1' AS mode, CAST(count(*) AS BIGINT) AS n_rows,
         bit_xor({x}) AS key_xor
  FROM s1
  UNION ALL
  SELECT 'v2', CAST(count(*) AS BIGINT), bit_xor({x})
  FROM (SELECT k FROM s1 UNION ALL SELECT k FROM s2)
  UNION ALL
  SELECT 'incr_1_2', CAST(count(*) AS BIGINT), bit_xor({x}) FROM s2
)
SELECT mode, n_rows, key_xor FROM modes
"""


@register("snapshot_writer_roundtrip", _snapshot_writer_oracle())
def q_snapshot_writer_roundtrip(spark, sf_dir):
    """The table format's WRITE path through Spark's sink seam
    (sources/snapshot_sink.py, DataSourceArrowWriter): each save() streams
    every task's Arrow batches into its own pending parquet file, and the
    driver's commit registers them as ONE atomic snapshot (two-phase
    commit; aborted/zombie task files stay invisible because readers
    resolve scans through manifests only). Two multi-partition writes,
    then time-travel / current / incremental digests — the same numbers
    the oracle reconstructs from the slices."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.sources import snapshot_sink as sk
    from spanner_data_validator_spark.sources import snapshots as snap

    sk.register(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select(F.col("o_orderkey").alias("k"))
    table = work_dir("sdv_q_snapsink_") + "/t"
    for m in (0, 1):
        (orders.where(F.col("k") % 2 == m).repartition(4)
         .write.format(sk.SINK_NAME).option("table_dir", table)
         .mode("append").save())

    def digest(df, mode):
        return (df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                       F.bit_xor(portable_hash60(F.col("k").cast("string"), 5))
                        .alias("key_xor"))
                .select(F.lit(mode).alias("mode"), "n_rows", "key_xor"))

    return (digest(snap.read_snapshot(spark, table, 1), "v1")
            .unionByName(digest(snap.read_snapshot(spark, table), "v2"))
            .unionByName(digest(snap.read_incremental(spark, table, 1, 2),
                                "incr_1_2")))


def _snapshot_compaction_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import (
        portable_hash60_sql,
    )

    x = portable_hash60_sql("CAST(k AS VARCHAR)", 5)
    return f"""
WITH s1 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 0),
s2 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 1),
s3 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 2),
modes AS (
  SELECT 'current_v4' AS mode, CAST(count(*) AS BIGINT) AS n_rows,
         bit_xor({x}) AS key_xor
  FROM (SELECT k FROM s1 UNION ALL SELECT k FROM s2 UNION ALL SELECT k FROM s3)
  UNION ALL
  SELECT 'incr_1_4', CAST(count(*) AS BIGINT), bit_xor({x})
  FROM (SELECT k FROM s2 UNION ALL SELECT k FROM s3)
  UNION ALL
  SELECT 'files_before_compact', CAST(8 AS BIGINT), CAST(0 AS BIGINT)
  UNION ALL
  SELECT 'files_after_compact', CAST(2 AS BIGINT), CAST(0 AS BIGINT)
)
SELECT mode, n_rows, key_xor FROM modes
"""


@register("snapshot_compaction_scan", _snapshot_compaction_oracle())
def q_snapshot_compaction_scan(spark, sf_dir):
    """Table maintenance that consumers never see: two 4-file appends are
    COMPACTED into one file (a REPLACE snapshot — snapshots.compact), then
    a third append lands. Time travel sees the new layout (8 files -> 1,
    +1 from the last append); the incremental scan across the whole range
    emits ONLY the appended rows — the operation-aware walk skips the
    rewrite, where a bare manifest set-difference would have re-emitted
    all compacted rows (the bug class Iceberg's snapshot operations
    exist to prevent)."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.sources import snapshots as snap

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select(F.col("o_orderkey").alias("k"))
    table = work_dir("sdv_q_compact_") + "/t"
    snap.commit(orders.where(F.col("k") % 3 == 0), table, files=4)
    snap.commit(orders.where(F.col("k") % 3 == 1), table, files=4)
    files_before = len(snap.snapshot_files(table, 2))
    snap.compact(spark, table, files=1)
    snap.commit(orders.where(F.col("k") % 3 == 2), table)
    files_after = len(snap.snapshot_files(table, 3)) + 1  # + last append

    def digest(df, mode):
        return (df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                       F.bit_xor(portable_hash60(F.col("k").cast("string"), 5))
                        .alias("key_xor"))
                .select(F.lit(mode).alias("mode"), "n_rows", "key_xor"))

    counts = spark.createDataFrame(
        [("files_before_compact", files_before, 0),
         ("files_after_compact", files_after, 0)],
        "mode string, n_rows long, key_xor long")
    return (digest(snap.read_snapshot(spark, table), "current_v4")
            .unionByName(digest(snap.read_incremental(spark, table, 1, 4),
                                "incr_1_4"))
            .unionByName(counts))


def _stream_into_snapshot_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import (
        portable_hash60_sql,
    )

    x = portable_hash60_sql("CAST(event_id AS VARCHAR)", 5)
    return f"""
SELECT CAST(2 AS BIGINT) AS n_versions,
       CAST(count(*) AS BIGINT) AS total_rows,
       bit_xor({x}) AS key_xor
FROM events
"""


@register("stream_into_snapshot_table", _stream_into_snapshot_oracle())
def q_stream_into_snapshot_table(spark, sf_dir):
    """STREAMING writes into the table format: every micro-batch commits
    as one atomic snapshot through the Python DataSource stream writer
    (sources/snapshot_sink.py), exactly-once via the batch id recorded in
    the snapshot metadata —
    a replayed micro-batch recognizes its own id and drops its fresh files
    as invisible orphans. Two micro-batches (maxFilesPerTrigger=2 over 4
    input files) -> snapshot versions 1 and 2; the digest of the final
    table must equal the batch input exactly, and the version count proves
    one-commit-per-batch."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.sources import snapshot_sink as sk
    from spanner_data_validator_spark.sources import snapshots as snap

    sk.register(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    work = work_dir("sdv_q_streamsink_")
    table = f"{work}/t"
    stream = _file_stream(spark, ev, work, files=4, per_trigger=2)
    _drain(stream.writeStream.format(sk.SINK_NAME).option("table_dir", table),
           work)
    t = snap.read_snapshot(spark, table)
    return (t.agg(F.count(F.lit(1)).cast("long").alias("total_rows"),
                  F.bit_xor(portable_hash60(
                      F.col("event_id").cast("string"), 5)).alias("key_xor"))
            .select(F.lit(snap.current_version(table)).cast("long")
                     .alias("n_versions"),
                    "total_rows", "key_xor"))


def _snapshot_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import (
        portable_hash60_sql,
    )

    x = portable_hash60_sql("CAST(k AS VARCHAR)", 5)
    return f"""
WITH s1 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 0),
s2 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 1),
s3 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 2),
modes AS (
  SELECT 'time_travel_v1' AS mode, CAST(count(*) AS BIGINT) AS n_rows,
         bit_xor({x}) AS key_xor
  FROM s1
  UNION ALL
  SELECT 'current_v3', CAST(count(*) AS BIGINT), bit_xor({x})
  FROM (SELECT k FROM s1 UNION ALL SELECT k FROM s2 UNION ALL SELECT k FROM s3)
  UNION ALL
  SELECT 'incremental_1_to_3', CAST(count(*) AS BIGINT), bit_xor({x})
  FROM (SELECT k FROM s2 UNION ALL SELECT k FROM s3)
)
SELECT mode, n_rows, key_xor FROM modes
"""


@register("snapshot_incremental_scan", _snapshot_oracle())
def q_snapshot_incremental_scan(spark, sf_dir):
    """Snapshot-versioned table primitives (sources/snapshots.py — the
    Iceberg shapes the north-star pipeline consumes, runnable without the
    runtime jar): three append commits, then (a) time travel to v1, (b)
    the current table, and (c) the INCREMENTAL scan v1->v3 — a pure
    file-set difference between two manifests that reads none of the older
    data (the property that makes continuous validation affordable: each
    round touches only new files). Counts + key checksums per mode,
    oracle-reconstructed from the same slices."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.sources import snapshots as snap

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select(F.col("o_orderkey").alias("k"))
    table = work_dir("sdv_q_snap_") + "/orders_t"
    for m in (0, 1, 2):
        snap.commit(orders.where(F.col("k") % 3 == m), table)

    def digest(df, mode):
        return (df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                       F.bit_xor(portable_hash60(F.col("k").cast("string"), 5))
                        .alias("key_xor"))
                .select(F.lit(mode).alias("mode"), "n_rows", "key_xor"))

    return (digest(snap.read_snapshot(spark, table, 1), "time_travel_v1")
            .unionByName(digest(snap.read_snapshot(spark, table),
                                "current_v3"))
            .unionByName(digest(snap.read_incremental(spark, table, 1, 3),
                                "incremental_1_to_3")))


def _stream_hll_oracle() -> str:
    from spanner_data_validator_spark.operators.sketch import (
        hll_estimate_sql,
        hll_registers_sql,
    )

    src = ("SELECT epoch_ms(date_trunc('hour', ts) "
           "- INTERVAL (EXTRACT(hour FROM ts) % 6) HOUR) AS ws_ms, "
           "CAST(user_id AS VARCHAR) AS u FROM events")
    regs = hll_registers_sql(src, "ws_ms", "u")
    return f"""
WITH est AS ({hll_estimate_sql(regs, "ws_ms")})
SELECT ws_ms, nonempty, hll_estimate FROM est
"""


@register("stream_hll_window_users", _stream_hll_oracle())
def q_stream_hll_window_users(spark, sf_dir):
    """BOUNDED-STATE streaming distinct counting: per-6h-window distinct
    users estimated by an in-stream HyperLogLog — phase 1 is a stateful
    (window, register) max-rank aggregation whose state is windows x m=256
    rows REGARDLESS of user cardinality (exact streaming distinct is
    unbounded state — the thing this replaces at 10^12 rows), phase 2
    chains a second stateful window aggregation folding registers into the
    estimate. The oracle recomputes the identical register math per window
    in batch; estimator accuracy itself is characterized by
    hll_distinct_by_type."""
    from spanner_data_validator_spark.operators.sketch import (
        hll_estimate_expr,
        hll_reg_rho,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("user_id").cast("string").alias("u"))
    work = work_dir("sdv_q_streamhll_")
    reg, rho = hll_reg_rho(F.col("u"))
    stream = (_file_stream(spark, ev, work, files=4, per_trigger=2,
                           sentinel={"u": "sentinel"}, watermark="10 minutes")
              .select("ts", reg.alias("reg"), rho.alias("rho")))
    regs = (stream
            .groupBy(F.window("ts", "6 hours").alias("w"), "reg")
            .agg(F.max("rho").alias("mj")))
    est = (regs
           .groupBy(F.window(F.col("w"), "6 hours").alias("w2"))
           .agg(F.count(F.lit(1)).alias("nonempty"),
                F.sum(F.pow(F.lit(2.0),
                            (F.lit(51) - F.col("mj")).cast("double"))
                      .cast("long")).alias("s_num"))
           .select(F.unix_millis(F.col("w2.start")).alias("ws_ms"),
                   F.col("nonempty").cast("long").alias("nonempty"),
                   hll_estimate_expr(F.col("nonempty"), F.col("s_num"))
                    .alias("hll_estimate")))
    # the sentinel's own far-future window never closes, so the sink holds
    # exactly the real windows
    with scoped_conf(spark, _DEMO_PARTITIONS):
        return _drain_parquet(spark, est, work)


# ---------------------------------------------------------------------------
# incremental (recurring) validation: per-range digests → drift → row-level
# classify of drifted ranges only (operators/digest.py)
# ---------------------------------------------------------------------------

def _stream_digest_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql

    fp = portable_hash60_sql("payload")
    digest = """
  SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
         CAST(conv_id AS BIGINT) % 64 AS range_id,
         CAST(count(*) AS BIGINT) AS n_rows, bit_xor(fp) AS xor_fp,
         sum(fp & 4294967295) AS sum_lo, sum(fp >> 32) AS sum_hi
  FROM {side} GROUP BY 1, 2"""
    return f"""
WITH src AS (
  SELECT CAST(user_id AS STRING) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
         coalesce(event_type, '') AS role,
         coalesce(props, '') AS text,
         ts
  FROM events
),
tgt AS (
  SELECT conv_id, turn_idx, role,
         CASE WHEN (CAST(conv_id AS BIGINT) * 31 + turn_idx) % 50 = 0
              THEN text || '#mut' ELSE text END AS text, ts
  FROM src WHERE (CAST(conv_id AS BIGINT) * 31 + turn_idx) % 50 <> 1
  UNION ALL
  SELECT conv_id, CAST(turn_idx + 100000 AS INT) AS turn_idx, role, text, ts
  FROM src WHERE (CAST(conv_id AS BIGINT) * 31 + turn_idx) % 50 = 2
),
sfp AS (SELECT conv_id, ts, {fp} AS fp FROM
        (SELECT conv_id, ts, concat_ws('|', role, text) AS payload FROM src)),
tfp AS (SELECT conv_id, ts, {fp} AS fp FROM
        (SELECT conv_id, ts, concat_ws('|', role, text) AS payload FROM tgt)),
sd AS ({digest.format(side='sfp')}),
td AS ({digest.format(side='tfp')})
SELECT coalesce(s.window_start_ms, t.window_start_ms) AS window_start_ms,
       coalesce(s.range_id, t.range_id) AS range_id,
       CASE WHEN s.n_rows IS NULL THEN 'RANGE_TARGET_ONLY'
            WHEN t.n_rows IS NULL THEN 'RANGE_SOURCE_ONLY'
            ELSE 'RANGE_CHANGED' END AS status,
       CAST(coalesce(s.n_rows, 0) AS BIGINT) AS src_n,
       CAST(coalesce(t.n_rows, 0) AS BIGINT) AS tgt_n
FROM sd s FULL OUTER JOIN td t
  ON s.window_start_ms = t.window_start_ms AND s.range_id = t.range_id
WHERE s.n_rows IS NULL OR t.n_rows IS NULL
   OR s.n_rows <> t.n_rows OR s.xor_fp <> t.xor_fp
   OR s.sum_lo <> t.sum_lo OR s.sum_hi <> t.sum_hi
"""


@register("stream_digest_drift", _stream_digest_oracle())
def q_stream_digest_drift(spark, sf_dir):
    """REAL streaming digest-drift monitor run (streaming/digest_stream):
    both transcript streams fold through ONE watermarked stateful aggregation
    into per-(1h window, conv%64 range, side) digests — state is windows ×
    ranges × 2 rows (~40 B each) instead of per-key join state. Closed
    windows land in an append sink; the batch compare names the drifted
    (window, range) cells. Oracle replicates digests + drift in SQL."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.jobs.validate_transcripts import (
        append_sentinel,
    )
    from spanner_data_validator_spark.operators.digest import digest_drift
    from spanner_data_validator_spark.sources.transcript_source import (
        stream_transcripts,
        write_transcripts,
    )
    from spanner_data_validator_spark.streaming.digest_stream import (
        dual_windowed_digest,
    )

    src = transcripts_from_events(spark, sf_dir).persist()
    tgt = _events_transcript_target(src)
    work = work_dir("sdv_q_stream_digest_")
    try:
        write_transcripts(src, spark, f"{work}/src", n_files=4)
        write_transcripts(tgt, spark, f"{work}/tgt", n_files=4)
    finally:
        src.unpersist()
    append_sentinel(spark, f"{work}/src", f"{work}/tgt")

    # NO pre-aggregation sentinel filter: Catalyst pushes a conv_id predicate
    # below the EventTimeWatermark operator into the scan, so the sentinel
    # would never advance the watermark and the last real window would never
    # close. Unfiltered, the sentinel advances the watermark while its own
    # far-future window never closes — it can't reach the append sink; its
    # NULL range (non-numeric conv_id) is dropped at read time regardless.
    s = stream_transcripts(spark, f"{work}/src", watermark="10 minutes")
    t = stream_transcripts(spark, f"{work}/tgt", watermark="10 minutes")
    fp = portable_hash60(F.concat_ws("|", F.col("role"), F.col("text")))
    # try_cast: the sentinel's conv_id is non-numeric (ANSI cast would throw);
    # it maps to a NULL range that never leaves the open far-future window
    rid = F.pmod(F.col("conv_id").try_cast("long"), F.lit(64))
    dig = (_drain_parquet(spark, dual_windowed_digest(s, t, rid, fp,
                                                      window="1 hour"), work)
           .where(F.col("range_id").isNotNull()))
    sd = dig.where(F.col("side") == "source").drop("side")
    td = dig.where(F.col("side") == "target").drop("side")
    out = digest_drift(sd, td, range_col=["window_start", "range_id"])
    return (out.select(F.unix_millis("window_start").alias("window_start_ms"),
                       "range_id", "status", "src_n", "tgt_n"))


# ---------------------------------------------------------------------------
# streaming windowed heavy hitters: trending terms per tumbling window
# ---------------------------------------------------------------------------

@register("stream_trending_terms", """
WITH ev AS (SELECT ts, coalesce(props, '') AS text FROM events),
terms AS (
  SELECT epoch_ms(date_trunc('hour', ts)) AS ws,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM ev
),
c AS (SELECT ws, term, count(*) AS n FROM terms GROUP BY 1, 2),
r AS (SELECT ws, term, n,
             row_number() OVER (PARTITION BY ws ORDER BY n DESC, term) AS rank
      FROM c)
SELECT ws AS window_start_ms, term, CAST(n AS BIGINT) AS n,
       CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
""")
def q_stream_trending_terms(spark, sf_dir):
    """REAL streaming run: tokenize the text stream (explode AFTER the
    watermark node, so the far-future sentinel still advances event time even
    though its empty text yields no term rows), tumbling 1h term counts in
    append mode, then per-window top-3 via ann.topk_per_query on the tiny
    post-aggregation sink output. The streaming agg state is (window, term)
    keyed — heavy-hitter queries at 10^12 turns cap state by pre-filtering
    terms to a candidate set (e.g. a KMV/CMS-derived hot list); here the term
    vocabulary is bounded, so the full count is the honest plan."""
    from spanner_data_validator_spark.operators.ann import topk_per_query

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.coalesce(F.col("props"), F.lit("")).alias("text"))
    work = work_dir("sdv_q_trending_")
    stream = _file_stream(spark, ev, work, files=4, per_trigger=2,
                          sentinel={"text": ""}, watermark="10 minutes")
    terms = stream.select(
        "ts",
        F.explode(F.filter(F.split(F.col("text"), " "),
                           lambda x: x != F.lit(""))).alias("term"))
    agg = (terms.groupBy(F.window("ts", "1 hour").alias("w"), "term")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("w.start").alias("ws"), "term", "n"))
    sink = (_drain_parquet(spark, agg, work)
            .where(F.col("ws") < F.lit("2090-01-01").cast("timestamp")))
    top = topk_per_query(sink, 3, key_col="ws", order_col="n",
                         tie_col="term", two_phase=False)
    return top.select(F.unix_millis("ws").alias("window_start_ms"),
                      "term", F.col("n").cast("long").alias("n"),
                      F.col("rank").cast("int").alias("rank"))


# ---------------------------------------------------------------------------
# in-stream quality counters (streaming/observe.py)
# ---------------------------------------------------------------------------

@register("stream_observed_quality", """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_error,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(max(event_id) AS BIGINT) AS max_event_id,
       CAST(4 AS BIGINT) AS n_batches_with_data,
       CAST(count(*) AS BIGINT) AS sink_rows
FROM events
""")
def q_stream_observed_quality(spark, sf_dir):
    """Dataset.observe on a REAL stream (streaming/observe.py): quality
    counters (row count, error-event count, integer value cents, max id)
    ride the micro-batches of an events file-stream on the SAME pass that
    feeds the append sink — no second aggregation, no state, no extra
    shuffle. Per-batch rows land on progress events; sums-of-sums and
    maxes-of-maxes are micro-batch-boundary-invariant, which is what the
    oracle recomputes. The sink row count proves the observed stream and
    the delivered stream are the same pass."""
    from spanner_data_validator_spark.streaming.observe import fold_observed

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    work = work_dir("sdv_q_observe_")
    stream = _file_stream(spark, ev, work, files=4, per_trigger=1)
    obs = stream.observe(
        "quality",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_error"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        F.max("event_id").alias("max_event_id"))
    q = _drain(obs.select("event_id", "event_type")
               .writeStream.format("parquet").option("path", f"{work}/out"),
               work)
    m = fold_observed(q, "quality",
                      sum_cols=["n_rows", "n_error", "value_cents"],
                      max_cols=["max_event_id"])
    sink_rows = spark.read.parquet(f"{work}/out").count()
    return spark.createDataFrame(
        [(m["n_rows"], m["n_error"], m["value_cents"], m["max_event_id"],
          m["n_batches_with_data"], sink_rows)],
        "n_rows long, n_error long, value_cents long, max_event_id long, "
        "n_batches_with_data long, sink_rows long")


# ---------------------------------------------------------------------------
# in-stream constraint monitor + conflicting-record JDBC sink
# ---------------------------------------------------------------------------

@register("stream_constraint_monitor", """
WITH s AS (SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
  CAST(sum(CASE WHEN (NOT (value BETWEEN 0 AND 250)) OR value IS NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS v1,
  CAST(sum(CASE WHEN length(props) > 9 THEN 1 ELSE 0 END) AS BIGINT) AS v2
FROM events)
SELECT 0 AS ord, 'not_null(user_id)' AS rule, n_rows,
       v0 AS n_violations, v0 = 0 AS passed FROM s
UNION ALL SELECT 1, 'in_range(value,0,250)', n_rows, v1, v1 = 0 FROM s
UNION ALL SELECT 2, 'max_length(props,9)', n_rows, v2, v2 = 0 FROM s
""")
def q_stream_constraint_monitor(spark, sf_dir):
    """REAL streaming run of the constraint suite: events replayed as a
    4-file stream (maxFilesPerTrigger=1 -> 4 micro-batches), each batch
    evaluated by streaming/constraint_monitor.ConstraintMonitor into the
    batch-fenced exactly-once sink, totals folded back to the whole-stream
    answer — which must equal the one-shot batch suite the oracle computes.
    Stateless streaming: no watermark, per-batch cost is one aggregate
    scan, sink holds batches x rules tiny rows."""
    from spanner_data_validator_spark.streaming.constraint_monitor import (
        ConstraintMonitor,
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    work = work_dir("sdv_q_cmon_")
    stream = _file_stream(spark, ev, work, files=4, per_trigger=1)
    mon = ConstraintMonitor(f"{work}/out", [
        C.not_null("user_id"),
        C.in_range("value", 0, 250),
        C.max_length("props", 9),
    ])
    _drain(stream.writeStream.foreachBatch(mon), work)
    return mon.totals(spark)


@register("stream_conflicts_to_jdbc", _CLS_CTE + """
SELECT status, CAST(count(*) AS BIGINT) AS n
FROM cls WHERE status <> 'MATCH' GROUP BY status
""")
def q_stream_conflicts_to_jdbc(spark, sf_dir):
    """The conflicting-record sink (SURVEY §2 S8) against a LIVE database:
    non-MATCH classifications replayed as a 4-file stream land in an
    embedded-Derby table through streaming/jdbc_sink.JdbcExactlyOnceSink
    (batch-fenced: fence row inserted last, torn writes invisible and
    cleaned on replay), then the committed rows are read back and tallied —
    which must equal the batch classification the oracle computes. The
    portable stand-in for the reference's BigQuery conflict writers."""
    from spanner_data_validator_spark.streaming.jdbc_sink import (
        JdbcExactlyOnceSink,
    )
    work = work_dir("sdv_q_jdbc_sink_")
    url = f"jdbc:derby:{work}/db;create=true"
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute("CREATE TABLE conflicts "
               "(k BIGINT, status VARCHAR(16), batch_id BIGINT)")
    st.close()
    conn.close()

    conflicts = (classified_events(spark, sf_dir)
                 .where(F.col("status") != MATCH)
                 .select(F.col("key").alias("k"), "status"))
    sink = JdbcExactlyOnceSink(url, "conflicts")
    stream = _file_stream(spark, conflicts, work, files=4, per_trigger=2)
    _drain(stream.writeStream.foreachBatch(sink), work)
    tally = (sink.read_committed(spark)
             .groupBy("status").agg(F.count(F.lit(1)).alias("n")))
    # materialize, then shut this Derby DB down — embedded Derby keeps every
    # booted database resident in the driver JVM until exit, and bench runs
    # this query repeatedly
    rows = tally.collect()
    from spanner_data_validator_spark.streaming.jdbc_sink import (
        shutdown_embedded_derby,
    )
    shutdown_embedded_derby(spark, url)
    return spark.createDataFrame(rows, tally.schema)


# ---------------------------------------------------------------------------
# Python DataSource API (sources/pyds.py): pluggable batch + incremental-scan
# streaming source whose rows are a pure function of the row id — DuckDB
# recomputes the corpus from scratch, so both queries are fully hash-matched.
# ---------------------------------------------------------------------------

_PYDS_CONVS, _PYDS_TURNS = 400, 25  # 10,000 rows; ~2 windows/conversation


@register("pyds_batch_scan", f"""
WITH {_pyds.rows_oracle_sql(_PYDS_CONVS, _PYDS_TURNS)}
SELECT role,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       bit_xor({portable_hash60_sql("CAST(i AS VARCHAR)", 7)}) AS fp_xor,
       CAST(min(({_pyds.BASE_EPOCH_S} + off_s) * 1000) AS BIGINT) AS min_ts_ms,
       CAST(max(({_pyds.BASE_EPOCH_S} + off_s) * 1000) AS BIGINT) AS max_ts_ms
FROM pyds_rows GROUP BY role
""")
def q_pyds_batch_scan(spark, sf_dir):
    """Batch scan through the Python DataSource API (sources/pyds.py): the
    planner splits the corpus into offset-range partitions, each executor
    generates its slice as Arrow batches. Per-role checksum aggregate — the
    xor-folded portable hash proves every generated row (id, order-free)
    against DuckDB's from-scratch recomputation of the row law."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60

    _pyds.register(spark)
    df = (spark.read.format(_pyds.SOURCE_NAME)
          .option("convs", _PYDS_CONVS).option("turns", _PYDS_TURNS)
          .option("parts", 8).load())
    return (df.groupBy("role")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("conv_id").alias("n_convs"),
                 F.bit_xor(portable_hash60(F.col("i").cast("string"), 7))
                  .alias("fp_xor"),
                 F.min(F.unix_millis("ts")).alias("min_ts_ms"),
                 F.max(F.unix_millis("ts")).alias("max_ts_ms")))


@register("pyds_stream_incremental", f"""
WITH {_pyds.rows_oracle_sql(_PYDS_CONVS, _PYDS_TURNS)}
SELECT CAST(({_pyds.BASE_EPOCH_S} + off_s // 3600 * 3600) * 1000 AS BIGINT)
         AS window_start_ms,
       role, CAST(count(*) AS BIGINT) AS n
FROM pyds_rows GROUP BY 1, 2
""")
def q_pyds_stream_incremental(spark, sf_dir):
    """REAL micro-batch streaming run over the Python DataSource's
    incremental-scan reader (offset admission of 3,400 ids per trigger →
    4 micro-batches): watermarked tumbling 1 h per-role counts into an
    append parquet sink. The source's far-future sentinel row flushes the
    final windows (its own window can never close, so it never reaches the
    sink); Trigger.AvailableNow admits only the FIRST offset poll on a
    Python streaming source, so the run uses processingTime + drain_stream
    (see sources/pyds.py). Every closed window is hash-matched against the
    oracle's arithmetic recomputation."""
    _pyds.register(spark)
    work = work_dir("sdv_q_pyds_stream_")
    stream = (spark.readStream.format(_pyds.SOURCE_NAME)
              .option("convs", _PYDS_CONVS).option("turns", _PYDS_TURNS)
              .option("batch_rows", 3400).option("parts", 8)
              .option("hw_file", f"{work}/hw")
              .option("sentinel", "true").load())
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour").alias("w"), "role")
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.unix_millis(F.col("w.start")).alias("window_start_ms"),
                   "role", "n"))
    with scoped_conf(spark, checkpoint_conf(spark, f"{work}/ckpt")):
        q = (agg.writeStream.format("parquet")
             .option("path", f"{work}/out")
             .option("checkpointLocation", f"{work}/ckpt")
             .outputMode("append").trigger(processingTime="0 seconds").start())
    _pyds.drain_stream(q, _PYDS_CONVS * _PYDS_TURNS + 1)
    return spark.read.parquet(f"{work}/out")


# ---------------------------------------------------------------------------
# Count-Min Sketch over a stream (operators/sketch.py): bounded-state
# frequency estimation — windows x depth x width counters instead of a state
# row per distinct key.
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W, _CMS_SEED = 3, 64, 5


def _cms_fanout_sql(cols: str, expr: str) -> str:
    from spanner_data_validator_spark.operators.sketch import cms_bucket_sql
    return " UNION ALL ".join(
        f"SELECT {cols}, {d} AS d, "
        f"{cms_bucket_sql(expr, d, _CMS_W, _CMS_SEED)} AS bucket FROM cms_ev"
        for d in range(_CMS_D))


@register("stream_cms_window_counts", f"""
WITH cms_ev AS (
  SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, user_id
  FROM events WHERE user_id IS NOT NULL),
fan AS ({_cms_fanout_sql("window_start_ms, user_id", "CAST(user_id AS VARCHAR)")}),
cms AS (SELECT window_start_ms, d, bucket, count(*) AS n
        FROM fan GROUP BY 1, 2, 3),
cand AS (SELECT window_start_ms, user_id,
                CAST(count(*) AS BIGINT) AS n_true
         FROM cms_ev WHERE user_id % 13 = 0 GROUP BY 1, 2),
probe AS (SELECT c.window_start_ms, c.user_id, c.n_true, f.d, f.bucket
          FROM cand c JOIN fan f USING (window_start_ms, user_id)),
est AS (SELECT p.window_start_ms, p.user_id, p.n_true,
               min(coalesce(s.n, 0)) AS est
        FROM probe p LEFT JOIN cms s
          ON p.window_start_ms = s.window_start_ms
         AND p.d = s.d AND p.bucket = s.bucket
        GROUP BY 1, 2, 3)
SELECT window_start_ms, user_id, CAST(est AS BIGINT) AS est, n_true
FROM est
""")
def q_stream_cms_window_counts(spark, sf_dir):
    """REAL streaming Count-Min build: the event stream folds into ONE
    windowed aggregation over (window, depth, bucket) — state is
    open_windows x 3 x 64 counters of ~20 B regardless of how many distinct
    users exist (the per-key exact plan holds a state row per (window, key)).
    Closed windows land in the append sink; point lookups for the candidate
    users take min-over-depths. The oracle rebuilds the identical sketch
    (same portable hash family, same buckets) and the identical estimates;
    n_true rides along, witnessing the CMS guarantee est >= true. The
    far-future sentinel flushes the final windows; it carries a dummy
    non-null user and simply flows through the aggregation (its own window
    can never close), because filtering it pre-aggregation would push the
    predicate below EventTimeWatermark — the stream_digest_drift trap."""
    from spanner_data_validator_spark.operators.sketch import (
        cms_build,
        cms_lookup,
    )

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .where(F.col("user_id").isNotNull())
          .select(F.col("ts").cast("timestamp").alias("ts"), "user_id"))
    work = work_dir("sdv_q_cms_")
    # sentinel carries a dummy NON-NULL user: filtering it pre-aggregation
    # would push the predicate below EventTimeWatermark (the digest-drift
    # trap) — instead it flows, and its far-future window can never close
    stream = _file_stream(spark, ev, work, files=4, per_trigger=2,
                          sentinel={"user_id": -1}, watermark="10 minutes")
    windowed = stream.select(F.window("ts", "1 hour").alias("w"),
                             F.col("user_id"))
    cms_stream = cms_build(
        windowed, F.col("user_id"),
        depth=_CMS_D, width=_CMS_W, seed=_CMS_SEED, extra_group_cols=["w"])
    cms = (_drain_parquet(spark, cms_stream, work)
           .select(F.unix_millis(F.col("w.start")).alias("window_start_ms"),
                   "d", "bucket", "n"))
    cand = (ev.where(F.col("user_id") % 13 == 0)
            .groupBy(F.unix_millis(F.date_trunc("hour", "ts"))
                     .alias("window_start_ms"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_true")))
    est = cms_lookup(cms, cand, "user_id", depth=_CMS_D, width=_CMS_W,
                     seed=_CMS_SEED, join_cols=["window_start_ms"])
    return (est.join(cand, ["window_start_ms", "user_id"])
            .select("window_start_ms", "user_id",
                    F.col("est").cast("long").alias("est"), "n_true"))


# ---------------------------------------------------------------------------
# streaming near-duplicate ingest guard (streaming/neardup_stream.py)
# ---------------------------------------------------------------------------

@register("stream_neardup_guard", """
WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
inc AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'XX ' || text FROM documents
  WHERE doc_id % 4 <> 0 AND doc_id % 20 = 0),
hs AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(string_split(text,' '), i, i+2), ' ') AS shingle
  FROM hist, UNNEST(range(1, len(string_split(text,' ')) - 1)) AS t(i)
  WHERE len(string_split(text,' ')) >= 3),
isq AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(string_split(text,' '), i, i+2), ' ') AS shingle
  FROM inc, UNNEST(range(1, len(string_split(text,' ')) - 1)) AS t(i)
  WHERE len(string_split(text,' ')) >= 3),
hn AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY 1),
inn AS (SELECT doc_id, count(*) AS n FROM isq GROUP BY 1),
inter AS (
  SELECT i.doc_id AS in_id, h.doc_id AS hist_id, count(*) AS k
  FROM isq i JOIN hs h ON i.shingle = h.shingle GROUP BY 1, 2)
SELECT x.in_id, x.hist_id,
       CAST(x.k AS DOUBLE) / (a.n + b.n - x.k) AS jaccard
FROM inter x JOIN inn a ON x.in_id = a.doc_id
             JOIN hn b ON x.hist_id = b.doc_id
WHERE CAST(x.k AS DOUBLE) / (a.n + b.n - x.k) >= 0.7
""")
def q_stream_neardup_guard(spark, sf_dir):
    """Streaming near-dup ingest guard: historical docs (3 of every 4) are
    sketched into a static MinHash-LSH index; the remaining quarter plus
    planted 'XX '-prefixed near-copies ARRIVE AS A STREAM and are screened
    through two stateless stream-static joins + inline hashed-shingle
    Jaccard. The only state is the watermark-bounded (in_id, hist_id) dedup
    (a pair can match through several bands). At (32 perms, 16 bands) recall
    on >=0.7 pairs is total on this corpus, so the oracle is the exact
    cross-side Jaccard join — hash-matched row for row."""
    from spanner_data_validator_spark.streaming.neardup_stream import (
        build_lsh_index,
        neardup_guard,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
                .select("doc_id", "text")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    hist = docs.where(F.col("doc_id") % 4 != 0)
    incoming = (docs.where(F.col("doc_id") % 4 == 0)
                .unionByName(
                    hist.where(F.col("doc_id") % 20 == 0)
                        .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                                F.concat(F.lit("XX "), F.col("text"))
                                .alias("text")))
                .withColumn("ts", F.lit("2025-06-01").cast("timestamp")))

    buckets, sets = build_lsh_index(hist, "doc_id", "text",
                                    num_perm=32, bands=16, materialize=True)

    work = work_dir("sdv_q_neardup_guard_")
    stream = _file_stream(spark, incoming, work, files=4, per_trigger=2)
    flagged = neardup_guard(stream, buckets, sets, "doc_id", "text",
                            ts_col="ts", num_perm=32, bands=16,
                            threshold=0.7)
    return (_drain_parquet(spark, flagged, work)
            .select(F.col("in_id").cast("long").alias("in_id"),
                    F.col("hist_id").cast("long").alias("hist_id"),
                    "jaccard"))


# ---------------------------------------------------------------------------
# in-stream PSI drift + gap-closed per-conversation digests
# ---------------------------------------------------------------------------

@register("stream_psi_drift", """
WITH base AS (
  SELECT least(greatest(CAST(floor(value * 16 / 200) AS BIGINT), 0), 15)
           AS bin, count(*) AS base_n
  FROM events WHERE value IS NOT NULL AND user_id % 2 = 0 GROUP BY 1),
live AS (
  SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
         least(greatest(CAST(floor(value * 16 / 200) AS BIGINT), 0), 15)
           AS bin, count(*) AS n
  FROM events WHERE value IS NOT NULL AND user_id % 2 = 1 GROUP BY 1, 2),
tot AS (
  SELECT l.*, sum(n) OVER (PARTITION BY window_start_ms) AS wt,
         (SELECT sum(base_n) FROM base) AS bt
  FROM live l),
j AS (SELECT t.window_start_ms, t.bin, t.n, t.wt, t.bt,
             coalesce(b.base_n, 0) AS base_n
      FROM tot t LEFT JOIN base b ON t.bin = b.bin)
SELECT window_start_ms, bin, CAST(n AS BIGINT) AS n,
       ((CAST(n AS DOUBLE) / CAST(wt AS DOUBLE))
        - (CASE WHEN base_n = 0 THEN 0.5 ELSE CAST(base_n AS DOUBLE) END
           / CAST(bt AS DOUBLE)))
       * ln((CAST(n AS DOUBLE) / CAST(wt AS DOUBLE))
            / ((CASE WHEN base_n = 0 THEN 0.5 ELSE CAST(base_n AS DOUBLE) END
               / CAST(bt AS DOUBLE)))) AS psi_term
FROM j
""")
def q_stream_psi_drift(spark, sf_dir):
    """Streaming distribution-drift monitor: per-hour value histograms fold
    in ONE windowed aggregation (state = open_windows x 16 bins, the same
    bounded-state discipline as the CMS monitor), closed windows land in
    the append sink, and each window's PSI terms against a broadcast
    baseline histogram (the even-user half of the corpus) are pure
    arithmetic on the tiny sink output. Live-window bins present in the
    stream are the PSI support (a bin with live mass but no baseline mass
    is smoothed; bins with no live mass contribute nothing — the window's
    live histogram IS the distribution under test). Sentinel flows through
    the aggregation as always."""
    from pyspark.sql import Window as W

    from spanner_data_validator_spark.operators.profile import bin_expr

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .where(F.col("value").isNotNull())
          .select(F.col("ts").cast("timestamp").alias("ts"),
                  "value", "user_id"))
    # baseline feeds two branches (the broadcast join and the bt total) —
    # pin the <=16-row histogram so the events scan doesn't run per branch
    baseline = (ev.where(F.col("user_id") % 2 == 0)
                .groupBy(bin_expr(F.col("value"), 0, 200, 16).alias("bin"))
                .agg(F.count(F.lit(1)).alias("base_n"))
                .localCheckpoint())

    work = work_dir("sdv_q_psi_stream_")
    live = ev.where(F.col("user_id") % 2 == 1).drop("user_id")
    stream = _file_stream(spark, live, work, files=4, per_trigger=2,
                          sentinel={"value": 0.0}, watermark="10 minutes")
    hist = (stream.groupBy(F.window("ts", "1 hour").alias("w"),
                           bin_expr(F.col("value"), 0, 200, 16).alias("bin"))
            .agg(F.count(F.lit(1)).alias("n")))
    sink = (_drain_parquet(spark, hist, work)
            .select(F.unix_millis(F.col("w.start")).alias("window_start_ms"),
                    "bin", "n"))
    wt = F.sum("n").over(W.partitionBy("window_start_ms"))
    sink = sink.withColumn("wt", wt)
    bt = baseline.agg(F.sum("base_n").alias("bt"))
    j = (sink.join(F.broadcast(baseline), "bin", "left")
         .withColumn("base_n", F.coalesce("base_n", F.lit(0)))
         .crossJoin(F.broadcast(bt)))
    p = F.col("n").cast("double") / F.col("wt").cast("double")
    qq = (F.when(F.col("base_n") == 0, F.lit(0.5))
           .otherwise(F.col("base_n").cast("double"))
          / F.col("bt").cast("double"))
    return j.select("window_start_ms", "bin", "n",
                    ((p - qq) * F.log(p / qq)).alias("psi_term"))


@register("stream_session_conv_digest", f"""
WITH {_pyds.rows_oracle_sql(300, 20)}
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       bit_xor({portable_hash60_sql("CAST(i AS VARCHAR)", 3)}) AS fp_xor,
       CAST(min(({_pyds.BASE_EPOCH_S} + off_s) * 1000) AS BIGINT) AS first_ms,
       CAST(max(({_pyds.BASE_EPOCH_S} + off_s) * 1000) AS BIGINT) AS last_ms
FROM pyds_rows GROUP BY conv_id
""")
def q_stream_session_conv_digest(spark, sf_dir):
    """Gap-closed per-conversation digests on the RUNNABLE engine path:
    ``session_window(ts, 30 min)`` keyed by conv_id over the Python
    DataSource's incremental stream, aggregating the same order-free folds
    (count / xor fingerprint / first / last) as the transformWithState
    processor (streaming/tws.py — its runtime needs protobuf, so this
    session-window twin is the executable evidence of those semantics; the
    oracle is the identical batch ground truth `tws.batch_equivalent`
    computes). Turns are 60 s apart within a conversation, so each
    conversation is exactly one session; the source's far-future sentinel
    flushes every real session and its own can never close."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60

    _pyds.register(spark)
    convs, turns = 300, 20
    work = work_dir("sdv_q_sess_digest_")
    stream = (spark.readStream.format(_pyds.SOURCE_NAME)
              .option("convs", convs).option("turns", turns)
              .option("batch_rows", 2200).option("parts", 8)
              .option("hw_file", f"{work}/hw")
              .option("sentinel", "true").load())
    agg = (stream
           .withColumn("fp", portable_hash60(F.col("i").cast("string"), 3))
           .withWatermark("ts", "10 minutes")
           .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                    "conv_id")
           .agg(F.count(F.lit(1)).alias("n_turns"),
                F.bit_xor("fp").alias("fp_xor"),
                F.min(F.unix_millis("ts")).alias("first_ms"),
                F.max(F.unix_millis("ts")).alias("last_ms"))
           .select("conv_id", "n_turns", "fp_xor", "first_ms", "last_ms"))
    with scoped_conf(spark, checkpoint_conf(spark, f"{work}/ckpt")):
        q = (agg.writeStream.format("parquet")
             .option("path", f"{work}/out")
             .option("checkpointLocation", f"{work}/ckpt")
             .outputMode("append").trigger(processingTime="0 seconds").start())
    _pyds.drain_stream(q, convs * turns + 1)
    return spark.read.parquet(f"{work}/out")


# ---------------------------------------------------------------------------
# CEP: sequence-pattern + absence detection (operators/cep.py)
# ---------------------------------------------------------------------------

@register("stream_cep_session_alerts", """
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'view' THEN 'v'
              WHEN event_type = 'click' THEN 'c'
              WHEN event_type = 'purchase' THEN 'p'
              ELSE '-' END AS sym,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
g AS (
  SELECT user_id, ts, event_id, sym,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
)
SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(string_agg(sym, '' ORDER BY ts, event_id),
                                   'vc+p')) AS BIGINT) AS n_matches
FROM g GROUP BY user_id, session_id
""")
def q_stream_cep_session_alerts(spark, sf_dir):
    """Streaming CEP: per-user session windows (gap 30 min) over a
    watermarked event stream, each closed session scanned for the
    view→click+→purchase pattern — sequence detection with watermark-bounded
    state (one open session per active user; the symbol array is the only
    per-session payload). A far-future sentinel advances the watermark so
    every real session closes; its own session can never close, so it never
    reaches the append sink (CLAUDE.md: never filter between source and
    aggregation)."""
    from spanner_data_validator_spark.operators.cep import symbolize

    sym = symbolize([
        ("v", F.col("event_type") == "view"),
        ("c", F.col("event_type") == "click"),
        ("p", F.col("event_type") == "purchase"),
    ])
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.col("user_id"), F.col("ts").cast("timestamp").alias("ts"),
                  F.col("event_id"), sym.alias("sym")))
    work = work_dir("sdv_q_stream_cep_")
    stream = _file_stream(
        spark, ev, work, files=4, per_trigger=3, watermark="10 minutes",
        sentinel={"user_id": -1, "event_id": -1, "sym": "-"})
    sess = (stream.groupBy(F.col("user_id"),
                           F.session_window("ts", "30 minutes").alias("w"))
                  .agg(F.array_sort(F.collect_list(
                           F.struct("ts", "event_id", "sym"))).alias("evs")))
    out = sess.select(
        "user_id", F.col("w.start").alias("ws"),
        F.size("evs").cast("long").alias("n_events"),
        F.regexp_count(F.array_join(F.expr("transform(evs, e -> e.sym)"), ""),
                       F.lit("vc+p")).cast("long").alias("n_matches"))
    return (_drain_parquet(spark, out, work)
            .where(F.col("ws") < F.lit("2090-01-01").cast("timestamp"))
            .select("user_id", F.unix_millis("ws").alias("session_start_ms"),
                    "n_events", "n_matches"))


# ---------------------------------------------------------------------------
# streaming IVM: changelog stream -> maintained aggregate (streaming/ivm_sink)
# ---------------------------------------------------------------------------

@register("stream_ivm_maintain", """
WITH final AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) AS m FROM events
  WHERE event_id % 5 = 0 OR event_id % 7 <> 0
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(m) AS BIGINT) AS m_sum
FROM final GROUP BY event_type
""")
def q_stream_ivm_maintain(spark, sf_dir):
    """REAL streaming run of incremental view maintenance: the CDC
    changelog arrives as a stream (wave 1 = base inserts, wave 2 = held-out
    inserts + every-7th deletes), and each micro-batch folds into the
    materialized per-type COUNT/SUM view through the chain-of-immutable-
    versions sink (streaming/ivm_sink.ViewMaintenanceSink — batch-id
    fenced: a replay recomputes from the same committed predecessor and
    overwrites the same target, so crashes can't double-apply). The final
    view equals the direct aggregate of the final row set — the oracle
    computes that directly; per-batch cost scales with the VIEW, not the
    corpus."""
    from spanner_data_validator_spark.streaming.ivm_sink import (
        ViewMaintenanceSink,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", F.floor("value").cast("bigint").alias("m"))
    wave1 = (ev.where(F.col("event_id") % 5 != 0)
             .withColumn("op", F.lit("I")))
    wave2 = (ev.where(F.col("event_id") % 5 == 0).withColumn("op", F.lit("I"))
             .unionByName(ev.where((F.col("event_id") % 5 != 0)
                                   & (F.col("event_id") % 7 == 0))
                          .withColumn("op", F.lit("D"))))
    work = work_dir("sdv_q_stream_ivm_")
    in_dir = f"{work}/in"
    wave1.coalesce(1).write.parquet(in_dir)
    import glob
    import os as _os
    import time as _time
    t0 = _time.time()
    w1_files = set(glob.glob(f"{in_dir}/*.parquet"))
    for p in w1_files:
        _os.utime(p, (t0 - 10, t0 - 10))
    wave2.coalesce(1).write.mode("append").parquet(in_dir)
    # pin file order: the file source sorts by mtime, and a same-second tie
    # would let the delete wave precede its inserts (apply_changes raises)
    for p in set(glob.glob(f"{in_dir}/*.parquet")) - w1_files:
        _os.utime(p, (t0, t0))

    changelog = (spark.readStream.schema(wave1.schema)
                 .option("maxFilesPerTrigger", 1).parquet(in_dir)
                 .select("event_type", "m", "op"))
    sink = ViewMaintenanceSink(spark, f"{work}/view", ["event_type"], "m",
                               "event_type string")
    with scoped_conf(spark, _DEMO_PARTITIONS):
        _drain(changelog.writeStream.foreachBatch(sink), work)
    return sink.latest()


# ---------------------------------------------------------------------------
# snapshot table: copy-on-write DELETE + ADD COLUMN evolution (sources/snapshots)
# ---------------------------------------------------------------------------

@register("snapshot_delete_scan", """
WITH labeled AS (
  SELECT 'before' AS at, event_type FROM events
  UNION ALL
  SELECT 'after' AS at, event_type FROM events WHERE user_id % 10 <> 3
)
SELECT at, event_type, CAST(count(*) AS BIGINT) AS n
FROM labeled GROUP BY at, event_type
""")
def q_snapshot_delete_scan(spark, sf_dir):
    """Copy-on-write DELETE on a snapshot table (snapshots.delete_where):
    only files containing matches are rewritten (untouched files stay live
    as-is — at 100 TB a targeted delete rewrites a handful of files, not
    the table), the rewrite commits as a DELETE snapshot, time travel
    still shows the rows at the pre-delete version, and incremental
    append consumers crossing the delete fail loudly instead of acting on
    vanished rows. Output compares per-type counts before (time travel)
    and after (current)."""
    from spanner_data_validator_spark.sources import snapshots as snap

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "user_id")
    t = work_dir("sdv_q_snap_del_") + "/t"
    snap.commit(ev.where(F.col("event_id") % 2 == 0), t, files=2)
    snap.commit(ev.where(F.col("event_id") % 2 != 0), t, files=2)
    pre_version = snap.current_version(t)
    snap.delete_where(spark, t, F.col("user_id") % 10 == 3)
    before = (snap.read_snapshot(spark, t, pre_version)
              .select(F.lit("before").alias("at"), "event_type"))
    after = (snap.read_snapshot(spark, t)
             .select(F.lit("after").alias("at"), "event_type"))
    return (before.unionByName(after)
            .groupBy("at", "event_type").agg(F.count(F.lit(1)).alias("n")))


@register("snapshot_schema_evolution", """
WITH rows_v AS (
  SELECT event_type,
         CASE WHEN event_id % 2 <> 0
              THEN CAST(event_id % 7 AS BIGINT) END AS quality
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(quality) AS BIGINT) AS n_quality,
       CAST(sum(quality) AS BIGINT) AS q_sum
FROM rows_v GROUP BY event_type
""")
def q_snapshot_schema_evolution(spark, sf_dir):
    """ADD COLUMN schema evolution on the snapshot table: the second
    commit carries a new ``quality`` column; the manifest scan merges file
    schemas so pre-evolution rows read the added column as NULL (the
    Iceberg evolution contract; type CHANGES still conflict loudly, and a
    rename reads as drop+add — documented divergence from id-based
    mapping). One current-snapshot read aggregates across both file
    generations."""
    from spanner_data_validator_spark.sources import snapshots as snap

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = work_dir("sdv_q_snap_evo_") + "/t"
    snap.commit(ev.where(F.col("event_id") % 2 == 0)
                .select("event_id", "event_type"), t)
    snap.commit(ev.where(F.col("event_id") % 2 != 0)
                .select("event_id", "event_type",
                        (F.col("event_id") % 7).cast("bigint")
                        .alias("quality")), t)
    cur = snap.read_snapshot(spark, t)
    return cur.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("quality").alias("n_quality"),
        F.sum("quality").cast("bigint").alias("q_sum"))


# ---------------------------------------------------------------------------
# in-stream Benford first-digit monitor (operators/stats.py)
# ---------------------------------------------------------------------------

def _stream_benford_oracle() -> str:
    return f"""
WITH cents AS (
  SELECT date_trunc('day', ts) AS wd,
         CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
cnt AS (
  SELECT epoch_ms(wd) AS ws_ms,
         substring(CAST(c AS VARCHAR), 1, 1) AS digit,
         CAST(count(*) AS BIGINT) AS observed
  FROM cents WHERE c >= 1 GROUP BY 1, 2
),
wn AS (
  SELECT ws_ms, digit, observed,
         CAST(sum(observed) OVER (PARTITION BY ws_ms) AS BIGINT) AS n_total
  FROM cnt
),
e AS (
  SELECT ws_ms, digit, observed, n_total,
         CAST(n_total AS DOUBLE) * ({_benford_case()}) AS expected
  FROM wn
)
SELECT ws_ms, digit, observed, n_total, expected,
       (CAST(observed AS DOUBLE) - expected)
         * (CAST(observed AS DOUBLE) - expected) / expected AS chi_term
FROM e
"""


@register("stream_benford_monitor", _stream_benford_oracle())
def q_stream_benford_monitor(spark, sf_dir):
    """REAL streaming run of the Benford fabricated-data screen: per
    1-day event-time window, first-digit counts accumulate in ONE
    watermarked stateful aggregation (state = windows x 9 digit rows —
    constant per window, the streaming budget Benford was born for);
    closed windows land in an append sink and the tiny sink table gets
    the expectation/chi math batch-side. Digits come from integer cents
    (stream side and oracle share the extraction law of
    benford_first_digit). The sentinel carries value=1.0 so the digit
    filter cannot drop it below the watermark operator (CLAUDE.md
    sentinel-filter trap)."""
    from spanner_data_validator_spark.operators.stats import benford_expected

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts"), "value")
    work = work_dir("sdv_q_streambenford_")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
    stream = (_file_stream(spark, ev, work, files=4, per_trigger=2,
                           sentinel={"value": 1.0}, watermark="10 minutes")
              .select("ts", cents.alias("c"))
              .where(F.col("c") >= 1)
              .select("ts", F.substring(F.col("c").cast("string"), 1, 1)
                      .alias("digit")))
    counts = (stream
              .groupBy(F.window("ts", "1 day").alias("w"), "digit")
              .agg(F.count(F.lit(1)).alias("observed")))
    out = counts.select(F.unix_millis(F.col("w.start")).alias("ws_ms"),
                        "digit", "observed")
    with scoped_conf(spark, _DEMO_PARTITIONS):
        sink = _drain_parquet(spark, out, work)

    exp = benford_expected()
    n = F.sum("observed").over(Window.partitionBy("ws_ms"))
    p = F.element_at(F.array(*[F.lit(float(exp[i])) for i in range(1, 10)]),
                     F.col("digit").cast("int"))
    wn = sink.withColumn("n_total", n)
    expected = F.col("n_total").cast("double") * p
    dev = F.col("observed").cast("double") - expected
    return wn.select("ws_ms", "digit", "observed", "n_total",
                     expected.alias("expected"),
                     (dev * dev / expected).alias("chi_term"))


# ---------------------------------------------------------------------------
# state store as data (streaming/state_inspect.py) + in-stream Pareto
# frontier
# ---------------------------------------------------------------------------

@register("state_store_inspect", """
WITH dk AS (
  SELECT DISTINCT event_type, user_id FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_state_keys,
       CAST(min(user_id) AS BIGINT) AS user_min,
       CAST(max(user_id) AS BIGINT) AS user_max,
       CAST(sum(user_id) AS BIGINT) AS user_sum
FROM dk GROUP BY event_type
""")
def q_state_store_inspect(spark, sf_dir):
    """State-store introspection (streaming/state_inspect.read_state,
    Spark 4 `statestore` reader): run a REAL streaming dropDuplicates
    over the events table (two micro-batches), then read the query's
    OWN checkpoint state back as a batch DataFrame and validate it
    against the law the operator promises — dedup state holds exactly
    the distinct (event_type, user_id) keys of the input. State is
    data: the same oracle machinery that validates rows validates the
    engine's internal state. The reader parallelizes per state-store
    partition; nothing touches the (stopped) query."""
    from spanner_data_validator_spark.streaming.state_inspect import (
        read_state,
    )

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_type", "user_id"))
    work = work_dir("sdv_q_state_inspect_")
    stream = _file_stream(spark, ev, work, files=2, per_trigger=1)
    _drain_parquet(spark, stream.dropDuplicates(["event_type", "user_id"]),
                   work)

    st = read_state(spark, f"{work}/ckpt")
    return (st.select(F.col("key.event_type").alias("event_type"),
                      F.col("key.user_id").alias("user_id"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_state_keys"),
                 F.min("user_id").alias("user_min"),
                 F.max("user_id").alias("user_max"),
                 F.sum("user_id").alias("user_sum")))


@register("stream_pareto_frontier", """
WITH c AS (
  SELECT CAST(p_size AS BIGINT) AS x,
         CAST(floor(p_retailprice * 1.0e2 + 5.0e-1) AS BIGINT) AS y
  FROM part
),
sky AS (
  SELECT x, y FROM c c1 WHERE NOT EXISTS (
    SELECT 1 FROM c c2
    WHERE c2.x <= c1.x AND c2.y <= c1.y AND (c2.x < c1.x OR c2.y < c1.y)
  )
)
SELECT x, y, CAST(count(*) AS BIGINT) AS n_points
FROM sky GROUP BY x, y
""")
def q_stream_pareto_frontier(spark, sf_dir):
    """Streaming skyline maintenance (streaming/frontier_sink): parts
    arrive in three micro-batches; each batch folds its local skyline
    into the stored running frontier (skyline is a mergeable monotone
    summary — skyline(A∪B) = skyline(skyline(A)∪skyline(B)), so no
    watermark or per-key state is needed and the stored object is
    frontier-sized, never corpus-sized). Exactly-once by the
    chain-of-immutable-versions fencing; the oracle is the batch skyline
    of ALL input — which the monotone merge must equal exactly,
    multiplicities included."""
    from spanner_data_validator_spark.streaming.frontier_sink import (
        FrontierMaintenanceSink,
    )

    pt = (spark.read.parquet(f"{sf_dir}/part.parquet")
          .select(F.col("p_size").cast("long").alias("x"),
                  F.round(F.col("p_retailprice") * 100).cast("long")
                  .alias("y")))
    work = work_dir("sdv_q_stream_pareto_")
    stream = _file_stream(spark, pt, work, files=3, per_trigger=1)
    sink = FrontierMaintenanceSink(spark, f"{work}/frontier", "x", "y")
    _drain(stream.writeStream.foreachBatch(sink), work)
    return sink.latest()


# ---------------------------------------------------------------------------
# Watermark recommendation (operators/lateness.py): the out-of-orderness
# profile that turns the streaming tier's most consequential knob — the
# watermark delay — into a measurement (distributed prefix max, exact
# integer percentile ranks; see the module docstring for the 10^12-row plan)
# ---------------------------------------------------------------------------

# deterministic late-arrival model, identical arithmetic in both engines:
# 10% of events arrive 30 min late, 1% arrive 4 h late, the rest in event
# order. arrival = (ms + delay_ms) * 2^20 + event_id % 2^20 is UNIQUE
# (event_id < 2^20 at every test sf) and monotone in delayed-arrival time.
_ARRIVAL_SQL = ("(epoch_us(ts) // 1000 + CASE WHEN event_id % 10 = 0 "
                "THEN 1800000 WHEN event_id % 100 = 7 THEN 14400000 "
                "ELSE 0 END) * 1048576 + event_id % 1048576")
_ARRIVAL_SPARK = ("(unix_micros(cast(ts as timestamp)) div 1000 + CASE WHEN event_id % 10 = 0 "
                  "THEN 1800000 WHEN event_id % 100 = 7 THEN 14400000 "
                  "ELSE 0 END) * 1048576 + event_id % 1048576")


def _watermark_recommend_oracle() -> str:
    from spanner_data_validator_spark.operators.lateness import (
        watermark_recommendation_sql,
    )

    return watermark_recommendation_sql(
        f"SELECT {_ARRIVAL_SQL} AS arrival, ts FROM events",
        "arrival", "ts")


@register("watermark_recommend", _watermark_recommend_oracle())
def q_watermark_recommend(spark, sf_dir):
    """Watermark auto-tuning: per-row event-time lag behind the arrival-order
    high-water mark (operators/lateness.arrival_lag — a distributed PREFIX
    MAX: arrival-range bucket maxima + tiny exclusive scan + per-bucket
    window; no single-task pass over row-scale data), reduced to an exact
    ceil-second histogram, answering "the smallest watermark delay that
    retains >= 50/95/99/100% of rows" in pure BIGINT rank arithmetic. The
    oracle replays it with one running-max window over the same planted
    late-arrival pattern. This is the measurement that sizes the streaming
    validator's state (BENCH.md: state = rate x (watermark + band))."""
    from spanner_data_validator_spark.operators.lateness import (
        watermark_recommendation,
    )

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.expr(_ARRIVAL_SPARK).alias("arrival"), "ts"))
    return watermark_recommendation(
        ev, F.col("arrival"), F.col("ts"), pcts=(50, 95, 99, 100))


# ---------------------------------------------------------------------------
# Streaming drop-risk monitor (streaming/lag_monitor.py): the in-stream twin
# of watermark_recommend — per-wave delivery-lag tallies with exactly-once
# partials, published as the corpus retention curve
# ---------------------------------------------------------------------------

_LAG_MONITOR_WAVES = 16

_LAG_MONITOR_SQL = f"""
WITH e AS (SELECT {_ARRIVAL_SQL} AS arrival, epoch_us(ts) AS us FROM events),
b AS (SELECT min(arrival) AS amin,
             (max(arrival) - min(arrival)) // {_LAG_MONITOR_WAVES} + 1 AS step
      FROM e),
w AS (SELECT (arrival - amin) // step AS wave, us FROM e, b),
m AS (SELECT wave, max(us) AS mx FROM w GROUP BY wave),
c AS (SELECT wave, max(mx) OVER (ORDER BY wave
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hw_prev FROM m),
l AS (SELECT CASE WHEN c.hw_prev IS NULL OR c.hw_prev <= w.us THEN 0
                  ELSE (c.hw_prev - w.us + 999999) // 1000000 END AS lag_s
      FROM w JOIN c USING (wave))
SELECT CAST(lag_s AS BIGINT) AS lag_s, CAST(count(*) AS BIGINT) AS n
FROM l GROUP BY lag_s
"""


@register("stream_lag_monitor", _LAG_MONITOR_SQL)
def q_stream_lag_monitor(spark, sf_dir):
    """In-stream watermark drop-risk monitor: events under the planted
    late-arrival model are split into 16 delivery waves by arrival range and
    streamed two wave-files per micro-batch (multi-wave batches exercise
    the sink's in-batch carry scan); streaming/lag_monitor.LagMonitorSink
    tallies each row's ceil-second lag behind the carried-over delivery
    high-water mark into exactly-once partials; the published histogram is
    the read-side sum. The oracle replays wave maxima + exclusive prefix max
    in SQL. Result rows: how many rows need at least a lag_s-second
    watermark — the curve an operator reads BEFORE the stream-stream join
    starts dropping late rows."""
    import os
    import time as _time

    from spanner_data_validator_spark.streaming.lag_monitor import (
        LagMonitorSink,
    )

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.expr(_ARRIVAL_SPARK).alias("arrival"), "ts"))
    bounds = ev.agg(
        F.min("arrival").alias("amin"),
        (F.expr(f"(max(arrival) - min(arrival)) div {_LAG_MONITOR_WAVES}")
         + F.lit(1)).alias("step"))
    waved = (ev.crossJoin(F.broadcast(bounds))
             .select(F.expr("(arrival - amin) div step").alias("wave"), "ts"))

    work = work_dir("sdv_q_lagmon_")
    in_dir = f"{work}/in"
    # ONE staging write job (16 filter-passes over the corpus was 3x the
    # whole query's cost): partitionBy strips the partition column, so a
    # doubled column keeps `wave` in the data files; moves into the flat
    # watch dir get explicit ascending mtimes — the file source's
    # admission order — so waves deliver in order.
    tmp = f"{work}/stage"
    (waved.withColumn("wp", F.col("wave")).repartition("wp")
     .write.partitionBy("wp").parquet(tmp))
    os.makedirs(in_dir, exist_ok=True)
    base = _time.time() - 3600
    for k in range(_LAG_MONITOR_WAVES):
        part = f"{tmp}/wp={k}"
        for i, name in enumerate(sorted(os.listdir(part))):
            if not name.endswith(".parquet"):
                continue
            dst = f"{in_dir}/w{k:04d}_{i}.parquet"
            os.rename(f"{part}/{name}", dst)
            os.utime(dst, (base + k, base + k))

    monitor = LagMonitorSink(f"{work}/mon")
    stream = (spark.readStream.schema(waved.schema)
              .option("maxFilesPerTrigger", 2).parquet(in_dir))
    _drain(stream.writeStream.foreachBatch(monitor), work)
    return monitor.histogram(spark)


# ---------------------------------------------------------------------------
# per-type watermark recommendation (operators/lateness.py)
# ---------------------------------------------------------------------------

@register("watermark_recommend_by_type", f"""
WITH src AS (
  SELECT coalesce(event_type, '') AS event_type, {_ARRIVAL_SQL} AS arrival, ts
  FROM events
),
lag AS (
  SELECT event_type, epoch_us(ts) AS us,
         max(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY arrival
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_us
  FROM src
),
h AS (
  SELECT event_type, (run_us - us + 999999) // 1000000 AS lag_s,
         count(*) AS n
  FROM lag GROUP BY 1, 2
),
cum AS (
  SELECT event_type, lag_s, sum(n) OVER (
           PARTITION BY event_type ORDER BY lag_s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM h
),
tot AS (SELECT event_type, sum(n) AS n_total FROM h GROUP BY event_type),
p(pct) AS (VALUES (50), (95), (99), (100)),
hit AS (
  SELECT c.event_type, p.pct, c.lag_s, c.cum_n,
         row_number() OVER (PARTITION BY c.event_type, p.pct
                            ORDER BY c.lag_s) AS rk
  FROM p CROSS JOIN cum c JOIN tot t ON t.event_type = c.event_type
  WHERE c.cum_n >= (p.pct * t.n_total + 99) // 100
)
SELECT event_type, CAST(pct AS INT) AS pct,
       CAST(lag_s AS BIGINT) AS watermark_s,
       CAST(cum_n AS BIGINT) AS rows_within
FROM hit WHERE rk = 1
""")
def q_watermark_recommend_by_type(spark, sf_dir):
    """Per-SOURCE watermark tuning (operators/lateness
    .watermark_recommendation_by): each event_type stream gets its own
    arrival order, frontier, lag histogram and recommendation — the
    multi-tenant form (Spark applies the max watermark across a union, so
    per-group numbers say which source to fix, not which global delay to
    swallow). Every stage partitions by the group: the grouped profiler
    has NO single-task window at all."""
    from spanner_data_validator_spark.operators.lateness import (
        watermark_recommendation_by,
    )

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.coalesce(F.col("event_type"), F.lit(""))
                  .alias("event_type"),
                  F.expr(_ARRIVAL_SPARK).alias("arrival"), "ts"))
    return watermark_recommendation_by(
        ev, "event_type", F.col("arrival"), F.col("ts"),
        pcts=(50, 95, 99, 100))
