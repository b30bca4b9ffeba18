"""In-stream watermark drop-risk monitor: the streaming twin of
``operators/lateness``.

``operators/lateness.watermark_recommendation`` profiles a static corpus;
this sink measures the SAME quantity — per-row event-time lag behind the
delivery high-water mark, in ceil seconds (the smallest watermark delay
that would retain the row) — while a stream runs, so an operator can see
drop risk building up *before* rows start disappearing from a stateful
join (the silent failure mode of an undersized watermark; CLAUDE.md's
waves lesson is this exact mechanism observed from the outside).

Mechanics: input rows carry a ``wave`` column — a delivery-batch sequence
number (file drop index, Kafka epoch). Contract: waves arrive in order,
and one wave never spans two micro-batches — every wave of a batch must be
newer than every wave already seen, so a wave delivered as several files
needs them in ONE trigger (e.g. one file per wave under
``maxFilesPerTrigger``). The sink enforces it: a batch holding a wave at
or below the last seen one raises ``ValueError("wave order violated
...")`` rather than mis-attributing lag (pinned by
tests/test_lag_monitor.py: ``test_wave_order_violation_raises``,
``test_wave_split_across_batches_raises``). Per micro-batch, two bounded
passes: per-wave event-time maxima plus a carry-in scan over them (tiny —
same shape as ``lateness.arrival_lag``'s bucket scan, here per-batch
waves), then the per-(wave, ceil-second-lag) tallies against each wave's
carried-in high-water mark. Partials land in an
``ExactlyOnceParquetSink`` keyed by batch id, so a replayed batch id is a
no-op, and on restart the cross-batch high-water mark and last wave are
rebuilt from the committed partials. The published histogram is the
read-side sum of committed partials — no driver-held global state.

Scale: the shuffle after the streamed scan carries (wave, lag_s) groups —
bounded by waves x distinct lag seconds — never rows; the per-batch
python state is two integers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spanner_data_validator_spark.streaming.sink import ExactlyOnceParquetSink

_PARTIAL_SCHEMA = ("wave long, lag_s long, n long, wave_hw_us long")


class LagMonitorSink:
    """``foreachBatch`` callable tallying delivery lag per wave. Waves must
    arrive in order and one wave must not span two micro-batches (module
    docstring); a batch that breaks this raises ``ValueError``."""

    def __init__(self, out_dir: str, *, wave_col: str = "wave",
                 ts_col: str = "ts"):
        self.sink = ExactlyOnceParquetSink(os.path.join(out_dir, "lag_partials"))
        self.wave_col = wave_col
        self.ts_col = ts_col
        self._hw_us: int | None = None
        self._last_wave: int | None = None
        self._recovered = False

    def _recover(self, spark: SparkSession) -> None:
        """Rebuild (hw, last wave) from committed partials — restart path."""
        if self._recovered:
            return
        committed = self.sink.read_committed(spark)
        if committed is not None:
            row = committed.agg(F.max("wave_hw_us").alias("h"),
                                F.max("wave").alias("w")).first()
            self._hw_us = row["h"]
            self._last_wave = row["w"]
        self._recovered = True

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self._recover(spark)
        if self.sink.is_committed(batch_id):
            return  # replayed batch: partials durable, state already recovered

        wave = F.col(self.wave_col).cast("long")
        us = F.unix_micros(F.col(self.ts_col).cast("timestamp"))
        b = batch_df.select(wave.alias("__w"), us.alias("__us"))

        # tiny per-wave maxima + exclusive carry scan (waves per batch is
        # small by construction — one file drop is typically one wave)
        g = b.groupBy("__w").agg(F.max("__us").alias("__mx"))
        wx = Window.orderBy("__w").rowsBetween(Window.unboundedPreceding, -1)
        start = F.lit(self._hw_us).cast("long")
        # Spark greatest() skips NULLs (returns null only when ALL inputs
        # are null) — exactly the semantics the first-wave/first-batch
        # combinations need.
        carry = g.select(
            "__w", "__mx",
            F.greatest(F.max("__mx").over(wx), start).alias("__hw_prev"))

        lag_s = F.when(
            F.col("__hw_prev").isNull() | (F.col("__hw_prev") <= F.col("__us")),
            F.lit(0).cast("long")).otherwise(
            F.expr("(__hw_prev - __us + 999999) div 1000000"))
        # running high-water THROUGH each wave: its own max joined with the
        # carried-in prefix (an earlier wave in this batch may hold the
        # frontier — dropping it here would deflate later batches' lags).
        # ONE action per batch: tallies and per-wave hw ride the same plan.
        hw_end = F.greatest(F.col("__mx"), F.col("__hw_prev"))
        tal = (b.join(F.broadcast(
                   carry.select("__w", "__hw_prev",
                                hw_end.alias("wave_hw_us"))), "__w")
               .groupBy(F.col("__w").alias("wave"), lag_s.alias("lag_s"),
                        "wave_hw_us")
               .agg(F.count(F.lit(1)).alias("n"))).collect()
        per_wave = {r["wave"]: r["wave_hw_us"] for r in tal}

        if per_wave and self._last_wave is not None \
                and min(per_wave) <= self._last_wave:
            raise ValueError(
                f"wave order violated: batch {batch_id} delivered wave "
                f"{min(per_wave)} after wave {self._last_wave} — the lag "
                "attribution would be wrong; fix the delivery ordering")

        rows = [(r["wave"], r["lag_s"], r["n"], r["wave_hw_us"]) for r in tal]
        # ONE slice, no coalesce: createDataFrame(list) defaults to
        # defaultParallelism python-RDD slices, and coalescing those into a
        # single write task evaluates all 32 python partitions SERIALLY in
        # that task (~4 s/batch measured) — the partials are driver-local
        # already, so build them as one slice.
        out = (spark.createDataFrame(
                   spark.sparkContext.parallelize(rows, 1), _PARTIAL_SCHEMA)
               if rows else None)
        self.sink(out, batch_id)
        if per_wave:
            top = max(per_wave)
            self._hw_us = per_wave[top]
            self._last_wave = (top if self._last_wave is None
                               else max(self._last_wave, top))

    def histogram(self, spark: SparkSession) -> DataFrame:
        """(lag_s, n): the corpus-wide retention curve from committed
        partials — ``n`` rows need a watermark of at least ``lag_s``
        whole seconds."""
        committed = self.sink.read_committed(spark)
        if committed is None:
            return spark.createDataFrame([], "lag_s long, n long")
        return (committed.groupBy("lag_s")
                .agg(F.sum("n").alias("n")))
