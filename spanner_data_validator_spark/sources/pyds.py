"""PySpark-4 Python DataSource: a pluggable transcript source (batch +
micro-batch streaming) with deterministic, engine-replicable contents.

Why this exists
---------------
The reference validator reads its two sides through pluggable IO connectors
(``JdbcIO.readAll`` / ``SpannerIO.readAll`` — `JDBCToSpannerDVTWithHash.java`),
and the north-star deployment consumes Iceberg *incremental scans*. Spark's
seam for "a source the built-ins don't cover" is the Python DataSource API
(pyspark.sql.datasource, Spark 4): the driver plans offset ranges, executors
pull Arrow record batches — the same plan/scan split an Iceberg or CDC
connector uses. This module implements that seam end-to-end:

* ``reader()``    — batch scan, split into ``parts`` offset-range partitions
  (each partition generates its slice independently → scales to any executor
  count; nothing is materialized on the driver).
* ``streamReader()`` — micro-batch incremental scan with real offset
  management: ``initialOffset`` / ``latestOffset`` admit ``batch_rows`` new
  rows per trigger, ``partitions(start, end)`` splits each admitted range,
  ``commit`` marks progress. Restart-from-checkpoint is handled (see note in
  ``_StreamReader``). This is the sandbox stand-in for an Iceberg
  incremental-scan source, as a *source plugin* rather than a file stream.

Rows are a PURE FUNCTION of the global row id ``i`` (arithmetic only — no
RNG), so an independent engine can recompute the corpus from scratch:
``rows_oracle_sql()`` renders the identical row law as a DuckDB CTE, which
makes every query over this source fully oracle-checkable (the driver's
correctness gate compares value hashes, not just counts).

Row law (row id ``i``, options ``convs`` × ``turns``):
    conv      = i // turns                turn_idx = i % turns
    conv_id   = 'conv-' || lpad(conv, 8, '0')
    role      = 'system' if turn_idx = 0 and conv % 7 = 0
                else ('user','assistant','tool')[turn_idx % 3]
    ts        = 2025-01-01T00:00:00Z + ((conv % 16384)*7200 + turn_idx*60) s
                (conversations staggered 2 h, wrapping at 16384 like
                datagen/transcripts.py, so arbitrarily many overlap in time)
Text payloads are intentionally NOT generated here: queries derive them as
``md5('t:' || i)`` Spark-side (identical hex in DuckDB), keeping the source
pure arithmetic and the Arrow batches numpy-vectorized.

Scale: generation is embarrassingly parallel (each partition touches only
its [start, end) ids), batches are Arrow (zero per-row Python on the Spark
side), and the streaming state is one integer offset. A production connector
swaps ``_gen_batch`` for real scan tasks; the planning surface is identical.
"""

from __future__ import annotations

import ast
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

#: 2025-01-01T00:00:00Z — keep in sync with rows_oracle_sql below.
BASE_EPOCH_S = 1_735_689_600
#: sentinel event time: far enough out that its window/state never closes.
SENTINEL_EPOCH_S = BASE_EPOCH_S + 10 * 366 * 86_400

SOURCE_NAME = "sdv_transcripts"
SCHEMA = "i long, conv_id string, turn_idx int, role string, ts timestamp"


@dataclass
class _Range(InputPartition):
    start: int
    end: int


def _gen_batch(start: int, end: int, turns: int, n_rows: int,
               sentinel: bool) -> pa.RecordBatch:
    """Vectorized generation of rows [start, end) under the module row law.

    Ids >= ``n_rows`` (only reachable when ``sentinel``) become watermark
    sentinel rows: role='sentinel', far-future ts. They exist so a FINITE
    streaming run can flush its last event-time windows (CLAUDE.md gotcha:
    let the sentinel flow through window aggs — its own window never closes,
    so it can never reach an append sink).
    """
    i = np.arange(start, end, dtype=np.int64)
    conv = i // turns
    turn_idx = (i % turns).astype(np.int32)
    conv_id = np.char.add("conv-", np.char.zfill(conv.astype(str), 8))
    roles = np.array(["user", "assistant", "tool"])
    role = roles[turn_idx % 3].astype(object)
    role[(turn_idx == 0) & (conv % 7 == 0)] = "system"
    off_s = (conv % 16384) * 7200 + turn_idx.astype(np.int64) * 60
    ts_us = (BASE_EPOCH_S + off_s) * 1_000_000
    if sentinel:
        sent = i >= n_rows
        role[sent] = "sentinel"
        ts_us = np.where(sent, SENTINEL_EPOCH_S * 1_000_000, ts_us)
    return pa.RecordBatch.from_arrays(
        [pa.array(i),
         pa.array(conv_id.astype(object), type=pa.string()),
         pa.array(turn_idx, type=pa.int32()),
         pa.array(role, type=pa.string()),
         # tz-aware: Spark maps tz-naive Arrow timestamps to TIMESTAMP_NTZ,
         # which withWatermark rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)
         pa.array(ts_us, type=pa.timestamp("us", tz="UTC"))],
        names=["i", "conv_id", "turn_idx", "role", "ts"])


def _split(start: int, end: int, parts: int) -> list[_Range]:
    if end <= start:
        return []
    step = max(1, (end - start + parts - 1) // parts)
    return [_Range(s, min(s + step, end)) for s in range(start, end, step)]


def load_offset_file(path: str) -> int:
    """The offset durably stored at ``path``; a missing or empty file is 0."""
    try:
        with open(path) as f:
            return int(f.read().strip() or 0)
    except FileNotFoundError:
        return 0


def store_offset_file(path: str, v: int) -> None:
    """Store offset ``v`` at ``path`` atomically: a reader sees the old value
    or the new one, never a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, path)


class _Opts:
    def __init__(self, options: dict):
        self.turns = int(options.get("turns", "20"))
        self.convs = int(options.get("convs", "100"))
        self.n = self.convs * self.turns
        self.parts = int(options.get("parts", "8"))
        self.batch_rows = int(options.get("batch_rows", "1000"))
        self.sentinel = str(options.get("sentinel", "true")).lower() == "true"
        #: optional path persisting the delivery high water across reader
        #: restarts (point it inside the query's checkpoint dir)
        self.hw_file = options.get("hw_file")
        #: stream offsets run to n (+1 sentinel row when enabled)
        self.total = self.n + (1 if self.sentinel else 0)


class _Reader(DataSourceReader):
    """Batch reader with real filter pushdown on the row id.

    ``pushFilters`` narrows the generated [lo, hi) id range for range/point
    predicates on ``i`` BEFORE partition planning — the custom-source
    analogue of parquet scan pruning (a ``WHERE i >= x AND i < y`` over a
    10^12-row source then generates exactly the selected slice instead of
    everything). Filters on other columns (and shapes the range can't
    express, e.g. ``In``/``Not``) are yielded back to Spark unsupported and
    applied post-scan as usual.
    """

    def __init__(self, options: dict):
        self.o = _Opts(options)
        self.lo, self.hi = 0, self.o.n

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )
        for f in filters:
            col = getattr(f, "attribute", None)
            if col != ("i",):
                yield f
                continue
            if isinstance(f, EqualTo):
                self.lo = max(self.lo, int(f.value))
                self.hi = min(self.hi, int(f.value) + 1)
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, int(f.value) + 1)
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, int(f.value))
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, int(f.value))
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, int(f.value) + 1)
            else:
                yield f

    def partitions(self):
        return _split(self.lo, max(self.lo, self.hi), self.o.parts)

    def read(self, part: _Range):
        yield _gen_batch(part.start, part.end, self.o.turns, self.o.n, False)


class _StreamReader(DataSourceStreamReader):
    """Offset-managed incremental scan: ``batch_rows`` ids per trigger.

    The admission cursor ``_cur`` lives in the driver-side runner process
    and restarts at 0 after a recovery, while the engine resumes from its
    checkpoint. Restart safety is explicit, driven by the measured engine
    call sequences (tests/test_pyds.py replays them verbatim):

    * restart probe: the engine first plans the ZERO-WIDTH range
      ``(logged_end, logged_end)`` — that offset may belong to an
      uncommitted batch, so it must not advance any state (advancing the
      high water here emptied the subsequent replay and silently lost the
      batch — measured);
    * replay of a logged-but-uncommitted batch:
      ``partitions(committed, logged_end)`` — regenerated in full (the
      file sink's batch-id metadata dedups whole-batch replays);
    * stale admission: a fresh post-restart ``latestOffset()`` can return
      LESS than the committed offset and the engine logs that strictly
      BACKWARD batch ``(committed, stale)`` — it emits nothing, but its
      start is authoritative delivery evidence, advancing the high-water
      mark ``_hw``;
    * catch-up: a later real batch whose logged range dips below ``_hw``
      generates only ``[max(start, _hw), end)`` — committed rows are never
      re-emitted.

    The high water is process-local by default, which covers ONE restart
    (the stale-admission batch rewinds the engine's offset log, so a SECOND
    restart before the catch-up batch commits would replay from the rewound
    offset with a fresh ``_hw``). Set the ``hw_file`` option (a path inside
    the query's checkpoint dir) to persist the high water across restarts
    and make the no-re-emission guarantee unconditional — the demo query
    and the restart tests do.
    """

    def __init__(self, options: dict):
        self.o = _Opts(options)
        self._cur = 0   # admission cursor (how far latestOffset has offered)
        # delivery high water (never re-emit below)
        self._hw = load_offset_file(self.o.hw_file) if self.o.hw_file else 0

    def _advance_hw(self, v: int) -> None:
        if v <= self._hw:
            return
        self._hw = v
        if self.o.hw_file:
            store_offset_file(self.o.hw_file, v)

    def initialOffset(self) -> dict:
        return {"i": 0}

    def latestOffset(self) -> dict:
        self._cur = min(max(self._cur, self._hw) + self.o.batch_rows,
                        self.o.total)
        return {"i": self._cur}

    def partitions(self, start: dict, end: dict):
        s, e = int(start["i"]), int(end["i"])
        if e == s:
            # zero-width probe: on restart the engine plans
            # (logged_end, logged_end) BEFORE replaying an uncommitted
            # batch — that offset may never have been delivered, so it
            # must NOT advance the high water (measured: advancing here
            # emptied the subsequent replay and lost the batch)
            return []
        if e < s:
            # strictly backward batch: the engine's start is its last
            # logged==committed offset (this only happens right after
            # restart when a stale latestOffset was logged) — everything
            # below s was delivered; record it, emit nothing
            self._advance_hw(s)
            self._cur = max(self._cur, self._hw)
            return []
        lo = max(s, self._hw)
        self._advance_hw(s)
        self._cur = max(self._cur, self._hw)
        return _split(lo, e, self.o.parts)

    def read(self, part: _Range):
        yield _gen_batch(part.start, part.end, self.o.turns, self.o.n,
                         self.o.sentinel)

    def commit(self, end: dict) -> None:
        self._advance_hw(int(end["i"]))


class TranscriptGenDataSource(DataSource):
    """``spark.read.format("sdv_transcripts")`` / ``spark.readStream...``.

    Options: ``convs``, ``turns`` (corpus shape), ``parts`` (scan
    parallelism), ``batch_rows`` (streaming admission per trigger),
    ``sentinel`` (streaming only: append one far-future watermark-flush row).
    """

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema):
        return _Reader(self.options)

    def streamReader(self, schema):
        return _StreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the source with a SparkSession."""
    spark.dataSource.register(TranscriptGenDataSource)


def rows_oracle_sql(convs: int, turns: int) -> str:
    """DuckDB CTE reproducing the source's row law exactly (no sentinel).

    Exposes columns (i, conv_id, turn_idx, role, off_s) where ``off_s`` is
    the event-time offset in seconds from BASE_EPOCH_S — windowed oracles
    compute epoch-ms window starts as
    ``(BASE_EPOCH_S + off_s // 3600 * 3600) * 1000`` without touching
    timestamp types at all.
    """
    n = convs * turns
    return f"""
pyds_rows AS (
  SELECT i,
         'conv-' || lpad(CAST(i // {turns} AS VARCHAR), 8, '0') AS conv_id,
         CAST(i % {turns} AS INT) AS turn_idx,
         CASE WHEN i % {turns} = 0 AND (i // {turns}) % 7 = 0 THEN 'system'
              WHEN i % {turns} % 3 = 0 THEN 'user'
              WHEN i % {turns} % 3 = 1 THEN 'assistant'
              ELSE 'tool' END AS role,
         ((i // {turns}) % 16384) * 7200 + (i % {turns}) * 60 AS off_s
  FROM range(0, {n}) t(i)
)"""


def source_offset(progress: dict | None, source_idx: int = 0,
                  key: str = "i") -> int | None:
    """Parse a StreamingQueryProgress source endOffset (the engine renders
    the reader's offset dict with Python repr, not strict JSON); ``key`` is
    the offset dict's field."""
    if not progress:
        return None
    end = progress["sources"][source_idx].get("endOffset")
    if end is None:
        return None
    if isinstance(end, str):
        end = ast.literal_eval(end)
    return int(end[key])


def drain_to_offset(query, target: int, key: str, *,
                    timeout_s: float = 300.0, poll_s: float = 0.25) -> None:
    """Run a processingTime-triggered query until EVERY source's end offset
    field ``key`` has reached ``target`` AND a no-data trigger ran after it
    (so event-time windows and outer-join timeouts closed by the final
    batch's watermark have been emitted), then stop it.

    Needed because Trigger.AvailableNow with a Python streaming source
    executes exactly ONE micro-batch bounded by the first ``latestOffset()``
    poll (measured on Spark 4.1: remaining offsets are never admitted) —
    so finite runs over such sources use processingTime + explicit drain.
    Re-raises the query's exception; raises TimeoutError rather than
    returning a partial result.
    """
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if query.exception():
            raise query.exception()
        p = query.lastProgress
        if (p is not None and (p["numInputRows"] or 0) == 0 and p["sources"]
                and all((source_offset(p, i, key) or 0) >= target
                        for i in range(len(p["sources"])))):
            query.stop()
            return
        time.sleep(poll_s)
    query.stop()
    raise TimeoutError(
        f"stream did not reach offset {key}={target} within {timeout_s}s")


def drain_stream(query, target_offset: int, *, timeout_s: float = 300.0,
                 poll_s: float = 0.25) -> None:
    """:func:`drain_to_offset` on this source's row offset ``i``."""
    drain_to_offset(query, target_offset, "i",
                    timeout_s=timeout_s, poll_s=poll_s)
