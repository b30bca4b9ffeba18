"""Partition-range generation + range assignment (reference §2.7 / MapWithRangeFn).

The reference computes a driver-side ``List<PartitionRange>`` per table and
binary-searches it per row (partitioning/LongPartitionRangeListFetcher.java:46-152,
IntegerPartitionRangeListFetcher.java, UUIDPartitionRangeListFetcher.java:47-163,
TimestampPartitionRangeListFetcher.java:60-126, StringPartitionListFetcher.java:13-51;
dofns/MapWithRangeFn.java:82-166). In Spark the *physical* partitioning is the
engine's hash exchange — these ranges survive only as (a) scan predicates for
predicate-per-partition JDBC reads and (b) the REPORTING bucket column.

Behavioral parity reproduced exactly (asserted by tests mirroring
PartitionRangeTest.java):

* even step ``(end-start)/count``; interior ranges ``[min, min+step-1]`` —
  adjacent (``r[i].end + 1 == r[i+1].start``); LAST range starts at the
  previous range's end and closes at ``end`` (the reference's off-by-one
  overlap quirk, LongPartitionRangeListFetcher.java:92-107 — kept verbatim
  since report bucketing must match).
* coverage < 1 shrinks each emitted range's width to ``step*coverage`` while
  still advancing by the full step (…java:61-73).
* partition-filter ratio keeps a ``[start,start]`` seed range, every
  ``i % ratio == 0`` interior range, and a closing range
  (…java:114-152, esp. :141).
* UUID ranges via 128-bit integer arithmetic (UUIDHelpers.java:23-39).
* STRING supports exactly one partition (StringPartitionListFetcher.java:23-41).

Range *assignment* is O(1) arithmetic for uniform numeric lists
(``assign_range_long``); the generic sorted-bounds floor lookup
(``assign_range_generic`` / ``with_range_partition``, UUID/TIMESTAMP/STRING
comparator parity) folds over one broadcast literal starts array, and
``assign_range_via_join`` covers very large lists with a broadcast range
join — never a Python loop.
"""

from __future__ import annotations

import uuid as _uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

UUID_SPACE = 2**128 - 1


@dataclass(frozen=True)
class PartitionRange:
    """[start, end] pair carried as strings (dto/PartitionRange.java:23-52)."""

    start: str
    end: str


# ---------------------------------------------------------------------------
# integer-domain core (LONG / INTEGER / UUID / TIMESTAMP all reduce to this)
# ---------------------------------------------------------------------------

def _int_ranges(start: int, end: int, count: int, coverage: Fraction) -> list[tuple[int, int]]:
    if count <= 0:
        raise ValueError("Partition count must be > 0")
    if coverage > 1:
        raise ValueError("Coverage percent must be <= 1")
    step = (end - start) // count
    partial = coverage < 1
    cstep = int(step * coverage) if partial else step
    if partial and cstep <= 0:
        raise ValueError("step size <= 0 after coverage")
    if count == 1:
        return [(start, start + cstep if partial else end)]
    out: list[tuple[int, int]] = []
    max_range = start - 1
    for _ in range(count - 1):
        min_range = max_range + 1
        out.append((min_range, min_range + cstep - 1))
        max_range = min_range + step - 1
    out.append((max_range, max_range + cstep if partial else end))
    return out


def _int_ranges_with_filter(start: int, end: int, count: int, ratio: int) -> list[tuple[int, int]]:
    step = (end - start) // count
    if ratio > count:
        raise ValueError("PartitionFilterRatio < PartitionCount!")
    out = [(start, start)]
    max_range = start + 1
    for i in range(count - 1):
        min_range = max_range
        max_range = min_range + step
        if ratio > 0 and i % ratio != 0:
            continue
        out.append((min_range, max_range))
    out.append((max_range, end))
    return out


# ---------------------------------------------------------------------------
# typed fetchers (PartitionRangeListFetcherFactory.java:23-40)
# ---------------------------------------------------------------------------

def long_ranges(start: str | int, end: str | int, count: int,
                coverage: float = 1.0) -> list[PartitionRange]:
    rs = _int_ranges(int(start), int(end), count, Fraction(coverage).limit_denominator(10**9))
    return [PartitionRange(str(a), str(b)) for a, b in rs]


integer_ranges = long_ranges  # IntegerPartitionRangeListFetcher is structurally identical


def long_ranges_with_filter(start: str | int, end: str | int, count: int,
                            ratio: int) -> list[PartitionRange]:
    rs = _int_ranges_with_filter(int(start), int(end), count, ratio)
    return [PartitionRange(str(a), str(b)) for a, b in rs]


def uuid_ranges(start: str, end: str, count: int, coverage: float = 1.0) -> list[PartitionRange]:
    """128-bit UUID key space (UUIDPartitionRangeListFetcher.java:47-117)."""
    lo, hi = _uuid.UUID(start).int, _uuid.UUID(end).int
    rs = _int_ranges(lo, hi, count, Fraction(coverage).limit_denominator(10**9))
    return [PartitionRange(str(_uuid.UUID(int=a)), str(_uuid.UUID(int=b))) for a, b in rs]


def timestamp_ranges(start: str, end: str, count: int, coverage: float = 1.0,
                     fmt: str = "%Y-%m-%d %H:%M:%S") -> list[PartitionRange]:
    """Delegates to the integer core on epoch millis
    (TimestampPartitionRangeListFetcher.java:60-126, lenient parse)."""
    lo, hi = _parse_ts_millis(start), _parse_ts_millis(end)
    rs = _int_ranges(lo, hi, count, Fraction(coverage).limit_denominator(10**9))

    def render(ms: int) -> str:
        return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime(fmt)

    return [PartitionRange(render(a), render(b)) for a, b in rs]


def _parse_ts_millis(s: str) -> int:
    for fmt in ("%Y-%m-%dT%H:%M:%S.%f%z", "%Y-%m-%dT%H:%M:%S%z", "%Y-%m-%d %H:%M:%S.%f",
                "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            dt = datetime.strptime(s, fmt)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return int(dt.timestamp() * 1000)
        except ValueError:
            continue
    raise ValueError(f"unparseable timestamp: {s}")


def string_ranges(start: str, end: str, count: int) -> list[PartitionRange]:
    """Lexicographic splitting is not defined by the reference — 1 partition only
    (StringPartitionListFetcher.java:23-41)."""
    if count != 1:
        raise NotImplementedError("STRING range fetcher supports exactly 1 partition")
    return [PartitionRange(start, end)]


def fetch_ranges(range_field_type: str, start: str, end: str, count: int,
                 coverage: float = 1.0) -> list[PartitionRange]:
    t = range_field_type.upper()
    if t in ("LONG", "INTEGER", "INT"):
        return long_ranges(start, end, count, coverage)
    if t == "UUID":
        return uuid_ranges(start, end, count, coverage)
    if t == "TIMESTAMP":
        return timestamp_ranges(start, end, count, coverage)
    if t == "STRING":
        return string_ranges(start, end, count)
    raise ValueError(f"Unsupported range field type: {range_field_type}")


# ---------------------------------------------------------------------------
# Spark-side range machinery
# ---------------------------------------------------------------------------

def long_ranges_df(spark: SparkSession, start: int, end: int, count: int) -> DataFrame:
    """Distributed range generation: sequence + posexplode, no driver loop —
    for partition counts in the millions (sample-tablespec.json uses 10^6)."""
    step = (end - start) // count
    one = spark.range(1).select(
        F.posexplode(F.sequence(F.lit(0), F.lit(count - 1))).alias("partition_id", "i")
    )
    min_r = F.lit(start) + F.col("i") * F.lit(step)
    is_last = F.col("i") == F.lit(count - 1)
    # reference quirk: last range starts at previous end (= min-1) and closes at `end`
    return one.select(
        F.col("partition_id").cast("int").alias("partition_id"),
        F.when(is_last, min_r - 1).otherwise(min_r).cast("long").alias("start_long"),
        F.when(is_last, F.lit(end)).otherwise(min_r + F.lit(step) - 1)
         .cast("long").alias("end_long"),
    )


def assign_range_long(key: Column, start: int, end: int, count: int) -> Column:
    """O(1) arithmetic bucket for LONG keys — replaces MapWithRangeFn's
    per-row binary search (dofns/MapWithRangeFn.java:151-166) with a codegen'd
    expression. Keys below start clamp to 0, above end to count-1 (the
    reference's floor semantics: miss → -idx-2 floor bucket)."""
    step = (end - start) // count
    raw = F.floor((key - F.lit(start)) / F.lit(step))
    return F.greatest(F.lit(0), F.least(raw, F.lit(count - 1))).cast("int")


def _sorted_starts(ranges: list[PartitionRange], field_type: str) -> list[str]:
    """Range starts sorted with the reference's per-type comparators
    (MapWithRangeFn.java:35-57): numeric for INT/LONG, 128-bit for UUID,
    RAW STRING for TIMESTAMP and STRING (quirk kept — the reference compares
    timestamp bounds lexicographically)."""
    t = field_type.upper()
    if t in ("LONG", "INTEGER", "INT"):
        return [r.start for r in sorted(ranges, key=lambda r: int(r.start))]
    if t == "UUID":
        # canonical lowercase UUID text is fixed-width hex, so lexicographic
        # order == 128-bit numeric order; normalize case once here
        return sorted((r.start.lower() for r in ranges))
    return sorted(r.start for r in ranges)


def _range_key_expr(key: Column, field_type: str) -> Column:
    t = field_type.upper()
    if t in ("LONG", "INTEGER", "INT"):
        return key.cast("long")
    if t == "UUID":
        return F.lower(key)
    return key.cast("string")


def assign_range_generic(key: Column, ranges: list[PartitionRange],
                         field_type: str) -> Column:
    """Floor bucket over a broadcast sorted range list — the generic
    MapWithRangeFn assignment (binary-search floor,
    dofns/MapWithRangeFn.java:151-166): index = #(starts <= key) - 1 into the
    list sorted by start. Works for every RANGE key type incl. UUID /
    TIMESTAMP / STRING (the O(1)-arithmetic ``assign_range_long`` is the
    specialization for uniform LONG lists).

    Pure fold over ONE literal starts array (list literals ship as a single
    Literal node, broadcast by closure): O(n_ranges) per row but entirely
    JVM-side — right up to ~10^3 ranges. Pass ``key`` as a (near-)plain
    column reference: the fold lambda inlines the key expression per array
    element, so a composite expression (hash, concat, …) must be projected
    to a column first or it is recomputed n_ranges times per row. Beyond
    ~10^3 ranges use
    ``assign_range_via_join`` (broadcast range join; the planner turns it
    into a broadcast nested-loop probe). Keys below every start clamp to
    bucket 0 (the reference throws there; its lists always start at the type
    MIN so the branch is unreachable in practice).
    """
    starts = _sorted_starts(ranges, field_type)
    k = _range_key_expr(key, field_type)
    t = field_type.upper()
    lit = (F.lit([int(s) for s in starts]) if t in ("LONG", "INTEGER", "INT")
           else F.lit(starts))
    idx = F.aggregate(
        lit, F.lit(-1),
        lambda acc, s: F.when(k >= s, acc + 1).otherwise(acc))
    return F.greatest(idx, F.lit(0)).cast("int")


def with_range_partition(df: DataFrame, key: Column, ranges: list[PartitionRange],
                         field_type: str, *, out_col: str = "partition_id") -> DataFrame:
    """``assign_range_generic`` with the key evaluated exactly ONCE per row.

    The key expression is routed through a Generate (single-element explode)
    node — an evaluation barrier Catalyst's CollapseProject cannot merge away
    — so a composite key (hash, concat, …) is never recomputed per range
    element inside the fold (measured 6x on md5-derived UUID keys)."""
    keyed = df.withColumn("__range_key", F.explode(F.array(key)))
    return (keyed.withColumn(
        out_col, assign_range_generic(F.col("__range_key"), ranges, field_type))
        .drop("__range_key"))


def assign_range_via_join(df: DataFrame, ranges: list[PartitionRange],
                          field_type: str, key_col: str,
                          *, out_col: str = "partition_id") -> DataFrame:
    """Join-based floor assignment for LARGE range lists: broadcast the
    (partition_id, lo, hi) bounds table and range-join ``lo <= key < hi``
    (hi = next range's start; the last range is open-ended, floor semantics).
    Spark executes this as a BroadcastNestedLoopJoin — no shuffle of ``df``.
    """
    starts = _sorted_starts(ranges, field_type)
    spark = df.sparkSession
    numeric = field_type.upper() in ("LONG", "INTEGER", "INT")
    rows = [(i, int(s) if numeric else s,
             (int(starts[i + 1]) if numeric else starts[i + 1])
             if i + 1 < len(starts) else None)
            for i, s in enumerate(starts)]
    schema = ("partition_id INT, lo LONG, hi LONG" if numeric
              else "partition_id INT, lo STRING, hi STRING")
    bounds = spark.createDataFrame(rows, schema)
    k = _range_key_expr(F.col(key_col), field_type)
    cond = (k >= F.col("lo")) & (F.col("hi").isNull() | (k < F.col("hi")))
    # keys below every start miss the join — clamp to bucket 0 exactly like
    # assign_range_generic, so the two forms are swap-compatible
    return (df.join(F.broadcast(bounds), cond, "left")
              .drop("lo", "hi")
              .withColumn("partition_id",
                          F.coalesce(F.col("partition_id"), F.lit(0)))
              .withColumnRenamed("partition_id", out_col))


def map_with_range_key(df: DataFrame, ranges: list[PartitionRange],
                       field_type: str, key_col: str,
                       *, mapping_type: str = "JUST_RANGE",
                       hash_col: str | None = None) -> DataFrame:
    """The reference's full MapWithRangeFn output: a ``range`` column
    rendered as "start|end" plus the composite grouping key for the chosen
    mode (MapWithRangeFn.java:99-116):

      JUST_RANGE           → key = "start|end"
      RANGE_PLUS_HASH      → key = "start|end|<hash>"
      RANGE_PLUS_KEY_PLUS_HASH → key = "start|end|<key>|<hash>"
    """
    ordered = sorted(
        ((r.start, r.end) for r in ranges),
        key=lambda p: (int(p[0]) if field_type.upper() in ("LONG", "INTEGER", "INT")
                       else (p[0].lower() if field_type.upper() == "UUID" else p[0])))
    idx = assign_range_generic(F.col(key_col), ranges, field_type)
    starts = F.lit([s for s, _ in ordered])
    ends = F.lit([e for _, e in ordered])
    rng = F.concat_ws("|", F.element_at(starts, idx + 1), F.element_at(ends, idx + 1))
    out = df.withColumn("range", rng)
    mode = mapping_type.upper()
    if mode == "JUST_RANGE":
        return out.withColumn("range_key", F.col("range"))
    if hash_col is None:
        raise ValueError(f"{mapping_type} requires hash_col")
    if mode == "RANGE_PLUS_HASH":
        return out.withColumn("range_key", F.concat_ws("|", rng, F.col(hash_col)))
    if mode == "RANGE_PLUS_KEY_PLUS_HASH":
        return out.withColumn(
            "range_key", F.concat_ws("|", rng, F.col(key_col), F.col(hash_col)))
    raise ValueError(f"Unrecognized mapping_type {mapping_type}")


def assign_range_hash(key_cols: list[Column | str], num_buckets: int) -> Column:
    """Hash bucket for STRING/UUID/composite keys: pmod(xxhash64(keys), N).
    This is the engine's reporting range for transcript keys (SURVEY.md §1.3)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return F.pmod(F.xxhash64(*cols), F.lit(num_buckets)).cast("int")


def sample_coverage(df: DataFrame, key: Column | str, coverage: float) -> Column:
    """Deterministic key-sampling filter ≈ coverage semantics (P4): keep a
    `coverage` fraction of the key space via hash mod — reproducible across
    runs/sides, unlike df.sample."""
    c = F.col(key) if isinstance(key, str) else key
    denom = 1_000_000
    return F.pmod(F.xxhash64(c), F.lit(denom)) < F.lit(int(coverage * denom))
