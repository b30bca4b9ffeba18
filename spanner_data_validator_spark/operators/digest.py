"""Per-range digests for incremental (recurring) validation.

The reference revalidates full tables on every run (run loop in
``JDBCToSpannerDVTWithHash.java`` over each TableSpec; the
last-updated-time cutoff in ``TableSpecList.java:85-123`` is its only
narrowing device). At 10^12 rows that is the wrong default: a daily
reconciliation should pay O(rows) only for ranges that actually changed.

This module adds the missing primitive, Spark-first:

1. ``range_digest`` — one scan + one tiny aggregate reduces each side to a
   constant-size per-range digest ``(n_rows, xor_fp, sum_lo, sum_hi)``.
   The shuffle carries ``n_ranges`` rows (thousands), never the table.
2. ``digest_drift`` — full-outer join of the two digest tables (tiny × tiny)
   flags ranges whose digests disagree.
3. ``incremental_validate`` — row-granular classification
   (``comparator.classify_pair``) restricted to the drifted ranges via a
   broadcast semi-join: at 0.1% daily churn the expensive join touches
   ~0.1% of the corpus.

Digest strength: a change is missed only if count, xor-fold, and BOTH
32-bit-half sums collide simultaneously — for an adversary-free corpus the
miss probability is ~2^-128 per range; duplicate-pair insertions (which an
xor fold alone cancels) are caught by the sums and the count. ``sum_lo`` /
``sum_hi`` stay exact below 2^31 rows per range — size ``n_ranges``
accordingly (10^12 rows / 2^20 ranges ≈ 10^6 rows/range is comfortable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RANGE_CHANGED = "RANGE_CHANGED"
RANGE_SOURCE_ONLY = "RANGE_SOURCE_ONLY"
RANGE_TARGET_ONLY = "RANGE_TARGET_ONLY"

DIGEST_COLS = ["n_rows", "xor_fp", "sum_lo", "sum_hi"]

_LO_MASK = (1 << 32) - 1


def digest_aggs(fp: Column) -> list[Column]:
    """The digest's four aggregates over a BIGINT fingerprint column, named
    as :data:`DIGEST_COLS`: row count, xor fold, and the sums of the low and
    the high 32-bit halves."""
    return [
        F.count("*").alias("n_rows"),
        F.bit_xor(fp).alias("xor_fp"),
        F.sum(fp.bitwiseAND(F.lit(_LO_MASK))).alias("sum_lo"),
        F.sum(F.shiftrightunsigned(fp, 32)).alias("sum_hi"),
    ]


def range_digest(
    df: DataFrame,
    range_id: Column,
    fingerprint: Column,
    *,
    range_col: str = "range_id",
) -> DataFrame:
    """Constant-size per-range digest of a fingerprinted table.

    Output: ``(range_col, n_rows, xor_fp, sum_lo, sum_hi)`` — an
    order-independent multiset signature per range. The aggregate is
    combiner-lifted (partial map-side), so the exchange carries one row per
    (input partition × range): the table itself is never shuffled.
    """
    fp = fingerprint.cast("long")
    return (
        df.select(range_id.alias(range_col), fp.alias("__fp"))
        .groupBy(range_col)
        .agg(*digest_aggs(F.col("__fp")))
    )


def digest_drift(
    src_digest: DataFrame,
    tgt_digest: DataFrame,
    *,
    range_col: str | list[str] = "range_id",
) -> DataFrame:
    """Ranges whose digests disagree: ``(*range_col, status, src_n, tgt_n)``.

    A tiny full-outer join (n_ranges × n_ranges); ranges digesting equal on
    all four components are dropped — those need no row-level work.
    ``range_col`` may be a composite key (e.g. ``["window_start",
    "range_id"]`` for the windowed streaming monitor).
    """
    keys = [range_col] if isinstance(range_col, str) else list(range_col)
    s = src_digest.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"s_{c}") for c in DIGEST_COLS],
    )
    t = tgt_digest.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"t_{c}") for c in DIGEST_COLS],
    )
    j = s.join(t, on=keys, how="full_outer")
    same = F.lit(True)
    for c in DIGEST_COLS:
        same = same & (F.col(f"s_{c}") == F.col(f"t_{c}"))
    status = (
        F.when(F.col("s_n_rows").isNull(), RANGE_TARGET_ONLY)
        .when(F.col("t_n_rows").isNull(), RANGE_SOURCE_ONLY)
        .otherwise(RANGE_CHANGED)
    )
    return (
        j.where(~F.coalesce(same, F.lit(False)))
        .select(
            *[F.col(k) for k in keys],
            status.alias("status"),
            F.coalesce(F.col("s_n_rows"), F.lit(0)).alias("src_n"),
            F.coalesce(F.col("t_n_rows"), F.lit(0)).alias("tgt_n"),
        )
    )


def incremental_validate(
    source: DataFrame,
    target: DataFrame,
    key_cols: list[str],
    range_id: Column,
    *,
    fingerprint_col: str = "fingerprint",
    range_col: str = "range_id",
    dedup: bool = True,
):
    """Recurring-validation fast path: digest → drift → row-level classify of
    ONLY the drifted ranges.

    ``source`` / ``target`` are fingerprinted frames (``key_cols`` +
    ``fingerprint_col``); ``range_id`` is the range-assignment expression
    evaluated on either side (it must depend only on key columns so both
    sides agree). Returns ``(drift, classified)``:

    * ``drift`` — the ``digest_drift`` table (tiny; persist/collect freely).
    * ``classified`` — ``comparator.classify_pair`` over the rows of drifted
      ranges only, keyed membership via a **broadcast** semi-join (the drift
      set is bounded by n_ranges, so the corpus-side plan is scan → filter —
      no extra shuffle before the classify join's own exchange).

    Rows in undrifted ranges are MATCH by digest proof and never re-read —
    the 10^12-row daily reconciliation touches only churned data.
    """
    from spanner_data_validator_spark.operators.comparator import classify_pair

    fp = F.col(fingerprint_col)
    src_d = range_digest(source, range_id, fp, range_col=range_col)
    tgt_d = range_digest(target, range_id, fp, range_col=range_col)
    drift = digest_drift(src_d, tgt_d, range_col=range_col)

    changed = F.broadcast(drift.select(range_col).distinct())
    src_rows = source.withColumn(range_col, range_id).join(
        changed, on=range_col, how="left_semi"
    )
    tgt_rows = target.withColumn(range_col, range_id).join(
        changed, on=range_col, how="left_semi"
    )
    classified = classify_pair(
        src_rows,
        tgt_rows,
        key_cols,
        fingerprint_col=fingerprint_col,
        carry_cols=[range_col],
        dedup=dedup,
    )
    return drift, classified
