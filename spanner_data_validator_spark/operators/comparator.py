"""Batch validation core: dedup → full-outer match → classify → tally.

Reference semantics being re-expressed (GoogleCloudPlatform/spanner-data-validator):

* CoGroupByKey of source/target fingerprints (JDBCToSpannerDVTWithHash.java:348-353)
  → here a single **full-outer join** keyed on the row key. The reference keys by
  ``range|sha256`` so a content change shows up as two unmatched keys; we join on
  the row key and compare fingerprints, classifying four ways. The reference's
  tallies are then recovered exactly (see ``tally_report``):

      match_count            = MATCH
      source_count           = MATCH + MISMATCH + SOURCE_ONLY
      target_count           = MATCH + MISMATCH + TARGET_ONLY
      source_conflict_count  = MISMATCH + SOURCE_ONLY
      target_conflict_count  = MISMATCH + TARGET_ONLY

  (identity derived from CountMatchesDoFn.java:67-122 — a mismatched row lands
  under two different ``range|hash`` keys, counting once per conflict side.)

* Duplicate keys: the reference inspects only the FIRST element per side
  (CountMatchesDoFn.java:73-80). Beam's iteration order is nondeterministic; we
  pin a deterministic "first" = min(fingerprint[, payload]) per key
  (``dedup_first``) so runs are reproducible.

* Timestamp-threshold filter (CountMatchesDoFn.java:47-65, 84-120): rows outside
  ``[min(th+Δ, th), max(th+Δ, th)]`` (Δ≠0) or ``[th, th+10000d]`` (Δ=0) are
  dropped AFTER the join, using whichever side is present.

Scale notes (100 TB / 1000 executors):

* Rows are reduced to (key, 8-byte fingerprint) BEFORE the shuffle — the join
  exchanges carry no payloads unless mismatch rows were requested.
* dedup (groupBy key) and the join share the same hash partitioning; Catalyst
  reuses the exchange, so the whole pipeline is ONE shuffle per side.
* The join key (conv_id, turn_idx) is naturally fine-grained — no salting
  needed for the join itself; AQE skew-join splits any residual skew. Salting
  applies to the coarse per-range TALLY (see ``tally_report(salt_buckets=)``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MATCH = "MATCH"
MISMATCH = "MISMATCH"
SOURCE_ONLY = "SOURCE_ONLY"
TARGET_ONLY = "TARGET_ONLY"

STATUSES = [MATCH, MISMATCH, SOURCE_ONLY, TARGET_ONLY]
COUNT_COLS = ["match_count", "source_count", "target_count",
              "source_conflict_count", "target_conflict_count"]


def dedup_first(
    df: DataFrame,
    key_cols: list[str],
    *,
    fingerprint_col: str = "fingerprint",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic analogue of the reference's first-element-per-key rule.

    Keeps exactly one row per key: the one with the minimum
    (fingerprint, *carry_cols) tuple. One hash aggregate, combiner-lifted
    (partial → shuffle → final), so duplicate-heavy inputs shrink map-side.
    """
    carry = carry_cols or []
    picked = F.min(F.struct(F.col(fingerprint_col), *[F.col(c) for c in carry])).alias("__pick")
    out = df.groupBy(*key_cols).agg(picked)
    cols = [F.col(k) for k in key_cols]
    cols.append(F.col(f"__pick.{fingerprint_col}").alias(fingerprint_col))
    cols.extend(F.col(f"__pick.{c}").alias(c) for c in carry)
    return out.select(*cols)


def classify_status(src_fp: str, tgt_fp: str) -> Column:
    """Four-way status of a full-outer-joined row from its two fingerprint
    columns (CountMatchesDoFn.java:67-122) — the one copy of this rule."""
    s, t = F.col(src_fp), F.col(tgt_fp)
    return (
        F.when(s.isNotNull() & t.isNotNull(),
               F.when(s == t, MATCH).otherwise(MISMATCH))
        .when(t.isNull(), SOURCE_ONLY)
        .otherwise(TARGET_ONLY)
    )


def classify_pair(
    source: DataFrame,
    target: DataFrame,
    key_cols: list[str],
    *,
    fingerprint_col: str = "fingerprint",
    carry_cols: list[str] | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Full-outer match of two fingerprinted sides → one row per key with ``status``.

    Output schema: ``key_cols..., status, src_<fp>, tgt_<fp> [, src_/tgt_ carry]``.
    """
    carry = carry_cols or []
    if dedup:
        source = dedup_first(source, key_cols, fingerprint_col=fingerprint_col, carry_cols=carry)
        target = dedup_first(target, key_cols, fingerprint_col=fingerprint_col, carry_cols=carry)

    s = source.select(
        *[F.col(k) for k in key_cols],
        F.col(fingerprint_col).alias("src_fp"),
        *[F.col(c).alias(f"src_{c}") for c in carry],
    )
    t = target.select(
        *[F.col(k) for k in key_cols],
        F.col(fingerprint_col).alias("tgt_fp"),
        *[F.col(c).alias(f"tgt_{c}") for c in carry],
    )
    joined = s.join(t, on=key_cols, how="full_outer")
    return joined.withColumn("status", classify_status("src_fp", "tgt_fp"))


def latest_per_key(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_cols: list[str],
    *,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Last-writer-wins collapse of a change/upsert stream to its final state:
    one row per key carrying the ``value_cols`` of the max-(ts[, tiebreak])
    version. The dual of ``dedup_first`` (min) for CDC-style validation —
    a migration that tails a change stream is validated by collapsing the
    source's update history and classifying against the target snapshot.

    One combiner-lifted hash aggregate (``max_by`` a struct); the shuffle
    carries one partial row per (partition, key), so update-heavy keys
    shrink map-side. Ties on ``ts`` are broken by ``tiebreak_cols`` (pass
    the version/sequence column when the feed has same-timestamp updates —
    without one, ties pick the max value tuple, deterministic but arbitrary).
    """
    tb = tiebreak_cols or []
    ordkey = F.struct(F.col(ts_col), *[F.col(c) for c in tb],
                      *[F.col(c) for c in value_cols])
    picked = F.max_by(
        F.struct(*[F.col(c) for c in value_cols], F.col(ts_col)), ordkey
    ).alias("__latest")
    out = df.groupBy(*key_cols).agg(picked)
    return out.select(
        *[F.col(k) for k in key_cols],
        *[F.col(f"__latest.{c}").alias(c) for c in value_cols],
        F.col(f"__latest.{ts_col}").alias(ts_col),
    )


def apply_timestamp_threshold(
    classified: DataFrame,
    *,
    threshold_millis: int,
    delta_mins: int = 0,
    src_ts_col: str = "src_ts_millis",
    tgt_ts_col: str = "tgt_ts_millis",
) -> DataFrame:
    """Post-join timestamp-threshold filter (CountMatchesDoFn.java:47-65,84-120).

    Window: Δ≠0 → [min(th+Δ·60000, th), max(th+Δ·60000, th)]; Δ=0 → [th, th+10000 days].
    Applied to whichever side is present (the reference checks the spanner/target
    record when both are present — we follow that: target first, else source).

    The columns are compared as epoch millis, converted here by type: TIMESTAMP
    and DATE (midnight, session time zone) → ``unix_millis``; numeric as is.
    """
    if threshold_millis <= 0:
        return classified
    shifted = threshold_millis + delta_mins * 60_000
    start = min(shifted, threshold_millis)
    end = max(shifted, threshold_millis) if delta_mins != 0 else start + 10_000 * 86_400_000
    ts = F.coalesce(_epoch_millis(classified, tgt_ts_col),
                    _epoch_millis(classified, src_ts_col))
    return classified.where((ts >= F.lit(start)) & (ts <= F.lit(end)))


def _epoch_millis(df: DataFrame, col: str) -> Column:
    dtype = df.schema[col].dataType
    if isinstance(dtype, T.NumericType):  # already epoch millis
        return F.col(col).cast("long")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return F.unix_millis(F.col(col).cast("timestamp"))
    raise TypeError(f"threshold column {col!r} has type {dtype.simpleString()}; "
                    "expected a timestamp, date or numeric epoch-millis column")


def tally_report(
    classified: DataFrame,
    range_col: Column | str,
    *,
    run_name: str | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Per-range ComparerResult (dto/ComparerResult.java:23-38) from classified rows.

    Collapses the reference's five ``Count.perKey`` streams + count-assembly CoGBK
    (JDBCToSpannerDVTWithHash.java:367-424) into ONE hash aggregate.

    ``salt_buckets``: two-phase aggregation for hot ranges — first groupBy
    (range, crc32(keys)%N) partial sums, then groupBy(range) final sums. With
    few distinct ranges and 10^12 rows, partial combine already handles most of
    it; salting bounds the final-stage fan-in explicitly.
    """
    rc = F.col(range_col) if isinstance(range_col, str) else range_col
    df = classified.withColumn("range", rc.cast("string"))

    def counts(prefix=""):
        s = F.col("status")
        return [
            F.sum(F.when(s == MATCH, 1).otherwise(0)).alias(f"{prefix}match_count"),
            F.sum(F.when(s.isin(MATCH, MISMATCH, SOURCE_ONLY), 1).otherwise(0)).alias(
                f"{prefix}source_count"),
            F.sum(F.when(s.isin(MATCH, MISMATCH, TARGET_ONLY), 1).otherwise(0)).alias(
                f"{prefix}target_count"),
            F.sum(F.when(s.isin(MISMATCH, SOURCE_ONLY), 1).otherwise(0)).alias(
                f"{prefix}source_conflict_count"),
            F.sum(F.when(s.isin(MISMATCH, TARGET_ONLY), 1).otherwise(0)).alias(
                f"{prefix}target_conflict_count"),
        ]

    if salt_buckets:
        salt = F.pmod(F.crc32(F.concat_ws("\x1f", *classified.columns[:1])), F.lit(salt_buckets))
        partial = df.withColumn("__salt", salt).groupBy("range", "__salt").agg(*counts())
        report = partial.groupBy("range").agg(
            *[F.sum(c).alias(c) for c in COUNT_COLS])
    else:
        report = df.groupBy("range").agg(*counts())

    if run_name is not None:
        report = report.select(F.lit(run_name).alias("run_name"), "*")
    return report


def validate_batch(
    source: DataFrame,
    target: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    *,
    algo: str = "xxhash64",
    json_cols: set[str] | frozenset[str] = frozenset(),
    keep_values: bool = False,
    num_ranges: int = 64,
    run_name: str = "run",
    ts_col: str | None = None,
    threshold_millis: int = 0,
    delta_mins: int = 0,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """End-to-end batch validation (SURVEY.md §7.0 slice) — the one table plan,
    also behind ``jobs/spec_runner`` and ``jobs/query_spec_runner``. An
    optional ``ts_col`` is carried as ``src_/tgt_<ts_col>`` and, when
    ``threshold_millis > 0``, windowed by :func:`apply_timestamp_threshold`.

    Returns ``(classified, report, mismatch_rows)``:

    * ``classified`` — one row per key with status (+ payloads if keep_values)
    * ``report``     — per-range ComparerResult counts
    * ``mismatch_rows`` — the conflicting-record sink feed (status != MATCH),
      one row per (key, side) like the reference's per-side BQ writers
      (JDBCToSpannerDVTWithHash.java:159-189, 393-415)
    """
    from spanner_data_validator_spark.functions.fingerprint import fingerprint_turns

    fp = dict(algo=algo, json_cols=json_cols, keep_payload=keep_values, ts_col=ts_col)
    src_fp = fingerprint_turns(source, key_cols, payload_cols, **fp)
    tgt_fp = fingerprint_turns(target, key_cols, payload_cols, **fp)
    carry = (["payload"] if keep_values else []) + ([ts_col] if ts_col else [])
    classified = classify_pair(src_fp, tgt_fp, key_cols, carry_cols=carry)
    if ts_col:
        classified = apply_timestamp_threshold(
            classified, threshold_millis=threshold_millis, delta_mins=delta_mins,
            src_ts_col=f"src_{ts_col}", tgt_ts_col=f"tgt_{ts_col}")

    # reporting range: deterministic hash bucket of the first key column
    # (replaces the reference's driver-computed PartitionRange list +
    # MapWithRangeFn binary search, dofns/MapWithRangeFn.java:82-166 — hash
    # partitioning is what Spark already does; the *report* bucket is pmod)
    range_expr = F.pmod(F.xxhash64(*[F.col(k) for k in key_cols[:1]]), F.lit(num_ranges))
    report = tally_report(classified, range_expr, run_name=run_name)

    sides = []
    for side, fp_col in (("source", "src_fp"), ("target", "tgt_fp")):
        cols = [F.lit(run_name).alias("run_name"),
                F.lit(side).alias("side"),
                *[F.col(k) for k in key_cols],
                F.col("status"),
                F.col(fp_col).cast("string").alias("fingerprint")]
        if keep_values:
            cols.append(F.col(f"{'src' if side == 'source' else 'tgt'}_payload").alias("orig_value"))
        sides.append(
            classified.where((F.col("status") != MATCH) & F.col(fp_col).isNotNull()).select(*cols)
        )
    mismatch_rows = sides[0].unionByName(sides[1])
    return classified, report, mismatch_rows


def validate_aggregates(
    source: DataFrame,
    target: DataFrame,
    group_cols: list[str],
    agg_specs: list[tuple[str, str]],
    *,
    rel_tolerance: float = 0.0,
) -> DataFrame:
    """Column-aggregate validation with tolerance (group-level, not row-level).

    The cheapest validation tier: instead of joining 10^12 fingerprinted rows,
    compare per-group aggregates (COUNT / SUM / MIN / MAX of chosen columns)
    between the two sides — two hash aggregates plus a join on the small group
    key. This is the "column validation" mode of Google's professional-services
    Data Validation Tool that the reference repo's row-hash pipeline sits
    beside (README.md of the reference positions it as the row-level
    complement); here it is the coarse first pass whose failing groups feed
    the row-level ``classify_pair`` drill-down.

    ``agg_specs`` — [(fn, col)] with fn in {count,sum,min,max}; each produces
    ``src_<fn>_<col>`` / ``tgt_<fn>_<col>`` plus a per-group ``status``:
    MATCH when every aggregate pair is within ``rel_tolerance`` (relative,
    checked in double — |s-t| <= tol*|s|; exact equality when tol=0),
    MISMATCH otherwise, SOURCE_ONLY/TARGET_ONLY when a group exists on one
    side. SUM over floats is order-dependent under parallel reduction — pass
    integer/decimal columns for exact sums (decimal aggregation is exact in
    both Spark and DuckDB).
    """
    def side(df: DataFrame) -> DataFrame:
        aggs = []
        for fn, col in agg_specs:
            name = f"{fn}_{col}"
            if fn == "count":
                aggs.append(F.count(col).alias(name))
            elif fn == "sum":
                aggs.append(F.sum(col).alias(name))
            elif fn == "min":
                aggs.append(F.min(col).alias(name))
            elif fn == "max":
                aggs.append(F.max(col).alias(name))
            else:
                raise ValueError(f"unsupported aggregate: {fn}")
        return df.groupBy(*group_cols).agg(*aggs)

    names = [f"{fn}_{col}" for fn, col in agg_specs]
    s = side(source).select(*group_cols, F.lit(1).alias("_src_present"),
                            *[F.col(n).alias(f"src_{n}") for n in names])
    t = side(target).select(*group_cols, F.lit(1).alias("_tgt_present"),
                            *[F.col(n).alias(f"tgt_{n}") for n in names])
    j = s.join(t, on=group_cols, how="full_outer")

    within = F.lit(True)
    for n in names:
        sv = F.col(f"src_{n}").cast("double")
        tv = F.col(f"tgt_{n}").cast("double")
        # NULL aggregates (e.g. SUM of an all-null column) compare equal only
        # to NULL: eqNullSafe on the raw pair short-circuits the double test.
        within = within & (
            F.col(f"src_{n}").eqNullSafe(F.col(f"tgt_{n}"))
            | (F.abs(sv - tv) <= F.lit(rel_tolerance) * F.abs(sv)))
    present_s = F.col("_src_present").isNotNull()
    present_t = F.col("_tgt_present").isNotNull()
    status = (
        F.when(present_s & present_t, F.when(within, MATCH).otherwise(MISMATCH))
        .when(~present_t, SOURCE_ONLY)
        .otherwise(TARGET_ONLY)
    )
    return j.withColumn("status", status).drop("_src_present", "_tgt_present")


def classify_three_way(
    source: DataFrame,
    target: DataFrame,
    backup: DataFrame,
    key_cols: list[str],
    *,
    fingerprint_col: str = "fingerprint",
    dedup: bool = True,
) -> DataFrame:
    """Three-replica majority-vote reconciliation — the 2-side CoGBK
    classify (reference JDBCToSpannerDVTWithHash.java:348-353) extended
    to the source/target/backup triple a migration cutover actually has.
    One row per key with the fingerprint of each side and:

    * ``n_present`` — how many replicas hold the key;
    * ``status`` — ALL_MATCH / MAJORITY / ALL_DIFFER (3 present),
      PAIR_MATCH / PAIR_DIFFER (2 present), SINGLETON (1);
    * ``vote_fp`` — the majority fingerprint when one exists (>= 2 equal
      votes), else NULL: the value an auto-repair would write.

    Plan: two key-keyed full-outer joins (Spark co-plans them into one
    shuffle stage per side — every exchange is on the same key, so AQE
    reuses the partitioning); no row ever carries more than three
    fingerprints, so width is bounded regardless of payload size.
    """
    if dedup:
        source = dedup_first(source, key_cols,
                             fingerprint_col=fingerprint_col)
        target = dedup_first(target, key_cols,
                             fingerprint_col=fingerprint_col)
        backup = dedup_first(backup, key_cols,
                             fingerprint_col=fingerprint_col)
    sides = []
    for name, df in (("src", source), ("tgt", target), ("bak", backup)):
        sides.append(df.select(
            *[F.col(k) for k in key_cols],
            F.col(fingerprint_col).alias(f"{name}_fp")))
    j = (sides[0].join(sides[1], on=key_cols, how="full_outer")
         .join(sides[2], on=key_cols, how="full_outer"))
    s, t, b = F.col("src_fp"), F.col("tgt_fp"), F.col("bak_fp")
    n_present = (s.isNotNull().cast("int") + t.isNotNull().cast("int")
                 + b.isNotNull().cast("int"))
    st_eq = s.isNotNull() & t.isNotNull() & (s == t)
    sb_eq = s.isNotNull() & b.isNotNull() & (s == b)
    tb_eq = t.isNotNull() & b.isNotNull() & (t == b)
    any_pair = st_eq | sb_eq | tb_eq
    status = (
        F.when(n_present == 3,
               F.when(st_eq & sb_eq, F.lit("ALL_MATCH"))
                .when(any_pair, F.lit("MAJORITY"))
                .otherwise(F.lit("ALL_DIFFER")))
         .when(n_present == 2,
               F.when(any_pair, F.lit("PAIR_MATCH"))
                .otherwise(F.lit("PAIR_DIFFER")))
         .otherwise(F.lit("SINGLETON")))
    vote = (F.when(st_eq | sb_eq, s)
             .when(tb_eq, t)
             .otherwise(F.lit(None)))
    return (j.withColumn("n_present", n_present)
             .withColumn("status", status)
             .withColumn("vote_fp", vote))
