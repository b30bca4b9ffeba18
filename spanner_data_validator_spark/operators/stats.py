"""Distribution-level statistical validation: exact KS two-sample,
robust (MAD) outlier profiling, Benford first-digit conformance, and
functional-dependency discovery.

The reference validates per-row fingerprints (SURVEY §2 C1/A1). A
migration validator at 100 TB also needs *statistical* reconciliation
tiers that catch distribution-level corruption (a lossy type cast, a
clock-skewed shard, a fabricated column) without any row-granular
shuffle. Everything here is engine-exact by construction so the DuckDB
oracle matches bit-for-bit:

* ``ks_two_sample`` — the exact two-sample Kolmogorov-Smirnov statistic,
  computed in scaled-INTEGER arithmetic: D = max |cumA*nB - cumB*nA| over
  the merged value order, divided once at the end. No per-row float
  division means no aggregation-order sensitivity (the classic ECDF
  formulation sums floats and diverges per engine/partitioning).
* ``robust_outlier_profile`` — per-group median / MAD via exact rank
  arithmetic (value at the floor((n+1)/2)-th ordered row — the lower
  median, a value that EXISTS in the data) and an integer outlier count
  at ``|x - med| > k * MAD``.
* ``benford_profile`` — first-significant-digit counts against Benford
  expectations. The digit is extracted from an INTEGER (scaled cents)
  rendered to string — never from a double's string form, which differs
  across engines (scientific-notation thresholds), and never via
  ``log10``, whose libm rounding differs at exact powers of ten.
* ``fd_profile`` — functional-dependency discovery: for candidate
  (lhs -> rhs) pairs, does every lhs value map to exactly one rhs value?
  Pure integer counting (n_groups / n_violating / max rhs-per-lhs).

Scale notes (10^12 rows):

* KS needs a global cumulative sum over the merged distinct-value order —
  the one primitive Spark's Window cannot shard (no partition key). We
  run a textbook DISTRIBUTED PREFIX SUM instead: value-range buckets give
  per-bucket subtotals (tiny), an exclusive scan over those subtotals
  (driver-free, single tiny partition) broadcasts per-bucket offsets
  back, and the within-bucket cumsum runs under
  ``Window.partitionBy(bucket)`` — every stage parallel, no
  single-partition pass over row-scale data. The groupBy(value) that
  precedes it collapses the input to distinct values map-side first.
* The scaled-integer product cumA*nB stays in int64 while
  n_a * n_b < 2^63 (~3e9 rows per side); beyond that, pre-aggregate
  values into equi-width bins first (the KS statistic over binned data
  bounds the unbinned one within one bin's mass).
* MAD sorts within groups only (`Window.partitionBy(group)`) — one
  exchange keyed by group, same discipline as
  ``profile.quantiles_by_rank``; for a single giant group use
  ``profile.hist_quantiles`` (mergeable histogram) instead.
* Benford exchanges 9 rows after map-side partial aggregation; FD is one
  exchange per candidate keyed by lhs. Both trivially parallel.

Reference parity: extends dofns/CountMatchesDoFn.java classification
(row tier) with the distribution tier the reference leaves to BigQuery
post-hoc SQL.
"""

from __future__ import annotations

import math
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dbl(x: float) -> Column:
    return F.lit(float(x))


def ks_two_sample(df: DataFrame, value: Column, is_a: Column, is_b: Column,
                  *, n_buckets: int = 256) -> DataFrame:
    """Exact two-sample KS statistic between the ``is_a`` and ``is_b``
    sub-populations of ``value`` (rows where neither predicate holds are
    ignored; NULL values are excluded).

    Returns ONE row: ``(n_a, n_b, ks_num, ks_at_value, ks_stat)`` where
    ``ks_num = max |cumA*n_b - cumB*n_a|`` (exact BIGINT),
    ``ks_at_value`` is the smallest value attaining the max, and
    ``ks_stat = ks_num / (n_a*n_b)`` (one double division of exact
    integers — identical in every engine).

    Execution shape: groupBy(value) -> distributed prefix sum over
    value-range buckets (see module docstring) -> single max aggregate.
    """
    d = (df.where(value.isNotNull() & (is_a | is_b))
         .groupBy(value.alias("v"))
         .agg(F.sum(is_a.cast("long")).alias("ca"),
              F.sum(is_b.cast("long")).alias("cb")))
    # d feeds three branches (global stats, bucket subtotals, the bucketed
    # cumsum) — pin it or Catalyst re-scans the input per branch (the
    # multi-branch rescan trap; see CLAUDE.md). Distinct-value scale at
    # 100 TB: swap for .persist(DISK_ONLY) on a real cluster.
    d = d.localCheckpoint(eager=True)
    stats = d.agg(F.min("v").alias("lo"), F.max("v").alias("hi"),
                  F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    b = d.crossJoin(F.broadcast(stats))
    span = F.col("hi") - F.col("lo")
    bucket = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(F.lit(n_buckets - 1),
                F.floor((F.col("v") - F.col("lo")) / span
                        * F.lit(float(n_buckets)))))
    b = b.withColumn("bk", bucket.cast("long"))
    per = b.groupBy("bk").agg(F.sum("ca").alias("sa"),
                              F.sum("cb").alias("sb"))
    # exclusive scan over <= n_buckets rows: the only single-partition
    # window, and it sees bucket subtotals, never row-scale data.
    wx = (Window.orderBy("bk")
          .rowsBetween(Window.unboundedPreceding, -1))
    off = per.select(
        "bk",
        F.coalesce(F.sum("sa").over(wx), F.lit(0)).alias("off_a"),
        F.coalesce(F.sum("sb").over(wx), F.lit(0)).alias("off_b"))
    win = Window.partitionBy("bk").orderBy("v")
    j = (b.join(F.broadcast(off), "bk")
         .withColumn("cum_a", F.col("off_a") + F.sum("ca").over(win))
         .withColumn("cum_b", F.col("off_b") + F.sum("cb").over(win)))
    dnum = F.abs(F.col("cum_a") * F.col("nb")
                 - F.col("cum_b") * F.col("na"))
    # max(struct(d, -v)) maximises d then minimises v — a deterministic
    # argmax without a second pass (double negation is exact).
    picked = j.agg(
        F.max(F.struct(dnum.alias("d"), (-F.col("v")).alias("nv")))
        .alias("m"),
        F.max("na").alias("n_a"), F.max("nb").alias("n_b"))
    return picked.select(
        "n_a", "n_b",
        F.col("m.d").alias("ks_num"),
        (-F.col("m.nv")).alias("ks_at_value"),
        (F.col("m.d").cast("double")
         / (F.col("n_a").cast("double") * F.col("n_b").cast("double")))
        .alias("ks_stat"))


def robust_outlier_profile(df: DataFrame, group: str, value: Column,
                           *, k: int = 5) -> DataFrame:
    """Per-group robust outlier profile: exact lower median, exact MAD
    (median absolute deviation), and the count of rows with
    ``|x - median| > k * MAD``. One row per group:
    ``(group, n, med, mad, n_outliers)``.

    Both medians use rank arithmetic (value at the floor((n+1)/2)-th
    ordered row) so the result is a value present in the data and
    identical in any engine — no interpolation, no float averaging of the
    two middle elements. Two ordered window passes under the SAME
    group partitioning: one exchange total.
    """
    wg = Window.partitionBy(group)
    w1 = wg.orderBy(F.col("__v").asc())
    base = (df.where(value.isNotNull())
            .select(F.col(group), value.alias("__v")))
    ranked = (base
              .withColumn("__rn", F.row_number().over(w1))
              .withColumn("__n", F.count(F.lit(1)).over(wg)))
    med_rank = F.floor((F.col("__n") + F.lit(1)) / F.lit(2)).cast("long")
    with_med = ranked.withColumn(
        "__med",
        F.max(F.when(F.col("__rn") == med_rank, F.col("__v"))).over(wg))
    dev = with_med.withColumn("__ad", F.abs(F.col("__v") - F.col("__med")))
    w2 = wg.orderBy(F.col("__ad").asc())
    ranked2 = dev.withColumn("__rn2", F.row_number().over(w2))
    with_mad = ranked2.withColumn(
        "__mad",
        F.max(F.when(F.col("__rn2") == med_rank, F.col("__ad"))).over(wg))
    return (with_mad.groupBy(group)
            .agg(F.max("__n").alias("n"),
                 F.max("__med").alias("med"),
                 F.max("__mad").alias("mad"),
                 F.sum((F.col("__ad")
                        > F.lit(float(k)) * F.col("__mad")).cast("long"))
                 .alias("n_outliers")))


def benford_expected() -> dict[int, float]:
    """Benford first-digit probabilities, computed ONCE in Python and
    injected as literals into both engines (never log10 in-engine)."""
    return {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_profile(df: DataFrame, amount: Column) -> DataFrame:
    """First-significant-digit profile of a positive money-like column
    against Benford's law. One row per digit 1..9:
    ``(digit, observed, n_total, expected, chi_term)`` with
    ``chi_term = (observed - n*p)^2 / (n*p)``.

    The digit comes from the scaled-integer cents value rendered to a
    string — integer-to-string is identical everywhere, double-to-string
    is not. Rows with amount < 0.01 are excluded (no first significant
    digit at cent precision). Per-digit rows are kept instead of a
    cross-row float chi-square sum: summing doubles across rows is
    aggregation-order-dependent; nine per-digit terms are not.
    """
    exp = benford_expected()
    cents = F.floor(amount * _dbl(100.0) + _dbl(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1)
    counts = (df.where(amount.isNotNull() & (cents >= 1))
              .groupBy(digit.alias("digit"))
              .agg(F.count(F.lit(1)).alias("observed")))
    # 9 rows: the unpartitioned window sees 9 rows, never the input.
    n = F.sum("observed").over(
        Window.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
    p = F.element_at(
        F.array(*[_dbl(exp[i]) for i in range(1, 10)]),
        F.col("digit").cast("int"))
    with_n = counts.withColumn("n_total", n)
    expected = F.col("n_total").cast("double") * p
    dev = F.col("observed").cast("double") - expected
    return with_n.select(
        "digit", "observed", "n_total",
        expected.alias("expected"),
        (dev * dev / expected).alias("chi_term"))


def fd_profile(df: DataFrame,
               candidates: Sequence[tuple[str, str]]) -> DataFrame:
    """Functional-dependency discovery over candidate (lhs -> rhs) column
    pairs. One row per candidate:
    ``(lhs, rhs, n_groups, n_violating, max_rhs_per_lhs, holds)``.

    ``holds`` iff every lhs value maps to exactly one non-null-distinct
    rhs value. Each candidate is one groupBy(lhs) exchange with map-side
    partial count-distinct; candidates evaluate independently (Spark
    schedules the unioned branches concurrently). Pure integer counts —
    engine-exact. The single-pass multi-candidate alternative (one agg
    with k count-distincts) EXPANDs rows k+1 times map-side; per-candidate
    groupBys win once rows >> candidates.
    """
    parts = []
    for lhs, rhs in candidates:
        nd = (df.groupBy(F.col(lhs).alias("__l"))
              .agg(F.countDistinct(F.col(rhs)).alias("__nd")))
        parts.append(nd.agg(
            F.lit(lhs).alias("lhs"), F.lit(rhs).alias("rhs"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("__nd") > 1).cast("long")).alias("n_violating"),
            F.max("__nd").alias("max_rhs_per_lhs"),
        ).withColumn("holds", F.col("n_violating") == 0))
    return reduce(lambda a, b: a.unionByName(b), parts)


def _ols_terms(df: DataFrame, group: str, x: Column, y: Column) -> DataFrame:
    """Exact per-group second-order sums for OLS / Pearson on INTEGER
    series: n, sx, sy, sxy, sxx, syy — plus the centering offset x0 =
    per-group min(x) (centering keeps every per-row product inside
    int64; the final n*sxy - sx*sy combination runs in DECIMAL(38,0),
    Spark's exact 128-bit integer arithmetic, matching DuckDB's
    HUGEINT). One group-keyed exchange: the min(x) window shares the
    aggregation's partitioning.
    """
    wg = Window.partitionBy(group)
    base = (df.where(x.isNotNull() & y.isNotNull())
            .select(F.col(group), x.alias("__x"), y.alias("__y")))
    c = (base.withColumn("__x0", F.min("__x").over(wg))
         .withColumn("__xc", F.col("__x") - F.col("__x0")))
    return (c.groupBy(group)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("__x0").alias("x0"),
                 F.sum("__xc").alias("sx"),
                 F.sum("__y").alias("sy"),
                 F.sum(F.col("__xc") * F.col("__y")).alias("sxy"),
                 F.sum(F.col("__xc") * F.col("__xc")).alias("sxx"),
                 F.sum(F.col("__y") * F.col("__y")).alias("syy")))


_D38 = "decimal(38,0)"


def trend_slope(df: DataFrame, group: str, x: Column, y: Column) -> DataFrame:
    """Per-group exact simple linear regression of integer ``y`` on
    integer ``x`` (e.g. cents on epoch-seconds): one row per group with
    ``(group, n, slope, intercept)``.

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) with every sum an exact
    integer (see ``_ols_terms``); the two divisions are single double
    ops on exactly-represented integers — bit-identical in any engine.
    The intercept is reported at the UNCENTERED origin:
    (Sy - slope*(Sx + n*x0)) / n.
    """
    t = _ols_terms(df, group, x, y)
    num = (F.col("n").cast(_D38) * F.col("sxy").cast(_D38)
           - F.col("sx").cast(_D38) * F.col("sy").cast(_D38))
    den = (F.col("n").cast(_D38) * F.col("sxx").cast(_D38)
           - F.col("sx").cast(_D38) * F.col("sx").cast(_D38))
    slope = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        num.cast("double") / den.cast("double"))
    sx_full = (F.col("sx").cast(_D38)
               + F.col("n").cast(_D38) * F.col("x0").cast(_D38))
    intercept = ((F.col("sy").cast("double")
                  - slope * sx_full.cast("double"))
                 / F.col("n").cast("double"))
    return t.select(group, "n", slope.alias("slope"),
                    intercept.alias("intercept"))


def lag1_autocorr(df: DataFrame, group: str, order: Sequence[Column],
                  y: Column) -> DataFrame:
    """Per-group lag-1 autocorrelation of an integer series: the Pearson
    correlation of (y_t, y_{t+1}) pairs in the total order given by
    ``order`` (include a unique tiebreak column — equal timestamps
    otherwise pair nondeterministically and diverge per engine). One
    row per group: ``(group, n_pairs, acf1)``.

    r = (m*Sxy - Sx*Sy) / sqrt((m*Sxx - Sx^2) * (m*Syy - Sy^2)) over the
    m = n-1 adjacent pairs; every sum is an exact integer and sqrt is
    IEEE correctly-rounded, so the double is engine-exact. Same one
    group-keyed exchange as ``_ols_terms`` (the lag window shares it).
    """
    w = Window.partitionBy(group).orderBy(*order)
    pairs = (df.where(y.isNotNull())
             .select(F.col(group), *order, y.alias("__b"))
             .withColumn("__a", F.lag("__b").over(w))
             .where(F.col("__a").isNotNull()))
    t = _ols_terms(pairs, group, F.col("__a"), F.col("__b"))
    m = F.col("n").cast(_D38)
    cov = m * F.col("sxy").cast(_D38) - F.col("sx").cast(_D38) * F.col("sy").cast(_D38)
    vx = m * F.col("sxx").cast(_D38) - F.col("sx").cast(_D38) * F.col("sx").cast(_D38)
    vy = m * F.col("syy").cast(_D38) - F.col("sy").cast(_D38) * F.col("sy").cast(_D38)
    r = F.when((vx == 0) | (vy == 0), F.lit(None).cast("double")).otherwise(
        cov.cast("double")
        / F.sqrt(vx.cast("double") * vy.cast("double")))
    return t.select(group, F.col("n").alias("n_pairs"), r.alias("acf1"))


def weighted_median(df: DataFrame, group: str, value: Column,
                    weight: Column) -> DataFrame:
    """Per-group exact weighted (lower) median: the smallest value v such
    that the cumulative weight of rows <= v reaches half the group's
    total weight (2*cum >= W). One row per group:
    ``(group, w_total, w_median)``.

    Weights must be positive integers so the cumulative comparison
    2*cum >= W is exact integer arithmetic in every engine. The running
    weight sum and the group total share ONE group-keyed exchange; the
    pick is the first ordered row crossing the half-weight line, made
    total by ordering on value alone (ties share v, so the picked VALUE
    is deterministic even though the crossing row may differ).
    """
    wg = Window.partitionBy(group)
    wo = wg.orderBy(F.col("__v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    base = (df.where(value.isNotNull() & weight.isNotNull())
            .select(F.col(group), value.alias("__v"),
                    weight.alias("__w")))
    c = (base.withColumn("__cum", F.sum("__w").over(wo))
         .withColumn("__tot", F.sum("__w").over(wg)))
    hit = c.where(F.lit(2) * F.col("__cum") >= F.col("__tot"))
    return (hit.groupBy(group)
            .agg(F.max("__tot").alias("w_total"),
                 F.min("__v").alias("w_median")))


def cusum_changepoint(series: DataFrame, group: str, order: Column,
                      value_units: Column) -> DataFrame:
    """Exact CUSUM change-point scan per group: over the ordered series
    x_1..x_n, the centered cumulative sum S_k = sum_{i<=k}(x_i - mean)
    peaks at the most likely level-shift point. Computed entirely in
    scaled integers — D_k = n*C_k - k*T (C_k = cumsum, T = total) equals
    n*S_k exactly — so no float accumulates across rows and the argmax
    is engine-identical. The statistic max|D_k|/(n*n) normalizes to
    mean-units once, in one double division.

    Ties on |D_k| break to the EARLIEST order position (argmax via
    max(struct(|D_k|, -k))). Window is group-keyed — sharded; at 100 TB
    the series rows per group (days, not events) are tiny anyway.

    Output: (group, n_points, total_units, max_abs_d, cp_order,
    cusum_stat).
    """
    base = series.select(F.col(group), order.alias("__o"),
                         value_units.alias("__x"))
    w = (Window.partitionBy(group).orderBy(F.col("__o").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # the cumsum branch and the per-group totals branch both read the
    # series — tiny (one row per group×order unit), pin it anyway
    base = base.localCheckpoint(eager=True)
    tot = base.groupBy(group).agg(
        F.sum("__x").alias("__t"), F.count(F.lit(1)).alias("__n"))
    c = (base
         .withColumn("__c", F.sum("__x").over(w))
         .withColumn("__k", F.row_number().over(
             Window.partitionBy(group).orderBy(F.col("__o").asc()))))
    j = c.join(tot, group)
    d = (F.col("__n") * F.col("__c") - F.col("__k") * F.col("__t"))
    picked = (j.select(F.col(group), F.col("__n"), F.col("__t"),
                       F.abs(d).alias("__ad"), F.col("__o"))
              .groupBy(group)
              .agg(F.max("__n").alias("n_points"),
                   F.max("__t").alias("total_units"),
                   F.max(F.struct(F.col("__ad").alias("ad"),
                                  (-F.col("__o")).alias("no")))
                    .alias("m")))
    return picked.select(
        F.col(group), "n_points", "total_units",
        F.col("m.ad").alias("max_abs_d"),
        (-F.col("m.no")).alias("cp_order"),
        (F.col("m.ad").cast("double")
         / (F.col("n_points") * F.col("n_points")).cast("double"))
        .alias("cusum_stat"))


def mann_whitney_u(df: DataFrame, value: Column, is_a: Column,
                   is_b: Column, *, n_buckets: int = 512) -> DataFrame:
    """Exact two-sample Mann-Whitney U (rank-sum) in pure integer
    arithmetic: with average ranks for ties, 2*avgrank(v) =
    2*|{x < v}| + |{x = v}| + 1 is an INTEGER, so 2*R1 — and with it
    2*U1 = 2*R1 - n1*(n1+1) and 2*U2 — accumulate BIGINT-exactly in any
    engine and any partitioning. The common-language effect size
    (= ROC AUC of "sample A scores higher") divides once at the end:
    auc = U1/(n1*n2).

    Distribution: same bucketed two-phase prefix sum as
    ``ks_two_sample`` — per-value counts, value-range bin subtotals, a
    <= ``n_buckets``-row offset scan, within-bin window — no global
    single-task sort.

    Output single row: (n_a, n_b, two_r1, two_u1, two_u2, auc).
    """
    d = (df.select(value.alias("v"), is_a.cast("long").alias("ca"),
                   is_b.cast("long").alias("cb"))
         .where(F.col("v").isNotNull()
                & ((F.col("ca") + F.col("cb")) > 0))
         .groupBy("v").agg(F.sum("ca").alias("ca"),
                           F.sum("cb").alias("cb")))
    d = d.localCheckpoint(eager=True)
    stats = d.agg(F.min("v").alias("lo"), F.max("v").alias("hi"),
                  F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    b = d.crossJoin(F.broadcast(stats))
    span = F.col("hi") - F.col("lo")
    bucket = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(F.lit(n_buckets - 1),
                F.floor((F.col("v") - F.col("lo")) / span
                        * F.lit(float(n_buckets))))).cast("long")
    b = b.withColumn("bk", bucket)
    per = b.groupBy("bk").agg(
        F.sum(F.col("ca") + F.col("cb")).alias("s"))
    wx = (Window.orderBy("bk")
          .rowsBetween(Window.unboundedPreceding, -1))
    off = per.select("bk", F.coalesce(F.sum("s").over(wx), F.lit(0))
                     .alias("off"))
    win = (Window.partitionBy("bk").orderBy("v")
           .rowsBetween(Window.unboundedPreceding, -1))
    j = (b.join(F.broadcast(off), "bk")
         .withColumn("less", F.col("off") + F.coalesce(
             F.sum(F.col("ca") + F.col("cb")).over(win), F.lit(0))))
    terms = j.select(
        "na", "nb",
        (F.col("ca") * (F.lit(2) * F.col("less") + F.col("ca")
                        + F.col("cb") + F.lit(1))).alias("t"))
    agg = terms.agg(F.max("na").alias("n_a"), F.max("nb").alias("n_b"),
                    F.sum("t").alias("two_r1"))
    two_u1 = (F.col("two_r1") - F.col("n_a") * (F.col("n_a") + 1))
    return agg.select(
        "n_a", "n_b", "two_r1", two_u1.alias("two_u1"),
        (F.lit(2) * F.col("n_a") * F.col("n_b") - two_u1)
        .alias("two_u2"),
        # empty side: U is defined (0) but the effect size is not —
        # NULL, not an ANSI divide-by-zero
        F.when(F.col("n_a") * F.col("n_b") == 0,
               F.lit(None).cast("double"))
         .otherwise(two_u1.cast("double")
                    / (F.lit(2) * F.col("n_a") * F.col("n_b"))
                    .cast("double"))
        .alias("auc"))
