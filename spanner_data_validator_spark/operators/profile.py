"""Column profiling and distribution-drift validation tiers.

The reference validates row fingerprints only (SURVEY §2 C1/A1 — per-row
hash classify + tally). At 100 TB a reconciliation suite also needs tiers
that cost one aggregate, not one row-granular shuffle:

* ``column_profile`` — one-pass per-column statistics (non-null / null /
  distinct counts, min/max) melted to one row per column. The first thing a
  validator runs against a new target: catches dropped columns, null-ed
  migrations, truncated domains before any row join.
* ``equiwidth_histogram`` / ``histogram_drift`` — integer per-bin counts of a
  numeric column on both sides plus per-bin absolute difference. Integer
  counts are bit-exact across engines, making distribution comparison
  oracle-checkable (approx-quantile sketches are not).
* ``quantiles_by_rank`` — exact discrete per-group quantiles via rank
  arithmetic (value at ``ceil(p*n)``-th ordered row), no interpolation, so
  the result is a value that exists in the data and matches any engine
  bit-for-bit.

Scale notes (10^12 rows): ``column_profile`` computes k exact
count-distincts in one scan via Spark's EXPAND (rows×(k+1) map-side; no
extra scan) — at trillion-row scale swap the exact distinct for the KMV
sketch in ``operators/sketch.py`` (same one-exchange shape, constant-size
state). The histogram exchanges exactly ``n_bins`` rows per side after
map-side partial aggregation; quantiles exchange each group once and sort
within groups (no global sort).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def column_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One-pass profile: (col_name, n_nonnull, n_null, n_distinct, min_repr,
    max_repr), one row per profiled column.

    min/max are computed on the native type and rendered to string AFTER the
    aggregate (lexicographic-vs-numeric ordering bug avoided). Callers
    pre-cast engine-divergent renderings (timestamps -> unix_millis, doubles
    -> decimal) before profiling.
    """
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"__nn_{c}"),
            F.count_distinct(col).alias(f"__nd_{c}"),
            F.sum(F.isnull(col).cast("long")).alias(f"__nu_{c}"),
            F.min(col).cast("string").alias(f"__mn_{c}"),
            F.max(col).cast("string").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    entries = F.array(*[
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"__nn_{c}").alias("n_nonnull"),
            F.col(f"__nu_{c}").alias("n_null"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__mn_{c}").alias("min_repr"),
            F.col(f"__mx_{c}").alias("max_repr"),
        )
        for c in cols
    ])
    return one.select(F.explode(entries).alias("p")).select("p.*")


def bin_expr(value: Column, lo: int, hi: int, n_bins: int) -> Column:
    """Equi-width bin index in [0, n_bins) with clamping at both edges.

    Uses an explicit ``floor`` (never a long cast) because casting a double
    to an integer truncates in Spark but rounds in DuckDB; ``floor`` of a
    double is identical in both. The value itself is never cast (a cast
    would collapse fractional inputs onto integer-aligned bins); instead
    the BIN INDEX is clamped after the floor, which also handles values
    outside [lo, hi).
    """
    raw = F.floor((value - F.lit(lo)) * F.lit(n_bins) / F.lit(hi - lo))
    return F.least(F.greatest(raw, F.lit(0).cast("long")),
                   F.lit(n_bins - 1).cast("long"))


def equiwidth_histogram(df: DataFrame, value: Column, lo: int, hi: int,
                        n_bins: int) -> DataFrame:
    """(bin, n) counts of ``value`` over equi-width bins; nulls dropped."""
    return (df.where(value.isNotNull())
              .groupBy(bin_expr(value, lo, hi, n_bins).alias("bin"))
              .agg(F.count(F.lit(1)).alias("n")))


def histogram_drift(src: DataFrame, tgt: DataFrame, value: Column,
                    lo: int, hi: int, n_bins: int) -> DataFrame:
    """Per-bin (bin, src_n, tgt_n, abs_diff) between two corpora.

    Both sides reduce to <= n_bins rows before the tiny full-outer merge;
    total variation distance = sum(abs_diff) / (2 * rows) downstream.
    """
    s = equiwidth_histogram(src, value, lo, hi, n_bins) \
        .withColumnRenamed("n", "src_n")
    t = equiwidth_histogram(tgt, value, lo, hi, n_bins) \
        .withColumnRenamed("n", "tgt_n")
    merged = s.join(t, "bin", "full_outer").select(
        "bin",
        F.coalesce("src_n", F.lit(0)).alias("src_n"),
        F.coalesce("tgt_n", F.lit(0)).alias("tgt_n"),
    )
    return merged.withColumn("abs_diff", F.abs(F.col("src_n") - F.col("tgt_n")))


def psi_terms(src: DataFrame, tgt: DataFrame, value: Column,
              lo: int, hi: int, n_bins: int, *,
              smooth: float = 0.5) -> DataFrame:
    """Per-bin Population Stability Index contributions between two corpora:
    ``(bin, src_n, tgt_n, psi_term)`` with
    ``psi_term = (p - q) * ln(p / q)``, ``p = src_n/total_src``,
    ``q = tgt_n/total_tgt`` (zero cells smoothed to ``smooth`` counts, the
    standard PSI convention). Total PSI is the sum of ``psi_term`` — the
    conventional alert thresholds are ~0.1 (investigate) / ~0.25 (shifted).

    Deliberately returns the TERMS, not the sum: each term is a fixed IEEE
    expression over two integer counts and two integer totals, identical in
    any engine, whereas a cross-row double sum depends on addition order.
    Scale shape: both sides reduce to <= n_bins rows before anything else
    (same as :func:`histogram_drift`); the totals ride in on a broadcast
    one-row cross join.
    """
    # the <= n_bins-row histogram feeds TWO branches (totals + the term
    # projection); without a barrier Catalyst recomputes the full corpus
    # scans per branch (CLAUDE.md multi-branch rescan trap — measured 4
    # scans instead of 2), so pin the tiny intermediate once
    merged = histogram_drift(src, tgt, value, lo, hi, n_bins) \
        .drop("abs_diff").localCheckpoint()
    totals = merged.agg(F.sum("src_n").alias("__ts"),
                        F.sum("tgt_n").alias("__tt"))
    j = merged.crossJoin(F.broadcast(totals))
    sn = F.when(F.col("src_n") == 0, F.lit(float(smooth))) \
          .otherwise(F.col("src_n").cast("double"))
    tn = F.when(F.col("tgt_n") == 0, F.lit(float(smooth))) \
          .otherwise(F.col("tgt_n").cast("double"))
    p = sn / F.col("__ts").cast("double")
    q = tn / F.col("__tt").cast("double")
    return j.select("bin", "src_n", "tgt_n",
                    ((p - q) * F.log(p / q)).alias("psi_term"))


def quantiles_by_rank(df: DataFrame, group: str, value: Column,
                      ps: Sequence[float], tiebreak: Column) -> DataFrame:
    """Exact discrete per-group quantiles: value at the ceil(p*n)-th ordered
    row (1-based) among the group's NON-NULL values, one output row per
    (group, p). NULLs are excluded up front — Spark orders NULLs first and
    most SQL engines order them last, so ranking them would both diverge
    across engines and return NULL as a "low quantile".

    ``tiebreak`` makes the ordering total so equal values pick a
    deterministic row in every engine. One exchange keyed by ``group``;
    the sort is within-group only — never a global sort.
    """
    w = Window.partitionBy(group).orderBy(F.col("__v").asc(), F.col("__tb").asc())
    ranked = df.where(value.isNotNull()).select(
        F.col(group), value.alias("__v"), tiebreak.alias("__tb")
    ).withColumn("__rn", F.row_number().over(w)) \
     .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(group)))
    picks = F.array(*[F.lit(float(p)) for p in ps])
    exploded = ranked.select(
        group, "__v", "__rn", "__n", F.explode(picks).alias("p"))
    hit = exploded.where(
        F.col("__rn") == F.ceil(F.col("p") * F.col("__n")).cast("long"))
    return hit.select(F.col(group), F.col("p"), F.col("__v").alias("q_value"))


def hist_quantiles(df: DataFrame, group: str, value: Column,
                   *, lo: int, hi: int, n_bins: int,
                   ps: Sequence[float]) -> DataFrame:
    """Approximate per-group quantiles from an equi-width histogram — the
    MERGEABLE alternative to rank quantiles.

    ``quantiles_by_rank`` is exact but needs a per-group sort of every row;
    at 10^12 rows the histogram is the production shape: per-partition bin
    counts merge by addition (a partial-aggregating groupBy of <= n_bins
    rows per group), daily histograms roll up without raw data, and the
    quantile reads off the cumulative counts with linear interpolation
    inside the target bin. Error is bounded by the bin width. Determinism
    across engines: bins via ``bin_expr`` (explicit floor), the estimate is
    a fixed chain of IEEE ops on exact integers and shared literals, so
    DuckDB reproduces it to the last bit (rounded to 4 decimals for the
    final ulp).
    """
    h = (df.where(value.isNotNull())
         .groupBy(F.col(group), bin_expr(value, lo, hi, n_bins).alias("bin"))
         .agg(F.count(F.lit(1)).alias("cnt")))
    c = (h.withColumn("cum", F.sum("cnt").over(
            Window.partitionBy(group).orderBy("bin")))
         .withColumn("n", F.sum("cnt").over(Window.partitionBy(group))))
    picks = F.array(*[F.lit(float(p)) for p in ps])
    e = c.select(group, "bin", "cnt", "cum", "n",
                 F.explode(picks).alias("p"))
    target = F.ceil(F.col("p") * F.col("n")).cast("long")
    hit = e.where((F.col("cum") >= target)
                  & (F.col("cum") - F.col("cnt") < target))
    width = (hi - lo) / n_bins
    est = (F.lit(float(lo)) + F.lit(width)
           * (F.col("bin").cast("double")
              + (target - (F.col("cum") - F.col("cnt"))).cast("double")
              / F.col("cnt").cast("double")))
    return hit.select(F.col(group), "p", F.round(est, 4).alias("est_value"))


def schema_drift(src: DataFrame, tgt: DataFrame) -> list[dict]:
    """Driver-side schema diff between two DataFrames — run BEFORE any data
    validation tier (a renamed/retyped column makes row comparison noise).

    Returns a list of findings, each ``{"column", "kind", "src", "tgt"}``
    with kind in {"missing_in_tgt", "missing_in_src", "type_changed",
    "nullability_changed"}; empty list = schemas compatible. Pure metadata —
    no jobs run, so it is free at any scale and safe to call per batch in a
    foreachBatch sink.
    """
    s = {f.name: f for f in src.schema.fields}
    t = {f.name: f for f in tgt.schema.fields}
    out: list[dict] = []
    for name in s:
        if name not in t:
            out.append({"column": name, "kind": "missing_in_tgt",
                        "src": s[name].dataType.simpleString(), "tgt": None})
        elif s[name].dataType != t[name].dataType:
            out.append({"column": name, "kind": "type_changed",
                        "src": s[name].dataType.simpleString(),
                        "tgt": t[name].dataType.simpleString()})
        elif s[name].nullable != t[name].nullable:
            out.append({"column": name, "kind": "nullability_changed",
                        "src": str(s[name].nullable),
                        "tgt": str(t[name].nullable)})
    for name in t:
        if name not in s:
            out.append({"column": name, "kind": "missing_in_src",
                        "src": None, "tgt": t[name].dataType.simpleString()})
    return out
