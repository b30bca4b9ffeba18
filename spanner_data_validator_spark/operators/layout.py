"""Multi-dimensional data layout: Z-order (Morton) clustering for writes.

At 100 TB the scan is won or lost at WRITE time: parquet row-group min/max
stats only prune a filter column if the file layout clusters it. Sorting by
one column perfects pruning for that column and destroys it for every other;
interleaving the bits of k columns into one Morton key gives every dimension
~1/k of the clustering — the same trade Delta's OPTIMIZE ZORDER BY and
Iceberg's sort-order z-curve make. (The reference has no layout surface at
all — its reads are range-sharded JDBC, SURVEY §2 R1-R6; this is the
lakehouse-side equivalent for the parquet corpora this engine validates.)

Everything here is pure codegen expressions (shift/and/or on longs): the
key costs bits*k cheap ALU ops per row inside WholeStageCodegen, no UDF, no
extra scan. ``zorder_sql_expr`` renders the IDENTICAL arithmetic as ANSI
SQL so an external engine (the DuckDB oracle, a warehouse) computes the
same key bit-for-bit.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _check_zorder_args(n_cols: int, bits: int) -> None:
    if n_cols < 2:
        raise ValueError("zorder needs >= 2 columns (1 column = plain sort)")
    if bits * n_cols > 62:
        raise ValueError(
            f"bits*cols = {bits * n_cols} > 62 overflows a long key")


def zorder_key(cols: Sequence[Column], bits: int = 8) -> Column:
    """Morton-interleave the low ``bits`` bits of each column (as longs).

    Bit ``b`` of column ``i`` lands at position ``b*len(cols) + i`` — column
    0 owns the least-significant lane. Callers must pre-normalize each
    column into ``[0, 2^bits)`` (e.g. ``F.pmod(col, 256)`` or an equi-width
    bin); values outside the range would silently alias, so keep the
    normalization explicit at the call site. Total key width is
    ``bits * len(cols)`` — keep it ≤ 62 to stay in a signed long.
    """
    k = len(cols)
    _check_zorder_args(k, bits)
    z: Column | None = None
    for i, c in enumerate(cols):
        v = c.cast("long")
        for b in range(bits):
            term = F.shiftleft(F.shiftright(v, b).bitwiseAND(F.lit(1)),
                               b * k + i)
            z = term if z is None else z.bitwiseOR(term)
    return z


def zorder_sql_expr(col_exprs: Sequence[str], bits: int = 8) -> str:
    """The same Morton interleave as ``zorder_key``, rendered as portable
    SQL over pre-normalized integer expressions — one string, same bit
    positions, so Spark and the oracle agree exactly."""
    k = len(col_exprs)
    _check_zorder_args(k, bits)
    terms = [f"((({e} >> {b}) & 1) << {b * k + i})"
             for i, e in enumerate(col_exprs) for b in range(bits)]
    return "(" + " | ".join(terms) + ")"


def write_zordered(df: DataFrame, path: str, cols: Sequence[Column],
                   *, bits: int = 8, n_files: int = 8) -> None:
    """Write ``df`` as ``n_files`` parquet files range-partitioned and
    sorted by the Z-order key of ``cols``.

    ``repartitionByRange`` samples the key so files get balanced,
    *disjoint* key ranges; the within-partition sort makes row-group
    min/max stats tight on the key — and therefore usefully tight on every
    interleaved dimension. One extra exchange at write time buys every
    future multi-dimension filter its pruning.
    """
    (df.withColumn("__zkey", zorder_key(cols, bits))
       .repartitionByRange(n_files, "__zkey")
       .sortWithinPartitions("__zkey")
       .drop("__zkey")
       .write.mode("overwrite").parquet(path))


def global_row_number(df: DataFrame, order_cols: Sequence[Column],
                      bucket: Column, *, out_col: str = "rn") -> DataFrame:
    """Distributed GLOBAL row_number over ``order_cols`` — the primitive
    Spark's Window cannot shard (no partition key => one task over all
    rows). Two-phase plan: ``bucket`` (which MUST be monotone
    non-decreasing along the global order, i.e. each bucket owns a
    contiguous rank range) gives per-bucket counts (tiny), an exclusive
    scan over those counts broadcasts per-bucket offsets back, and
    row_number runs under ``Window.partitionBy(bucket)`` — every stage
    parallel. Same shape as the prefix sum in
    ``operators/stats.ks_two_sample``.

    The input is pinned (it feeds the count branch and the ranked
    output); at cluster scale swap localCheckpoint for persist().
    """
    b = df.withColumn("__bk", bucket).localCheckpoint(eager=True)
    per = b.groupBy("__bk").agg(F.count(F.lit(1)).alias("__c"))
    # exclusive scan over <= |buckets| subtotal rows — the one
    # single-task window, intentional: it sees bucket counts, never
    # row-scale data (Catalyst folds away a constant partition key, so
    # the WindowExec warning fires here regardless; it is benign).
    wx = (Window.orderBy("__bk")
          .rowsBetween(Window.unboundedPreceding, -1))
    off = per.select("__bk", F.coalesce(F.sum("__c").over(wx), F.lit(0))
                     .alias("__off"))
    w = Window.partitionBy("__bk").orderBy(*order_cols)
    return (b.join(F.broadcast(off), "__bk")
            .withColumn(out_col,
                        (F.col("__off") + F.row_number().over(w))
                        .cast("long"))
            .drop("__bk", "__off"))


def distributed_ntile(df: DataFrame, value: Column,
                      order_cols: Sequence[Column], k: int, *,
                      ascending: bool = True, out_col: str = "tile",
                      n_buckets: int = 1024) -> DataFrame:
    """SQL-exact ``NTILE(k) OVER (ORDER BY order_cols)`` without the
    single-partition window Spark plans for a global ORDER BY.

    ``value`` must be the numeric leading sort key (``order_cols`` =
    [value asc|desc, tiebreaks...] must embed it); a value-range linear
    bin of it — monotone non-decreasing along the global order, so each
    bin owns a contiguous rank range — shards :func:`global_row_number`,
    and NTILE's fill rule is then closed-form from (rank, n): with
    ``q = n div k`` and ``r = n mod k``, the first ``r`` tiles hold
    ``q+1`` rows and the rest ``q`` (SQL standard; matches both Spark's
    and DuckDB's NTILE bit-for-bit, ties included, because the rank
    order is made total by the caller's tiebreaks).

    Scale: two row-scale shuffles (bin groupBy + bin-partitioned
    window), one broadcast of ``n_buckets`` offsets. Duplicate-heavy
    values collapse into one bin — at pathological skew raise
    ``n_buckets`` or pre-salt; the plan never moves all rows to one
    task, which is the failure mode this replaces.
    """
    if k < 1:
        raise ValueError(f"ntile k must be >= 1, got {k}")
    v = value.cast("double")
    if not ascending:
        v = -v
    stats = df.agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"),
                   F.count(F.lit(1)).alias("__n"))
    b = df.crossJoin(F.broadcast(stats))
    span = F.col("__hi") - F.col("__lo")
    bin_ = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(F.lit(n_buckets - 1),
                F.floor((v - F.col("__lo")) / span
                        * F.lit(float(n_buckets))))).cast("long")
    ranked = global_row_number(b, order_cols, bin_, out_col="__rn")

    # exact integer division on long Columns: (a - a%b)/b is exactly
    # divisible, so the double quotient is exact below 2^53 — no
    # truncate-vs-round edge (the CAST(double AS BIGINT) trap).
    def idiv(a, d):
        return ((a - a % d) / d).cast("long")

    n, rn = F.col("__n"), F.col("__rn")
    big = n % F.lit(k)              # tiles that get q_size+1 rows
    q_size = idiv(n, F.lit(k))
    head = (q_size + 1) * big       # ranks covered by the big tiles
    tile = F.when(rn <= head, idiv(rn - 1, q_size + 1) + 1).otherwise(
        big + idiv(rn - head - 1, q_size) + 1)
    return (ranked.withColumn(out_col, tile.cast("int"))
            .drop("__lo", "__hi", "__n", "__rn"))
