"""Grid-bucketed spatial neighbor join — all point pairs within an L2
radius, without the quadratic self-join.

The classic distributed spatial-join plan: bucket points into square
cells of side = radius, then any pair within the radius lies in the same
or an adjacent cell, so candidates come from an EQUI-join of each point's
3x3 cell neighborhood against the cell index — shuffle keyed by cell,
candidate count ~ points x local density, exact distance verified on
candidates only. The same shape at 100 TB is how lakehouse engines run
proximity joins (geohash/S2 bucketing); 1-D interval analogue:
``plans/analytics_queries.interval_bucket_join``.

All arithmetic is integer (cell = floor-div, distance stays squared) so
a SQL oracle reproduces results bit-for-bit — no sqrt, no floats.

Skew: a pathological cell (everyone at the origin) makes its bucket
quadratic — ``max_cell`` drops over-dense cells before expansion and
``dropped_cell_count`` reports what the cap excluded (no silent caps).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _idiv(a: Column, b: int) -> Column:
    """Exact floor division for NON-NEGATIVE integer columns."""
    return ((a - a % F.lit(b)) / F.lit(b)).cast("long")


def _celled(pts: DataFrame, id_col: str, x: str, y: str,
            radius: int, max_cell: int) -> DataFrame:
    c = pts.select(F.col(id_col).alias("id"),
                   F.col(x).alias("x"), F.col(y).alias("y"),
                   _idiv(F.col(x), radius).alias("cx"),
                   _idiv(F.col(y), radius).alias("cy"))
    c = c.localCheckpoint(eager=True)  # feeds cap count + both join sides
    dense = (c.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
             .where(F.col("n") > max_cell).select("cx", "cy"))
    return c.join(F.broadcast(dense), ["cx", "cy"], "left_anti")


def grid_neighbor_pairs(pts: DataFrame, id_col: str, x: str, y: str, *,
                        radius: int, max_cell: int = 256) -> DataFrame:
    """All pairs (id_a < id_b) with squared L2 distance <= radius^2.

    Output: (id_a, id_b, d2). Coordinates must be non-negative integers
    (shift/scale upstream); ``radius`` is an integer in the same units.
    """
    c = _celled(pts, id_col, x, y, radius, max_cell)
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("ox"), F.lit(dy).alias("oy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    probe = (c.select("id", "x", "y", "cx", "cy",
                      F.explode(offsets).alias("o"))
             .select(F.col("id").alias("id_a"), F.col("x").alias("xa"),
                     F.col("y").alias("ya"),
                     (F.col("cx") + F.col("o.ox")).alias("jx"),
                     (F.col("cy") + F.col("o.oy")).alias("jy")))
    build = c.select(F.col("id").alias("id_b"), F.col("x").alias("xb"),
                     F.col("y").alias("yb"), F.col("cx").alias("jx"),
                     F.col("cy").alias("jy"))
    d2 = ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
          + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
    return (probe.join(build, ["jx", "jy"])
            .where(F.col("id_a") < F.col("id_b"))
            .where(d2 <= F.lit(radius * radius))
            .select("id_a", "id_b", d2.alias("d2")))


def dropped_cell_count(pts: DataFrame, x: str, y: str, *,
                       radius: int, max_cell: int = 256) -> int:
    """How many cells ``max_cell`` excluded (the no-silent-caps probe)."""
    return (pts.select(_idiv(F.col(x), radius).alias("cx"),
                       _idiv(F.col(y), radius).alias("cy"))
            .groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_cell).count())
