"""Distributed skyline (Pareto frontier) queries.

A row dominates another when it is <= on every objective and < on at
least one; the skyline is the set of non-dominated rows. The textbook
formulation is a quadratic NOT EXISTS self-join — unusable at 100 TB.

This implementation is the two-phase distributed plan:

1. **Local prune (distributed):** collapse to (x, y) point counts with
   one hash aggregate, then keep only the per-x minimum y (any
   same-x-higher-y point is dominated by it, strictly on y). This is a
   groupBy + one thin window partitioned BY X VALUE — row-scale work all
   happens here, and the survivor set is <= |distinct x| rows.
2. **Global sweep (tiny):** order the survivors by x and keep a point
   iff every strictly-smaller x has a strictly larger min-y (a
   lag-of-running-min over the survivor set). This window has no
   partition key by construction — it runs over <= |distinct x| rows,
   which for skyline-shaped workloads (discrete first objective: size,
   tier, bucketed score) is tiny.

For a CONTINUOUS / high-cardinality x, per-x minima prune nothing and
the sweep sees every row. NOTE the tempting shortcut — bucket x and keep
per-bucket min-y — is WRONG: within one bucket, (x=1,y=9) and (x=9,y=1)
can both be on the global skyline, but the bucket keeps only the min-y one.

Minimization on both axes; negate a column to maximize. Duplicate
frontier points are preserved with their multiplicity (``n_points``) —
equal rows never dominate each other (no strict coordinate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def pareto_frontier(df: DataFrame, x: Column, y: Column) -> DataFrame:
    """Skyline of ``df`` minimizing (x, y); returns (x, y, n_points).

    Rows with a NULL objective are excluded up front: NULL is
    incomparable under dominance, and engines disagree on NULL sort
    placement (Spark NULLS FIRST ascending, DuckDB NULLS LAST), so
    letting NULLs reach the sweep would be silently engine-dependent.
    """
    pts = (df.select(x.alias("x"), y.alias("y"))
           .where(F.col("x").isNotNull() & F.col("y").isNotNull())
           .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_points")))
    return sweep_collapsed(pts)


def sweep_collapsed(pts: DataFrame) -> DataFrame:
    """Skyline of already-collapsed (x, y, n_points) rows — multiplicity
    rides through unchanged (the streaming frontier sink merges counted
    frontiers and re-sweeps here)."""
    per_x = Window.partitionBy("x")
    survivors = (pts.withColumn("y_min", F.min("y").over(per_x))
                 .where(F.col("y") == F.col("y_min"))
                 .drop("y_min"))
    # survivors carry exactly one row per distinct x (pts is distinct on
    # (x, y) and only y == min-y-per-x is kept), so the no-partition sweep
    # windows below run over <= |distinct x| rows (documented trade-off).
    run = (Window.orderBy("x")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    swept = survivors.withColumn("_run_min", F.min("y").over(run))
    # lag of the running min = min y over STRICTLY smaller x (one row/x):
    # any such point is <= on y -> dominates strictly on x unless our y
    # is strictly below it.
    swept = swept.withColumn("_prefix_min",
                             F.lag("_run_min", 1).over(Window.orderBy("x")))
    return (swept.where(F.col("_prefix_min").isNull()
                        | (F.col("y") < F.col("_prefix_min")))
            .select("x", "y", "n_points"))
