"""Hierarchy (bill-of-materials) rollups by pointer doubling.

A parent-child forest with per-edge integer multipliers (``qty`` of the
child inside its parent) must roll leaf quantities up to the root: the
effective quantity of a leaf is the PRODUCT of multipliers along its
root path. Sequential engines walk the tree with a recursive CTE — depth
D costs D dependent joins, each touching the full node table.

Spark-first, the walk is **pointer doubling** (the large-star/small-star
trick from connected components, carrying a multiplicative weight): every
node holds (anc, prod) = its current known ancestor and the product of
multipliers on the compressed path to it; roots self-loop with prod 1
(the absorbing state). One round of joining each pointer THROUGH the
pointer it lands on doubles every compressed path length, so ceil(log2 D)
rounds — 5 joins for depth 32 — resolve the deepest tree, vs D joins
sequentially. Each round is one self-equi-join keyed by node id, lineage
truncated; products stay BIGINT-exact (order-independent, engine-exact).

The bom_rollup_parts oracle in plans/analytics_queries replays the same semantics as the
root-down recursive CTE (which Spark 4.1 can also run natively as
``WITH RECURSIVE``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_roots(nodes: DataFrame, *, max_depth: int) -> DataFrame:
    """Resolve every node's root and path product.

    ``nodes``: (node, parent, qty) — parent NULL marks a root; ``qty`` is
    the integer multiplier on the (parent -> node) edge. Returns
    (node, root, prod) with prod = product of qty along the node's root
    path (1 for roots). ``max_depth`` bounds the tree depth the caller
    guarantees; rounds = ceil(log2(max_depth)) + 1.

    Precondition: a WELL-FORMED FOREST — every non-NULL ``parent`` must
    itself appear as a ``node`` row. The pointer-doubling step is an
    INNER join on anc == node, so a node whose parent id is absent from
    ``nodes`` is silently dropped along with its entire subtree (and any
    ``bom_rollup`` totals over it silently undercount). Callers with
    untrusted input should pre-validate with an anti-join of parents
    against nodes and fail/flag the dangling rows.
    """
    st = nodes.select(
        "node",
        F.coalesce(F.col("parent"), F.col("node")).alias("anc"),
        F.when(F.col("parent").isNull(), F.lit(1))
         .otherwise(F.col("qty")).cast("long").alias("prod"),
    ).localCheckpoint(eager=True)

    rounds = max(1, int(math.ceil(math.log2(max(2, max_depth)))) + 1)
    for _ in range(rounds):
        a, b = st.alias("a"), st.alias("b")
        st = (a.join(b, F.col("a.anc") == F.col("b.node"))
              .select(F.col("a.node").alias("node"),
                      F.col("b.anc").alias("anc"),
                      (F.col("a.prod") * F.col("b.prod")).alias("prod"))
              .localCheckpoint(eager=True))
    return st.select("node", F.col("anc").alias("root"), "prod")


def bom_rollup(nodes: DataFrame, *, max_depth: int) -> DataFrame:
    """Per-root rollup: (root, n_nodes, n_leaves, leaf_qty_sum).

    ``leaf_qty_sum`` is the sum over leaves of the path product — the
    total number of leaf units one unit of the root assembly requires.
    One pointer-doubling resolve + one anti-join (leaf detection) + one
    hash aggregate; no per-level pass over the node table.
    """
    resolved = resolve_roots(nodes, max_depth=max_depth)
    parents = (nodes.where(F.col("parent").isNotNull())
               .select(F.col("parent").alias("node")).distinct())
    leaves = resolved.join(parents, "node", "left_anti")
    per_root = resolved.groupBy("root").agg(
        F.count(F.lit(1)).alias("n_nodes"))
    leaf_agg = leaves.groupBy("root").agg(
        F.count(F.lit(1)).alias("n_leaves"),
        F.sum("prod").alias("leaf_qty_sum"))
    return (per_root.join(leaf_agg, "root", "left")
            .select("root", "n_nodes",
                    F.coalesce(F.col("n_leaves"), F.lit(0)).alias("n_leaves"),
                    F.coalesce(F.col("leaf_qty_sum"), F.lit(0))
                     .alias("leaf_qty_sum")))
