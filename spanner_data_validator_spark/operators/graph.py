"""Iterative graph algorithms as DataFrame loops (no GraphX/GraphFrames).

PageRank here demonstrates the two disciplines iterative algorithms need
on Spark at scale:

* **Lineage truncation per iteration** — each round's rank table is
  localCheckpointed; without it the plan doubles every iteration and the
  optimizer recompiles an exponentially growing tree (the classic
  iterative-Spark failure mode). On a cluster the same role is played by
  reliable checkpoints / persisted tables.
* **Order-independent arithmetic** — naive PageRank sums doubles, whose
  value depends on aggregation order (partitioning, engine), so no two
  runs — let alone two engines — agree exactly. Ranks are kept in FIXED
  POINT (integer units of 1/SCALE): contributions are floor(r/deg),
  summed exactly as BIGINTs, damped via floor(d * s) where the float
  product of an exact-in-double integer with a shared literal is
  correctly rounded identically everywhere. The result is bit-identical
  across partitionings AND engines — a DuckDB oracle unrolls the same
  iterations.

Edge multiplicity is respected (parallel edges weight the walk), matching
a multigraph random surfer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank_fixed_point(edges: DataFrame, *, iterations: int = 3,
                         damping: float = 0.85,
                         scale: int = 1_000_000) -> DataFrame:
    """Fixed-point PageRank over directed ``edges(src, dst)``.

    Returns (node, rank) with rank in integer units of 1/``scale`` (the
    uniform start rank is ``scale``). Update rule per node v:

        r'(v) = floor((1-d) * scale) + floor(d * sum_{u->v} floor(r(u)/deg(u)))

    Dangling mass is dropped (nodes with no out-edges leak rank), the
    standard simplification when edges are symmetrized by construction.
    All sums are exact BIGINT sums; the per-node values stay far below
    2^53 so the two float products (with d and (1-d)) are exact-input,
    correctly-rounded, engine-identical operations.
    """
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint())
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    # (src, dst, deg(src)) pinned once — reused every iteration
    ed = (edges.join(deg, edges.src == deg.node)
          .select("src", "dst", "deg").localCheckpoint())
    base = int((1.0 - damping) * scale)
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (ed.join(ranks, ed.src == ranks.node)
                   .select("dst",
                           F.floor(F.col("rank") / F.col("deg")).alias("c"))
                   .groupBy("dst").agg(F.sum("c").alias("s")))
        ranks = (nodes.join(contrib, nodes.node == contrib.dst, "left")
                 .select("node",
                         (F.lit(base)
                          + F.floor(F.lit(damping)
                                    * F.coalesce(F.col("s"), F.lit(0))))
                         .cast("long").alias("rank"))
                 .localCheckpoint())
    return ranks


def pagerank_sql(edges_sql: str, *, iterations: int = 3,
                 damping: float = 0.85, scale: int = 1_000_000) -> str:
    """DuckDB rendering of :func:`pagerank_fixed_point` — the same
    iterations unrolled as CTEs over ``edges_sql`` (must yield src, dst)."""
    base = int((1.0 - damping) * scale)
    parts = [f"""
pr_edges AS ({edges_sql}),
pr_nodes AS (SELECT src AS node FROM pr_edges
             UNION SELECT dst AS node FROM pr_edges),
pr_deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
           FROM pr_edges GROUP BY src),
pr_ed AS (SELECT e.src, e.dst, d.deg FROM pr_edges e
          JOIN pr_deg d ON e.src = d.node),
pr_r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM pr_nodes)"""]
    for i in range(iterations):
        parts.append(f"""
pr_c{i} AS (SELECT dst, CAST(sum(CAST(floor(r.rank / e.deg) AS BIGINT))
                             AS BIGINT) AS s
            FROM pr_ed e JOIN pr_r{i} r ON e.src = r.node
            GROUP BY dst),
pr_r{i + 1} AS (SELECT n.node,
                CAST({base} + floor({damping!r} * coalesce(c.s, 0))
                     AS BIGINT) AS rank
                FROM pr_nodes n LEFT JOIN pr_c{i} c ON n.node = c.dst)""")
    return ",".join(parts) + f"\nSELECT node, rank FROM pr_r{iterations}"


def triangle_participation(edges: DataFrame, *, k: int = 10) -> DataFrame:
    """Top-``k`` nodes by triangle participation in the undirected graph
    ``edges(src, dst)`` (parallel edges and loops ignored).

    Uses the degree-ordered orientation (Cohen / Suri-Vassilvitskii): every
    undirected edge is directed from its lower endpoint under the total
    order (degree, node), and triangles are counted as u->v, v->w, u->w
    wedges — each triangle exactly once, and every wedge fan-out is bounded
    by O(sqrt(|E|)) out-degree, THE trick that keeps the wedge join from
    exploding on high-degree hubs at scale (a random orientation leaves
    hub-centered wedges quadratic in hub degree). All joins are equi-joins
    on node ids; counts are integers — engine-exact.

    The canonical edge table feeds degree + orientation (2 branches) and
    the oriented table feeds the wedge join 3 times — both materialized
    (Catalyst re-runs aliased self-join branches; CLAUDE.md).

    Output: (node, n_tri, rank), ties broken by node asc.
    """
    e = (edges.select(F.least("src", "dst").alias("a"),
                      F.greatest("src", "dst").alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct().localCheckpoint(eager=False))
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d"))
           .localCheckpoint(eager=False))  # feeds BOTH aliased joins below
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    # a < b, so on equal degree the (degree, node) order keeps a first
    fwd = F.col("da") < F.col("db")
    o = (e.join(da, "a").join(db, "b")
         .select(F.when(fwd | (F.col("da") == F.col("db")),
                        F.col("a")).otherwise(F.col("b")).alias("u"),
                 F.when(fwd | (F.col("da") == F.col("db")),
                        F.col("b")).otherwise(F.col("a")).alias("v"))
         .localCheckpoint(eager=False))
    o1, o2, o3 = o.alias("o1"), o.alias("o2"), o.alias("o3")
    tri = (o1.join(o2, F.col("o1.v") == F.col("o2.u"))
           .join(o3, (F.col("o3.u") == F.col("o1.u"))
                 & (F.col("o3.v") == F.col("o2.v")))
           .select(F.col("o1.u").alias("x"), F.col("o1.v").alias("y"),
                   F.col("o2.v").alias("z")))
    pernode = (tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
               .groupBy("node").agg(F.count(F.lit(1)).alias("n_tri")))
    top = pernode.orderBy(F.desc("n_tri"), F.asc("node")).limit(k)
    w = Window.orderBy(F.desc("n_tri"), F.asc("node"))
    return top.select("node", "n_tri",
                      F.row_number().over(w).cast("int").alias("rank"))


def triangle_sql(edges_sql: str, *, k: int = 10) -> str:
    """DuckDB rendering of :func:`triangle_participation` over ``edges_sql``
    (must yield src, dst) — same orientation, same tie-breaks."""
    return f"""
tg_e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM ({edges_sql}) WHERE src <> dst),
tg_deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
             SELECT a AS node FROM tg_e
             UNION ALL SELECT b AS node FROM tg_e) GROUP BY node),
tg_o AS (SELECT CASE WHEN da.d <= db.d THEN e.a ELSE e.b END AS u,
                CASE WHEN da.d <= db.d THEN e.b ELSE e.a END AS v
         FROM tg_e e JOIN tg_deg da ON da.node = e.a
                     JOIN tg_deg db ON db.node = e.b),
tg_tri AS (SELECT o1.u AS x, o1.v AS y, o2.v AS z
           FROM tg_o o1 JOIN tg_o o2 ON o1.v = o2.u
           JOIN tg_o o3 ON o3.u = o1.u AND o3.v = o2.v),
tg_pernode AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
                 SELECT x AS node FROM tg_tri
                 UNION ALL SELECT y AS node FROM tg_tri
                 UNION ALL SELECT z AS node FROM tg_tri) GROUP BY node)
SELECT node, n_tri,
       CAST(row_number() OVER (ORDER BY n_tri DESC, node) AS INT) AS rank
FROM tg_pernode ORDER BY n_tri DESC, node LIMIT {k}"""


def hop_distance(edges: DataFrame, seeds: DataFrame, *,
                 max_hops: int, undirected: bool = True) -> DataFrame:
    """BFS level sets: (node, hops) for every node within ``max_hops`` of
    any seed, ``hops`` = shortest hop distance (0 for seeds).

    Frontier-expansion loop — each round joins ONLY the newly discovered
    frontier against the edge table (never the whole visited set), anti-
    joins out already-seen nodes, and truncates lineage (the iterative-
    Spark discipline in this module's header). Exact by construction: a
    node enters `dist` the first round it is reachable, which IS its BFS
    level, so no min-aggregation race exists. Rounds are bounded by
    ``max_hops``; each is one equi-join + anti-join keyed by node — at
    100 TB the edge table would be persisted/bucketed by src instead of
    localCheckpointed, same plan otherwise.

    Cross-engine parity: the same levels are what a SQL engine's
    ``WITH RECURSIVE ... UNION`` computes with a ``d < max_hops`` guard
    (the UNION-distinct bounds cyclic blowup at (node, d) granularity);
    see the ``hop_distance_levels`` oracle in plans/analytics_queries.
    """
    e = edges.select(F.col("src"), F.col("dst"))
    if undirected:
        e = e.union(edges.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    e = e.distinct().localCheckpoint(eager=True)

    dist = (seeds.select(F.col("node"), F.lit(0).cast("int").alias("hops"))
            .distinct().localCheckpoint(eager=True))
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt = (frontier.join(e, frontier["node"] == e["src"])
               .select(e["dst"].alias("node"),
                       F.lit(h).cast("int").alias("hops"))
               .distinct()
               .join(dist.select("node"), "node", "left_anti")
               .localCheckpoint(eager=True))
        if nxt.isEmpty():
            break
        dist = dist.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return dist


def bellman_ford(edges: DataFrame, seeds: DataFrame, *,
                 rounds: int, undirected: bool = True) -> DataFrame:
    """Weighted shortest paths: (node, dist) = min total weight over paths
    of <= ``rounds`` edges from any seed, integer weights.

    Bellman-Ford as a DataFrame loop — per round, relax every edge once:
    candidates = dist JOIN edges ON node = src -> (dst, dist + w), then
    dist' = min per node over (dist UNION candidates). All arithmetic is
    BIGINT, so the result is order-independent and engine-exact (the
    fixed-point discipline in this module's header). Lineage is truncated
    per round. Unlike BFS (hop_distance), a node's distance can IMPROVE
    in later rounds, so the min-aggregation per round is essential.

    Scale: each round is one equi-join keyed by node + one hash agg —
    shuffle volume is O(|frontier| + |E|) per round; at 100 TB the edge
    table is persisted/bucketed by src across rounds. Parallel edges are
    fine (min absorbs them); negative weights are fine within the round
    bound (no cycles materialize — paths are bounded at ``rounds`` edges).

    Cross-engine parity: equals a WITH RECURSIVE path enumeration with a
    ``d < rounds`` guard and UNION-distinct on (node, cost, d), min(cost)
    per node (see the ``shortest_path_weighted`` oracle).
    """
    e = edges.select("src", "dst", F.col("w").cast("long").alias("w"))
    if undirected:
        e = e.union(edges.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"),
                                 F.col("w").cast("long").alias("w")))
    e = (e.groupBy("src", "dst").agg(F.min("w").alias("w"))
         .localCheckpoint(eager=True))

    dist = (seeds.select("node", F.lit(0).cast("long").alias("dist"))
            .distinct().localCheckpoint(eager=True))
    for _ in range(rounds):
        relaxed = (dist.join(e, dist["node"] == e["src"])
                   .select(e["dst"].alias("node"),
                           (dist["dist"] + e["w"]).alias("dist")))
        dist = (dist.union(relaxed)
                .groupBy("node").agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True))
    return dist
