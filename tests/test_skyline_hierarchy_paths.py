"""Round-4 session-5 operators: skyline and product quantization."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.skyline import pareto_frontier


# --- skyline -----------------------------------------------------------

def _brute_skyline(pts):
    out = []
    for p in pts:
        dominated = any(
            q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])
            for q in pts)
        if not dominated:
            out.append(p)
    agg = {}
    for p in out:
        agg[p] = agg.get(p, 0) + 1
    return {(x, y, n) for (x, y), n in agg.items()}


def _run_skyline(spark, pts):
    df = spark.createDataFrame([(x, y) for x, y in pts], "x long, y long")
    got = {(r["x"], r["y"], r["n_points"])
           for r in pareto_frontier(df, F.col("x"), F.col("y")).collect()}
    assert got == _brute_skyline(pts)


def test_skyline_hand_case(spark):
    # frontier: (1,5), (2,3), (4,1); (2,4) dominated by (2,3); dup (2,3)x2
    _run_skyline(spark, [(1, 5), (2, 3), (2, 3), (2, 4), (4, 1), (5, 2),
                         (4, 7), (9, 9)])


def test_skyline_equal_points_survive(spark):
    _run_skyline(spark, [(3, 3), (3, 3), (3, 3)])


def test_skyline_line_and_antichain(spark):
    # strictly increasing y along increasing x -> only the first survives
    _run_skyline(spark, [(i, i) for i in range(10)])
    # strict antichain -> everything survives
    _run_skyline(spark, [(i, 10 - i) for i in range(10)])


def test_skyline_random_vs_brute(spark):
    rng = random.Random(20260820)
    for trial in range(3):
        pts = [(rng.randrange(8), rng.randrange(8)) for _ in range(60)]
        _run_skyline(spark, pts)


# --- product quantization -----------------------------------------------

def test_pq_assign_exact_and_tiebreak(spark):
    from spanner_data_validator_spark.operators.quantize import pq_assign

    # 4-dim vectors, 2 subspaces of 2; codebook: code0=[0,0,0,0],
    # code1=[10,10,10,10], code2 duplicates code1 (tie -> smaller id)
    cb = spark.createDataFrame(
        [(0, [0, 0, 0, 0]), (1, [10, 10, 10, 10]), (2, [10, 10, 10, 10])],
        "code int, ci array<long>")
    vecs = spark.createDataFrame(
        [(100, [0, 0, 10, 10]),   # sub0 -> code0 err 0; sub1 -> code1 err 0
         (101, [7, 7, 1, 1])],    # sub0 -> code1 (18 vs 98); sub1 -> code0 (2)
        "vec_id long, vi array<long>")
    got = {(r["vec_id"], r["subspace"]): (r["code"], r["err"])
           for r in pq_assign(vecs, cb, m=2, sub_dim=2).collect()}
    assert got == {(100, 0): (0, 0), (100, 1): (1, 0),
                   (101, 0): (1, 18), (101, 1): (0, 2)}


def test_skyline_null_objectives_excluded(spark):
    df = spark.createDataFrame(
        [(1, 5), (None, 0), (2, None), (2, 3)], "x long, y long")
    from pyspark.sql import functions as FF
    got = {(r["x"], r["y"], r["n_points"])
           for r in pareto_frontier(df, FF.col("x"), FF.col("y")).collect()}
    assert got == {(1, 5, 1), (2, 3, 1)}
