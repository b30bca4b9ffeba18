"""Property-based tests: the exact statistics operators vs brute force.

Grouped operators evaluate a whole batch of hypothesis-generated cases in
ONE Spark job (one group per case) — the repo's pattern for keeping
Spark-per-example cost off the hot path.
"""
from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.stats import (
    ks_two_sample,
    lag1_autocorr,
    robust_outlier_profile,
    trend_slope,
)


@st.composite
def grouped_series(draw, min_len=1, max_len=12, lo=-50, hi=50):
    n_groups = draw(st.integers(1, 6))
    return {f"g{i}": draw(st.lists(st.integers(lo, hi),
                                   min_size=min_len, max_size=max_len))
            for i in range(n_groups)}


@given(grouped_series())
@settings(max_examples=20, deadline=None)
def test_mad_profile_matches_bruteforce(spark, groups):
    rows = [(g, float(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = {r["grp"]: r for r in
           robust_outlier_profile(df, "grp", F.col("v"), k=3).collect()}
    for g, vs in groups.items():
        s = sorted(float(v) for v in vs)
        med = s[(len(s) + 1) // 2 - 1]
        ads = sorted(abs(v - med) for v in s)
        mad = ads[(len(s) + 1) // 2 - 1]
        r = out[g]
        assert r["n"] == len(vs) and r["med"] == med and r["mad"] == mad
        assert r["n_outliers"] == sum(
            1 for v in s if abs(v - med) > 3.0 * mad)


@given(grouped_series(min_len=2))
@settings(max_examples=20, deadline=None)
def test_trend_slope_matches_bruteforce(spark, groups):
    rows = [(g, i, v) for g, vs in groups.items()
            for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    out = {r["grp"]: r for r in
           trend_slope(df, "grp", F.col("x"), F.col("y")).collect()}
    for g, vs in groups.items():
        n = len(vs)
        sx = sum(range(n)); sy = sum(vs)
        sxy = sum(i * v for i, v in enumerate(vs))
        sxx = sum(i * i for i in range(n))
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        r = out[g]
        if den == 0:
            assert r["slope"] is None
        else:
            assert math.isclose(r["slope"], num / den,
                                rel_tol=1e-12, abs_tol=1e-12)


@given(grouped_series(min_len=2))
@settings(max_examples=20, deadline=None)
def test_lag1_autocorr_matches_bruteforce(spark, groups):
    rows = [(g, i, v) for g, vs in groups.items()
            for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "grp string, t long, y long")
    out = {r["grp"]: r for r in
           lag1_autocorr(df, "grp", [F.col("t")], F.col("y")).collect()}
    for g, vs in groups.items():
        a, b = vs[:-1], vs[1:]
        m = len(a)
        sx, sy = sum(a), sum(b)
        sxy = sum(x * y for x, y in zip(a, b))
        vx = m * sum(x * x for x in a) - sx * sx
        vy = m * sum(y * y for y in b) - sy * sy
        r = out[g]
        assert r["n_pairs"] == m
        if vx == 0 or vy == 0:
            assert r["acf1"] is None
        else:
            expect = (m * sxy - sx * sy) / math.sqrt(vx * vy)
            assert math.isclose(r["acf1"], expect,
                                rel_tol=1e-12, abs_tol=1e-12)


@given(st.lists(st.integers(0, 20), min_size=1, max_size=25),
       st.lists(st.integers(0, 20), min_size=1, max_size=25),
       st.integers(2, 9))
@settings(max_examples=10, deadline=None)
def test_ks_matches_bruteforce_property(spark, a, b, n_buckets):
    rows = [(float(v), "a") for v in a] + [(float(v), "b") for v in b]
    df = spark.createDataFrame(rows, "v double, g string")
    out = ks_two_sample(df, F.col("v"), F.col("g") == "a",
                        F.col("g") == "b",
                        n_buckets=n_buckets).collect()[0]
    xs = sorted(set(a) | set(b))
    dmax = max(abs(sum(1 for x in a if x <= v) * len(b)
                   - sum(1 for x in b if x <= v) * len(a)) for v in xs)
    assert out["ks_num"] == dmax
    assert out["n_a"] == len(a) and out["n_b"] == len(b)


@given(grouped_series(min_len=1, max_len=12, lo=0, hi=100))
@settings(max_examples=10, deadline=None)
def test_cusum_changepoint_matches_bruteforce(spark, cases):
    from spanner_data_validator_spark.operators.stats import (
        cusum_changepoint,
    )
    rows = [(g, i, v) for g, xs in cases.items() for i, v in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, o long, x long")
    out = {r.g: r for r in cusum_changepoint(
        df, "g", F.col("o"), F.col("x")).collect()}
    for g, xs in cases.items():
        n, t = len(xs), sum(xs)
        best = None
        c = 0
        for k, x in enumerate(xs, start=1):
            c += x
            d = abs(n * c - k * t)
            # ties break to the EARLIEST order position
            if best is None or d > best[0]:
                best = (d, k - 1)
        r = out[g]
        assert r.n_points == n and r.total_units == t
        assert r.max_abs_d == best[0]
        assert r.cp_order == best[1]
        assert math.isclose(r.cusum_stat, best[0] / (n * n), rel_tol=0,
                            abs_tol=0)


@given(st.lists(st.integers(0, 15), min_size=1, max_size=30),
       st.lists(st.integers(0, 15), min_size=1, max_size=30))
@settings(max_examples=10, deadline=None)
def test_mann_whitney_matches_pair_counting(spark, a, b):
    from spanner_data_validator_spark.operators.stats import (
        mann_whitney_u,
    )
    rows = [(v, "a") for v in a] + [(v, "b") for v in b]
    df = spark.createDataFrame(rows, "v long, s string")
    r = mann_whitney_u(df, F.col("v"), F.col("s") == "a",
                       F.col("s") == "b").collect()[0]
    # U1 by direct pair counting: wins + half-ties
    two_u1 = sum(2 for x in a for y in b if x > y) \
        + sum(1 for x in a for y in b if x == y)
    assert (r.n_a, r.n_b) == (len(a), len(b))
    assert r.two_u1 == two_u1
    assert r.two_u2 == 2 * len(a) * len(b) - two_u1
    assert r.auc == two_u1 / (2 * len(a) * len(b))
