"""operators/stats.py: exact KS, MAD outliers, Benford, FD discovery."""
from __future__ import annotations

import math

from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.stats import (
    lag1_autocorr,
    trend_slope,
    benford_expected,
    benford_profile,
    fd_profile,
    ks_two_sample,
    robust_outlier_profile,
)


def _ks_brute(a: list[float], b: list[float]) -> float:
    xs = sorted(set(a) | set(b))
    na, nb = len(a), len(b)
    return max(
        abs(sum(1 for x in a if x <= v) / na
            - sum(1 for x in b if x <= v) / nb)
        for v in xs)


def test_ks_identical_distributions_is_zero(spark):
    rows = [(float(i % 10), "a") for i in range(100)] + \
           [(float(i % 10), "b") for i in range(100)]
    df = spark.createDataFrame(rows, "v double, g string")
    out = ks_two_sample(df, F.col("v"), F.col("g") == "a",
                        F.col("g") == "b").collect()[0]
    assert out["ks_num"] == 0 and out["ks_stat"] == 0.0
    assert out["n_a"] == 100 and out["n_b"] == 100


def test_ks_matches_brute_force(spark):
    # deterministic, overlapping but shifted samples with ties
    a = [float((i * 7) % 23) for i in range(57)]
    b = [float((i * 5) % 23 + 4) for i in range(41)]
    rows = [(v, "a") for v in a] + [(v, "b") for v in b]
    df = spark.createDataFrame(rows, "v double, g string")
    out = ks_two_sample(df, F.col("v"), F.col("g") == "a",
                        F.col("g") == "b", n_buckets=4).collect()[0]
    expect = _ks_brute(a, b)
    assert math.isclose(out["ks_stat"], expect, rel_tol=1e-12)
    # ks_num is the exact integer numerator
    assert out["ks_num"] == round(expect * len(a) * len(b))


def test_ks_single_distinct_value(spark):
    df = spark.createDataFrame(
        [(1.0, "a")] * 5 + [(1.0, "b")] * 3, "v double, g string")
    out = ks_two_sample(df, F.col("v"), F.col("g") == "a",
                        F.col("g") == "b").collect()[0]
    assert out["ks_num"] == 0  # identical one-point distributions


def test_mad_planted_outliers(spark):
    # group g: 99 values in [0, 9.8], one wild outlier
    vals = [float(i % 50) / 5.0 for i in range(99)] + [1000.0]
    df = spark.createDataFrame([("g", v) for v in vals],
                               "grp string, v double")
    out = robust_outlier_profile(df, "grp", F.col("v"), k=5).collect()[0]
    svals = sorted(vals)
    med = svals[(len(vals) + 1) // 2 - 1]  # lower median, 1-based rank
    ads = sorted(abs(v - med) for v in vals)
    mad = ads[(len(vals) + 1) // 2 - 1]
    assert out["n"] == 100
    assert out["med"] == med and out["mad"] == mad
    assert out["n_outliers"] == sum(
        1 for v in vals if abs(v - med) > 5 * mad) == 1


def test_mad_null_and_multi_group(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", None),
         ("b", 10.0)], "grp string, v double")
    rows = {r["grp"]: r for r in
            robust_outlier_profile(df, "grp", F.col("v")).collect()}
    assert rows["a"]["n"] == 3 and rows["a"]["med"] == 2.0
    assert rows["a"]["mad"] == 1.0
    assert rows["b"]["n"] == 1 and rows["b"]["mad"] == 0.0
    assert rows["b"]["n_outliers"] == 0


def test_benford_digit_extraction_and_terms(spark):
    # amounts chosen so cents first-digits are known; includes a sub-cent
    # amount (excluded) and an exact .005 rounding edge
    amounts = [1.00, 19.99, 250.10, 0.004, 0.005, 933.00, 12.34, 105.5]
    df = spark.createDataFrame([(a,) for a in amounts], "amt double")
    rows = {r["digit"]: r for r in
            benford_profile(df, F.col("amt")).collect()}
    # cents: 100->1, 1999->1, 25010->2, 0.4 excluded, floor(.5+.5)=1 ->1,
    # 93300->9, 1234->1, 10550->1
    assert rows["1"]["observed"] == 5
    assert rows["2"]["observed"] == 1
    assert rows["9"]["observed"] == 1
    n = rows["1"]["n_total"]
    assert n == 7
    p1 = benford_expected()[1]
    assert math.isclose(rows["1"]["expected"], n * p1, rel_tol=0)
    dev = rows["1"]["observed"] - n * p1
    assert math.isclose(rows["1"]["chi_term"], dev * dev / (n * p1),
                        rel_tol=1e-15)


def test_benford_probabilities_sum_to_one():
    assert math.isclose(sum(benford_expected().values()), 1.0,
                        rel_tol=1e-12)


def test_fd_profile_holds_and_violations(spark):
    df = spark.createDataFrame(
        [(1, "x", 10), (1, "x", 11), (2, "y", 10), (2, "z", 12),
         (3, None, 13)],
        "k int, dep string, other int")
    rows = {(r["lhs"], r["rhs"]): r
            for r in fd_profile(df, [("k", "dep"), ("other", "k")])
            .collect()}
    kd = rows[("k", "dep")]
    # k=2 maps to two dep values -> violated; k=3's NULL dep ignored
    assert kd["n_groups"] == 3 and kd["n_violating"] == 1
    assert kd["max_rhs_per_lhs"] == 2 and not kd["holds"]
    ok = rows[("other", "k")]
    assert ok["n_violating"] == 1  # other=10 -> k in {1, 2}
    assert not ok["holds"]


def test_fd_profile_pure_dependency(spark):
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i % 3}") for i in range(30)],
        "id int, code int, label string")
    r = {(x["lhs"], x["rhs"]): x
         for x in fd_profile(df, [("code", "label")]).collect()}
    row = r[("code", "label")]
    assert row["holds"] and row["n_groups"] == 3
    assert row["max_rhs_per_lhs"] == 1


def test_trend_slope_matches_closed_form(spark):
    # y = 3x + 7 with an integer disturbance pattern; exact OLS is checkable
    # in Python integer arithmetic
    pts = [(i, 3 * i + 7 + ((-1) ** i) * (i % 5)) for i in range(200)]
    df = spark.createDataFrame([("g", x, y) for x, y in pts],
                               "grp string, x long, y long")
    out = trend_slope(df, "grp", F.col("x"), F.col("y")).collect()[0]
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    assert out["n"] == n
    assert math.isclose(out["slope"], num / den, rel_tol=1e-12)
    assert math.isclose(out["intercept"],
                        (sy - (num / den) * sx) / n, rel_tol=1e-9)


def test_trend_slope_degenerate_x(spark):
    df = spark.createDataFrame([("g", 5, i) for i in range(10)],
                               "grp string, x long, y long")
    out = trend_slope(df, "grp", F.col("x"), F.col("y")).collect()[0]
    assert out["slope"] is None


def test_lag1_autocorr_alternating_and_constant(spark):
    # strictly alternating series -> acf1 == -1; constant -> NULL (0 var)
    rows = [("alt", i, 10 if i % 2 == 0 else 20) for i in range(50)]
    rows += [("const", i, 7) for i in range(10)]
    df = spark.createDataFrame(rows, "grp string, t long, y long")
    out = {r["grp"]: r for r in
           lag1_autocorr(df, "grp", [F.col("t")], F.col("y")).collect()}
    assert math.isclose(out["alt"]["acf1"], -1.0, rel_tol=1e-12)
    assert out["alt"]["n_pairs"] == 49
    assert out["const"]["acf1"] is None


def test_lag1_autocorr_matches_numpy(spark):
    import numpy as np

    ys = [(i * 17) % 23 + (i % 3) for i in range(80)]
    df = spark.createDataFrame([("g", i, y) for i, y in enumerate(ys)],
                               "grp string, t long, y long")
    out = lag1_autocorr(df, "grp", [F.col("t")], F.col("y")).collect()[0]
    a, b = np.array(ys[:-1], float), np.array(ys[1:], float)
    assert math.isclose(out["acf1"], np.corrcoef(a, b)[0, 1],
                        rel_tol=1e-10)


def test_weighted_median_crosses_half_weight(spark):
    from spanner_data_validator_spark.operators.stats import weighted_median
    # weights: value 1 w=1, value 2 w=2, value 3 w=5 -> W=8, half=4,
    # cum(1)=1, cum(2)=3, cum(3)=8 -> weighted median 3; unweighted is 2
    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 2), ("g", 3, 5)],
        "grp string, v long, w long")
    out = weighted_median(df, "grp", F.col("v"), F.col("w")).collect()[0]
    assert out["w_total"] == 8 and out["w_median"] == 3


def test_weighted_median_ties_and_exact_half(spark):
    from spanner_data_validator_spark.operators.stats import weighted_median
    # exact half crossing: v=1 w=2, v=2 w=2 -> 2*cum(1)=4 >= 4 -> median 1
    # (lower weighted median); tie values share cum at group end
    df = spark.createDataFrame(
        [("a", 1, 2), ("a", 2, 2),
         ("b", 5, 1), ("b", 5, 1), ("b", 9, 1)],
        "grp string, v long, w long")
    out = {r["grp"]: r for r in weighted_median(
        df, "grp", F.col("v"), F.col("w")).collect()}
    assert out["a"]["w_median"] == 1
    assert out["b"]["w_median"] == 5
