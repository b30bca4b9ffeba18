"""Z-order layout + key-skew profile tests."""
from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.layout import (
    write_zordered,
    zorder_key,
    zorder_sql_expr,
)
from spanner_data_validator_spark.operators.skew import key_skew_profile


def _morton_ref(vals: list[int], bits: int) -> int:
    z = 0
    for i, v in enumerate(vals):
        for b in range(bits):
            z |= ((v >> b) & 1) << (b * len(vals) + i)
    return z


def test_zorder_key_matches_python_reference(spark):
    rows = [(x, y) for x in (0, 1, 5, 130, 255) for y in (0, 3, 23, 255)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {(r.x, r.y): r.z for r in df.select(
        "x", "y",
        zorder_key([F.col("x"), F.col("y")], bits=8).alias("z")).collect()}
    for x, y in rows:
        assert got[(x, y)] == _morton_ref([x, y], 8), (x, y)


def test_zorder_sql_expr_parity_with_column_version(spark):
    df = spark.range(0, 500).select(
        (F.col("id") % 256).alias("x"),
        ((F.col("id") * 7) % 256).alias("y"))
    both = df.select(
        zorder_key([F.col("x"), F.col("y")], bits=8).alias("z_col"),
        F.expr(zorder_sql_expr(["x", "y"], bits=8)).alias("z_sql"))
    assert both.where(F.col("z_col") != F.col("z_sql")).count() == 0


def test_zorder_key_validates_arguments(spark):
    with pytest.raises(ValueError, match=">= 2 columns"):
        zorder_key([F.col("x")], bits=8)
    with pytest.raises(ValueError, match="overflows"):
        zorder_key([F.col("x"), F.col("y"), F.col("w")], bits=21)


def test_write_zordered_clusters_both_dimensions(spark, tmp_path):
    # 64k rows over the full (x, y) grid, shuffled arrival order
    df = spark.range(0, 65536).select(
        (F.xxhash64("id") % 256).alias("hx"),
        F.col("id")).select(
        F.pmod("hx", F.lit(256)).alias("x"),
        F.pmod(F.col("id") * 31, F.lit(256)).alias("y"))
    out = str(tmp_path / "zordered")
    write_zordered(df, out, [F.col("x"), F.col("y")], bits=8, n_files=16)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 16
    # per-file spread of EACH dimension must be far below the global 0..255:
    # a single-column sort would leave the other dimension at full spread.
    spreads = (spark.read.parquet(out)
               .withColumn("f", F.input_file_name())
               .groupBy("f")
               .agg((F.max("x") - F.min("x")).alias("sx"),
                    (F.max("y") - F.min("y")).alias("sy"))
               .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
               .first())
    assert spreads.ax < 192, spreads
    assert spreads.ay < 192, spreads


def test_key_skew_profile_finds_planted_hot_key(spark):
    base = spark.range(0, 1000).select((F.col("id") % 100).alias("k"))
    hot = spark.range(0, 400).select(F.lit(7).alias("k"))
    prof = key_skew_profile(base.unionByName(hot), "k", top_n=3).collect()
    assert prof[0].k == 7 and prof[0].cnt == 410
    assert prof[0].share == pytest.approx(410 / 1400)
    # mean count/key = 1400/100 = 14 -> skew factor 410/14
    assert prof[0].skew_factor == pytest.approx(410 / 14)
    # ties among the remaining keys (10 rows each) break by ascending key
    assert (prof[1].k, prof[2].k) == (0, 1)


def test_key_skew_profile_plan_uses_top_n_reduce(spark):
    df = spark.range(0, 100).select((F.col("id") % 10).alias("k"))
    plan = key_skew_profile(df, "k", top_n=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # never a global sort


# ---------------------------------------------------------------- ntile


def _ntile_ref(n: int, k: int) -> list[int]:
    """SQL NTILE fill rule: first n%k tiles get n//k+1 rows."""
    q, r = divmod(n, k)
    out = []
    for t in range(1, k + 1):
        out.extend([t] * (q + 1 if t <= r else q))
    return out


@pytest.mark.parametrize("n,k", [(1, 5), (4, 5), (5, 5), (7, 5),
                                 (100, 5), (97, 7), (3, 1)])
def test_distributed_ntile_matches_sql_fill_rule(spark, n, k):
    from spanner_data_validator_spark.operators.layout import (
        distributed_ntile,
    )
    # duplicate-heavy values + unique tiebreak id: ntile must follow the
    # (value, id) total order exactly, including across tied values.
    df = spark.range(n).select(
        F.col("id"), ((F.col("id") * 37) % 11).alias("v"))
    got = distributed_ntile(
        df, F.col("v"), [F.col("v").asc(), F.col("id").asc()], k,
        ascending=True, out_col="t", n_buckets=4)
    rows = sorted(got.collect(), key=lambda r: (r.v, r.id))
    assert [r.t for r in rows] == _ntile_ref(n, k)


def test_distributed_ntile_descending_matches_window_ntile(spark):
    from pyspark.sql import Window
    from spanner_data_validator_spark.operators.layout import (
        distributed_ntile,
    )
    df = spark.range(83).select(
        F.col("id"), ((F.col("id") * 13) % 29).alias("v"))
    got = distributed_ntile(
        df, F.col("v"), [F.col("v").desc(), F.col("id").asc()], 6,
        ascending=False, out_col="t")
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    want = df.select("id", F.ntile(6).over(w).alias("t"))
    assert ({(r.id, r.t) for r in got.collect()}
            == {(r.id, r.t) for r in want.collect()})


def test_distributed_ntile_constant_value_single_bin(spark):
    # span == 0 path: every row lands in bin 0; order is the tiebreak.
    from spanner_data_validator_spark.operators.layout import (
        distributed_ntile,
    )
    df = spark.range(10).select(F.col("id"), F.lit(7).alias("v"))
    got = distributed_ntile(
        df, F.col("v"), [F.col("v").asc(), F.col("id").asc()], 4,
        out_col="t")
    rows = sorted(got.collect(), key=lambda r: r.id)
    assert [r.t for r in rows] == _ntile_ref(10, 4)
