"""Running-balance divergence."""
from __future__ import annotations

from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.diff import (
    first_running_divergence,
)


def test_first_running_divergence_pinpoints_first_bad_row(spark):
    # key A: target drops the 2nd row (10,20,30 vs 10,30) -> diverges at rn 2
    # key B: identical -> absent from output
    # key C: target has an extra trailing row -> diverges at rn 4 (NULL src)
    src = spark.createDataFrame(
        [("A", 1, 10), ("A", 2, 20), ("A", 3, 30),
         ("B", 1, 5), ("B", 2, 6),
         ("C", 1, 1), ("C", 2, 2), ("C", 3, 3)],
        "k string, pos long, amt long")
    tgt = spark.createDataFrame(
        [("A", 1, 10), ("A", 3, 30),
         ("B", 1, 5), ("B", 2, 6),
         ("C", 1, 1), ("C", 2, 2), ("C", 3, 3), ("C", 4, 4)],
        "k string, pos long, amt long")
    out = {r["k"]: r for r in first_running_divergence(
        src, tgt, key="k", order=["pos"], amount=F.col("amt")).collect()}
    assert set(out) == {"A", "C"}
    a = out["A"]
    assert a["first_rn"] == 2 and a["src_cum"] == 30 and a["tgt_cum"] == 40
    assert a["n_diverged"] == 2  # rn 2 and the missing rn 3
    c = out["C"]
    assert c["first_rn"] == 4 and c["src_cum"] is None and c["tgt_cum"] == 10
    assert c["n_diverged"] == 1


def test_first_running_divergence_compensating_pair_caught(spark):
    # totals reconcile (sum 60 both sides) but the path differs
    src = spark.createDataFrame([("k", 1, 10), ("k", 2, 20), ("k", 3, 30)],
                                "k string, pos long, amt long")
    tgt = spark.createDataFrame([("k", 1, 10), ("k", 2, 30), ("k", 3, 20)],
                                "k string, pos long, amt long")
    out = first_running_divergence(
        src, tgt, key="k", order=["pos"], amount=F.col("amt")).collect()
    assert len(out) == 1 and out[0]["first_rn"] == 2
