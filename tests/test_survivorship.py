"""operators/survivorship: deterministic golden-record rules — total-order
ties, null handling, partitioning-independence of the mode."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.survivorship import golden_records


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["cl", "id", "text", "lang", "src",
                                    "n_chars"]))


BASE = [
    # cluster 1: longest text wins, tie on n_chars broken by min id
    (1, 10, "aaaa", "en", "web", 4),
    (1, 11, "bbbbbb", "en", "mirror", 6),
    (1, 12, "cccccc", "de", "web", 6),   # ties 11 on n_chars -> 11 wins
    # cluster 2: singleton
    (2, 20, "zz", None, "web", 2),
    # cluster 3: lang mode tie en/de 2-2 -> 'de' (smallest value)
    (3, 30, "x", "de", "a", 1),
    (3, 31, "xy", "en", "b", 2),
    (3, 32, "xyz", "de", "c", 3),
    (3, 33, "wxyz", "en", "d", 4),
]


def _golden(spark, rows, repartition=None):
    df = _df(spark, rows)
    if repartition:
        df = df.repartition(repartition, "id")
    out = golden_records(
        df, "cl", "id",
        rules={"best_text": ("longest", "text", "n_chars"),
               "lang_mode": ("mode", "lang"),
               "first_id": ("min", "id")},
        count_distinct=["src"])
    return {r["cl"]: r.asDict() for r in out.collect()}


def test_rules(spark):
    g = _golden(spark, BASE)
    assert set(g) == {1, 2, 3}
    c1 = g[1]
    assert c1["rep_id"] == 11 and c1["best_text"] == "bbbbbb"
    assert c1["lang_mode"] == "en" and c1["n_rows"] == 3
    assert c1["n_src"] == 2 and c1["first_id"] == 10
    c2 = g[2]
    assert c2["rep_id"] == 20 and c2["best_text"] == "zz"
    assert c2["lang_mode"] is None  # all-null lang: mode abstains
    c3 = g[3]
    assert c3["rep_id"] == 33 and c3["best_text"] == "wxyz"
    assert c3["lang_mode"] == "de"  # 2-2 tie -> smallest value
    assert c3["n_src"] == 4


@pytest.mark.parametrize("parts", [1, 3, 16])
def test_partitioning_independence(spark, parts):
    """Survivorship must not depend on physical row order — the
    dedup_text_stream arrival-order lesson, pinned for batch."""
    assert _golden(spark, BASE, repartition=parts) == _golden(spark, BASE)
    assert (_golden(spark, list(reversed(BASE)), repartition=parts)
            == _golden(spark, BASE))


def test_rep_id_without_longest_rule(spark):
    df = _df(spark, BASE)
    out = golden_records(df, "cl", "id", rules={"first_id": ("min", "id")})
    got = {r["cl"]: r["rep_id"] for r in out.collect()}
    assert got == {1: 10, 2: 20, 3: 30}  # min id fallback


def test_string_id_rejected(spark):
    """The tie order negates id_col; a string id must fail up front, not
    silently order by a null negation."""
    df = _df(spark, BASE).withColumn("id", F.col("id").cast("string"))
    with pytest.raises(ValueError, match="must be numeric"):
        golden_records(df, "cl", "id",
                       rules={"best_text": ("longest", "text", "n_chars")})


def test_unknown_rule_rejected(spark):
    df = _df(spark, BASE)
    with pytest.raises(ValueError):
        golden_records(df, "cl", "id", rules={"x": ("newest", "text")})
