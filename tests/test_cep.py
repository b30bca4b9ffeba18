"""CEP operators: symbolization + absence detection."""

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.cep import (
    absence_alerts,
    symbolize,
)

T0 = dt.datetime(2024, 1, 1)


def _events(spark, rows):
    """rows: (key, minutes_offset, seq, typ)"""
    pdf = pd.DataFrame(
        {
            "k": [r[0] for r in rows],
            "ts": [T0 + dt.timedelta(minutes=r[1]) for r in rows],
            "seq": pd.array([r[2] for r in rows], dtype="int64"),
            "typ": [r[3] for r in rows],
        }
    )
    return spark.createDataFrame(pdf)


def _sym():
    return symbolize(
        [("a", F.col("typ") == "A"), ("b", F.col("typ") == "B")]
    )


def test_symbolize_first_hit_wins_and_default(spark):
    df = _events(spark, [(1, 0, 0, "A"), (1, 1, 1, "Z")])
    sym = symbolize(
        [("x", F.col("typ").isin("A", "Z")), ("a", F.col("typ") == "A")],
        default="?",
    )
    vals = sorted(r["s"] for r in df.select(sym.alias("s")).collect())
    assert vals == ["x", "x"]
    vals = df.select(
        symbolize([("a", F.col("typ") == "A")], default="?").alias("s")
    ).collect()
    assert sorted(r["s"] for r in vals) == ["?", "a"]


def test_absence_alerts_vs_brute_force(spark):
    import itertools
    import random

    rng = random.Random(7)
    rows = [
        (k, rng.randrange(0, 120), i, rng.choice(["A", "B", "C"]))
        for i, k in enumerate(itertools.chain.from_iterable(
            [k] * 12 for k in range(6)
        ))
    ]
    df = _events(spark, rows)
    timeout_ms = 30 * 60 * 1000
    got = {
        (r["k"], r["seq"])
        for r in absence_alerts(
            df, key="k", ts="ts", order_tiebreak="seq",
            start=F.col("typ") == "A", end=F.col("typ") == "B",
            timeout_ms=timeout_ms,
        ).collect()
    }
    # brute force: an A row alerts iff no B row for the same key is strictly
    # after it in (ts, seq) order AND within the timeout
    want = set()
    for k, mins, seq, typ in rows:
        if typ != "A":
            continue
        t = T0 + dt.timedelta(minutes=mins)
        followed = any(
            bt - t <= dt.timedelta(milliseconds=timeout_ms)
            for bk, bm, bs, btyp in rows
            if bk == k and btyp == "B"
            for bt in [T0 + dt.timedelta(minutes=bm)]
            if (bt, bs) > (t, seq)
        )
        if not followed:
            want.add((k, seq))
    assert got == want and want  # non-degenerate


def test_absence_alert_deadline_is_exact_micros(spark):
    df = _events(spark, [(1, 0, 0, "A")])
    [row] = absence_alerts(
        df, key="k", ts="ts", order_tiebreak="seq",
        start=F.col("typ") == "A", end=F.col("typ") == "B",
        timeout_ms=1000,
    ).collect()
    epoch_us = int(T0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert row["deadline_us"] == epoch_us + 1_000_000
