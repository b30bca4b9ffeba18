"""Unit tests for normalization + fingerprint rules (SURVEY.md §1.2 parity)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spanner_data_validator_spark.functions.fingerprint import (
    FIELD_SEP,
    fingerprint_turns,
    normalize_json_ref_udf,
    normalize_json_string,
    normalize_json_udf,
    normalized_payload,
)
from spanner_data_validator_spark.functions.normalize import normalize_column


def _one(spark, dtype, value):
    df = spark.createDataFrame([(value,)], T.StructType([T.StructField("c", dtype, True)]))
    return df.select(normalize_column("c", dtype).alias("n")).collect()[0]["n"]


def test_string_null_is_empty(spark):
    assert _one(spark, T.StringType(), None) == ""
    assert _one(spark, T.StringType(), "abc") == "abc"


def test_binary_base64(spark):
    assert _one(spark, T.BinaryType(), bytearray(b"\x00\x01\xff")) == "AAH/"


def test_bool_lowercase(spark):
    assert _one(spark, T.BooleanType(), True) == "true"
    assert _one(spark, T.BooleanType(), False) == "false"


def test_decimal_strips_trailing_zeros(spark):
    # dto/HashResult.java:260-267 stripTrailingZeros().toPlainString()
    t = T.DecimalType(38, 9)
    assert _one(spark, t, Decimal("1.230000000")) == "1.23"
    assert _one(spark, t, Decimal("5.000000000")) == "5"
    assert _one(spark, t, Decimal("0.000000001")) == "0.000000001"


def test_timestamp_epoch_seconds(spark):
    # adjustTimestampPrecision (default): millis / 1000 → seconds
    ts = datetime.datetime(2024, 1, 1, 0, 0, 1, 500000, tzinfo=datetime.timezone.utc)
    assert _one(spark, T.TimestampType(), ts) == "1704067201"


def test_date_unpadded(spark):
    # dto/HashResult.java:131-138: "%d%d%d" year, month, day — no zero padding
    assert _one(spark, T.DateType(), datetime.date(2024, 3, 7)) == "202437"


def test_array_concats_elements(spark):
    t = T.ArrayType(T.StringType())
    assert _one(spark, t, ["a", "bc", None, "d"]) == "abcd"


def test_long_and_double(spark):
    assert _one(spark, T.LongType(), 42) == "42"
    assert _one(spark, T.DoubleType(), 1.5) == "1.5"


# -- JSON normalization (common/JSONNormalizer.java:29-91) --------------------

def test_json_key_order_insensitive():
    a = '{"name": "t1", "args": {"a": 1, "b": true}}'
    b = '{"args": {"b": true, "a": 1}, "name": "t1"}'
    assert normalize_json_string(a) == normalize_json_string(b)
    assert normalize_json_string(a) == "a1btruenamet1"


def test_json_null_leaf_is_bare_key():
    assert normalize_json_string('{"k": null}') == "k"


def test_json_array_scalars_bare_values():
    assert normalize_json_string('[3, 1, "x", null]') == "13x"


def test_json_unparseable_verbatim():
    assert normalize_json_string("not json {") == "not json {"
    assert normalize_json_string(None) is None


def test_json_treeset_dedup_lossy():
    # documented reference quirk: duplicate leaves collapse (TreeSet)
    assert normalize_json_string('{"a": 1, "b": {"a": 1}}') == "a1"


# -- payload / fingerprint -----------------------------------------------------

def test_payload_field_separator_prevents_shift_collision(spark):
    df = spark.createDataFrame([("ab", ""), ("a", "b")], "x STRING, y STRING")
    out = df.select(normalized_payload(df, ["x", "y"]).alias("p")).collect()
    assert out[0]["p"] != out[1]["p"]
    assert out[0]["p"] == "ab" + FIELD_SEP
    assert out[1]["p"] == "a" + FIELD_SEP + "b"


def test_fingerprint_turns_schema_and_equality(spark):
    rows = [("c1", 0, "user", "hi", None),
            ("c1", 1, "tool", "x", '{"a": 1, "b": 2}'),
            ("c1", 2, "tool", "x", '{"b": 2, "a": 1}')]
    df = spark.createDataFrame(rows, "conv_id STRING, turn_idx INT, role STRING, "
                                     "text STRING, tool STRING")
    fp = fingerprint_turns(df, ["conv_id", "turn_idx"], ["role", "text", "tool"],
                           json_cols={"tool"})
    got = {r["turn_idx"]: r["fingerprint"] for r in fp.collect()}
    assert set(fp.columns) == {"conv_id", "turn_idx", "fingerprint"}
    assert got[1] == got[2]  # key order in tool JSON must not matter
    assert got[0] != got[1]


def test_sha256_algo(spark):
    df = spark.createDataFrame([("a",)], "x STRING")
    fp = fingerprint_turns(df, [], ["x"], algo="sha256")
    val = fp.collect()[0]["fingerprint"]
    assert len(val) == 64 and int(val, 16) >= 0


# ---------------------------------------------------------------------------
# Byte-compatible reference mode (VERDICT r3 item 4): golden vectors
# hand-derived from dto/HashResult.java:77-171 (no-delimiter concat, per-type
# rendering), Helpers.java:348-360 (Base64(SHA-256(utf8))), and
# common/JSONNormalizer.java:29-91 (TreeSet of key+value leaves).
# ---------------------------------------------------------------------------

import base64
import hashlib

from spanner_data_validator_spark.functions.fingerprint import (
    java_double_str,
    normalize_json_string,
    reference_fingerprint,
)


def _b64sha(preimage: str) -> str:
    return base64.b64encode(hashlib.sha256(preimage.encode()).digest()).decode()


def test_reference_sha256_known_vector():
    # SHA-256("abc") is a FIPS-180 test vector; Base64 of its digest is what
    # Helpers.sha256 returns for the string "abc"
    assert _b64sha("abc") == "ungWv48Bz+pBQUDeXa4iI7ADYaOWF3qctBD/YfIAFa0="


def test_reference_fingerprint_golden_row(spark):
    # Hand-derived preimage per HashResult.fromSpannerStruct: STRING raw,
    # NULL -> '', INT64 decimal string, TIMESTAMP epoch millis / 1000
    # (adjustTimestampPrecision), DATE '%d%d%d' unpadded, BOOL lowercase —
    # all concatenated with NO delimiter.
    df = spark.createDataFrame(
        [("v1", None, 42, "2024-01-02 03:04:05.678", "2024-01-05", True)],
        "s1 STRING, s2 STRING, n LONG, ts STRING, d STRING, b BOOLEAN",
    ).selectExpr("s1", "s2", "n", "cast(ts as timestamp) ts",
                 "cast(d as date) d", "b")
    got = df.select(reference_fingerprint(
        df, ["s1", "s2", "n", "ts", "d", "b"]).alias("h")).collect()[0]["h"]
    # epoch seconds of 2024-01-02T03:04:05.678Z = 1704164645 (millis
    # truncated by /1000 integer division, HashResult.java:115-129)
    assert got == _b64sha("v1" + "" + "42" + "1704164645" + "202415" + "true")


def test_reference_fingerprint_reproduces_concat_collision(spark):
    # The reference's no-delimiter concat cannot distinguish ('ab','') from
    # ('a','b') — byte-compat mode must reproduce that collision while the
    # engine's default (0x1F separator) must not.
    df = spark.createDataFrame([("ab", ""), ("a", "b")], "x STRING, y STRING")
    ref = [r["h"] for r in
           df.select(reference_fingerprint(df, ["x", "y"]).alias("h")).collect()]
    assert ref[0] == ref[1] == _b64sha("ab")
    own = [r["fingerprint"] for r in
           fingerprint_turns(df, [], ["x", "y"]).collect()]
    assert own[0] != own[1]


def test_json_java_compat_double_rendering():
    # org.json leaves render through Java Double.toString: 1e30 is
    # "1.0E30" (computerized scientific), not Python's "1e+30"
    got = normalize_json_string('{"a": 1e30, "b": 0.5}', java_compat=True)
    assert got == "a1.0E30b0.5"
    # default mode keeps Python rendering (documented divergence)
    assert normalize_json_string('{"a": 1e30}') == "a1e+30"


def test_json_java_compat_utf16_treeset_order():
    # TreeSet orders by UTF-16 code unit: U+10000 (surrogate pair D800 DC00)
    # sorts BELOW U+E000 in Java, but ABOVE it by Unicode code point —
    # java_compat must use the Java order
    supp, private = "\U00010000", "\ue000"
    got = normalize_json_string(f'["{supp}", "{private}"]', java_compat=True)
    assert got == supp + private
    assert normalize_json_string(f'["{supp}", "{private}"]') == private + supp


def test_json_java_compat_treeset_dedup():
    # equal key+value strings collapse (TreeSet semantics) — the documented
    # lossy quirk: {"a":"1x"} and {"a1":"x"} with duplicate leaves
    got = normalize_json_string('{"a": [1, 1], "b": 1}', java_compat=True)
    assert got == "1b1"  # array leaf "1" deduped, then key+value "b1"


def test_java_double_str_layouts():
    cases = [
        (1.0, "1.0"), (0.001, "0.001"), (1e-4, "1.0E-4"), (1e7, "1.0E7"),
        (9999999.0, "9999999.0"), (12345678.9, "1.23456789E7"),
        (1.5e-9, "1.5E-9"), (-0.0, "-0.0"), (0.0, "0.0"),
        (float("inf"), "Infinity"), (-2.5, "-2.5"),
    ]
    for v, want in cases:
        assert java_double_str(v) == want, (v, java_double_str(v), want)
    assert java_double_str(float("nan")) == "NaN"


def test_json_udfs_normalize_each_distinct_value_once_per_batch():
    # the UDFs' Python functions on one batch (no Spark): nulls, repeats,
    # invalid JSON and non-container JSON must come out row for row as
    # normalize_json_string gives them
    rows = ['{"b": 2, "a": [1, null]}', None, "not json {", '{"b": 2, "a": [1, null]}',
            "42", '"str"', None, '[{"x": 1e30}, 0.5]', "not json {", "null", '{"k": null}']
    batch = pd.Series(rows, index=range(10, 10 + len(rows)), dtype=object)
    for udf, java_compat in ((normalize_json_udf, False), (normalize_json_ref_udf, True)):
        got = udf.func(batch)
        assert list(got.index) == list(batch.index)
        want = [normalize_json_string(v, java_compat=java_compat) for v in rows]
        assert got.tolist() == want, (java_compat, got.tolist(), want)
