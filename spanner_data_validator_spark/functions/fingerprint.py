"""Row fingerprints over normalized column tuples.

The reference reduces every row to ``Base64(SHA-256(utf8(concat(values))))``
with NO delimiter between values (dto/HashResult.java:85-147 StringBuilder loop;
Helpers.java:348-360 digest). We keep the normalization rules but insert an
explicit 0x1F field separator so ``('ab', '')`` and ``('a', 'b')`` cannot
collide — allowed because the contract is reference-identical *tally
semantics*, not byte-identical hashes (SURVEY.md §1.2).

Two fingerprint algorithms:

* ``xxhash64`` — 64-bit, JVM whole-stage-codegen, the hot-path default.
* ``sha256``   — hex SHA-256 via ``F.sha2``, when 64 bits of collision
  resistance is not enough (10^12 rows → use sha256 in production runs;
  birthday bound on xxhash64 at 10^12 keys is ~2.7% — measurable).

JSON normalization (common/JSONNormalizer.java:29-91) is the one rule that
needs Python: parse, recursively collect every leaf as ``key+value`` (bare
``key`` for nulls, bare ``value`` for array scalars) into a *sorted,
deduplicated* set, concatenate. Unparseable input is returned verbatim.
Implemented as an Arrow-vectorized pandas UDF (no per-row Python fallback).
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FIELD_SEP = "\x1f"  # unit separator: explicit field boundary inside the preimage


# ---------------------------------------------------------------------------
# JSON normalization (pandas UDF — Arrow batched)
# ---------------------------------------------------------------------------

def _collect_leaves(obj, out: set[str], *, java_compat: bool = False) -> None:
    # mirrors JSONNormalizer.traverseJSONObject/traverseJSONArray semantics
    render = _java_scalar_str if java_compat else _scalar_str
    if isinstance(obj, dict):
        for k, v in obj.items():
            if isinstance(v, (dict, list)):
                _collect_leaves(v, out, java_compat=java_compat)
            elif v is None:
                out.add(k)
            else:
                out.add(k + render(v))
    elif isinstance(obj, list):
        for v in obj:
            if v is None:
                continue  # JSONNormalizer skips null array slots
            if isinstance(v, (dict, list)):
                _collect_leaves(v, out, java_compat=java_compat)
            else:
                out.add(render(v))


def _scalar_str(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v.is_integer() and abs(v) < 1e15:
        return f"{v:.1f}"  # Java Double.toString(1.0) == "1.0"
    return str(v)


def java_double_str(v: float) -> str:
    """``Double.toString`` emulation (JDK 19+ shortest-repr semantics).

    Java renders |v| in [1e-3, 1e7) as plain decimal with at least one
    fraction digit, everything else as ``D.DDDE±X`` computerized scientific
    notation with a mantissa in [1, 10) — where Python's repr switches to
    scientific form only outside [1e-4, 1e16) and spells it ``1e+30``.
    Both runtimes emit shortest round-trip digits (Ryū), so converting
    between the two layouts is exact. Used by the byte-compatible reference
    fingerprint mode (Helpers.java:348-360 hashes the Java rendering).
    """
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    if v == 0.0:
        return "-0.0" if math.copysign(1.0, v) < 0 else "0.0"
    sign = "-" if v < 0 else ""
    digits, exp = _shortest_digits(abs(v))
    if -3 <= exp < 7:  # Java's plain-decimal window
        if exp >= 0:
            intpart = digits[: exp + 1].ljust(exp + 1, "0")
            frac = digits[exp + 1:] or "0"
        else:
            intpart = "0"
            frac = "0" * (-exp - 1) + digits
        return f"{sign}{intpart}.{frac}"
    mantissa = digits[0] + "." + (digits[1:] or "0")
    return f"{sign}{mantissa}E{exp}"


def _shortest_digits(a: float) -> tuple[str, int]:
    """repr(a)'s shortest round-trip digits plus the base-10 exponent of the
    leading significant digit (a > 0)."""
    s = repr(a)
    if "e" in s:
        m, _, e = s.partition("e")
        exp10 = int(e)
    else:
        m, exp10 = s, 0
    intpart, _, frac = m.partition(".")
    if intpart != "0" and intpart:
        lead_exp = len(intpart) - 1 + exp10
    else:
        zeros = len(frac) - len(frac.lstrip("0"))
        lead_exp = -zeros - 1 + exp10
    digits = (intpart + frac).lstrip("0").rstrip("0") or "0"
    return digits, lead_exp


def _java_scalar_str(v) -> str:
    """org.json leaf rendering under Java semantics (byte-compat mode)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return java_double_str(v)
    return str(v)


def _utf16_key(s: str) -> bytes:
    # Java String.compareTo orders by UTF-16 code unit; byte-wise comparison
    # of big-endian UTF-16 is equivalent (supplementary chars sort as their
    # surrogate pairs, BELOW U+E000 — Python's code-point sort puts them last)
    return s.encode("utf-16-be", "surrogatepass")


def normalize_json_string(raw: str | None, *, java_compat: bool = False) -> str | None:
    """Pure-python core of the normalizer (unit-testable without Spark).

    ``java_compat=True`` reproduces the reference byte-for-byte
    (common/JSONNormalizer.java:29-91 + TreeSet ordering): leaves are
    rendered with Java scalar semantics (``Double.toString`` layout) and
    sorted in UTF-16 code-unit order. The TreeSet also silently DEDUPLICATES
    equal ``key+value`` strings — both modes keep that quirk (set semantics).
    """
    if raw is None:
        return None
    try:
        parsed = json.loads(raw)
    except (ValueError, TypeError):
        return raw
    if not isinstance(parsed, (dict, list)):
        return raw  # org.json accepts only objects/arrays at top level
    leaves: set[str] = set()
    _collect_leaves(parsed, leaves, java_compat=java_compat)
    if java_compat:
        return "".join(sorted(leaves, key=_utf16_key))
    return "".join(sorted(leaves))


def _normalize_distinct(s: pd.Series, *, java_compat: bool = False) -> pd.Series:
    """Normalize each distinct value of one Arrow batch once and map the
    results back by position; nulls stay null (``factorize`` codes them -1,
    which picks the trailing None)."""
    codes, uniques = pd.factorize(s)
    normalized = [normalize_json_string(v, java_compat=java_compat) for v in uniques]
    return pd.Series(np.array([*normalized, None], dtype=object)[codes], index=s.index)


@F.pandas_udf(T.StringType())
def normalize_json_ref_udf(s: pd.Series) -> pd.Series:
    """Byte-compatible (java_compat) JSON normalizer — reference-parity mode."""
    return _normalize_distinct(s, java_compat=True)


@F.pandas_udf(T.StringType())
def normalize_json_udf(s: pd.Series) -> pd.Series:
    return _normalize_distinct(s)


# ---------------------------------------------------------------------------
# Fingerprint expressions
# ---------------------------------------------------------------------------

def normalized_payload(
    df: DataFrame,
    cols: list[str],
    *,
    json_cols: set[str] | frozenset[str] = frozenset(),
    adjust_timestamp_precision: bool = True,
    sep: str = FIELD_SEP,
    java_json: bool = False,
) -> Column:
    """Concatenate the canonical serialization of ``cols`` in SELECT order.

    Null contributes '' (reference rule); the explicit separator keeps field
    boundaries unambiguous. Stays entirely inside whole-stage codegen unless a
    column is listed in ``json_cols`` (then that one column goes through the
    Arrow-batched JSON-normalizer UDF).
    """
    from spanner_data_validator_spark.functions.normalize import normalize_column

    dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))
    parts = [
        normalize_column(
            c,
            dtypes[c],
            adjust_timestamp_precision=adjust_timestamp_precision,
            json_normalize=c in json_cols,
            java_json=java_json,
        )
        for c in cols
    ]
    return F.concat_ws(sep, *parts)


def fingerprint_expr(payload: Column, algo: str = "xxhash64") -> Column:
    """Hash a normalized payload string.

    xxhash64 → LongType (codegen'd, zero-copy); sha256 → hex StringType
    (Helpers.java:348-360 analogue; we use hex not Base64 — same information);
    sha256_b64 → ``Base64(SHA-256(utf8))``, the reference's exact rendering.
    """
    if algo == "xxhash64":
        return F.xxhash64(payload)
    if algo == "sha256":
        return F.sha2(payload, 256)
    if algo == "sha256_b64":
        return F.base64(F.unhex(F.sha2(payload, 256)))
    raise ValueError(f"unknown fingerprint algo: {algo}")


def reference_fingerprint(
    df: DataFrame,
    cols: list[str],
    *,
    json_cols: set[str] | frozenset[str] = frozenset(),
    adjust_timestamp_precision: bool = True,
) -> Column:
    """BYTE-COMPATIBLE reference fingerprint: ``Base64(SHA-256(utf8(concat)))``.

    Exactly what ``HashResult.fromSpannerStruct`` / ``fromJDBCResultSet``
    compute (dto/HashResult.java:77-171 no-delimiter StringBuilder concat →
    Helpers.java:348-360 digest + commons-codec Base64): no field separator
    (so the reference's ``('ab','')`` / ``('a','b')`` preimage collision is
    faithfully reproduced), Java JSON-normalizer rendering for ``json_cols``.
    Use this mode when validating against hashes an actual reference
    deployment produced; the engine's own default keeps the 0x1F separator.

    One reference behavior is documented but NOT copied: Helpers.sha256
    swallows digest failures and returns the raw preimage (a silent
    hash-domain escape). SHA-256 cannot fail here, so this expression has no
    fallback branch — a deployment-parity caveat, not a computable one.
    """
    payload = normalized_payload(
        df, cols, json_cols=json_cols,
        adjust_timestamp_precision=adjust_timestamp_precision,
        sep="", java_json=True)
    return fingerprint_expr(payload, "sha256_b64")


def fingerprint_turns(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    *,
    algo: str = "xxhash64",
    json_cols: set[str] | frozenset[str] = frozenset(),
    keep_payload: bool = False,
    ts_col: str | None = None,
) -> DataFrame:
    """Project a row stream down to ``key_cols + [fingerprint (+ payload, ts)]``.

    This is the map-side reduction the reference performs in
    HashResult.fromSpannerStruct / fromJDBCResultSet (dto/HashResult.java:77-326):
    everything not needed for the match is dropped *before* the shuffle, so at
    100 TB the exchange carries only keys + 8-byte hashes.
    """
    payload = normalized_payload(df, payload_cols, json_cols=json_cols)
    out = [F.col(k) for k in key_cols] + [fingerprint_expr(payload, algo).alias("fingerprint")]
    if keep_payload:
        out.append(payload.alias("payload"))
    if ts_col is not None:
        out.append(F.col(ts_col))
    return df.select(*out)
