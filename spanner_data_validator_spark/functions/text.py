"""Text-analysis primitives for large-scale training-data pipelines.

All hot-path functions are pure Catalyst column expressions (JVM-side,
whole-stage codegen); the only pandas UDF is the rolling-hash document
fingerprint (bit arithmetic over characters doesn't expression-compose).

These extend the reference's capability surface (the reference has no text
analytics — SURVEY.md §2.10); they reuse its core idea: reduce rows to
deterministic fingerprints, then set-reason over them.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count (single-space-delimited corpus)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(F.size(F.split(c, " "))).cast("long")


def token_count_regex(text: Column | str, pattern: str = "[a-z]+|[0-9]+") -> Column:
    """BPE-ish token count: number of regex token matches (runs of letters /
    digits / single other symbols, depending on pattern)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0)).cast("long")


def substr_hits(text: Column | str, needle: str) -> Column:
    """Occurrences of a substring via the replace-length identity —
    (len(s) - len(replace(s, w, ''))) / len(w). Portable across engines."""
    c = F.col(text) if isinstance(text, str) else text
    return ((F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit(""))))
            / F.lit(len(needle))).cast("long")


def quality_score(text: Column | str, n_chars: Column | str | None = None) -> Column:
    """Simple length/density quality heuristic: tokens per char (word density),
    penalized for very short docs."""
    c = F.col(text) if isinstance(text, str) else text
    nc = F.length(c) if n_chars is None else (F.col(n_chars) if isinstance(n_chars, str) else n_chars)
    return token_count_ws(c).cast("double") / F.greatest(nc, F.lit(1))


def lang_id_heuristic(text: Column | str, markers: dict[str, list[str]] | None = None,
                      min_hits: int = 2) -> Column:
    """Marker-word language ID: the language with >= min_hits marker hits wins
    (first in dict order); else 'und'. A real deployment plugs in n-gram
    profiles — the *operator shape* (pure-expression classify column) is what
    scales."""
    c = F.col(text) if isinstance(text, str) else text
    markers = markers or {"en": ["data", "table", "spark"]}
    expr = F.lit("und")
    for lang, words in reversed(list(markers.items())):
        hits = sum(F.when(c.contains(w), 1).otherwise(0) for w in words)
        expr = F.when(hits >= min_hits, lang).otherwise(expr)
    return expr


def normalize_text_expr(text: Column | str) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text (the char-ngram prep)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def char_ngrams_of(attr: Column | str, n: int = 3) -> Column:
    """Char n-grams of an ALREADY-NORMALIZED column as array<string> (empty
    below n chars).

    ``attr`` must be a bound column attribute, not a computed expression: the
    transform lambda references it once per index, and Catalyst inlines a
    computed expression into every element (CollapseProject — the O(len²)
    re-evaluation trap, see CLAUDE.md), turning e.g. the regexp normalization
    into per-gram work. Materialize expressions through an explode barrier
    first (``_exploded_grams``). The ``when`` guard keeps ``sequence`` from
    going descending on short docs.
    """
    c = F.col(attr) if isinstance(attr, str) else attr
    ln = F.length(c)
    idx = F.sequence(F.lit(1), ln - F.lit(n - 1))
    grams = F.transform(idx, lambda i: c.substr(i, F.lit(n)))
    return F.when(ln >= n, grams).otherwise(F.array().cast("array<string>"))


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """Char n-grams of raw text: normalization + gram expansion as ONE column
    expression. Convenience for small inputs/tests — on hot paths use
    ``_exploded_grams`` (normalizes through a Generate barrier so the regexp
    runs once per ROW, not once per gram)."""
    return char_ngrams_of(normalize_text_expr(text), n)


def _exploded_grams(df, out_cols: list[str], text_col: str, n: int):
    """(out_cols..., gram) rows with the normalization evaluated once per row.

    Two Generate steps: explode(array(normalized)) is an evaluation barrier
    (projection collapse can't inline through it), then the gram explode reads
    the materialized attribute — per-gram work is just a 3-char substr."""
    normed = df.select(*out_cols,
                       F.explode(F.array(normalize_text_expr(text_col))).alias("__t"))
    return normed.select(*out_cols,
                         F.explode(char_ngrams_of("__t", n)).alias("gram"))


def train_lang_profiles(df, lang_col: str = "lang", text_col: str = "text",
                        *, n: int = 3, top_k: int = 64):
    """Cavnar–Trenkle n-gram language profiles: the ``top_k`` most frequent
    char n-grams per language with INTEGER rank weights (top gram →
    ``top_k``, rank r → ``top_k + 1 - r``).

    Integer weights keep scoring exact across engines (no float-sum
    association drift), which makes the whole pipeline oracle-checkable.
    Deterministic under count ties (rank orders by count desc, gram asc).
    Output: (lang, gram, weight) — ≤ langs·top_k rows, broadcastable at any
    corpus size; training itself is one explode + one hash agg + a window
    over the per-language counts.
    """
    from pyspark.sql import Window

    g = _exploded_grams(df.select(F.col(lang_col).alias("lang"), text_col),
                        ["lang"], text_col, n)
    cnt = g.groupBy("lang", "gram").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "gram")
    return (cnt.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= top_k)
               .select("lang", "gram",
                       (F.lit(top_k + 1) - F.col("rank")).cast("long").alias("weight")))


def lang_id_ngram(docs, profiles, *, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3):
    """Language ID by profile scoring: score(doc, lang) = Σ over the doc's
    char n-gram OCCURRENCES of the profile weight; argmax per doc (ties to
    the lexicographically first language); no profile hit at all → 'und'.

    100 TB shape: the profile is tiny and broadcast, so the gram join is
    map-side; the only wide shuffles are the (doc, lang) score agg and the
    per-doc argmax window over ≤ |langs| rows per doc. Scores are exact
    BIGINTs — byte-identical across engines.
    Output: (``id_col``, pred_lang, score).
    """
    from pyspark.sql import Window

    g = _exploded_grams(docs.select(id_col, text_col), [id_col], text_col, n)
    scored = (g.join(F.broadcast(profiles), "gram")
               .groupBy(id_col, "lang").agg(F.sum("weight").alias("score")))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), "lang")
    best = (scored.withColumn("__rn", F.row_number().over(w))
                  .where(F.col("__rn") == 1)
                  .select(id_col, F.col("lang").alias("pred_lang"), "score"))
    return (docs.select(id_col).join(best, id_col, "left")
                .select(id_col,
                        F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
                        F.coalesce("score", F.lit(0)).cast("long").alias("score")))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (empty for docs with < n words).
    Pure expressions: split → sequence → transform(slice + array_join)."""
    c = F.col(text) if isinstance(text, str) else text
    words = F.split(c, " ")
    k = F.size(words)
    idx = F.sequence(F.lit(1), k - F.lit(n - 1))  # 1-based start positions
    grams = F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))
    return F.when(k >= n, grams).otherwise(F.array().cast("array<string>"))


# PII patterns restricted to the Java-regex ∩ RE2 common subset (no
# lookaround/backrefs) so the identical pattern runs in Spark and any
# RE2-based oracle engine (DuckDB). Order matters: emails first (their local
# part may contain digits), then dotted quads, then phone-like digit runs.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d{1,3}[ .-]?\(?\d{2,4}\)?[ .-]?\d{3,4}[ .-]?\d{3,4}", "<PHONE>"),
]


def redact_pii(text: Column | str) -> Column:
    """Replace emails / IPv4 addresses / phone-like digit runs with typed
    placeholders — a chain of global regexp_replace expressions (JVM-side,
    codegen; zero Python). The blunt-by-design patterns favor recall:
    redacting a long non-phone digit run is the safe failure mode for
    training-data scrubbing."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


@F.pandas_udf(T.LongType())
def rolling_fingerprint_udf(s: pd.Series) -> pd.Series:
    """Polynomial rolling hash over UTF-8 bytes (base 256, mod 2^61-1) — a
    deterministic 61-bit document fingerprint. The base-256 polynomial IS the
    big-endian byte integer, so each doc hashes in one C-speed bigint op per
    Arrow batch element (no per-byte Python)."""
    MOD = (1 << 61) - 1

    def fp(txt: str):
        return int.from_bytes(txt.encode("utf-8"), "big") % MOD

    return s.map(fp, na_action="ignore")
