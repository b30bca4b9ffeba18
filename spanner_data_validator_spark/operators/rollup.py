"""Conversation-level rollup validation: digest whole conversations, then
classify at conversation granularity.

Row-level validation (``comparator.classify_pair``) joins every turn; at
10^12 turns that is 10^12 join rows even when almost everything matches.
The rollup path aggregates each side to ONE row per conversation — an
order-sensitive digest over the turns plus a turn count — and classifies
conversations instead. The join shrinks by the mean conversation length
(~10-100x), the shuffle carries (conv_id, 8-byte digest, count), and the
row-level validator then needs to run only on the conversations the rollup
flags (the same drill-down pattern as ``operators/digest.incremental_validate``,
but keyed on the natural conversation boundary instead of synthetic ranges).

Reference parity: the reference validates row-by-row only
(``ComparerDoFn`` — JDBCToSpannerDVTWithHash.java:210-244); conversation
rollup is an addition required by the transcript data model, where the unit
a user cares about ("did this conversation migrate intact, in order?") spans
many rows and turn ORDER matters. A commutative per-row tally cannot see a
turn swap; the ordered digest can.

Digest construction (engine-portable, used by the oracle-checked demo):
per-turn hash = md5-prefix of the normalized turn tuple; conversation digest
= ``portable_hash60`` of the turn hashes joined in ``order_col`` order. Both
halves are expressible verbatim in DuckDB (``string_agg(h, ',' ORDER BY
turn_idx)``), so the whole rollup is oracle-checkable end-to-end. Production
can swap the md5 family for xxhash64 via ``hash_fn``.

Scale notes: the groupBy is ONE hash aggregate; the exchange carries
(conv_id, turn_hash_hex, order) rows — ~30 B/turn regardless of text size,
because turns are hashed BEFORE the shuffle. The ordered fold itself needs
the whole conversation on one reducer, which is exactly the state a
conversation-keyed validator needs anyway; conversations are bounded (a
transcript has thousands of turns, not billions), so no salting is needed —
and a hot conversation 100x the mean is still < 1 MB of hashes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.comparator import classify_pair

#: ASCII unit separator — same joiner the fingerprint normalizer uses, so a
#: field boundary can never be forged by text content that contains ','.
_SEP = "\x1f"


def turn_hash(cols: list[Column]) -> Column:
    """Per-turn md5-prefix hex over the normalized tuple (null -> '')."""
    safe = [F.coalesce(c.cast("string"), F.lit("")) for c in cols]
    return F.substring(F.md5(F.concat_ws(_SEP, *safe)), 1, 15)


def conv_digest(
    df: DataFrame,
    key_col: str,
    order_col: str,
    hash_cols: list[str],
    *,
    digest_col: str = "digest",
    count_col: str = "n_turns",
) -> DataFrame:
    """One row per ``key_col``: ordered 60-bit digest + turn count.

    The digest is order-SENSITIVE: ``array_sort(collect_list(struct(order,
    hash)))`` reassembles the conversation in ``order_col`` order inside the
    aggregate (collect_list order is nondeterministic; the sort restores a
    canonical one), then the joined hash string is hashed once more. Any
    turn mutation, drop, insert, or swap changes the digest.
    """
    from spanner_data_validator_spark.functions.hashing import portable_hash60

    h = turn_hash([F.col(c) for c in hash_cols])
    pairs = F.collect_list(F.struct(F.col(order_col).alias("o"), h.alias("h")))
    joined = F.array_join(
        F.transform(F.array_sort(pairs), lambda s: s["h"]), ",")
    return df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias(count_col),
        portable_hash60(joined).alias(digest_col),
    )


def rollup_validate(
    source: DataFrame,
    target: DataFrame,
    key_col: str,
    order_col: str,
    hash_cols: list[str],
) -> DataFrame:
    """Digest both sides, classify conversations MATCH/MISMATCH/*_ONLY.

    Output: (key, status, src_n_turns, tgt_n_turns) — the turn counts let a
    caller distinguish "same length, different content" from drop/insert
    without re-reading the rows. Dedup is disabled in ``classify_pair``:
    the digest aggregate already guarantees one row per key.
    """
    s = conv_digest(source, key_col, order_col, hash_cols)
    t = conv_digest(target, key_col, order_col, hash_cols)
    cls = classify_pair(
        s.withColumnRenamed("digest", "fingerprint"),
        t.withColumnRenamed("digest", "fingerprint"),
        [key_col], carry_cols=["n_turns"], dedup=False)
    return cls.select(
        key_col, "status",
        F.col("src_n_turns"), F.col("tgt_n_turns"))


def prefix_signatures(
    df: DataFrame,
    key_col: str,
    order_col: str,
    hash_cols: list[str],
    *,
    sig_col: str = "prefix_sig",
) -> DataFrame:
    """Input turns + an order-sensitive PREFIX signature per turn: the
    concatenated per-turn hashes of every turn up to and including this
    one within the conversation.

    Two conversations share signature at depth d iff their first d+1
    turns are identical — the primitive for detecting regenerated /
    branched agent rollouts (same prefix, divergent suffix), a dup class
    MinHash misses when the shared prefix is a small fraction of both.

    Scale: the window is conversation-partitioned (bounded groups, same
    argument as :func:`conv_digest`); the signature is 16 bytes per turn
    of prefix, so a d-turn conversation carries O(d^2) signature bytes —
    fine for transcripts (thousands of turns), and the downstream
    ``branch_points`` groupBy is where production would swap the string
    for ``xxhash64(sig)`` with a verify pass (kept exact here so the
    oracle replays byte-for-byte).
    """
    from pyspark.sql import Window

    h = turn_hash([F.col(c) for c in hash_cols])
    w = (Window.partitionBy(key_col).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    return (df.withColumn("__th", h)
            .withColumn(sig_col,
                        F.concat_ws("|", F.collect_list("__th").over(w)))
            .drop("__th"))


def branch_points(
    df: DataFrame,
    key_col: str,
    order_col: str,
    hash_cols: list[str],
) -> DataFrame:
    """(key, n_turns, shared_prefix_turns): for every conversation, the
    deepest prefix it shares with at least one OTHER conversation
    (0 = unique from turn one). ``shared_prefix_turns == n_turns`` marks
    a full duplicate; anything between is a branch point.

    ``order_col`` must be the 0-based dense turn index of the transcript
    schema (``shared_prefix_turns = max shared index + 1`` relies on it).
    """
    sigs = prefix_signatures(df, key_col, order_col, hash_cols)
    per = sigs.select(key_col, order_col, "prefix_sig")
    shared = (per.groupBy(order_col, "prefix_sig")
              .agg(F.count(F.lit(1)).alias("__n"))
              .where(F.col("__n") > 1)
              .select(order_col, "prefix_sig"))
    deepest = (per.join(shared, [order_col, "prefix_sig"], "left_semi")
               .groupBy(key_col)
               .agg((F.max(order_col) + 1).cast("long")
                    .alias("shared_prefix_turns")))
    totals = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_turns"))
    return (totals.join(deepest, key_col, "left")
            .select(key_col, F.col("n_turns").cast("long").alias("n_turns"),
                    F.coalesce("shared_prefix_turns", F.lit(0)).cast("long")
                    .alias("shared_prefix_turns")))
