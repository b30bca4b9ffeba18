"""Golden-record survivorship over entity-resolution clusters.

After the linkage/dedup tier turns pairwise matches into clusters
(``operators/dedup.assign_components`` — the step downstream of MinHash /
SimHash / fuzzy linkage), a migration or curation pipeline must emit ONE
merged record per cluster. The reference stops at counting conflicts
(``ComparerResult``); a corpus curator additionally needs the classic
survivorship rules — pick the richest value per field, deterministically:

* ``longest``  — value from the cluster row maximizing a length/richness
  column (tie: smallest id) — e.g. keep the longest text variant.
* ``mode``     — most frequent value in the cluster (tie: smallest
  value) — e.g. the consensus language tag.
* ``min`` / ``max`` — plain extrema (e.g. earliest ingest date).

All rules are deterministic total orders, so the merge is reproducible
under any partitioning and a windowed ANSI-SQL oracle replays it
bit-for-bit — the property random "first row wins" survivorship lacks
(the dedup_text_stream arrival-order lesson in CLAUDE.md).

Scale (10^12 rows): one hash shuffle on ``cluster`` for the extrema/
longest rules (single ``groupBy`` with ``max_by`` over struct orders —
partial map-side, the shuffle carries one candidate struct per field per
map partition, not documents); ``mode`` adds a two-level aggregation
((cluster, value) counts partial-agg map-side, then per-cluster arg-max)
— hot clusters flatten because the first level splits a cluster's rows
across value groups and combiners collapse them before the exchange.
No self-joins, no windows over row-scale data.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

_RULES = ("longest", "mode", "min", "max")


def golden_records(df: DataFrame, cluster: str, id_col: str,
                   rules: Mapping[str, tuple], *,
                   count_distinct: Sequence[str] = ()) -> DataFrame:
    """One merged row per ``cluster``: ``(cluster, rep_id, <field per
    rule>, n_rows, n_<c> per count_distinct col)``.

    ``rules`` maps output column -> rule tuple:
      ``("longest", value_col, by_col)`` — value of the row with max
      ``by_col`` (ties: min ``id_col``); ``rep_id`` is taken from the
      FIRST longest rule's winning row (or min id when none given).
      ``("mode", value_col)`` — most frequent value, ties to the
      smallest value; NULLs don't vote.
      ``("min", value_col)`` / ``("max", value_col)`` — extrema.

    ``id_col`` must be numeric: the tie order negates it. A non-numeric
    ``id_col`` (e.g. a string id) raises ``ValueError``.
    """
    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, NumericType):
        raise ValueError(
            f"id_col {id_col!r} must be numeric, got {id_type.simpleString()}")
    aggs: list[Column] = []
    rep_done = False
    mode_cols: list[tuple[str, str]] = []
    for out, rule in rules.items():
        kind = rule[0]
        if kind not in _RULES:
            raise ValueError(f"unknown survivorship rule {rule!r}")
        if kind == "longest":
            _, value_col, by_col = rule
            # max over (by, -id) picks max-by then min-id: a total order,
            # so max_by is deterministic (its tie behavior alone is not).
            order = F.struct(F.col(by_col).alias("b"),
                             (-F.col(id_col)).alias("i"))
            aggs.append(F.max_by(F.col(value_col), order).alias(out))
            if not rep_done:
                aggs.append(F.max_by(F.col(id_col), order).alias("rep_id"))
                rep_done = True
        elif kind == "min":
            aggs.append(F.min(rule[1]).alias(out))
        elif kind == "max":
            aggs.append(F.max(rule[1]).alias(out))
        else:  # mode — needs its own two-level pass, joined back below
            mode_cols.append((out, rule[1]))
    if not rep_done:
        aggs.append(F.min(id_col).alias("rep_id"))
    aggs.append(F.count(F.lit(1)).alias("n_rows"))
    for c in count_distinct:
        aggs.append(F.countDistinct(c).alias(f"n_{c}"))

    merged = df.groupBy(F.col(cluster).alias(cluster)).agg(*aggs)

    for out, value_col in mode_cols:
        counts = (df.where(F.col(value_col).isNotNull())
                  .groupBy(cluster, value_col)
                  .agg(F.count(F.lit(1)).alias("__c")))
        # arg-max by (count, reversed value): most frequent, ties to the
        # smallest value. String reversal has no total-order expression,
        # so use min_by over (negated count) instead: min over
        # (-count, value) IS (max count, min value) lexicographically.
        pick = counts.groupBy(cluster).agg(
            F.min_by(F.col(value_col),
                     F.struct((-F.col("__c")).alias("c"),
                              F.col(value_col).alias("v"))).alias(out))
        merged = merged.join(pick, cluster, "left")

    front = [cluster, "rep_id"]
    rest = [c for c in merged.columns if c not in front]
    return merged.select(*front, *rest)
