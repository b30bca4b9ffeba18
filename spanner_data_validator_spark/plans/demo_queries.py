"""Oracle-paired demo queries over the driver's testdata parquet corpus.

Each registered query is an operator from SURVEY.md §2 (or a training-data-pipeline
extension) exercised end-to-end on `/root/testdata/sf*/` tables, with a DuckDB
ANSI-SQL oracle that computes the *same* result. The validator queries derive
a deterministic dual-stream (source, target) pair from the `events` table with
planted divergences — the same rule in both engines:

    key = event_id
    payload = concat_ws('|', event_type, props, user_id)   (nulls -> '')
    target  = source
              minus rows with key % 50 = 1                 (SOURCE_ONLY)
              with payload || '#mut' where key % 50 = 0    (MISMATCH)
              plus rows (key + 100000000) where key % 50 = 2  (TARGET_ONLY)

The Spark side compares xxhash64 fingerprints (the engine's hot path); the
oracle compares payload strings — identical classifications modulo 64-bit
collisions (none at these scales; production uses sha256, see
functions/fingerprint.py).

Registry contract: QUERIES[name](spark, sf_dir) -> DataFrame, ORACLES[name]
is DuckDB SQL over pre-registered views. Names/aliases match column-for-column.

This module holds the registry (``QUERIES``, ``ORACLES``, ``register``) and
the derivations several query modules share. The queries live by domain in
``validator_queries``, ``streaming_queries``, ``curation_queries`` and
``analytics_queries``; they are imported at the end of this module, so
importing it fills the registry.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spanner_data_validator_spark.functions.fingerprint import fingerprint_expr
from spanner_data_validator_spark.operators.comparator import classify_pair

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# the run root every query's work dirs stage under; made on first use
_work_root: str | None = None


def work_dir(prefix: str) -> str:
    """A fresh directory for one query's staged inputs, checkpoints and
    outputs, under the run root. :func:`remove_work_root` removes them all,
    at the latest when the process exits."""
    global _work_root
    if _work_root is None:
        _work_root = tempfile.mkdtemp(prefix="sdv_run_")
    return tempfile.mkdtemp(prefix=prefix, dir=_work_root)


@atexit.register
def remove_work_root() -> None:
    global _work_root
    if _work_root is not None:
        shutil.rmtree(_work_root, ignore_errors=True)
        _work_root = None


# ---------------------------------------------------------------------------
# dual-stream derivation from `events` (shared rule, see module docstring)
# ---------------------------------------------------------------------------

def events_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    payload = F.concat_ws(
        "|",
        F.coalesce(F.col("event_type"), F.lit("")),
        F.coalesce(F.col("props"), F.lit("")),
        F.coalesce(F.col("user_id").cast("string"), F.lit("")),
    )
    # parquet timestamps surface as TIMESTAMP_NTZ in Spark 4; session TZ is
    # pinned to UTC so the cast matches DuckDB's naive-UTC interpretation
    return ev.select(F.col("event_id").alias("key"), payload.alias("payload"),
                     F.col("ts").cast("timestamp").alias("ts"), F.col("user_id"))


def events_target(src: DataFrame) -> DataFrame:
    kept = src.where(F.col("key") % 50 != 1)
    mutated = kept.withColumn(
        "payload",
        F.when(F.col("key") % 50 == 0, F.concat(F.col("payload"), F.lit("#mut")))
         .otherwise(F.col("payload")))
    inserted = src.where(F.col("key") % 50 == 2).withColumn(
        "key", F.col("key") + F.lit(100_000_000))
    return mutated.unionByName(inserted)


def classified_events(spark: SparkSession, sf_dir: str, *, with_ts: bool = False,
                      shards: int = 0) -> DataFrame:
    """Fingerprint both sides, full-outer classify on `key` (the §7.0 slice)."""
    src = events_source(spark, sf_dir)
    if shards:  # J3 Flatten analogue: per-shard streams unioned before the match
        parts = [src.where(F.col("user_id") % shards == i) for i in range(shards)]
        from functools import reduce
        src = reduce(DataFrame.unionByName, parts)
    tgt = events_target(events_source(spark, sf_dir))

    def prep(df: DataFrame) -> DataFrame:
        cols = [F.col("key"), fingerprint_expr(F.col("payload")).alias("fingerprint")]
        if with_ts:
            cols.append(F.unix_millis(F.col("ts")).alias("ts_millis"))
        return df.select(*cols)

    carry = ["ts_millis"] if with_ts else []
    return classify_pair(prep(src), prep(tgt), ["key"], carry_cols=carry)


_CLS_CTE = """
WITH src AS (
  SELECT event_id AS key,
         concat_ws('|', coalesce(event_type,''), coalesce(props,''),
                   coalesce(CAST(user_id AS STRING),'')) AS payload,
         ts
  FROM events
),
tgt AS (
  SELECT key,
         CASE WHEN key % 50 = 0 THEN payload || '#mut' ELSE payload END AS payload,
         ts
  FROM src WHERE key % 50 <> 1
  UNION ALL
  SELECT key + 100000000 AS key, payload, ts FROM src WHERE key % 50 = 2
),
cls AS (
  SELECT coalesce(s.key, t.key) AS key,
         CASE WHEN s.payload IS NOT NULL AND t.payload IS NOT NULL
                   AND s.payload = t.payload THEN 'MATCH'
              WHEN s.payload IS NOT NULL AND t.payload IS NOT NULL THEN 'MISMATCH'
              WHEN t.payload IS NULL THEN 'SOURCE_ONLY'
              ELSE 'TARGET_ONLY' END AS status,
         coalesce(t.ts, s.ts) AS ts
  FROM src s FULL OUTER JOIN tgt t ON s.key = t.key
)
"""


# ---------------------------------------------------------------------------
# dual-stream transcript derivation from `events`: the conversation-shaped
# twin of the rule above, shared by validator, streaming and analytics
# queries
# ---------------------------------------------------------------------------

def transcripts_from_events(spark, sf_dir, *, user_mod: int | None = None):
    """Deterministic transcript table derived from `events` with
    SQL-expressible rules (both engines compute the identical derivation):
    conv_id = user_id, turn_idx = rank of (ts, event_id) within user.
    ``user_mod`` keeps every user_mod-th conversation (whole conversations,
    so per-user turn numbering is unchanged) — the reduced corpus for the
    deliberately-slow stateful semantics engine."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if user_mod is not None:
        ev = ev.where(F.col("user_id") % user_mod == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.coalesce(F.col("event_type"), F.lit("")).alias("role"),
        F.coalesce(F.col("props"), F.lit("")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"))


def _events_transcript_target(src):
    """Planted divergences keyed on (conv_id, turn_idx): h = (conv*31+turn)%50
    → 0: text mutated, 1: row deleted, 2: extra row at turn_idx+100000."""
    h = (F.col("conv_id").cast("long") * 31 + F.col("turn_idx")) % 50
    kept = src.where(h != 1)
    mutated = kept.withColumn(
        "text", F.when(h == 0, F.concat(F.col("text"), F.lit("#mut")))
                 .otherwise(F.col("text")))
    inserted = src.where(h == 2).withColumn(
        "turn_idx", (F.col("turn_idx") + 100_000).cast("int"))
    return mutated.unionByName(inserted)


def _ev_transcript_cte(user_mod: int | None = None) -> str:
    where = f"WHERE user_id % {user_mod} = 0" if user_mod else ""
    return f"""
WITH src AS (
  SELECT CAST(user_id AS STRING) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
         coalesce(event_type, '') AS role,
         coalesce(props, '') AS text
  FROM events {where}
),
tgt AS (
  SELECT conv_id, turn_idx, role,
         CASE WHEN (CAST(conv_id AS BIGINT) * 31 + turn_idx) % 50 = 0
              THEN text || '#mut' ELSE text END AS text
  FROM src WHERE (CAST(conv_id AS BIGINT) * 31 + turn_idx) % 50 <> 1
  UNION ALL
  SELECT conv_id, CAST(turn_idx + 100000 AS INT) AS turn_idx, role, text
  FROM src WHERE (CAST(conv_id AS BIGINT) * 31 + turn_idx) % 50 = 2
),
cls AS (
  SELECT CASE WHEN s.text IS NOT NULL AND t.text IS NOT NULL THEN
                CASE WHEN s.role = t.role AND s.text = t.text
                     THEN 'MATCH' ELSE 'MISMATCH' END
              WHEN t.text IS NULL THEN 'SOURCE_ONLY' ELSE 'TARGET_ONLY' END AS status
  FROM src s FULL OUTER JOIN tgt t
    ON s.conv_id = t.conv_id AND s.turn_idx = t.turn_idx
)
SELECT status, CAST(count(*) AS BIGINT) AS n FROM cls GROUP BY status
"""


# ---------------------------------------------------------------------------
# Benford first-digit expectation, shared by the batch and streaming
# Benford oracles
# ---------------------------------------------------------------------------

def _benford_case() -> str:
    from spanner_data_validator_spark.operators.stats import benford_expected

    arms = " ".join(
        f"WHEN '{d}' THEN {p:.17e}" for d, p in benford_expected().items())
    return f"CASE digit {arms} END"


# the domain modules register their queries on import
from spanner_data_validator_spark.plans import (  # noqa: E402,F401
    analytics_queries,
    curation_queries,
    streaming_queries,
    validator_queries,
)
