"""Validator and revalidation queries of the oracle-paired registry.

The dual-stream match/classify/tally slices, range assignment, the
validation tiers (aggregate tolerance, conversation rollups, range digests),
integrity and constraint checks, key linkage, repair plans and ingest
quarantine. Registered into ``demo_queries.QUERIES`` / ``ORACLES`` on import.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spanner_data_validator_spark.functions.fingerprint import fingerprint_expr
from spanner_data_validator_spark.functions.hashing import portable_hash60_sql
from spanner_data_validator_spark.operators import constraints as C
from spanner_data_validator_spark.operators.comparator import (
    MATCH,
    MISMATCH,
    SOURCE_ONLY,
    TARGET_ONLY,
    apply_timestamp_threshold,
    classify_pair,
    tally_report,
)
from spanner_data_validator_spark.operators.integrity import (
    duplicate_examples,
    orphan_check,
    uniqueness_check,
)
from spanner_data_validator_spark.operators.linkage import (
    deletion_variants_sql as _del_variants_sql,
)
from spanner_data_validator_spark.operators.ranges import long_ranges_df
from spanner_data_validator_spark.plans.demo_queries import (
    _CLS_CTE,
    _ev_transcript_cte,
    classified_events,
    events_source,
    events_target,
    register,
    transcripts_from_events,
    work_dir,
)


# ---------------------------------------------------------------------------
# validator queries (SURVEY.md §2.3-2.6: J1 match join, C1 classify, A1/A2 tally)
# ---------------------------------------------------------------------------

@register("validate_classify", _CLS_CTE + "SELECT key, status FROM cls")
def q_validate_classify(spark, sf_dir):
    """J1+C1: full-outer fingerprint match → per-key status rows."""
    return classified_events(spark, sf_dir).select("key", "status")


@register("validate_totals", _CLS_CTE + """
SELECT status, CAST(count(*) AS BIGINT) AS n FROM cls GROUP BY status
""")
def q_validate_totals(spark, sf_dir):
    """C1 classification totals — the headline MATCH/MISMATCH/*_ONLY counts."""
    return (classified_events(spark, sf_dir)
            .groupBy("status").agg(F.count("*").alias("n")))


@register("validate_report", _CLS_CTE + """
SELECT CAST(key % 16 AS STRING) AS range,
       CAST(count(*) FILTER (WHERE status = 'MATCH') AS BIGINT) AS match_count,
       CAST(count(*) FILTER (WHERE status IN ('MATCH','MISMATCH','SOURCE_ONLY')) AS BIGINT) AS source_count,
       CAST(count(*) FILTER (WHERE status IN ('MATCH','MISMATCH','TARGET_ONLY')) AS BIGINT) AS target_count,
       CAST(count(*) FILTER (WHERE status IN ('MISMATCH','SOURCE_ONLY')) AS BIGINT) AS source_conflict_count,
       CAST(count(*) FILTER (WHERE status IN ('MISMATCH','TARGET_ONLY')) AS BIGINT) AS target_conflict_count
FROM cls GROUP BY 1
""")
def q_validate_report(spark, sf_dir):
    """A1+A2: per-range ComparerResult with the reference count identity
    (match/source/target/source_conflict/target_conflict)."""
    cls = classified_events(spark, sf_dir)
    return tally_report(cls, F.pmod(F.col("key"), F.lit(16)))


@register("validate_sharded", _CLS_CTE + """
SELECT status, CAST(count(*) AS BIGINT) AS n FROM cls GROUP BY status
""")
def q_validate_sharded(spark, sf_dir):
    """J3: per-shard source streams (user_id % 3) flattened by unionByName —
    totals must be identical to the unsharded run."""
    return (classified_events(spark, sf_dir, shards=3)
            .groupBy("status").agg(F.count("*").alias("n")))


@register("validate_sharded_config", _CLS_CTE + """
SELECT 'shard-' || CAST(k.user_id % 3 AS STRING) AS migration_shard_id,
       c.status, CAST(count(*) AS BIGINT) AS n
FROM cls c JOIN (SELECT event_id AS key, user_id FROM events) k USING (key)
WHERE c.key < 100000000
GROUP BY 1, 2
""")
def q_validate_sharded_config(spark, sf_dir):
    """S9 sharded-config surface end-to-end: a shardConfigurationBulk JSON is
    parsed by the REAL reader (sources/shard_config.read_sharding_config),
    each parsed ShardSpec drives one source partition (user_id % n_shards ==
    shard_index — the sandbox stand-in for per-shard JDBC URLs), and the
    union carries migration_shard_id through the validation, tallied per
    shard (CustomTransformationDoFn.java:97-98 forwards the same column).
    Inserted target-only keys (key >= 1e8) have no source shard and are
    excluded from the per-shard tally on both sides."""
    import json as _json
    import tempfile

    from spanner_data_validator_spark.sources.shard_config import (
        read_sharding_config,
        read_sharded_union,
    )

    n_shards = 3
    cfg = {"shardConfigurationBulk": {"dataShards": [{
        "host": "h1.sandbox", "user": "u", "password": "pw", "port": 0,
        "databases": [{"dbName": f"db{i}", "databaseId": f"shard-{i}"}
                      for i in range(n_shards)],
    }]}}
    with tempfile.NamedTemporaryFile("w", suffix=".json") as f:
        _json.dump(cfg, f)
        f.flush()
        shards = read_sharding_config(f.name)

    def read_one(spark_, shard):
        return (events_source(spark_, sf_dir)
                .where(F.col("user_id") % n_shards == shard.shard_index))

    src = read_sharded_union(spark, shards, read_one)
    tgt = (events_target(events_source(spark, sf_dir))
           .withColumn("migration_shard_id", F.lit(None).cast("string")))

    def prep(df):
        return df.select("key", fingerprint_expr(F.col("payload")).alias("fingerprint"),
                         "migration_shard_id")

    cls = classify_pair(prep(src), prep(tgt), ["key"],
                        carry_cols=["migration_shard_id"])
    return (cls.where(F.col("key") < 100_000_000)
               .groupBy(F.col("src_migration_shard_id").alias("migration_shard_id"),
                        "status")
               .agg(F.count("*").alias("n")))


@register("timestamp_threshold", _CLS_CTE + """
SELECT status, CAST(count(*) AS BIGINT) AS n FROM cls
WHERE epoch_ms(ts) >= epoch_ms(TIMESTAMP '2024-01-04 00:00:00')
  AND epoch_ms(ts) <= epoch_ms(TIMESTAMP '2024-01-05 00:00:00')
GROUP BY status
""")
def q_timestamp_threshold(spark, sf_dir):
    """P2: post-join timestamp-threshold window (CountMatchesDoFn.java:47-65),
    threshold 2024-01-05, delta -1440 min → [2024-01-04, 2024-01-05]."""
    cls = classified_events(spark, sf_dir, with_ts=True)
    th = 1_704_412_800_000  # 2024-01-05T00:00:00Z epoch millis
    filtered = apply_timestamp_threshold(cls, threshold_millis=th, delta_mins=-1440)
    return filtered.groupBy("status").agg(F.count("*").alias("n"))


@register("coverage_sample", _CLS_CTE + """
SELECT status, CAST(count(*) AS BIGINT) AS n FROM cls
WHERE key % 10 = 0 GROUP BY status
""")
def q_coverage_sample(spark, sf_dir):
    """P4: deterministic 10%-coverage key sampling (same subset on both sides)."""
    return (classified_events(spark, sf_dir)
            .where(F.col("key") % 10 == 0)
            .groupBy("status").agg(F.count("*").alias("n")))


@register("partition_filter", _CLS_CTE + """
SELECT CAST(key % 16 AS STRING) AS range, CAST(count(*) AS BIGINT) AS n
FROM cls WHERE key % 16 % 4 = 0 GROUP BY 1
""")
def q_partition_filter(spark, sf_dir):
    """P5: keep every 4th reporting partition (partitionFilterRatio analogue)."""
    cls = classified_events(spark, sf_dir).withColumn(
        "range", F.pmod(F.col("key"), F.lit(16)).cast("string"))
    return (cls.where(F.pmod(F.col("key"), F.lit(16)) % 4 == 0)
            .groupBy("range").agg(F.count("*").alias("n")))


def _uuid_assign_oracle() -> str:
    """Oracle for K1-generic: the R4 range starts are deterministic, so they
    inline as VALUES; floor assignment = max partition_id with start <= key."""
    from spanner_data_validator_spark.operators.ranges import uuid_ranges

    ranges = uuid_ranges("00000000-0000-0000-0000-000000000000",
                         "ffffffff-ffff-ffff-ffff-ffffffffffff", 16)
    starts = sorted(r.start.lower() for r in ranges)
    values = ", ".join(f"({i}, '{s}')" for i, s in enumerate(starts))
    return f"""
WITH starts(pid, s) AS (VALUES {values}),
k AS (
  SELECT md5(CAST(event_id AS VARCHAR)) AS h FROM events
),
u AS (
  SELECT substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-'
         || substr(h,17,4) || '-' || substr(h,21,12) AS key
  FROM k
)
SELECT CAST((SELECT max(pid) FROM starts WHERE s <= u.key) AS INT) AS partition_id,
       CAST(count(*) AS BIGINT) AS n
FROM u GROUP BY 1
"""


@register("uuid_range_assign", _uuid_assign_oracle())
def q_uuid_range_assign(spark, sf_dir):
    """K1 generic broadcast sorted-range assignment (MapWithRangeFn floor
    lookup, dofns/MapWithRangeFn.java:151-166) over the full 128-bit UUID key
    space: deterministic md5-derived UUID keys bucketed into 16 R4 ranges."""
    from spanner_data_validator_spark.operators.ranges import (
        uuid_ranges,
        with_range_partition,
    )

    ranges = uuid_ranges("00000000-0000-0000-0000-000000000000",
                         "ffffffff-ffff-ffff-ffff-ffffffffffff", 16)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    h = F.md5(F.col("event_id").cast("string"))
    key = F.concat_ws(
        "-", F.substring(h, 1, 8), F.substring(h, 9, 4), F.substring(h, 13, 4),
        F.substring(h, 17, 4), F.substring(h, 21, 12))
    return (with_range_partition(ev.select(F.col("event_id")), key, ranges, "UUID")
            .groupBy("partition_id").agg(F.count("*").alias("n")))


@register("long_range_assign_join", """
WITH r AS (SELECT event_id % 10000 AS k FROM events)
SELECT CAST(CASE WHEN k >= 9671 THEN 31
            ELSE CAST(floor(k / 312) AS INT) END AS INT) AS partition_id,
       CAST(count(*) AS BIGINT) AS n
FROM r GROUP BY 1
""")
def q_long_range_assign_join(spark, sf_dir):
    """K1 large-list path: broadcast range JOIN assignment
    (ranges.assign_range_via_join) of every key into 32 uniform LONG ranges —
    one BroadcastNestedLoopJoin, no shuffle of the fact side. The oracle is
    the closed-form uniform floor (step 312) with the reference's last-range
    overlap quirk (bucket 31 starts at the previous range's END, 9671)."""
    from spanner_data_validator_spark.operators.ranges import (
        assign_range_via_join,
        long_ranges,
    )

    ranges = long_ranges(0, 10_000, 32)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("event_id") % 10_000).alias("k"))
    return (assign_range_via_join(ev, ranges, "LONG", "k")
            .groupBy("partition_id").agg(F.count("*").alias("n")))


@register("range_key_modes", """
WITH r AS (
  SELECT event_id, event_id % 10000 AS k FROM events WHERE event_id % 97 = 0
),
p AS (
  SELECT event_id,
         CASE WHEN k >= 9671 THEN 31 ELSE CAST(floor(k / 312) AS INT) END AS pid
  FROM r
)
SELECT CAST(CASE WHEN pid = 31 THEN 9671 ELSE pid * 312 END AS STRING)
       || '|' ||
       CAST(CASE WHEN pid = 31 THEN 10000 ELSE pid * 312 + 311 END AS STRING)
       || '|' || CAST(event_id AS STRING) AS range_key
FROM p
""")
def q_range_key_modes(spark, sf_dir):
    """K1 composite grouping keys (MapWithRangeFn.java:99-116): the
    RANGE_PLUS_HASH-style 'start|end|<key>' rendering over uniform LONG
    ranges, oracle-checked against the closed-form range bounds including
    the last-range overlap quirk."""
    from spanner_data_validator_spark.operators.ranges import (
        long_ranges,
        map_with_range_key,
    )

    ranges = long_ranges(0, 10_000, 32)
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .where(F.col("event_id") % 97 == 0)
          .select((F.col("event_id") % 10_000).alias("k"),
                  F.col("event_id").cast("string").alias("h")))
    out = map_with_range_key(ev, ranges, "LONG", "k",
                             mapping_type="RANGE_PLUS_HASH", hash_col="h")
    return out.select("range_key")


@register("long_ranges", """
SELECT CAST(i AS INT) AS partition_id,
       CASE WHEN i = 63 THEN 0 + i * 1562 - 1 ELSE 0 + i * 1562 END AS start_long,
       CASE WHEN i = 63 THEN 100000 ELSE 0 + i * 1562 + 1561 END AS end_long
FROM (SELECT range AS i FROM range(64))
""")
def q_long_ranges(spark, sf_dir):
    """R2: distributed LONG partition-range generation over [0, 100000] × 64,
    preserving the reference's last-range overlap quirk."""
    return long_ranges_df(spark, 0, 100_000, 64)


_ORDERS_SQL = """
WITH src AS (
  SELECT o.o_orderkey AS key,
         concat_ws('|', coalesce(o.o_orderstatus,''),
                   coalesce(CAST(o.o_totalprice AS STRING),''),
                   coalesce(c.c_mktsegment,'')) AS payload
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
tgt AS (
  SELECT key,
         CASE WHEN key % 50 = 0 THEN payload || '#mut' ELSE payload END AS payload
  FROM src WHERE key % 50 <> 1
  UNION ALL
  SELECT key + 100000000 AS key, payload FROM src WHERE key % 50 = 2
),
cls AS (
  SELECT CASE WHEN s.payload IS NOT NULL AND t.payload IS NOT NULL THEN
                CASE WHEN s.payload = t.payload THEN 'MATCH' ELSE 'MISMATCH' END
              WHEN t.payload IS NULL THEN 'SOURCE_ONLY' ELSE 'TARGET_ONLY' END AS status
  FROM src s FULL OUTER JOIN tgt t ON s.key = t.key
)
SELECT status, CAST(count(*) AS BIGINT) AS n FROM cls GROUP BY status
"""


@register("validate_orders_enriched", _ORDERS_SQL)
def q_validate_orders_enriched(spark, sf_dir):
    """Dimension-enriched validation: the payload joins in a broadcast lookup
    (customer market segment) BEFORE fingerprinting — the custom-transform-
    with-lookup pattern at fact-vs-dim scale. The dim side is explicitly
    broadcast, so the fact table is never shuffled for the enrichment; the
    only exchange remains the validation join itself."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment")
    enriched = orders.join(F.broadcast(cust),
                           orders.o_custkey == cust.c_custkey, "left")
    payload = F.concat_ws(
        "|",
        F.coalesce(F.col("o_orderstatus"), F.lit("")),
        F.coalesce(F.col("o_totalprice").cast("string"), F.lit("")),
        F.coalesce(F.col("c_mktsegment"), F.lit("")))
    src = enriched.select(F.col("o_orderkey").alias("key"), payload.alias("payload"))
    tgt = events_target(src)

    def prep(df):
        return df.select("key", fingerprint_expr(F.col("payload")).alias("fingerprint"))

    return (classify_pair(prep(src), prep(tgt), ["key"])
            .groupBy("status").agg(F.count("*").alias("n")))


_SUMMARY_SQL = """
WITH src AS (
  SELECT o_orderkey AS key, o_orderpriority AS grp, o_totalprice AS val FROM orders
),
tgt AS (
  SELECT key, grp,
         CASE WHEN key % 50 = 0 THEN val + 1 ELSE val END AS val
  FROM src WHERE key % 50 <> 1
  UNION ALL
  SELECT key + 100000000 AS key, grp, val FROM src WHERE key % 50 = 2
),
a AS (SELECT grp, CAST(count(*) AS BIGINT) AS src_n,
             round(sum(val), 2) AS src_sum FROM src GROUP BY grp),
b AS (SELECT grp, CAST(count(*) AS BIGINT) AS tgt_n,
             round(sum(val), 2) AS tgt_sum FROM tgt GROUP BY grp)
SELECT coalesce(a.grp, b.grp) AS grp, a.src_n, b.tgt_n,
       CASE WHEN a.src_n = b.tgt_n AND a.src_sum = b.tgt_sum
            THEN 'MATCH' ELSE 'MISMATCH' END AS status
FROM a FULL OUTER JOIN b ON a.grp = b.grp
"""


@register("summary_validation", _SUMMARY_SQL)
def q_summary_validation(spark, sf_dir):
    """Aggregate (summary) reconciliation — the count/sum mode of standard
    data-validation tooling, complementing the reference's row-level mode:
    per-group counts and sums computed on each side independently (pure
    map-side-combine hash aggregates, no row-level join at all), then one
    tiny group-level comparison. At 100 TB this validates with ZERO
    row-granular shuffle — the exchange carries one row per group."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = orders.select(F.col("o_orderkey").alias("key"),
                        F.col("o_orderpriority").alias("grp"),
                        F.col("o_totalprice").alias("val"))
    mutated = (src.where(F.col("key") % 50 != 1)
                  .withColumn("val", F.when(F.col("key") % 50 == 0,
                                            F.col("val") + 1).otherwise(F.col("val"))))
    inserted = src.where(F.col("key") % 50 == 2).withColumn(
        "key", F.col("key") + F.lit(100_000_000))
    tgt = mutated.unionByName(inserted)

    def summarize(df, n, s):
        return df.groupBy("grp").agg(F.count("*").alias(n),
                                     F.round(F.sum("val"), 2).alias(s))

    a = summarize(src, "src_n", "src_sum")
    b = summarize(tgt, "tgt_n", "tgt_sum")
    status = F.when((F.col("src_n") == F.col("tgt_n"))
                    & (F.col("src_sum") == F.col("tgt_sum")), "MATCH") \
              .otherwise("MISMATCH")
    return (a.join(b, "grp", "full_outer")
             .select("grp", "src_n", "tgt_n", status.alias("status")))


_LINEITEM_KEYS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
_LINEITEM_PAYLOAD = ["l_quantity", "l_extendedprice", "l_returnflag",
                     "l_linestatus", "l_shipdate"]
_LI_H = "(l_orderkey*31 + l_partkey*7 + l_suppkey*3 + l_linenumber) % 50"

_LINEITEM_SQL = f"""
WITH src AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
         l_extendedprice, l_returnflag, l_linestatus, l_shipdate
  FROM lineitem
),
tgt AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
         CASE WHEN {_LI_H} = 0 THEN l_quantity + 1 ELSE l_quantity END AS l_quantity,
         l_extendedprice, l_returnflag, l_linestatus, l_shipdate
  FROM src WHERE {_LI_H} <> 1
  UNION ALL
  SELECT l_orderkey, l_partkey, l_suppkey,
         CAST(l_linenumber + 1000000 AS INT) AS l_linenumber,
         l_quantity, l_extendedprice, l_returnflag, l_linestatus, l_shipdate
  FROM src WHERE {_LI_H} = 2
),
cls AS (
  SELECT CASE WHEN s.l_orderkey IS NOT NULL AND t.l_orderkey IS NOT NULL THEN
                CASE WHEN s.l_quantity = t.l_quantity
                      AND s.l_extendedprice = t.l_extendedprice
                      AND s.l_returnflag = t.l_returnflag
                      AND s.l_linestatus = t.l_linestatus
                      AND s.l_shipdate = t.l_shipdate
                     THEN 'MATCH' ELSE 'MISMATCH' END
              WHEN t.l_orderkey IS NULL THEN 'SOURCE_ONLY' ELSE 'TARGET_ONLY' END AS status
  FROM src s FULL OUTER JOIN tgt t
    ON s.l_orderkey = t.l_orderkey AND s.l_partkey = t.l_partkey
   AND s.l_suppkey = t.l_suppkey AND s.l_linenumber = t.l_linenumber
)
SELECT status, CAST(count(*) AS BIGINT) AS n FROM cls GROUP BY status
"""


@register("validate_lineitem", _LINEITEM_SQL)
def q_validate_lineitem(spark, sf_dir):
    """Composite-key validation over a relational fact table: 4-column key
    (order, part, supplier, line number), payload spanning doubles, strings,
    and timestamps, through the standard fingerprint → full-outer classify
    plan — the reference's multi-column PK case (SURVEY §2.2) on TPC-H-shaped
    data instead of transcripts. The oracle compares raw columns; Spark
    compares normalized fingerprints — identical classifications because both
    serializations are injective on these domains."""
    from spanner_data_validator_spark.functions.fingerprint import fingerprint_turns
    from spanner_data_validator_spark.operators.comparator import classify_pair

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        *_LINEITEM_KEYS, *_LINEITEM_PAYLOAD)
    h = (F.col("l_orderkey") * 31 + F.col("l_partkey") * 7
         + F.col("l_suppkey") * 3 + F.col("l_linenumber")) % 50
    mutated = (li.where(h != 1)
                 .withColumn("l_quantity",
                             F.when(h == 0, F.col("l_quantity") + 1)
                              .otherwise(F.col("l_quantity"))))
    inserted = li.where(h == 2).withColumn(
        "l_linenumber", (F.col("l_linenumber") + 1_000_000).cast("int"))
    tgt = mutated.unionByName(inserted)

    s = fingerprint_turns(li, _LINEITEM_KEYS, _LINEITEM_PAYLOAD)
    t = fingerprint_turns(tgt, _LINEITEM_KEYS, _LINEITEM_PAYLOAD)
    cls = classify_pair(s, t, _LINEITEM_KEYS)
    return cls.groupBy("status").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# custom transformation (P6) + as-of (point-in-time) validation
# ---------------------------------------------------------------------------

@register("custom_transform", """
SELECT event_id AS key, upper(coalesce(event_type, '')) AS role_u
FROM events WHERE event_id % 7 <> 0
""")
def q_custom_transform(spark, sf_dir):
    """P6: user mapInPandas transformation (uppercase + row filter) applied
    before validation (dofns/CustomTransformationDoFn.java:90-133)."""
    from spanner_data_validator_spark.operators.transform import (
        apply_custom_transformation,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").alias("key"),
        F.coalesce(F.col("event_type"), F.lit("")).alias("role_u"))

    def user_fn(pdf):
        out = pdf[pdf["key"] % 7 != 0].copy()
        out["role_u"] = out["role_u"].str.upper()
        return out

    return apply_custom_transformation(ev, user_fn)


# Point-in-time validation: each "replica read" (a version re-read 17 min
# later) is classified against the source version AS OF the read timestamp.
# The oracle uses DuckDB's native ASOF JOIN — an independent implementation
# of the same temporal-join semantics, not a transliteration of our plan.
_ASOF_SQL = """
WITH versions AS (
  SELECT user_id, ts, value, event_id FROM (
    SELECT user_id, ts, value, event_id,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events) WHERE rn = 1
),
reads AS (
  SELECT user_id, event_id, ts + INTERVAL 17 MINUTE AS read_ts,
         value AS observed_value
  FROM versions WHERE event_id % 5 = 0
)
SELECT r.user_id, r.event_id, epoch_ms(r.read_ts) AS read_ts_ms,
       r.observed_value, v.value AS asof_value,
       CASE WHEN v.value IS NULL THEN 'NO_SOURCE'
            WHEN v.value = r.observed_value THEN 'MATCH'
            ELSE 'MISMATCH' END AS status
FROM reads r ASOF LEFT JOIN versions v
  ON r.user_id = v.user_id AND r.read_ts >= v.ts
"""


@register("asof_point_in_time", _ASOF_SQL)
def q_asof_point_in_time(spark, sf_dir):
    """As-of (point-in-time) validation (operators/asof.asof_validate): every
    5th event version is re-read 17 minutes later and classified against the
    version the source held AT the read time — MISMATCH iff another version
    landed in between. One keyed shuffle + carry-forward window; the oracle
    is DuckDB's native ASOF JOIN."""
    from pyspark.sql import Window

    from spanner_data_validator_spark.operators.asof import asof_validate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    versions = (ev.withColumn("__rn", F.row_number().over(w))
                  .where(F.col("__rn") == 1)
                  .select("user_id", "ts", "value", "event_id"))
    reads = versions.where(F.col("event_id") % 5 == 0).select(
        "user_id", "event_id",
        (F.col("ts") + F.expr("INTERVAL 17 MINUTES")).alias("ts"),
        F.col("value").alias("observed_value"))
    out = asof_validate(reads, versions.select("user_id", "ts", "value"),
                        ["user_id"], observed_col="observed_value",
                        value_col="value")
    # parquet ts is TIMESTAMP_NTZ; the session tz is pinned UTC, so the cast
    # is the exact epoch DuckDB's epoch_ms computes on the same naive value
    return out.select("user_id", "event_id",
                      F.unix_millis(F.col("ts").cast("timestamp"))
                       .alias("read_ts_ms"),
                      "observed_value", "asof_value", "status")


# ---------------------------------------------------------------------------
# incremental (recurring) validation: per-range digests → drift → row-level
# classify of drifted ranges only (operators/digest.py)
# ---------------------------------------------------------------------------

def _churned_events(spark, sf_dir):
    """Localized-churn fixture: payload mutated in key range [1000,1100),
    rows deleted in [2000,2010), rows inserted past 10^8 from [3000,3010) —
    every other range digests identical and is skipped by the fast path."""
    src = events_source(spark, sf_dir)
    mut = F.col("key").between(1000, 1099)
    tgt = (src.where(~F.col("key").between(2000, 2009))
              .withColumn("payload",
                          F.when(mut, F.concat(F.col("payload"), F.lit("#mut")))
                           .otherwise(F.col("payload"))))
    ins = (src.where(F.col("key").between(3000, 3009))
              .withColumn("key", F.col("key") + F.lit(100_000_000)))
    return src, tgt.unionByName(ins)


_CHURN_CTE = """
WITH src AS (
  SELECT event_id AS key,
         concat_ws('|', coalesce(event_type,''), coalesce(props,''),
                   coalesce(CAST(user_id AS STRING),'')) AS payload
  FROM events
),
tgt AS (
  SELECT key,
         CASE WHEN key BETWEEN 1000 AND 1099 THEN payload || '#mut'
              ELSE payload END AS payload
  FROM src WHERE key NOT BETWEEN 2000 AND 2009
  UNION ALL
  SELECT key + 100000000 AS key, payload FROM src
  WHERE key BETWEEN 3000 AND 3009
),
"""


def _digest_ctes() -> str:
    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql

    fp = portable_hash60_sql("payload")
    digest = """
  SELECT CAST(floor(key / 1000) AS BIGINT) AS range_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         bit_xor(fp) AS xor_fp,
         sum(fp & 4294967295) AS sum_lo,
         sum(fp >> 32) AS sum_hi
  FROM {side} GROUP BY 1"""
    return f"""
sfp AS (SELECT key, {fp} AS fp FROM src),
tfp AS (SELECT key, {fp} AS fp FROM tgt),
sd AS ({digest.format(side='sfp')}),
td AS ({digest.format(side='tfp')}),
drift AS (
  SELECT coalesce(s.range_id, t.range_id) AS range_id,
         CASE WHEN s.n_rows IS NULL THEN 'RANGE_TARGET_ONLY'
              WHEN t.n_rows IS NULL THEN 'RANGE_SOURCE_ONLY'
              ELSE 'RANGE_CHANGED' END AS status,
         CAST(coalesce(s.n_rows, 0) AS BIGINT) AS src_n,
         CAST(coalesce(t.n_rows, 0) AS BIGINT) AS tgt_n
  FROM sd s FULL OUTER JOIN td t ON s.range_id = t.range_id
  WHERE s.n_rows IS NULL OR t.n_rows IS NULL
     OR s.n_rows <> t.n_rows OR s.xor_fp <> t.xor_fp
     OR s.sum_lo <> t.sum_lo OR s.sum_hi <> t.sum_hi
)"""


def _digest_frames(spark, sf_dir):
    from spanner_data_validator_spark.functions.hashing import portable_hash60

    src, tgt = _churned_events(spark, sf_dir)
    fp = portable_hash60(F.col("payload"))
    return (src.select("key", fp.alias("fingerprint")),
            tgt.select("key", fp.alias("fingerprint")))


@register("range_digest_drift", _CHURN_CTE + _digest_ctes() + """
SELECT range_id, status, src_n, tgt_n FROM drift
""")
def q_range_digest_drift(spark, sf_dir):
    """Per-range digest drift (operators/digest.range_digest + digest_drift):
    each side reduces to one (count, xor-fold, split-sum) row per 1000-key
    range — the recurring-validation pre-pass that costs O(rows) scan but
    O(ranges) comparison. Only the three churned ranges surface."""
    from spanner_data_validator_spark.operators.digest import (
        digest_drift,
        range_digest,
    )

    src_fp, tgt_fp = _digest_frames(spark, sf_dir)
    rid = F.floor(F.col("key") / F.lit(1000)).cast("long")
    sd = range_digest(src_fp, rid, F.col("fingerprint"))
    td = range_digest(tgt_fp, rid, F.col("fingerprint"))
    return digest_drift(sd, td)


@register("incremental_validate_counts", _CHURN_CTE + _digest_ctes() + """,
cls AS (
  SELECT CASE WHEN s.fp IS NOT NULL AND t.fp IS NOT NULL AND s.fp = t.fp
                   THEN 'MATCH'
              WHEN s.fp IS NOT NULL AND t.fp IS NOT NULL THEN 'MISMATCH'
              WHEN t.fp IS NULL THEN 'SOURCE_ONLY'
              ELSE 'TARGET_ONLY' END AS status
  FROM (SELECT * FROM sfp
        WHERE CAST(floor(key / 1000) AS BIGINT) IN (SELECT range_id FROM drift)) s
  FULL OUTER JOIN
       (SELECT * FROM tfp
        WHERE CAST(floor(key / 1000) AS BIGINT) IN (SELECT range_id FROM drift)) t
    ON s.key = t.key
)
SELECT status, CAST(count(*) AS BIGINT) AS n FROM cls GROUP BY status
""")
def q_incremental_validate_counts(spark, sf_dir):
    """Incremental revalidation fast path (operators/digest.
    incremental_validate): row-granular classification touches ONLY the
    ranges whose digests drifted — rows in undrifted ranges are MATCH by
    digest proof and never re-read. The expensive full-outer join runs over
    ~3 ranges of churn instead of the whole corpus."""
    from spanner_data_validator_spark.operators.digest import incremental_validate

    src_fp, tgt_fp = _digest_frames(spark, sf_dir)
    rid = F.floor(F.col("key") / F.lit(1000)).cast("long")
    _drift, classified = incremental_validate(src_fp, tgt_fp, ["key"], rid)
    return classified.groupBy("status").agg(F.count("*").alias("n"))


@register("validate_upserts", """
WITH base AS (
  SELECT event_id AS key,
         concat_ws('|', coalesce(event_type,''), coalesce(props,''),
                   coalesce(CAST(user_id AS STRING),'')) AS payload,
         ts
  FROM events
),
log AS (
  SELECT key, payload, ts FROM base
  UNION ALL
  SELECT key, payload || '#v2' AS payload, ts + INTERVAL 1 HOUR AS ts
  FROM base WHERE key % 40 = 0
),
fin AS (SELECT key, max_by(payload, ts) AS payload FROM log GROUP BY key),
tgt AS (
  SELECT key,
         CASE WHEN key % 50 = 0 THEN payload || '#mut' ELSE payload END AS payload
  FROM fin WHERE key % 50 <> 1
  UNION ALL
  SELECT key + 100000000 AS key, payload FROM fin WHERE key % 50 = 2
),
cls AS (
  SELECT CASE WHEN s.payload IS NOT NULL AND t.payload IS NOT NULL
                   AND s.payload = t.payload THEN 'MATCH'
              WHEN s.payload IS NOT NULL AND t.payload IS NOT NULL THEN 'MISMATCH'
              WHEN t.payload IS NULL THEN 'SOURCE_ONLY'
              ELSE 'TARGET_ONLY' END AS status
  FROM fin s FULL OUTER JOIN tgt t ON s.key = t.key
)
SELECT status, CAST(count(*) AS BIGINT) AS n FROM cls GROUP BY status
""")
def q_validate_upserts(spark, sf_dir):
    """CDC-style validation: the source is a CHANGE LOG (base rows + later
    corrections for key%40=0), collapsed to final state by last-writer-wins
    (comparator.latest_per_key — one max_by hash aggregate, the dual of
    dedup_first) and classified against the target snapshot. A migration
    tailing an update stream is validated without materializing history;
    the %40 keys only MATCH if the collapse picked the correction."""
    from spanner_data_validator_spark.operators.comparator import latest_per_key

    base = events_source(spark, sf_dir).select("key", "payload", "ts")
    upd = base.where(F.col("key") % 40 == 0).select(
        "key", F.concat(F.col("payload"), F.lit("#v2")).alias("payload"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"))
    fin = latest_per_key(base.unionByName(upd), ["key"], "ts", ["payload"])
    tgt = events_target(fin.select("key", "payload"))
    s = fin.select("key", F.col("payload").alias("src_payload"))
    t = tgt.select("key", F.col("payload").alias("tgt_payload"))
    j = s.join(t, "key", "full_outer")
    status = (
        F.when(F.col("src_payload").isNotNull() & F.col("tgt_payload").isNotNull(),
               F.when(F.col("src_payload") == F.col("tgt_payload"), MATCH)
                .otherwise(MISMATCH))
         .when(F.col("tgt_payload").isNull(), SOURCE_ONLY)
         .otherwise(TARGET_ONLY))
    return (j.select(status.alias("status"))
             .groupBy("status").agg(F.count("*").alias("n")))


# ---------------------------------------------------------------------------
# conversation-level rollup validation (operators/rollup.py): digest whole
# conversations, classify at conversation granularity — the coarse tier the
# row-level validator drills into
# ---------------------------------------------------------------------------

def _rollup_target(src):
    """Conversation-granularity planted divergences (sparser than the
    turn-level %50 rules, which saturate every ~67-turn conversation):
    conv%31==1 dropped whole (SOURCE_ONLY), conv%31==2 cloned to a new id
    (TARGET_ONLY), conv%7==0 first turn mutated, conv%13==3 turns 0 and 1
    REORDERED — the swap only an order-sensitive digest can see; counts and
    the unordered turn-hash multiset are unchanged."""
    c = F.col("conv_id").cast("long")
    kept = src.where(c % 31 != 1)
    mut = kept.withColumn(
        "text",
        F.when((c % 7 == 0) & (F.col("turn_idx") == 0),
               F.concat(F.col("text"), F.lit("#mut"))).otherwise(F.col("text")))
    reord = mut.withColumn(
        "turn_idx",
        F.when((c % 13 == 3) & (F.col("turn_idx") < 2),
               F.lit(1) - F.col("turn_idx"))
         .otherwise(F.col("turn_idx")).cast("int"))
    extra = src.where(c % 31 == 2).withColumn(
        "conv_id", (c + F.lit(1_000_000_000)).cast("string"))
    return reord.unionByName(extra)


def _conv_rollup_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql

    digest = portable_hash60_sql("string_agg(h, ',' ORDER BY turn_idx)")
    per_side = (
        "SELECT conv_id, CAST(count(*) AS BIGINT) AS n, {d} AS d "
        "FROM (SELECT conv_id, turn_idx, "
        "substr(md5(concat_ws(chr(31), coalesce(role,''), coalesce(text,''))), 1, 15) AS h "
        "FROM {side}) GROUP BY conv_id").format(d=digest, side="{side}")
    src_cte = _ev_transcript_cte().split(",\ntgt AS")[0]  # src CTE only
    return (src_cte + f""",
tgt AS (
  SELECT conv_id,
         CAST(CASE WHEN CAST(conv_id AS BIGINT) % 13 = 3 AND turn_idx < 2
                   THEN 1 - turn_idx ELSE turn_idx END AS INT) AS turn_idx,
         role,
         CASE WHEN CAST(conv_id AS BIGINT) % 7 = 0 AND turn_idx = 0
              THEN text || '#mut' ELSE text END AS text
  FROM src WHERE CAST(conv_id AS BIGINT) % 31 <> 1
  UNION ALL
  SELECT CAST(CAST(conv_id AS BIGINT) + 1000000000 AS VARCHAR) AS conv_id,
         turn_idx, role, text
  FROM src WHERE CAST(conv_id AS BIGINT) % 31 = 2
),
sd AS ({per_side.format(side='src')}),
td AS ({per_side.format(side='tgt')}),
cls AS (
  SELECT CASE WHEN s.d IS NOT NULL AND t.d IS NOT NULL THEN
                CASE WHEN s.d = t.d THEN 'MATCH' ELSE 'MISMATCH' END
              WHEN t.d IS NULL THEN 'SOURCE_ONLY' ELSE 'TARGET_ONLY' END AS status,
         s.n AS sn, t.n AS tn
  FROM sd s FULL OUTER JOIN td t ON s.conv_id = t.conv_id
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_convs,
       CAST(sum(sn) AS BIGINT) AS src_turns,
       CAST(sum(tn) AS BIGINT) AS tgt_turns
FROM cls GROUP BY status
""")


@register("conv_rollup_validate", _conv_rollup_oracle())
def q_conv_rollup_validate(spark, sf_dir):
    """Conversation-granularity validation: each side is reduced to ONE row
    per conversation (ordered digest + turn count, operators/rollup.py), the
    full-outer classify joins conversations instead of turns — the join
    shrinks by the mean conversation length and catches turn SWAPS that a
    commutative per-row tally cannot. Output: per-status conversation and
    turn totals (the drill-down feed for row-level classify_pair)."""
    from spanner_data_validator_spark.operators.rollup import rollup_validate

    src = transcripts_from_events(spark, sf_dir)
    tgt = _rollup_target(src)
    cls = rollup_validate(src, tgt, "conv_id", "turn_idx", ["role", "text"])
    return cls.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.sum("src_n_turns").cast("long").alias("src_turns"),
        F.sum("tgt_n_turns").cast("long").alias("tgt_turns"))


# ---------------------------------------------------------------------------
# aggregate (column-level) validation with tolerance: the cheapest tier of
# the validation funnel — two hash aggregates, no row join
# ---------------------------------------------------------------------------

_AGG_TOL_SQL = """
WITH src AS (
  SELECT l_orderkey % 16 AS range_id, l_orderkey,
         CAST(l_quantity AS DECIMAL(12,2)) AS qty,
         l_extendedprice AS price
  FROM lineitem
),
tgt AS (
  SELECT range_id, l_orderkey,
         CASE WHEN l_orderkey % 97 = 0 THEN qty + 1 ELSE qty END AS qty,
         price
  FROM src WHERE l_orderkey % 200 <> 7 AND range_id <> 15
),
sa AS (SELECT range_id, CAST(count(l_orderkey) AS BIGINT) AS cnt,
              CAST(sum(qty) AS DECIMAL(38,2)) AS sum_qty,
              min(price) AS min_price, max(price) AS max_price
       FROM src GROUP BY range_id),
ta AS (SELECT range_id, CAST(count(l_orderkey) AS BIGINT) AS cnt,
              CAST(sum(qty) AS DECIMAL(38,2)) AS sum_qty,
              min(price) AS min_price, max(price) AS max_price
       FROM tgt GROUP BY range_id)
SELECT s.range_id AS range_id,
       CASE WHEN t.range_id IS NULL THEN 'SOURCE_ONLY'
            WHEN abs(CAST(s.cnt AS DOUBLE) - CAST(t.cnt AS DOUBLE)) <= 0.001 * abs(CAST(s.cnt AS DOUBLE))
                 AND abs(CAST(s.sum_qty AS DOUBLE) - CAST(t.sum_qty AS DOUBLE)) <= 0.001 * abs(CAST(s.sum_qty AS DOUBLE))
                 AND (s.min_price = t.min_price OR abs(s.min_price - t.min_price) <= 0.001 * abs(s.min_price))
                 AND (s.max_price = t.max_price OR abs(s.max_price - t.max_price) <= 0.001 * abs(s.max_price))
            THEN 'MATCH' ELSE 'MISMATCH' END AS status,
       s.cnt AS src_cnt, t.cnt AS tgt_cnt,
       s.sum_qty AS src_sum_qty, t.sum_qty AS tgt_sum_qty
FROM sa s LEFT JOIN ta t ON s.range_id = t.range_id
"""


@register("agg_tolerance_validate", _AGG_TOL_SQL)
def q_agg_tolerance_validate(spark, sf_dir):
    """Column-aggregate validation with relative tolerance
    (comparator.validate_aggregates): per-range COUNT/SUM/MIN/MAX compared at
    0.1%% tolerance — the coarse no-row-join tier. Planted drift: +1 qty on
    ~1%% of orders stays under tolerance (MATCH), a 0.5%% row deletion trips
    the count check (MISMATCH), and one range is missing entirely
    (SOURCE_ONLY). Sums run over DECIMAL so parallel reduction is exact."""
    from spanner_data_validator_spark.operators.comparator import validate_aggregates

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    src = li.select(
        (F.col("l_orderkey") % 16).alias("range_id"),
        F.col("l_orderkey"),
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"),
        F.col("l_extendedprice").alias("price"))
    tgt = (src.where((F.col("l_orderkey") % 200 != 7) & (F.col("range_id") != 15))
              .withColumn("qty", F.when(F.col("l_orderkey") % 97 == 0,
                                        F.col("qty") + 1).otherwise(F.col("qty"))))
    res = validate_aggregates(
        src, tgt, ["range_id"],
        [("count", "l_orderkey"), ("sum", "qty"), ("min", "price"), ("max", "price")],
        rel_tolerance=0.001)
    return res.select(
        "range_id", "status",
        F.col("src_count_l_orderkey").alias("src_cnt"),
        F.col("tgt_count_l_orderkey").alias("tgt_cnt"),
        F.col("src_sum_qty").cast("decimal(38,2)").alias("src_sum_qty"),
        F.col("tgt_sum_qty").cast("decimal(38,2)").alias("tgt_sum_qty"))


# ---------------------------------------------------------------------------
# structural integrity + declarative constraint suite
# ---------------------------------------------------------------------------

@register("ri_orphan_check", """
WITH ck AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
            FROM lineitem GROUP BY l_orderkey),
pk AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 7 <> 3),
o AS (SELECT ck.* FROM ck LEFT JOIN pk ON ck.l_orderkey = pk.o_orderkey
      WHERE pk.o_orderkey IS NULL)
SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_orphan_rows,
       CAST(count(*) AS BIGINT) AS n_orphan_keys,
       min(CAST(l_orderkey AS VARCHAR)) AS min_orphan_key,
       max(CAST(l_orderkey AS VARCHAR)) AS max_orphan_key
FROM o
""")
def q_ri_orphan_check(spark, sf_dir):
    """Referential-integrity check (integrity.orphan_check): lineitems whose
    order vanished — parent side derives 'orders with o_orderkey % 7 = 3
    lost in migration'. The child collapses to (key, count) BEFORE the
    anti-join, so the exchange carries distinct keys, not 10^12 rows."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
              .withColumnRenamed("l_orderkey", "orderkey")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet") \
              .where(F.col("o_orderkey") % 7 != 3) \
              .withColumnRenamed("o_orderkey", "orderkey")
    return orphan_check(li, od, ["orderkey"])


@register("pk_uniqueness_check", """
WITH d AS (SELECT doc_id FROM documents
           UNION ALL SELECT doc_id FROM documents WHERE doc_id % 97 = 5),
k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY doc_id)
SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
       CAST(sum(cnt) - count(*) AS BIGINT) AS n_dup_rows,
       CAST(max(cnt) AS BIGINT) AS max_multiplicity
FROM k
""")
def q_pk_uniqueness_check(spark, sf_dir):
    """Candidate-key multiplicity profile (integrity.uniqueness_check) over
    a corpus with planted duplicate doc_ids (every doc_id % 97 = 5 doubled).
    One groupBy + one scalar aggregate — the pre-migration 'is the PK still
    a PK' gate."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    planted = docs.unionByName(docs.where(F.col("doc_id") % 97 == 5))
    return uniqueness_check(planted, ["doc_id"])


@register("pk_duplicate_examples", """
WITH d AS (SELECT doc_id FROM documents
           UNION ALL SELECT doc_id FROM documents WHERE doc_id % 97 = 5),
k AS (SELECT CAST(doc_id AS VARCHAR) AS key,
             CAST(count(*) AS BIGINT) AS multiplicity
      FROM d GROUP BY doc_id)
SELECT key, multiplicity FROM k WHERE multiplicity > 1
ORDER BY multiplicity DESC, key ASC LIMIT 10
""")
def q_pk_duplicate_examples(spark, sf_dir):
    """Worst-offender keys for the uniqueness violation above —
    TakeOrderedAndProject top-N, deterministic (count desc, key asc)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    planted = docs.unionByName(docs.where(F.col("doc_id") % 97 == 5))
    return duplicate_examples(planted, ["doc_id"], top_n=10)


_CONSTRAINT_ORACLE = """
WITH s AS (SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
  CAST(sum(CASE WHEN (NOT (value BETWEEN 0 AND 250)) OR value IS NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS v1,
  CAST(sum(CASE WHEN event_type NOT IN ('click','view','purchase','signup')
                  OR event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v2,
  CAST(sum(CASE WHEN NOT regexp_matches(props, '^\\{"k": [0-9]+\\}$')
                  OR props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v3,
  CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS v4
FROM events)
SELECT 0 AS ord, 'not_null(user_id)' AS rule, n_rows,
       v0 AS n_violations, v0 = 0 AS passed FROM s
UNION ALL SELECT 1, 'in_range(value,0,250)', n_rows, v1, v1 = 0 FROM s
UNION ALL SELECT 2, 'accepted_values(event_type)', n_rows, v2, v2 = 0 FROM s
UNION ALL SELECT 3, 'matches_regex(props)', n_rows, v3, v3 = 0 FROM s
UNION ALL SELECT 4, 'unique(event_id)', n_rows, v4, v4 = 0 FROM s
"""


@register("constraint_suite_events", _CONSTRAINT_ORACLE)
def q_constraint_suite_events(spark, sf_dir):
    """Declarative constraint suite (operators/constraints): five invariant
    rules over events compiled into ONE aggregate scan (unique() rides the
    same pass via EXPAND count-distinct) — the Deequ-style zero-join
    validation tier."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rules = [
        C.not_null("user_id"),
        C.in_range("value", 0, 250),
        C.accepted_values("event_type",
                          ["click", "view", "purchase", "signup"]),
        C.matches_regex("props", '^\\{"k": [0-9]+\\}$'),
        C.unique("event_id"),
    ]
    return C.check_constraints(ev, rules)


@register("jsonl_ingest_parity", """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       min(value) AS min_value,
       max(value) AS max_value,
       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
       CAST(7 AS BIGINT) AS n_quarantined
FROM events
""")
def q_jsonl_ingest_parity(spark, sf_dir):
    """File-drop ingestion round-trip (sources/files): events re-serialized
    as JSON-lines plus 7 planted garbage lines, strict-read back with the
    declared schema, quarantine split, and aggregate parity proved against
    the original table. Exercises schema-enforced parse, corrupt-record
    capture, and the one-scan good/bad split — the failure mode PERMISSIVE
    defaults hide. Doubles survive exactly (Spark writes shortest-roundtrip
    JSON numbers); sums stay integer for cross-engine exactness."""
    import os
    from spanner_data_validator_spark.sources.files import (
        read_jsonl_strict,
        split_quarantine,
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    work = work_dir("sdv_q_jsonl_")
    jdir = os.path.join(work, "events_jsonl")
    ev.write.mode("overwrite").json(jdir)
    with open(os.path.join(jdir, "zz_bad_lines.json"), "w") as f:
        for i in range(7):
            f.write(f"<<not json #{i}>>\n")
    raw = read_jsonl_strict(spark, jdir, ev.schema)
    good, bad = split_quarantine(raw)
    return (good.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                     F.countDistinct("user_id").cast("long").alias("n_users"),
                     F.min("value").alias("min_value"),
                     F.max("value").alias("max_value"),
                     F.sum("event_id").cast("long").alias("sum_event_id"))
            .crossJoin(bad.agg(F.count(F.lit(1)).cast("long")
                               .alias("n_quarantined"))))


@register("header_detail_reconcile", """
WITH d AS (SELECT l_orderkey AS orderkey,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                       AS BIGINT) AS detail_cents
           FROM lineitem GROUP BY l_orderkey),
h AS (SELECT o_orderkey AS orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS head_cents
      FROM orders),
j AS (SELECT h.head_cents, d.detail_cents,
             abs(h.head_cents - d.detail_cents) AS drift
      FROM h LEFT JOIN d USING (orderkey))
SELECT CAST(count(*) AS BIGINT) AS n_headers,
       CAST(sum(CASE WHEN drift <= 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(sum(CASE WHEN drift > 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_drifted,
       CAST(sum(CASE WHEN detail_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_detail,
       CAST(coalesce(max(drift), 0) AS BIGINT) AS max_abs_drift
FROM j
""")
def q_header_detail_reconcile(spark, sf_dir):
    """Header-vs-detail reconciliation (integrity.reconcile_header_detail):
    each order's stored o_totalprice against the sum of its lineitems, in
    exact integer cents (round(x*100) is the same IEEE multiply + half-up
    round in both engines; integer sums are reduction-order-independent
    where double sums are not). Child aggregates BEFORE the join, so the
    join carries one row per order, not per lineitem."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
                       .withColumnRenamed("o_orderkey", "orderkey")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
                   .withColumnRenamed("l_orderkey", "orderkey")
    from spanner_data_validator_spark.operators.integrity import (
        reconcile_header_detail,
    )
    return reconcile_header_detail(
        orders, li, ["orderkey"],
        header_total=F.round(F.col("o_totalprice") * 100),
        detail_amount=F.round(F.col("l_extendedprice") * 100).cast("long"),
        tolerance=100)


@register("partition_completeness", """
WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
           WHERE EXTRACT(day FROM ts) % 5 <> 0),
b AS (SELECT min(d) AS lo, max(d) AS hi FROM d),
e AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM b),
m AS (SELECT e.d FROM e LEFT JOIN d USING (d) WHERE d.d IS NULL)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_expected_days,
       (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_actual_days,
       CAST(count(*) AS BIGINT) AS n_missing_days,
       min(CAST(m.d AS VARCHAR)) AS min_missing_day,
       max(CAST(m.d AS VARCHAR)) AS max_missing_day
FROM m
""")
def q_partition_completeness(spark, sf_dir):
    """Calendar-gap detection (integrity.partition_completeness) over an
    events feed with planted missing days (day-of-month % 5 = 0 dropped):
    expected days generated JVM-side from the observed bounds, anti-joined
    against actual distinct days. The input collapses to distinct days
    immediately, so everything downstream runs over ~days rows."""
    from spanner_data_validator_spark.operators.integrity import (
        partition_completeness,
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
             .where(F.dayofmonth("ts") % 5 != 0)
    return partition_completeness(ev, F.col("ts"))


@register("type_fit_audit", """
WITH s AS (SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN length(text) > 2000 THEN 1 ELSE 0 END) AS BIGINT) AS v0,
  CAST(sum(CASE WHEN doc_id < -2147483648 OR doc_id > 2147483647
           THEN 1 ELSE 0 END) AS BIGINT) AS v1,
  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v2
FROM documents)
SELECT 0 AS ord, 'max_length(text,2000)' AS rule, n_rows,
       v0 AS n_violations, v0 = 0 AS passed FROM s
UNION ALL SELECT 1, 'fits_int32(doc_id)', n_rows, v1, v1 = 0 FROM s
UNION ALL SELECT 2, 'not_null(lang)', n_rows, v2, v2 = 0 FROM s
""")
def q_type_fit_audit(spark, sf_dir):
    """Pre-migration type-fit audit: will the corpus survive the target
    DDL (VARCHAR(2000), INT32 key, NOT NULL lang)? Same one-scan constraint
    compiler as constraint_suite_events, with the width/overflow rules a
    schema migration actually needs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rules = [
        C.max_length("text", 2000),
        C.fits_int32("doc_id"),
        C.not_null("lang"),
    ]
    return C.check_constraints(docs, rules)


@register("linenumber_contiguity", """
WITH li AS (SELECT l_orderkey, l_linenumber FROM lineitem
            WHERE NOT (l_linenumber = 2 AND l_orderkey % 13 = 4)),
per AS (SELECT l_orderkey,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT l_linenumber) AS BIGINT) AS nd,
               CAST(min(l_linenumber) AS BIGINT) AS mn,
               CAST(max(l_linenumber) AS BIGINT) AS mx
        FROM li GROUP BY l_orderkey)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN n = nd AND mx - mn + 1 = nd AND mn = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(sum(CASE WHEN n <> nd THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_dups,
       CAST(sum(CASE WHEN mx - mn + 1 <> nd THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_gaps,
       CAST(sum(CASE WHEN mn <> 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bad_start
FROM per
""")
def q_linenumber_contiguity(spark, sf_dir):
    """Sequence-number audit (integrity.sequence_contiguity): every order's
    l_linenumber must be exactly 1..n; a planted defect drops line 2 from
    every 13th order. Gaps/dups/start fall out of four scalars per group —
    no sort anywhere; the exchange carries (orderkey, 4 longs)."""
    from spanner_data_validator_spark.operators.integrity import (
        sequence_contiguity,
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
             .where(~((F.col("l_linenumber") == 2)
                      & (F.col("l_orderkey") % 13 == 4)))
    return sequence_contiguity(li, "l_orderkey", "l_linenumber", start_at=1)


# ---------------------------------------------------------------------------
# fuzzy key linkage (operators/linkage.py): SymSpell deletion blocking
# ---------------------------------------------------------------------------

#: deterministic planted drift: keys divisible by 5 lose one character at a
#: key-dependent position — the same rule rendered in both engines. The
#: '#partkey' suffix makes keys unique (testdata p_name has only ~64 distinct
#: values, which would let every drifted key find a dist-0 twin).
_LK_KEY = "p_name || '#' || CAST(p_partkey AS VARCHAR)"
_DRIFT_POS = f"CAST(p_partkey % length({_LK_KEY}) AS INT)"
_DRIFT_SQL = f"""
lk_src AS (SELECT p_partkey AS id, {_LK_KEY} AS key FROM part),
lk_tgt AS (
  SELECT p_partkey AS id,
         CASE WHEN p_partkey % 5 = 0
              THEN substr({_LK_KEY}, 1, {_DRIFT_POS})
                   || substr({_LK_KEY}, {_DRIFT_POS} + 2)
              ELSE {_LK_KEY} END AS key
  FROM part)
"""


@register("fuzzy_key_match", f"""
WITH {_DRIFT_SQL},
sv AS (SELECT id, key, unnest({_del_variants_sql("key")}) AS v
       FROM lk_src),
tv AS (SELECT id, key, unnest({_del_variants_sql("key")}) AS v
       FROM lk_tgt),
cand AS (SELECT DISTINCT s.id AS src_id, s.key AS src_key,
                         t.id AS tgt_id, t.key AS tgt_key
         FROM sv s JOIN tv t ON s.v = t.v),
ver AS (SELECT *, levenshtein(src_key, tgt_key) AS dist FROM cand
        WHERE levenshtein(src_key, tgt_key) <= 1),
best AS (SELECT *, row_number() OVER (
           PARTITION BY src_id ORDER BY dist, tgt_key, tgt_id) AS rn
         FROM ver)
SELECT dist,
       CAST(count(*) AS BIGINT) AS n,
       bit_xor({portable_hash60_sql("src_key || '|' || tgt_key", 13)})
         AS pair_xor
FROM best WHERE rn = 1 GROUP BY dist
""")
def q_fuzzy_key_match(spark, sf_dir):
    """Record linkage for drifted identifiers (operators/linkage.py): keys
    divisible by 5 lose one character in the target; SymSpell deletion-
    neighborhood blocking finds every levenshtein<=1 pair through an
    equi-join on variant hashes (no cross product anywhere), verification
    + deterministic best-match-per-source-key follow. The oracle replays
    the whole pipeline independently (string-valued variants, window
    tie-break) — per-distance counts and an xor checksum of the matched
    pairs must agree."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.linkage import fuzzy_match_keys

    part = spark.read.parquet(f"{sf_dir}/part.parquet") \
        .withColumn("lk_key", F.concat_ws("#", "p_name",
                                          F.col("p_partkey").cast("string")))
    src = part.select(F.col("p_partkey").alias("id"),
                      F.col("lk_key").alias("key"))
    pos = (F.col("p_partkey") % F.length("lk_key")).cast("int")
    drifted = F.concat(F.col("lk_key").substr(F.lit(1), pos),
                       F.col("lk_key").substr(pos + F.lit(2),
                                              F.length("lk_key")))
    tgt = part.select(
        F.col("p_partkey").alias("id"),
        F.when(F.col("p_partkey") % 5 == 0, drifted)
         .otherwise(F.col("lk_key")).alias("key"))
    best = fuzzy_match_keys(src, tgt, "key", "id", max_dist=1)
    return (best.groupBy("dist")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(portable_hash60(
                     F.concat_ws("|", "src_key", "tgt_key"), 13))
                  .alias("pair_xor")))


# ---------------------------------------------------------------------------
# Byte-compatible reference fingerprint
# ---------------------------------------------------------------------------

@register("reference_hash_parity", """
SELECT event_id,
       to_base64(unhex(sha256(
           coalesce(event_type, '')
        || coalesce(cast(user_id AS varchar), '')
        || coalesce(cast(epoch_ms(ts) // 1000 AS varchar), '')
        || coalesce(props, '')
       ))) AS ref_hash
FROM events
WHERE event_id % 100 < 5
""")
def q_reference_hash_parity(spark, sf_dir):
    """Reference-deployment hash parity: ``Base64(SHA-256(utf8(concat)))``
    with the no-delimiter concat and per-type rendering of
    dto/HashResult.java:77-171 + Helpers.java:348-360, recomputed
    independently by DuckDB's sha256/to_base64 on the same rows. JSON
    normalization (the one non-SQL-expressible rule) is byte-compat-tested
    against hand-derived golden vectors in tests/test_fingerprint.py."""
    from spanner_data_validator_spark.functions.fingerprint import (
        reference_fingerprint,
    )

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .where(F.col("event_id") % 100 < 5)
          .select("event_id", "event_type", "user_id",
                  F.col("ts").cast("timestamp").alias("ts"), "props"))
    return ev.select(
        "event_id",
        reference_fingerprint(
            ev, ["event_type", "user_id", "ts", "props"]).alias("ref_hash"))


# ---------------------------------------------------------------------------
# fuzzy key linkage at edit distance 2: deletion blocking + PassJoin
# ---------------------------------------------------------------------------

# d=2 linkage: two-character drift, SymSpell blocking at
# depth 2 — complete for levenshtein <= 2 (property-tested vs brute force in
# tests/test_linkage.py)
_DRIFT2_POS1 = f"CAST(p_partkey % length({_LK_KEY}) AS INT)"
_D2_K1 = (f"substr({_LK_KEY}, 1, {_DRIFT2_POS1}) "
          f"|| substr({_LK_KEY}, {_DRIFT2_POS1} + 2)")
_DRIFT2_SQL = f"""
lk2_src AS (SELECT p_partkey AS id, {_LK_KEY} AS key FROM part),
lk2_k1 AS (
  SELECT p_partkey AS id, p_partkey AS pk, {_D2_K1} AS k1 FROM part),
lk2_tgt AS (
  SELECT id,
         CASE WHEN pk % 7 = 0 THEN
                substr(k1, 1, CAST(pk % length(k1) AS INT))
                || substr(k1, CAST(pk % length(k1) AS INT) + 2)
              WHEN pk % 5 = 0 THEN k1
              ELSE (SELECT key FROM lk2_src s WHERE s.id = lk2_k1.id) END AS key
  FROM lk2_k1)
"""


@register("fuzzy_key_match_d2", f"""
WITH {_DRIFT2_SQL},
sv AS (SELECT id, key, unnest({_del_variants_sql("key", 2)}) AS v
       FROM lk2_src),
tv AS (SELECT id, key, unnest({_del_variants_sql("key", 2)}) AS v
       FROM lk2_tgt),
cand AS (SELECT DISTINCT s.id AS src_id, s.key AS src_key,
                         t.id AS tgt_id, t.key AS tgt_key
         FROM sv s JOIN tv t ON s.v = t.v),
ver AS (SELECT *, levenshtein(src_key, tgt_key) AS dist FROM cand
        WHERE levenshtein(src_key, tgt_key) <= 2),
best AS (SELECT *, row_number() OVER (
           PARTITION BY src_id ORDER BY dist, tgt_key, tgt_id) AS rn
         FROM ver)
SELECT dist,
       CAST(count(*) AS BIGINT) AS n,
       bit_xor({portable_hash60_sql("src_key || '|' || tgt_key", 13)})
         AS pair_xor
FROM best WHERE rn = 1 GROUP BY dist
""")
def q_fuzzy_key_match_d2(spark, sf_dir):
    """Distance-2 record linkage: keys divisible by 7 lose TWO characters,
    by 5 one — depth-2 deletion blocking recovers every pair within
    levenshtein 2 through the same variant-hash equi-join (variant count
    ~C(len,2) per key, still no cross product). Oracle replays the whole
    depth-2 pipeline with string-valued variants."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.linkage import fuzzy_match_keys

    part = spark.read.parquet(f"{sf_dir}/part.parquet") \
        .withColumn("lk_key", F.concat_ws("#", "p_name",
                                          F.col("p_partkey").cast("string")))
    src = part.select(F.col("p_partkey").alias("id"),
                      F.col("lk_key").alias("key"))
    pos1 = (F.col("p_partkey") % F.length("lk_key")).cast("int")
    k1 = F.concat(F.col("lk_key").substr(F.lit(1), pos1),
                  F.col("lk_key").substr(pos1 + F.lit(2),
                                         F.length("lk_key")))
    with_k1 = part.withColumn("k1", k1)
    pos2 = (F.col("p_partkey") % F.length("k1")).cast("int")
    k2 = F.concat(F.col("k1").substr(F.lit(1), pos2),
                  F.col("k1").substr(pos2 + F.lit(2), F.length("k1")))
    tgt = with_k1.select(
        F.col("p_partkey").alias("id"),
        F.when(F.col("p_partkey") % 7 == 0, k2)
         .when(F.col("p_partkey") % 5 == 0, F.col("k1"))
         .otherwise(F.col("lk_key")).alias("key"))
    best = fuzzy_match_keys(src, tgt, "key", "id", max_dist=2)
    return (best.groupBy("dist")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(portable_hash60(
                     F.concat_ws("|", "src_key", "tgt_key"), 13))
                  .alias("pair_xor")))


# PassJoin segment blocking (linkage.passjoin_candidates): q=3 even
# partition of each target key; probes enumerate aligned substrings of the
# source key for each candidate length n in +-2, segment i, shift in +-2.
_PJ_IDX = """
SELECT t.id AS tgt_id, t.key AS tgt_key,
       length(t.key) AS n, si.i AS i,
       substr(t.key,
              1 + si.i * (length(t.key) // 3)
                + greatest(0, si.i - (3 - (length(t.key) % 3))),
              (length(t.key) // 3)
                + CASE WHEN si.i >= 3 - (length(t.key) % 3) THEN 1 ELSE 0 END)
         AS seg
FROM (SELECT * FROM lk2_tgt WHERE id % 3 = 0) t, range(0, 3) AS si(i)
WHERE length(t.key) >= 3
"""

_PJ_PROBE = """
SELECT src_id, src_key, n, i, substr(src_key, start, seg_len) AS sub FROM (
  SELECT *, 1 + i * m + greatest(0, i - (3 - r)) + sh AS start,
         m + CASE WHEN i >= 3 - r THEN 1 ELSE 0 END AS seg_len
  FROM (
    SELECT s.id AS src_id, s.key AS src_key, length(s.key) AS slen,
           length(s.key) + no.o AS n, si.i AS i, sh.s AS sh,
           (length(s.key) + no.o) // 3 AS m,
           (length(s.key) + no.o) % 3 AS r
    FROM (SELECT * FROM lk2_src WHERE id % 3 = 0) s,
         range(-2, 3) AS no(o), range(0, 3) AS si(i),
         range(-2, 3) AS sh(s)
  )
) WHERE n >= 3 AND seg_len >= 1 AND start >= 1 AND start + seg_len - 1 <= slen
"""


@register("fuzzy_key_match_passjoin", f"""
WITH {_DRIFT2_SQL},
idx AS ({_PJ_IDX}),
probe AS ({_PJ_PROBE}),
cand AS (SELECT DISTINCT p.src_id, p.src_key, x.tgt_id, x.tgt_key
         FROM probe p JOIN idx x
           ON p.n = x.n AND p.i = x.i AND p.sub = x.seg),
ver AS (SELECT *, levenshtein(src_key, tgt_key) AS dist FROM cand
        WHERE levenshtein(src_key, tgt_key) <= 2),
best AS (SELECT *, row_number() OVER (
           PARTITION BY src_id ORDER BY dist, tgt_key, tgt_id) AS rn
         FROM ver)
SELECT dist,
       CAST(count(*) AS BIGINT) AS n,
       bit_xor({portable_hash60_sql("src_key || '|' || tgt_key", 13)})
         AS pair_xor
FROM best WHERE rn = 1 GROUP BY dist
""")
def q_fuzzy_key_match_passjoin(spark, sf_dir):
    """The SAME distance-2 linkage as fuzzy_key_match_d2 solved by the
    SECOND exact algorithm: PassJoin segment blocking
    (linkage.passjoin_candidates — q=3 pigeonhole segments on the indexed
    side, ~q*(2d+1)^2 aligned-substring probes on the source side, versus
    ~C(len,2) deletion variants per key on BOTH sides). Two independent
    algorithms, one answer: the per-distance counts and pair checksum must
    equal fuzzy_key_match_d2's, and the oracle replays the segment scheme
    itself. All expansion is flat post-explode codegen arithmetic (no
    nested lambdas)."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.linkage import fuzzy_match_keys

    part = spark.read.parquet(f"{sf_dir}/part.parquet") \
        .withColumn("lk_key", F.concat_ws("#", "p_name",
                                          F.col("p_partkey").cast("string")))
    src = part.select(F.col("p_partkey").alias("id"),
                      F.col("lk_key").alias("key"))
    pos1 = (F.col("p_partkey") % F.length("lk_key")).cast("int")
    k1 = F.concat(F.col("lk_key").substr(F.lit(1), pos1),
                  F.col("lk_key").substr(pos1 + F.lit(2),
                                         F.length("lk_key")))
    with_k1 = part.withColumn("k1", k1)
    pos2 = (F.col("p_partkey") % F.length("k1")).cast("int")
    k2 = F.concat(F.col("k1").substr(F.lit(1), pos2),
                  F.col("k1").substr(pos2 + F.lit(2), F.length("k1")))
    tgt = with_k1.select(
        F.col("p_partkey").alias("id"),
        F.when(F.col("p_partkey") % 7 == 0, k2)
         .when(F.col("p_partkey") % 5 == 0, F.col("k1"))
         .otherwise(F.col("lk_key")).alias("key"))
    # every-3rd-key subset: vocabulary keys are PassJoin's worst case (see
    # the operator's WHICH-ALGORITHM note — segment blocks collide), so the
    # parity demo runs on a slice that keeps the bench honest about it
    # without letting the 88M-pair fanout dominate the suite
    src = src.where(F.col("id") % 3 == 0)
    tgt = tgt.where(F.col("id") % 3 == 0)
    best = fuzzy_match_keys(src, tgt, "key", "id", max_dist=2,
                            algo="passjoin")
    return (best.groupBy("dist")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(portable_hash60(
                     F.concat_ws("|", "src_key", "tgt_key"), 13))
                  .alias("pair_xor")))


# ---------------------------------------------------------------------------
# anti-entropy repair: classification -> changeset -> provable convergence
# ---------------------------------------------------------------------------

_PAIR_CTE = _CLS_CTE.rstrip().rstrip(")") + """
), pair AS (
  SELECT s.key AS s_key, t.key AS t_key,
         s.payload AS s_payload, t.payload AS t_payload
  FROM src s FULL OUTER JOIN tgt t ON s.key = t.key
)
"""


def _events_pair_classified(spark, sf_dir):
    """Fingerprint both event streams carrying the raw payload (the repair
    needs the source bytes, not just the hash)."""
    from spanner_data_validator_spark.operators.comparator import classify_pair

    src = events_source(spark, sf_dir)
    tgt = events_target(events_source(spark, sf_dir))

    def prep(df):
        return df.select(
            "key", fingerprint_expr(F.col("payload")).alias("fingerprint"),
            "payload")

    cls = classify_pair(prep(src), prep(tgt), ["key"], carry_cols=["payload"])
    return src, tgt, cls


@register("validation_repair_plan", _PAIR_CTE + """
SELECT coalesce(s_key, t_key) AS key,
       CASE WHEN t_payload IS NULL THEN 'INSERT'
            WHEN s_payload IS NULL THEN 'DELETE'
            ELSE 'UPDATE' END AS action,
       CASE WHEN s_payload IS NOT NULL THEN s_payload END AS new_payload
FROM pair
WHERE s_payload IS NULL OR t_payload IS NULL OR s_payload <> t_payload
""")
def q_validation_repair_plan(spark, sf_dir):
    """Anti-entropy changeset from the validator's classification: INSERT the
    SOURCE_ONLY keys, DELETE the TARGET_ONLY keys, UPDATE the MISMATCH keys
    with the source payload (operators/repair.py). Filter + projection over
    the classify join — no exchange the validation didn't already pay; at
    real divergence rates the changeset is <<1% of the keyspace. The
    reference stops at reporting (JDBCToSpannerDVTWithHash.java:191-246);
    this is the step an operator runs next."""
    from spanner_data_validator_spark.operators.repair import repair_actions

    _, _, cls = _events_pair_classified(spark, sf_dir)
    return repair_actions(cls, ["key"]).select("key", "action", "new_payload")


@register("repair_convergence", """
WITH src AS (
  SELECT event_id AS key FROM events
)
SELECT 'MATCH' AS status, CAST(count(*) AS BIGINT) AS n FROM src
""")
def q_repair_convergence(spark, sf_dir):
    """Convergence proof executed in-engine: apply the repair changeset to
    the divergent target snapshot, re-run the full classification, and
    return the status tally — which must be exactly one row,
    (MATCH, n_source_keys). The oracle is the trivial identity (repaired
    target == source by construction), so any repair bug — missed DELETE,
    wrong UPDATE payload, dropped INSERT — breaks the hash match."""
    from spanner_data_validator_spark.operators.comparator import classify_pair
    from spanner_data_validator_spark.operators.repair import (
        apply_repairs,
        repair_actions,
    )

    src, tgt, cls = _events_pair_classified(spark, sf_dir)
    actions = repair_actions(cls, ["key"])
    repaired = apply_repairs(
        tgt.select("key", "payload"), actions, ["key"])

    def prep(df):
        return df.select(
            "key", fingerprint_expr(F.col("payload")).alias("fingerprint"))

    recls = classify_pair(prep(src), prep(repaired), ["key"])
    return recls.groupBy("status").agg(F.count("*").cast("bigint").alias("n"))


# ---------------------------------------------------------------------------
# bloom-filter semi-join pre-filter (operators/bloom.py)
# ---------------------------------------------------------------------------

_BLOOM_POS = ("(('0x' || substr(md5({seed} || ':' || user_id), 1, 15))::BIGINT"
              " % {m})")


@register("bloom_prefilter_stats", f"""
WITH seeds(s) AS (VALUES (0), (1)),
build AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND value > 280 AND user_id IS NOT NULL
),
bits AS (
  SELECT DISTINCT {_BLOOM_POS.format(seed="s::VARCHAR", m=64)} AS p
  FROM build CROSS JOIN seeds
),
probe AS (
  SELECT e.event_id,
         count(b.p) = 2 AS pass,
         bool_or(e.user_id IN (SELECT user_id FROM build)) AS hit
  FROM events e
  CROSS JOIN seeds s
  LEFT JOIN bits b
    ON b.p = {_BLOOM_POS.format(seed="s.s::VARCHAR", m=64)}
  WHERE e.user_id IS NOT NULL
  GROUP BY e.event_id, e.user_id
)
SELECT b.n AS build_keys,
       p.bp AS bloom_pass_rows,
       p.xm AS exact_match_rows,
       p.bp - p.xm AS false_positive_rows
FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM build) b
CROSS JOIN (SELECT CAST(count(*) FILTER (WHERE pass) AS BIGINT) AS bp,
                   CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS xm
            FROM probe) p
""")
def q_bloom_prefilter_stats(spark, sf_dir):
    """False-positive accounting of the bloom pre-filter (operators/bloom.py):
    build over the high-value-purchaser cohort, probe every event, count
    bloom survivors vs exact matches. m=64/k=2 is DELIBERATELY undersized so
    false positives are visible and the oracle proves the engine's bitmap
    probe is bit-exact (a bitmap is the set of set positions, so membership
    == "all k positions appear in the build side's position set" — which
    DuckDB recomputes from the same seeded md5-prefix hash family). The
    production path auto-sizes via bloom_parameters (see
    bloom_semi_join_counts)."""
    from spanner_data_validator_spark.operators.bloom import (
        bloom_member,
        build_bloom,
    )

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    build = (src.where((F.col("event_type") == "purchase")
                       & (F.col("value") > 280)
                       & F.col("user_id").isNotNull())
                .select("user_id").distinct())
    bloom = build_bloom(build, "user_id", 64, 2)
    probe = src.where(F.col("user_id").isNotNull())
    # survivors are small by design — pin them once so the exact-verify join
    # and the tally don't each rescan the probe (multi-branch rescan trap)
    passed = probe.where(bloom_member("user_id", bloom)) \
                  .select("event_id", "user_id").localCheckpoint(eager=False)
    exact_n = (passed.join(build, "user_id", "left_semi")
                     .agg(F.count("*").cast("bigint").alias("exact_match_rows")))
    pass_n = passed.agg(F.count("*").cast("bigint").alias("bloom_pass_rows"))
    return (pass_n.crossJoin(exact_n)
            .select(F.lit(bloom.n_build_rows).cast("bigint").alias("build_keys"),
                    "bloom_pass_rows", "exact_match_rows",
                    (F.col("bloom_pass_rows") - F.col("exact_match_rows"))
                    .cast("bigint").alias("false_positive_rows")))


@register("bloom_semi_join_counts", """
WITH build AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND value > 280 AND user_id IS NOT NULL
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(e.event_id) AS BIGINT) AS max_event_id
FROM events e
JOIN build b ON e.user_id = b.user_id
GROUP BY e.event_type
""")
def q_bloom_semi_join_counts(spark, sf_dir):
    """End-to-end bloom_semi_join (auto-sized filter, exact verify): the
    oracle is a PLAIN semi-join — false positives may enlarge the verify
    join's input but can never change the answer, which is the operator's
    contract. Plan shape at 100 TB: probe scan -> narrow codegen'd bitmap
    filter (no exchange) -> semi-join of the shrunken survivor set."""
    from spanner_data_validator_spark.operators.bloom import bloom_semi_join

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    build = (src.where((F.col("event_type") == "purchase")
                       & (F.col("value") > 280))
                .select("user_id"))
    probe = src.where(F.col("user_id").isNotNull())
    return (bloom_semi_join(probe, build, "user_id", fpp=0.01)
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.max("event_id").cast("bigint").alias("max_event_id")))


# ---------------------------------------------------------------------------
# ledger first divergence, sorted-neighborhood linkage, three-way vote
# ---------------------------------------------------------------------------

@register("ledger_first_divergence", """
WITH src AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
tgt AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_id % 50 = 0 THEN c + 7 ELSE c END AS c
  FROM src WHERE event_id % 50 <> 1
  UNION ALL
  SELECT user_id, ts, event_id + 100000000 AS event_id, c
  FROM src WHERE event_id % 50 = 2
),
sj AS (
  SELECT user_id,
         CAST(row_number() OVER w AS BIGINT) AS rn,
         CAST(sum(c) OVER w AS BIGINT) AS src_cum
  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
tj AS (
  SELECT user_id,
         CAST(row_number() OVER w AS BIGINT) AS rn,
         CAST(sum(c) OVER w AS BIGINT) AS tgt_cum
  FROM tgt WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
j AS (
  SELECT coalesce(sj.user_id, tj.user_id) AS u,
         coalesce(sj.rn, tj.rn) AS rn, src_cum, tgt_cum
  FROM sj FULL JOIN tj ON sj.user_id = tj.user_id AND sj.rn = tj.rn
),
d AS (SELECT * FROM j WHERE src_cum IS DISTINCT FROM tgt_cum),
f AS (
  SELECT u, CAST(min(rn) AS BIGINT) AS first_rn,
         CAST(count(*) AS BIGINT) AS n_diverged
  FROM d GROUP BY u
)
SELECT f.u AS user_id, f.first_rn, d.src_cum, d.tgt_cum, f.n_diverged
FROM f JOIN d ON d.u = f.u AND d.rn = f.first_rn
""")
def q_ledger_first_divergence(spark, sf_dir):
    """Running-balance reconciliation over the planted dual stream: per
    user, the earliest row position where the source and target
    cumulative cent sums diverge, plus how many positions disagree
    (operators/diff.first_running_divergence). Totals-level validation
    (summary_validation) misses dropped+compensating pairs; the running
    sum pinpoints the first bad row. Integer cents only — float running
    sums are accumulation-order-dependent. The planted rule mutates
    value (+7 cents where key%50=0), drops key%50=1, inserts key%50=2."""
    from spanner_data_validator_spark.operators.diff import (
        first_running_divergence,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
    src = (ev.where(F.col("value").isNotNull())
           .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                   "event_id", cents.alias("c")))
    kept = src.where(F.col("event_id") % 50 != 1).withColumn(
        "c", F.when(F.col("event_id") % 50 == 0, F.col("c") + 7)
              .otherwise(F.col("c")))
    ins = (src.where(F.col("event_id") % 50 == 2)
           .withColumn("event_id", F.col("event_id") + F.lit(100_000_000)))
    tgt = kept.unionByName(ins)
    return first_running_divergence(
        src, tgt, key="user_id", order=["ts", "event_id"],
        amount=F.col("c"))


@register("sorted_neighborhood_linkage", """
WITH part_k AS (
  SELECT p_partkey, p_name || '#' || CAST(p_partkey AS VARCHAR) AS lk_key
  FROM part
),
keys AS (
  SELECT p_partkey AS i, lk_key AS k FROM part_k
  UNION ALL
  SELECT p_partkey + 10000000 AS i,
         substring(lk_key, 1, CAST(p_partkey % length(lk_key) AS INT))
           || substring(lk_key,
                        CAST(p_partkey % length(lk_key) AS INT) + 2,
                        length(lk_key)) AS k
  FROM part_k WHERE p_partkey % 5 = 0
),
r AS (
  SELECT i, k, row_number() OVER (ORDER BY k, i) AS rn FROM keys
)
SELECT a.i AS id_a, b.i AS id_b, a.k AS key_a, b.k AS key_b,
       CAST(levenshtein(a.k, b.k) AS INT) AS dist
FROM r a JOIN r b ON b.rn >= a.rn + 1 AND b.rn <= a.rn + 3
WHERE levenshtein(a.k, b.k) <= 1
""")
def q_sorted_neighborhood_linkage(spark, sf_dir):
    """Sorted-neighborhood blocking over the same drifted-key corpus as
    fuzzy_key_match (operators/linkage.sorted_neighborhood_pairs):
    global key order via bucketed distributed row_number, each key
    compared with its 3 successors, levenshtein<=1 verification. Finds
    the late-position drifts (sort-adjacent) and — deterministically —
    misses early-position ones: the classic ER trade, run as a third
    blocker beside deletion and segment blocking."""
    from spanner_data_validator_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    part = spark.read.parquet(f"{sf_dir}/part.parquet") \
        .withColumn("lk_key", F.concat_ws("#", "p_name",
                                          F.col("p_partkey").cast("string")))
    src = part.select(F.col("p_partkey").alias("id"),
                      F.col("lk_key").alias("key"))
    pos = (F.col("p_partkey") % F.length("lk_key")).cast("int")
    drifted = F.concat(F.col("lk_key").substr(F.lit(1), pos),
                       F.col("lk_key").substr(pos + F.lit(2),
                                              F.length("lk_key")))
    tgt = (part.where(F.col("p_partkey") % 5 == 0)
           .select((F.col("p_partkey") + 10_000_000).alias("id"),
                   drifted.alias("key")))
    return sorted_neighborhood_pairs(
        src.unionByName(tgt), "key", "id", window=4, max_distance=1)


@register("three_way_vote", """
WITH src AS (
  SELECT event_id AS key,
         concat_ws('|', coalesce(event_type,''), coalesce(props,''),
                   coalesce(CAST(user_id AS STRING),'')) AS payload
  FROM events
),
tgt AS (
  SELECT key,
         CASE WHEN key % 50 = 0 THEN payload || '#mut' ELSE payload END
           AS payload
  FROM src WHERE key % 50 <> 1
  UNION ALL
  SELECT key + 100000000 AS key, payload FROM src WHERE key % 50 = 2
),
bak AS (
  SELECT key,
         CASE WHEN key % 49 = 0 THEN payload || '#mutb' ELSE payload END
           AS payload
  FROM src WHERE key % 50 <> 3
  UNION ALL
  SELECT key + 200000000 AS key, payload FROM src WHERE key % 50 = 4
),
j AS (
  SELECT s.payload AS sp, t.payload AS tp, b.payload AS bp
  FROM src s
  FULL JOIN tgt t ON s.key = t.key
  FULL JOIN bak b ON coalesce(s.key, t.key) = b.key
),
c AS (
  SELECT
    (CASE WHEN sp IS NOT NULL THEN 1 ELSE 0 END
     + CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END
     + CASE WHEN bp IS NOT NULL THEN 1 ELSE 0 END) AS n_present,
    CASE WHEN sp = tp THEN TRUE ELSE FALSE END AS st_eq,
    CASE WHEN sp = bp THEN TRUE ELSE FALSE END AS sb_eq,
    CASE WHEN tp = bp THEN TRUE ELSE FALSE END AS tb_eq,
    CASE WHEN sp = tp OR sp = bp THEN sp
         WHEN tp = bp THEN tp END AS vote
  FROM j
),
cls AS (
  SELECT CASE
    WHEN n_present = 3 AND st_eq AND sb_eq THEN 'ALL_MATCH'
    WHEN n_present = 3 AND (st_eq OR sb_eq OR tb_eq) THEN 'MAJORITY'
    WHEN n_present = 3 THEN 'ALL_DIFFER'
    WHEN n_present = 2 AND (st_eq OR sb_eq OR tb_eq) THEN 'PAIR_MATCH'
    WHEN n_present = 2 THEN 'PAIR_DIFFER'
    ELSE 'SINGLETON' END AS status,
    vote
  FROM c
)
SELECT status, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN vote IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_votable
FROM cls GROUP BY status
""")
def q_three_way_vote(spark, sf_dir):
    """Three-replica majority vote (operators/comparator.
    classify_three_way): the 2-side CoGBK classify extended to the
    source/target/backup triple, with planted divergence cycles chosen
    so every status occurs — co-prime mutation cycles (%50 target, %49
    backup) collide at %2450 for ALL_DIFFER, intersect the %50==1
    target-drop residue for PAIR_DIFFER (a %70 cycle would make that
    combination CRT-infeasible: gcd(70,50)=10 divides no residue gap), per-side drop cycles give
    PAIR_* and SINGLETON. Reports per-status key counts and how many
    keys have a writable majority value (the auto-repair frontier).
    Both extra joins stay keyed on `key` — one partitioning reused."""
    from spanner_data_validator_spark.operators.comparator import (
        classify_three_way,
    )

    # src fans out into 5 synth branches (itself + 2 per derived
    # replica) — pin it or each branch re-scans events (multi-branch
    # rescan trap; real deployments read 3 distinct tables instead)
    src = events_source(spark, sf_dir).localCheckpoint(eager=True)
    tgt = events_target(src)
    kept = src.where(F.col("key") % 50 != 3)
    mutated = kept.withColumn(
        "payload",
        F.when(F.col("key") % 49 == 0,
               F.concat(F.col("payload"), F.lit("#mutb")))
         .otherwise(F.col("payload")))
    inserted = src.where(F.col("key") % 50 == 4).withColumn(
        "key", F.col("key") + F.lit(200_000_000))
    bak = mutated.unionByName(inserted)

    def prep(df):
        return df.select(
            F.col("key"),
            fingerprint_expr(F.col("payload")).alias("fingerprint"))

    cls = classify_three_way(prep(src), prep(tgt), prep(bak), ["key"])
    return (cls.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("vote_fp").isNotNull().cast("long"))
                  .alias("n_votable")))


# ---------------------------------------------------------------------------
# File-level quarantine (sources/files.scan_parquet_health): whole-file
# corruption made a first-class result — the split ignoreCorruptFiles
# performs silently
# ---------------------------------------------------------------------------

@register("parquet_health_quarantine", """
SELECT CAST(3 AS BIGINT) AS n_files_ok,
       CAST(2 AS BIGINT) AS n_files_bad,
       CAST(3 * count(*) AS BIGINT) AS rows_ok,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM documents
""")
def q_parquet_health_quarantine(spark, sf_dir):
    """Read a drop directory containing three intact copies of the
    documents table, one TRUNCATED parquet (torn upload — footer gone)
    and one non-parquet stray: sources/files.read_with_quarantine
    footer-validates every file distributedly (metadata-only reads via
    mapInPandas over the path list), reads only the healthy ones, and
    reports the quarantine split explicitly. One row:
    (files ok/bad, rows read, distinct docs)."""
    import shutil
    from spanner_data_validator_spark.sources.files import (
        read_with_quarantine,
    )

    src = f"{sf_dir}/documents.parquet"
    work = work_dir("sdv_q_health_")
    for i in range(3):
        shutil.copy(src, f"{work}/c{i}.parquet")
    with open(src, "rb") as f:
        head = f.read(4096)
    with open(f"{work}/torn.parquet", "wb") as f:
        f.write(head)  # magic bytes present, footer missing
    with open(f"{work}/stray.parquet", "w") as f:
        f.write("not parquet at all\n")

    good, health = read_with_quarantine(spark, work)
    h = health.agg(
        F.sum(F.col("ok").cast("long")).alias("n_files_ok"),
        F.sum((~F.col("ok")).cast("long")).alias("n_files_bad"))
    g = good.agg(F.count(F.lit(1)).alias("rows_ok"),
                 F.countDistinct("doc_id").alias("n_docs"))
    return h.crossJoin(g)


# ---------------------------------------------------------------------------
# Conversation branch detection (operators/rollup.branch_points): shared-
# prefix families — the dup class of regenerated agent rollouts, which
# whole-document near-dup (MinHash) misses when the shared prefix is a
# small fraction of both transcripts
# ---------------------------------------------------------------------------

_BRANCH_TURN_HASH = ("substr(md5(concat_ws(chr(31), "
                     "coalesce(CAST(role AS VARCHAR), ''), "
                     "coalesce(CAST(text AS VARCHAR), ''))), 1, 15)")

_BRANCH_SQL = f"""
WITH base AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              - 1 AS INT) AS turn_idx,
         coalesce(event_type, '') AS role,
         coalesce(props, '') AS text
  FROM events
),
mx AS (SELECT conv_id, max(turn_idx) AS m FROM base GROUP BY conv_id),
branch AS (
  SELECT b.conv_id || 'b' AS conv_id, b.turn_idx, b.role,
         CASE WHEN b.turn_idx * 2 <= mx.m THEN b.text
              ELSE b.text || '#alt' END AS text
  FROM base b JOIN mx USING (conv_id)
  WHERE CAST(b.conv_id AS BIGINT) % 7 = 0
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM branch),
sig AS (
  SELECT conv_id, turn_idx,
         string_agg({_BRANCH_TURN_HASH}, '|') OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix_sig
  FROM corpus
),
sh AS (
  SELECT turn_idx, prefix_sig FROM sig
  GROUP BY turn_idx, prefix_sig HAVING count(*) > 1
),
per AS (
  SELECT s.conv_id, CAST(max(s.turn_idx + 1) AS BIGINT) AS shared
  FROM sig s JOIN sh USING (turn_idx, prefix_sig)
  GROUP BY s.conv_id
)
SELECT c.conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(coalesce(max(p.shared), 0) AS BIGINT) AS shared_prefix_turns
FROM corpus c LEFT JOIN per p USING (conv_id)
GROUP BY c.conv_id
"""


@register("conv_branch_detect", _BRANCH_SQL)
def q_conv_branch_detect(spark, sf_dir):
    """Regenerated-rollout detection: every 7th conversation gets a planted
    branch twin sharing the first half of its turns then diverging;
    rollup.branch_points labels each conversation with the deepest prefix
    it shares with any other (prefix signatures under conversation-
    partitioned windows, shared-(depth, sig) semi-join). The oracle replays
    the identical windowed string_agg construction."""
    from spanner_data_validator_spark.operators.rollup import branch_points

    base = transcripts_from_events(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text")
    mx = base.groupBy("conv_id").agg(F.max("turn_idx").alias("m"))
    branch = (base.join(mx, "conv_id")
              .where(F.col("conv_id").cast("long") % 7 == 0)
              .select(F.concat(F.col("conv_id"), F.lit("b")).alias("conv_id"),
                      "turn_idx", "role",
                      F.when(F.col("turn_idx") * 2 <= F.col("m"),
                             F.col("text"))
                      .otherwise(F.concat(F.col("text"), F.lit("#alt")))
                      .alias("text")))
    corpus = base.unionByName(branch)
    return branch_points(corpus, "conv_id", "turn_idx", ["role", "text"])
