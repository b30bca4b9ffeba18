"""Data-quality analytics of the oracle-paired registry.

The checks and monitors a validation run leans on besides the key-by-key
compare: distinct-count sketches (KMV, HLL), exact heavy hitters, column
profiles and the equi-depth histogram, distribution drift and quantiles,
key-skew and join-cardinality pre-flights, CEP absence alerts and the
statistical monitors (KS, Mann-Whitney U, robust outliers, Benford,
functional dependencies, CUSUM, trend slope, lag-1 autocorrelation,
weighted median). Also still here: the salted-join and Z-order layout
queries, general analytics that no validator path reaches. Registered into
``demo_queries.QUERIES`` / ``ORACLES`` on import.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.layout import zorder_key, zorder_sql_expr
from spanner_data_validator_spark.operators.skew import key_skew_profile
from spanner_data_validator_spark.plans.demo_queries import (
    _benford_case,
    register,
    transcripts_from_events,
)


# ---------------------------------------------------------------------------
# KMV distinct sketch (operators/sketch.py): constant-size, engine-portable
# distinct estimation — the scalable COUNT(DISTINCT) for 10^12-row columns
# ---------------------------------------------------------------------------

def _kmv_oracle(k: int) -> str:
    from spanner_data_validator_spark.operators.sketch import kmv_distinct_sql

    sketch = kmv_distinct_sql(
        "SELECT CAST(user_id AS VARCHAR) AS u FROM events", "u", k)
    return f"""
WITH sk AS ({sketch}),
ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct FROM events)
SELECT k_used, kth_hash, est_distinct, exact_distinct FROM sk, ex
"""


@register("kmv_distinct_users", _kmv_oracle(64))
def q_kmv_distinct_users(spark, sf_dir):
    """KMV distinct-count sketch over events.user_id (k=64): phase-1 narrow
    per-partition k-smallest-distinct reduce, <= partitions*k longs exchanged,
    deterministic portable-hash estimator DuckDB reproduces bit-for-bit. The
    exact COUNT(DISTINCT) rides along as the demo-scale verification column
    (it is the thing the sketch REPLACES at 10^12 rows)."""
    from spanner_data_validator_spark.operators.sketch import kmv_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("u"))
    sk = kmv_distinct(ev, F.col("u"), 64)
    exact = ev.agg(F.count_distinct("u").alias("exact_distinct"))
    return sk.crossJoin(exact)


# ---------------------------------------------------------------------------
# KMV set operations (operators/sketch.py): union / intersection / Jaccard
# of two user populations from two constant-size sketches
# ---------------------------------------------------------------------------

def _kmv_set_ops_oracle(k: int) -> str:
    from spanner_data_validator_spark.operators.sketch import kmv_set_ops_sql

    src_a = ("SELECT CAST(user_id AS VARCHAR) AS u FROM events "
             "WHERE event_type = 'click'")
    src_b = ("SELECT CAST(user_id AS VARCHAR) AS u FROM events "
             "WHERE event_type = 'purchase'")
    est = kmv_set_ops_sql(src_a, "u", src_b, "u", k)
    return f"""
WITH est AS ({est}),
exu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_union
        FROM events WHERE event_type IN ('click', 'purchase')),
exi AS (SELECT CAST(count(DISTINCT e1.user_id) AS BIGINT) AS exact_inter
        FROM events e1
        WHERE e1.event_type = 'click' AND e1.user_id IN (
          SELECT e2.user_id FROM events e2 WHERE e2.event_type = 'purchase'))
SELECT k_used, union_est, jaccard_est, inter_est, exact_union, exact_inter
FROM est, exu, exi
"""


@register("kmv_set_ops", _kmv_set_ops_oracle(128))
def q_kmv_set_ops(spark, sf_dir):
    """Set-operation estimates between two user populations (clickers vs
    purchasers) from two k=128 KMV sketches: union size, Jaccard, and
    intersection size — computed from the sketches ALONE (no distinct-join
    of the sides; operators/sketch.kmv_set_ops). Exact union/intersection
    ride along as demo-scale verification columns; DuckDB replays the
    sketch math in relational form."""
    from spanner_data_validator_spark.operators.sketch import kmv_set_ops

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").cast("string").alias("u"))
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("string").alias("u"))
    est = kmv_set_ops(clicks, F.col("u"), buys, F.col("u"), 128)
    exact = (clicks.select("u").distinct()
             .join(buys.select("u").distinct(), "u", "full_outer")
             .agg(F.count(F.lit(1)).alias("exact_union")))
    exact_i = (clicks.select("u").distinct()
               .join(buys.select("u").distinct(), "u")
               .agg(F.count(F.lit(1)).alias("exact_inter")))
    return est.crossJoin(exact).crossJoin(exact_i)


# ---------------------------------------------------------------------------
# HyperLogLog with an engine-portable register layout (operators/sketch.py):
# per-group sketches + a raw-data-free merged rollup
# ---------------------------------------------------------------------------

def _hll_oracle() -> str:
    from spanner_data_validator_spark.operators.sketch import (
        hll_estimate_sql,
        hll_registers_sql,
    )

    src = "SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events"
    regs = hll_registers_sql(src, "event_type", "u")
    merged = f"SELECT reg, max(mj) AS mj FROM ({regs}) GROUP BY reg"
    return f"""
WITH per_t AS ({hll_estimate_sql(regs, "event_type")}),
mrg AS ({hll_estimate_sql(merged, "")}),
ex_t AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
         FROM events GROUP BY event_type),
ex_all AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct FROM events)
SELECT p.event_type AS event_type, p.nonempty, p.hll_estimate, e.exact_distinct
FROM per_t p JOIN ex_t e USING (event_type)
UNION ALL
SELECT '__ALL__' AS event_type, m.nonempty, m.hll_estimate, a.exact_distinct
FROM mrg m, ex_all a
"""


@register("hll_distinct_by_type", _hll_oracle())
def q_hll_distinct_by_type(spark, sf_dir):
    """HyperLogLog distinct users per event_type (m=256 registers,
    engine-portable layout: bin-length ranks, scaled-integer harmonic sum —
    operators/sketch.py). The '__ALL__' row is the MERGED sketch (per-register
    max over the per-type register tables), i.e. the rollup a 10^12-row
    pipeline does without rescanning raw data — overlapping users across
    types make it differ from the sum, which is the point. Exact
    COUNT(DISTINCT) rides along per group as the demo-scale verification
    column. DuckDB replays registers, merge, and estimator identically."""
    from spanner_data_validator_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.col("user_id").cast("string").alias("u"))
    # the register table feeds two branches (per-type estimate + merged
    # rollup) and is <= types*m rows — pin it (multi-branch rescan trap)
    regs = hll_registers(ev, ["event_type"], F.col("u")).localCheckpoint()
    per_t = hll_estimate(regs, ["event_type"])
    merged = (hll_estimate(hll_merge(regs, []), [])
              .select(F.lit("__ALL__").alias("event_type"),
                      "nonempty", "hll_estimate"))
    ex_t = (ev.groupBy("event_type")
            .agg(F.count_distinct("u").alias("exact_distinct")))
    ex_all = ev.agg(F.count_distinct("u").alias("exact_distinct"))
    return (per_t.join(ex_t, "event_type")
            .unionByName(merged.crossJoin(ex_all))
            .select("event_type", "nonempty", "hll_estimate",
                    "exact_distinct"))


# ---------------------------------------------------------------------------
# column profile + distribution-drift tiers (operators/profile.py)
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """
WITH ev AS (
  SELECT event_id, user_id, event_type, props, epoch_ms(ts) AS ts_ms FROM events
)
SELECT 'event_id' AS col_name, count(event_id) AS n_nonnull,
       sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS n_null,
       count(DISTINCT event_id) AS n_distinct,
       CAST(min(event_id) AS VARCHAR) AS min_repr,
       CAST(max(event_id) AS VARCHAR) AS max_repr FROM ev
UNION ALL
SELECT 'user_id', count(user_id),
       sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
       count(DISTINCT user_id),
       CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR) FROM ev
UNION ALL
SELECT 'event_type', count(event_type),
       sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END),
       count(DISTINCT event_type),
       CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR) FROM ev
UNION ALL
SELECT 'props', count(props),
       sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END),
       count(DISTINCT props),
       CAST(min(props) AS VARCHAR), CAST(max(props) AS VARCHAR) FROM ev
UNION ALL
SELECT 'ts_ms', count(ts_ms),
       sum(CASE WHEN ts_ms IS NULL THEN 1 ELSE 0 END),
       count(DISTINCT ts_ms),
       CAST(min(ts_ms) AS VARCHAR), CAST(max(ts_ms) AS VARCHAR) FROM ev
"""


@register("column_profile_events", _PROFILE_ORACLE)
def q_column_profile_events(spark, sf_dir):
    """One-pass column profile of `events` (profile.column_profile): the
    cheapest validation tier — per-column non-null/null/distinct counts and
    native-typed min/max rendered after the aggregate. k exact
    count-distincts run in one scan via Spark's EXPAND; timestamps pre-cast
    to unix millis so the rendering is engine-portable. Reference analogue:
    generalizes the A1/J2 tally (one summary row) to per-column statistics."""
    from spanner_data_validator_spark.operators.profile import column_profile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "props",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"))
    return column_profile(ev, ["event_id", "user_id", "event_type", "props", "ts_ms"])


@register("numeric_hist_drift", """
WITH b AS (
  SELECT least(greatest(CAST(floor(n_chars * 16 / 640) AS BIGINT), 0), 15) AS bin,
         doc_id
  FROM documents WHERE n_chars IS NOT NULL
),
s AS (SELECT bin, count(*) AS src_n FROM b GROUP BY bin),
t AS (SELECT bin, count(*) AS tgt_n FROM b WHERE doc_id % 10 <> 7 GROUP BY bin)
SELECT coalesce(s.bin, t.bin) AS bin,
       coalesce(src_n, 0) AS src_n,
       coalesce(tgt_n, 0) AS tgt_n,
       abs(coalesce(src_n, 0) - coalesce(tgt_n, 0)) AS abs_diff
FROM s FULL OUTER JOIN t ON s.bin = t.bin
""")
def q_numeric_hist_drift(spark, sf_dir):
    """Distribution drift via equi-width histograms (profile.histogram_drift):
    16 integer bins of doc n_chars, full corpus vs a deterministically
    degraded re-ingest (doc_id % 10 = 7 dropped). Each side reduces to
    <= 16 rows map-side before the tiny merge — the whole comparison costs
    two aggregates regardless of corpus size, and integer bin counts are
    bit-exact across engines (unlike approx-quantile sketches)."""
    from spanner_data_validator_spark.operators.profile import histogram_drift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs
    tgt = docs.where(F.col("doc_id") % 10 != 7)
    return histogram_drift(src, tgt, F.col("n_chars"), lo=0, hi=640, n_bins=16)


@register("lang_token_quantiles", """
WITH d AS (
  SELECT lang, n_chars,
         doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, p, n_chars AS q_value
FROM d CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                                  CAST(0.99 AS DOUBLE)]) AS p)
WHERE rn = CAST(ceil(p * n) AS BIGINT)
""")
def q_lang_token_quantiles(spark, sf_dir):
    """Exact discrete per-language length quantiles (profile.quantiles_by_rank):
    the value at the ceil(p*n)-th ordered row — no interpolation, so the
    answer is a value that exists in the data and matches any engine
    bit-for-bit (p*n is the same IEEE double product in both; the oracle
    pins DOUBLE literals so DuckDB doesn't compute in DECIMAL). One exchange
    keyed by lang; the sort is within-group, never global."""
    from spanner_data_validator_spark.operators.profile import quantiles_by_rank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quantiles_by_rank(docs, "lang", F.col("n_chars"),
                             ps=[0.5, 0.9, 0.99], tiebreak=F.col("doc_id"))


_HQ_LO, _HQ_HI, _HQ_BINS = 0, 2048, 64
_HQ_WIDTH = (_HQ_HI - _HQ_LO) / _HQ_BINS


@register("hist_token_quantiles", f"""
WITH h AS (
  SELECT lang,
         CAST(least(greatest(floor((n_chars - {_HQ_LO}) * {_HQ_BINS}
                                   / ({_HQ_HI} - {_HQ_LO})), 0),
                    {_HQ_BINS - 1}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS cnt
  FROM documents WHERE n_chars IS NOT NULL
  GROUP BY lang, bin
),
c AS (SELECT *, sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY lang) AS n
      FROM h),
e AS (SELECT c.*, p, CAST(ceil(p * n) AS BIGINT) AS target
      FROM c CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
                                        CAST(0.9 AS DOUBLE),
                                        CAST(0.99 AS DOUBLE)]) AS p)),
hit AS (SELECT lang, p, bin, cnt, cum, target FROM e
        WHERE cum >= target AND cum - cnt < target),
approx AS (
  SELECT lang, p,
         round(CAST({_HQ_LO} AS DOUBLE) + {_HQ_WIDTH!r}
               * (CAST(bin AS DOUBLE)
                  + CAST(target - (cum - cnt) AS DOUBLE)
                    / CAST(cnt AS DOUBLE)), 4) AS est_value
  FROM hit),
d AS (
  SELECT lang, n_chars, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents),
exact AS (
  SELECT lang, p, n_chars AS exact_value
  FROM d CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
                                    CAST(0.9 AS DOUBLE),
                                    CAST(0.99 AS DOUBLE)]) AS p)
  WHERE rn = CAST(ceil(p * n) AS BIGINT))
SELECT a.lang AS lang, a.p AS p, a.est_value,
       CAST(x.exact_value AS BIGINT) AS exact_value,
       round(a.est_value - CAST(x.exact_value AS DOUBLE), 4) AS err
FROM approx a JOIN exact x ON a.lang = x.lang AND a.p = x.p
""")
def q_hist_token_quantiles(spark, sf_dir):
    """Approximate per-language length quantiles from a 64-bin MERGEABLE
    histogram (profile.hist_quantiles) next to the exact rank quantile —
    the production shape at 10^12 rows: per-partition bin counts merge by
    addition, daily histograms roll up without raw data, error bounded by
    the 32-char bin width. The oracle replays binning, cumulative pick,
    and interpolation bit-for-bit (shared width literal, explicit floor
    per the CLAUDE.md cast-rounding trap)."""
    from spanner_data_validator_spark.operators.profile import (
        hist_quantiles,
        quantiles_by_rank,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    approx = hist_quantiles(docs, "lang", F.col("n_chars"),
                            lo=_HQ_LO, hi=_HQ_HI, n_bins=_HQ_BINS,
                            ps=[0.5, 0.9, 0.99])
    exact = quantiles_by_rank(docs, "lang", F.col("n_chars"),
                              ps=[0.5, 0.9, 0.99], tiebreak=F.col("doc_id"))
    return (approx.join(exact, ["lang", "p"])
            .select("lang", "p", "est_value",
                    F.col("q_value").cast("long").alias("exact_value"),
                    F.round(F.col("est_value")
                            - F.col("q_value").cast("double"), 4)
                     .alias("err")))


# ---------------------------------------------------------------------------
# per-group KMV distinct sketch (operators/sketch.py)
# ---------------------------------------------------------------------------

def _kmv_group_oracle(k: int) -> str:
    from spanner_data_validator_spark.operators.sketch import (
        kmv_distinct_by_group_sql,
    )

    return kmv_distinct_by_group_sql(
        "SELECT event_type, user_id FROM events", "event_type",
        "CAST(user_id AS VARCHAR)", k)


@register("kmv_distinct_by_type", _kmv_group_oracle(32))
def q_kmv_distinct_by_type(spark, sf_dir):
    """Per-group KMV distinct sketch (sketch.kmv_distinct_by_group):
    distinct users per event_type with a k=32 sketch — phase 1 keeps a
    k-smallest-distinct frame per (partition, group) with NO shuffle; the
    exchange carries <= partitions*groups*k longs. Deterministic
    cross-engine estimator (portable hash family, exact-below-k fallback),
    the per-source cardinality dashboard a 10^12-row corpus can afford."""
    from spanner_data_validator_spark.operators.sketch import (
        kmv_distinct_by_group,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return kmv_distinct_by_group(
        ev, "event_type", F.col("user_id").cast("string"), 32)


# ---------------------------------------------------------------------------
# exact heavy hitters via Misra-Gries candidates (operators/sketch.py)
# ---------------------------------------------------------------------------

@register("heavy_hitters_tri", """
WITH it AS (
  SELECT CAST(floor(sqrt(CAST(event_id % 250000 AS DOUBLE))) AS BIGINT)
           AS item
  FROM events
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM it),
c AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM it GROUP BY item)
SELECT c.item, c.cnt, n.n_total
FROM c, n WHERE c.cnt * 257 > n.n_total
""")
def q_heavy_hitters_tri(spark, sf_dir):
    """Sketch-accelerated EXACT heavy hitters (count > n/257) via
    Misra-Gries(256) candidate pruning + exact verification
    (operators/sketch.heavy_hitters_exact). The item key is a planted
    triangular distribution — floor(sqrt(event_id % 250000)) makes key v
    appear ~2v+1 times — because the corpus's natural keys are uniform
    by construction; at sf0.1 the ~317-key domain exceeds the 256
    counters, so the sketch genuinely prunes. The exact re-count makes
    the output independent of which extra candidates MG emitted, so the
    oracle is plain SQL."""
    from spanner_data_validator_spark.operators.sketch import (
        heavy_hitters_exact,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    item = F.floor(F.sqrt((F.col("event_id") % 250000).cast("double")))
    return heavy_hitters_exact(ev, item, 256)


@register("weighted_heavy_hitters_tri", """
WITH it AS (
  SELECT CAST(floor(sqrt(CAST(event_id % 250000 AS DOUBLE))) AS BIGINT)
           AS item,
         CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT) AS w
  FROM events WHERE value IS NOT NULL
),
t AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM it),
c AS (SELECT item, CAST(sum(w) AS BIGINT) AS w_sum FROM it GROUP BY item)
SELECT c.item, c.w_sum, t.w_total
FROM c, t WHERE c.w_sum * 257 > t.w_total
""")
def q_weighted_heavy_hitters_tri(spark, sf_dir):
    """Weighted (revenue-share) exact heavy hitters: items carrying more
    than 1/257 of total cents, via weighted Misra-Gries candidates +
    exact re-aggregation (operators/sketch.weighted_heavy_hitters_exact).
    Same planted triangular key domain as heavy_hitters_tri; the weight
    generalization keeps the superset guarantee because MG's decrement
    argument is weight-oblivious, and the exact second pass again erases
    the sketch's partitioning order-dependence."""
    from spanner_data_validator_spark.operators.sketch import (
        weighted_heavy_hitters_exact,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .where(F.col("value").isNotNull())
    item = F.floor(F.sqrt((F.col("event_id") % 250000).cast("double")))
    w = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
    return weighted_heavy_hitters_exact(ev, item, w, 256)


# ---------------------------------------------------------------------------
# join key skew profile (operators/skew.py)
# ---------------------------------------------------------------------------

@register("join_skew_profile", """
WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY user_id),
s AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
             CAST(count(*) AS DOUBLE) AS n_keys FROM c)
SELECT user_id, cnt,
       CAST(cnt AS DOUBLE) / total AS share,
       CAST(cnt AS DOUBLE) * n_keys / total AS skew_factor
FROM c, s
ORDER BY cnt DESC, user_id ASC
LIMIT 10
""")
def q_join_skew_profile(spark, sf_dir):
    """Heavy-hitter key profile (skew.key_skew_profile): the pre-flight
    check before choosing broadcast/salt/plain-hash join strategy. One
    keyed aggregation + a broadcast 1-row global stat + TakeOrderedAndProject
    top-N — never a global sort, never a second scan."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return key_skew_profile(ev, "user_id", top_n=10)


# ---------------------------------------------------------------------------
# pre-flight join cardinality (operators/skew.py)
# ---------------------------------------------------------------------------

@register("join_cardinality_estimate", """
WITH lc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cl
            FROM events GROUP BY user_id),
rc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cr
       FROM events WHERE event_type <> 'error' GROUP BY user_id),
p AS (SELECT cl * cr AS rows_per_key FROM lc JOIN rc USING (user_id))
SELECT CAST(coalesce(sum(rows_per_key), 0) AS BIGINT) AS est_rows,
       CAST(count(*) AS BIGINT) AS n_shared_keys,
       CAST(coalesce(max(rows_per_key), 0) AS BIGINT) AS max_key_rows
FROM p
""")
def q_join_cardinality_estimate(spark, sf_dir):
    """Pre-flight join-explosion check (skew.join_cardinality): the EXACT
    row count of events ⋈ events-minus-errors on user_id, computed from
    (key, count) tables only — never materializing the join. The
    companion to join_skew_profile: run both before an unfamiliar join at
    100 TB."""
    from spanner_data_validator_spark.operators.skew import join_cardinality
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return join_cardinality(
        ev, ev.where(F.col("event_type") != "error"), ["user_id"])


# ---------------------------------------------------------------------------
# salted joins (operators/skew.py): uniform and hot-key-only salting
# ---------------------------------------------------------------------------

@register("salted_join_totals", """
WITH dim AS (
  SELECT DISTINCT event_type,
         CAST(length(event_type) AS BIGINT) AS weight
  FROM events
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(weight) AS BIGINT) AS total_weight
FROM events e JOIN dim USING (event_type)
GROUP BY e.event_type
""")
def q_salted_join_totals(spark, sf_dir):
    """Skew-salted dimension join (skew.salted_join): the fact side scatters
    each row into 8 hash-of-event_id salt buckets, the 5-row dim replicates
    x8, and the hot join key ('event_type' has only 5 values — every key is
    a hot key) spreads across 40 sub-keys instead of 5 partitions. Results
    are identical to the plain join — asserted by the oracle, which runs
    the unsalted equivalent."""
    from spanner_data_validator_spark.operators.skew import salted_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "event_id")
    dim = (ev.select("event_type").distinct()
             .withColumn("weight", F.length("event_type").cast("long")))
    joined = salted_join(ev, dim, ["event_type"], 8,
                         big_salt_source=F.col("event_id"))
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("weight").cast("long").alias("total_weight"))


@register("adaptive_salted_join_agg", """
WITH big AS (
  SELECT CASE WHEN user_id % 10 < 4 THEN -1 ELSE user_id END AS k, user_id
  FROM events
),
dim AS (SELECT DISTINCT k, k % 7 AS seg FROM big)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(user_id) AS BIGINT) AS uid_sum
FROM big JOIN dim USING (k)
GROUP BY seg
""")
def q_adaptive_salted_join_agg(spark, sf_dir):
    """Hot-key-adaptive salted join: ~40% of events collapse onto one join
    key; hot_keys (exact two-level count, BIGINT-exact fraction threshold)
    detects it, and adaptive_salted_join fans ONLY that key across 16
    salts — the cold tail's shuffle stays byte-identical to the unsalted
    plan and the dimension side replicates just the hot rows (uniform
    salting would 16x the whole dimension). Output equals the plain join
    bit-for-bit; the oracle IS the plain join."""
    from spanner_data_validator_spark.operators.skew import (
        adaptive_salted_join,
        hot_keys,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.expr("CASE WHEN user_id % 10 < 4 THEN -1 ELSE user_id END")
        .alias("k"), "user_id", "event_id")
    dim = ev.select("k").distinct().withColumn("seg", F.expr("k % 7"))
    hot = hot_keys(ev, "k", min_frac=0.01)
    joined = adaptive_salted_join(ev, dim, "k", hot, 16,
                                  big_salt_source=F.col("event_id"))
    return joined.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("uid_sum"))


# ---------------------------------------------------------------------------
# data layout (operators/layout.py): Z-order key, equi-depth buckets
# ---------------------------------------------------------------------------

_ZORDER_ORACLE_EXPR = zorder_sql_expr(
    ["(user_id % 256)", "EXTRACT(hour FROM ts)"], bits=8)



@register("zorder_layout_buckets", f"""
WITH z AS (SELECT {_ZORDER_ORACLE_EXPR} AS zkey, user_id FROM events)
SELECT (zkey >> 6) AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM z GROUP BY z_bucket
""")
def q_zorder_layout_buckets(spark, sf_dir):
    """Morton (Z-order) key over two dimensions — (user_id mod 256,
    hour-of-day) — bucketed to show the multi-dim clustering a zordered
    write gives parquet min/max pruning. The key is bits*k pure-codegen ALU
    ops per row (layout.zorder_key); the oracle computes the bit-identical
    interleave via layout.zorder_sql_expr — one generator renders both
    engines' arithmetic. At 100 TB this key feeds
    layout.write_zordered's repartitionByRange so every interleaved
    dimension keeps ~1/k of its pruning power."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    z = ev.select(
        zorder_key([F.pmod(F.col("user_id"), F.lit(256)),
                    F.hour("ts").cast("long")], bits=8).alias("zkey"),
        "user_id")
    return (z.groupBy(F.shiftright(F.col("zkey"), 6).alias("z_bucket"))
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.countDistinct("user_id").alias("n_users")))


@register("equidepth_hist_price", """
WITH c AS (
  SELECT CAST(floor(o_totalprice * 1.0e2 + 5.0e-1) AS BIGINT) AS cents,
         o_orderkey
  FROM orders
),
t AS (
  SELECT cents,
         CAST(ntile(16) OVER (ORDER BY cents, o_orderkey) AS INT) AS bucket
  FROM c
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(min(cents) AS BIGINT) AS lo,
       CAST(max(cents) AS BIGINT) AS hi,
       CAST(sum(cents) AS BIGINT) AS cents_sum
FROM t GROUP BY bucket ORDER BY bucket
""")
def q_equidepth_hist_price(spark, sf_dir):
    """Equi-depth (equal-height) 16-bucket histogram of order value —
    the optimizer-statistics histogram form, built on
    layout.distributed_ntile so the global quantile bucketing runs with
    NO single-task window (value-range bins shard the rank; NTILE fill
    rule closed-form from (rank, n)). Per bucket: count and exact cents
    min/max/sum. The oracle is plain NTILE — same buckets bit-for-bit,
    (cents, orderkey) total order making ties deterministic."""
    from spanner_data_validator_spark.operators.layout import (
        distributed_ntile,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)) \
             .cast("long")
    c = o.select(cents.alias("cents"), "o_orderkey")
    t = distributed_ntile(
        c, F.col("cents"),
        [F.col("cents").asc(), F.col("o_orderkey").asc()], 16,
        out_col="bucket")
    return (t.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("cents").alias("lo"),
                 F.max("cents").alias("hi"),
                 F.sum("cents").alias("cents_sum"))
            .orderBy("bucket"))


# ---------------------------------------------------------------------------
# PSI distribution drift (operators/profile.psi_terms)
# ---------------------------------------------------------------------------

@register("psi_value_drift", """
WITH src AS (SELECT value FROM events WHERE value IS NOT NULL),
tgt AS (SELECT CASE WHEN user_id % 3 = 0 THEN value * 1.25 ELSE value END
          AS value
        FROM events WHERE value IS NOT NULL),
sb AS (SELECT least(greatest(CAST(floor((value - 0) * 16 / 200) AS BIGINT),
                             0), 15) AS bin, count(*) AS src_n
       FROM src GROUP BY 1),
tb AS (SELECT least(greatest(CAST(floor((value - 0) * 16 / 200) AS BIGINT),
                             0), 15) AS bin, count(*) AS tgt_n
       FROM tgt GROUP BY 1),
m AS (SELECT coalesce(sb.bin, tb.bin) AS bin,
             coalesce(src_n, 0) AS src_n, coalesce(tgt_n, 0) AS tgt_n
      FROM sb FULL OUTER JOIN tb ON sb.bin = tb.bin),
t AS (SELECT m.*, sum(src_n) OVER () AS ts, sum(tgt_n) OVER () AS tt FROM m)
SELECT bin, CAST(src_n AS BIGINT) AS src_n, CAST(tgt_n AS BIGINT) AS tgt_n,
       ((CASE WHEN src_n = 0 THEN 0.5 ELSE CAST(src_n AS DOUBLE) END
           / CAST(ts AS DOUBLE))
        - (CASE WHEN tgt_n = 0 THEN 0.5 ELSE CAST(tgt_n AS DOUBLE) END
           / CAST(tt AS DOUBLE)))
       * ln(((CASE WHEN src_n = 0 THEN 0.5 ELSE CAST(src_n AS DOUBLE) END
               / CAST(ts AS DOUBLE)))
            / ((CASE WHEN tgt_n = 0 THEN 0.5 ELSE CAST(tgt_n AS DOUBLE) END
               / CAST(tt AS DOUBLE)))) AS psi_term
FROM t
""")
def q_psi_value_drift(spark, sf_dir):
    """Population Stability Index between the source value distribution and
    a planted shift (every third user's values scaled 1.25x): per-bin PSI
    contributions from profile.psi_terms — both sides collapse to 16 bins
    before any join, and the output doubles are single fixed IEEE
    expressions over integer counts (no cross-row float sum), so the oracle
    reproduces them bit-for-bit. Total PSI = sum(psi_term) downstream."""
    from spanner_data_validator_spark.operators.profile import psi_terms

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .where(F.col("value").isNotNull()))
    src = ev.select("value")
    tgt = ev.select(
        F.when(F.col("user_id") % 3 == 0, F.col("value") * 1.25)
         .otherwise(F.col("value")).alias("value"))
    return psi_terms(src, tgt, F.col("value"), 0, 200, 16)


@register("column_drift_attribution", """
WITH cd_src AS (
  SELECT event_id AS k, event_type, props, value, user_id FROM events),
cd_tgt AS (
  SELECT event_id AS k,
         event_type,
         CASE WHEN event_id % 50 = 0 THEN props || '#mut' ELSE props END AS props,
         CASE WHEN event_id % 70 = 0 THEN value + 1 ELSE value END AS value,
         CASE WHEN event_id % 90 = 0 THEN NULL ELSE user_id END AS user_id
  FROM events WHERE event_id % 50 <> 1
  UNION ALL
  SELECT event_id + 100000000 AS k, event_type, props, value, user_id
  FROM events WHERE event_id % 50 = 2),
j AS (
  SELECT s.k IS NOT NULL AS in_src, t.k IS NOT NULL AS in_tgt,
         NOT (s.event_type IS NOT DISTINCT FROM t.event_type) AS d_event_type,
         NOT (s.props      IS NOT DISTINCT FROM t.props)      AS d_props,
         NOT (s.value      IS NOT DISTINCT FROM t.value)      AS d_value,
         NOT (s.user_id    IS NOT DISTINCT FROM t.user_id)    AS d_user_id
  FROM cd_src s FULL OUTER JOIN cd_tgt t ON s.k = t.k),
c AS (
  SELECT CASE WHEN NOT in_src THEN 'ADDED'
              WHEN NOT in_tgt THEN 'REMOVED'
              WHEN d_event_type OR d_props OR d_value OR d_user_id
                THEN 'CHANGED'
              ELSE 'UNCHANGED' END AS change,
         d_event_type, d_props, d_value, d_user_id
  FROM j)
SELECT dim, CAST(n AS BIGINT) AS n FROM (
  SELECT 'col:event_type' AS dim,
         count(*) FILTER (WHERE change = 'CHANGED' AND d_event_type) AS n FROM c
  UNION ALL
  SELECT 'col:props', count(*) FILTER (WHERE change = 'CHANGED' AND d_props) FROM c
  UNION ALL
  SELECT 'col:value', count(*) FILTER (WHERE change = 'CHANGED' AND d_value) FROM c
  UNION ALL
  SELECT 'col:user_id', count(*) FILTER (WHERE change = 'CHANGED' AND d_user_id) FROM c
  UNION ALL
  SELECT 'change:' || change, count(*) FROM c WHERE change <> 'UNCHANGED'
  GROUP BY change
) WHERE n > 0
""")
def q_column_drift_attribution(spark, sf_dir):
    """Column-level drift attribution (operators/diff.py): three planted
    per-column mutations (props suffix, value +1, user_id nulled) plus
    deletes/inserts; column_diff runs ONE keyed full-outer join with pure
    codegen null-safe comparisons into a diff_cols array, and only the
    drifted keys' short arrays leave the join stage. Output: per-column
    changed-key counts + change-type counts (zero-count columns dropped on
    both sides)."""
    from spanner_data_validator_spark.operators.diff import (
        column_diff,
        column_drift_summary,
    )

    cols = ["event_type", "props", "value", "user_id"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = ev.select(F.col("event_id").alias("k"), *cols)
    kept = ev.where(F.col("event_id") % 50 != 1)
    tgt = (kept.select(
        F.col("event_id").alias("k"),
        F.col("event_type"),
        F.when(F.col("event_id") % 50 == 0,
               F.concat(F.col("props"), F.lit("#mut")))
         .otherwise(F.col("props")).alias("props"),
        F.when(F.col("event_id") % 70 == 0, F.col("value") + 1)
         .otherwise(F.col("value")).alias("value"),
        F.when(F.col("event_id") % 90 == 0, F.lit(None).cast("long"))
         .otherwise(F.col("user_id")).alias("user_id"))
        .unionByName(ev.where(F.col("event_id") % 50 == 2)
                     .select((F.col("event_id") + 100_000_000).alias("k"),
                             *cols)))
    # the diff feeds two aggregation branches (per-column summary + change
    # counts) — pin the small drifted-keys-only table once
    diff = column_diff(src, tgt, ["k"], cols).localCheckpoint()
    per_col = (column_drift_summary(diff)
               .select(F.concat(F.lit("col:"), F.col("column")).alias("dim"),
                       F.col("n_changed").alias("n")))
    per_change = (diff.groupBy("change")
                  .agg(F.count(F.lit(1)).alias("n"))
                  .select(F.concat(F.lit("change:"), F.col("change"))
                          .alias("dim"), "n"))
    return per_col.unionByName(per_change).where(F.col("n") > 0)


# ---------------------------------------------------------------------------
# CEP absence detection (operators/cep.py)
# ---------------------------------------------------------------------------

@register("cep_absence_alerts", """
WITH c AS (
  SELECT user_id, event_id, ts, event_type,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p_us
  FROM events
)
SELECT user_id, event_id, epoch_us(ts) AS click_us,
       epoch_us(ts) + 1800000000 AS deadline_us
FROM c
WHERE event_type = 'click'
  AND (next_p_us IS NULL OR next_p_us > epoch_us(ts) + 1800000000)
""")
def q_cep_absence_alerts(spark, sf_dir):
    """Timeout CEP: clicks NOT followed by a purchase from the same user
    within 30 minutes. Join-free — conditional min over the following window
    frame replaces the naive events×events time-band self-join (which would
    be quadratic in hot users at 10^12 events)."""
    from spanner_data_validator_spark.operators.cep import absence_alerts

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("ts", F.col("ts").cast("timestamp"))
          .select("user_id", "event_id", "ts", "event_type"))
    alerts = absence_alerts(
        ev, key="user_id", ts="ts", order_tiebreak="event_id",
        start=F.col("event_type") == "click",
        end=F.col("event_type") == "purchase",
        timeout_ms=30 * 60 * 1000)
    return alerts.select("user_id", "event_id",
                         F.unix_micros("ts").alias("click_us"),
                         "deadline_us")


# ---------------------------------------------------------------------------
# distribution-level statistical validation (operators/stats.py)
# ---------------------------------------------------------------------------

@register("ks_value_two_sample", """
WITH d AS (
  SELECT value AS v,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'view')
  GROUP BY value
),
c AS (
  SELECT v,
         CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
  FROM d
),
t AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b
  FROM d
),
k AS (
  SELECT v, ABS(cum_a * t.n_b - cum_b * t.n_a) AS dn FROM c, t
)
SELECT t.n_a, t.n_b,
       (SELECT CAST(max(dn) AS BIGINT) FROM k) AS ks_num,
       (SELECT min(v) FROM k
        WHERE dn = (SELECT max(dn) FROM k)) AS ks_at_value,
       CAST((SELECT max(dn) FROM k) AS DOUBLE)
         / (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE)) AS ks_stat
FROM t
""")
def q_ks_value_two_sample(spark, sf_dir):
    """Exact two-sample KS statistic between the click and view
    populations of ``events.value`` — the distribution-drift gate a
    migration validator runs when row counts reconcile but a lossy cast
    is suspected. Scaled-integer D (no per-row float ECDF), distributed
    prefix sum over value-range buckets (operators/stats.ks_two_sample);
    the single-partition window touches only 256 bucket subtotals."""
    from spanner_data_validator_spark.operators.stats import ks_two_sample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ks_two_sample(
        ev, F.col("value"),
        F.col("event_type") == "click", F.col("event_type") == "view")


@register("mad_outlier_profile", """
WITH base AS (
  SELECT event_type AS g, value AS v FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT g, v,
         row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
         CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM base
),
m AS (
  SELECT *,
         max(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT) THEN v END)
           OVER (PARTITION BY g) AS med
  FROM r
),
a AS (
  SELECT g, n, abs(v - med) AS ad, med,
         row_number() OVER (PARTITION BY g ORDER BY abs(v - med)) AS rn2
  FROM m
),
mm AS (
  SELECT *,
         max(CASE WHEN rn2 = CAST(floor((n + 1) / 2) AS BIGINT) THEN ad END)
           OVER (PARTITION BY g) AS mad
  FROM a
)
SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n,
       max(med) AS med, max(mad) AS mad,
       CAST(sum(CASE WHEN ad > 5 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM mm GROUP BY g
""")
def q_mad_outlier_profile(spark, sf_dir):
    """Per-event-type robust outlier profile: exact lower median, exact
    MAD, and the |x - med| > 5*MAD outlier count
    (operators/stats.robust_outlier_profile). Rank-arithmetic medians are
    values that exist in the data — bit-identical across engines, unlike
    interpolated percentiles. One group-keyed exchange."""
    from spanner_data_validator_spark.operators.stats import (
        robust_outlier_profile,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return robust_outlier_profile(ev, "event_type", F.col("value"), k=5)


@register("benford_first_digit", f"""
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 1.0e2 + 5.0e-1) AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL
),
cnt AS (
  SELECT substring(CAST(c AS VARCHAR), 1, 1) AS digit,
         CAST(count(*) AS BIGINT) AS observed
  FROM cents WHERE c >= 1 GROUP BY 1
),
wn AS (
  SELECT digit, observed,
         CAST(sum(observed) OVER () AS BIGINT) AS n_total
  FROM cnt
),
e AS (
  SELECT digit, observed, n_total,
         CAST(n_total AS DOUBLE) * ({_benford_case()}) AS expected
  FROM wn
)
SELECT digit, observed, n_total, expected,
       (CAST(observed AS DOUBLE) - expected)
         * (CAST(observed AS DOUBLE) - expected) / expected AS chi_term
FROM e
""")
def q_benford_first_digit(spark, sf_dir):
    """Benford first-significant-digit conformance of order totals — the
    fabricated-data screen (operators/stats.benford_profile). The digit
    is taken from integer cents rendered to string (double-to-string
    diverges across engines; log10 diverges at powers of ten); Benford
    probabilities are Python-computed literals injected into both
    engines; per-digit chi-square terms avoid any cross-row float sum."""
    from spanner_data_validator_spark.operators.stats import benford_profile

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return benford_profile(orders, F.col("o_totalprice"))


def _fd_oracle() -> str:
    cands = [("l_orderkey", "l_returnflag"), ("l_orderkey", "l_linestatus"),
             ("l_partkey", "l_suppkey"), ("l_orderkey", "l_shipdate")]
    parts = []
    for lhs, rhs in cands:
        parts.append(f"""
SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(max(nd) AS BIGINT) AS max_rhs_per_lhs,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS BOOLEAN) AS holds
FROM (SELECT {lhs} AS l, CAST(count(DISTINCT {rhs}) AS BIGINT) AS nd
      FROM lineitem GROUP BY 1)""")
    return " UNION ALL ".join(parts)


@register("fd_discovery", _fd_oracle())
def q_fd_discovery(spark, sf_dir):
    """Functional-dependency discovery over candidate column pairs of
    ``lineitem`` (operators/stats.fd_profile) — the schema-semantics
    probe a validator runs before trusting a natural key: does lhs
    determine rhs, and if not, how many lhs groups violate? Pure integer
    counting, one lhs-keyed exchange per candidate."""
    from spanner_data_validator_spark.operators.stats import fd_profile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return fd_profile(li, [
        ("l_orderkey", "l_returnflag"), ("l_orderkey", "l_linestatus"),
        ("l_partkey", "l_suppkey"), ("l_orderkey", "l_shipdate")])


@register("cusum_changepoint", """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT))
              AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, day, x,
         sum(x) OVER (PARTITION BY event_type ORDER BY day) AS ck,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
         sum(x) OVER (PARTITION BY event_type) AS t,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
s AS (SELECT event_type, n, t, abs(n * ck - k * t) AS ad, day FROM c),
m AS (SELECT event_type, max(ad) AS mad FROM s GROUP BY event_type)
SELECT s.event_type,
       CAST(max(s.n) AS BIGINT) AS n_points,
       CAST(max(s.t) AS BIGINT) AS total_units,
       CAST(max(s.ad) AS BIGINT) AS max_abs_d,
       CAST(min(s.day) AS BIGINT) AS cp_order,
       CAST(max(s.ad) AS DOUBLE)
         / CAST(max(s.n) * max(s.n) AS DOUBLE) AS cusum_stat
FROM s JOIN m ON s.event_type = m.event_type AND s.ad = m.mad
GROUP BY s.event_type
""")
def q_cusum_changepoint(spark, sf_dir):
    """CUSUM level-shift scan (operators/stats.cusum_changepoint) over
    each type's daily cents series: D_k = n*cumsum_k - k*total is n
    times the centered CUSUM, exact in BIGINT, so the peak |D_k| and its
    argmax day are engine-identical (ties break to the earliest day —
    max(struct(|D|, -day)) on the Spark side, a mad-equality join +
    min(day) in the oracle). The statistic normalizes once at the end.
    Series rows are per (type, day) — window work is group-keyed and
    tiny relative to the event scan feeding the daily aggregate."""
    from spanner_data_validator_spark.operators.stats import (
        cusum_changepoint,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)) \
             .cast("long")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    daily = (ev.groupBy("event_type", day.alias("day"))
             .agg(F.sum(cents).alias("x")))
    return cusum_changepoint(daily, "event_type", F.col("day"),
                             F.col("x"))


@register("mann_whitney_value", """
WITH s AS (
  SELECT CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ca,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS cb
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
),
g AS (
  SELECT v, CAST(sum(ca) AS BIGINT) AS ca, CAST(sum(cb) AS BIGINT) AS cb
  FROM s GROUP BY v
),
c AS (
  SELECT v, ca, cb,
         coalesce(sum(ca + cb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
  FROM g
),
a AS (
  SELECT CAST((SELECT sum(ca) FROM g) AS BIGINT) AS n_a,
         CAST((SELECT sum(cb) FROM g) AS BIGINT) AS n_b,
         CAST(sum(ca * (2 * less + ca + cb + 1)) AS BIGINT) AS two_r1
  FROM c
)
SELECT n_a, n_b, two_r1,
       CAST(two_r1 - n_a * (n_a + 1) AS BIGINT) AS two_u1,
       CAST(2 * n_a * n_b - (two_r1 - n_a * (n_a + 1)) AS BIGINT)
         AS two_u2,
       CAST(two_r1 - n_a * (n_a + 1) AS DOUBLE)
         / CAST(2 * n_a * n_b AS DOUBLE) AS auc
FROM a
""")
def q_mann_whitney_value(spark, sf_dir):
    """Exact Mann-Whitney U (operators/stats.mann_whitney_u) comparing
    purchase vs click value distributions: doubled rank sums stay
    BIGINT under average-rank ties (2*avgrank = 2*less + eq + 1), so
    U and the AUC effect size are engine-exact with one final division.
    Spark runs the same bucketed distributed prefix sum as
    ks_two_sample — no single-task sort; the oracle's window cumsum is
    the reference formulation."""
    from spanner_data_validator_spark.operators.stats import (
        mann_whitney_u,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)) \
             .cast("long")
    base = ev.where(F.col("value").isNotNull()).select(
        cents.alias("v"), F.col("event_type"))
    return mann_whitney_u(base, F.col("v"),
                          F.col("event_type") == "purchase",
                          F.col("event_type") == "click")


@register("trend_slope_by_type", """
WITH base AS (
  SELECT event_type AS g, epoch_us(ts) // 1000000 AS x,
         CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
c AS (
  SELECT g, x - min(x) OVER (PARTITION BY g) AS xc,
         min(x) OVER (PARTITION BY g) AS x0, y
  FROM base
),
t AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(max(x0) AS BIGINT) AS x0,
         sum(xc) AS sx, sum(y) AS sy, sum(xc * y) AS sxy,
         sum(xc * xc) AS sxx
  FROM c GROUP BY g
),
s AS (
  SELECT g, n, x0, sx, sy,
         CASE WHEN n * sxx - sx * sx = 0 THEN NULL
              ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope
  FROM t
)
SELECT g AS event_type, n, slope,
       (CAST(sy AS DOUBLE) - slope * CAST(sx + n * x0 AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept
FROM s
""")
def q_trend_slope_by_type(spark, sf_dir):
    """Exact per-event-type OLS trend of value (as integer cents) on
    event time (epoch seconds) — the drift detector a validator points
    at a metric column (operators/stats.trend_slope). Every sum is an
    exact integer (per-group min-centering keeps products in int64; the
    n*Sxy - Sx*Sy combination runs in DECIMAL(38,0) = DuckDB HUGEINT),
    so slope/intercept are single double ops on exact ints —
    bit-identical across engines. One group-keyed exchange."""
    from spanner_data_validator_spark.operators.stats import trend_slope

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    x = F.expr("unix_micros(ts) div 1000000")
    y = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
    return trend_slope(ev.where(F.col("ts").isNotNull()),
                       "event_type", x, y)


@register("acf1_by_type", """
WITH base AS (
  SELECT event_type AS g, ts, event_id,
         CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
),
p AS (
  SELECT g, lag(y) OVER (PARTITION BY g ORDER BY ts, event_id) AS a,
         y AS b
  FROM base
),
f AS (SELECT g, a, b FROM p WHERE a IS NOT NULL),
c AS (SELECT g, a - min(a) OVER (PARTITION BY g) AS xc, b FROM f),
t AS (
  SELECT g, CAST(count(*) AS BIGINT) AS m,
         sum(xc) AS sx, sum(b) AS sy, sum(xc * b) AS sxy,
         sum(xc * xc) AS sxx, sum(b * b) AS syy
  FROM c GROUP BY g
)
SELECT g AS event_type, m AS n_pairs,
       CASE WHEN (m * sxx - sx * sx = 0) OR (m * syy - sy * sy = 0)
            THEN NULL
            ELSE CAST(m * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                        * CAST(m * syy - sy * sy AS DOUBLE)) END AS acf1
FROM t
""")
def q_acf1_by_type(spark, sf_dir):
    """Per-event-type lag-1 autocorrelation of the value series in event
    order (operators/stats.lag1_autocorr) — the serial-dependence probe
    (a near-1 ACF on a supposedly independent metric flags duplicated or
    interpolated rows). Pearson over adjacent pairs in exact integer
    sums; (ts, event_id) makes the pairing order total so both engines
    pair identical rows. sqrt is IEEE correctly-rounded — engine-exact."""
    from spanner_data_validator_spark.operators.stats import lag1_autocorr

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    y = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
    return lag1_autocorr(ev, "event_type",
                         [F.col("ts"), F.col("event_id")], y)


@register("weighted_median_price", """
WITH base AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
),
c AS (
  SELECT grp, v, w,
         CAST(sum(w) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cum,
         CAST(sum(w) OVER (PARTITION BY grp) AS BIGINT) AS tot
  FROM base
)
SELECT grp AS l_returnflag, CAST(max(tot) AS BIGINT) AS w_total,
       CAST(min(v) AS BIGINT) AS w_median
FROM c WHERE 2 * cum >= tot GROUP BY grp
""")
def q_weighted_median_price(spark, sf_dir):
    """Exact quantity-weighted median price (integer cents) per return
    flag (operators/stats.weighted_median) — the 'median unit actually
    shipped' number an unweighted median misrepresents when line sizes
    vary. 2*cum >= W is pure integer arithmetic; the running weight sum
    and the group total share one exchange. DuckDB's RANGE-framed
    running sum over equal values matches the lower-median pick because
    ties share the value."""
    from spanner_data_validator_spark.operators.stats import weighted_median

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return weighted_median(
        li.select(F.col("l_returnflag"),
                  F.round(F.col("l_extendedprice") * 100).cast("long")
                  .alias("cents"),
                  F.col("l_quantity").cast("long").alias("qty")),
        "l_returnflag", F.col("cents"), F.col("qty"))


# ---------------------------------------------------------------------------
# transcript latency analytics
# ---------------------------------------------------------------------------

@register("turn_latency_quantiles", """
WITH tr AS (
  SELECT CAST(user_id AS STRING) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              - 1 AS INT) AS turn_idx,
         coalesce(event_type, '') AS role, ts
  FROM events
),
gaps AS (
  SELECT lag(role) OVER w || '>' || role AS pair,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
         conv_id, turn_idx
  FROM tr WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
g AS (SELECT * FROM gaps WHERE gap_us IS NOT NULL),
r AS (
  SELECT pair, gap_us,
         row_number() OVER (PARTITION BY pair
                            ORDER BY gap_us, conv_id, turn_idx) AS rn,
         count(*) OVER (PARTITION BY pair) AS n
  FROM g
)
SELECT pair, p, CAST(gap_us AS BIGINT) AS q_value
FROM r CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                                  CAST(0.99 AS DOUBLE)]) AS p)
WHERE rn = CAST(ceil(p * n) AS BIGINT)
""")
def q_turn_latency_quantiles(spark, sf_dir):
    """Conversation pacing analytics: exact p50/p90/p99 inter-turn
    latency (integer microseconds) per role transition — the
    'assistant slow after tool turns?' question over the transcript
    corpus. lag() shares the conv-keyed exchange with turn numbering;
    quantiles are rank-exact per pair (values that exist in the data,
    profile.quantiles_by_rank) with a (conv, turn) tiebreak making the
    order total in both engines."""
    from spanner_data_validator_spark.operators.profile import (
        quantiles_by_rank,
    )

    tr = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    us = F.unix_micros(F.col("ts"))
    gaps = (tr.select(
                "conv_id", "turn_idx",
                F.concat_ws(">", F.lag("role").over(w), F.col("role"))
                 .alias("pair"),
                (us - F.lag(us).over(w)).alias("gap_us"))
            .where(F.col("gap_us").isNotNull()))
    tb = F.concat_ws("#", F.col("conv_id"),
                     F.col("turn_idx").cast("string"))
    return quantiles_by_rank(gaps, "pair", F.col("gap_us"),
                             [0.5, 0.9, 0.99], tb) \
        .select("pair", "p", F.col("q_value").cast("long").alias("q_value"))


@register("qq_shift_drift", """
WITH src AS (
  SELECT 'src' AS side, n_chars, doc_id FROM documents
),
tgt AS (
  SELECT 'tgt' AS side, n_chars, doc_id FROM documents
  WHERE doc_id % 10 <> 7
),
u AS (SELECT * FROM src UNION ALL SELECT * FROM tgt),
r AS (
  SELECT side, n_chars, doc_id,
         row_number() OVER (PARTITION BY side ORDER BY n_chars, doc_id)
           AS rn,
         count(*) OVER (PARTITION BY side) AS n
  FROM u
),
q AS (
  SELECT side, p, n_chars AS qv
  FROM r CROSS JOIN (SELECT unnest([CAST(0.1 AS DOUBLE), CAST(0.25 AS DOUBLE),
                                    CAST(0.5 AS DOUBLE), CAST(0.75 AS DOUBLE),
                                    CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)])
                     AS p)
  WHERE rn = CAST(ceil(p * n) AS BIGINT)
)
SELECT s.p, CAST(s.qv AS BIGINT) AS q_src, CAST(t.qv AS BIGINT) AS q_tgt,
       CAST(t.qv - s.qv AS BIGINT) AS shift
FROM q s JOIN q t ON s.p = t.p AND s.side = 'src' AND t.side = 'tgt'
""")
def q_qq_shift_drift(spark, sf_dir):
    """Quantile-quantile drift table: exact rank quantiles of doc length
    on both sides of a deterministically degraded re-ingest (doc_id%10=7
    dropped), per-p shift — the drift tier that localizes WHERE in the
    distribution a migration bit (tails vs body), complementing the
    per-bin counts of numeric_hist_drift. Both sides run through ONE
    side-partitioned rank pass (union + partitionBy(side) — no second
    sort), values are integers that exist in the data."""
    from spanner_data_validator_spark.operators.profile import (
        quantiles_by_rank,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    u = (docs.select(F.lit("src").alias("side"), "n_chars", "doc_id")
         .unionByName(
             docs.where(F.col("doc_id") % 10 != 7)
             .select(F.lit("tgt").alias("side"), "n_chars", "doc_id")))
    # the 12-row quantile table feeds both side-filter branches — pin it
    # or the whole rank pass re-runs per branch (multi-branch rescan trap)
    q = quantiles_by_rank(u, "side", F.col("n_chars"),
                          [0.1, 0.25, 0.5, 0.75, 0.9, 0.99],
                          F.col("doc_id")).localCheckpoint(eager=True)
    s = (q.where(F.col("side") == "src")
         .select("p", F.col("q_value").alias("q_src")))
    t = (q.where(F.col("side") == "tgt")
         .select("p", F.col("q_value").alias("q_tgt")))
    return (s.join(t, "p")
            .select("p", F.col("q_src").cast("long").alias("q_src"),
                    F.col("q_tgt").cast("long").alias("q_tgt"),
                    (F.col("q_tgt") - F.col("q_src")).cast("long")
                    .alias("shift")))
