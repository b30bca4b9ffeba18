"""Analytics queries of the oracle-paired registry.

Sketches, statistics, column profiles and drift, graph algorithms,
behavioral analytics, layout and skew probes. Registered into
``demo_queries.QUERIES`` / ``ORACLES`` on import.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.funnel import (
    funnel_stages,
    retention_cohorts,
)
from spanner_data_validator_spark.operators.layout import zorder_key, zorder_sql_expr
from spanner_data_validator_spark.operators.skew import key_skew_profile
from spanner_data_validator_spark.operators.timeseries import ewma_by_group
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


# ---------------------------------------------------------------------------
# iterative graph algorithm: fixed-point PageRank (operators/graph.py)
# ---------------------------------------------------------------------------

def _pagerank_oracle() -> str:
    from spanner_data_validator_spark.operators.graph import pagerank_sql

    edges = """
SELECT o_custkey AS src, 2000000 + l_suppkey AS dst
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT 2000000 + l_suppkey AS src, o_custkey AS dst
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""
    pr = pagerank_sql(edges, iterations=3)
    return "WITH " + pr.replace(
        "SELECT node, rank FROM pr_r3",
        "SELECT node, rank FROM pr_r3 ORDER BY rank DESC, node LIMIT 20")


@register("pagerank_3iter", _pagerank_oracle())
def q_pagerank_3iter(spark, sf_dir):
    """Iterative algorithm as a DataFrame loop: 3 PageRank rounds over the
    symmetrized customer-supplier trade multigraph (edges = lineitems),
    top-20 hubs. Fixed-point integer ranks make every sum an exact BIGINT
    fold — bit-identical across partitionings AND engines (naive double
    PageRank is aggregation-order-dependent) — and each round's rank table
    is localCheckpointed so the plan does not double per iteration (the
    classic iterative-Spark failure; operators/graph.py). The oracle
    unrolls the identical iterations as CTEs."""
    from spanner_data_validator_spark.operators.graph import (
        pagerank_fixed_point,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey")
    trade = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("cust"),
        (F.lit(2_000_000) + F.col("l_suppkey")).alias("supp"))
    edges = (trade.select(F.col("cust").alias("src"),
                          F.col("supp").alias("dst"))
             .unionByName(trade.select(F.col("supp").alias("src"),
                                       F.col("cust").alias("dst"))))
    ranks = pagerank_fixed_point(edges, iterations=3)
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(20)


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
# gap sessionization + bucketed interval (range) join (operators/sessionize.py)
# ---------------------------------------------------------------------------

@register("batch_sessionize", """
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events
),
l AS (
  SELECT user_id, ts_ms, event_id,
         lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev
  FROM e
),
f AS (
  SELECT user_id, ts_ms,
         CASE WHEN prev IS NULL OR ts_ms - prev > 7200000 THEN 1 ELSE 0 END AS brk,
         event_id
  FROM l
),
s AS (
  SELECT user_id, ts_ms,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM f
)
SELECT user_id, session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
       max(ts_ms) - min(ts_ms) AS duration_ms
FROM s GROUP BY user_id, session_idx
""")
def q_batch_sessionize(spark, sf_dir):
    """Batch gap sessionization (sessionize.session_stats): a session breaks
    when the per-user gap exceeds 2h. The lag window, the running-sum
    window, and the per-session aggregate all share ONE exchange keyed by
    user_id (same partitioning prefix) — shuffle-once + in-partition sort,
    integer-millisecond arithmetic throughout. The batch complement of the
    streaming `session_windows` query."""
    from spanner_data_validator_spark.operators.sessionize import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        "event_id")
    return session_stats(ev, "user_id", F.col("ts_ms"), gap_ms=7_200_000,
                         tiebreak=F.col("event_id"))


@register("interval_bucket_join", """
WITH ivl AS (
  SELECT user_id % 50 AS grp, epoch_ms(ts) AS start_ms,
         epoch_ms(ts) + 3600000 AS end_ms, event_id AS interval_id
  FROM events WHERE event_id % 500 = 0
),
pts AS (SELECT user_id % 50 AS grp, epoch_ms(ts) AS ts_ms, event_id FROM events)
SELECT interval_id, CAST(count(*) AS BIGINT) AS n_points
FROM ivl JOIN pts ON ivl.grp = pts.grp
                 AND pts.ts_ms >= ivl.start_ms AND pts.ts_ms < ivl.end_ms
GROUP BY interval_id
""")
def q_interval_bucket_join(spark, sf_dir):
    """Bucketed range join (sessionize.interval_join_bucketed): events
    matched to 1h key-scoped intervals when the interval table is too large
    to broadcast. Intervals explode to their covered 1h buckets (fan-out
    <= 2 here), points map to exactly one bucket, and the match is a plain
    shuffled equi-join on (grp, bucket) + residual range filter — the plan
    contains no BroadcastNestedLoopJoin (plan-asserted in tests). The
    broadcast path for SMALL range lists is `ranges.assign_range_via_join`."""
    from spanner_data_validator_spark.operators.sessionize import (
        interval_join_bucketed,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select((F.col("user_id") % 50).alias("grp"),
                     F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
                     "event_id")
    ivl = (base.where(F.col("event_id") % 500 == 0)
               .select("grp", F.col("ts_ms").alias("start_ms"),
                       (F.col("ts_ms") + 3_600_000).alias("end_ms"),
                       F.col("event_id").alias("interval_id")))
    pts = base.select("grp", "ts_ms", F.col("event_id").alias("point_id"))
    joined = interval_join_bucketed(pts, ivl, ["grp"], "ts_ms",
                                    "start_ms", "end_ms", bucket_ms=3_600_000)
    return joined.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n_points"))


# ---------------------------------------------------------------------------
# SCD2 history build + salted skew join
# ---------------------------------------------------------------------------

@register("scd2_dimension", """
WITH r AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_type AS p, event_id AS tb
  FROM events
),
l AS (
  SELECT user_id, ts_ms, p, tb,
         lag(p) OVER (PARTITION BY user_id ORDER BY ts_ms, tb) AS prev,
         row_number() OVER (PARTITION BY user_id ORDER BY ts_ms, tb) AS rn
  FROM r
),
v AS (
  SELECT user_id, ts_ms, p, tb FROM l
  WHERE rn = 1 OR prev IS DISTINCT FROM p
),
o AS (
  SELECT user_id, p, ts_ms,
         lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, tb) AS eff_to,
         row_number() OVER (PARTITION BY user_id ORDER BY ts_ms, tb) AS version
  FROM v
)
SELECT user_id, p AS payload, ts_ms AS effective_from_ms,
       eff_to AS effective_to_ms, version, eff_to IS NULL AS is_current
FROM o
""")
def q_scd2_dimension(spark, sf_dir):
    """Type-2 dimension history from the event log (scd.scd2_build): one row
    per (user, version) with effective_from/to ranges, no-op updates
    collapsed null-safely, last-writer-wins at equal timestamps via the
    event_id tiebreak. ONE user-keyed exchange builds the whole history —
    the table `asof_point_in_time` then queries. Complements validate_upserts
    (which keeps only current state)."""
    from spanner_data_validator_spark.operators.scd import scd2_build

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        "event_type", "event_id")
    return scd2_build(ev, ["user_id"], F.col("ts_ms"), F.col("event_type"),
                      F.col("event_id"))


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
# layout + skew profile
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


# Manifest-based data skipping (layout.file_manifest / skip_scan_summary):
# the min/max pruning an Iceberg manifest or parquet footer gives a scan,
# measured for two layouts x two predicates. Layouts: 'append' (files in
# ingest order -> time clusters, user_id doesn't) and 'zorder' (files by
# Morton(user, day) -> both dimensions keep ~half their pruning power).
_MANIFEST_ZEXPR = zorder_sql_expr(
    ["(user_id % 256)", "EXTRACT(day FROM ts)"], bits=8)

def _manifest_summary_sql(man: str, stat: str, lo: int, hi: int,
                          layout: str, pred: str) -> str:
    scanned = f"NOT (max_{stat} < {lo} OR min_{stat} > {hi})"
    return f"""
SELECT '{layout}' AS layout, '{pred}' AS predicate,
       CAST(count(*) AS BIGINT) AS files_total,
       CAST(sum(CASE WHEN {scanned} THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(sum(CASE WHEN {scanned} THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
FROM {man}"""


@register("manifest_skip_ratio", f"""
WITH base AS (
  SELECT event_id, user_id, EXTRACT(day FROM ts) AS day,
         {_MANIFEST_ZEXPR} AS zkey
  FROM events),
wf AS (SELECT *, CAST(floor(event_id / 128) AS BIGINT) AS f_append,
              (zkey >> 7) AS f_z
       FROM base),
man_a AS (SELECT f_append AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
                 min(user_id) AS min_user_id, max(user_id) AS max_user_id,
                 min(day) AS min_day, max(day) AS max_day
          FROM wf GROUP BY f_append),
man_z AS (SELECT f_z AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
                 min(user_id) AS min_user_id, max(user_id) AS max_user_id,
                 min(day) AS min_day, max(day) AS max_day
          FROM wf GROUP BY f_z),
mt AS (SELECT CAST(sum(CASE WHEN day BETWEEN 5 AND 7 THEN 1 ELSE 0 END) AS BIGINT) AS m_day,
              CAST(sum(CASE WHEN user_id BETWEEN 40 AND 55 THEN 1 ELSE 0 END) AS BIGINT) AS m_user
       FROM base),
sums AS (
  {_manifest_summary_sql('man_a', 'day', 5, 7, 'append', 'day_5_7')}
  UNION ALL
  {_manifest_summary_sql('man_a', 'user_id', 40, 55, 'append', 'user_40_55')}
  UNION ALL
  {_manifest_summary_sql('man_z', 'day', 5, 7, 'zorder', 'day_5_7')}
  UNION ALL
  {_manifest_summary_sql('man_z', 'user_id', 40, 55, 'zorder', 'user_40_55')}
)
SELECT layout, predicate, files_total, files_scanned, rows_scanned,
       CASE WHEN predicate = 'day_5_7' THEN m_day ELSE m_user END AS rows_matched,
       round(1.0 - CAST(files_scanned AS DOUBLE) / CAST(files_total AS DOUBLE), 4)
         AS skip_ratio,
       round(CAST(rows_scanned AS DOUBLE) /
             CAST(greatest(CASE WHEN predicate = 'day_5_7' THEN m_day ELSE m_user END, 1) AS DOUBLE), 2)
         AS read_amp
FROM sums, mt
""")
def q_manifest_skip_ratio(spark, sf_dir):
    """File-level data skipping from a min/max manifest (layout.
    file_manifest + skip_scan_summary — the Iceberg-manifest/parquet-footer
    pruning rule), measured for append vs Z-order layouts under a time
    predicate and a user predicate. Append files prune the day window hard
    and the user window not at all; Morton(user, day) files keep both
    dimensions prunable — the quantified version of why write_zordered
    exists. Manifests are O(files) and each feeds two summaries, so they
    are pinned once (multi-branch rescan trap)."""
    from spanner_data_validator_spark.operators.layout import (
        file_manifest,
        skip_scan_summary,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", F.dayofmonth("ts").alias("day"),
        zorder_key([F.pmod(F.col("user_id"), F.lit(256)),
                    F.dayofmonth("ts").cast("long")], bits=8).alias("zkey"))
    man_a = file_manifest(
        ev, F.floor(F.col("event_id") / F.lit(128)).cast("long"),
        ["user_id", "day"]).localCheckpoint()
    man_z = file_manifest(
        ev, F.shiftright(F.col("zkey"), 7).cast("long"),
        ["user_id", "day"]).localCheckpoint()

    def lay(layout, man, pred, stat, lo, hi):
        return skip_scan_summary(man, stat, lo, hi).select(
            F.lit(layout).alias("layout"), F.lit(pred).alias("predicate"),
            "files_total", "files_scanned", "rows_scanned")

    sums = (lay("append", man_a, "day_5_7", "day", 5, 7)
            .unionByName(lay("append", man_a, "user_40_55", "user_id", 40, 55))
            .unionByName(lay("zorder", man_z, "day_5_7", "day", 5, 7))
            .unionByName(lay("zorder", man_z, "user_40_55", "user_id", 40, 55)))
    mt = ev.agg(
        F.sum(F.col("day").between(5, 7).cast("long")).alias("m_day"),
        F.sum(F.col("user_id").between(40, 55).cast("long")).alias("m_user"))
    matched = F.when(F.col("predicate") == "day_5_7",
                     F.col("m_day")).otherwise(F.col("m_user"))
    return sums.crossJoin(mt).select(
        "layout", "predicate", "files_total", "files_scanned", "rows_scanned",
        matched.alias("rows_matched"),
        F.round(F.lit(1.0) - F.col("files_scanned").cast("double")
                / F.col("files_total").cast("double"), 4).alias("skip_ratio"),
        F.round(F.col("rows_scanned").cast("double")
                / F.greatest(matched, F.lit(1)).cast("double"), 2)
         .alias("read_amp"))


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
# behavioral analytics: funnel, retention, EWMA
# ---------------------------------------------------------------------------

@register("funnel_view_click_purchase", """
WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s0 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY e.user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY e.user_id)
SELECT 0 AS stage_idx, 'view' AS stage,
       (SELECT CAST(count(*) AS BIGINT) FROM s0) AS n_users
UNION ALL SELECT 1, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s1)
UNION ALL SELECT 2, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s2)
""")
def q_funnel_view_click_purchase(spark, sf_dir):
    """Strictly-ordered conversion funnel (funnel.funnel_stages): users
    whose click follows their first view, whose purchase follows that
    click. k stages = k keyed aggs + k-1 user-key joins; every exchange
    carries one row per user, never per event."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_stages(ev, user="user_id", ts="ts",
                         stage_col="event_type",
                         stages=["view", "click", "purchase"])


@register("retention_cohorts_weekly", """
WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
           FROM events GROUP BY user_id)
SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
       CAST(date_diff('day', cohort_day, CAST(e.ts AS DATE)) AS INTEGER)
         AS day_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN f USING (user_id)
WHERE date_diff('day', cohort_day, CAST(e.ts AS DATE)) <= 7
GROUP BY cohort_day, day_offset
""")
def q_retention_cohorts_weekly(spark, sf_dir):
    """First-seen-day cohort retention (funnel.retention_cohorts), offsets
    0..7. Cohort table is one aggregation; the offset join is a user-key
    join; distinct-user counts per (cohort, offset) cell."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = retention_cohorts(ev, user="user_id", ts="ts", max_offset_days=7)
    return out.withColumn("cohort_day", F.col("cohort_day").cast("string"))


@register("ewma_daily_events", """
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                      CAST(count(*) AS DOUBLE) AS cnt
               FROM events GROUP BY event_type, CAST(ts AS DATE)),
s AS (SELECT event_type, list(cnt ORDER BY d) AS l,
             CAST(count(*) AS INTEGER) AS n_days,
             CAST(max(d) AS VARCHAR) AS last_day
      FROM daily GROUP BY event_type)
SELECT event_type, n_days, last_day,
       list_reduce(l, (acc, x) -> acc * CAST(0.5 AS DOUBLE)
                                  + x * CAST(0.5 AS DOUBLE)) AS ewma
FROM s
""")
def q_ewma_daily_events(spark, sf_dir):
    """Per-type EWMA of daily event counts (timeseries.ewma_by_group):
    sorted-fold smoothing that is bit-reproducible across runs,
    partitionings, and engines — alpha 0.5 keeps every multiply exact in
    IEEE double, so the oracle comparison is exact equality, not
    tolerance."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ewma_by_group(ev, "event_type", "ts", alpha=0.5)


@register("udaf_value_dispersion", """
WITH med AS (SELECT event_type, median(value) AS median_value
             FROM events GROUP BY event_type),
dev AS (SELECT e.event_type, abs(e.value - m.median_value) AS ad
        FROM events e JOIN med m USING (event_type))
SELECT m.event_type,
       (SELECT CAST(count(*) AS BIGINT) FROM events e2
        WHERE e2.event_type = m.event_type) AS n,
       m.median_value,
       (SELECT median(d.ad) FROM dev d
        WHERE d.event_type = m.event_type) AS mad_value
FROM med m
""")
def q_udaf_value_dispersion(spark, sf_dir):
    """UDAF surface (functions/udx): exact per-type median and median
    absolute deviation via pandas GROUPED_AGG UDFs — the robust dispersion
    pair Spark has no exact built-in for. Groups here are the 5 event
    types, so each Arrow batch is bounded; for high-cardinality groups use
    profile.quantiles_by_rank (pure shuffle arithmetic) instead."""
    from spanner_data_validator_spark.functions.udx import (
        grouped_count,
        grouped_mad,
        grouped_median,
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # count also via GROUPED_AGG: Spark refuses to mix pandas and plain
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT)
    return (ev.groupBy("event_type")
            .agg(grouped_count(F.col("value")).alias("n"),
                 grouped_median(F.col("value")).alias("median_value"),
                 grouped_mad(F.col("value")).alias("mad_value")))


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
# CEP: sequence-pattern + absence detection (operators/cep.py)
# ---------------------------------------------------------------------------

@register("cep_funnel_pattern", """
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'view' THEN 'v'
              WHEN event_type = 'click' THEN 'c'
              WHEN event_type = 'purchase' THEN 'p'
              ELSE '-' END AS sym
  FROM events
),
g AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         string_agg(sym, '' ORDER BY ts, event_id) AS syms
  FROM s GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(len(regexp_extract_all(syms, 'vc+p')) AS BIGINT) AS n_matches,
       CAST(CASE WHEN regexp_matches(syms, 'vc+p')
                 THEN position(regexp_extract(syms, 'vc+p') IN syms)
                 ELSE 0 END AS BIGINT) AS first_match
FROM g
""")
def q_cep_funnel_pattern(spark, sf_dir):
    """MATCH_RECOGNIZE-style CEP: per user, count non-overlapping
    view→click+→purchase sequences (pattern ``vc+p`` over the per-user
    event-ordered symbol string) and locate the first match. Shuffle carries
    (user_id, ts, event_id, 1-char symbol); pattern evaluation is one JVM
    regexp over a per-key string — no join, no Python."""
    from spanner_data_validator_spark.operators.cep import (
        match_recognize,
        symbolize,
    )

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    sym = symbolize([
        ("v", F.col("event_type") == "view"),
        ("c", F.col("event_type") == "click"),
        ("p", F.col("event_type") == "purchase"),
    ])
    return match_recognize(ev, key="user_id", order=["ts", "event_id"],
                           symbol=sym, pattern="vc+p")


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
# iterative clustering: fixed-point k-means (operators/cluster.py)
# ---------------------------------------------------------------------------

def _kmeans_oracle() -> str:
    from spanner_data_validator_spark.operators.cluster import kmeans_sql

    return "WITH " + kmeans_sql(
        "SELECT vec_id, embedding FROM embeddings",
        k=4, iterations=2, scale=1000, dim=64)


@register("kmeans_lloyd", _kmeans_oracle())
def q_kmeans_lloyd(spark, sf_dir):
    """Trainable IVF quantizer: 2 Lloyd rounds over the embedding corpus in
    FIXED POINT (operators/cluster.py) — quantize once to integer units,
    exact BIGINT distances, argmin with cluster-id tie-break, centroid
    update as exact integer floor-mean — so the iterations themselves are
    bit-identical across partitionings AND engines (double k-means is
    aggregation-order-dependent; ann.centroids_from_items exists precisely
    to dodge that, and this removes the dodge). Centroids live on the
    driver between rounds (k*dim ints, broadcast as literals), so the only
    per-round shuffle is the k*dim-row update aggregate; the quantized
    table is materialized once and rescanned, never the raw source. The
    oracle unrolls the identical rounds as CTEs."""
    from spanner_data_validator_spark.operators.cluster import (
        kmeans_fixed_point,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_fixed_point(emb, id_col="vec_id", vec_col="embedding",
                              k=4, iterations=2, scale=1000)


# ---------------------------------------------------------------------------
# time-series regularization: resample + forward-fill (operators/timeseries)
# ---------------------------------------------------------------------------

@register("resample_ffill_hourly", """
WITH ev AS (
  SELECT user_id, ts, value FROM events WHERE user_id % 29 = 3
),
hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         CAST(count(*) AS BIGINT) AS c, max(value) AS hv
  FROM ev GROUP BY user_id, date_trunc('hour', ts)
),
bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM ev
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds
),
grid AS (
  SELECT k.user_id, s.bucket
  FROM (SELECT DISTINCT user_id FROM ev) k CROSS JOIN spine s
)
SELECT g.user_id, g.bucket,
       CAST(coalesce(h.c, 0) AS BIGINT) AS n_events,
       last_value(h.hv IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
FROM grid g LEFT JOIN hourly h
  ON g.user_id = h.user_id AND g.bucket = h.bucket
""")
def q_resample_ffill_hourly(spark, sf_dir):
    """Dense hourly resampling with forward-fill over a sparse event
    stream (operators/timeseries.resample_ffill): gap hours materialize
    with n_events=0 and carry the last observed hourly max — the
    regularization step rolling analytics need. Carried floats are
    untouched (the per-bucket reduce is max, aggregation-order-free), so
    the result is engine-exact. One corpus shuffle (bucket agg) + a
    broadcast bucket spine + one keyed window exchange."""
    from spanner_data_validator_spark.operators.timeseries import (
        resample_ffill,
    )

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .where(F.col("user_id") % 29 == 3))
    return resample_ffill(ev, "user_id", "ts", "value", unit="hour")


# ---------------------------------------------------------------------------
# graph analytics: degree-oriented triangle counting (operators/graph.py)
# ---------------------------------------------------------------------------

_COPURCHASE_EDGES = """
SELECT l1.l_partkey AS src, l2.l_partkey AS dst
FROM lineitem l1 JOIN lineitem l2
  ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
"""


def _triangle_oracle() -> str:
    from spanner_data_validator_spark.operators.graph import triangle_sql

    return "WITH " + triangle_sql(_COPURCHASE_EDGES, k=10)


@register("triangle_top_nodes", _triangle_oracle())
def q_triangle_top_nodes(spark, sf_dir):
    """Triangle participation over the part co-purchase graph (parts
    sharing an order), top-10 nodes. Degree-ordered edge orientation
    bounds every wedge fan-out by O(sqrt(E)) — the hub-proof way to count
    triangles at scale (a hub of degree d otherwise spawns d^2 wedges).
    Canonical edges and the oriented table are materialized once for
    their 2/3 consuming branches (aliased self-join branches re-run the
    subplan — CLAUDE.md). Integer counts: engine-exact."""
    from spanner_data_validator_spark.operators.graph import (
        triangle_participation,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey")
    l1, l2 = li.alias("l1"), li.alias("l2")
    edges = (l1.join(l2, (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
                     & (F.col("l1.l_partkey") < F.col("l2.l_partkey")))
             .select(F.col("l1.l_partkey").alias("src"),
                     F.col("l2.l_partkey").alias("dst")))
    return triangle_participation(edges, k=10)


# ---------------------------------------------------------------------------
# incremental view maintenance: CDC changelog -> maintained aggregate
# ---------------------------------------------------------------------------

@register("cdc_agg_maintenance", """
WITH final AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) AS m FROM events
  WHERE event_id % 5 = 0 OR event_id % 7 <> 0
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(m) AS BIGINT) AS m_sum
FROM final GROUP BY event_type
""")
def q_cdc_agg_maintenance(spark, sf_dir):
    """Incremental view maintenance (operators/ivm.py): a per-type COUNT/SUM
    view materialized over the base rows, then refreshed by FOLDING IN a
    CDC changelog (inserts = the held-out rows, deletes = every 7th base
    row, plus a planted key whose rows are all deleted and must vanish) —
    never rescanning the base. The oracle computes the final state directly
    from the full table: incremental refresh == recomputation, exactly (the
    measure is floor(value), integer — a float SUM maintained incrementally
    would drift by aggregation order). At 100 TB the refresh costs one pass
    over the (tiny) changelog + a keyed outer join against the view."""
    from spanner_data_validator_spark.operators.ivm import (
        apply_changes,
        base_agg,
    )

    measure = F.floor("value").cast("bigint")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value")
    synth = spark.range(2).select(
        F.lit(-1).alias("event_id"), F.lit("zz_synth").alias("event_type"),
        (F.lit(10.0) + F.col("id")).alias("value"))
    base_rows = ev.where(F.col("event_id") % 5 != 0).unionByName(synth)
    view = base_agg(base_rows, ["event_type"], measure)
    changes = (
        ev.where(F.col("event_id") % 5 == 0).withColumn("op", F.lit("I"))
        .unionByName(ev.where((F.col("event_id") % 5 != 0)
                              & (F.col("event_id") % 7 == 0))
                     .withColumn("op", F.lit("D")))
        .unionByName(synth.withColumn("op", F.lit("D"))))
    return apply_changes(view, changes, ["event_type"], measure)


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


@register("chi2_type_by_dow", """
WITH cells AS (
  SELECT event_type AS r, CAST(dayofweek(ts) + 1 AS INT) AS c,
         CAST(count(*) AS BIGINT) AS observed
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
),
t AS (
  SELECT r, c, observed,
         CAST(sum(observed) OVER (PARTITION BY r) AS BIGINT) AS row_total,
         CAST(sum(observed) OVER (PARTITION BY c) AS BIGINT) AS col_total,
         CAST(sum(observed) OVER () AS BIGINT) AS n
  FROM cells
)
SELECT r, c, observed, row_total, col_total, n,
       CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
         / CAST(n AS DOUBLE) AS expected,
       (CAST(observed AS DOUBLE)
          - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
            / CAST(n AS DOUBLE))
       * (CAST(observed AS DOUBLE)
          - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
            / CAST(n AS DOUBLE))
       / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
          / CAST(n AS DOUBLE)) AS chi_term
FROM t
""")
def q_chi2_type_by_dow(spark, sf_dir):
    """Chi-square independence cells between event_type and day-of-week
    (operators/stats.chi2_contingency_cells) — the segment-balance check
    (a migration that drops a shard skews one margin). Per-cell double
    terms on exact integer marginals avoid cross-row float sums; Spark's
    dayofweek (1=Sunday) is DuckDB's dayofweek()+1. Marginals come from
    windows over the 35-row cell table, never the input."""
    from spanner_data_validator_spark.operators.stats import (
        chi2_contingency_cells,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return chi2_contingency_cells(
        ev.where(F.col("ts").isNotNull()),
        F.col("event_type"), F.dayofweek("ts"))


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


@register("last_touch_attribution", """
WITH t AS (
  SELECT user_id, event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events
)
SELECT coalesce(touch, 'direct') AS attributed_type,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM t WHERE event_type = 'purchase' GROUP BY 1
""")
def q_last_touch_attribution(spark, sf_dir):
    """Last-touch conversion attribution: every purchase credited to the
    user's nearest preceding non-purchase event
    (operators/funnel.last_touch_attribution). The carry-forward is one
    ignorenulls last() over a user-keyed window — no time-band self-join
    (quadratic in hot users). (ts, event_id) totalizes the order so both
    engines credit identical rows."""
    from spanner_data_validator_spark.operators.funnel import (
        last_touch_attribution,
    )

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    return last_touch_attribution(
        ev, user="user_id", ts="ts", tiebreak="event_id",
        etype="event_type", conversion="purchase")


@register("rfm_segments", """
WITH pu AS (
  SELECT user_id,
         CAST(max(epoch_us(ts) // 86400000000) AS BIGINT) AS last_day,
         CAST(count(*) AS BIGINT) AS f,
         CAST(sum(CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT)) AS BIGINT)
           AS m
  FROM events GROUP BY user_id
),
s AS (
  SELECT user_id,
         (SELECT max(last_day) FROM pu) - last_day AS r, f, m
  FROM pu
),
q AS (
  SELECT CAST(ntile(5) OVER (ORDER BY r, user_id) AS INT) AS r_q,
         CAST(ntile(5) OVER (ORDER BY f DESC, user_id) AS INT) AS f_q,
         CAST(ntile(5) OVER (ORDER BY m DESC, user_id) AS INT) AS m_q,
         m
  FROM s
)
SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(m) AS BIGINT) AS m_sum
FROM q GROUP BY 1, 2, 3
""")
def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation (operators/profile.rfm_segments):
    per-user recency (integer days via epoch div), frequency, monetary
    (integer cents) quintiled with (metric, user_id) tie-breaks so ntile
    assigns identical buckets in both engines; reported as segment-cell
    counts. Events reduce to |users| rows before any global window."""
    from spanner_data_validator_spark.operators.profile import rfm_segments

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
    return rfm_segments(ev, user="user_id", ts="ts", amount=cents)


@register("basket_pair_lift", """
WITH items AS (
  SELECT DISTINCT l_orderkey AS grp, l_partkey AS it FROM lineitem
),
gsz AS (SELECT grp FROM items GROUP BY grp HAVING count(*) <= 64),
it2 AS (SELECT items.* FROM items JOIN gsz USING (grp)),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_groups FROM gsz),
pc AS (
  SELECT a.it AS item_a, b.it AS item_b,
         CAST(count(*) AS BIGINT) AS n_pair
  FROM it2 a JOIN it2 b ON a.grp = b.grp AND a.it < b.it
  GROUP BY 1, 2
),
ic AS (SELECT it, CAST(count(*) AS BIGINT) AS n_it FROM it2 GROUP BY it)
SELECT item_a, item_b, n_pair,
       na.n_it AS n_a, nb.n_it AS n_b, n_groups,
       CAST(n_pair * n_groups AS DOUBLE)
         / CAST(na.n_it * nb.n_it AS DOUBLE) AS lift
FROM pc
JOIN ic na ON pc.item_a = na.it
JOIN ic nb ON pc.item_b = nb.it
CROSS JOIN n
ORDER BY n_pair DESC, lift DESC, item_a, item_b
LIMIT 50
""")
def q_basket_pair_lift(spark, sf_dir):
    """Market-basket mining (operators/basket.pair_lift): top-50 part
    pairs co-occurring in orders, with supports and lift. The Spark plan
    expands pairs INSIDE each basket array via chained Generates (no
    self-join — one lineitem scan, one group shuffle, mega-basket cap
    before the quadratic step); the oracle is the textbook self-join.
    Lift is one IEEE division of exact BIGINT products, so the (n_pair
    desc, lift desc, a, b) top-50 order is engine-identical."""
    from spanner_data_validator_spark.operators.basket import pair_lift

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return pair_lift(li, "l_orderkey", "l_partkey",
                     max_basket=64, min_pair_count=1, k=50)


@register("hop_distance_levels", """
WITH RECURSIVE e0 AS (
  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem
),
e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
seeds AS (
  SELECT DISTINCT l_partkey * 2 AS node FROM lineitem
  WHERE l_partkey % 997 = 0
),
bfs AS (
  SELECT node, 0 AS d FROM seeds
  UNION
  SELECT e.dst AS node, bfs.d + 1 AS d
  FROM bfs JOIN e ON bfs.node = e.src WHERE bfs.d < 4
),
lv AS (SELECT node, min(d) AS hops FROM bfs GROUP BY node)
SELECT CAST(hops AS INT) AS hops, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(node) AS BIGINT) AS node_sum,
       CAST(min(node) AS BIGINT) AS node_min,
       CAST(max(node) AS BIGINT) AS node_max
FROM lv GROUP BY hops ORDER BY hops
""")
def q_hop_distance_levels(spark, sf_dir):
    """BFS hop-distance levels (operators/graph.hop_distance) over the
    bipartite part-supplier graph (nodes 2*part / 2*supp+1), seeded at
    l_partkey % 997 == 0. Spark runs the frontier-expansion loop (per
    round: frontier-edge equi-join + anti-join of the visited set,
    lineage truncated); the oracle is the same reachability as a
    WITH RECURSIVE UNION with a d<4 guard, re-expressed as a bounded
    iterative DataFrame loop (Spark 4.1's native WITH RECURSIVE would
    also run it; the loop keeps explicit per-round lineage truncation for
    scale).
    Levels are summarized per hop (count/sum/min/max of node ids)."""
    from spanner_data_validator_spark.operators.graph import hop_distance

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = li.select((F.col("l_partkey") * 2).alias("src"),
                      (F.col("l_suppkey") * 2 + 1).alias("dst"))
    seeds = (li.where(F.col("l_partkey") % 997 == 0)
             .select((F.col("l_partkey") * 2).alias("node")))
    lv = hop_distance(edges, seeds, max_hops=4, undirected=True)
    return (lv.groupBy(F.col("hops").cast("int").alias("hops"))
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.sum("node").alias("node_sum"),
                 F.min("node").alias("node_min"),
                 F.max("node").alias("node_max"))
            .orderBy("hops"))


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


@register("twap_by_type", """
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us,
         CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT) AS v, event_id
  FROM events
),
d AS (
  SELECT event_type, v,
         (lead(us) OVER (PARTITION BY event_type
                         ORDER BY us, event_id) - us) // 1000000 AS dur
  FROM e
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(dur) AS BIGINT) AS dur_s_sum,
       CAST(sum(v * dur) AS BIGINT) AS weighted_sum,
       CAST(sum(v * dur) AS DOUBLE) / CAST(sum(dur) AS DOUBLE)
         AS twap_units
FROM d WHERE dur IS NOT NULL GROUP BY event_type
""")
def q_twap_by_type(spark, sf_dir):
    """Time-weighted average value per event type
    (operators/stats.time_weighted_mean): each event's cents hold until
    the type's next event, so bursty sampling can't bias the mean the
    way plain AVG is biased. Hold durations are exact integer seconds
    ((a - a%%b)/b, matching the oracle's // floor division), both sums
    are BIGINT, and the single final division is IEEE-identical. One
    group-keyed window + one aggregate — no global sort."""
    from spanner_data_validator_spark.operators.stats import (
        time_weighted_mean,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)) \
             .cast("long")
    return time_weighted_mean(ev, "event_type", F.col("ts"), cents,
                              F.col("event_id"))


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


@register("theil_sen_daily", """
WITH daily AS (
  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS x,
         CAST(sum(CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT))
              AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pr AS (
  SELECT a.g, b.y - a.y AS dy, b.x - a.x AS dx
  FROM daily a JOIN daily b ON a.g = b.g AND a.x < b.x
),
r AS (
  SELECT g, CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) AS q,
         row_number() OVER (PARTITION BY g ORDER BY
           CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE), dy, dx) AS rn,
         count(*) OVER (PARTITION BY g) AS m
  FROM pr
)
SELECT g AS event_type, CAST(m AS BIGINT) AS n_pairs, q AS med_slope
FROM r WHERE rn = (m + 1 - (m + 1) % 2) // 2
""")
def q_theil_sen_daily(spark, sf_dir):
    """Theil-Sen robust trend (operators/stats.theil_sen_trend) of each
    type's daily cents series — the median pairwise slope, 29%-breakdown
    where OLS (trend_slope) follows a single corrupted day. Spark
    expands the pairs inside each group's sorted point array (chained
    Generates, no self-join); the oracle is the textbook pairwise
    self-join. Slopes are single IEEE divisions of exact integer
    deltas, so the (slope, dy, dx) order and the lower-median pick are
    engine-identical."""
    from spanner_data_validator_spark.operators.stats import (
        theil_sen_trend,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)) \
             .cast("long")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    daily = (ev.groupBy("event_type", day.alias("day"))
             .agg(F.sum(cents).alias("y")))
    return theil_sen_trend(daily, "event_type", F.col("day"),
                           F.col("y"))


@register("trimmed_mean_price", """
WITH r AS (
  SELECT o_orderpriority AS g,
         CAST(floor(o_totalprice * 1.0e2 + 5.0e-1) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY
           CAST(floor(o_totalprice * 1.0e2 + 5.0e-1) AS BIGINT)) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
),
t AS (
  SELECT g, v, rn, n,
         CAST(floor(CAST(n AS DOUBLE) * CAST(0.1 AS DOUBLE))
              AS BIGINT) AS tr
  FROM r
)
SELECT g, CAST(max(n) AS BIGINT) AS n,
       CAST(max(tr) AS BIGINT) AS n_trim_each,
       CAST(sum(v) AS BIGINT) AS kept_sum,
       CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS trimmed_mean
FROM t WHERE rn > tr AND rn <= n - tr GROUP BY g
""")
def q_trimmed_mean_price(spark, sf_dir):
    """10% two-sided trimmed mean of order value per priority
    (operators/stats.trimmed_mean): rank-trim in exact cents, one final
    division. Boundary ties share the same value so the kept multiset
    is deterministic; the trim count multiplies n by a DOUBLE-cast
    fraction in BOTH engines (a DECIMAL 0.1 floors differently at
    representability edges — the oracle-fraction trap)."""
    from spanner_data_validator_spark.operators.stats import trimmed_mean

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)) \
             .cast("long")
    out = trimmed_mean(o, "o_orderpriority", cents, 0.1)
    return out.select(F.col("o_orderpriority").alias("g"), "n",
                      "n_trim_each", "kept_sum", "trimmed_mean")


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


@register("grid_neighbor_pairs", """
WITH p AS (
  SELECT event_id AS id, CAST(user_id % 1000 AS BIGINT) AS x,
         CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT) % 1000 AS y
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
dense AS (
  SELECT x // 25 AS cx, y // 25 AS cy FROM p
  GROUP BY 1, 2 HAVING count(*) > 256
),
p2 AS (
  SELECT p.* FROM p
  LEFT JOIN dense d ON p.x // 25 = d.cx AND p.y // 25 = d.cy
  WHERE d.cx IS NULL
),
pr AS (
  SELECT a.id AS id_a, b.id AS id_b,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM p2 a JOIN p2 b ON a.id < b.id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 625
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(d2) AS BIGINT) AS d2_sum,
       CAST(min(d2) AS BIGINT) AS d2_min,
       CAST(max(d2) AS BIGINT) AS d2_max,
       CAST(sum(id_a + id_b) AS BIGINT) AS id_checksum
FROM pr
""")
def q_grid_neighbor_pairs(spark, sf_dir):
    """Spatial proximity join (operators/spatial.grid_neighbor_pairs):
    purchase events mapped to a 1000x1000 integer grid, all pairs
    within L2 distance 25. Spark buckets points into radius-sized cells
    and equi-joins each point's 3x3 neighborhood against the cell index
    (candidates ~ local density, hot-cell cap, exact integer distance
    verified on candidates only — the geohash/S2 proximity-join plan);
    the oracle is the quadratic self-join. Squared distances keep
    everything integer: no sqrt, no float order sensitivity."""
    from spanner_data_validator_spark.operators.spatial import (
        grid_neighbor_pairs,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)) \
             .cast("long")
    pts = (ev.where((F.col("event_type") == "purchase")
                    & F.col("value").isNotNull())
           .select(F.col("event_id").alias("id"),
                   (F.col("user_id") % 1000).alias("x"),
                   (cents % 1000).alias("y")))
    pairs = grid_neighbor_pairs(pts, "id", "x", "y",
                                radius=25, max_cell=256)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("d2").alias("d2_sum"),
        F.min("d2").alias("d2_min"),
        F.max("d2").alias("d2_max"),
        F.sum(F.col("id_a") + F.col("id_b")).alias("id_checksum"))


@register("interval_coverage", """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts)
           + (1 + CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT) % 7200)
             * 1000000 AS e
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM iv
),
f AS (
  SELECT user_id, s, e,
         CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw
  FROM m
),
il AS (
  SELECT user_id, s, e,
         sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM f
),
g AS (
  SELECT user_id, isl, min(s) AS st, max(e) AS en,
         CAST(count(*) AS BIGINT) AS ni
  FROM il GROUP BY 1, 2
)
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(en - st) AS BIGINT) AS covered_us,
       CAST(max(ni) AS BIGINT) AS max_intervals
FROM g
""")
def q_interval_coverage(spark, sf_dir):
    """Gaps-and-islands (operators/sessionize.merge_intervals): each
    event opens a value-derived activity interval; overlapping
    intervals per user merge into maximal islands (running-max(end)
    flag + running island count — the containment-safe formulation a
    lag(end) version gets wrong), then total covered time rolls up.
    The dual of sessionize: ranges merged on overlap, not points split
    on gaps. All integer microseconds."""
    from spanner_data_validator_spark.operators.sessionize import (
        merge_intervals,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)) \
             .cast("long")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = (ev.where(F.col("value").isNotNull())
          .select(F.col("user_id"), us.alias("s"),
                  (us + (F.lit(1) + cents % 7200) * F.lit(1_000_000))
                  .alias("e")))
    isl = merge_intervals(iv, "user_id", F.col("s"), F.col("e"))
    return isl.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start"))
         .alias("covered_us"),
        F.max("n_intervals").alias("max_intervals"))


@register("gini_revenue_by_type", """
WITH v AS (
  SELECT event_type,
         CAST(floor(value * 1.0e2 + 5.0e-1) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS i,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       CAST(sum(v) AS BIGINT) AS total_units,
       CAST(sum((2 * i - n - 1) * v) AS BIGINT) AS gini_num,
       CAST(sum((2 * i - n - 1) * v) AS DOUBLE)
         / CAST(max(n) * sum(v) AS DOUBLE) AS gini
FROM r GROUP BY event_type
""")
def q_gini_revenue_by_type(spark, sf_dir):
    """Exact Gini inequality of event value per type
    (operators/stats.gini_coefficient): the rank identity
    sum((2i-n-1)*x_(i)) / (n*sum x) keeps numerator and denominator in
    BIGINT (the textbook pairwise-|difference| form is quadratic and
    float-ordered); tied values sum the same coefficients under any
    tie order, so the result is engine-identical with one division."""
    from spanner_data_validator_spark.operators.stats import (
        gini_coefficient,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)) \
             .cast("long")
    base = ev.where(F.col("value").isNotNull()).select(
        "event_type", cents.alias("v"))
    return gini_coefficient(base, "event_type", F.col("v"))


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


@register("mode_props_by_type", """
WITH c AS (
  SELECT event_type, props AS v, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE props IS NOT NULL GROUP BY 1, 2
),
r AS (
  SELECT event_type, v, n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n DESC, v ASC) AS rk
  FROM c
)
SELECT event_type, v AS mode_value, n AS mode_n FROM r WHERE rk = 1
""")
def q_mode_props_by_type(spark, sf_dir):
    """Per-group mode with a DETERMINISTIC tie-break (highest count,
    then smallest value; operators/stats.deterministic_mode) — Spark's
    built-in mode() documents an arbitrary tie winner, which can never
    be oracle-checked; this one can. Counts collapse map-side before the
    tiny pick window."""
    from spanner_data_validator_spark.operators.stats import (
        deterministic_mode,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return deterministic_mode(ev, "event_type", F.col("props"))


@register("shortest_path_weighted", """
WITH RECURSIVE e0 AS (
  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
         CAST(min(l_quantity) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
e AS (SELECT src, dst, w FROM e0
      UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
seeds AS (
  SELECT DISTINCT l_partkey * 2 AS node FROM lineitem
  WHERE l_partkey % 997 = 0
),
p AS (
  SELECT node, CAST(0 AS BIGINT) AS cost, 0 AS d FROM seeds
  UNION
  SELECT e.dst AS node, p.cost + e.w AS cost, p.d + 1 AS d
  FROM p JOIN e ON p.node = e.src WHERE p.d < 4
),
sp AS (SELECT node, min(cost) AS dist FROM p GROUP BY node)
SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(node) AS BIGINT) AS node_sum,
       CAST(min(node) AS BIGINT) AS node_min,
       CAST(max(node) AS BIGINT) AS node_max
FROM sp GROUP BY dist ORDER BY dist
""")
def q_shortest_path_weighted(spark, sf_dir):
    """Weighted shortest paths (operators/graph.bellman_ford) over the
    part-supplier bipartite graph, edge weight = min lineitem quantity
    on the link, seeded at l_partkey % 997 == 0, 4 relaxation rounds.
    Per round: one equi-join + one BIGINT min-aggregate, lineage
    truncated — distances can improve in later rounds (unlike BFS), so
    the per-round min is the load-bearing step. The oracle enumerates
    all <=4-edge path costs in a WITH RECURSIVE with UNION-distinct on
    (node, cost, d) and takes min(cost); the bounded iterative loop is
    the scale-tuned equivalent of that recursion. Summarized per
    distance value (count/sum/min/max of node ids)."""
    from spanner_data_validator_spark.operators.graph import bellman_ford

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = li.select((F.col("l_partkey") * 2).alias("src"),
                      (F.col("l_suppkey") * 2 + 1).alias("dst"),
                      F.col("l_quantity").cast("long").alias("w"))
    seeds = (li.where(F.col("l_partkey") % 997 == 0)
             .select((F.col("l_partkey") * 2).alias("node")))
    sp = bellman_ford(edges, seeds, rounds=4, undirected=True)
    return (sp.groupBy("dist")
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.sum("node").alias("node_sum"),
                 F.min("node").alias("node_min"),
                 F.max("node").alias("node_max"))
            .orderBy("dist"))


@register("pareto_front_parts", """
WITH c AS (
  SELECT CAST(p_size AS BIGINT) AS x,
         CAST(floor(p_retailprice * 1.0e2 + 5.0e-1) AS BIGINT) AS y
  FROM part
),
sky AS (
  SELECT x, y FROM c c1 WHERE NOT EXISTS (
    SELECT 1 FROM c c2
    WHERE c2.x <= c1.x AND c2.y <= c1.y AND (c2.x < c1.x OR c2.y < c1.y)
  )
)
SELECT x, y, CAST(count(*) AS BIGINT) AS n_points
FROM sky GROUP BY x, y
""")
def q_pareto_front_parts(spark, sf_dir):
    """Skyline / Pareto frontier (operators/skyline.pareto_frontier):
    parts minimizing (p_size, price-cents) jointly — the non-dominated
    set. Spark runs the two-phase distributed plan (hash-agg point
    collapse + per-x min window, then a <=|distinct x|-row prefix-min
    sweep); the oracle is the textbook quadratic NOT-EXISTS dominance
    self-join, viable only at oracle scale — exactly the plan shape the
    distributed rewrite exists to avoid."""
    from spanner_data_validator_spark.operators.skyline import (
        pareto_frontier,
    )

    pt = spark.read.parquet(f"{sf_dir}/part.parquet")
    return pareto_frontier(
        pt, F.col("p_size").cast("long"),
        F.round(F.col("p_retailprice") * 100).cast("long"))


@register("bom_rollup_parts", """
WITH RECURSIVE n AS (
  SELECT p_partkey AS node,
         CASE WHEN p_partkey >= 8 THEN p_partkey // 8 END AS parent,
         CAST(p_partkey % 5 + 1 AS BIGINT) AS qty
  FROM part
),
r AS (
  SELECT node, node AS root, CAST(1 AS BIGINT) AS prod
  FROM n WHERE parent IS NULL
  UNION ALL
  SELECT n.node, r.root, r.prod * n.qty FROM r JOIN n ON n.parent = r.node
),
pl AS (SELECT DISTINCT parent FROM n WHERE parent IS NOT NULL),
lf AS (SELECT r.root, r.prod FROM r
       WHERE NOT EXISTS (SELECT 1 FROM pl WHERE pl.parent = r.node))
SELECT r.root, CAST(count(*) AS BIGINT) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM lf WHERE lf.root = r.root)
         AS n_leaves,
       (SELECT CAST(sum(prod) AS BIGINT) FROM lf WHERE lf.root = r.root)
         AS leaf_qty_sum
FROM r GROUP BY r.root
""")
def q_bom_rollup_parts(spark, sf_dir):
    """Bill-of-materials rollup (operators/hierarchy.bom_rollup) over a
    deterministic forest on part ids (parent = node div 8, roots < 8,
    edge qty = node % 5 + 1): per root assembly, the node count, leaf
    count, and total leaf units required (sum over leaves of the
    multiplier PRODUCT along the root path — BIGINT-exact). Spark
    resolves root paths by POINTER DOUBLING (ceil(log2 depth)+1
    self-joins, lineage truncated) instead of the depth-many dependent
    joins of the oracle's recursive CTE; dangling parents would drop
    their subtree in both engines (none here — ids are contiguous)."""
    from spanner_data_validator_spark.operators.hierarchy import bom_rollup

    pt = spark.read.parquet(f"{sf_dir}/part.parquet")
    nodes = pt.select(
        F.col("p_partkey").alias("node"),
        F.when(F.col("p_partkey") >= 8,
               F.expr("p_partkey div 8")).alias("parent"),
        (F.col("p_partkey") % 5 + 1).alias("qty"))
    return bom_rollup(nodes, max_depth=8)


@register("pareto_front_continuous", """
WITH c AS (
  SELECT CAST(floor(p_retailprice * 1.0e2 + 5.0e-1) AS BIGINT) AS x,
         CAST(p_size AS BIGINT) AS y
  FROM part
),
sky AS (
  SELECT x, y FROM c c1 WHERE NOT EXISTS (
    SELECT 1 FROM c c2
    WHERE c2.x <= c1.x AND c2.y <= c1.y AND (c2.x < c1.x OR c2.y < c1.y)
  )
)
SELECT x, y, CAST(count(*) AS BIGINT) AS n_points
FROM sky GROUP BY x, y
""")
def q_pareto_front_continuous(spark, sf_dir):
    """Skyline with a CONTINUOUS first objective (price cents — ~as many
    distinct values as rows, so the per-x collapse of pareto_frontier
    would prune nothing): operators/skyline.pareto_frontier_wide computes
    per-partition local skylines in Arrow-batched pandas (valid for ANY
    partitioning: skyline(∪Ai) ⊆ ∪skyline(Ai); memory bounded by batch +
    running frontier) and sweeps only the union of local frontiers. The
    objectives are flipped vs pareto_front_parts (cheapest-then-smallest
    instead of smallest-then-cheapest) so the two entries pin different
    frontiers."""
    from spanner_data_validator_spark.operators.skyline import (
        pareto_frontier_wide,
    )

    pt = spark.read.parquet(f"{sf_dir}/part.parquet")
    return pareto_frontier_wide(
        pt, F.round(F.col("p_retailprice") * 100).cast("long"),
        F.col("p_size").cast("long"))


# ---------------------------------------------------------------------------
# Adaptive salted join (operators/skew.hot_keys + adaptive_salted_join):
# salt ONLY detected hot keys — the uniform-salting upgrade for build sides
# too large to replicate wholesale
# ---------------------------------------------------------------------------

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
