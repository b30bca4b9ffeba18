"""Execute a reference-shaped QueryTableSpec end-to-end over JDBC.

This is the bridge from the reference's config surface (dialect SQL with
range binds) to the Spark validation plan: the spec's outer bounds are
substituted into the bind placeholders ONCE (``?``/``?`` on the source side,
``@p1``/``@p2`` on the destination side — TableSpecList.java:56-80,
dto/session/SourceTable.java:104-106 / SpannerTable.java:116-118) to form the
subquery hull, the per-range bounds become Spark JDBC ``predicates`` — one
scan partition per range, each executor issuing its own bound query (the
JdbcIO.readAll fan-out, JDBCToSpannerDVTWithHash.java:580-604) — and both
sides flow through the one table plan, ``comparator.validate_batch``
(fingerprint → full-outer classify → threshold window → tally).

Row hashing follows HashResult.fromJDBCResultSet (dto/HashResult.java:173-326):
EVERY selected column contributes its normalized serialization to the
concatenated preimage; the match key is the column at ``range_field_index``
in the SELECT list. Column NAMES may differ between dialects (source vs
Spanner names) — both sides are renamed positionally before the join, which
is exactly the reference's behavior (it never joins by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spanner_data_validator_spark.operators.comparator import COUNT_COLS, validate_batch
from spanner_data_validator_spark.operators.ranges import (
    PartitionRange,
    fetch_ranges,
    long_ranges_with_filter,
)
from spanner_data_validator_spark.sources.tablespec import QueryTableSpec


def _quote(v: str, field_type: str) -> str:
    if field_type.upper() in ("UUID", "STRING", "TIMESTAMP"):
        return "'" + v.replace("'", "''") + "'"
    float(v)  # numeric domains: validate before interpolating
    return v


def bind_query(sql: str, lo: str, hi: str, *, dialect: str, field_type: str) -> str:
    """Substitute one range's bounds into a spec query.

    ``dialect='source'`` replaces the two positional ``?`` in order;
    ``dialect='dest'`` replaces ``@p1`` / ``@p2``. Substitution is a SINGLE
    pass over the template — sequential str.replace would rescan the already-
    substituted lo literal, so a bound containing ``?`` (or ``@p2``) could
    corrupt the SQL and escape its quoting.
    """
    import re

    lo_l, hi_l = _quote(lo, field_type), _quote(hi, field_type)
    if dialect == "source":
        parts = sql.split("?")
        if len(parts) != 3:
            raise ValueError(
                f"expected exactly two positional binds in source query: {sql}")
        return parts[0] + lo_l + parts[1] + hi_l + parts[2]
    if dialect == "dest":
        if "@p1" not in sql or "@p2" not in sql:
            raise ValueError(f"no @p1/@p2 binds found in dest query: {sql}")
        return re.sub(r"@p[12]",
                      lambda m: lo_l if m.group(0) == "@p1" else hi_l, sql)
    raise ValueError(f"unknown dialect {dialect}")


def spec_ranges(spec: QueryTableSpec) -> list[PartitionRange]:
    """The spec's partition ranges, with the loader's coverage-unit quirk
    normalized: the reference's JSON default is 100 while the fetchers treat
    1 as full coverage — values > 1 are interpreted as percent."""
    coverage = spec.range_coverage / 100 if spec.range_coverage > 1 else spec.range_coverage
    if spec.partition_filter_ratio > 0 and \
            spec.range_field_type.upper() in ("LONG", "INTEGER", "INT"):
        return long_ranges_with_filter(spec.range_start, spec.range_end,
                                       spec.partition_count,
                                       spec.partition_filter_ratio)
    return fetch_ranges(spec.range_field_type, spec.range_start, spec.range_end,
                        spec.partition_count, coverage)


def read_spec_side(
    spark: SparkSession,
    url: str,
    spec: QueryTableSpec,
    *,
    dialect: str,
    properties: dict[str, str] | None = None,
    ranges: list[PartitionRange] | None = None,
) -> DataFrame:
    """One single-partition JDBC scan per bound range query, unioned.

    Each range's SQL runs as a subquery scan on its own connection — Spark
    schedules all ranges' partitions concurrently, the readAll fan-out.
    """
    from spanner_data_validator_spark.sources.jdbc_source import range_predicates

    sql = spec.source_query if dialect == "source" else spec.dest_query
    ranges = ranges if ranges is not None else spec_ranges(spec)
    props = properties or {}
    # ONE relation, not partition_count of them: the full-key-space query is
    # the subquery hull (its binds get the spec's outer bounds) and the
    # per-range bounds become Spark predicates — a single driver-side schema
    # probe and one scan partition per range, instead of O(ranges) blocking
    # JDBC schema round trips + an O(ranges) union plan. The key COLUMN name
    # (which may differ per dialect) comes from the probed schema by the
    # spec's range_field_index.
    hull = bind_query(sql, spec.range_start, spec.range_end, dialect=dialect,
                      field_type=spec.range_field_type)
    dbtable = f"({hull}) AS spec_hull"
    schema = spark.read.jdbc(url, dbtable, properties=props).schema
    key_col = schema[spec.range_field_index].name
    contiguous = (spec.partition_filter_ratio <= 0
                  and (spec.range_coverage >= 100 or spec.range_coverage == 1))
    preds = range_predicates(ranges, key_col, spec.range_field_type,
                             contiguous=contiguous)
    return spark.read.jdbc(url, dbtable, predicates=preds, properties=props)


def validate_query_spec(
    spark: SparkSession,
    spec: QueryTableSpec,
    source_url: str,
    target_url: str,
    *,
    source_properties: dict[str, str] | None = None,
    target_properties: dict[str, str] | None = None,
    algo: str = "xxhash64",
    run_name: str = "run",
    extra_dest_cols: int = 0,
) -> DataFrame:
    """Full spec-driven validation: ranged reads on both sides → positional
    column rename → fingerprint over ALL selected columns → full-outer
    classify on the range-field column → timestamp-threshold window →
    per-range ComparerResult tally.

    ``extra_dest_cols``: trailing destination-side columns intentionally
    absent from the source (the reference's --custom-transformation appends
    them on the dest side only); any OTHER column-count mismatch is refused —
    silently fingerprinting the common prefix would skip validating real
    columns and never report it.

    When the spec carries a timestampThreshold config, classified rows are
    filtered to the reference's threshold window (CountMatchesDoFn.java:47-65)
    using the column at ``timestamp_threshold_col_index`` (TIMESTAMP, DATE or
    numeric epoch millis).
    """
    ranges = spec_ranges(spec)
    src = read_spec_side(spark, source_url, spec, dialect="source",
                         properties=source_properties, ranges=ranges)
    tgt = read_spec_side(spark, target_url, spec, dialect="dest",
                         properties=target_properties, ranges=ranges)

    def positional(df: DataFrame) -> DataFrame:
        return df.toDF(*[f"c{i}" for i in range(len(df.columns))])

    src, tgt = positional(src), positional(tgt)
    if len(tgt.columns) - len(src.columns) != max(0, extra_dest_cols):
        raise ValueError(
            f"column count mismatch: source has {len(src.columns)}, dest has "
            f"{len(tgt.columns)}, extra_dest_cols={extra_dest_cols} — every "
            "selected column is fingerprinted, so a silent common-prefix "
            "truncation would skip validating the rest; pass extra_dest_cols "
            "for intentional custom-transformation columns")
    n_cols = min(len(src.columns), len(tgt.columns))
    payload_cols = [f"c{i}" for i in range(n_cols)]
    key = f"c{spec.range_field_index}"

    threshold_ms = spec.timestamp_threshold_value_ms
    ts_idx = spec.timestamp_threshold_col_index
    if threshold_ms > 0 and ts_idx < 0:
        raise ValueError(
            "spec sets timestampThresholdValue but no timestampThresholdColIndex "
            "— cannot locate the timestamp column to apply the window to")
    ts_col = None
    if threshold_ms > 0:
        if f"c{ts_idx}" not in payload_cols:
            raise ValueError(
                f"timestampThresholdColIndex={ts_idx} is outside the "
                f"{n_cols}-column SELECT list")
        # carried under its own name: the column may also be the match key
        ts_col = "__threshold_ts"
        src, tgt = (df.withColumn(ts_col, F.col(f"c{ts_idx}"))
                    for df in (src, tgt))

    _, report, _ = validate_batch(
        src, tgt, [key], payload_cols, algo=algo,
        num_ranges=max(1, spec.partition_count), run_name=run_name,
        ts_col=ts_col, threshold_millis=threshold_ms,
        delta_mins=spec.timestamp_threshold_delta_mins)
    return report.select("run_name", F.lit(spec.table_name).alias("table_or_query"),
                         "range", *COUNT_COLS)
