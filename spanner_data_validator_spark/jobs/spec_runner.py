"""TableSpec-driven multi-table validation (reference O2 + S9 config surface).

The reference validates a list of tables per run, each described by a
``TableSpec`` JSON (dto/TableSpec.java:25-48, loader TableSpecList.java:159-267)
and throttled to ``maxTablesInEffectAtOneTime`` (default 10) concurrent
sub-pipelines via PipelineTracker/Wait.on (PipelineTracker.java:41-65,
common/DVTOptionsCore.java:278-282).

Spark-native form: a ``TableSpec`` dataclass (JSON-loadable), one declarative
validation plan per table, and a bounded thread pool submitting concurrent
Spark actions — the scheduler interleaves their stages, which IS the Wait.on
batching without the hack. Per-table reports union into one ComparerResult
table carrying ``table_or_query`` exactly like the reference's BQ schema
(JDBCToSpannerDVTWithHash.java:123-157).
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

DEFAULT_PARTITION_COUNT = 100  # common/DVTOptionsCore.java:176-180
DEFAULT_MAX_CONCURRENT = 10  # common/DVTOptionsCore.java:278-282


@dataclass
class TableSpec:
    """One table's validation config (dto/TableSpec.java:25-48 analogue)."""

    table_name: str
    source_path: str
    target_path: str
    key_cols: list[str]
    payload_cols: list[str]
    json_cols: list[str] = field(default_factory=list)
    algo: str = "xxhash64"
    num_ranges: int = DEFAULT_PARTITION_COUNT
    timestamp_threshold_millis: int = 0
    timestamp_delta_mins: int = 0
    ts_col: str | None = None
    fmt: str = "parquet"
    # config-driven source transform: "module:function" (+ opaque params),
    # the jarPath/classPath analogue (transform/CustomTransformation.java)
    transformation: str | None = None
    transformation_params: str | None = None

    @staticmethod
    def from_dict(d: dict) -> "TableSpec":
        # tolerate unknown JSON keys like the reference loader (which reads
        # only the fields it knows) — forward-compatible spec files
        from dataclasses import fields

        known = {f.name for f in fields(TableSpec)}
        return TableSpec(**{k: v for k, v in d.items() if k in known})


def load_specs(path: str) -> list[TableSpec]:
    """TableSpecList.getFromJsonFile analogue (TableSpecList.java:159-267)."""
    with open(path) as f:
        raw = json.load(f)
    return [TableSpec.from_dict(d) for d in raw]


def _validate_one(spark: SparkSession, spec: TableSpec, run_name: str):
    """One table through ``comparator.validate_batch``: read both sides,
    apply the spec's custom source transform, keep the report columns."""
    from pyspark.sql import functions as F

    from spanner_data_validator_spark.operators.comparator import COUNT_COLS, validate_batch

    def read(p):
        return spark.read.format(spec.fmt).load(p)

    source_df = read(spec.source_path)
    if spec.transformation:
        from spanner_data_validator_spark.operators.transform import (
            apply_custom_transformation,
            load_custom_transformation,
        )

        fn = load_custom_transformation(spec.transformation,
                                        spec.transformation_params)
        source_df = apply_custom_transformation(source_df, fn)
    _, report, _ = validate_batch(
        source_df, read(spec.target_path), spec.key_cols, spec.payload_cols,
        algo=spec.algo, json_cols=frozenset(spec.json_cols),
        num_ranges=spec.num_ranges, run_name=run_name, ts_col=spec.ts_col,
        threshold_millis=spec.timestamp_threshold_millis,
        delta_mins=spec.timestamp_delta_mins)
    return report.select("run_name", F.lit(spec.table_name).alias("table_or_query"),
                         "range", *COUNT_COLS)


def run_specs(
    spark: SparkSession,
    specs: list[TableSpec],
    *,
    run_name: str = "run",
    max_concurrent: int = DEFAULT_MAX_CONCURRENT,
    per_table_action=None,
) -> DataFrame:
    """Validate every spec'd table; returns the combined ComparerResult DF.

    Without ``per_table_action`` the result is ONE lazy union plan — Spark
    schedules all tables' stages together when the caller acts on it, and no
    throttle is needed (plan construction is cheap; ``max_concurrent`` is
    irrelevant to a single job).

    With ``per_table_action(report_df, spec)`` each table's report is
    MATERIALIZED (written, counted, …) as its own Spark action, and the
    bounded pool keeps at most ``max_concurrent`` tables' jobs in flight —
    the reference's Wait.on batching (PipelineTracker.java:41-65,
    maxTablesInEffectAtOneTime common/DVTOptionsCore.java:278-282). Actions
    run on pool threads; failures propagate after all submitted work drains.
    """
    reports = [_validate_one(spark, s, run_name) for s in specs]
    if per_table_action is not None:
        workers = max(1, min(max_concurrent, len(specs)))
        with ThreadPoolExecutor(max_workers=workers) as ex:
            futures = [ex.submit(per_table_action, rep, spec)
                       for rep, spec in zip(reports, specs)]
            for f in futures:
                f.result()
    return reduce(DataFrame.unionByName, reports)
