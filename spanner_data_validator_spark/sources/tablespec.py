"""Reference-shaped query TableSpec: JSON load/save + merged-spec precedence.

The reference drives each table's validation from a ``TableSpec`` carrying the
two dialect queries and the range/partition/timestamp-threshold config
(dto/TableSpec.java:25-48). This module re-expresses:

  TableSpecList.getFromJsonString  (TableSpecList.java:159-228, incl. the
      nullable-field defaults and LocalDateTime+zone-offset threshold parse)
  TableSpecList.toJsonFile         (TableSpecList.java:269-304)
  generateTableSpec precedence     (JDBCToSpannerDVTWithHash.java:798-850:
      tablespec JSON wins over session-generated specs per table name)

It complements jobs/spec_runner.TableSpec (the Spark-native path-based spec);
jobs/query_spec_runner executes these query-shaped specs end-to-end over JDBC
(bind substitution per range → readAll fan-out → classify → tally).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

DEFAULT_PARTITION_COUNT = 100
DEFAULT_RANGE_COVERAGE = 100


@dataclass
class QueryTableSpec:
    table_name: str
    source_query: str
    dest_query: str
    range_field_index: int = 0
    range_field_type: str = "LONG"
    range_start: str = "0"
    range_end: str = str(2**63 - 1)
    range_coverage: float = DEFAULT_RANGE_COVERAGE
    partition_count: int = DEFAULT_PARTITION_COUNT
    partition_filter_ratio: int = -1
    timestamp_threshold_col_index: int = -1
    timestamp_threshold_delta_mins: int = 0
    timestamp_threshold_zone_offset: int = 0
    timestamp_threshold_value_ms: int = 0
    range_field_name: str | None = None

    @staticmethod
    def from_json_obj(o: dict) -> "QueryTableSpec":
        """One spec from its JSON object — same required fields and same
        defaults for absent optionals as the reference loader."""
        def opt(key, default, conv):
            v = o.get(key)
            return default if v is None else conv(v)

        zone_offset = opt("timestampThresholdZoneOffset", 0, int)
        threshold_ms = 0
        raw_ts = o.get("timestampThresholdValue")
        if raw_ts is not None:
            # LocalDateTime string interpreted at the spec's zone offset
            dt = datetime.fromisoformat(raw_ts).replace(
                tzinfo=timezone(timedelta(hours=zone_offset)))
            threshold_ms = int(dt.timestamp() * 1000)
        return QueryTableSpec(
            table_name=o["tableName"],
            source_query=o["sourceQuery"],
            dest_query=o["destQuery"],
            range_field_index=int(o["rangeFieldIndex"]),
            range_field_type=o["rangeFieldType"],
            range_start=o["rangeStart"],
            range_end=o["rangeEnd"],
            range_coverage=opt("rangeCoverage", DEFAULT_RANGE_COVERAGE, float),
            partition_count=opt("partitionCount", DEFAULT_PARTITION_COUNT, int),
            partition_filter_ratio=opt("partitionFilterRatio", -1, int),
            timestamp_threshold_col_index=opt("timestampThresholdColIndex", -1, int),
            timestamp_threshold_delta_mins=opt("timestampThresholdDeltaInMins", 0, int),
            timestamp_threshold_zone_offset=zone_offset,
            timestamp_threshold_value_ms=threshold_ms,
        )

    def to_json_obj(self) -> dict:
        o = {
            "tableName": self.table_name,
            "sourceQuery": self.source_query,
            "destQuery": self.dest_query,
            "rangeFieldIndex": self.range_field_index,
            "rangeFieldType": self.range_field_type,
            "rangeStart": self.range_start,
            "rangeEnd": self.range_end,
            "rangeCoverage": self.range_coverage,
            "partitionCount": self.partition_count,
            "partitionFilterRatio": self.partition_filter_ratio,
            "timestampThresholdColIndex": self.timestamp_threshold_col_index,
            "timestampThresholdDeltaInMins": self.timestamp_threshold_delta_mins,
            "timestampThresholdZoneOffset": self.timestamp_threshold_zone_offset,
        }
        if self.timestamp_threshold_value_ms:
            # deliberate divergence: the reference renders the threshold as a
            # UTC LocalDateTime (TableSpecList.java:290-293) while its loader
            # re-interprets the string AT THE SPEC'S ZONE OFFSET — every
            # save/load cycle silently shifts the instant by the offset.
            # Rendering at the spec's own offset makes round-trip an identity.
            tz = timezone(timedelta(hours=self.timestamp_threshold_zone_offset))
            dt = datetime.fromtimestamp(self.timestamp_threshold_value_ms / 1000,
                                        tz=tz)
            o["timestampThresholdValue"] = dt.strftime("%Y-%m-%dT%H:%M:%S")
        return o


def specs_from_json(json_str: str) -> list[QueryTableSpec]:
    return [QueryTableSpec.from_json_obj(o) for o in json.loads(json_str)]


def specs_from_json_file(path: str) -> list[QueryTableSpec]:
    with open(path, encoding="utf-8") as f:
        return specs_from_json(f.read())


def specs_to_json_file(specs: list[QueryTableSpec], path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump([s.to_json_obj() for s in specs], f, indent=2)


def generate_table_specs(
    *,
    table_spec_json: str | None = None,
    session_file_json: str | None = None,
    generate: bool = False,
    partition_count: int = DEFAULT_PARTITION_COUNT,
    partition_filter_ratio: int = -1,
    custom_transformation: bool = False,
    backticks: bool = False,
) -> list[QueryTableSpec]:
    """Merged-spec precedence (JDBCToSpannerDVTWithHash.generateTableSpec):

    * ``generate=True`` + both inputs → session-derived specs for every table,
      but any table also present in the tablespec JSON uses THAT spec
      (tablespec wins per table name).
    * one input → that input alone.
    * ``generate=False`` → the tablespec JSON if given, else the session file.
    """
    from spanner_data_validator_spark.sources.session_file import (
        read_session_file,
        table_specs_from_session,
    )

    from_session = None
    from_json = None
    if session_file_json:
        from_session = table_specs_from_session(
            read_session_file(session_file_json),
            partition_count=partition_count,
            partition_filter_ratio=partition_filter_ratio,
            custom_transformation=custom_transformation,
            backticks=backticks,
        )
    if table_spec_json:
        from_json = specs_from_json_file(table_spec_json)

    if generate and from_session is not None and from_json is not None:
        override = {s.table_name for s in from_json}
        return [s for s in from_session if s.table_name not in override] + from_json
    if from_json is not None:
        return from_json
    if from_session is not None:
        return from_session
    raise ValueError("no tablespec JSON or session file provided")


def with_last_updated_cutoff(spec: QueryTableSpec, col_index: int, *,
                             hours_back: float = 1.0,
                             now_ms: int | None = None) -> QueryTableSpec:
    """A copy of ``spec`` that validates only rows last-updated BEFORE
    ``now - hours_back`` (rows touched more recently are classified into the
    in-flight bucket, not counted as mismatches).

    Re-expresses TableSpecList.getTableSpecsWithLastUpdatedTimeCutoff
    (TableSpecList.java:85-123), which builds its sample specs with
    ``DateTime.now().minusHours(1)`` and a per-table threshold column index.
    The reference deliberately does NOT push the cutoff into the SQL — the
    last-updated column is unindexed on the source — and neither do we: the
    filter runs post-read in the classify stage
    (operators/comparator.apply_timestamp_threshold), a codegen filter that
    costs nothing next to the fingerprint join. ``now_ms`` pins the clock for
    deterministic tests and resumable runs.
    """
    from dataclasses import replace
    import time

    if now_ms is None:
        now_ms = int(time.time() * 1000)
    return replace(
        spec,
        timestamp_threshold_col_index=col_index,
        timestamp_threshold_value_ms=now_ms - int(hours_back * 3_600_000),
    )
