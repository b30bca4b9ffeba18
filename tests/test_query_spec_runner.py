"""QueryTableSpec executed end-to-end over a live (embedded Derby) JDBC pair.

Closes the reference's main entry path in one line: dialect SQL with range
binds → per-range JDBC scans → fingerprint-all-columns → full-outer classify
→ ComparerResult tally (JDBCToSpannerDVTWithHash.runDVT dataflow).
"""

from __future__ import annotations

import pytest

from spanner_data_validator_spark.jobs.query_spec_runner import (
    bind_query,
    read_spec_side,
    spec_ranges,
    validate_query_spec,
)
from spanner_data_validator_spark.sources.tablespec import QueryTableSpec


def _seed(spark, url, table, rows):
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute(f"CREATE TABLE {table} (id BIGINT PRIMARY KEY, code VARCHAR(24))")
    ps = conn.prepareStatement(f"INSERT INTO {table} VALUES (?, ?)")
    for i, code in rows:
        ps.setLong(1, i)
        ps.setString(2, code)
        ps.executeUpdate()
    ps.close()
    st.close()
    conn.close()


@pytest.fixture(scope="module")
def derby_pair(spark, tmp_path_factory):
    """Source/target DBs with planted diffs: id 3 mutated, id 7 source-only,
    id 100 target-only."""
    d = tmp_path_factory.mktemp("derby_specs")
    src_url = f"jdbc:derby:{d}/src;create=true"
    tgt_url = f"jdbc:derby:{d}/tgt;create=true"
    src_rows = [(i, f"code{i}") for i in range(50)]
    tgt_rows = [(i, "MUTATED" if i == 3 else f"code{i}") for i in range(50)
                if i != 7] + [(100, "code100")]
    _seed(spark, src_url, "member_events", src_rows)
    _seed(spark, tgt_url, "member_events", tgt_rows)
    return src_url, tgt_url


SPEC = QueryTableSpec(
    table_name="member_events",
    source_query="select id, code from member_events where id >= ? and id <= ?",
    dest_query="select id, code from member_events where id >= @p1 and id <= @p2",
    range_field_index=0,
    range_field_type="LONG",
    range_start="0",
    range_end="200",
    range_coverage=100,  # the loader's percent-unit default
    partition_count=4,
)


def test_bind_query_both_dialects():
    b = bind_query(SPEC.source_query, "0", "49", dialect="source",
                   field_type="LONG")
    assert b == "select id, code from member_events where id >= 0 and id <= 49"
    d = bind_query(SPEC.dest_query, "0", "49", dialect="dest", field_type="LONG")
    assert d == "select id, code from member_events where id >= 0 and id <= 49"
    q = bind_query("select * from t where u >= ? and u <= ?",
                   "o'brien", "z", dialect="source", field_type="STRING")
    assert "u >= 'o''brien'" in q  # escaped, not injectable
    with pytest.raises(ValueError):
        bind_query("select 1", "0", "1", dialect="dest", field_type="LONG")


def test_spec_ranges_coverage_percent_normalized():
    rs = spec_ranges(SPEC)
    assert len(rs) == 4  # coverage 100 (percent) == full coverage, not error
    assert rs[0].start == "0" and rs[-1].end == "200"


def test_read_spec_side_unions_all_ranges(spark, derby_pair):
    src_url, _ = derby_pair
    df = read_spec_side(spark, src_url, SPEC, dialect="source")
    assert df.count() == 50
    assert df.rdd.getNumPartitions() == 4  # one scan per range


def test_validate_query_spec_counts(spark, derby_pair):
    src_url, tgt_url = derby_pair
    report = validate_query_spec(spark, SPEC, src_url, tgt_url, run_name="r")
    rows = report.collect()
    assert all(r["table_or_query"] == "member_events" for r in rows)
    tot = {k: sum(r[k] for r in rows) for k in
           ("match_count", "source_count", "target_count",
            "source_conflict_count", "target_conflict_count")}
    # 50 source rows: 48 match, 1 mismatch (id 3), 1 source-only (id 7);
    # target adds 1 target-only (id 100)
    assert tot["match_count"] == 48
    assert tot["source_count"] == 50
    assert tot["target_count"] == 50
    assert tot["source_conflict_count"] == 2  # MISMATCH + SOURCE_ONLY
    assert tot["target_conflict_count"] == 2  # MISMATCH + TARGET_ONLY


def test_run_dvt_cli_validation_mode(spark, derby_pair, tmp_path):
    """The runDVT CLI end-to-end: spec JSON in, parquet ComparerResult out."""
    from spanner_data_validator_spark.jobs.run_dvt import main
    from spanner_data_validator_spark.sources.tablespec import specs_to_json_file

    src_url, tgt_url = derby_pair
    spec_file = tmp_path / "specs.json"
    specs_to_json_file([SPEC], str(spec_file))
    out = tmp_path / "out"
    main(["--table-spec-json", str(spec_file),
          "--source-url", src_url, "--target-url", tgt_url,
          "--out", str(out), "--run-name", "cli"])
    rep = spark.read.parquet(str(out / "report"))
    rows = rep.collect()
    assert {r["run_name"] for r in rows} == {"cli"}
    assert sum(r["match_count"] for r in rows) == 48


def test_bind_query_bound_containing_placeholder_chars():
    """Round-2 review regression: a bound containing '?' (or '@p2') must not
    be rescanned by the second substitution."""
    q = bind_query("select * from t where k >= ? and k <= ?", "a?b", "zz",
                   dialect="source", field_type="STRING")
    assert q == "select * from t where k >= 'a?b' and k <= 'zz'"
    d = bind_query("select * from t where k >= @p1 and k <= @p2", "x@p2y", "zz",
                   dialect="dest", field_type="STRING")
    assert d == "select * from t where k >= 'x@p2y' and k <= 'zz'"


def _seed_ts(spark, url, table, rows):
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute(f"CREATE TABLE {table} "
               "(id BIGINT PRIMARY KEY, code VARCHAR(24), updated TIMESTAMP)")
    ps = conn.prepareStatement(f"INSERT INTO {table} VALUES (?, ?, ?)")
    for i, code, epoch_ms in rows:
        ps.setLong(1, i)
        ps.setString(2, code)
        ps.setTimestamp(3, jvm.java.sql.Timestamp(epoch_ms))
        ps.executeUpdate()
    ps.close()
    st.close()
    conn.close()


OLD_MS = 1_600_000_000_000   # before the threshold
NEW_MS = 1_700_000_000_000   # at/after the threshold


@pytest.fixture(scope="module")
def derby_ts_pair(spark, tmp_path_factory):
    """Both sides have 20 rows; ids < 10 updated BEFORE the threshold, the
    rest at/after. A mismatch is planted in each half (ids 3 and 13)."""
    d = tmp_path_factory.mktemp("derby_ts_specs")
    src_url = f"jdbc:derby:{d}/src;create=true"
    tgt_url = f"jdbc:derby:{d}/tgt;create=true"
    rows = [(i, f"code{i}", OLD_MS if i < 10 else NEW_MS) for i in range(20)]
    mut = [(i, "MUTATED" if i in (3, 13) else c, ts) for i, c, ts in rows]
    _seed_ts(spark, src_url, "member_events", rows)
    _seed_ts(spark, tgt_url, "member_events", mut)
    return src_url, tgt_url


def _ts_spec(**overrides):
    base = dict(
        table_name="member_events",
        source_query="select id, code, updated from member_events "
                     "where id >= ? and id <= ?",
        dest_query="select id, code, updated from member_events "
                   "where id >= @p1 and id <= @p2",
        range_field_index=0, range_field_type="LONG",
        range_start="0", range_end="100", partition_count=2,
    )
    base.update(overrides)
    return QueryTableSpec(**base)


def test_validate_query_spec_applies_timestamp_threshold(spark, derby_ts_pair):
    """A spec with timestampThreshold* must only tally rows inside the
    threshold window (ADVICE r2: the parsed config was silently ignored)."""
    src_url, tgt_url = derby_ts_pair
    spec = _ts_spec(timestamp_threshold_col_index=2,
                    timestamp_threshold_value_ms=NEW_MS)
    rows = validate_query_spec(spark, spec, src_url, tgt_url).collect()
    tot = {k: sum(r[k] for r in rows) for k in
           ("match_count", "source_count", "target_count")}
    # only the 10 NEW_MS rows survive the [th, th+10000d] window
    assert tot["source_count"] == 10 and tot["target_count"] == 10
    assert tot["match_count"] == 9  # id 13 mismatches inside the window

    # without the threshold config all 20 rows tally
    rows_all = validate_query_spec(spark, _ts_spec(), src_url, tgt_url).collect()
    assert sum(r["match_count"] for r in rows_all) == 18


def test_validate_query_spec_date_threshold_column(spark, derby_ts_pair):
    """A DATE column at timestamp_threshold_col_index is windowed on its
    UTC-midnight epoch millis, with the same tallies as the TIMESTAMP case."""
    import datetime as dt

    src_url, tgt_url = derby_ts_pair
    day = dt.datetime.fromtimestamp(NEW_MS / 1000, dt.timezone.utc).date()
    th = int(dt.datetime(day.year, day.month, day.day,
                         tzinfo=dt.timezone.utc).timestamp() * 1000)
    spec = _ts_spec(
        source_query="select id, code, CAST(updated AS DATE) AS updated_day "
                     "from member_events where id >= ? and id <= ?",
        dest_query="select id, code, CAST(updated AS DATE) AS updated_day "
                   "from member_events where id >= @p1 and id <= @p2",
        timestamp_threshold_col_index=2, timestamp_threshold_value_ms=th)
    rows = validate_query_spec(spark, spec, src_url, tgt_url).collect()
    tot = {k: sum(r[k] for r in rows) for k in
           ("match_count", "source_count", "target_count")}
    assert (tot["source_count"], tot["target_count"],
            tot["match_count"]) == (10, 10, 9)


def test_validate_query_spec_threshold_on_key_column(spark, derby_ts_pair):
    """The threshold column may be the match key itself; a numeric column
    is taken as epoch millis as is (ids 10..19 fall in [10, 10+10000d])."""
    src_url, tgt_url = derby_ts_pair
    spec = _ts_spec(timestamp_threshold_col_index=0,
                    timestamp_threshold_value_ms=10)
    rows = validate_query_spec(spark, spec, src_url, tgt_url).collect()
    tot = {k: sum(r[k] for r in rows) for k in
           ("match_count", "source_count", "target_count")}
    assert (tot["source_count"], tot["target_count"],
            tot["match_count"]) == (10, 10, 9)


def test_validate_query_spec_threshold_value_without_col_index(spark, derby_ts_pair):
    src_url, tgt_url = derby_ts_pair
    spec = _ts_spec(timestamp_threshold_value_ms=NEW_MS)
    with pytest.raises(ValueError, match="ColIndex"):
        validate_query_spec(spark, spec, src_url, tgt_url)


def test_validate_query_spec_refuses_silent_column_truncation(spark, derby_ts_pair):
    """A dest SELECT with more columns than the source must fail fast unless
    the caller marks the trailing columns as intentional (ADVICE r2: the
    common-prefix min() silently skipped validating them)."""
    src_url, tgt_url = derby_ts_pair
    spec = _ts_spec(
        source_query="select id, code from member_events "
                     "where id >= ? and id <= ?")
    with pytest.raises(ValueError, match="column count mismatch"):
        validate_query_spec(spark, spec, src_url, tgt_url)
    rows = validate_query_spec(spark, spec, src_url, tgt_url,
                               extra_dest_cols=1).collect()
    assert sum(r["match_count"] for r in rows) == 18
