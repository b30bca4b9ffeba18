"""Incremental revalidation from checkpoint lineage (jobs/revalidate):
delta detection, scan scope, and merged-report-equals-full law."""
from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from spanner_data_validator_spark.jobs.revalidate import (
    delta_ranges,
    list_data_files,
    range_of_file,
    revalidate_delta_report,
    revalidate_ranges,
    validated_files,
    write_ranged_transcripts,
)
from spanner_data_validator_spark.jobs.validate_transcripts import (
    append_sentinel,
    run_batch_validation,
    run_streaming_validation,
)
from spanner_data_validator_spark.sources.transcript_source import (
    TRANSCRIPT_SCHEMA)


def _corpus(spark, convs, *, drift_on=()):
    rows = []
    for c in convs:
        for t in range(4):
            rows.append((str(c), t, "user", f"text-{c}-{t}", None,
                         dt.datetime(2024, 1, 1, 10, t)))
    src = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    tgt = src.withColumn(
        "text",
        F.when(F.col("conv_id").cast("long").isin(*drift_on)
               & (F.col("turn_idx") == 1),
               F.concat("text", F.lit("#mut"))).otherwise(F.col("text")))
    return src, tgt


def _run_initial(spark, tmp_path, src, tgt):
    src_dir, tgt_dir = str(tmp_path / "src"), str(tmp_path / "tgt")
    write_ranged_transcripts(src, spark, src_dir, tag="init")
    write_ranged_transcripts(tgt, spark, tgt_dir, tag="init")
    append_sentinel(spark, src_dir, tgt_dir)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        sink = run_streaming_validation(
            spark, src_dir, tgt_dir, str(tmp_path / "out"),
            str(tmp_path / "ckpt"), watermark="10 minutes", band="2 hours")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return src_dir, tgt_dir, sink


def _full_by_range(spark, src_dir, tgt_dir):
    """A full batch validation's counts by (range_id, status)."""
    full = (run_batch_validation(spark, src_dir, tgt_dir)
            .withColumn("range_id",
                        (F.col("conv_id").cast("long") % 8).cast("int"))
            .groupBy("range_id", "status").agg(F.count("*").alias("n")))
    return {(r[0], r[1]): r[2] for r in full.collect()}


def test_lineage_diff_finds_only_dirty_range(spark, tmp_path):
    src, tgt = _corpus(spark, range(16), drift_on=[2])
    src_dir, tgt_dir, sink = _run_initial(spark, tmp_path, src, tgt)
    ckpt = str(tmp_path / "ckpt")
    # every initial file (incl. the sentinel drops) is in the ledger
    assert list_data_files(src_dir) <= validated_files(spark, ckpt)
    assert delta_ranges(spark, ckpt, src_dir, tgt_dir) == set()
    # nightly drop: conv 19 -> range 19 % 8 = 3, target side only
    d_src, d_tgt = _corpus(spark, [19])
    write_ranged_transcripts(d_tgt, spark, tgt_dir, tag="delta")
    assert delta_ranges(spark, ckpt, src_dir, tgt_dir) == {3}


def test_revalidation_scans_only_dirty_range_files(spark, tmp_path):
    src, tgt = _corpus(spark, range(16), drift_on=[2])
    src_dir, tgt_dir, sink = _run_initial(spark, tmp_path, src, tgt)
    d_src, d_tgt = _corpus(spark, [19, 27])  # both -> range 3
    write_ranged_transcripts(d_src, spark, src_dir, tag="delta")
    write_ranged_transcripts(d_tgt, spark, tgt_dir, tag="delta")
    changed = delta_ranges(spark, str(tmp_path / "ckpt"), src_dir, tgt_dir)
    assert changed == {3}
    fresh = revalidate_ranges(spark, src_dir, tgt_dir, changed)
    # scan-scope law: the file list each side's scan is constructed from
    # holds ONLY range-3 files, and the single-source scan over that list
    # confirms via input_file_name that nothing else is touched
    from spanner_data_validator_spark.jobs.revalidate import range_files
    for d in (src_dir, tgt_dir):
        files = range_files(d, changed)
        assert files and all(range_of_file(f.split("/")[-1]) == 3
                             for f in files)
        touched = {r["f"].split("/")[-1] for r in
                   spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*files)
                   .select(F.input_file_name().alias("f"))
                   .distinct().collect()}
        assert touched == {f.split("/")[-1] for f in files}
    # and the fresh classification covers ALL of range 3 (old + new keys)
    convs = {r["conv_id"] for r in fresh.select("conv_id")
             .distinct().collect()}
    assert convs == {"3", "11", "19", "27"}


def test_merged_report_equals_full_revalidation(spark, tmp_path):
    src, tgt = _corpus(spark, range(16), drift_on=[2, 5])
    src_dir, tgt_dir, sink = _run_initial(spark, tmp_path, src, tgt)
    # drop: one conv on both sides (MATCH rows) + one target-only conv,
    # ranges 19%8=3 and 21%8=5
    both_src, both_tgt = _corpus(spark, [19])
    write_ranged_transcripts(both_src, spark, src_dir, tag="d1")
    write_ranged_transcripts(both_tgt, spark, tgt_dir, tag="d1")
    only_src, only_tgt = _corpus(spark, [21])
    write_ranged_transcripts(only_tgt, spark, tgt_dir, tag="d2")
    merged = revalidate_delta_report(
        spark, sink, str(tmp_path / "ckpt"), src_dir, tgt_dir)
    full = (run_batch_validation(spark, src_dir, tgt_dir)
            .withColumn("range_id",
                        (F.col("conv_id").cast("long") % 8).cast("int"))
            .groupBy("range_id", "status").agg(F.count("*").alias("n")))
    got = {tuple(r) for r in merged.collect()}
    want = {tuple(r) for r in full.collect()}
    assert got == want
    # the interesting rows, spelled out: range 5 now holds conv 21's
    # TARGET_ONLY turns next to conv 5's prior mismatch
    as_map = {(r[0], r[1]): r[2] for r in got}
    assert as_map[(5, "TARGET_ONLY")] == 4
    assert as_map[(5, "MISMATCH")] == 1
    assert as_map[(3, "MATCH")] == 4 + 4 + 4  # convs 3, 11, 19


def test_dirty_range_duplicate_keys_counted_once(spark, tmp_path):
    """An exact duplicate (conv_id, turn_idx) row on both sides of the
    dirty range must tally once, as the full batch validation counts it
    (first row per key, CountMatchesDoFn.java:73-80) — not k_src x k_tgt
    times."""
    src, tgt = _corpus(spark, range(16), drift_on=[2])
    src_dir, tgt_dir, sink = _run_initial(spark, tmp_path, src, tgt)
    d_src, d_tgt = _corpus(spark, [19])  # range 19 % 8 = 3
    dup = F.col("turn_idx") == 0
    write_ranged_transcripts(d_src.unionByName(d_src.where(dup)), spark,
                             src_dir, tag="dup")
    write_ranged_transcripts(d_tgt.unionByName(d_tgt.where(dup)), spark,
                             tgt_dir, tag="dup")
    ckpt = str(tmp_path / "ckpt")
    assert delta_ranges(spark, ckpt, src_dir, tgt_dir) == {3}
    merged = revalidate_delta_report(spark, sink, ckpt, src_dir, tgt_dir)
    got = {(r[0], r[1]): r[2] for r in merged.collect()}
    assert got == _full_by_range(spark, src_dir, tgt_dir)
    assert got[(3, "MATCH")] == 4 + 4 + 4  # convs 3, 11, 19, one row per key


def test_clean_range_duplicate_key_matches_full_revalidation(spark, tmp_path):
    """An exact duplicate key in a range the delta leaves clean is counted
    once by the initial stream run, so the merged report still equals a
    full batch validation (the stream plan keeps one row per key, like the
    batch plan)."""
    src, tgt = _corpus(spark, range(16), drift_on=[2])
    dup = (F.col("conv_id") == "4") & (F.col("turn_idx") == 0)  # range 4
    src, tgt = src.unionByName(src.where(dup)), tgt.unionByName(tgt.where(dup))
    src_dir, tgt_dir, sink = _run_initial(spark, tmp_path, src, tgt)
    d_src, d_tgt = _corpus(spark, [19])  # range 19 % 8 = 3
    write_ranged_transcripts(d_src, spark, src_dir, tag="d1")
    write_ranged_transcripts(d_tgt, spark, tgt_dir, tag="d1")
    ckpt = str(tmp_path / "ckpt")
    assert delta_ranges(spark, ckpt, src_dir, tgt_dir) == {3}
    merged = revalidate_delta_report(spark, sink, ckpt, src_dir, tgt_dir)
    got = {(r[0], r[1]): r[2] for r in merged.collect()}
    assert got == _full_by_range(spark, src_dir, tgt_dir)
    assert got[(4, "MATCH")] == 4 + 4  # convs 4, 12, one row per key
