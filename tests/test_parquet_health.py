"""sources/files file-level health: footer scan, quarantined read."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from spanner_data_validator_spark.sources.files import (
    read_with_quarantine,
    scan_parquet_health,
)

SRC = "/root/testdata/sf0.001/documents.parquet"


def _stage(tmp_path, n_good=2, torn=True, stray=True):
    d = str(tmp_path / "drop")
    os.makedirs(d)
    for i in range(n_good):
        shutil.copy(SRC, f"{d}/c{i}.parquet")
    if torn:
        with open(SRC, "rb") as f:
            head = f.read(2048)
        with open(f"{d}/torn.parquet", "wb") as f:
            f.write(head)
    if stray:
        with open(f"{d}/stray.parquet", "w") as f:
            f.write("junk\n")
    return d


def test_health_scan_splits_and_counts(spark, tmp_path):
    d = _stage(tmp_path)
    paths = sorted(os.path.join(d, f) for f in os.listdir(d))
    rows = {r["path"]: r for r in
            scan_parquet_health(spark, paths).collect()}
    assert len(rows) == 4
    n_docs = spark.read.parquet(SRC).count()
    for p, r in rows.items():
        if os.path.basename(p).startswith("c"):
            assert r["ok"] and r["n_rows"] == n_docs and r["error"] is None
        else:
            assert not r["ok"] and r["n_rows"] == 0 and r["error"]


def test_read_with_quarantine(spark, tmp_path):
    d = _stage(tmp_path)
    good, health = read_with_quarantine(spark, d)
    n_docs = spark.read.parquet(SRC).count()
    assert good.count() == 2 * n_docs
    bad = [os.path.basename(r["path"])
           for r in health.where(~F.col("ok")).collect()]
    assert sorted(bad) == ["stray.parquet", "torn.parquet"]


def test_all_good_reads_everything(spark, tmp_path):
    d = _stage(tmp_path, n_good=3, torn=False, stray=False)
    good, health = read_with_quarantine(spark, d)
    assert health.where(~F.col("ok")).count() == 0
    assert good.count() == 3 * spark.read.parquet(SRC).count()


def test_no_readable_files_raises(spark, tmp_path):
    d = _stage(tmp_path, n_good=0)
    with pytest.raises(ValueError, match="no readable parquet"):
        read_with_quarantine(spark, d)


def test_file_uris_accepted(spark, tmp_path):
    d = _stage(tmp_path)
    paths = sorted(f"file://{d}/{f}" for f in os.listdir(d))
    ok = {os.path.basename(r["path"]) for r in
          scan_parquet_health(spark, paths).where(F.col("ok")).collect()}
    assert ok == {"c0.parquet", "c1.parquet"}
    good, health = read_with_quarantine(spark, f"file://{d}")
    assert good.count() == 2 * spark.read.parquet(SRC).count()
    assert health.where(~F.col("ok")).count() == 2


@pytest.mark.parametrize("uri", ["s3a://bucket/drop", "hdfs://nn:8020/drop",
                                 "file://otherhost/drop"])
def test_non_local_paths_rejected_before_any_job(spark, uri):
    sc = spark.sparkContext
    sc.setJobGroup("non-local-path", "no job may run")
    try:
        with pytest.raises(ValueError, match="only local paths"):
            scan_parquet_health(spark, ["/tmp/a.parquet", f"{uri}/a.parquet"])
        with pytest.raises(ValueError, match="only local paths"):
            read_with_quarantine(spark, uri)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("non-local-path") == []


def test_empty_path_list(spark):
    assert scan_parquet_health(spark, []).count() == 0
