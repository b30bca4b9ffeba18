"""Incremental revalidation driven by checkpoint batch lineage — the
production "nightly delta re-check" (VERDICT r4 #6).

The reference approximates delta revalidation with a timestamp-threshold
filter (SURVEY §2 P2 — `JDBCToSpannerDVTWithHash.java` last-updated
predicate): re-check rows newer than T, trusting the clock. Here the
structured-streaming checkpoint's write-ahead log IS the ledger of what has
been validated: every committed micro-batch manifests exactly which input
files it admitted (``streaming/state_inspect.batch_lineage``). Diffing that
ledger against the current directory listing yields the NEW data files; the
range encoded in each file name maps them to validation ranges; only those
ranges are re-read and re-classified, and the scan provably touches only
their files (plan-audited in tests/test_revalidate.py). On Iceberg the same
ledger is the snapshot's data-file manifest and the diff is an incremental
scan between snapshots — the protocol is identical.

Range convention: transcript data files are named ``r<range_id>_*.parquet``
in a FLAT stream directory (file-stream sources watch a flat glob —
``sources/transcript_source.write_transcripts``). ``write_ranged_transcripts``
stages a frame that way with ONE partitionBy write job; range_id =
``CAST(conv_id AS BIGINT) % n_ranges``.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RANGE_FILE_RE = re.compile(r"^r(\d+)_")


def range_of_file(path: str) -> int | None:
    """Range id encoded in a data file's name, or None (sentinel/meta)."""
    m = RANGE_FILE_RE.match(os.path.basename(path))
    return int(m.group(1)) if m else None


def write_ranged_transcripts(df: DataFrame, spark: SparkSession, path: str,
                             *, n_ranges: int = 8, tag: str = "") -> str:
    """Write a transcript frame as flat ``r<range>_…parquet`` files — one
    partitionBy write job (the partition column is stripped from the data
    files, so the on-disk schema stays the TRANSCRIPT_SCHEMA contract),
    then files are moved into the flat watch dir, never seen partial.
    ``tag`` distinguishes successive drops into the same directory."""
    tmp = os.path.join(path, f"_stage_{uuid.uuid4().hex}")
    (df.withColumn("range_id",
                   (F.col("conv_id").cast("long") % n_ranges).cast("int"))
       .repartition("range_id")
       .write.partitionBy("range_id").mode("overwrite").parquet(tmp))
    os.makedirs(path, exist_ok=True)
    for d in os.listdir(tmp):
        if not d.startswith("range_id="):
            continue
        r = d.split("=", 1)[1]
        for name in os.listdir(os.path.join(tmp, d)):
            if name.endswith(".parquet"):
                shutil.move(os.path.join(tmp, d, name),
                            os.path.join(path, f"r{r}_{tag}{name}"))
    shutil.rmtree(tmp, ignore_errors=True)
    return path


def list_data_files(path: str) -> set[str]:
    """Current parquet data files of one flat stream directory."""
    if not os.path.isdir(path):
        return set()
    return {os.path.join(path, f) for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith("_")}


def _strip_scheme(p: str) -> str:
    if p.startswith("file://"):
        p = p[len("file://"):]
    elif p.startswith("file:"):
        p = p[len("file:"):]
    return p


def validated_files(spark: SparkSession, checkpoint: str) -> set[str]:
    """Every input file some COMMITTED micro-batch admitted, from the
    checkpoint WAL (metadata-scale: one manifest line per file)."""
    lin = batch_lineage_files(spark, checkpoint)
    return {_strip_scheme(f) for f in lin}


def batch_lineage_files(spark: SparkSession, checkpoint: str) -> list[str]:
    from spanner_data_validator_spark.streaming.state_inspect import (
        batch_lineage)

    lin = batch_lineage(spark, checkpoint)
    rows = (lin.where(F.col("committed"))
            .select(F.explode("files").alias("f")).collect())
    return [r["f"] for r in rows]


def delta_ranges(spark: SparkSession, checkpoint: str,
                 *dirs: str) -> set[int]:
    """Ranges owning at least one data file NOT covered by any committed
    batch of the previous validation run — the set to revalidate."""
    seen = validated_files(spark, checkpoint)
    changed: set[int] = set()
    for d in dirs:
        for f in list_data_files(d):
            if f not in seen:
                r = range_of_file(f)
                if r is not None:
                    changed.add(r)
    return changed


def range_files(d: str, ranges: set[int]) -> list[str]:
    """The exact file list a range-scoped revalidation scan reads for one
    side — public so callers/tests can audit scan scope."""
    return sorted(f for f in list_data_files(d)
                  if range_of_file(f) in ranges)


def revalidate_ranges(spark: SparkSession, src_dir: str, tgt_dir: str,
                      ranges: set[int], *, algo: str = "xxhash64",
                      band: str = "2 hours") -> DataFrame:
    """Batch-classify ONLY the changed ranges: the reads list exactly the
    ``r<range>_*`` files of those ranges (old + new — a range revalidates
    whole, keys may move between files), so the scan provably touches no
    unchanged range. The plan is ``validate_transcripts.classify_transcripts``,
    the one a full ``run_batch_validation`` runs (first row per key)."""
    from spanner_data_validator_spark.jobs.validate_transcripts import (
        classify_transcripts)
    from spanner_data_validator_spark.sources.transcript_source import (
        TRANSCRIPT_SCHEMA)

    def side(d: str) -> DataFrame:
        files = range_files(d, ranges)
        if not files:
            return spark.createDataFrame([], TRANSCRIPT_SCHEMA)
        return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*files)

    return classify_transcripts(side(src_dir), side(tgt_dir),
                                algo=algo, band=band)


def revalidate_delta_report(spark: SparkSession, sink, checkpoint: str,
                            src_dir: str, tgt_dir: str, *,
                            n_ranges: int = 8,
                            algo: str = "xxhash64",
                            band: str = "2 hours") -> DataFrame:
    """The merged nightly report: per-(range, status) tallies = prior
    committed results for unchanged ranges + fresh classification for
    ranges the lineage diff marks dirty. Returns
    (range_id int, status string, n bigint) — equal to a full
    revalidation of the current directories (the oracle law)."""
    changed = delta_ranges(spark, checkpoint, src_dir, tgt_dir)
    rid = (F.col("conv_id").cast("long") % n_ranges).cast("int")
    prior = (sink.read_rows(spark).withColumn("range_id", rid)
             .where(~F.col("range_id").isin(*changed) if changed
                    else F.lit(True))
             .groupBy("range_id", "status").agg(F.count("*").alias("n")))
    if not changed:
        return prior
    fresh = (revalidate_ranges(spark, src_dir, tgt_dir, changed,
                               algo=algo, band=band)
             .withColumn("range_id", rid)
             .groupBy("range_id", "status").agg(F.count("*").alias("n")))
    return prior.unionByName(fresh)


def main(argv: list[str] | None = None) -> None:
    """spark-submit surface for the nightly delta re-check::

        spark-submit --py-files sdv.zip \
            spanner_data_validator_spark/jobs/revalidate.py \
            --source /path/src --target /path/tgt \
            --checkpoint /path/ckpt --prior-out /path/out \
            --report /path/delta_report

    (``python -m spanner_data_validator_spark.jobs.revalidate`` for local
    runs.) ``--checkpoint`` / ``--prior-out`` are the previous streaming
    validation run's checkpoint and sink directory; ``--prior-out`` must be
    a ``TallyForeachBatch`` directory in the one-marker layout
    (``<out>/_commits/<id>``). The merged per-(range, status) report lands
    under ``--report``.
    """
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True)
    ap.add_argument("--target", required=True)
    ap.add_argument("--checkpoint", required=True,
                    help="previous run's streaming checkpoint (the ledger)")
    ap.add_argument("--prior-out", required=True,
                    help="previous run's TallyForeachBatch sink directory")
    ap.add_argument("--report", required=True)
    ap.add_argument("--n-ranges", type=int, default=8)
    ap.add_argument("--algo", choices=["xxhash64", "sha256"],
                    default="xxhash64")
    ap.add_argument("--band", default="2 hours")
    args = ap.parse_args(argv)

    from spanner_data_validator_spark.session import get_spark
    from spanner_data_validator_spark.streaming.sink import TallyForeachBatch

    spark = get_spark(app_name="sdv-revalidate-delta")
    sink = TallyForeachBatch(args.prior_out)
    changed = delta_ranges(spark, args.checkpoint, args.source, args.target)
    print(f"dirty ranges: {sorted(changed) or 'none'}")
    report = revalidate_delta_report(
        spark, sink, args.checkpoint, args.source, args.target,
        n_ranges=args.n_ranges, algo=args.algo, band=args.band)
    report.write.mode("overwrite").parquet(args.report)
    for r in report.orderBy("range_id", "status").collect():
        print(f"range {r['range_id']:>3}  {r['status']:<12} {r['n']}")


if __name__ == "__main__":
    main()
