"""Strict file ingestion: schema-enforced CSV / JSON-lines readers with a
corrupt-record quarantine split.

The reference reads databases (JDBC/Spanner, SURVEY §2 S3/S5); file drops
are the other half of real migration feeds, and their failure mode is rows
that don't parse. Spark's default PERMISSIVE mode silently nulls the bad
columns — at 100 TB "silently" is the problem. These readers make the
split explicit:

* the declared schema is REQUIRED (never inferSchema — inference is a
  second full scan AND a schema that drifts with the data);
* each line is read as text and parsed with ``from_json`` / ``from_csv``
  carrying a corrupt-record field, so the RAW line and the parsed fields
  are ordinary columns of one scan. This deliberately avoids the
  DataFrameReader ``_corrupt_record`` pseudo-column, whose internal-column
  restriction (Spark disallows plans referencing only it — SPARK-21610)
  makes "count the bad rows" throw AnalysisException unless you cache;
* ``split_quarantine`` separates (good, quarantine): good rows drop the
  carrier columns, quarantined rows keep the verbatim line for
  replay/forensics. Both halves are filters over the same scan.

Parsing stays JVM-side (from_json/from_csv are codegen'd Catalyst
expressions) — one text scan, zero Python in the row path.
"""

from __future__ import annotations

import os
import re
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"
_RAW_COL = "_raw_line"


def _with_corrupt_carrier(schema: StructType) -> StructType:
    for reserved in (CORRUPT_COL, _RAW_COL):
        if reserved in schema.fieldNames():
            raise ValueError(f"schema already defines {reserved!r} "
                             "(reserved by the strict readers)")
    # never schema.add(): StructType.add MUTATES the caller's schema object
    return StructType(list(schema.fields)
                      + [StructField(CORRUPT_COL, StringType(), True)])


def _parse_lines(lines: DataFrame, parsed) -> DataFrame:
    # drop whitespace-only lines FIRST: from_json/from_csv parse them to an
    # all-NULL struct with a NULL corrupt column, which would sail through
    # the quarantine split as phantom all-NULL "good" rows (the silent-nulls
    # failure this module exists to prevent). Spark's native JSON/CSV
    # readers skip blank lines too, so this matches ingest expectations.
    out = (lines.where(F.trim(F.col("value")) != "")
           .select(parsed.alias("__r"), F.col("value").alias(_RAW_COL)))
    return out.select("__r.*", _RAW_COL)


def read_jsonl_strict(spark: SparkSession, path: str,
                      schema: StructType) -> DataFrame:
    """JSON-lines with declared schema. Unparseable / type-mismatched lines
    get ``_corrupt_record`` set; every row keeps its verbatim ``_raw_line``."""
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
    lines = spark.read.text(path)
    return _parse_lines(
        lines, F.from_json(F.col("value"), _with_corrupt_carrier(schema),
                           opts))


def read_csv_strict(spark: SparkSession, path: str, schema: StructType,
                    *, header: bool = True, sep: str = ",") -> DataFrame:
    """CSV with declared schema; malformed lines (wrong column count,
    uncastable values) get ``_corrupt_record`` set.

    With ``header=True`` the rendered header line (schema field names
    joined by ``sep``) is dropped wherever it appears, compared after
    stripping double quotes, surrounding whitespace, and case — so
    ``"id","name"`` / ``ID, Name`` variants are removed too. Per-FILE
    headers in a multi-file directory are all removed, which the
    line-oriented text scan could not otherwise attribute to file starts.
    Two caveats inherent to line-oriented parsing: a header with REORDERED
    column names is not recognized (it lands in quarantine for typed
    schemas — inspect it there), and a data row that happens to equal the
    normalized header is dropped with it.
    """
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL,
            "sep": sep}
    lines = spark.read.text(path)
    if header:
        header_norm = sep.join(f.lower() for f in schema.fieldNames())
        line_norm = F.lower(F.regexp_replace(
            F.regexp_replace(F.col("value"), '"', ""),
            r"\s*" + re.escape(sep) + r"\s*", sep))
        lines = lines.where(F.trim(line_norm) != F.lit(header_norm))
    return _parse_lines(
        lines, F.from_csv(F.col("value"),
                          _with_corrupt_carrier(schema).simpleString(),
                          opts))


def split_quarantine(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a strict-read frame into (good, quarantine).

    good: parsed rows, carrier columns dropped. quarantine: one column
    ``_corrupt_record`` holding the verbatim rejected line. Writing the
    quarantine next to the ingest output gives every batch an exact,
    replayable record of what was rejected.
    """
    if CORRUPT_COL not in raw.columns or _RAW_COL not in raw.columns:
        raise ValueError("frame was not produced by a strict reader "
                         f"({CORRUPT_COL!r}/{_RAW_COL!r} columns missing)")
    good = (raw.where(F.col(CORRUPT_COL).isNull())
            .drop(CORRUPT_COL, _RAW_COL))
    bad = (raw.where(F.col(CORRUPT_COL).isNotNull())
           .select(F.col(_RAW_COL).alias(CORRUPT_COL)))
    return good, bad


# ---------------------------------------------------------------------------
# File-level health: parquet footer scan + read-with-quarantine.
# Row-level quarantine (above) handles lines that don't parse; a 100 TB
# table's OTHER failure mode is whole files that don't open (truncated
# upload, torn multipart copy, stray non-parquet debris). Spark's
# ignoreCorruptFiles=true drops them SILENTLY mid-scan — for a validator,
# a silent skip is indistinguishable from data loss. This surface makes
# the split a first-class result instead.
# ---------------------------------------------------------------------------

def _local_path(path: str) -> str:
    """Filesystem path of a plain path or ``file://`` URI; any other scheme
    (``s3a://``, ``hdfs://``, ...) raises ``ValueError``."""
    url = urlparse(path)
    if not url.scheme:
        return path
    if url.scheme == "file" and url.netloc in ("", "localhost"):
        return url.path
    raise ValueError(
        f"{path!r}: only local paths and file:// URIs are supported "
        f"(scheme {url.scheme!r}); the footer scan opens files with local "
        f"filesystem calls")


def scan_parquet_health(spark: SparkSession, paths: list[str],
                        *, slices: int | None = None) -> DataFrame:
    """(path, ok, n_rows, error): footer-validate every file, distributed.

    Each task opens only the parquet FOOTER (pyarrow metadata read — a few
    KB regardless of file size), so health-checking a 100 TB table costs
    one metadata round-trip per file, parallelized over the cluster via
    ``mapInPandas`` on the path list. ``n_rows`` is the footer's row count
    for readable files (0 with ``ok=false`` otherwise).

    Paths must be plain paths or ``file://`` URIs on a filesystem every
    executor mounts (local, or shared such as NFS): tasks open them with
    local filesystem calls. Any other scheme raises ``ValueError`` before
    a Spark job runs. ``path`` is the plain filesystem path.
    """
    paths = [_local_path(p) for p in paths]
    if not paths:
        return spark.createDataFrame(
            [], "path string, ok boolean, n_rows long, error string")
    n = slices or min(len(paths), spark.sparkContext.defaultParallelism)
    pdf = spark.createDataFrame(
        spark.sparkContext.parallelize([(p,) for p in paths], n),
        "path string")

    def check(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for b in batches:
            rows = []
            for p in b["path"]:
                try:
                    md = pq.ParquetFile(p).metadata
                    rows.append((p, True, md.num_rows, None))
                except Exception as e:  # noqa: BLE001 — the point is the split
                    rows.append((p, False, 0, f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(rows,
                               columns=["path", "ok", "n_rows", "error"])

    return pdf.mapInPandas(
        check, "path string, ok boolean, n_rows long, error string")


def read_with_quarantine(spark: SparkSession, directory: str, *,
                         suffix: str = ".parquet"
                         ) -> tuple[DataFrame, DataFrame]:
    """(good, health): read every HEALTHY parquet file under ``directory``;
    ``health`` is the full :func:`scan_parquet_health` report (quarantined
    files are its ``ok=false`` rows — nothing is silently skipped).

    The health scan runs eagerly (it decides the read's file list); its
    result is tiny (one row per file). Files that appear between the two
    listings are the caller's snapshot-discipline problem, as with any
    non-transactional directory read (``sources/snapshots`` is the
    versioned answer).

    ``directory`` must be a plain path or a ``file://`` URI on a local or
    shared filesystem: it is listed with ``os.listdir``. Any other scheme
    raises ``ValueError`` before a Spark job runs. The report and the read
    use plain paths.
    """
    local_dir = _local_path(directory)
    paths = sorted(
        os.path.join(local_dir, f) for f in os.listdir(local_dir)
        if f.endswith(suffix) and not f.startswith("_"))
    health = scan_parquet_health(spark, paths).localCheckpoint(eager=True)
    good_paths = [r["path"] for r in
                  health.where(F.col("ok")).select("path").collect()]
    if not good_paths:
        raise ValueError(f"no readable parquet files in {directory}")
    return spark.read.parquet(*good_paths), health
