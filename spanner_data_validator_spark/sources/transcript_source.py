"""Dual-stream transcript sources (batch + structured-streaming).

The production design reads two Iceberg incremental scans
(``spark.readStream.format("iceberg")`` — the Spark-native analogue of the
reference's JdbcIO/SpannerIO readAll pair,
JDBCToSpannerDVTWithHash.java:580-604 / :690-752). This sandbox has no
Iceberg runtime jar, so the default implementation is Spark's built-in
file-stream source over parquet directories — which exercises the identical
streaming machinery (offsets tracked per file in the checkpoint, exactly-once
replay of a batch on recovery). ``format="iceberg"`` switches to the real
connector when the runtime jar + catalog are configured.

Schema is fixed by the engine contract (BASELINE.json input_hint):
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

KEY_COLS = ["conv_id", "turn_idx"]
PAYLOAD_COLS = ["role", "text", "tool"]  # ts is event time, NOT fingerprinted


def read_transcripts(
    spark: SparkSession, path: str, *, fmt: str = "parquet"
) -> DataFrame:
    """Batch read of one transcript table."""
    if fmt == "iceberg":
        df = spark.read.format("iceberg").load(path)
    else:
        df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_transcripts(
    spark: SparkSession,
    path: str,
    *,
    fmt: str = "parquet",
    watermark: str | None = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of one transcript table.

    * ``fmt="parquet"`` — file-stream source: new files under ``path`` are
      discovered per micro-batch; offsets (file names) live in the checkpoint,
      so restarts resume exactly where they left off.
    * ``fmt="iceberg"`` — incremental snapshot scan (requires the Iceberg
      runtime on the classpath; options like ``stream-from-timestamp`` can be
      passed by the caller via ``.option`` on the returned reader's plan —
      kept minimal here).
    """
    if fmt == "iceberg":
        reader = spark.readStream.format("iceberg")
        df = reader.load(path)
    else:
        reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        df = reader.parquet(path)
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if watermark:
        df = df.withWatermark("ts", watermark)
    return df


def hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` on the JVM side: any scheme the
    session can read (local, HDFS, object stores)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


# Footers one projection reads at most; the files past it count at the read
# footers' rows per byte. Each footer read is a few py4j round trips: on 4
# cores, 1,000 transcript files of 45 rows each took 22.1 s with every footer
# read and 9.5 s with this cap (about 17 ms per footer), and the capped
# estimate was 44,982 rows for 44,991. The listing is a constant number of
# JVM calls: on the same 4 cores, 1,000 files of 45 rows (45,000 in all)
# took 9.8-10.9 s to project when Python walked ``listFiles`` (about 5 ms per
# file) and 4.3-5.4 s through Spark's file index (3 runs each), whose listing
# alone took 0.15 s; the capped estimates were 44,975 and 45,094 rows.
_MAX_FOOTERS = 256


def parquet_rows(spark: SparkSession, path: str) -> int | None:
    """Rows that a parquet file stream over ``path`` would read now, from
    file metadata only (a listing and the parquet footers).

    Spark's file index lists ``path`` in the JVM as the file-stream source
    of :func:`stream_transcripts` does: the files directly under it, or under
    ``k=v`` partition directories; other subdirectories are not read, and
    names that start with ``_`` or ``.`` are skipped at every level. It
    hands back every file and the bytes of them all in a constant number of
    calls. Past ``_MAX_FOOTERS`` files, the rest count at the footers' rows
    per byte. None when ``path`` cannot be listed or a footer cannot be
    read.
    """
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    try:
        # a given schema keeps Spark from reading a footer to infer one
        relation = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
        index = relation._jdf.queryExecution().analyzed().relation().location()
        listed = jvm.org.apache.hadoop.util.StringUtils.join(
            "\n", index.inputFiles())
        files = sorted(listed.split("\n")) if listed else []
        # each JVM name lookup is a py4j round trip: resolve them once
        jpath = jvm.org.apache.hadoop.fs.Path
        input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath
        open_file = jvm.org.apache.parquet.hadoop.ParquetFileReader.open
        rows = footer_bytes = 0
        for name in files[:_MAX_FOOTERS]:
            file = input_file(jpath(name), conf)
            reader = open_file(file)
            try:
                rows += reader.getRecordCount()
            finally:
                reader.close()
            footer_bytes += file.getLength()
        if len(files) <= _MAX_FOOTERS:
            return rows
        return round(rows * index.sizeInBytes() / max(footer_bytes, 1))
    except (Py4JError, PySparkException):
        return None


def write_transcripts(
    df_or_pdf, spark: SparkSession, path: str, *, n_files: int = 4, subdir: str | None = None
) -> str:
    """Write a transcript table (pandas or Spark DF) as parquet files.

    Used by tests/bench to stage stream input; ``subdir`` appends an
    incremental drop of files to an existing stream directory (the file-stream
    source picks them up as a new micro-batch).
    """
    import pandas as pd

    if isinstance(df_or_pdf, pd.DataFrame):
        df = spark.createDataFrame(df_or_pdf, schema=TRANSCRIPT_SCHEMA)
    else:
        df = df_or_pdf
    os.makedirs(path, exist_ok=True)
    target = path
    if subdir is not None:
        # file-stream sources watch a flat glob; write to a temp dir and move
        # finished files in so readers never see partial files
        import shutil
        import uuid

        tmp = os.path.join(path, f"_stage_{uuid.uuid4().hex}")
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
        moved = 0
        for name in os.listdir(tmp):
            if name.endswith(".parquet"):
                shutil.move(
                    os.path.join(tmp, name), os.path.join(path, f"{subdir}_{name}")
                )
                moved += 1
        shutil.rmtree(tmp, ignore_errors=True)
        return path
    df.repartition(n_files).write.mode("overwrite").parquet(target)
    return target
