"""spanner_data_validator_spark — a PySpark-native data-validation engine.

A brand-new Structured-Streaming re-expression (NOT a port) of the semantics of
GoogleCloudPlatform/spanner-data-validator (reference, read-only at /root/reference):
row fingerprinting over normalized column tuples, a symmetric full-outer match keyed
on the row key, MATCH / MISMATCH / SOURCE_ONLY / TARGET_ONLY classification, per-range
tally reports with the reference's CountMatchesDoFn count identities, and mismatch-row
sinks — built on DataFrame/SQL + Catalyst, Structured Streaming, and Arrow-vectorized
pandas UDFs.

Subpackages
-----------
functions   normalization-to-string rules, fingerprint expressions, text analytics
operators   batch comparator, tally/report, partition ranges, dedup, ANN
sources     parquet/iceberg/jdbc readers, streaming source helpers
streaming   watermarked stream-stream validation, stateful variant, idempotent sinks
datagen     deterministic dual-stream transcript generator (test fixture)
jobs        spark-submit entry points
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # get_spark resolves on first use (PEP 562): importing the package must not
    # import pyspark, because ``python -m spanner_data_validator_spark.worker_daemon``
    # imports it before the daemon takes Spark's archives off sys.path
    if name == "get_spark":
        from spanner_data_validator_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
