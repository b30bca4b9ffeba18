"""SparkSession construction tuned for the validator.

Local mode is the sandbox stand-in for a multi-executor cluster: partitioning,
AQE, and shuffle sizing below are chosen so the same plan scales to a
1000-executor cluster (shuffle partitions ~ cores locally; on a cluster the
caller passes ``shuffle_partitions`` ~ 2-3x total cores).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

STATE_STORE_CLASSES = {
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
}

# Conservative in-heap bytes per in-flight state key for the HDFS-backed
# (heap) provider: the stored UnsafeRow for a fingerprint tuple is ~60 B
# (conv_id string + 3 fixed-width cols), but the provider's HashMap + version
# snapshots hold several copies — 500 B/key absorbs that with margin
# (measured: 2.1 M keys ≈ 0.9 GB heap delta on this box).
HEAP_BYTES_PER_KEY = 500

# The directory this package sits in, where Python workers must find it
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse_mem_bytes(s: str) -> int:
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    s = s.strip().lower()
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def driver_memory() -> str:
    """The driver heap ``get_spark`` asks for and ``select_state_store``
    sizes against: ``SDV_DRIVER_MEM``, else half of physical memory — the
    rest is left to Python workers, off-heap (RocksDB) state and the OS."""
    env = os.environ.get("SDV_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(phys // 2 >> 20, 1024)}m"


def select_state_store(
    projected_keys: int | None,
    *,
    heap_mem: str | None = None,
    heap_fraction: float = 0.25,
) -> str:
    """Pick the streaming state-store provider for a FRESH checkpoint.

    ``SDV_STATE_STORE=rocksdb|hdfs`` still wins (explicit operator choice).
    Otherwise: the heap-backed (HDFS) provider is ~2x faster per row
    (BENCH.md) but OOMs when state outgrows the heap, so choose it only when
    ``projected_keys * HEAP_BYTES_PER_KEY`` fits ``heap_fraction`` of
    ``heap_mem`` (default :func:`driver_memory`); RocksDB (off-heap + disk,
    scale-safe at 10^9+ in-flight keys) otherwise — including when the
    projection is unknown.

    Callers must NOT flip providers on an existing checkpoint (Spark pins the
    provider in the checkpoint metadata); this is for new query starts.
    """
    forced = os.environ.get("SDV_STATE_STORE")
    if forced:
        if forced not in STATE_STORE_CLASSES:
            raise ValueError(f"SDV_STATE_STORE must be one of {sorted(STATE_STORE_CLASSES)}")
        return forced
    if projected_keys is None:
        return "rocksdb"
    heap = _parse_mem_bytes(heap_mem or driver_memory())
    if projected_keys * HEAP_BYTES_PER_KEY <= heap * heap_fraction:
        return "hdfs"
    return "rocksdb"


def _workers_import_package() -> bool:
    """True when a local Python worker can import this package from
    ``PACKAGE_ROOT``: the working directory, an entry of ``PYTHONPATH`` or
    site-packages. Not for an archive (``--py-files`` zip, egg) or a runtime
    ``sys.path`` insert, which Spark's workers do not see."""
    if not os.path.isdir(PACKAGE_ROOT):
        return False
    places = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
              *site.getsitepackages()]
    real = os.path.realpath(PACKAGE_ROOT)
    return any(p and os.path.realpath(p) == real for p in places)


def get_spark(
    app_name: str = "spanner_data_validator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with validator defaults.

    Defaults: AQE on (runtime coalescing + skew-join splitting), UTC session
    timezone (oracle comparability), Arrow on (vectorized pandas UDF boundary).

    On ``local[...]`` masters whose workers can import this package, Python
    workers run under ``worker_daemon`` (``spark.python.daemon.module``).
    Spark's default daemon imports pyspark from ``pyspark.zip``, and the
    ``importlib.invalidate_caches()`` PySpark runs at the start of every task
    then re-reads 16 zip directories (twelve of pyspark.zip's 1,328 entries,
    two of the spark-core jar's 5,359): 0.11-0.26 s per task with four
    workers on 4 cores, before a row reaches Python. ``worker_daemon``
    imports the same pyspark release from site-packages instead. Elsewhere
    (cluster executors, a package shipped as an archive) Spark's daemon
    stays.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = (os.cpu_count() or 4) if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode hosts all executor threads in the driver JVM — size the
        # heap from the node (cluster deployments override per-executor)
        .config("spark.driver.memory", driver_memory())
        # State store provider (SDV_STATE_STORE=rocksdb|hdfs, default rocksdb):
        # RocksDB keeps streaming join/agg state off-heap + on disk — required
        # when per-partition state outgrows the heap (unbounded watermarks,
        # 10^9+ in-flight keys). The heap-backed HDFS provider is ~2x faster
        # per row (measured) and is the right choice when state is band/
        # watermark-bounded and sized for memory, but OOMs a default 1g heap
        # at ~10^6 keys/partition.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            STATE_STORE_CLASSES[os.environ.get("SDV_STATE_STORE", "rocksdb")],
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # stateful-operator RDDs advertise preferred locations (the executor
        # that last held each state partition); the default 3s-per-level
        # locality wait stalls every streaming stage on a single-executor
        # (local) deployment — measured 5s of idle scheduler time per stage.
        # Cluster deployments that rebalance state should raise this again.
        .config("spark.locality.wait", os.environ.get("SDV_LOCALITY_WAIT", "0s"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # let Python DataSources (sources/pyds.py) receive pushed filters —
        # off by default in Spark 4.1, and a reader implementing
        # pushFilters() FAILS when it's disabled rather than degrading
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stateStore.stateSchemaCheck", "true")
    )
    if (master == "local" or master.startswith("local[")) and _workers_import_package():
        builder = builder.config("spark.python.daemon.module",
                                 "spanner_data_validator_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
