"""SparkSession construction tuned for the validator.

Local mode is the sandbox stand-in for a multi-executor cluster: partitioning,
AQE, and shuffle sizing below are chosen so the same plan scales to a
1000-executor cluster (shuffle partitions ~ cores locally; on a cluster the
caller passes ``shuffle_partitions`` ~ 2-3x total cores).
"""

from __future__ import annotations

import contextlib
import os
import site
from typing import NamedTuple

from pyspark.sql import SparkSession

PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
PARTITIONS_CONF = "spark.sql.shuffle.partitions"
STATE_STORE_CLASSES = {
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
}
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
                         "FileSystemBasedCheckpointFileManager")

# Conservative in-heap bytes per in-flight state key for the HDFS-backed
# (heap) provider: the stored UnsafeRow for a fingerprint tuple is ~60 B
# (conv_id string + 3 fixed-width cols), but the provider's HashMap + version
# snapshots hold several copies — 500 B/key absorbs that with margin
# (measured: 2.1 M keys ≈ 0.9 GB heap delta on this box).
HEAP_BYTES_PER_KEY = 500
# the share of the driver heap the heap store may fill; the rest is the
# working memory of the plan, the sink and the Python bridge
HEAP_STATE_FRACTION = 0.25

# Keys per heap-store state partition. Stream pass plus report() on 4 cores,
# heap store, median of 3: 1 and 2 partitions were within a few percent of
# each other at 67 k keys, 2 was fastest at 264 k and 4 from about 600 k on
# (RocksDB with 4: 1.4-2.8x slower than the fastest).
# These flip sizes hold for PROBED_CORES cores; on more, how the best count
# moves was not measured, so there the heap store keeps the session's count.
KEYS_PER_STATE_PARTITION = 150_000
PROBED_CORES = 4

# The directory this package sits in, where Python workers must find it
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse_mem_bytes(s: str) -> int:
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    s = s.strip().lower()
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def driver_memory() -> str:
    """The driver heap ``get_spark`` asks for and ``state_layout``
    sizes against by default: ``SDV_DRIVER_MEM``, else half of physical
    memory — the rest is left to Python workers, off-heap (RocksDB) state
    and the OS."""
    env = os.environ.get("SDV_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(phys // 2 >> 20, 1024)}m"


def state_heap(spark: SparkSession) -> str:
    """The heap a heap state store would live in, read from the running
    session (``spark.driver.memory`` can differ from it: spark-submit's
    ``--driver-memory``, a session built elsewhere). In local mode the
    executors are driver threads, so it is the driver JVM's max heap; on a
    cluster it is one executor's ``spark.executor.memory`` (Spark's default
    1g), though the state spreads over all of them."""
    sc = spark.sparkContext
    if sc.master == "local" or sc.master.startswith("local["):
        return str(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    return sc.getConf().get("spark.executor.memory", "1g")


class StateLayout(NamedTuple):
    """How a streaming query keeps its state: the provider (a
    :data:`STATE_STORE_CLASSES` key) and the state partition count, which
    is the query's ``spark.sql.shuffle.partitions``."""

    provider: str
    partitions: int

    def conf(self) -> dict[str, str]:
        return {PROVIDER_CONF: STATE_STORE_CLASSES[self.provider],
                PARTITIONS_CONF: str(self.partitions)}


def state_layout(
    projected_keys: int | None,
    max_partitions: int,
    *,
    heap_mem: str | None = None,
    cores: int | None = None,
) -> StateLayout:
    """The state layout of a FRESH streaming checkpoint holding up to
    ``projected_keys`` keys at once, in a session of ``max_partitions``
    shuffle partitions and ``cores`` cores.

    * **Provider**: the heap (HDFS-backed) store when
      ``projected_keys * HEAP_BYTES_PER_KEY`` fits ``HEAP_STATE_FRACTION``
      of ``heap_mem`` (the streaming job passes :func:`state_heap`; default
      :func:`driver_memory`); RocksDB (off-heap and on disk, scale-safe at
      10^9+ keys) otherwise. ``SDV_STATE_STORE=rocksdb|hdfs`` wins over
      this choice.
    * **Partitions**: each partition of each stateful operator loads and
      commits its own store on every micro-batch, data or not, so the heap
      store gets ``ceil(projected_keys / KEYS_PER_STATE_PARTITION)``
      partitions, clamped to ``[1, max_partitions]``, on up to
      ``PROBED_CORES`` cores (the measured range; ``None`` counts as in it).
      On more cores it keeps ``max_partitions``. RocksDB keeps
      ``max_partitions``: with it, one partition was slower than four
      even at 67 k keys.
    * **Unknown projection** (``None``): RocksDB with ``max_partitions``.

    Spark pins both in the checkpoint at its first start; a restart keeps
    them whatever this returns.
    """
    forced = os.environ.get("SDV_STATE_STORE")
    if forced and forced not in STATE_STORE_CLASSES:
        raise ValueError(f"SDV_STATE_STORE must be one of {sorted(STATE_STORE_CLASSES)}")
    if projected_keys is None:
        return StateLayout(forced or "rocksdb", max_partitions)
    heap = _parse_mem_bytes(heap_mem or driver_memory())
    fits = projected_keys * HEAP_BYTES_PER_KEY <= heap * HEAP_STATE_FRACTION
    provider = forced or ("hdfs" if fits else "rocksdb")
    if provider == "rocksdb" or (cores or 0) > PROBED_CORES:
        return StateLayout(provider, max_partitions)
    wanted = -(-projected_keys // KEYS_PER_STATE_PARTITION)
    return StateLayout(provider, min(max(wanted, 1), max_partitions))


def checkpoint_conf(spark: SparkSession, checkpoint_dir: str) -> dict[str, str]:
    """The checkpoint file manager a stream checkpointing at
    ``checkpoint_dir`` starts with: Spark's FileSystem-API manager when the
    checkpoint's qualified URI scheme is ``file``, Spark's own choice
    otherwise (empty dict).

    Spark's default manager goes through Hadoop's ``FileContext``, which
    resolves symlinks on every call; without libhadoop the local file
    system does that by spawning ``readlink`` (3-4 ms a call; 448 calls in
    one 67 k-turn ``agent_stream`` pass on 4 cores). The FileSystem-API
    manager is correct where ``rename`` is atomic, as rename(2) is on a
    local disk; the files it writes, checksums and ``.crc`` files included,
    are the same, and the offset log does not pin the manager, so a
    checkpoint can restart under either. Decided from the path and the session's default
    file system only: no file system is created, no remote host contacted.
    """
    jvm = spark._jvm
    uri = jvm.org.apache.hadoop.fs.Path(checkpoint_dir).toUri()
    scheme = uri.getScheme() or jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(
        spark._jsparkSession.sessionState().newHadoopConf()).getScheme()
    return {CHECKPOINT_MANAGER_CONF: FS_CHECKPOINT_MANAGER} if scheme == "file" else {}


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on ``spark`` for the ``with`` body, then put back what
    was there (unset keys are unset again)."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


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
        # the session's state store: RocksDB unless SDV_STATE_STORE says
        # otherwise (state_layout with no projection). The validation stream
        # sizes its own per query (jobs/validate_transcripts).
        .config(PROVIDER_CONF,
                STATE_STORE_CLASSES[state_layout(None, shuffle_partitions).provider])
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config(PARTITIONS_CONF, str(shuffle_partitions))
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
