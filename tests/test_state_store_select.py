"""The state layout rule (``session.state_layout``): heap store when the
projected state fits a heap fraction, RocksDB otherwise, and an explicit
env provider always wins; the heap store's partition count grows with the
projected keys up to the session's shuffle partitions."""

from types import SimpleNamespace

import pytest

from spanner_data_validator_spark.session import (
    HEAP_BYTES_PER_KEY,
    KEYS_PER_STATE_PARTITION,
    PROBED_CORES,
    StateLayout,
    _parse_mem_bytes,
    state_heap,
    state_layout,
)


def select_state_store(projected_keys, **kw):
    """The provider ``state_layout`` picks in an 8-partition session."""
    return state_layout(projected_keys, 8, **kw).provider


def test_unknown_projection_is_rocksdb(monkeypatch):
    monkeypatch.delenv("SDV_STATE_STORE", raising=False)
    assert select_state_store(None) == "rocksdb"
    # ... with the session's partition count, as without the rule
    assert state_layout(None, 8) == StateLayout("rocksdb", 8)


def test_small_state_picks_heap(monkeypatch):
    monkeypatch.delenv("SDV_STATE_STORE", raising=False)
    assert select_state_store(2_000_000, heap_mem="48g") == "hdfs"


def test_large_state_picks_rocksdb(monkeypatch):
    monkeypatch.delenv("SDV_STATE_STORE", raising=False)
    assert select_state_store(10**12, heap_mem="48g") == "rocksdb"


def test_boundary_is_exact(monkeypatch):
    monkeypatch.delenv("SDV_STATE_STORE", raising=False)
    heap = 1 << 30
    fit = (heap // 4) // HEAP_BYTES_PER_KEY
    assert select_state_store(fit, heap_mem="1g") == "hdfs"
    assert select_state_store(fit + 1, heap_mem="1g") == "rocksdb"


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SDV_STATE_STORE", "hdfs")
    assert select_state_store(10**12) == "hdfs"
    monkeypatch.setenv("SDV_STATE_STORE", "rocksdb")
    assert select_state_store(10) == "rocksdb"


def test_env_override_validated(monkeypatch):
    monkeypatch.setenv("SDV_STATE_STORE", "bogus")
    with pytest.raises(ValueError):
        select_state_store(10)
    with pytest.raises(ValueError):
        select_state_store(None)


def test_partition_clamp_boundary(monkeypatch):
    """Heap store: one partition per KEYS_PER_STATE_PARTITION keys, at
    least 1, at most the session's shuffle partitions; RocksDB keeps the
    session's count."""
    monkeypatch.delenv("SDV_STATE_STORE", raising=False)
    k = KEYS_PER_STATE_PARTITION

    def parts(keys, max_partitions=4):
        return state_layout(keys, max_partitions, heap_mem="48g").partitions

    assert parts(0) == 1
    assert parts(k) == 1
    assert parts(k + 1) == 2
    assert parts(2 * k) == 2
    assert parts(2 * k + 1) == 3
    assert parts(4 * k) == 4
    assert parts(4 * k + 1) == 4      # clamped to the session's 4
    assert parts(k + 1, max_partitions=1) == 1
    assert state_layout(10**12, 4, heap_mem="48g") == StateLayout("rocksdb", 4)
    monkeypatch.setenv("SDV_STATE_STORE", "rocksdb")
    assert state_layout(10, 4, heap_mem="48g") == StateLayout("rocksdb", 4)
    monkeypatch.setenv("SDV_STATE_STORE", "hdfs")
    assert state_layout(k + 1, 4, heap_mem="48g") == StateLayout("hdfs", 2)


def test_partition_count_past_the_probed_cores(monkeypatch):
    """The key-based count holds up to the cores it was measured on; a
    session with more cores keeps its own count for the heap store."""
    monkeypatch.delenv("SDV_STATE_STORE", raising=False)
    k = KEYS_PER_STATE_PARTITION
    assert state_layout(k + 1, 16, heap_mem="48g", cores=PROBED_CORES) == \
        StateLayout("hdfs", 2)
    assert state_layout(k + 1, 16, heap_mem="48g", cores=PROBED_CORES + 1) == \
        StateLayout("hdfs", 16)
    assert state_layout(10**12, 16, heap_mem="48g", cores=PROBED_CORES + 1) == \
        StateLayout("rocksdb", 16)


def test_state_heap_is_read_from_the_session(spark):
    """Local mode: the driver JVM's own max heap. A cluster: one executor's
    memory, Spark's 1g when unset."""
    runtime = spark._jvm.java.lang.Runtime.getRuntime()
    assert int(state_heap(spark)) == runtime.maxMemory()

    def cluster(conf):
        return SimpleNamespace(sparkContext=SimpleNamespace(
            master="yarn", getConf=lambda: conf))

    assert state_heap(cluster({"spark.executor.memory": "3g"})) == "3g"
    assert state_heap(cluster({})) == "1g"


def test_parse_mem_bytes():
    assert _parse_mem_bytes("48g") == 48 << 30
    assert _parse_mem_bytes("512m") == 512 << 20
    assert _parse_mem_bytes("1024") == 1024


def test_driver_memory_from_host_feeds_both_callers(monkeypatch):
    """With no override, the heap ``get_spark`` asks for and the heap the
    state-store choice is sized against are one host-derived value: half
    of physical memory (here a fake 16 GiB host)."""
    from types import SimpleNamespace

    from spanner_data_validator_spark import session

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (16 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    monkeypatch.delenv("SDV_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SDV_STATE_STORE", raising=False)
    assert session.driver_memory() == "8192m"

    conf = {}

    class Builder:
        def master(self, _):
            return self

        def appName(self, _):
            return self

        def config(self, k, v):
            conf[k] = v
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(
                setLogLevel=lambda _: None))

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    session.get_spark(master="local[2]")
    assert conf["spark.driver.memory"] == "8192m"
    fit = ((8 << 30) // 4) // HEAP_BYTES_PER_KEY
    assert select_state_store(fit) == "hdfs"
    assert select_state_store(fit + 1) == "rocksdb"

    monkeypatch.setenv("SDV_DRIVER_MEM", "2g")  # the override still wins
    session.get_spark(master="local[2]")
    assert conf["spark.driver.memory"] == "2g"
    assert select_state_store(((2 << 30) // 4) // HEAP_BYTES_PER_KEY + 1) == "rocksdb"
