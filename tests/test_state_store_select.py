"""State-store auto-selection (VERDICT r3 item 8): heap store when projected
state fits a heap fraction, RocksDB otherwise; explicit env always wins."""

import pytest

from spanner_data_validator_spark.session import (
    HEAP_BYTES_PER_KEY,
    select_state_store,
    _parse_mem_bytes,
)


def test_unknown_projection_is_rocksdb(monkeypatch):
    monkeypatch.delenv("SDV_STATE_STORE", raising=False)
    assert select_state_store(None) == "rocksdb"


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
