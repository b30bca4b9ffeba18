"""Sharded-migration config surface (reference ShardFileReader/ShardSpecList).

Two config shapes drive N physical source shards:

* **bulk sharding config** — ``shardConfigurationBulk.dataShards[*]`` each
  with a host, credentials, and ``databases[*]``; every (host, database) pair
  flattens to one shard (common/ShardFileReader.java:95-171). Passwords may
  come from a secret-manager URI (``projects/*/secrets/*[/versions/*]``); a
  partial URI gets ``versions/latest`` appended. The accessor is a pluggable
  callable here (the public-API equivalent of SecretManagerAccessorImpl).
* **generated shard spec** — hostCount × shardCount naming with zero-padded
  suffixes (ShardSpecList.java:70-112, dto/ShardSpecJsonDef), e.g. 2 hosts ×
  16 shards → testhost-001.local.com/test-0000..0007, -002/test-0008..0015.

The dataflow consumer is ``read_sharded_union``: one ranged JDBC read per
shard, unioned with a ``shard_id`` column forwarded to transforms — the J3
Flatten analogue driven from config instead of inline splits
(CustomTransformationDoFn.java:97-98 forwards the same column).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PARTIAL = re.compile(r"projects/.*/secrets/.*")
_FULL = re.compile(r"projects/.*/secrets/.*/versions/.*")
_PARTIAL_SLASH = re.compile(r"projects/.*/secrets/.*/")


@dataclass(frozen=True)
class ShardSpec:
    """One physical shard's connection identity (dto/ShardSpec.java:23-94 +
    the extra fields ShardFileReader's Shard carries)."""

    host: str
    user: str
    password: str
    db: str
    shard_id: str
    shard_index: int
    port: str = "0"
    namespace: str | None = None
    connection_properties: str = ""

    def jdbc_url(self, scheme: str = "mysql") -> str:
        port = f":{self.port}" if self.port not in ("", "0", None) else ""
        props = f"?{self.connection_properties}" if self.connection_properties else ""
        return f"jdbc:{scheme}://{self.host}{port}/{self.db}{props}"


def resolve_password(secret_uri: str | None, password: str | None,
                     secret_accessor: Callable[[str], str] | None) -> str | None:
    """Secret-manager URI resolution incl. the partial→latest-version rule
    (ShardFileReader.java:39-86)."""
    if secret_uri:
        if not _PARTIAL.fullmatch(secret_uri):
            raise ValueError(
                f"The secretManagerUri field with value {secret_uri} does not "
                "adhere to expected pattern projects/.*/secrets/.*/versions/.*")
        if not _FULL.fullmatch(secret_uri):
            sep = "" if _PARTIAL_SLASH.fullmatch(secret_uri) else "/"
            secret_uri = f"{secret_uri}{sep}versions/latest"
        if secret_accessor is None:
            raise ValueError(
                "secretManagerUri present but no secret accessor configured")
        return secret_accessor(secret_uri)
    return password


def read_sharding_config(
    path: str,
    *,
    secret_accessor: Callable[[str], str] | None = None,
) -> list[ShardSpec]:
    """Parse ``shardConfigurationBulk.dataShards[*].databases[*]`` into a
    flat shard list (ShardFileReader.readShardingConfig)."""
    try:
        with open(path, encoding="utf-8") as f:
            cfg = json.load(f)
    except (OSError, json.JSONDecodeError) as e:
        raise ValueError(
            "Failed to read shard input file. Make sure it is ASCII or UTF-8 "
            "encoded and contains a well-formed JSON string.") from e

    shards: list[ShardSpec] = []
    data_shards = (cfg.get("shardConfigurationBulk") or {}).get("dataShards") or []
    idx = 0
    for ds in data_shards:
        host = ds.get("host")
        databases = ds.get("databases") or []
        if not databases:
            raise ValueError(f"no databases found for host: {host}")
        password = resolve_password(ds.get("secretManagerUri"), ds.get("password"),
                                    secret_accessor)
        if not password:
            raise ValueError(
                f"Neither password nor secretManagerUri was found in the shard "
                f"file {path} for host {host}")
        namespace = ds.get("namespace")
        for db in databases:
            shards.append(ShardSpec(
                host=host,
                user=ds.get("user"),
                password=password,
                db=str(db["dbName"]),
                shard_id=str(db.get("databaseId", db["dbName"])),
                shard_index=idx,
                port=str(ds.get("port", 0)),
                namespace=None if namespace is None else str(namespace),
                connection_properties=str(ds.get("connectionProperties", "")),
            ))
            idx += 1
    return shards


def shard_specs_from_def(d: dict) -> list[ShardSpec]:
    """Generated shard naming (ShardSpecList.java:70-112): hostCount hosts ×
    shardCount/hostCount dbs each, zero-padded suffixes, optional static host
    suffix. Keys match the reference's JSON def (shard-spec-sample-v1.json)."""
    host_count = int(d["host-count"])
    shard_count = int(d["shard-count"])
    if shard_count % host_count != 0:
        # deliberate divergence: the reference's integer division
        # (ShardSpecList.java:76) would silently DROP the remainder shards —
        # the worst failure mode for a validator (missing databases read as
        # "nothing to report"); we refuse instead
        raise ValueError(
            f"shard-count ({shard_count}) must be divisible by host-count "
            f"({host_count}); otherwise {shard_count % host_count} shard(s) "
            "would silently never be validated")
    per_host = shard_count // host_count
    host_digits = int(d["hostname-suffix-digits"])
    shard_digits = int(d["shard-suffix-digits"])
    host_start = int(d["hostname-suffix-start"])
    shard_start = int(d["shard-suffix-start"])
    static_suffix = d.get("shard-static-suffix") or ""

    out = []
    for i in range(host_count):
        host = f"{d['hostname-prefix']}{host_start + i:0{host_digits}d}{static_suffix}"
        for j in range(per_host):
            k = i * per_host + j
            db = f"{d['dbname-prefix']}{shard_start + k:0{shard_digits}d}"
            out.append(ShardSpec(host=host, user=d.get("username"),
                                 password=d.get("password"), db=db,
                                 shard_id=str(k), shard_index=k))
    return out


def read_sharded_union(
    spark: SparkSession,
    shards: list[ShardSpec],
    read_one: Callable[[SparkSession, ShardSpec], DataFrame],
    *,
    shard_id_col: str = "migration_shard_id",
) -> DataFrame:
    """Per-shard reads flattened into one stream with the shard id attached —
    the reference's per-shard pipeline loop + Flatten (J3), with the shard id
    column custom transforms consume (CustomTransformationDoFn.java:97-98).

    Each shard's reader builds its own ranged-predicate scan (its own
    connection/parallelism); the union is plan-level, so Spark schedules all
    shards' partitions concurrently — no driver-side serialization.
    """
    parts = [read_one(spark, s).withColumn(shard_id_col, F.lit(s.shard_id))
             for s in shards]
    return reduce(DataFrame.unionByName, parts)
