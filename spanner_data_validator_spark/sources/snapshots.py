"""Snapshot-versioned parquet tables: time travel + incremental scans.

The north-star pipeline consumes *Iceberg incremental-scan streams*; this
sandbox has no Iceberg runtime jar, so this module implements the three
table-format primitives the validator actually depends on, over plain
parquet + JSON metadata — the same shapes Iceberg's spec defines
(snapshots pointing at immutable data files; incremental reads = the file
set difference between two snapshots):

* ``commit``            — append an immutable set of data files, record a
                          new snapshot whose manifest lists ALL live files
                          (Iceberg: snapshot + manifest list).
* ``read_snapshot``     — time travel: scan exactly the files of snapshot
                          N (Iceberg: ``VERSION AS OF``).
* ``read_incremental``  — the rows appended between two snapshots = scan
                          of the file-set difference, never a data diff
                          (Iceberg: incremental append scan). At 100 TB
                          this is THE property that makes continuous
                          validation affordable: each validation round
                          reads only new files.

Metadata is a tiny JSON document per snapshot (``metadata/v<N>.json``)
plus a ``metadata/version-hint.txt`` pointing at the current version —
deliberately the same layout trick as Iceberg's HadoopCatalog. Data files
are immutable once committed; commits never rewrite them (append-only —
upsert semantics live in streaming/sink.merge_into_iceberg, proven
against DuckDB in test_repair.py).

Reference analogue: the BigQuery/Spanner sinks and snapshot reads of the
reference pipeline (JDBCToSpannerDVTWithHash.java) assume the warehouse
tracks versions; here the engine carries its own version log.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _meta_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "metadata")


def _hint_path(table_dir: str) -> str:
    return os.path.join(_meta_dir(table_dir), "version-hint.txt")


def current_version(table_dir: str) -> int:
    """Latest committed snapshot version (0 = empty table, no commits)."""
    try:
        with open(_hint_path(table_dir)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


def _load_meta(table_dir: str, version: int) -> dict:
    with open(os.path.join(_meta_dir(table_dir), f"v{version}.json")) as f:
        return json.load(f)


def commit_files(table_dir: str, new_files: list[str], *,
                 operation: str = "append",
                 removed: list[str] | None = None,
                 stream_batch_id: int | None = None) -> int:
    """Register an already-written immutable file set as snapshot N+1.

    The atomic step of every commit path (the DataFrame writer below and
    the Python DataSource sink in ``snapshot_sink.py`` both end here):
    metadata is written to a temp file and renamed, then the version hint
    flips — a reader either sees the whole snapshot or none of it, and
    files never referenced by a manifest (e.g. from an aborted write) are
    invisible to every reader.

    ``operation`` is the Iceberg snapshot-operation distinction that makes
    table MAINTENANCE invisible to consumers: ``append`` adds rows (its
    ``added_files`` feed incremental scans), ``replace`` rewrites existing
    rows into new files (compaction — live file set changes, logical
    content does not, and incremental scans SKIP it entirely).

    ``stream_batch_id`` (``snapshot_sink``'s replay fence) lands in the same
    atomic metadata rename; later commits carry the parent's value forward.
    """
    if operation not in ("append", "replace", "delete"):
        raise ValueError(f"unknown snapshot operation {operation!r}")
    os.makedirs(_meta_dir(table_dir), exist_ok=True)
    parent = current_version(table_dir)
    parent_meta = _load_meta(table_dir, parent) if parent else {}
    prev = parent_meta.get("files", [])
    if operation in ("replace", "delete"):
        gone = set(removed or [])
        unknown = gone - set(prev)
        if unknown:
            raise ValueError(
                f"{operation} removes unknown files: {sorted(unknown)[:3]}")
        live = [f for f in prev if f not in gone] + sorted(new_files)
    else:
        live = prev + sorted(new_files)
    version = parent + 1
    meta = {"version": version, "parent": parent,
            "operation": operation,
            "files": live,
            "added_files": sorted(new_files),
            "stream_batch_id": parent_meta.get("stream_batch_id")
            if stream_batch_id is None else stream_batch_id}
    tmp = os.path.join(_meta_dir(table_dir), f".v{version}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.rename(tmp, os.path.join(_meta_dir(table_dir), f"v{version}.json"))
    # the hint flips by rename too: rewriting it in place would show a
    # concurrent (or post-crash) reader an empty file between the truncate
    # and the write
    hint_tmp = _hint_path(table_dir) + ".tmp"
    with open(hint_tmp, "w") as f:
        f.write(str(version))
    os.replace(hint_tmp, _hint_path(table_dir))
    return version


def stream_batch_id(table_dir: str) -> int | None:
    """The stream micro-batch id on the current snapshot, or None."""
    v = current_version(table_dir)
    return _load_meta(table_dir, v).get("stream_batch_id") if v else None


def commit(df: DataFrame, table_dir: str, *, files: int = 1) -> int:
    """Write ``df`` as a new immutable file set and commit snapshot N+1.

    Returns the new version. The new snapshot's manifest = parent's files
    + this commit's files; data files are never modified or re-listed
    individually by readers — every scan resolves through a manifest.
    ``files`` controls the file count of the commit (real commits carry
    many; tests use 1 for determinism).
    """
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table_dir, "data", f"commit-{commit_id}")
    # repartition, not coalesce: coalesce cannot RAISE the partition count,
    # so files > input-splits silently produced fewer files
    df.repartition(files).write.parquet(data_dir)
    new_files = sorted(
        os.path.join(data_dir, f) for f in os.listdir(data_dir)
        if f.endswith(".parquet"))
    return commit_files(table_dir, new_files)


def snapshot_files(table_dir: str, version: int) -> list[str]:
    """All live data files of snapshot ``version`` (empty for version 0)."""
    return [] if version == 0 else _load_meta(table_dir, version)["files"]


def read_snapshot(spark: SparkSession, table_dir: str,
                  version: int | None = None) -> DataFrame:
    """Time travel: the table exactly as of snapshot ``version``
    (default: current). Scans only that snapshot's manifest files."""
    v = current_version(table_dir) if version is None else v_check(
        table_dir, version)
    files = snapshot_files(table_dir, v)
    if not files:
        raise ValueError(f"snapshot {v} of {table_dir} is empty")
    # mergeSchema = Iceberg-style ADD COLUMN evolution: files committed
    # before the column gained it read as NULL. (Type changes conflict
    # loudly; a rename reads as drop+add — unlike Iceberg's id-based
    # mapping. Documented divergence.)
    return spark.read.option("mergeSchema", "true").parquet(*files)


def incremental_files(table_dir: str, from_version: int,
                      to_version: int, *,
                      skip_deletes: bool = False) -> list[str]:
    """Data files carrying rows appended in (from_version, to_version]:
    the union of APPEND snapshots' added_files — REPLACE (compaction)
    snapshots are skipped, so maintenance rewrites are invisible to
    incremental consumers (re-emitting compacted rows was the bug this
    walk replaces: a bare manifest set-difference counts rewritten files
    as new).

    A DELETE snapshot in the range RAISES by default (same contract as
    Iceberg's incremental append scan): an append-only consumer that
    silently skipped it would keep acting on rows the table no longer
    holds. Pass ``skip_deletes=True`` to knowingly ignore row removals
    (the rewritten files carry no new rows, so skipping stays
    duplicate-free)."""
    if not 0 <= from_version <= to_version:
        raise ValueError(f"bad incremental range {from_version}..{to_version}")
    out: list[str] = []
    for v in range(from_version + 1, to_version + 1):
        try:
            meta = _load_meta(table_dir, v)
        except FileNotFoundError:
            raise ValueError(
                f"incremental range {from_version}..{to_version} of "
                f"{table_dir} crosses expired snapshot {v} — catch tail "
                "consumers up before expiring, or restart them from a "
                "retained version") from None
        op = meta.get("operation", "append")
        if op == "delete" and not skip_deletes:
            raise ValueError(
                f"incremental range {from_version}..{to_version} of "
                f"{table_dir} crosses DELETE snapshot {v}; an append-only "
                "scan cannot represent row removal — re-read the snapshot, "
                "or pass skip_deletes=True to knowingly ignore removals")
        if op == "append":
            out.extend(meta["added_files"])
    return out


def read_incremental(spark: SparkSession, table_dir: str,
                     from_version: int, to_version: int) -> DataFrame:
    """Rows appended AFTER ``from_version`` up to ``to_version`` — the
    incremental append scan over :func:`incremental_files`, reading none
    of the older data (and none of the compaction rewrites)."""
    v_check(table_dir, to_version)
    new = incremental_files(table_dir, from_version, to_version)
    if not new:
        return read_snapshot(spark, table_dir, to_version).limit(0)
    return spark.read.option("mergeSchema", "true").parquet(*new)


def compact(spark: SparkSession, table_dir: str, *, files: int = 1) -> int:
    """Rewrite the current snapshot's data into ``files`` files and commit
    it as a REPLACE snapshot — table maintenance (the small-files problem)
    that time travel sees as a new layout and incremental scans do not see
    at all. Returns the new version."""
    cur = current_version(table_dir)
    if cur == 0:
        raise ValueError(f"{table_dir} has no snapshots to compact")
    df = read_snapshot(spark, table_dir, cur)
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table_dir, "data", f"rewrite-{commit_id}")
    df.coalesce(files).write.parquet(data_dir)
    new_files = sorted(
        os.path.join(data_dir, f) for f in os.listdir(data_dir)
        if f.endswith(".parquet"))
    return commit_files(table_dir, new_files, operation="replace",
                        removed=snapshot_files(table_dir, cur))


def delete_where(spark: SparkSession, table_dir: str,
                 predicate) -> tuple[int, int]:
    """Copy-on-write row deletion: rewrite ONLY the data files that contain
    matching rows, commit the rewrite as a DELETE snapshot. Returns
    ``(version, n_deleted)`` — version unchanged when nothing matched.

    This is Iceberg's copy-on-write DELETE shape: untouched files stay
    live as-is (at 100 TB a targeted delete rewrites a handful of files,
    not the table), time travel still shows the rows at older versions,
    and incremental append consumers fail loudly when their range crosses
    the delete (see :func:`incremental_files`). Rows where ``predicate``
    is NULL are kept (SQL DELETE semantics: only TRUE deletes).
    """
    cur = current_version(table_dir)
    if cur == 0:
        raise ValueError(f"{table_dir} has no snapshots to delete from")
    files = snapshot_files(table_dir, cur)
    tagged = (spark.read.option("mergeSchema", "true").parquet(*files)
              .withColumn("__file", F.input_file_name()))
    # manifest paths are plain absolute paths; input_file_name returns URIs
    hit_uris = [r[0] for r in
                tagged.where(predicate).select("__file").distinct().collect()]
    hits = sorted(_uri_to_path(u) for u in hit_uris)
    if not hits:
        return cur, 0
    victims = (spark.read.option("mergeSchema", "true").parquet(*hits)
               .localCheckpoint(eager=False))  # feeds count + rewrite
    n_deleted = victims.where(predicate).count()
    keep = victims.where(~F.coalesce(predicate, F.lit(False)))
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table_dir, "data", f"delete-{commit_id}")
    new_files: list[str] = []
    if keep.limit(1).count():
        keep.write.parquet(data_dir)
        new_files = sorted(
            os.path.join(data_dir, f) for f in os.listdir(data_dir)
            if f.endswith(".parquet"))
    version = commit_files(table_dir, new_files, operation="delete",
                           removed=hits)
    return version, n_deleted


def _uri_to_path(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path) if "://" in uri or uri.startswith(
        "file:") else uri


def expire_snapshots(table_dir: str, *, keep_last: int = 1) -> list[str]:
    """Drop snapshot metadata older than the last ``keep_last`` versions
    and DELETE data files no retained manifest references. Returns the
    deleted file paths.

    The storage-reclaim side of immutable-file tables; the documented
    trade (same as Iceberg): time travel and incremental reads from
    expired versions stop working — including append files that a later
    compaction rewrote, so tail consumers should be caught up past the
    expired range first.
    """
    cur = current_version(table_dir)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    cutoff = max(0, cur - keep_last)  # retain versions > cutoff
    retained: set[str] = set()
    for v in range(cutoff + 1, cur + 1):
        try:
            retained.update(_load_meta(table_dir, v)["files"])
        except FileNotFoundError:
            pass  # expired by an earlier, tighter expiry — nothing to retain
    deleted: list[str] = []
    for v in range(1, cutoff + 1):
        meta_path = os.path.join(_meta_dir(table_dir), f"v{v}.json")
        if not os.path.exists(meta_path):
            continue  # already expired earlier
        for f in _load_meta(table_dir, v)["files"]:
            if f not in retained and os.path.exists(f):
                os.remove(f)
                deleted.append(f)
        os.remove(meta_path)
    return deleted


def v_check(table_dir: str, version: int) -> int:
    cur = current_version(table_dir)
    if not 1 <= version <= cur:
        raise ValueError(f"snapshot {version} not in [1, {cur}]")
    if not os.path.exists(os.path.join(_meta_dir(table_dir),
                                       f"v{version}.json")):
        raise ValueError(f"snapshot {version} of {table_dir} is expired")
    return version
