"""Snapshot log for the table seam: Iceberg-style commits, time
travel, and incremental reads over partitioned Parquet.

`engine/io/tables.py` emulates Iceberg's write semantics (dynamic
partition overwrite); this module emulates its METADATA semantics —
the part that makes a table more than a directory:

    commit_snapshot(path)            after a write: records the table's
                                     data-file set as snapshot N
    snapshots(path)                  the commit history
    read_snapshot(spark, path, N)    time travel: scan exactly snapshot
                                     N's files (hive partition columns
                                     preserved via basePath)
    incremental_read(spark, path,    CDC-style: ONLY the files added
                      after=M)       after snapshot M — how downstream
                                     incremental consumers (e.g.
                                     curation of a new crawl) get "the
                                     new batch" without the producer
                                     handing it to them
    expire_snapshots(path, keep)     metadata GC

Scale shape: a snapshot is a JSON manifest of relative file paths +
sizes — pure metadata, no data read or written, O(files) like
Iceberg's own manifest lists. Commits are atomic (same-directory
rename) and serialized by monotonically-increasing ids; `current` is
a one-line pointer file.

Honest scope vs real Iceberg: Parquet's dynamic partition overwrite
DELETES the files it replaces, so time travel to a snapshot whose
files were since overwritten fails loudly (FileNotFoundError naming
the missing files) instead of silently returning partial history.
Append-shaped producers — `jobs/ingest.py` batch commits write fresh
host-bucket partitions, compaction and upsert touch only affected
partitions — keep the full history readable until those partitions
are rewritten. Incremental reads only ever reference files FORWARD of
their base snapshot, so they survive any history the producer has
expired behind them.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

_META_DIR = "_snapshots"


def _meta(table_path: str) -> str:
    return os.path.join(table_path, _META_DIR)


def _list_data_files(table_path: str) -> list[tuple[str, int]]:
    """Sorted (relative_posix_path, size) of every data file.
    Skips metadata (_snapshots, _SUCCESS, hidden/temp files) — the
    same visibility rule Spark's parquet scan applies."""
    out: list[tuple[str, int]] = []
    for root, dirs, files in os.walk(table_path):
        dirs[:] = sorted(
            d for d in dirs if not d.startswith((".", "_"))
        )
        for name in sorted(files):
            if name.startswith((".", "_")):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, table_path).replace(os.sep, "/")
            out.append((rel, os.path.getsize(full)))
    return out


def snapshots(table_path: str) -> list[dict]:
    """Commit history, oldest first. [] for an uncommitted table."""
    meta = _meta(table_path)
    if not os.path.isdir(meta):
        return []
    snaps = []
    for name in sorted(os.listdir(meta)):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(meta, name)) as f:
                snaps.append(json.load(f))
    return sorted(snaps, key=lambda s: s["snapshot_id"])


def current_snapshot_id(table_path: str) -> int | None:
    ptr = os.path.join(_meta(table_path), "current")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return int(f.read().strip())


def _load(table_path: str, snapshot_id: int) -> dict:
    p = os.path.join(_meta(table_path), f"v{snapshot_id}.json")
    if not os.path.exists(p):
        known = [s["snapshot_id"] for s in snapshots(table_path)]
        raise ValueError(
            f"no snapshot {snapshot_id} at {table_path} (have {known})"
        )
    with open(p) as f:
        return json.load(f)


def commit_snapshot(table_path: str, operation: str = "append") -> dict:
    """Record the table's current data-file set as the next snapshot.
    Metadata-only (one directory walk); atomic via same-dir rename.
    Returns the snapshot dict, including `added` relative to the
    parent — the file set incremental readers will see."""
    meta = _meta(table_path)
    os.makedirs(meta, exist_ok=True)
    parent_id = current_snapshot_id(table_path)
    parent_files = (
        {f for f, _ in _load(table_path, parent_id)["files"]}
        if parent_id is not None
        else set()
    )
    files = _list_data_files(table_path)
    snap_id = (parent_id or 0) + 1
    snap = {
        "snapshot_id": snap_id,
        "parent_id": parent_id,
        "ts": time.time(),
        "operation": operation,
        "files": files,
        "added": sorted(f for f, _ in files if f not in parent_files),
        "total_bytes": sum(s for _, s in files),
    }
    tmp = os.path.join(meta, f".v{snap_id}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(snap, f)
    os.rename(tmp, os.path.join(meta, f"v{snap_id}.json"))
    tmp_ptr = os.path.join(meta, ".current.tmp")
    with open(tmp_ptr, "w") as f:
        f.write(str(snap_id))
    os.rename(tmp_ptr, os.path.join(meta, "current"))
    return snap


def _scan_files(
    spark: SparkSession, table_path: str, rel_files: list[str]
) -> DataFrame:
    missing = [
        f for f in rel_files
        if not os.path.exists(os.path.join(table_path, f))
    ]
    if missing:
        raise FileNotFoundError(
            f"snapshot references {len(missing)} file(s) since overwritten "
            f"(first: {missing[0]!r}) — history expired by a partition "
            "rewrite; re-read at a newer snapshot"
        )
    paths = [os.path.join(table_path, f) for f in rel_files]
    # basePath keeps hive partition-column inference over explicit files
    return spark.read.option("basePath", table_path).parquet(*paths)


def read_snapshot(
    spark: SparkSession, table_path: str, snapshot_id: int | None = None
) -> DataFrame:
    """Time travel: scan exactly the given snapshot's file set
    (default: current)."""
    if snapshot_id is None:
        snapshot_id = current_snapshot_id(table_path)
        if snapshot_id is None:
            raise ValueError(f"{table_path} has no committed snapshots")
    snap = _load(table_path, snapshot_id)
    return _scan_files(spark, table_path, [f for f, _ in snap["files"]])


def incremental_read(
    spark: SparkSession,
    table_path: str,
    after: int,
    until: int | None = None,
) -> DataFrame | None:
    """Rows in files ADDED after snapshot `after`, up to `until`
    (default current). Returns None when no files were added — the
    caller's signal that there is no new batch (an empty scan can't
    be built without a schema to fabricate)."""
    if until is None:
        until = current_snapshot_id(table_path)
        if until is None:
            raise ValueError(f"{table_path} has no committed snapshots")
    if until < after:
        raise ValueError(f"until={until} predates after={after}")
    base = {f for f, _ in _load(table_path, after)["files"]}
    added: list[str] = []
    for sid in range(after + 1, until + 1):
        added.extend(f for f in _load(table_path, sid)["added"] if f not in base)
    added = sorted(dict.fromkeys(added))
    # a file added then rewritten inside the window no longer exists;
    # its replacement is in a later `added` list, so drop stale names
    added = [
        f for f in added if os.path.exists(os.path.join(table_path, f))
    ]
    if not added:
        return None
    return _scan_files(spark, table_path, added)


def expire_snapshots(table_path: str, keep_last: int = 10) -> int:
    """Metadata GC: drop all but the newest keep_last snapshot files.
    Data files are untouched (parquet overwrite already handles data
    GC); returns the number of snapshots removed."""
    snaps = snapshots(table_path)
    drop = snaps[:-keep_last] if keep_last > 0 else snaps
    for s in drop:
        os.remove(
            os.path.join(_meta(table_path), f"v{s['snapshot_id']}.json")
        )
    return len(drop)
