"""Checkpoint / resume (SURVEY.md §2 A12; BASELINE.json:14
"resumable from checkpoint").

Work unit = one partition key (the host bucket,
engine.partitioning.partition_key_col). A JSON manifest under
<output>/_manifest/<run_id>.json records the set of finished keys;
writes are idempotent per-partition dynamic overwrites, so:

  crash after data-write, before manifest-write  -> key re-done,
  overwrite is byte-identical (extraction is deterministic);
  crash mid-write                                -> partial partition
  replaced wholesale on re-run.

Resume = broadcast anti-join of the input against the done-set: only
unfinished keys re-enter the pipeline. The manifest is tiny (one row
per work unit — one per host bucket at any scale), so the anti-join
always broadcasts.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F


def _manifest_path(output_dir: str, run_id: str) -> str:
    return os.path.join(output_dir, "_manifest", f"{run_id}.json")


def load_done_keys(output_dir: str, run_id: str) -> set[str]:
    p = _manifest_path(output_dir, run_id)
    if not os.path.exists(p):
        return set()
    with open(p, encoding="utf-8") as f:
        doc = json.load(f)
    return set(doc.get("done_partitions", []))


def mark_done(output_dir: str, run_id: str, keys: list[str]) -> None:
    """Atomic manifest update: write-new + rename."""
    p = _manifest_path(output_dir, run_id)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    done = load_done_keys(output_dir, run_id)
    done.update(keys)
    doc = {"run_id": run_id, "done_partitions": sorted(done)}
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p), suffix=".tmp")
    with os.fdopen(fd, "w", encoding="utf-8") as f:
        json.dump(doc, f)
    os.replace(tmp, p)


def filter_not_done(
    pages_with_key: DataFrame, output_dir: str, run_id: str
) -> DataFrame:
    """Anti-join the input against the done manifest (broadcast)."""
    spark: SparkSession = pages_with_key.sparkSession
    done = load_done_keys(output_dir, run_id)
    if not done:
        return pages_with_key
    done_df = spark.createDataFrame(
        [(k,) for k in sorted(done)], "part_key string"
    )
    return pages_with_key.join(
        F.broadcast(done_df), on="part_key", how="left_anti"
    )
