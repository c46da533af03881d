"""Partition compaction job — small-file management for the
extracted/chunks/lineage tables (SURVEY.md §2 B3/A12 extension).

Resume re-writes and streaming micro-batches fragment partitions into
many small files; a 10^12-row table then pays footer-per-file scan
overhead and loses split balance. This job rewrites only the
fragmented partitions, idempotently:

  1. PLAN from file metadata only (counts + bytes per partition — no
     data read). Here that is a filesystem walk of the table's hive
     layout (partition columns discovered from the directories);
     on a real Iceberg catalog the same numbers come from the manifest
     (this module is behind the engine/io/tables.py seam like every
     other table operation).
  2. One job reads ONLY the selected partitions (partition-pruned
     scan), assigns each row a file slot so every partition lands in
     ceil(partition_bytes / target) output files, and shuffles once on
     (partition cols, slot).
  3. Dynamic partition overwrite replaces exactly the rewritten
     partitions — crash mid-job leaves every partition either old or
     new, never mixed, so re-running is safe (same idempotence
     primitive as checkpoint/resume, A12).

Usage:
    python jobs/compact.py --table /data/out/extracted \
        [--target-mb 128] [--dry-run]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def discover_partition_cols(table_path: str) -> list[str]:
    """Partition columns from the directory layout (hive-style
    `col=value` levels) — (pbucket,) for ingest's extracted and chunks
    tables, (run_id, pbucket) for its lineage, (day, pbucket) for an
    extracted table written by earlier versions; on Iceberg the same
    comes from the table spec."""
    cols: list[str] = []
    p = table_path
    while True:
        subs = sorted(
            d
            for d in os.listdir(p)
            if "=" in d and os.path.isdir(os.path.join(p, d))
        )
        if not subs:
            return cols
        cols.append(subs[0].split("=", 1)[0])
        p = os.path.join(p, subs[0])


def plan_compaction(
    table_path: str, target_bytes: int, min_files: int = 2
) -> list[dict]:
    """Metadata-only plan: one entry per partition that has more files
    than its ideal count (ceil(bytes/target)), with at least min_files.
    Returns [{cols: [...], values: (...), n_files, bytes, n_slots}] for
    whatever hive partition layout the table has."""
    cols = discover_partition_cols(table_path)
    leaves: list[tuple[tuple, str]] = [((), table_path)]
    for c in cols:
        leaves = [
            (vals + (d.split("=", 1)[1],), os.path.join(p, d))
            for vals, p in leaves
            for d in sorted(os.listdir(p))
            if d.startswith(c + "=") and os.path.isdir(os.path.join(p, d))
        ]
    plan = []
    for vals, p in leaves:
        files = [
            os.path.join(p, f)
            for f in os.listdir(p)
            if f.endswith(".parquet")
        ]
        nbytes = sum(os.path.getsize(f) for f in files)
        ideal = max(1, math.ceil(nbytes / target_bytes))
        if len(files) > max(ideal, min_files - 1) and len(files) > ideal:
            plan.append(
                {
                    "cols": cols,
                    "values": vals,
                    "n_files": len(files),
                    "bytes": nbytes,
                    "n_slots": ideal,
                }
            )
    return plan


def compact(
    spark, table_path: str, target_bytes: int = 128 << 20, key_col: str = "url"
) -> dict:
    """Rewrite fragmented partitions of a hive-partitioned table
    (layout discovered from the directories, see
    discover_partition_cols). Returns {partitions, files_before,
    files_after_planned}.

    key_col seeds the deterministic file-slot hash; any column that is
    ~uniformly distributed within a partition works (url for ingest's
    extracted/chunks; another key, e.g. vec_id, for a table without a
    url column)."""
    from pyspark.sql import functions as F

    plan = plan_compaction(table_path, target_bytes)
    if not plan:
        return {"partitions": 0, "files_before": 0, "files_planned": 0}
    part_cols = plan[0]["cols"]
    if not part_cols:
        # unpartitioned table: in-place compaction would be one
        # non-atomic whole-table overwrite (unbounded blast radius on
        # crash, unlike the per-partition dynamic overwrite below).
        # Disclosed no-op — rewrite flat tables to a NEW location
        # instead (read_table(...).repartition(k).write.parquet(dst)).
        return {
            "partitions": 0,
            "files_before": sum(p["n_files"] for p in plan),
            "files_planned": 0,
            "skipped": "unpartitioned table: compact by rewriting to a "
            "new location",
        }

    from engine.io.tables import overwrite_partitions, read_table

    # selected-partition pruning: an IN filter on the partition columns
    # reaches the scan as partition pruning (no data files of other
    # partitions are opened). Join keys are string-cast on the table
    # side: directory values are strings, inferred read types vary.
    plan_df = spark.createDataFrame(
        [(*p["values"], p["n_slots"]) for p in plan],
        ", ".join(f"{c} string" for c in part_cols) + ", n_slots int",
    )
    df = read_table(spark, table_path)
    cond = [
        df[c].cast("string") == plan_df[c] for c in part_cols
    ]
    sel = df.join(F.broadcast(plan_df), on=cond, how="inner").drop(
        *(plan_df[c] for c in part_cols)
    )

    # file-slot assignment: deterministic hash of the row key modulo
    # this partition's ideal file count; one shuffle on (partition,
    # slot) then each task writes one file of ~target size into its
    # partition. Total tasks = sum of slots (hash collisions can merge
    # two slots of different partitions into one task, which only
    # merges files — never splits them).
    total_slots = max(1, sum(p["n_slots"] for p in plan))
    if key_col not in sel.columns:
        raise ValueError(
            f"--key-col {key_col!r} not in table columns {sel.columns}"
        )
    sel = sel.withColumn(
        "_slot", F.pmod(F.xxhash64(F.col(key_col)), F.col("n_slots")).cast("int")
    ).drop("n_slots")
    sel = sel.repartition(total_slots, *part_cols, F.col("_slot")).drop(
        "_slot"
    )
    overwrite_partitions(sel, table_path, part_cols)
    return {
        "partitions": len(plan),
        "files_before": sum(p["n_files"] for p in plan),
        "files_planned": sum(p["n_slots"] for p in plan),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--target-mb", type=int, default=128)
    ap.add_argument(
        "--key-col",
        default="url",
        help="row-key column for file-slot hashing (e.g. vec_id for "
        "the vectors table)",
    )
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument("--master", default="local[8]")
    args = ap.parse_args()

    target = args.target_mb << 20
    if args.dry_run:
        plan = plan_compaction(args.table, target)
        for p in plan:
            print(p)
        print(f"{len(plan)} partitions would be compacted")
        return

    from engine.session import get_spark

    spark = get_spark(master=args.master, app_name="compact")
    print(compact(spark, args.table, target, key_col=args.key_col))


if __name__ == "__main__":
    main()
