"""Snapshot log (engine/io/snapshots.py): commits, time travel,
incremental reads, expiry, and the ingest-job integration.

The contract under test is Iceberg's metadata semantics over the
parquet seam: a commit is a metadata-only record of the table's file
set; time travel scans exactly one snapshot's files; incremental
reads return only rows in files added after a base snapshot; history
whose files were overwritten fails loudly, never partially.
"""

import os

import pytest
from pyspark.sql import functions as F

from engine.io.snapshots import (
    commit_snapshot,
    current_snapshot_id,
    expire_snapshots,
    incremental_read,
    read_snapshot,
    snapshots,
)
from engine.io.tables import overwrite_partitions, write_table


@pytest.fixture(scope="module")
def spark():
    from engine.session import get_spark

    return get_spark(master="local[4]", shuffle_partitions=4)


def _mk(spark, ids, part):
    return spark.range(*ids).select(
        F.col("id"), F.lit(part).alias("p"), (F.col("id") * 2).alias("v")
    )


def test_commit_timetravel_incremental(spark, tmp_path):
    t = str(tmp_path / "t")
    write_table(_mk(spark, (0, 10), "a"), t, partition_by=["p"])
    s1 = commit_snapshot(t, operation="append")
    assert s1["snapshot_id"] == 1 and s1["parent_id"] is None
    assert s1["added"] and s1["total_bytes"] > 0

    # append a second partition
    write_table(_mk(spark, (10, 25), "b"), t, partition_by=["p"])
    s2 = commit_snapshot(t)
    assert s2["snapshot_id"] == 2 and s2["parent_id"] == 1
    assert current_snapshot_id(t) == 2
    assert [s["snapshot_id"] for s in snapshots(t)] == [1, 2]

    # time travel: v1 sees only the first 10 rows, v2 sees all 25,
    # partition column inference intact for both
    v1 = read_snapshot(spark, t, 1)
    assert v1.count() == 10 and v1.select("p").distinct().collect()[0]["p"] == "a"
    assert read_snapshot(spark, t).count() == 25  # default = current

    # incremental: exactly the appended batch
    inc = incremental_read(spark, t, after=1)
    assert inc.count() == 15
    assert {r["p"] for r in inc.select("p").distinct().collect()} == {"b"}

    # no-new-files window signals None
    assert incremental_read(spark, t, after=2) is None


def test_overwritten_history_fails_loudly(spark, tmp_path):
    t = str(tmp_path / "t")
    write_table(_mk(spark, (0, 10), "a"), t, partition_by=["p"])
    commit_snapshot(t)
    # rewrite partition a (dynamic overwrite deletes v1's files)
    overwrite_partitions(_mk(spark, (100, 105), "a"), t, ["p"])
    commit_snapshot(t, operation="overwrite")
    with pytest.raises(FileNotFoundError, match="history expired"):
        read_snapshot(spark, t, 1).count()
    # current snapshot still reads fine
    assert read_snapshot(spark, t, 2).count() == 5
    # incremental over the rewrite window returns the REPLACEMENT files
    inc = incremental_read(spark, t, after=1)
    assert sorted(r["id"] for r in inc.collect()) == [100, 101, 102, 103, 104]


def test_incremental_skips_files_rewritten_inside_window(spark, tmp_path):
    t = str(tmp_path / "t")
    write_table(_mk(spark, (0, 5), "a"), t, partition_by=["p"])
    commit_snapshot(t)  # v1
    write_table(_mk(spark, (5, 8), "b"), t, partition_by=["p"])
    commit_snapshot(t)  # v2 adds partition b
    overwrite_partitions(_mk(spark, (200, 202), "b"), t, ["p"])
    commit_snapshot(t)  # v3 rewrites b: v2's files are gone
    inc = incremental_read(spark, t, after=1)  # window (1, 3]
    assert sorted(r["id"] for r in inc.collect()) == [200, 201]


def test_expire_keeps_newest(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(4):
        write_table(_mk(spark, (i * 5, i * 5 + 5), f"p{i}"), t, ["p"])
        commit_snapshot(t)
    assert expire_snapshots(t, keep_last=2) == 2
    assert [s["snapshot_id"] for s in snapshots(t)] == [3, 4]
    assert current_snapshot_id(t) == 4
    with pytest.raises(ValueError, match="no snapshot 1"):
        read_snapshot(spark, t, 1)


def test_ingest_job_commits_snapshots(spark, tmp_path):
    import jobs.ingest as ingest

    out = str(tmp_path / "out")
    args = ingest._parser().parse_args(
        [
            "--output", out,
            "--n-pages", "120",
            "--commit-batches", "3",
            "--master", "local[4]",
            "--shuffle-partitions", "4",
        ]
    )
    ingest.run(args)
    ex = os.path.join(out, "extracted")
    snaps = snapshots(ex)
    assert len(snaps) == 3  # one per committed batch
    assert all(s["operation"].startswith("ingest-batch:") for s in snaps)
    # the full table == union of snapshot-1 plus every incremental window
    total = read_snapshot(spark, ex).count()
    base = read_snapshot(spark, ex, 1).count()
    inc = incremental_read(spark, ex, after=1)
    assert base + inc.count() == total == spark.read.parquet(ex).count()


def test_snapshot_commits_before_mark_done(spark, tmp_path, monkeypatch):
    """review r3: mark_done-then-snapshot left a window where a crash
    permanently hid the batch's files from --since-snapshot consumers.
    Invariant now: any batch marked done HAS a committed snapshot —
    kill between the two and the marked-done count never exceeds the
    snapshot count."""
    import jobs.ingest as ingest
    from engine import checkpoint

    out = str(tmp_path / "out")
    args = ingest._parser().parse_args(
        [
            "--output", out,
            "--n-pages", "120",
            "--commit-batches", "3",
            "--master", "local[4]",
            "--shuffle-partitions", "4",
        ]
    )

    real_mark = checkpoint.mark_done
    calls = {"n": 0}

    def dying_mark(output, run_id, keys):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("killed between snapshot and mark_done")
        return real_mark(output, run_id, keys)

    monkeypatch.setattr(ingest.checkpoint, "mark_done", dying_mark)
    with pytest.raises(RuntimeError):
        ingest.run(args)
    ex = os.path.join(out, "extracted")
    # done batches (1) < snapshots (2) is FINE (a duplicate snapshot
    # on resume is harmless); snapshots < done batches would be the
    # data-loss ordering. Batch 2's snapshot committed BEFORE its
    # mark_done died, so 2 snapshots / 1 done batch.
    assert len(snapshots(ex)) == 2
    monkeypatch.setattr(ingest.checkpoint, "mark_done", real_mark)
    res = ingest.run(
        ingest._parser().parse_args(
            [
                "--output", out,
                "--n-pages", "120",
                "--commit-batches", "3",
                "--master", "local[4]",
                "--shuffle-partitions", "4",
                "--resume",
            ]
        )
    )
    # after resume every batch is done and every done batch's files
    # are visible from some snapshot: full union == current snapshot
    assert read_snapshot(spark, ex).count() == spark.read.parquet(ex).count()
