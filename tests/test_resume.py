"""T3 (SURVEY.md §5): checkpoint/resume — a resumed run completes the
remaining work and the final table equals the single-shot run
(BASELINE.json:14 "resumable from checkpoint")."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine import checkpoint
from engine.corpus import gen_pages_df
from engine.io.tables import write_table
from engine.pipeline import build_extracted, with_partition_key

N = 300


def test_filter_not_done_anti_join(spark, tmp_path):
    out = str(tmp_path)
    pages = with_partition_key(gen_pages_df(spark, N)).cache()
    keys = [r["part_key"] for r in pages.select("part_key").distinct().collect()]
    assert len(keys) > 4
    done, todo = keys[: len(keys) // 2], keys[len(keys) // 2 :]
    checkpoint.mark_done(out, "r1", done)
    remaining = checkpoint.filter_not_done(pages, out, "r1")
    got_keys = {r["part_key"] for r in remaining.select("part_key").distinct().collect()}
    assert got_keys == set(todo)
    # manifest is cumulative + atomic
    checkpoint.mark_done(out, "r1", todo)
    assert checkpoint.load_done_keys(out, "r1") == set(keys)
    assert checkpoint.filter_not_done(pages, out, "r1").isEmpty()


def test_two_phase_run_equals_single_shot(spark, tmp_path):
    from engine.partitioning import with_write_partitions

    single = str(tmp_path / "single")
    twophase = str(tmp_path / "two")
    pages = with_partition_key(gen_pages_df(spark, N)).cache()

    def run(pages_subset, out, mode="overwrite"):
        ex = build_extracted(pages_subset.drop("part_key"), num_partitions=4)
        ex = with_write_partitions(ex)
        write_table(ex, out + "/extracted", partition_by=["pbucket"], mode=mode)

    # single shot
    run(pages, single)

    # phase 1: half the partition keys; phase 2: resume the rest
    keys = sorted(r["part_key"] for r in pages.select("part_key").distinct().collect())
    first = keys[: len(keys) // 2]
    p1 = pages.filter(F.col("part_key").isin(first))
    run(p1, twophase)
    checkpoint.mark_done(twophase, "r1", first)
    rest = checkpoint.filter_not_done(pages, twophase, "r1")
    # dynamic partition overwrite keeps phase-1 bucket partitions intact
    run(rest, twophase, mode="overwrite")

    a = spark.read.parquet(single + "/extracted").drop("day", "pbucket")
    b = spark.read.parquet(twophase + "/extracted").drop("day", "pbucket")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def _ingest_args(output: str, **over):
    import argparse

    d = dict(
        input=None,
        n_pages=N,
        seed=42,
        output=output,
        run_id="r1",
        resume=False,
        master="local[8]",
        partitions=4,
        commit_batches=4,
        upsert_into=None,
        canonical_urls=False,
        shuffle_partitions=8,
    )
    d.update(over)
    return argparse.Namespace(**d)


def test_kill_mid_run_resumes_from_last_committed_batch(
    spark, tmp_path, monkeypatch
):
    """The r2 verdict's top item: the manifest commits after EVERY
    batch, so a crash mid-run (here: during batch 2's first write)
    loses only the in-flight batch. Resume reprocesses ONLY unfinished
    batches and the final tables equal a single-shot run's."""
    import jobs.ingest as ingest

    single = str(tmp_path / "single")
    killed = str(tmp_path / "killed")
    ingest.run(_ingest_args(single, commit_batches=1))

    real_write = ingest.write_table
    calls = {"n": 0}

    def dying_write(*a, **kw):
        calls["n"] += 1
        # 3 writes per batch (extracted/chunks/lineage):
        # call 4 = batch 2's extracted write -> batch 1 committed,
        # batch 2 in flight, batches 3-4 untouched
        if calls["n"] == 4:
            raise RuntimeError("simulated mid-run crash")
        return real_write(*a, **kw)

    monkeypatch.setattr(ingest, "write_table", dying_write)
    with pytest.raises(RuntimeError, match="simulated mid-run crash"):
        ingest.run(_ingest_args(killed))

    # exactly one batch (16 of 64 keys) durably committed
    done = checkpoint.load_done_keys(killed, "r1")
    assert len(done) == 16

    monkeypatch.setattr(ingest, "write_table", real_write)
    res = ingest.run(_ingest_args(killed, resume=True))
    assert res["batches_committed"] == 3  # the unfinished ones only
    assert checkpoint.load_done_keys(killed, "r1") == {
        str(k) for k in range(64)
    }

    for table in ("extracted", "chunks"):
        a = spark.read.parquet(f"{single}/{table}").drop("day", "pbucket")
        b = spark.read.parquet(f"{killed}/{table}").drop("day", "pbucket")
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), table

    # lineage covers every extracted row exactly once (a re-done batch
    # REPLACES its lineage partition instead of double-appending)
    n_docs = spark.read.parquet(f"{single}/extracted").count()
    lin = spark.read.parquet(f"{killed}/lineage")
    assert lin.agg(F.sum("n_rows")).first()[0] == n_docs


def test_fully_resumed_rerun_is_a_noop(spark, tmp_path):
    import jobs.ingest as ingest

    out = str(tmp_path / "out")
    first = ingest.run(_ingest_args(out))
    assert first["batches_committed"] == 4
    again = ingest.run(_ingest_args(out, resume=True))
    assert again == {
        "wall_s": again["wall_s"],
        "docs": 0,
        "docs_per_s": 0.0,
        "batches_committed": 0,
        "rows": 0,
        "errors": 0,
        "html_rows": 0,
        "pdf_text_rows": 0,
        "pdf_ocr_rows": 0,
        "total_chars": 0,
    }


def test_resume_with_different_commit_batches_keeps_lineage_exact(
    spark, tmp_path, monkeypatch
):
    """Lineage is partitioned by the STABLE bucket key (pbucket), not
    the batch index: resuming a crashed run with a DIFFERENT
    --commit-batches regroups buckets into different batches, and a
    batch-index partition key would dynamic-overwrite other batches'
    committed trailers (round-3 review finding). sum(n_rows) over
    lineage must still equal the extracted row count."""
    import jobs.ingest as ingest

    out = str(tmp_path / "rebatch")
    real_write = ingest.write_table
    calls = {"n": 0}

    def dying_write(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 4:  # batch 1 committed, batch 2 in flight
            raise RuntimeError("simulated mid-run crash")
        return real_write(*a, **kw)

    monkeypatch.setattr(ingest, "write_table", dying_write)
    with pytest.raises(RuntimeError, match="simulated mid-run crash"):
        ingest.run(_ingest_args(out, commit_batches=4))
    assert len(checkpoint.load_done_keys(out, "r1")) == 16

    monkeypatch.setattr(ingest, "write_table", real_write)
    # resume with a DIFFERENT batching of the remaining 48 buckets
    ingest.run(_ingest_args(out, resume=True, commit_batches=3))
    assert checkpoint.load_done_keys(out, "r1") == {str(k) for k in range(64)}

    n_docs = spark.read.parquet(f"{out}/extracted").count()
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.agg(F.sum("n_rows")).first()[0] == n_docs
    # per-bucket: each pbucket's lineage rows cover exactly its docs
    ex_per = {
        r["pbucket"]: r["n"]
        for r in spark.read.parquet(f"{out}/extracted")
        .groupBy("pbucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    lin_per = {
        r["pbucket"]: r["n"]
        for r in lin.groupBy("pbucket").agg(F.sum("n_rows").alias("n")).collect()
    }
    assert lin_per == ex_per


def test_empty_commit_batch_is_skipped_and_committed(spark, tmp_path):
    """Round-3 review: a concentrated input (single host -> one part
    key) leaves most commit batches EMPTY; an empty first batch used
    to crash the read-back on a not-yet-existing extracted table.
    Empty batches must commit as done and the run must finish."""
    import jobs.ingest as ingest

    pages = with_partition_key(gen_pages_df(spark, N))
    keys = [r[0] for r in pages.select("part_key").distinct().collect()]
    # pick a part key NOT in batch 0 of 8 (k % 8 != 0) so the very
    # first processed batch is empty — the crashing case
    key = next(k for k in sorted(keys) if int(k) % 8 != 0)
    in_path = str(tmp_path / "pages")
    pages.filter(F.col("part_key") == key).drop("part_key").write.parquet(in_path)

    out = str(tmp_path / "out")
    res = ingest.run(_ingest_args(out, input=in_path, commit_batches=8))
    assert res["docs"] > 0
    assert res["batches_committed"] == 8  # empty ones committed too
    assert checkpoint.load_done_keys(out, "r1") == {str(k) for k in range(64)}
    got = spark.read.parquet(out + "/extracted")
    assert got.count() == res["docs"]
    assert {r[0] for r in got.select("pbucket").distinct().collect()} == {int(key)}
