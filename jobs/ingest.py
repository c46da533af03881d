"""Batch ingest job — the spark-submit entry point (SURVEY.md §3.1).

    spark-submit --py-files engine.zip jobs/ingest.py \
        --n-pages 50000 --output /data/out --run-id r1 [--resume]

Stages per COMMIT BATCH (a group of host-bucket work units):
corpus/table scan -> partition-key filter -> fused route+extract
(Arrow UDF) -> per-url dedup -> extracted write -> [delta: changed
docs] -> chunk (mapInPandas) + embed -> chunks write -> lineage write
-> [vector-index puts/deletes] -> [upsert] -> manifest commit for the
batch. Works identically from
`python jobs/ingest.py` in local mode (the sandbox has no cluster).

One materialized batch (_ingest_batch): the extracted batch and its
embedded chunks are each persisted, written once and fed on from
memory. The extracted batch feeds the chunker (through changed_docs in
delta mode), lineage and upsert_latest; the embedded chunks feed the
vector-index puts and the stale-key delete set. The job reads back none
of the tables it writes, and a batch unpersists what it cached before
the next one starts.

Incremental commit (SURVEY.md §3.3 step 4): the manifest is updated
after EVERY batch, not once at job end, so a crash mid-run loses at
most one batch of extraction work — `--resume` reprocesses only
batches whose keys are not yet in the manifest, and every write is an
idempotent per-partition dynamic overwrite, so a re-done batch lands
byte-identically. `--commit-batches B` (default 8) sets the
granularity: the 64 host buckets are split into B groups, each
committed independently.

Cost model of B > 1, stated honestly: each batch is its own Spark
job, so the INPUT is scanned once per batch with a part_key filter
(the key is pmod(xxhash64(host(url))) — computable JVM-side but not
parquet-pushable), while the expensive stage (Python/Arrow extraction)
still runs exactly once per row. Extraction dominates scan cost by an
order of magnitude on crawl data, and on a production Iceberg table
bucketed by the same host hash (bucket(N, host) partition transform)
the batch filter prunes at metadata level, making the re-scan free.
--commit-batches 1 restores the single-scan single-commit plan.

Table layout: extracted and chunks are partitioned by pbucket alone,
the host bucket that is also the resume work unit and the delta prune
key. pbucket is a pure function of url, so it is recomputable on chunk
rows without carrying warc_ts through the chunker, and a re-done batch
dynamically overwrites exactly its own buckets. extracted keeps `day`
as a plain string column; no reader prunes by it, and a day level
would multiply the files per batch by the days it spans. chunks holds
each chunk's text with its vec_id, embedding and label: there is no
separate vectors table. Lineage is partitioned by (run_id, pbucket)
and dynamically overwritten per batch — a re-done batch REPLACES its
lineage rows instead of double-appending them. An extracted table
written in the earlier (day, pbucket) layout is refused as --output
(a --resume or rerun) and as --upsert-into, before any write: a
bucket-grain overwrite would mix the two layouts in one table. Such
tables still serve as --delta-against / --prior-chunks inputs, which
are only read.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from engine import checkpoint
from engine.corpus import gen_pages_df
from engine.io.snapshots import commit_snapshot
from engine.io.tables import write_table
from engine.lineage import build_lineage, observe_extraction
from engine.pipeline import (
    build_chunks,
    build_extracted,
    build_vectors,
    upsert_latest,
    with_partition_key,
)
from engine.session import get_spark

HOST_BUCKETS = 64
# each --vector-gen run reserves this many index-log generations, one
# per commit batch (batches are separate Spark jobs whose partition
# ids restart at 0 — a shared gen would collide filenames; batches
# hold disjoint host buckets, so inter-batch order is immaterial)
VECTOR_GEN_STRIDE = 1000

METRIC_KEYS = (
    "rows",
    "errors",
    "html_rows",
    "pdf_text_rows",
    "pdf_ocr_rows",
    "total_chars",
)


def _has_parquet_files(path: str) -> bool:
    """True if any parquet data file exists under path. Not called by
    the job, which gates its empty cases on counts of the persisted
    batch; kept only because ingestbench's tracer patches it by name
    (ingestbench/measure.py `_CALLS`)."""
    for dirpath, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _day_partitioned(table: str) -> bool:
    """True if `table` is a local extracted table in the earlier
    (day, pbucket) layout, i.e. has `day=` directories at its root."""
    return os.path.isdir(table) and any(
        d.startswith("day=") for d in os.listdir(table)
    )


def _batches(n_batches: int) -> list[list[str]]:
    """Split the static part_key domain (0..HOST_BUCKETS-1, stringly —
    see engine.partitioning.partition_key_col) into n_batches groups."""
    n_batches = max(1, min(n_batches, HOST_BUCKETS))
    return [
        [str(k) for k in range(HOST_BUCKETS) if k % n_batches == b]
        for b in range(n_batches)
    ]


def _ingest_batch(spark, args, bi, pages, buckets, totals, cached) -> bool:
    """Extract, chunk, embed, trace and sink one commit batch of
    `pages` (host buckets `buckets`), adding its counts to `totals`.
    Every table is computed from frames this call holds: the extracted
    batch and its embedded chunks are each persisted once, written once
    and fed on from memory — the job never reads back a table it
    writes. The persisted frames are appended to `cached`;
    the caller unpersists them. Returns False for an empty batch,
    which writes nothing past `extracted`."""
    from engine.partitioning import host_bucket_col, with_write_partitions

    def keep(df):
        cached.append(df.persist())
        return df

    extracted = keep(
        with_write_partitions(
            build_extracted(pages.drop("part_key"), num_partitions=args.partitions)
        )
    )
    # observed above the cache, not inside it: AQE replaces an empty
    # cached batch's scan with an empty relation, and an observation
    # inside the cached plan then never reports
    observed, obs = observe_extraction(extracted, name=f"extract_b{bi}")
    write_table(
        observed, os.path.join(args.output, "extracted"), partition_by=["pbucket"]
    )
    metrics = obs.get
    for k in METRIC_KEYS:
        totals[k] += int(metrics.get(k) or 0)
    n_rows = int(metrics.get("rows") or 0)
    if not n_rows:
        # no input hashed into these buckets — routine on concentrated
        # inputs, e.g. a single-host re-crawl: nothing to chunk, embed
        # or trace
        return False

    chunk_src = extracted
    n_changed = None
    if args.delta_against:
        # re-crawl delta: chunk/embed ONLY docs whose content is new vs
        # the prior corpus — unchanged re-crawls keep their existing
        # chunks (engine/pipeline.changed_docs), so embed cost
        # scales with the change rate, not crawl size
        from engine.pipeline import changed_docs

        chunk_src = keep(
            changed_docs(
                spark.read.parquet(args.delta_against),
                extracted,
                buckets=buckets,
            )
        )
        n_changed = chunk_src.count()
        totals["docs_changed"] = totals.get("docs_changed", 0) + n_changed
        totals["docs_unchanged_skipped"] = totals.get(
            "docs_unchanged_skipped", 0
        ) + (n_rows - n_changed)

    chunks = None
    if n_changed != 0:
        # an all-unchanged delta batch (n_changed == 0) writes no
        # chunks; a batch whose docs all chunk to nothing (extraction
        # errors / empty text only) writes an empty chunks partition
        # set. The chunks are embedded in the same pass and written
        # BEFORE they are counted or fed on, so the write is the action
        # that fills the cache.
        chunks = keep(
            build_vectors(build_chunks(chunk_src)).withColumn(
                "pbucket", host_bucket_col("url", HOST_BUCKETS)
            )
        )
        write_table(
            chunks, os.path.join(args.output, "chunks"), partition_by=["pbucket"]
        )

    # lineage partitioned by the STABLE bucket key, not the batch
    # index: a resume (or rerun) with a different --commit-batches
    # regroups buckets into different batches, and a batch-index
    # partition key would then dynamic-overwrite other batches'
    # committed trailers. Keyed by pbucket, a re-done bucket overwrites
    # exactly its own lineage rows, mirroring the data commit.
    write_table(
        build_lineage(extracted, args.run_id, by="pbucket"),
        os.path.join(args.output, "lineage"),
        partition_by=["run_id", "pbucket"],
    )

    if args.vector_index:
        # maintain the EXTERNAL vector index alongside the tables: put
        # this batch's (delta) chunk vectors, and in delta mode also delete
        # the keys a changed doc's prior chunking produced that its new
        # chunking no longer does (stale tail / now-empty docs).
        # Idempotent per batch: a re-done batch re-puts/re-deletes the
        # same (gen, pid, seq) requests. The EFFECTIVE gen folds in the
        # commit-batch ordinal: every batch is a separate Spark job
        # whose partition ids restart at 0, so a shared gen would make
        # batch 2's request files overwrite batch 1's (review r3 —
        # measured: 2636 puts, 620 surviving keys). Batches hold
        # disjoint host buckets, so inter-batch gen order is immaterial.
        from engine.io.vector_sink import sink_vector_deletes, sink_vectors

        batch_gen = args.vector_gen * VECTOR_GEN_STRIDE + bi
        if chunks is not None and chunks.count():
            n_put = (
                sink_vectors(
                    chunks,
                    args.vector_index_name,
                    args.vector_index,
                    gen=batch_gen,
                )
                .agg(F.sum("n_vectors"))
                .collect()[0][0]
            )
            totals["vectors_put"] = totals.get("vectors_put", 0) + int(
                n_put or 0
            )
        if args.delta_against and n_changed:
            from engine.pipeline import stale_chunk_keys

            stale = stale_chunk_keys(
                spark.read.parquet(args.prior_chunks),
                chunks,
                chunk_src.select("url"),
                buckets=buckets,
            )
            n_del = (
                sink_vector_deletes(
                    stale,
                    args.vector_index_name,
                    args.vector_index,
                    gen=batch_gen,
                )
                .agg(F.sum("n_vectors"))
                .collect()[0][0]
            )
            totals["vector_keys_deleted"] = totals.get(
                "vector_keys_deleted", 0
            ) + int(n_del or 0)

    if args.upsert_into:
        # fold this batch's rows into the existing corpus table IN
        # PLACE — only affected partitions are read or written
        # (engine/pipeline.upsert_latest). Idempotent: a re-done batch
        # upserts the same rows to the same winners.
        upsert_latest(spark, args.upsert_into, extracted)
    return True


def run(args) -> dict:
    from engine.cli import fill_defaults

    fill_defaults(args, _parser())
    # flag combinations are checked BEFORE any work, so a bad one
    # fails with nothing written or put to the index
    if args.prior_chunks and not (args.delta_against and args.vector_index):
        raise SystemExit(
            "--prior-chunks requires --delta-against and --vector-index "
            "(it only feeds the index's stale-key deletes)"
        )
    if args.vector_index and args.delta_against and not args.prior_chunks:
        raise SystemExit(
            "--vector-index with --delta-against needs --prior-chunks "
            "(the prior chunks table) to compute the stale-key delete set"
        )
    for flag, table in (
        ("--output", os.path.join(args.output, "extracted")),
        ("--upsert-into", args.upsert_into),
    ):
        if table and _day_partitioned(table):
            raise SystemExit(
                f"{flag}: {table} is an extracted table in the old "
                "(day, pbucket) layout; this job overwrites whole pbucket "
                "partitions and would mix the layouts. Ingest into a new "
                "directory instead (old tables still work as --delta-against)"
            )
    spark = get_spark(
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        app_name="webtext-ingest",
    )
    t0 = time.monotonic()

    def load_pages():
        if args.input:
            from engine.io.validate import assert_pages_schema

            fmt = getattr(args, "input_format", "parquet") or "parquet"
            if fmt == "warc":
                from engine.io.warc import read_warc

                pages = read_warc(spark, args.input)
            elif fmt == "raw":
                from engine.io.rawfiles import read_raw_drop

                pages = read_raw_drop(spark, args.input)
            else:
                pages = spark.read.parquet(args.input)
            pages = assert_pages_schema(pages)
        else:
            pages = gen_pages_df(spark, args.n_pages, seed=args.seed)
        if args.canonical_urls:
            # canonicalize BEFORE the work-unit key is derived so
            # part_key (raw side) and pbucket (written side) agree —
            # they are the same pmod(xxhash64(host)) over the same url
            from engine.ops.urlnorm import canonical_url_col

            pages = pages.withColumn("url", canonical_url_col("url"))
        return with_partition_key(pages)

    fmt = getattr(args, "input_format", "parquet") or "parquet"
    staged_path = None
    if args.input and fmt in ("warc", "raw") and args.commit_batches > 1:
        # WARC/raw parse has no pushdown: the per-batch part_key
        # filter inside the loop would decompress and parse EVERY
        # archive once per commit batch. Stage the parsed rows to
        # parquet once, partitioned by part_key, so each batch becomes
        # a partition-pruned columnar read instead of a re-parse
        # (review r3). Idempotent: a resume re-stages (dynamic
        # overwrite), which is one parse — the same cost the first
        # run paid.
        staged_path = os.path.join(args.output, "_staged_pages")
        write_table(load_pages(), staged_path, partition_by=["part_key"])
        _stage = staged_path

        def load_pages():  # noqa: F811 — deliberate rebind to the stage
            # partition-column inference types part_key as int; the
            # batch keys are strings — cast back
            return spark.read.parquet(_stage).withColumn(
                "part_key", F.col("part_key").cast("string")
            )

    done = (
        checkpoint.load_done_keys(args.output, args.run_id)
        if args.resume
        else set()
    )
    ex_path = os.path.join(args.output, "extracted")
    totals = dict.fromkeys(METRIC_KEYS, 0)
    n_committed = 0
    for bi, batch_keys in enumerate(_batches(args.commit_batches)):
        todo = [k for k in batch_keys if k not in done]
        if not todo:
            continue
        pages = load_pages().filter(F.col("part_key").isin(todo))
        cached: list = []
        try:
            wrote = _ingest_batch(
                spark, args, bi, pages, [int(k) for k in todo], totals, cached
            )
        finally:
            for df in cached:
                df.unpersist()

        # the batch is durably written (idempotent per-partition
        # overwrites) — commit it. Snapshot FIRST, mark_done second:
        # a crash between the two re-does the batch, which re-commits
        # an equivalent snapshot (harmless duplicate); the reverse
        # order would mark the batch done with no snapshot ever
        # recorded, silently hiding its files from incremental_read
        # consumers (review r3). Crash before either line
        # re-does the batch; crash after both skips it on --resume.
        # An empty batch wrote no rows and commits no snapshot.
        if wrote:
            commit_snapshot(ex_path, operation=f"ingest-batch:{args.run_id}")
        checkpoint.mark_done(args.output, args.run_id, batch_keys)
        n_committed += 1

    if staged_path:
        import shutil

        shutil.rmtree(staged_path, ignore_errors=True)

    wall = time.monotonic() - t0
    n_docs = totals["rows"]
    result = {
        "wall_s": round(wall, 2),
        "docs": n_docs,
        "docs_per_s": round(n_docs / wall, 1),
        "batches_committed": n_committed,
        **totals,
    }
    print(result)
    return result


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None, help="pages input (else synthesize)")
    p.add_argument(
        "--input-format",
        choices=["parquet", "warc", "raw"],
        default="parquet",
        help="pages parquet | *.warc(.gz) archives | raw-file crawl drop",
    )
    p.add_argument("--n-pages", type=int, default=5000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default="run1")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--master", default="local[*]")
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument(
        "--commit-batches",
        type=int,
        default=8,
        help="host buckets are processed and manifest-committed in this "
        "many independent batches; a crash loses at most one batch "
        "(1 = single-shot, one input scan)",
    )
    p.add_argument(
        "--upsert-into",
        default=None,
        help="existing extracted table to upsert this run's rows into "
        "IN PLACE (latest capture per url wins; only this run's "
        "pbucket partitions are read/rewritten)",
    )
    p.add_argument(
        "--delta-against",
        default=None,
        help="prior extracted table (either layout): chunk+embed ONLY "
        "docs whose (url, content_sha256) is new vs it — unchanged "
        "re-crawls skip the embed stage entirely, so vector cost scales "
        "with the change rate. This run's chunks table (text and "
        "embedding per chunk) then holds exactly the delta (fold into a "
        "maintained corpus table with "
        "engine.pipeline.upsert_replace_by_key)",
    )
    p.add_argument(
        "--vector-index",
        default=None,
        help="vector-index directory (dry-run client seam): put this "
        "run's vectors; with --delta-against also delete keys the "
        "changed docs' prior chunking produced that the new one "
        "no longer does (requires --prior-chunks)",
    )
    p.add_argument("--vector-index-name", default="chunks-v1")
    p.add_argument(
        "--vector-gen",
        type=int,
        default=0,
        help="generation stamp for index requests: pass a higher value "
        "each successive delta run; a --resume of the SAME run "
        "reuses its gen (idempotent overwrite). Each run reserves a "
        "stride of 1000 generations internally, one per commit batch",
    )
    p.add_argument(
        "--prior-chunks",
        default=None,
        help="prior chunks table matching --delta-against's extracted "
        "table; source of the --vector-index stale-key delete set",
    )
    p.add_argument(
        "--canonical-urls",
        action="store_true",
        help="canonicalize urls (defrag, tracking params, ports, case) "
        "before the per-url dedup key is formed",
    )
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def main() -> None:
    run(_parser().parse_args())


if __name__ == "__main__":
    main()
