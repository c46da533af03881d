"""Structured-streaming ingest job (SURVEY.md §2.D, §7 M6).

    python jobs/stream.py --input /data/incoming --output /data/out \
        --checkpoint /data/ckpt [--once]

Watches --input for new page parquet files; each micro-batch runs the
same fused extraction kernels and lands idempotent per-batch parquet
under --output. --once processes the current backlog and exits
(availableNow trigger); omit it for continuous ingestion.

--vectors switches the sink to the full extract -> chunk -> embed ->
put_vectors pipeline (engine/io/vector_sink.py): --output then is the
vector-index directory, with per-batch idempotent put files
(gen=batch_id). --delta-against PRIOR_EXTRACTED embeds only changed
docs; adding --prior-chunks PRIOR_CHUNKS also DELETES stale
url#chunk_ix keys of shrunk/emptied re-crawled docs from the index.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.session import get_spark
from engine.streaming import start_ingest_stream, start_vector_stream


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--master", default="local[*]")
    p.add_argument("--once", action="store_true")
    p.add_argument(
        "--vectors",
        action="store_true",
        help="sink extract->chunk->embed into the vector index instead "
        "of extracted parquet",
    )
    p.add_argument(
        "--delta-against",
        default=None,
        help="(with --vectors) prior extracted table: embed only docs "
        "whose (url, content_sha256) is new vs it",
    )
    p.add_argument(
        "--prior-chunks",
        default=None,
        help="(with --vectors --delta-against) prior chunks table: also "
        "DELETE stale url#chunk_ix keys of shrunk/emptied re-crawled "
        "docs from the index",
    )
    args = p.parse_args()
    # flag validation BEFORE any Spark work, so a delta flag without
    # its prerequisite fails loudly instead of being silently dropped
    if args.prior_chunks and not args.delta_against:
        p.error("--prior-chunks requires --delta-against")
    if (args.prior_chunks or args.delta_against) and not args.vectors:
        p.error("--delta-against/--prior-chunks require --vectors")
    # the job entrypoints run with the RocksDB state store: streaming
    # state (dedup-within-watermark) must not live in the JVM heap at
    # production state sizes
    spark = get_spark(
        master=args.master, app_name="webtext-stream", rocksdb_state=True
    )
    if args.vectors:
        q = start_vector_stream(
            spark,
            args.input,
            args.output,
            args.checkpoint,
            available_now=args.once,
            delta_against=args.delta_against,
            prior_chunks=args.prior_chunks,
        )
    else:
        q = start_ingest_stream(
            spark,
            args.input,
            args.output,
            args.checkpoint,
            available_now=args.once,
        )
    q.awaitTermination()


if __name__ == "__main__":
    main()
