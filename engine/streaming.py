"""Structured Streaming variant of the ingest (SURVEY.md §2.D).

Batch is primary (BASELINE.json:14 describes spark-submit batch
runs); this module covers continuous ingestion of new crawl
partitions with the SAME kernels and the same idempotent-write
semantics:

  D1  file streaming source with the declared pages schema
  D2  1-day watermark on warc_ts (late captures beyond it dropped
      from stateful operators)
  D3  streaming per-url dedup within the watermark
  D4  exactly-once sink: foreachBatch + idempotent parquet writes +
      checkpointLocation WAL (the streaming twin of engine.checkpoint)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

WATERMARK = "1 day"


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """D1: new parquet files under input_dir become micro-batches."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def deduped_stream(pages: DataFrame) -> DataFrame:
    """D2+D3: watermark + once-per-url-within-watermark."""
    return pages.withWatermark("warc_ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["url"]
    )


def extracted_stream(pages: DataFrame) -> DataFrame:
    """Same fused kernel UDF as batch — the kernels don't know or care
    that the plan is streaming."""
    from engine.udfs import route_extract_udf

    df = deduped_stream(pages).withColumn("_ex", route_extract_udf(F.col("html")))
    return df.select(
        "url",
        "warc_ts",
        "lang",
        F.col("_ex.path").alias("path"),
        F.col("_ex.text").alias("text"),
        F.col("_ex.error").alias("error"),
        F.col("_ex.n_sents").alias("n_sents"),
        F.col("_ex.sent_spans").alias("sent_spans"),
        F.length("_ex.text").cast("long").alias("n_chars"),
        F.sha2(F.col("_ex.text"), 256).alias("content_sha256"),
    )


# --- D4: exactly-once sink ---------------------------------------------------


def start_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """foreachBatch sink: per-micro-batch idempotent parquet append
    keyed by batch_id (re-delivered batches overwrite their own
    directory — the WAL under checkpointLocation guarantees a batch id
    is never skipped, overwrite makes redelivery harmless)."""
    ex = extracted_stream(read_pages_stream(spark, input_dir))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                f"{output_dir}/batch_id={batch_id}"
            )
        )

    w = (
        ex.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def start_vector_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    index: str = "vectors",
    available_now: bool = False,
    delta_against: str | None = None,
    prior_chunks: str | None = None,
    host_buckets: int = 64,
):
    """Continuous crawl -> vector-index ingestion: the streaming twin
    of the batch extract -> chunk -> embed -> put_vectors pipeline
    (the reference's whole purpose, as one streaming query).

    foreachBatch runs the SAME batch operators per micro-batch —
    build_chunks / build_vectors / sink_vectors don't know the plan is
    streaming. Put requests are keyed (batch_id, partition, seq) via
    the sink's generation stamp (gen=batch_id), so a redelivered
    micro-batch (WAL replay after a crash) rewrites its own files
    byte-identically — idempotent puts, the streaming analogue of the
    batch job's dynamic-overwrite resume — and the index log replays
    in micro-batch order (load_live_keys).

    `delta_against` (a prior extracted table path) is the streaming
    twin of `jobs/ingest.py --delta-against`: each micro-batch is
    screened through engine.pipeline.changed_docs, so only docs whose
    (url, content_sha256) is NEW vs the prior corpus are chunked and
    embedded — a continuous re-crawl feed costs the change rate, not
    the feed rate. The micro-batch gets a pbucket column so the prior
    side is partition-pruned to the batch's host buckets per batch;
    `host_buckets` MUST equal the bucket count the prior table was
    written with (a mismatch prunes away the matching prior rows and
    every re-crawl silently looks changed). The micro-batch is
    materialized (localCheckpoint) before the screen: the delta plan
    references the batch three times, and an unpersisted foreachBatch
    frame re-runs the Arrow extraction UDF per reference.

    `prior_chunks` (with delta_against): the prior chunks table —
    enables INDEX DELETE maintenance per micro-batch, the streaming
    twin of `jobs/ingest.py --vector-index --prior-chunks`: a changed
    doc whose new chunking shrank (or chunks to nothing) gets its
    stale `url#chunk_ix` keys deleted through the same client seam
    (engine.pipeline.stale_chunk_keys), delta-sized per batch.
    """
    from engine.io.vector_sink import sink_vector_deletes, sink_vectors
    from engine.pipeline import build_chunks, build_vectors

    ex = extracted_stream(read_pages_stream(spark, input_dir))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        changed_keys = None
        if delta_against:
            from engine.partitioning import host_bucket_col
            from engine.pipeline import changed_docs

            prior = spark.read.parquet(delta_against)
            changed = changed_docs(
                prior,
                batch_df.withColumn(
                    "pbucket", host_bucket_col("url", host_buckets)
                ).localCheckpoint(eager=True),
            )
            if prior_chunks is not None:
                # referenced by the chunk build AND the stale screen
                changed = changed.localCheckpoint(eager=True)
                changed_keys = changed.select("url", "pbucket")
            batch_df = changed.drop("pbucket")
        chunks = build_chunks(batch_df)
        if changed_keys is not None:
            from engine.pipeline import stale_chunk_keys

            chunks = chunks.localCheckpoint(eager=True)
            stale = stale_chunk_keys(
                spark.read.parquet(prior_chunks),
                chunks.select("url", "chunk_ix"),
                changed_keys,
            )
            sink_vector_deletes(
                stale, index, index_dir, gen=batch_id
            ).collect()
        vectors = build_vectors(chunks)
        # forcing the receipts performs the puts executor-side
        sink_vectors(vectors, index, index_dir, gen=batch_id).collect()

    w = (
        ex.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
