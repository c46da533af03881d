"""Structured Streaming variant of the ingest (SURVEY.md §2.D).

Batch is primary (BASELINE.json:14 describes spark-submit batch
runs); this module covers continuous ingestion of new crawl
partitions with the SAME kernels and the same idempotent-write
semantics:

  D1  file streaming source with the declared pages schema
  D2  1-day watermark on warc_ts (late captures beyond it dropped
      from stateful operators)
  D3  streaming per-url dedup within the watermark
  D4  tumbling / sliding / session windowed metrics
  D5  stateful per-host running stats (applyInPandasWithState)
  D6  exactly-once sink: foreachBatch + idempotent parquet writes +
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

from engine.partitioning import host_col

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


def media_features_stream(media: DataFrame) -> DataFrame:
    """Streaming media-feature extraction (r4): the SAME mapInPandas
    feature fn as batch (engine/ops/media.build_media_features) over a
    streaming media frame — the kernels don't know the plan is
    streaming, exactly like extracted_stream. Map-only, so no
    watermark/state is needed; media_neardup_stream below builds the
    incremental perceptual dedup on top of it (band-join against a
    persisted hash table)."""
    from engine.ops.media import MEDIA_FEATURES_DDL, _features_batches

    return media.select("media_id", "payload").mapInPandas(
        _features_batches, MEDIA_FEATURES_DDL
    )


def start_media_features_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """File-source media stream -> features parquet sink."""
    from engine.synth.mediagen import MEDIA_SCHEMA_DDL

    media = (
        spark.readStream.schema(MEDIA_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    writer = (
        media_features_stream(media)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def media_neardup_stream(
    media: DataFrame,
    static_bands: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 8,
    bits_per_band: int = 8,
) -> DataFrame:
    """Incremental perceptual near-dup for a media crawl (r5, VERDICT
    r4 next #8): arriving assets' ahash band slices join a STATIC
    band index (engine/ops/media.media_hash_bands, persisted to
    storage), emitting (media_id, matched_id, hamming) — the media
    twin of neardup_stream's text shape.

    Stream-static inner equi-join on (band, bh): each micro-batch
    joins only the NEW assets' bands against the index, never corpus
    x corpus. Unlike the minhash twin, both sides carry the full
    64-bit hash, so the exact hamming distance is computed in the
    join and filtered to max_hamming — candidate recall keeps the
    pigeonhole guarantee while the emitted pairs are exact.

    Coverage: only (arriving, indexed) pairs are emitted. Two assets
    that both arrive on the stream, neither in the static index, are
    never compared, so intra-stream near-dups are missed. The output
    equals batch image_neardup_pairs over all the assets restricted to
    (arriving, indexed) pairs (pinned in tests/test_streaming.py).

    Band-collision multiplicity is deduped per micro-batch in the
    foreachBatch sink (the media schema has no event time to watermark
    on; a file-sourced asset arrives exactly once, so cross-batch
    duplicates cannot occur)."""
    from engine.ops.dedup import hash64_bands

    feats = media_features_stream(media)
    new_bands = hash64_bands(
        feats.filter(F.col("ahash").isNotNull()).select(
            F.col("media_id").alias("doc_id"), F.col("ahash").alias("sim")
        ),
        n_bands=n_bands,
        bits_per_band=bits_per_band,
    )
    matches = (
        new_bands.join(
            static_bands.select(
                F.col("doc_id").alias("matched_id"),
                F.col("sim").alias("sim_m"),
                "band",
                "bh",
            ),
            ["band", "bh"],
        )
        .filter(F.col("doc_id") != F.col("matched_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim").bitwiseXOR(F.col("sim_m"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return matches.select(
        F.col("doc_id").alias("media_id"), "matched_id", "hamming"
    )


def start_media_neardup_stream(
    spark: SparkSession,
    input_dir: str,
    static_bands: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Continuous perceptual screening of a media drop against the
    persisted hash index: per-batch idempotent parquet (batch_id-
    keyed overwrite, the D6 discipline), pairs deduped WITHIN the
    batch (band-collision multiplicity)."""
    from engine.synth.mediagen import MEDIA_SCHEMA_DDL

    media = (
        spark.readStream.schema(MEDIA_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    matches = media_neardup_stream(media, static_bands)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.dropDuplicates(["media_id", "matched_id"]).write.mode(
            "overwrite"
        ).parquet(f"{output_dir}/batch_id={batch_id}")

    w = (
        matches.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def windowed_metrics(extracted: DataFrame, width: str = "1 hour") -> DataFrame:
    """D4 tumbling windows: per-(window, path) throughput metrics.
    Input must already carry a watermark (extracted_stream does);
    redefining one downstream of a stateful operator is disallowed."""
    return (
        extracted
        .groupBy(F.window("warc_ts", width).alias("w"), "path")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("n_chars", F.lit(0))).alias("n_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "path",
            "n_docs",
            "n_chars",
        )
    )


def session_bursts(pages: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """D4 session windows: crawl bursts per host."""
    host = host_col("url").alias("host")
    return (
        pages.select(host, "warc_ts")
        .withWatermark("warc_ts", WATERMARK)
        .groupBy(F.session_window("warc_ts", gap).alias("s"), "host")
        .agg(F.count(F.lit(1)).alias("n_captures"))
        .select(
            F.col("s.start").alias("burst_start"),
            F.col("s.end").alias("burst_end"),
            "host",
            "n_captures",
        )
    )


# --- D5: stateful per-host running stats -----------------------------------

STATE_SCHEMA = "n_docs long, n_chars long"
HOST_STATS_SCHEMA = "host string, n_docs long, n_chars long"

# Default state TTL for the stateful operators: state for a key idle
# (in EVENT time, measured against the watermark) beyond this is
# evicted. Unbounded NoTimeout state was the r2 verdict's scale
# objection: one pathological key otherwise grows a state row forever.
DEFAULT_STATE_TTL_MS = 30 * 24 * 3600 * 1000  # 30 days of event time


def _make_host_stats_fn(ttl_ms: int | None):
    def fn(key, pdf_iter, state):
        import pandas as pd

        cols = ["host", "n_docs", "n_chars"]
        if state.hasTimedOut:
            # idle past the TTL: drop the state row; no output
            state.remove()
            yield pd.DataFrame([], columns=cols)
            return
        n_docs, n_chars = state.get if state.exists else (0, 0)
        max_ts = 0
        for pdf in pdf_iter:
            n_docs += len(pdf)
            n_chars += int(pdf["n_chars"].fillna(0).sum())
            if ttl_ms is not None and len(pdf):
                # naive ts are UTC here (session tz pinned to UTC);
                # dropna: an all-null warc_ts group must not feed
                # NaT.timestamp()
                ts = pdf["warc_ts"].dropna()
                if len(ts):
                    max_ts = max(max_ts, int(ts.max().timestamp() * 1000))
        state.update((n_docs, n_chars))
        if ttl_ms is not None:
            # idle-in-EVENT-time eviction: timeout = this key's latest
            # event + TTL. Keyed off the group's own data, NOT the
            # current watermark — in batch 1 the watermark is still 0
            # (epoch), which would make every timeout instantly stale.
            # max() keeps the timestamp legal (must exceed watermark).
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(max_ts, wm + 1) + ttl_ms)
        yield pd.DataFrame([(key[0], n_docs, n_chars)], columns=cols)

    return fn


def host_running_stats(
    extracted: DataFrame, state_ttl_ms: int | None = DEFAULT_STATE_TTL_MS
) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    # NOTE: input already carries the stream's watermark
    # (extracted_stream); re-applying one here is disallowed.
    host = host_col("url").alias("host")
    return (
        extracted.select(host, "warc_ts", "n_chars")
        .groupBy("host")
        .applyInPandasWithState(
            _make_host_stats_fn(state_ttl_ms),
            outputStructType=HOST_STATS_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.EventTimeTimeout
                if state_ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


# --- Streaming near-dup, incremental: growing per-bucket state index --------

# STATE SCHEMA VERSION NOTE: this schema gained the `overflow` field
# when the bucket cap landed (round 3). applyInPandasWithState does
# not support state-schema evolution: a checkpoint written by the
# 1-field (round-2) build cannot restart on this build — resume such
# a stream from a FRESH checkpointLocation (re-seeding state from the
# persisted band index via neardup_stream covers the gap). Future
# state fields carry the same cost; extend this note when they do.
NEARDUP_STATE_SCHEMA = "ids array<string>, overflow array<string>"
NEARDUP_OUT_SCHEMA = "url string, matched_id string, band int"

# Occupancy cap for a streaming LSH bucket's state: once a bucket holds
# this many ids it is SATURATED — later arrivals emit one match row
# against the bucket's first occupant (cluster connectivity preserved,
# the same star trick as engine.ops.dedup's hot_bucket_cap) and are not
# appended, so a boilerplate bucket can never grow one state value or
# one arrival's fan-out without bound (r2 verdict, What's wrong #4).
DEFAULT_BUCKET_CAP = 256


def _make_neardup_bucket_fn(bucket_cap: int | None, ttl_ms: int | None):
    """applyInPandasWithState fn keyed by (band, bh): state holds the
    doc ids already seen in this LSH bucket; each arriving doc emits a
    match row per prior occupant, then joins the bucket itself."""

    def fn(key, pdf_iter, state):
        import pandas as pd

        cols = ["url", "matched_id", "band"]
        if state.hasTimedOut:
            state.remove()  # bucket idle past the event-time TTL
            yield pd.DataFrame([], columns=cols)
            return
        ids, overflow = (
            state.get if state.exists else ([], [])
        )
        ids, overflow = list(ids), list(overflow or [])
        seen = set(ids)
        seen.update(overflow)
        out = []
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        # deterministic within-batch order: arrival time, then id
        rows = rows.sort_values(["warc_ts", "doc_id"], kind="mergesort")
        for r in rows.itertuples(index=False):
            if r.doc_id in seen:
                continue  # re-capture of a known doc: nothing new
            if bucket_cap is not None and len(ids) >= bucket_cap:
                # saturated: link to the bucket's first occupant only,
                # and REMEMBER the doc in a bounded FIFO so later-batch
                # re-captures do not re-emit the same star link (beyond
                # the FIFO horizon a re-capture re-emits — at-least-
                # once for deeply saturated buckets, disclosed)
                out.append((r.doc_id, ids[0], key[0]))
                seen.add(r.doc_id)
                overflow.append(r.doc_id)
                if len(overflow) > bucket_cap:
                    overflow.pop(0)
                continue
            out.extend((r.doc_id, m, key[0]) for m in ids)
            ids.append(r.doc_id)
            seen.add(r.doc_id)
        state.update((ids, overflow))
        if ttl_ms is not None:
            # evict when the bucket has been idle ttl_ms of EVENT time
            # (see _make_host_stats_fn on why this keys off the rows'
            # own max event time rather than the current watermark).
            # dropna: warc_ts is nullable — an all-null group must not
            # feed NaT.timestamp() (it would kill the query)
            ts = rows["warc_ts"].dropna()
            max_ts = int(ts.max().timestamp() * 1000) if len(ts) else 0
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(max_ts, wm + 1) + ttl_ms)
        yield pd.DataFrame(out, columns=cols)

    return fn


def incremental_neardup_stream(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    n_bands: int = 8,
    rows_per_band: int = 4,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    state_ttl_ms: int | None = DEFAULT_STATE_TTL_MS,
) -> DataFrame:
    """TRUE incremental near-dup: every arriving doc is checked against
    ALL previously streamed docs (not a frozen static index) and then
    becomes part of the index — stream-vs-stream dedup.

    Shape: minhash bands keyed by (band, bh); per-bucket state is the
    id list of prior occupants (applyInPandasWithState — the state
    never holds text or signatures, only ids, so state size is
    O(corpus ids x n_bands) spread across the state store's key space;
    at 10^12 docs this is the RocksDB-state-store regime —
    engine.session.get_spark(rocksdb_state=True) / jobs/stream.py
    enable the provider — and the stream-static variant below with a
    periodically compacted band table is the cheaper design; both are
    provided). Per-value growth is bounded two ways: bucket_cap
    saturates hot buckets (arrivals then star-link to the first
    occupant instead of appending — connectivity preserved, fan-out
    O(1)), and state_ttl_ms evicts buckets idle past the TTL in event
    time (a later near-dup of an evicted bucket is missed — the
    disclosed recall trade-off of any TTL'd index).

    A pair colliding in several bands emits once per band; distinct
    per (url, matched_id) downstream of the sink. Usually a pair
    appears only in the micro-batch where the newer doc first arrives,
    but a known id re-arriving with CHANGED text can land in a new
    bucket and re-emit an old pair in a later batch — consumers that
    need global uniqueness must distinct across batches, not per
    batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from engine.ops.dedup import minhash_bands

    bands = minhash_bands(
        docs.withWatermark("warc_ts", WATERMARK),
        id_col=id_col,
        text_col=text_col,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
        carry_cols=("warc_ts",),
    )
    return (
        bands.groupBy("band", "bh")
        .applyInPandasWithState(
            _make_neardup_bucket_fn(bucket_cap, state_ttl_ms),
            outputStructType=NEARDUP_OUT_SCHEMA,
            stateStructType=NEARDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.EventTimeTimeout
                if state_ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
        .withColumnRenamed("url", id_col)
    )


# --- Streaming near-dup: stream-static LSH bucket join ----------------------


def neardup_stream(
    docs: DataFrame,
    static_bands: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    n_bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """Incremental near-dup detection: each arriving doc's MinHash
    bands join a STATIC signature-band table (built once from the
    existing corpus via engine.ops.dedup.minhash_bands and persisted
    to storage), emitting (id, matched_id) candidate matches.

    Stream-static inner equi-join on (band, bh): per micro-batch Spark
    joins only the new docs' bands against the static table — never
    corpus x corpus — which is exactly the "check new crawl against
    the index" shape a continuously-ingesting 100-TB pipeline needs.
    Matches are deduped across bands within the watermark (a doc pair
    colliding in 3 bands is one match). The static side is read fresh
    per micro-batch, so compacting/re-bucketing the band table between
    batches is picked up automatically.
    """
    from engine.ops.dedup import minhash_bands

    bands = minhash_bands(
        docs.withWatermark("warc_ts", WATERMARK),
        id_col=id_col,
        text_col=text_col,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
        carry_cols=("warc_ts",),
    ).withColumnRenamed("doc_id", "_new_id")
    matches = (
        bands.join(
            static_bands.withColumnRenamed("doc_id", "matched_id"),
            ["band", "bh"],
        )
        .filter(F.col("_new_id") != F.col("matched_id"))
        .select(F.col("_new_id").alias(id_col), "matched_id", "warc_ts")
    )
    # one row per (new doc, matched doc) regardless of band-collision
    # multiplicity; dedup state bounded by the carried watermark
    return matches.dropDuplicatesWithinWatermark([id_col, "matched_id"])


# --- D6: exactly-once sink ---------------------------------------------------


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


def start_neardup_stream(
    spark: SparkSession,
    input_dir: str,
    static_bands: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Continuous near-dup screening: new pages' matches against the
    static LSH band index land as idempotent per-batch parquet (same
    batch_id-keyed overwrite discipline as the ingest sink). Pages
    with no text are dropped up front — every empty doc shares the
    empty minhash signature, so without the filter they would all
    "match" each other."""
    pages = read_pages_stream(spark, input_dir).filter(
        F.length(F.coalesce(F.col("text"), F.lit(""))) > 0
    )
    matches = neardup_stream(pages, static_bands)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}"
        )

    w = (
        matches.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def start_incremental_neardup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Incremental (stream-vs-stream) near-dup screening with the same
    per-batch idempotent parquet sink as the static variant."""
    pages = read_pages_stream(spark, input_dir).filter(
        F.length(F.coalesce(F.col("text"), F.lit(""))) > 0
    )
    matches = incremental_neardup_stream(pages)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select("url", "matched_id").distinct().write.mode(
            "overwrite"
        ).parquet(f"{output_dir}/batch_id={batch_id}")

    w = (
        matches.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
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
