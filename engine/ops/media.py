"""Spark plumbing for multimodal columns (driver brief: decode /
feature-extract / resize / frame-sample over opaque binary columns).

All crossings are Arrow-batched mapInPandas; payload bytes never
survive past the feature projection (same blob-hygiene rule as the
html column in the extraction pipeline). At 10^12 scale: repartition
by size bucket before the decode stage (payloads span KB..GB), and
the frame fan-out emits rows incrementally per batch — no
array-of-frames materialization.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from engine.partitioning import size_bucket_col

MEDIA_FEATURES_DDL = (
    "media_id long, kind string, n_bytes long, width int, height int, "
    "sample_rate int, n_samples long, ahash long, px_mean int, "
    "decode_status string"
)

FRAMES_DDL = "media_id long, frame_ix int, frame_energy long"


def _features_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    from engine.kernels.multimodal import media_features

    cols = [
        "media_id",
        "kind",
        "n_bytes",
        "width",
        "height",
        "sample_rate",
        "n_samples",
        "ahash",
        "px_mean",
        "decode_status",
    ]
    for pdf in batches:
        rows = []
        for mid, raw in zip(pdf["media_id"], pdf["payload"]):
            f = media_features(bytes(raw) if raw is not None else None)
            rows.append(
                (
                    int(mid),
                    f["kind"],
                    f["n_bytes"],
                    f["width"],
                    f["height"],
                    f["sample_rate"],
                    f["n_samples"],
                    f["ahash"],
                    f["px_mean"],
                    f["decode_status"],
                )
            )
        # nullable ints are built as pandas Int64 DIRECTLY from the
        # python values: a DataFrame-from-tuples constructor would
        # make int+None columns float64 and silently round 64-bit
        # hashes before any astype could run
        nullable = {"width", "height", "sample_rate", "n_samples", "ahash", "px_mean"}
        data = {}
        for j, c in enumerate(cols):
            vals = [r[j] for r in rows]
            data[c] = (
                pd.array(vals, dtype="Int64") if c in nullable else vals
            )
        yield pd.DataFrame(data, columns=cols)


def build_media_features(media: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """media(media_id, payload, ...) -> typed feature table. One
    size-bucketed shuffle, then map-only decode."""
    df = media.select("media_id", "payload")
    if num_partitions:
        df = df.repartition(
            num_partitions, size_bucket_col("payload"), F.col("media_id")
        )
    return df.mapInPandas(_features_batches, MEDIA_FEATURES_DDL)


def _frames_batches(hop: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from engine.kernels.multimodal import (
            decode_wav_samples,
            frame_sample,
            sniff_media,
        )

        for pdf in batches:
            out = []
            for mid, raw in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(raw) if raw is not None else b""
                if sniff_media(raw) != "wav":
                    continue
                try:
                    samples = decode_wav_samples(raw)
                except Exception:
                    continue
                for ix, energy in frame_sample(samples, hop):
                    out.append((int(mid), ix, energy))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_ix", "frame_energy"]
            )

    return fn


def build_media_frames(media: DataFrame, hop: int = 256) -> DataFrame:
    """1 audio payload -> N frame rows (the frame-sampling fan-out)."""
    return media.select("media_id", "payload").mapInPandas(
        _frames_batches(hop), FRAMES_DDL
    )


def image_neardup_pairs(
    features: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 8,
    bits_per_band: int = 8,
    hot_bucket_cap: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Perceptual near-dup image pairs from the feature table:
    (media_a < media_b, hamming) over the 64-bit average-hash.

    Reuses the text SimHash banding core (engine/ops/dedup.
    hash64_candidate_pairs) — an equi-join on exact-matching bit
    slices, never all-pairs — which is the published discipline for
    hamming-space dedup at crawl scale. The ahash column is the
    MSB-flip signed encoding from the decode kernel; XOR hamming is
    invariant under a mask shared by both sides, so no undo is needed.

    Defaults keep the pigeonhole recall GUARANTEE: max_hamming <
    n_bands (6 < 8) means any qualifying pair shares at least one
    exact 8-bit band, so candidate generation misses nothing. Raising
    max_hamming to n_bands or beyond turns the op approximate —
    disclose the recall trade-off if you do.

    Input is build_media_features output (or any frame with media_id
    + ahash); rows without a decoded hash (non-images, stub codecs,
    decode errors) are screened out here, so callers can pass the
    whole feature table. hot_bucket_cap defaults off: a degenerate
    bucket for IMAGES means thousands of near-identical assets
    (tracking pixels, logos) — usually exactly what the caller wants
    paired; pass a cap when that fan-out must be bounded."""
    from engine.ops.dedup import hash64_candidate_pairs

    hashed = features.filter(F.col("ahash").isNotNull()).select(
        F.col("media_id").alias("doc_id"), F.col("ahash").alias("sim")
    )
    pairs = hash64_candidate_pairs(
        hashed,
        max_hamming=max_hamming,
        n_bands=n_bands,
        bits_per_band=bits_per_band,
        hot_bucket_cap=hot_bucket_cap,
        stats=stats,
    )
    return pairs.select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        "hamming",
    )


def media_hash_bands(
    features: DataFrame, n_bands: int = 8, bits_per_band: int = 8
) -> DataFrame:
    """Persistable perceptual-hash band index (media_id, sim, band,
    bh) from a feature table — the media twin of the text corpus's
    persisted minhash_bands. Band parameters MUST match the
    stream/query side (engine/streaming.media_neardup_stream and
    image_neardup_pairs default to the same 8x8 layout, keeping the
    pigeonhole guarantee for max_hamming < 8). Screens to rows with a
    decoded ahash, so the whole feature table can be passed."""
    from engine.ops.dedup import hash64_bands

    hashed = features.filter(F.col("ahash").isNotNull()).select(
        F.col("media_id").alias("doc_id"), F.col("ahash").alias("sim")
    )
    return hash64_bands(hashed, n_bands=n_bands, bits_per_band=bits_per_band)
