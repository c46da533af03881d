"""Near-duplicate dedup operators, reusable over any (id, text) table.

Pipeline shape (SURVEY.md §2 LLM-ops):

    minhash_candidate_pairs      shingle -> minhash sig -> band hash ->
                                 bucket equi-join -> candidate pairs
    engine.ops.graph.dedup_clusters
                                 pairs -> connected components ->
                                 (doc_id, cluster_id, is_canonical)

Scale notes:
  * the LSH self-join is an equi-join on (band, band_hash) — bucketed,
    never all-pairs; a degenerate bucket (boilerplate-heavy corpora:
    thousands of docs sharing a band hash) would still go quadratic
    INSIDE its key, so buckets above `hot_bucket_cap` occupancy are
    star-paired instead (every member pairs with the bucket minimum):
    fan-out drops n(n-1)/2 -> n-1 per hot bucket while connected-
    components clustering over the RAW pairs is IDENTICAL (all members
    stay linked through the minimum). Pair-level consumers see fewer
    raw pairs from hot buckets — a disclosed precision/recall
    trade-off, not a silent drop. CAVEAT: if a verification filter
    (the simhash hamming filter) runs BETWEEN star-pairing and
    clustering, members whose only link was a star pair that fails
    verification end up in separate clusters — the cap + verify
    combination trades hot-bucket recall for boundedness.
  * at 10^12 docs the signature table is materialized to storage
    between runs; here `persist()` marks the same reuse seam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from engine.kernels import fingerprint as fp
from engine.udfs import minhash_udf

# Default occupancy above which an LSH bucket is star-paired instead of
# all-pairs self-joined. 256 docs sharing one band hash is already deep
# boilerplate territory (a genuine near-dup cluster of that size still
# clusters identically through the star); ordinary corpora never hit it.
HOT_BUCKET_CAP = 256


def _split_hot_buckets(
    bands: DataFrame, cap: int, stats: dict | None = None
) -> tuple[DataFrame, DataFrame]:
    """Split a band table into (cold, hot) by bucket occupancy.

    Occupancy is a window count over (band, bh) — the SAME hash
    partitioning the downstream self-join / star-pair groupBy require,
    so Catalyst reuses one exchange per consumer and the guard adds
    ZERO extra shuffles (a separate groupBy+broadcast formulation cost
    an aggregation stage plus a driver barrier per call — measured
    +0.5s on x04 at sf0.1). Hot buckets are structurally rare (each
    needs `cap` docs agreeing on a full band); a corpus where MOST
    buckets saturate is wall-to-wall boilerplate and should be
    screened before LSH, not joined.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bh")
    with_occ = bands.withColumn("_occ", F.count(F.lit(1)).over(w))
    cold_b = with_occ.filter(F.col("_occ") <= cap).drop("_occ")
    # the hot slice is tiny by construction — materialize it so the
    # star-pair groupBy+join don't each re-exchange the full table
    hot_b = (
        with_occ.filter(F.col("_occ") > cap)
        .drop("_occ")
        .localCheckpoint(eager=True)
    )
    if stats is not None:
        stats["hot_buckets"] = hot_b.select("band", "bh").distinct().count()
    return cold_b, hot_b


def _has_hot_bucket(bands: DataFrame, cap: int) -> bool:
    """Cheap guard probe: does ANY (band, bh) bucket exceed cap?

    One column-pruned partial+final count over the slim band table —
    ~0.2s at sf0.1 vs the ~0.8s of unconditionally wiring the split
    into the plan. Ordinary corpora answer False and take the plain
    self-join path untouched."""
    occ = bands.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("_occ"))
    return (occ.agg(F.max("_occ")).first()[0] or 0) > cap


def _star_pairs(hot_bands: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Hot-bucket members -> (min_member, member) star pairs.

    doc_a < doc_b holds by construction (doc_a is the bucket minimum).
    extra_cols are carried from both sides as <col>_a / <col>_b.
    """
    mins = hot_bands.groupBy("band", "bh").agg(
        F.min_by(F.struct("doc_id", *extra_cols), F.col("doc_id")).alias("_m")
    )
    joined = hot_bands.join(F.broadcast(mins), ["band", "bh"])
    return joined.filter(F.col("doc_id") != F.col("_m.doc_id")).select(
        F.col("_m.doc_id").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        *(F.col(f"_m.{c}").alias(f"{c}_a") for c in extra_cols),
        *(F.col(c).alias(f"{c}_b") for c in extra_cols),
    )


def minhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, text) -> the LSH band table (doc_id, band, bh).

    minhash_candidate_pairs self-joins it. n_bands x rows_per_band
    must not exceed the minhash signature length
    (engine.kernels.fingerprint.MINHASH_K).
    """
    if n_bands * rows_per_band > fp.MINHASH_K:
        raise ValueError(
            f"{n_bands}x{rows_per_band} exceeds MINHASH_K={fp.MINHASH_K}"
        )
    sigs = docs.select(
        F.col(id_col).alias("doc_id"),
        minhash_udf(F.col(text_col)).alias("sig"),
    )
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("sig", 1 + rows_per_band * b, rows_per_band)
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_sig"),
    ).select("doc_id", "band", F.hash("band_sig").alias("bh"))


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    rows_per_band: int = 4,
    hot_bucket_cap: int | None = HOT_BUCKET_CAP,
    stats: dict | None = None,
) -> DataFrame:
    """(id, text) -> candidate near-dup pairs (doc_a < doc_b).

    Two docs collide iff they agree on ALL rows of at least one band —
    the standard S-curve trade-off: more bands = higher recall, wider
    bands = higher precision.

    Buckets with more than hot_bucket_cap members are star-paired
    (see module docstring): pair fan-out per bucket is linear, and
    downstream clustering is unaffected. None disables the guard.
    If `stats` (a dict) is passed, stats["hot_buckets"] records how
    many buckets tripped the cap (one extra bounded action).
    """
    bands = minhash_bands(docs, id_col, text_col, n_bands, rows_per_band)
    # both sides of the self-join read this subtree: localCheckpoint so
    # the minhash UDF runs ONCE per document, not twice, and the
    # materialized partitions release when this DF is GC'd (persist()
    # would leak cache entries across repeated per-session invocations;
    # at 10^12 scale the signature table is written to storage instead)
    bands = bands.localCheckpoint(eager=True)
    hot_pairs = None
    if hot_bucket_cap:
        if _has_hot_bucket(bands, hot_bucket_cap):
            bands, hot_b = _split_hot_buckets(bands, hot_bucket_cap, stats)
            hot_pairs = _star_pairs(hot_b)
        elif stats is not None:
            stats["hot_buckets"] = 0
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    if hot_pairs is not None:
        pairs = pairs.unionByName(hot_pairs)
    return pairs.distinct()


def simhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    n_bands: int = 4,
    bits_per_band: int = 16,
    hot_bucket_cap: int | None = HOT_BUCKET_CAP,
    stats: dict | None = None,
) -> DataFrame:
    """(id, text) -> near-dup pairs (doc_a < doc_b, hamming) whose
    64-bit SimHash fingerprints differ in <= max_hamming bits.

    Banding trick for hamming space: two hashes within max_hamming of
    each other very likely agree exactly on at least one of the
    n_bands bit slices (guaranteed when max_hamming < n_bands), so the
    self-join is an equi-join on (band, slice) — bucketed, never
    all-pairs — with the exact hamming filter applied to candidates.

    Buckets above hot_bucket_cap are star-paired like the minhash
    variant. One nuance specific to simhash: the hamming filter runs
    AFTER pairing, so in a hot bucket a member whose distance to the
    bucket minimum exceeds max_hamming loses its (possible) links to
    other members — a disclosed recall trade-off on pathological
    buckets only.
    """
    from engine.udfs import simhash_udf

    sh = docs.select(
        F.col(id_col).alias("doc_id"), simhash_udf(F.col(text_col)).alias("sim")
    )
    return hash64_candidate_pairs(
        sh,
        max_hamming=max_hamming,
        n_bands=n_bands,
        bits_per_band=bits_per_band,
        hot_bucket_cap=hot_bucket_cap,
        stats=stats,
    )


def hash64_bands(
    hashed: DataFrame, n_bands: int = 4, bits_per_band: int = 16
) -> DataFrame:
    """(doc_id, sim) -> (doc_id, sim, band, bh) bit-slice band rows —
    the band table of the hamming-banding core, the hash64 twin of
    minhash_bands. All JVM bit ops, no Python."""
    if n_bands * bits_per_band > 64:
        raise ValueError("bands exceed the 64-bit fingerprint")
    mask = (1 << bits_per_band) - 1
    return hashed.select(
        "doc_id",
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sim"), bits_per_band * i)
                    .bitwiseAND(F.lit(mask))
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "bh"),
    )


def hash64_candidate_pairs(
    hashed: DataFrame,
    max_hamming: int = 8,
    n_bands: int = 4,
    bits_per_band: int = 16,
    hot_bucket_cap: int | None = HOT_BUCKET_CAP,
    stats: dict | None = None,
) -> DataFrame:
    """The hamming-banding core over ANY 64-bit fingerprint column:
    hashed(doc_id, sim) -> pairs (doc_a < doc_b, hamming <=
    max_hamming). simhash_candidate_pairs delegates here. Same
    hot-bucket star-pairing and recall disclosure as simhash."""
    bands = hash64_bands(hashed, n_bands, bits_per_band)
    # localCheckpoint: the self-join otherwise evaluates the simhash
    # UDF twice; auto-released on GC (persist would leak across calls)
    bands = bands.localCheckpoint(eager=True)
    hot_cand = None
    if hot_bucket_cap:
        if _has_hot_bucket(bands, hot_bucket_cap):
            bands, hot_b = _split_hot_buckets(bands, hot_bucket_cap, stats)
            hot_cand = _star_pairs(hot_b, extra_cols=("sim",))
        elif stats is not None:
            stats["hot_buckets"] = 0
    a = bands.alias("a")
    b = bands.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.sim").alias("sim_a"),
        F.col("b.sim").alias("sim_b"),
    )
    if hot_cand is not None:
        cand = cand.unionByName(hot_cand)
    cand = cand.distinct()
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
