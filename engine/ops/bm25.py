"""BM25 keyword search over the documents table.

The lexical complement to the engine's embedding vectors
(engine/io/vector_sink.py): corpus curation and inspection constantly
need "find the docs about X" (probe-set construction for
decontamination, boilerplate hunting, quality spot-checks), and at
10^12 docs that must be a pruned scan, not a grep. Scoring is
Robertson/Spärck Jones BM25 with the Lucene idf variant:
ln(1 + (N - df + 0.5)/(df + 0.5)) — non-negative for any df.

Two shapes, same scoring spec:

  bm25_topk        one-shot query -> top-k. TWO map passes over the
                   corpus (a scalar stats agg, then a filter to the
                   query's terms) — the corpus never shuffles; every
                   groupBy after the term filter is HIT-sized. For
                   ad-hoc queries over a table that has no index.
  build/search     the persistent path: postings written ONCE,
                   PARTITIONED BY a term-hash bucket, so each query
                   reads ~|terms|/n_buckets of the index via partition
                   pruning (the physical layout IS the index).
                   Queries then cost hit-sized joins only.

Tokenization is pinned to the engine's LM tokenizer
(engine/ops/lm.lm_tokens: lowercase, \\p{L}\\p{N} runs) so LM, token
stats, and search agree on what a term is. All expressions are JVM
codegen; no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from engine.ops.lm import lm_tokens

K1 = 1.2
B = 0.75
TERM_BUCKETS = 64


class Bm25IndexFormatError(RuntimeError):
    """Raised when an on-disk BM25 index predates the batched
    postings layout (postings/batch=<i> dirs + n_batches commit
    pointer in stats). Search FALLS BACK to the flat layout
    read-only; updates cannot be made crash-idempotent against a
    flat dir (redo would append duplicates), so update raises this."""


def _read_stats(spark: SparkSession, path: str):
    """Stats row + format version. Returns (row, is_batched).

    Back-compat (ADVICE r4): indexes written by the pre-batch layout
    have no n_batches column and keep postings flat under
    {path}/postings; detect that instead of raising KeyError deep in
    the reader."""
    stats = spark.read.parquet(f"{path}/stats")
    return stats.collect()[0], "n_batches" in stats.columns


def _tokenize(terms: str | list[str]) -> list[str]:
    """Normalize a query into pinned-tokenizer terms (dedup, sorted
    for deterministic plans)."""
    if isinstance(terms, str):
        import re

        # [\W_]+ ≈ the JVM tokenizer's [^\p{L}\p{N}]+ (\w minus '_')
        terms = [t for t in re.split(r"[\W_]+", terms.lower()) if t]
    return sorted({t.lower() for t in terms if t})


def _idf(n_docs: float):
    return F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )


def _tf_norm(avgdl: float, k1: float, b: float):
    return (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
    )


def bm25_topk(
    docs: DataFrame,
    query: str | list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k docs for `query` by BM25, no prebuilt index.

    Returns (id_col, bm25) with bm25 rounded to 4dp (the repo's
    oracle-comparison discipline), ordered score DESC then id ASC.

    Plan: one scalar agg for (N, avgdl); one map-side array filter
    keeps only query-term occurrences before anything explodes, so
    the exploded row count is the number of HITS, not tokens; tf/df
    aggregations and the scoring join are all hit-sized. TakeOrdered
    top-k — no full sort."""
    terms = _tokenize(query)
    if not terms:
        raise ValueError("empty query")
    toked = docs.select(
        F.col(id_col),
        lm_tokens(text_col).alias("_toks"),
    ).withColumn("dl", F.size("_toks"))
    row = toked.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = float(row["n"] or 0), float(row["avgdl"] or 0.0)
    if not n_docs or not avgdl:
        raise ValueError("empty corpus")

    term_arr = F.array(*[F.lit(t) for t in terms])
    hits = toked.select(
        id_col,
        "dl",
        F.explode(
            F.filter("_toks", lambda t: F.array_contains(term_arr, t))
        ).alias("term"),
    )
    tf = hits.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .select(
            id_col,
            (_idf(n_docs) * _tf_norm(avgdl, k1, b)).alias("_s"),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("_s"), 4).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


def _batch_postings(docs, path, text_col, id_col, n_buckets, batch_id):
    """One batch's postings -> {path}/postings/batch={batch_id},
    partitionBy bucket, mode OVERWRITE (re-running the same batch id
    replaces, never duplicates). Returns the tokenized df for the
    caller's stats agg."""
    toked = docs.select(
        F.col(id_col).alias("doc"), lm_tokens(text_col).alias("_toks")
    ).withColumn("dl", F.size("_toks"))
    postings = (
        toked.select("doc", "dl", F.explode("_toks").alias("term"))
        .groupBy("term", "doc")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings/batch={batch_id}"
    )
    return toked


def _write_stats(spark, path, n_docs, avgdl, n_buckets, n_batches):
    spark.createDataFrame(
        [(n_docs, avgdl, n_buckets, n_batches)],
        "n_docs long, avgdl double, n_buckets int, n_batches int",
    ).write.mode("overwrite").parquet(f"{path}/stats")


def build_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = TERM_BUCKETS,
) -> dict:
    """Write the persistent BM25 index: postings (term, doc, tf, dl)
    PARTITIONED BY pmod(xxhash64(term), n_buckets) — a query's terms
    prune to their buckets' directories, so search reads
    ~|terms|/n_buckets of the index — plus a one-row stats table
    (N, avgdl, n_batches). One explode + one groupBy over the corpus
    (the word-count shape, map-side combinable); df is NOT
    materialized — it is hit-sized at query time.

    Layout: postings live under batch=<i> subdirs; the stats row's
    n_batches is the COMMIT POINTER — search reads exactly the
    committed batch dirs, so a half-landed update is invisible until
    its stats commit (see update_bm25_index)."""
    spark = docs.sparkSession
    toked = _batch_postings(docs, path, text_col, id_col, n_buckets, 0)
    row = toked.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(row["n_docs"]), float(row["avgdl"] or 0.0)
    _write_stats(spark, path, n_docs, avgdl, n_buckets, 1)
    return {"n_docs": n_docs, "avgdl": avgdl}


def update_bm25_index(
    docs_new: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Add a NEW batch's postings to an existing index — the
    index-maintenance twin of the vector sink's delta path: a crawl
    batch costs one explode+groupBy over the BATCH, never a rebuild
    over the corpus.

    Exactness contract (pinned in tests/test_bm25.py): because df is
    derived from the postings at query time and the stats update is
    the exact running mean, an index built as build(A) + update(B)
    scores IDENTICALLY to build(A ∪ B). The caller owns novelty
    ACROSS batches — re-adding a doc id in a LATER batch would double
    its postings (screen re-crawls through pipeline.changed_docs
    first, the same contract the vector-index delta path states).

    Crash safety (ADVICE r3): the batch writes to its OWN
    batch=<n_batches> subdir in overwrite mode, and only the final
    stats overwrite — which bumps n_batches — makes it visible to
    bm25_search. A crash anywhere before that commit leaves the index
    serving the previous state, and RE-RUNNING the update replaces
    the half-landed dir instead of appending a duplicate (the redo
    that silently doubled df/scores under the old flat-append
    layout). Uses the bucket count the index was built with (read
    from stats — a mismatched layout would split a term across
    directories)."""
    spark = docs_new.sparkSession
    st, batched = _read_stats(spark, path)
    if not batched:
        raise Bm25IndexFormatError(
            f"BM25 index at {path} uses the legacy flat postings "
            "layout (no n_batches commit pointer); incremental update "
            "cannot be crash-idempotent against it — rebuild with "
            "build_bm25_index (search still reads the old layout)"
        )
    n_buckets = int(st["n_buckets"])
    n0, avg0 = int(st["n_docs"]), float(st["avgdl"])
    batch_id = int(st["n_batches"])
    toked = _batch_postings(
        docs_new, path, text_col, id_col, n_buckets, batch_id
    )
    batch = toked.agg(
        F.count(F.lit(1)).alias("k"), F.sum("dl").alias("dl_sum")
    ).collect()[0]
    k, dl_sum = int(batch["k"]), int(batch["dl_sum"] or 0)
    n1 = n0 + k
    avg1 = (n0 * avg0 + dl_sum) / n1 if n1 else 0.0
    # the COMMIT: stats overwrite last, bumping the batch pointer
    _write_stats(spark, path, n1, avg1, n_buckets, batch_id + 1)
    return {"n_docs": n1, "avgdl": avg1, "added": k}


def bm25_search(
    spark: SparkSession,
    path: str,
    query: str | list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k over a build_bm25_index index. Reads only the COMMITTED
    batch dirs (stats' n_batches pointer — a half-landed update is
    invisible); the bucket filter prunes the scan to the query terms'
    partitions; everything after the term filter is hit-sized."""
    terms = _tokenize(query)
    if not terms:
        raise ValueError("empty query")
    st, batched = _read_stats(spark, path)
    n_docs, avgdl = float(st["n_docs"]), float(st["avgdl"])
    n_buckets = int(st["n_buckets"])
    n_batches = int(st["n_batches"]) if batched else 0
    term_df = spark.createDataFrame([(t,) for t in terms], "term string")
    buckets = sorted(
        r["b"]
        for r in term_df.select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("b")
        )
        .distinct()
        .collect()
    )
    if batched:
        scan = spark.read.option("basePath", f"{path}/postings").parquet(
            *[f"{path}/postings/batch={i}" for i in range(n_batches)]
        )
    else:  # legacy flat layout: read-only fallback (ADVICE r4)
        scan = spark.read.parquet(f"{path}/postings")
    post = (
        scan
        .filter(F.col("bucket").isin(buckets))  # partition-pruned scan
        .filter(F.col("term").isin(terms))
    )
    df_tbl = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        post.join(F.broadcast(df_tbl), "term")
        .select("doc", (_idf(n_docs) * _tf_norm(avgdl, k1, b)).alias("_s"))
        .groupBy("doc")
        .agg(F.round(F.sum("_s"), 4).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc")).limit(k)
