"""Trainable BPE tokenizer: corpus-sampled training, distributed apply.

The packing stage sizes training examples in tokens; a regex
token count (q27/q33) approximates what a real subword tokenizer
would produce. This op closes that gap with byte-pair encoding
(Sennrich et al. 2016): merges trained on THIS corpus, applied as a
map-only pass.

Scale shape (the published practice, not a shortcut): tokenizers are
trained on a bounded SAMPLE — training state is a word-frequency
table plus O(vocab) merge ranks, inherently driver-sized — while
ENCODING is the corpus-scale work. So:

    train_bpe    one filter + one groupBy over the deterministic
                 hash-sample (engine/ops/sample discipline) to get
                 word frequencies; the merge loop runs driver-side on
                 that table (O(sample) per merge, corpus never moves)
    bpe_encode   map-only mapInPandas with the merge ranks in the UDF
                 closure — the GPT-2-style rank-greedy merge, one
                 Python pass per Arrow batch, no shuffle, no state
    save_bpe /   merges persist as a parquet table (rank, left,
    load_bpe     right) — the model travels with the corpus

Determinism: pre-tokenization is a fixed regex (lowercased word /
punctuation runs), initial symbols are characters with an end-of-word
marker, and merge ties break lexicographically — same sample, same
merges, any partitioning. Encoding of a word not seen in training
still works (BPE's point): it just merges as far as its trained
pairs allow.
"""

from __future__ import annotations

import re
from collections import Counter


from pyspark.sql import DataFrame, SparkSession, functions as F

EOW = "</w>"
_PRETOK_RE = re.compile(r"[a-z0-9]+|[^a-z0-9\s]", re.ASCII)

MERGES_DDL = "rank int, left string, right string"


def pretokenize(text: str) -> list[str]:
    """Deterministic word stream: lowercase, ASCII word runs or single
    non-space symbols. Fixed spec — changing it invalidates models."""
    return _PRETOK_RE.findall((text or "").lower())


def _word_symbols(word: str) -> tuple[str, ...]:
    return tuple(word[:-1]) + (word[-1] + EOW,)


def _train_merges(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE merge loop over a word-frequency table (pure
    Python, deterministic: max by (count, pair) with lexicographic
    tie-break inverted so ties pick the SMALLEST pair)."""
    vocab: dict[tuple[str, ...], int] = {
        _word_symbols(w): c for w, c in word_freqs if w
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        best_count = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == best_count)
        if best_count < 2:
            break  # nothing left worth merging
        merges.append(best)
        a, b = best
        ab = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def train_bpe(
    docs: DataFrame,
    n_merges: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_docs: int = 2000,
) -> list[tuple[str, str]]:
    """Train merge rules on a deterministic hash-sample of the corpus.

    The sample filter is the engine's partition-invariant hash
    Bernoulli (same discipline as engine/ops/sample): reproducible
    across runs and cluster sizes. Word frequencies come back from ONE
    explode+groupBy over the sample — the only distributed work."""
    from engine.ops.sample import hash_sample

    n = docs.count()
    frac = min(1.0, sample_docs / max(n, 1))
    # one implementation, one place (the kmeans.py rule): hash_sample's
    # 2^30 buckets also keep tiny fractions representable — an inline
    # 1e6-bucket copy floored to an EMPTY sample past ~2e9 docs
    # (review r3)
    sampled = hash_sample(
        docs.withColumn(id_col, F.col(id_col).cast("string")),
        frac,
        id_col=id_col,
        salt="bpe-train",
    )

    @F.pandas_udf("array<string>")
    def pretok_udf(s):  # type: ignore[no-untyped-def]
        return s.map(pretokenize)

    freqs = (
        sampled.select(F.explode(pretok_udf(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    word_freqs = sorted(((r["w"], r["c"]) for r in freqs))
    return _train_merges(word_freqs, n_merges)


def save_bpe(
    spark: SparkSession, merges: list[tuple[str, str]], path: str
) -> None:
    spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)], MERGES_DDL
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_bpe(spark: SparkSession, path: str) -> list[tuple[str, str]]:
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["left"], r["right"]) for r in rows]


def encode_word(
    word: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """Rank-greedy BPE encode of one pre-token (the GPT-2 algorithm):
    repeatedly merge the lowest-rank adjacent pair."""
    syms = list(_word_symbols(word))
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def encode_text(text: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    out: list[str] = []
    for w in pretokenize(text):
        out.extend(encode_word(w, ranks))
    return out


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    count_only: bool = False,
) -> DataFrame:
    """Map-only apply: merge ranks ride the UDF closure (O(vocab)
    broadcast-by-closure, like the IVF codebook in q35); one Python
    pass per Arrow batch; zero shuffle. count_only emits just
    `n_bpe_tokens` — the packing stages' input — without
    materializing token arrays corpus-wide."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    if count_only:

        @F.pandas_udf("long")
        def count_udf(s):  # noqa: ANN001 — scalar pandas UDF
            # encode_word caches per distinct pre-token within a batch:
            # Zipf means a handful of words dominate every batch
            cache: dict[str, int] = {}

            def n_tokens(t: str) -> int:
                total = 0
                for w in pretokenize(t):
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = len(encode_word(w, ranks))
                    total += got
                return total

            return s.map(n_tokens).astype("int64")

        return df.withColumn("n_bpe_tokens", count_udf(F.col(text_col)))

    @F.pandas_udf("array<string>")
    def encode_udf(s):  # noqa: ANN001 — scalar pandas UDF
        cache: dict[str, list[str]] = {}

        def enc(t: str) -> list[str]:
            out: list[str] = []
            for w in pretokenize(t):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = encode_word(w, ranks)
                out.extend(got)
            return out

        return s.map(enc)

    return df.withColumn(out_col, encode_udf(F.col(text_col)))
