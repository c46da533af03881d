"""Sequence packing: assemble chunks into fixed-token-budget training
examples (the last batch-assembly step of an LLM pretraining data
pipeline — SURVEY §2 training-data extensions).

Semantics (deterministic, engine-independent):

  * every chunk is assigned to exactly one shard by
    ``pmod(xxhash64(doc key), n_shards)`` — all chunks of a document
    land in the SAME shard, so examples never interleave documents
    from different shards and the assignment is a pure function of
    the data (reproducible across runs / partitionings / cluster
    sizes, like engine/ops/sample.py).
  * within a shard, chunks are sorted by (doc key, chunk_ix) and
    packed greedily in that order (first-fit-in-order — the standard
    pretraining packing discipline, which preserves document
    contiguity): a running example accumulates chunks until adding
    the next one would exceed ``budget`` tokens, then a new example
    starts.
  * a single chunk longer than the budget becomes its own example
    with ``oversize = true`` (truncation is the trainer's decision,
    not the packer's).

100-TB shape: packing runs on CHUNK METADATA ONLY — the caller's
frame is projected to (doc key, chunk_ix, n_tokens) before the
shuffle, so chunk text never moves; assignments join back to the
text by (doc key, chunk_ix) afterwards. One hash shuffle on `shard`
co-locates each shard's metadata, then applyInPandas packs each
shard independently with O(rows) work and O(1) packing state.
`n_shards` bounds per-task group size (shards ≈ 10-100× cluster
cores at scale); shards are hash-balanced over documents, so skew
only arises from a single pathological document, which degrades to
linear work, not quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PACK_DDL = (
    "shard int, example_ix long, seq_ix int, "
    "doc_key string, chunk_ix int, n_tokens long, oversize boolean"
)


def whitespace_token_count(col) -> "F.Column":
    """The engine's standard cheap token count (same expression as
    q27_token_stats): single-space split, JVM-side, codegen-friendly."""
    return F.size(F.split(col, " ")).cast("long")


def _pack_shard_fn(budget: int):
    import pandas as pd

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["doc_key", "chunk_ix"], kind="mergesort")
        shard = int(pdf["shard"].iloc[0]) if len(pdf) else 0
        ex_ix, seq_ix, used = 0, 0, 0
        ex_col, seq_col, over_col = [], [], []
        for nt in pdf["n_tokens"].astype("int64"):
            nt = int(nt)
            if nt > budget:
                # oversize chunk: close any open example, emit singleton
                if seq_ix > 0:
                    ex_ix += 1
                ex_col.append(ex_ix)
                seq_col.append(0)
                over_col.append(True)
                ex_ix += 1
                seq_ix, used = 0, 0
                continue
            if used + nt > budget:
                ex_ix += 1
                seq_ix, used = 0, 0
            ex_col.append(ex_ix)
            seq_col.append(seq_ix)
            over_col.append(False)
            seq_ix += 1
            used += nt
        return pd.DataFrame(
            {
                "shard": shard,
                "example_ix": pd.array(ex_col, dtype="int64"),
                "seq_ix": pd.array(seq_col, dtype="int32"),
                "doc_key": pdf["doc_key"].values,
                "chunk_ix": pdf["chunk_ix"].astype("int32").values,
                "n_tokens": pdf["n_tokens"].astype("int64").values,
                "oversize": pd.array(over_col, dtype="boolean"),
            }
        )

    return pack


def pack_sequences(
    chunks: DataFrame,
    budget: int,
    n_shards: int = 64,
    doc_col: str = "url",
    chunk_ix_col: str = "chunk_ix",
    token_col: str | None = None,
    text_col: str = "chunk_text",
) -> DataFrame:
    """Assign every chunk to a (shard, example_ix, seq_ix) training
    slot under `budget` tokens per example. Returns PACK_DDL rows —
    metadata only; join back on (doc_key, chunk_ix) for text.

    If `token_col` is None the count is computed from `text_col` with
    whitespace_token_count (projected BEFORE the shuffle, so only the
    count crosses the exchange, never the text)."""
    if budget <= 0:
        raise ValueError(f"budget {budget} must be positive")
    if n_shards <= 0:
        raise ValueError(f"n_shards {n_shards} must be positive")
    ntok = (
        F.col(token_col).cast("long")
        if token_col
        else whitespace_token_count(F.col(text_col))
    )
    cols = [
        F.col(doc_col).cast("string").alias("doc_key"),
        F.col(chunk_ix_col).cast("int").alias("chunk_ix"),
        ntok.alias("n_tokens"),
        F.pmod(F.xxhash64(F.col(doc_col).cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
    ]
    meta = chunks.select(*cols)
    return meta.groupBy("shard").applyInPandas(_pack_shard_fn(budget), PACK_DDL)


def packing_stats(assignments: DataFrame, budget: int) -> DataFrame:
    """One-row packing efficiency summary: examples, chunks, fill rate
    (sum tokens over non-oversize examples / examples*budget), and the
    oversize count. Single agg over the (already small) metadata."""
    per_ex = assignments.groupBy("shard", "example_ix").agg(
        F.sum("n_tokens").alias("ex_tokens"),
        F.count(F.lit(1)).alias("ex_chunks"),
        F.max(F.col("oversize").cast("int")).alias("is_oversize"),
    )
    return per_ex.agg(
        F.count(F.lit(1)).alias("n_examples"),
        F.sum("ex_chunks").alias("n_chunks"),
        F.sum("ex_tokens").alias("total_tokens"),
        F.sum("is_oversize").alias("n_oversize"),
        # try_divide: NULL (not an ANSI DIVIDE_BY_ZERO crash) when every
        # example is an oversize singleton or assignments is empty
        F.round(
            F.try_divide(
                F.sum(
                    F.when(
                        F.col("is_oversize") == 0, F.col("ex_tokens")
                    ).otherwise(0)
                ),
                F.sum(F.when(F.col("is_oversize") == 0, 1).otherwise(0))
                * F.lit(float(budget)),
            ),
            4,
        ).alias("fill_rate"),
    )


def assemble_examples(
    assignments: DataFrame,
    chunks: DataFrame,
    doc_col: str = "url",
    chunk_ix_col: str = "chunk_ix",
    text_col: str = "chunk_text",
    sep: str = "\n",
) -> DataFrame:
    """Materialize packed training examples: join the metadata-only
    pack_sequences output back onto the chunk text and concatenate
    each example's chunks in seq_ix order.

    Output: (example_id string, shard, example_ix, n_seqs, n_tokens,
    oversize, text). example_id is a stable key (shard/example_ix)
    suitable for export sharding
    (engine/io/export.export_jsonl).

    Scale shapes: ONE equi-join on (doc_key, chunk_ix) brings text to
    assignments (both sides shuffle on the same key; text crosses the
    exchange exactly once), then ONE groupBy per example with the
    order-by folded into JVM expressions — collect_list of
    (seq_ix, text) structs, array_sort (sorts on the leading int
    field), transform + concat_ws. No window, no Python."""
    asg = assignments.withColumnRenamed("doc_key", "_dk")
    txt = chunks.select(
        F.col(doc_col).cast("string").alias("_dk"),
        F.col(chunk_ix_col).cast("int").alias("chunk_ix"),
        F.col(text_col).alias("_txt"),
    )
    joined = asg.join(txt, ["_dk", "chunk_ix"])
    per_ex = joined.groupBy("shard", "example_ix").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.max(F.col("oversize").cast("int")).cast("boolean").alias("oversize"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("seq_ix"), F.col("_txt").alias("t")))
                ),
                lambda s: s["t"],
            ),
        ).alias("text"),
    )
    return per_ex.select(
        F.concat_ws(
            "/", F.col("shard").cast("string"), F.col("example_ix").cast("string")
        ).alias("example_id"),
        "shard",
        "example_ix",
        "n_seqs",
        "n_tokens",
        "oversize",
        "text",
    )
