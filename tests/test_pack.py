"""Sequence packing (engine/ops/pack.py): greedy fixed-budget example
assembly — pinned against a pure-Python reference packer, partition-
invariant, budget-respecting, metadata-only."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.ops.pack import pack_sequences, packing_stats


def _synth_chunks(spark, n_docs=40, seed=7):
    """Deterministic synthetic chunk metadata: docs with 1-8 chunks,
    token counts 5-190 incl. some oversize (>BUDGET=128) chunks."""
    rows = []
    for d in range(n_docs):
        n = 1 + (d * seed) % 8
        for c in range(n):
            nt = 5 + ((d * 31 + c * 17 + seed) % 38) * 5  # 5..190
            rows.append((f"doc{d:03d}", c, "w " * nt, nt))
    return spark.createDataFrame(rows, "url string, chunk_ix int, chunk_text string, nt long")


def _reference_pack(rows, budget, n_shards):
    """Pure-Python oracle: same shard hash (taken from Spark), same
    sort, same greedy rule."""
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    out = {}
    for shard, items in by_shard.items():
        items.sort(key=lambda r: (r["doc_key"], r["chunk_ix"]))
        ex, seq, used = 0, 0, 0
        for r in items:
            nt = r["n_tokens"]
            if nt > budget:
                if seq > 0:
                    ex += 1
                out[(r["doc_key"], r["chunk_ix"])] = (shard, ex, 0, True)
                ex += 1
                seq, used = 0, 0
                continue
            if used + nt > budget:
                ex += 1
                seq, used = 0, 0
            out[(r["doc_key"], r["chunk_ix"])] = (shard, ex, seq, False)
            seq += 1
            used += nt
    return out


BUDGET = 128


def test_pack_matches_reference(spark):
    chunks = _synth_chunks(spark)
    got = pack_sequences(chunks, BUDGET, n_shards=8, token_col="nt").collect()
    ref = _reference_pack([r.asDict() for r in got], BUDGET, 8)
    assert len(got) == chunks.count()  # every chunk assigned exactly once
    for r in got:
        assert ref[(r["doc_key"], r["chunk_ix"])] == (
            r["shard"],
            r["example_ix"],
            r["seq_ix"],
            r["oversize"],
        )


def test_pack_budget_and_contiguity(spark):
    chunks = _synth_chunks(spark)
    got = pack_sequences(chunks, BUDGET, n_shards=8, token_col="nt")
    per_ex = (
        got.groupBy("shard", "example_ix")
        .agg(
            F.sum("n_tokens").alias("tok"),
            F.max(F.col("oversize").cast("int")).alias("over"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    for r in per_ex:
        if r["over"]:
            assert r["n"] == 1 and r["tok"] > BUDGET  # oversize = singleton
        else:
            assert r["tok"] <= BUDGET
    # doc contiguity: within an example, a doc's chunks are consecutive
    # in chunk_ix order (greedy walks (doc, chunk_ix) sorted input)
    rows = got.orderBy("shard", "example_ix", "seq_ix").collect()
    prev = {}
    for r in rows:
        key = (r["shard"], r["example_ix"], r["doc_key"])
        if key in prev:
            assert r["chunk_ix"] == prev[key] + 1
        prev[key] = r["chunk_ix"]


def test_pack_partition_invariant(spark):
    chunks = _synth_chunks(spark)
    a = pack_sequences(chunks.repartition(13), BUDGET, n_shards=8, token_col="nt")
    b = pack_sequences(chunks.coalesce(1), BUDGET, n_shards=8, token_col="nt")
    cols = ["doc_key", "chunk_ix"]
    pa = a.orderBy(*cols).toPandas()
    pb = b.orderBy(*cols).toPandas()
    assert pa.equals(pb)


def test_pack_text_col_token_count(spark):
    """Without token_col the count comes from whitespace split of the
    text column — same expression as q27 ("w " * nt splits to nt+1)."""
    chunks = _synth_chunks(spark)
    got = pack_sequences(chunks, BUDGET, n_shards=4)
    expect = chunks.select(
        "url", "chunk_ix", F.size(F.split("chunk_text", " ")).cast("long").alias("e")
    )
    j = got.join(
        expect, (got.doc_key == expect.url) & (got.chunk_ix == expect.chunk_ix)
    )
    assert j.filter(F.col("n_tokens") != F.col("e")).count() == 0


def test_packing_stats(spark):
    rows = [("d0", 0, 60), ("d0", 1, 60), ("d1", 0, 200), ("d2", 0, 50)]
    chunks = spark.createDataFrame(rows, "url string, chunk_ix int, nt long")
    got = pack_sequences(chunks, BUDGET, n_shards=1, token_col="nt")
    s = packing_stats(got, BUDGET).collect()[0]
    assert s["n_chunks"] == 4
    assert s["n_oversize"] == 1
    assert s["total_tokens"] == 370
    # non-oversize examples: [60,60] (120/128) and [50] (50/128)
    assert s["n_examples"] == 3
    assert s["fill_rate"] == round(170 / (2 * 128), 4)


def test_pack_validation(spark):
    chunks = _synth_chunks(spark, n_docs=2)
    with pytest.raises(ValueError):
        pack_sequences(chunks, 0, token_col="nt")
    with pytest.raises(ValueError):
        pack_sequences(chunks, 128, n_shards=0, token_col="nt")


def test_pack_documents_integration(spark):
    """End-to-end over the shared sf0.001 documents table (each doc as
    a single chunk): deterministic pinned stats."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(0).alias("chunk_ix"),
        F.col("text").alias("chunk_text"),
    )
    got = pack_sequences(docs, 512, n_shards=16)
    s = packing_stats(got, 512).collect()[0]
    assert s["n_chunks"] == docs.count()
    assert s["n_examples"] > 0 and s["fill_rate"] > 0.5
    # determinism pin: same stats on re-run with different shuffle
    s2 = packing_stats(
        pack_sequences(docs.repartition(5), 512, n_shards=16), 512
    ).collect()[0]
    assert s == s2


def test_packing_stats_all_oversize_no_crash(spark):
    """Round-3 review regression: every chunk exceeding the budget
    used to crash packing_stats with an ANSI DIVIDE_BY_ZERO; fill_rate
    is NULL when there are no non-oversize examples."""
    chunks = spark.createDataFrame(
        [(f"d{i}", 0, "w " * 300, 300) for i in range(5)],
        "url string, chunk_ix int, chunk_text string, nt long",
    )
    s = packing_stats(pack_sequences(chunks, BUDGET, n_shards=2, token_col="nt"), BUDGET).collect()[0]
    assert s["n_examples"] == 5 and s["n_oversize"] == 5
    assert s["fill_rate"] is None

    empty = chunks.filter("chunk_ix < 0")
    s2 = packing_stats(pack_sequences(empty, BUDGET, n_shards=2, token_col="nt"), BUDGET).collect()[0]
    assert s2["n_examples"] == 0 and s2["fill_rate"] is None
