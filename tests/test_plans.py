"""Physical-plan assertions (SURVEY.md §4): the scale properties the
engine depends on — column pruning, predicate pushdown into parquet,
broadcast of small sides, and the single-shuffle / fused-Arrow shape
of the extraction stage — are locked in here so a regression shows up
as a test failure, not as a 10x slowdown at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from engine.corpus import gen_pages_df

    path = str(tmp_path_factory.mktemp("plans") / "pages")
    gen_pages_df(spark, 200).write.mode("overwrite").parquet(path)
    return path


def test_metric_query_prunes_html(spark, pages_path):
    """A count/metric query over pages must never deserialize the
    TB-scale `html` column (SURVEY.md §4 column pruning)."""
    pages = spark.read.parquet(pages_path)
    metric = pages.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    p = plan(metric)
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("html" not in ln for ln in read_schema), p


def test_filter_pushdown_reaches_parquet(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    q = pages.filter(F.col("lang") == "en").select("url")
    p = plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p, p


def test_small_dim_join_is_broadcast(spark):
    from engine.queries import REGISTRY

    fn, _ = REGISTRY["q03_broadcast_join"]
    p = plan(fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p


def test_extraction_stage_single_shuffle_single_arrow(spark, pages_path):
    """build_extracted = exactly ONE Exchange (the dedup agg's — with
    num_partitions set, the explicit url repartition is REUSED by the
    agg, never added to it) and ONE fused Arrow crossing."""
    from engine.pipeline import build_extracted

    pages = spark.read.parquet(pages_path)
    for kwargs in ({}, {"num_partitions": 4}):
        p = plan(build_extracted(pages, **kwargs))
        # formatted mode lists every node twice (tree + detail section)
        assert p.count("Exchange") == 2, (kwargs, p)
        assert p.count("ArrowEvalPython") == 2, (kwargs, p)


def test_manifest_antijoin_is_broadcast(spark, pages_path, tmp_path):
    """Resume anti-join against the done-manifest must broadcast the
    manifest side (it is tiny even at 10^12 rows)."""
    from engine import checkpoint
    from engine.pipeline import with_partition_key

    out = str(tmp_path / "out")
    checkpoint.mark_done(out, "r1", ["3", "7"])
    pages = with_partition_key(spark.read.parquet(pages_path))
    p = plan(checkpoint.filter_not_done(pages, out, "r1"))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p


def test_stale_chunk_keys_scan_reads_keys_only(spark, tmp_path):
    """The prior chunks table holds each chunk's text and embedding;
    the stale-key delete set needs only (url, chunk_ix), so its scan
    of that table must read neither column."""
    from engine.pipeline import stale_chunk_keys

    path = str(tmp_path / "chunks")
    spark.range(40).select(
        F.concat(F.lit("u"), F.col("id") % 8).alias("url"),
        F.col("id").cast("int").alias("chunk_ix"),
        F.concat(F.lit("text "), F.col("id")).alias("chunk_text"),
        F.array(F.col("id").cast("float")).alias("embedding"),
        (F.col("id") % 4).cast("int").alias("pbucket"),
    ).write.partitionBy("pbucket").parquet(path)
    new = spark.createDataFrame([("u1", 0)], "url string, chunk_ix int")
    changed = spark.createDataFrame([("u1", 1)], "url string, pbucket int")
    p = plan(stale_chunk_keys(spark.read.parquet(path), new, changed))
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema, p
    for ln in read_schema:
        assert "embedding" not in ln and "chunk_text" not in ln, p


def test_cosine_topk_broadcasts_queries(spark):
    from engine.queries import REGISTRY

    fn, _ = REGISTRY["q22_cosine_topk"]
    p = plan(fn(spark, SF_DIR))
    assert "Broadcast" in p, p


def test_salted_join_result_invariant_and_spreads_hot_key(spark):
    """B8: salting must (a) return exactly the plain join's rows,
    (b) join on the composite (key, _salt), (c) spread a hot key's
    rows across the salt range so no task carries the whole key."""
    from engine.partitioning import salt_col, salted_join

    # zipfian-ish: key 7 carries 75% of the big side
    big = spark.range(0, 2000).select(
        F.when(F.col("id") < 1500, F.lit(7))
        .otherwise(F.col("id") % 40)
        .alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    got = salted_join(big, small, on="k", salt_buckets=8)
    exp = big.join(small, "k").select(*got.columns)
    assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()
    p = plan(got)
    assert "_salt" in p, p  # composite join key survives to the plan
    # salt distribution of the hot key: max bucket well under the
    # unsalted single-bucket size (1500)
    dist = (
        big.filter(F.col("k") == 7)
        .groupBy(F.pmod(F.xxhash64("k", "v"), F.lit(8)).alias("s"))
        .count()
        .collect()
    )
    assert len(dist) == 8 and max(r["count"] for r in dist) < 400, dist


def test_ivf_assignment_is_map_only(spark):
    """q35's centroid assignment must be MAP-ONLY: a vectorized Arrow
    UDF against the broadcast codebook — no N x |centroids| crossJoin
    expansion, no assignment aggregation, no assignment window. The
    only Window in the plan is the final per-query top-k, and the only
    join is the broadcast of the 5 probe rows."""
    from engine.queries_extract import ALL

    fn, _ = ALL["q35_ann_ivf_topk"]
    p = plan(fn(spark, SF_DIR))
    assert "ArrowEvalPython" in p, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p
    import re

    # ONE Window node (listed twice: tree + detail section)
    assert len(re.findall(r"\bWindow\b", p)) <= 2, p
    assert "BroadcastHashJoin" in p, p


def test_approx_count_distinct_close_to_exact(spark):
    """B11: HLL approx distinct within 5% of exact on events.user_id
    (registry evidence moved here when x10 was folded; q34 keeps the
    exact-distinct oracle check)."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    row = ev.agg(
        F.approx_count_distinct("user_id").alias("a"),
        F.count_distinct("user_id").alias("e"),
    ).collect()[0]
    assert abs(row["a"] - row["e"]) <= max(1, 0.05 * row["e"]), row


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Bucketed tables (engine/io/tables.write_bucketed) must join on
    their bucket key WITHOUT an Exchange: the write paid the shuffle
    once, every later extracted⋈chunks join rides the scan's
    HashPartitioning. The unbucketed control join must show Exchanges
    — proving the assertion bites."""
    from engine.io.tables import read_bucketed, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 2000).select(
            F.concat(F.lit("u"), F.col("id")).alias("url"),
            (F.col("id") % 7).alias("n_chunks"),
        )
        b = spark.range(0, 4000).select(
            F.concat(F.lit("u"), (F.col("id") % 2000)).alias("url"),
            F.col("id").alias("chunk_ix"),
        )
        write_bucketed(a, "t_ex_b", ["url"], n_buckets=8, sort_cols=["url"])
        write_bucketed(b, "t_ch_b", ["url"], n_buckets=8, sort_cols=["url"])
        j = read_bucketed(spark, "t_ex_b").join(
            read_bucketed(spark, "t_ch_b"), "url"
        )
        p = plan(j)
        assert "Exchange" not in p, p
        assert j.count() == 4000

        control = a.join(b, "url")
        assert "Exchange" in plan(control)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_ex_b")
        spark.sql("DROP TABLE IF EXISTS t_ch_b")


def test_dynamic_partition_pruning_on_day_join(spark, tmp_path):
    """At 10^12 rows the pages table is laid out partitioned by day
    (SURVEY.md §4); a join against a filtered dim of days must prune
    fact partitions at RUNTIME (dynamic partition pruning), not scan
    them all. The plan must carry a dynamicpruning filter on `day`."""
    fact_path = str(tmp_path / "fact_days")
    days = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).cast("string").alias("day"),
    )
    days.write.mode("overwrite").partitionBy("day").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.range(0, 20).select(
        F.col("id").cast("string").alias("day"),
        (F.col("id") % 2 == 0).alias("keep"),
    )
    j = fact.join(F.broadcast(dim), "day").filter(F.col("keep"))
    p = plan(j)
    assert "dynamicpruning" in p.lower(), p


def test_lsh_candidate_join_is_hash_equi_join(spark):
    """The MinHash-LSH self-join must stay a hash/merge EQUI-join on
    (band, band_hash) — a regression to BroadcastNestedLoopJoin or
    CartesianProduct (e.g. someone moving the doc_a < doc_b predicate
    into the only equi-condition) is the difference between a bucketed
    join and all-pairs O(N^2) at 100 TB."""
    from engine.ops.dedup import minhash_candidate_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    p = plan(minhash_candidate_pairs(docs))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p


def test_pack_sequences_single_exchange(spark):
    """pack_sequences: exactly one hash Exchange (co-locating shard
    metadata for applyInPandas) and the shuffled payload is metadata
    only — the chunk text column never appears past the scan."""
    from engine.ops.pack import pack_sequences

    chunks = spark.createDataFrame(
        [(f"d{i}", j, "tok " * 20) for i in range(50) for j in range(3)],
        "url string, chunk_ix int, chunk_text string",
    )
    import re

    df = pack_sequences(chunks, 64, n_shards=8)
    p = plan(df)
    # formatted explain: node detail sections headed "(N) Exchange"
    sections = re.split(r"\n(?=\(\d+\) )", p)
    exchanges = [s for s in sections if re.match(r"\(\d+\) \w*Exchange\b", s)]
    assert len(exchanges) == 1, p
    assert "hashpartitioning(shard" in exchanges[0], p
    assert "chunk_text" not in exchanges[0], p


def test_chunk_over_unmaterialized_extract_single_arrow(spark, pages_path):
    """build_chunks over a NOT-yet-materialized build_extracted plan
    (streaming foreachBatch / chained queries) must run the extraction
    UDF exactly once: the error/empty screen is a null-out projection,
    not a Filter — a filter on UDF-derived columns splits into a
    second ArrowEvalPython that re-extracts every document."""
    from engine.pipeline import build_chunks, build_extracted

    pages = spark.read.parquet(pages_path)
    p = plan(build_chunks(build_extracted(pages)))
    # formatted mode lists every node twice (tree + detail section)
    assert p.count("ArrowEvalPython") == 2, p
    assert "Filter" not in p, p
