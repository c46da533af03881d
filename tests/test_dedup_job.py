"""engine/ops/dedup.py — the near-dup candidate-pair operators."""

from __future__ import annotations

from engine.ops.dedup import minhash_candidate_pairs

SF_01 = "/root/testdata/sf0.01"


def test_q45_q46_keep_former_x04_x05_pins(spark):
    """r4 split the rows-only x04_neardup_pairs into two ORACLE-
    BACKED entries; the sf0.01 pair counts must still equal the
    CORRECTNESS_r01/r02 values (25 minhash / 389 simhash) so the
    re-expression is observably the same operator."""
    from engine.queries_extract import ALL

    fn46, oracle46 = ALL["q46_minhash_pairs"]
    assert oracle46 is not None
    assert fn46(spark, SF_01).count() == 25
    fn45, oracle45 = ALL["q45_simhash_pairs"]
    assert oracle45 is not None
    assert fn45(spark, SF_01).count() == 389


def test_hot_bucket_cap_bounds_fanout_and_preserves_clusters(spark):
    """r2 verdict 'What's wrong #2': a degenerate (band, bh) bucket —
    here 60 identical boilerplate docs — must not go quadratic inside
    its key. With the cap, pair fan-out per hot bucket is linear
    (star-paired against the bucket minimum), connected-components
    clustering is unchanged, and pairs among NON-hot buckets are
    byte-identical to the uncapped run."""
    from engine.ops.graph import connected_components

    boiler = " ".join(f"nav{i} footer{i} menu{i}" for i in range(40))
    text_c = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    text_d = text_c + " tiny tail edit"
    rows = [(i, boiler) for i in range(60)]
    rows += [(100, text_c), (101, text_d)]  # a normal near-dup pair
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    stats: dict = {}
    capped = minhash_candidate_pairs(
        docs, hot_bucket_cap=16, stats=stats
    ).collect()
    assert stats["hot_buckets"] > 0
    uncapped = minhash_candidate_pairs(docs, hot_bucket_cap=None).collect()

    def hot(pairs):
        return {(r["doc_a"], r["doc_b"]) for r in pairs if r["doc_a"] < 100}

    def cold(pairs):
        return {(r["doc_a"], r["doc_b"]) for r in pairs if r["doc_a"] >= 100}

    # linear, not quadratic: 59 star pairs vs 60*59/2 = 1770
    assert hot(capped) == {(0, i) for i in range(1, 60)}
    assert len(hot(uncapped)) == 60 * 59 // 2
    # non-hot buckets unaffected
    assert cold(capped) == cold(uncapped) == {(100, 101)}

    # clustering over capped pairs is IDENTICAL to uncapped
    def clusters(pairs):
        df = spark.createDataFrame(
            [(a, b) for a, b in pairs], "src long, dst long"
        )
        return {
            (r["node"], r["component"])
            for r in connected_components(df).collect()
        }

    assert clusters(hot(capped) | cold(capped)) == clusters(
        hot(uncapped) | cold(uncapped)
    )


def test_simhash_hot_bucket_cap(spark):
    from engine.ops.dedup import simhash_candidate_pairs

    boiler = " ".join(f"nav{i} footer{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(40)], "doc_id long, text string"
    )
    stats: dict = {}
    capped = simhash_candidate_pairs(docs, hot_bucket_cap=8, stats=stats)
    assert stats["hot_buckets"] > 0
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    # identical docs: hamming 0, star-paired against the minimum
    assert got == {(0, i) for i in range(1, 40)}
