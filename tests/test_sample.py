"""Deterministic sampling ops (engine/ops/sample.py)."""

from __future__ import annotations

import pytest

from engine.ops.sample import hash_sample

SF_01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_01}/documents.parquet").select(
        "doc_id", "lang"
    )


def test_hash_sample_deterministic_and_sized(spark, docs):
    a = {r["doc_id"] for r in hash_sample(docs, 0.3).collect()}
    b = {r["doc_id"] for r in hash_sample(docs, 0.3).collect()}
    assert a == b  # rerun == same rows, no RNG
    n = docs.count()
    assert abs(len(a) - 0.3 * n) <= 0.1 * n  # binomial tolerance


def test_hash_sample_nested_is_subset(spark, docs):
    """fraction monotonicity: the 10% sample is a subset of the 30%
    sample under the same salt — the property that makes staged
    down-sampling reproducible."""
    small = {r["doc_id"] for r in hash_sample(docs, 0.1).collect()}
    big = {r["doc_id"] for r in hash_sample(docs, 0.3).collect()}
    assert small <= big
    # different salt decorrelates
    other = {r["doc_id"] for r in hash_sample(docs, 0.1, salt="v2").collect()}
    assert other != small


def test_hash_sample_partitioning_invariant(spark, docs):
    one = {r["doc_id"] for r in hash_sample(docs, 0.25).collect()}
    many = {
        r["doc_id"]
        for r in hash_sample(docs.repartition(17, "lang"), 0.25).collect()
    }
    assert one == many


def test_fraction_validation(spark, docs):
    with pytest.raises(ValueError):
        hash_sample(docs, 1.5)
