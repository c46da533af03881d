"""jobs/ingest.py computes each commit batch from one materialized
batch: it reads back none of the tables it writes, it releases the
batch's cached blocks before the next batch starts, and it writes one
file per host bucket per table, refusing tables in the old
(day, pbucket) layout."""

from __future__ import annotations

import datetime as dt
import os
import re

import pytest

from tests.test_delta import _ingest_args, _pages


@pytest.fixture
def parquet_reads(monkeypatch):
    """Every path handed to DataFrameReader.parquet while the test runs."""
    from pyspark.sql.readwriter import DataFrameReader

    real = DataFrameReader.parquet
    paths: list[str] = []

    def spy(self, *p, **kw):
        paths.extend(p)
        return real(self, *p, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    return paths


def _under(path: str, root: str) -> bool:
    path, root = os.path.abspath(path), os.path.abspath(root)
    return os.path.commonpath([path, root]) == root


def test_ingest_reads_back_none_of_its_tables(spark, tmp_path, parquet_reads):
    """A fresh run reads only --input; a delta run that also maintains
    the vector index reads only --input, --delta-against and
    --prior-chunks. Neither reads anything under --output."""
    import jobs.ingest as ingest

    t1 = dt.datetime(2026, 3, 1, 12)
    t2 = dt.datetime(2026, 4, 1, 12)
    in1, in2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    _pages(
        spark,
        [("http://h%d.example.com/p" % i, t1, b"body %d" % i) for i in range(6)],
    ).write.parquet(in1)
    _pages(
        spark,
        [("http://h%d.example.com/p" % i, t2, b"body %d" % i) for i in range(4)]
        + [
            ("http://h4.example.com/p", t2, b"CHANGED body 4"),
            ("http://h5.example.com/p", t2, b"CHANGED body 5"),
            ("http://new.example.com/p", t2, b"fresh page"),
        ],
    ).write.parquet(in2)
    index = str(tmp_path / "index")

    out1 = str(tmp_path / "o1")
    del parquet_reads[:]
    ingest.run(
        _ingest_args(out1, input=in1, vector_index=index, commit_batches=2)
    )
    assert parquet_reads and set(parquet_reads) == {in1}

    out2 = str(tmp_path / "o2")
    prior = {
        "delta_against": os.path.join(out1, "extracted"),
        "prior_chunks": os.path.join(out1, "chunks"),
    }
    del parquet_reads[:]
    res = ingest.run(
        _ingest_args(
            out2,
            input=in2,
            vector_index=index,
            vector_gen=1,
            commit_batches=2,
            **prior,
        )
    )
    assert res["docs_changed"] == 3 and res["vectors_put"] > 0
    assert "vector_keys_deleted" in res
    assert set(parquet_reads) == {in2, *prior.values()}
    assert not [p for p in parquet_reads if _under(p, out2)]


def test_ingest_releases_every_cached_batch(spark, tmp_path):
    """Each batch unpersists what it cached: after a 4-batch run no new
    persistent RDD is left registered with the SparkContext."""
    import jobs.ingest as ingest

    def persistent_ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent_ids()
    res = ingest.run(
        _ingest_args(str(tmp_path / "out"), n_pages=60, commit_batches=4)
    )
    assert res["batches_committed"] == 4 and res["rows"] > 0
    assert persistent_ids() - before == set()


def test_bad_flag_combinations_fail_before_any_work(spark, tmp_path):
    """--vector-index --delta-against without --prior-chunks,
    --prior-chunks without --delta-against, and --prior-chunks without
    --vector-index stop the job before its first batch: nothing lands
    under --output and no request reaches the vector index."""
    import jobs.ingest as ingest

    t1 = dt.datetime(2026, 3, 1, 12)
    t2 = dt.datetime(2026, 4, 1, 12)
    in1, in2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    _pages(
        spark,
        [("http://h%d.example.com/p" % i, t1, b"body %d" % i) for i in range(3)],
    ).write.parquet(in1)
    _pages(
        spark,
        [("http://h%d.example.com/p" % i, t2, b"new body %d" % i) for i in range(3)],
    ).write.parquet(in2)
    prior = str(tmp_path / "prior")
    ingest.run(_ingest_args(prior, input=in1))

    bad = (
        {"delta_against": os.path.join(prior, "extracted")},
        {"prior_chunks": os.path.join(prior, "chunks")},
        {
            "delta_against": os.path.join(prior, "extracted"),
            "prior_chunks": os.path.join(prior, "chunks"),
            "vector_index": None,
        },
    )
    for i, over in enumerate(bad):
        out, index = tmp_path / f"o{i}", tmp_path / f"index{i}"
        kw = {"vector_index": str(index), **over}
        with pytest.raises(SystemExit):
            ingest.run(_ingest_args(str(out), input=in2, **kw))
        assert not (out / "extracted").exists(), over
        assert not [f for _, _, fs in os.walk(index) for f in fs], over


def _parquet_leaves(root: str) -> dict[str, int]:
    """Directory -> parquet file count, for every directory holding one."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            out[os.path.relpath(dirpath, root)] = n
    return out


def test_ingest_writes_one_file_per_bucket(spark, tmp_path):
    """A single-batch ingest writes one parquet file per pbucket=
    directory in each table: extracted has no day= level, every chunk
    carries its vector, and there is no separate vectors table."""
    import jobs.ingest as ingest

    out = str(tmp_path / "out")
    ingest.run(_ingest_args(out, n_pages=60, partitions=None, commit_batches=1))
    for table, level in (("extracted", ""), ("chunks", ""), ("lineage", "run_id=r1/")):
        leaves = _parquet_leaves(os.path.join(out, table))
        assert leaves and set(leaves.values()) == {1}, (table, leaves)
        assert all(re.fullmatch(level + r"pbucket=\d+", d) for d in leaves), leaves
    assert not os.path.exists(os.path.join(out, "vectors"))
    chunks = spark.read.parquet(os.path.join(out, "chunks"))
    assert {"chunk_text", "vec_id", "embedding", "label"} <= set(chunks.columns)
    assert chunks.filter("embedding IS NULL").count() == 0


def _old_layout_copy(spark, src: str, dst: str) -> None:
    """Rewrite an extracted table in the earlier (day, pbucket) layout."""
    spark.read.parquet(src).write.partitionBy("day", "pbucket").parquet(dst)


def test_resume_refuses_old_day_layout(spark, tmp_path):
    """--resume into an output whose extracted table has day= levels
    stops before any write: a bucket-grain overwrite would mix the two
    layouts in one table."""
    import jobs.ingest as ingest

    t1 = dt.datetime(2026, 3, 1, 12)
    in1 = str(tmp_path / "c1")
    _pages(
        spark,
        [("http://h%d.example.com/p" % i, t1, b"body %d" % i) for i in range(3)],
    ).write.parquet(in1)
    fresh = str(tmp_path / "fresh")
    ingest.run(_ingest_args(fresh, input=in1))
    out = str(tmp_path / "old")
    _old_layout_copy(spark, os.path.join(fresh, "extracted"), f"{out}/extracted")
    before = sorted(os.listdir(f"{out}/extracted"))

    with pytest.raises(SystemExit, match="day, pbucket"):
        ingest.run(_ingest_args(out, input=in1, resume=True))
    assert sorted(os.listdir(f"{out}/extracted")) == before
    assert sorted(os.listdir(out)) == ["extracted"]


def test_upsert_into_refuses_old_day_layout(spark, tmp_path):
    """--upsert-into an old-layout extracted table stops before any
    write, while the same table still serves as --delta-against."""
    import jobs.ingest as ingest

    t1 = dt.datetime(2026, 3, 1, 12)
    t2 = dt.datetime(2026, 4, 1, 12)
    in1, in2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    _pages(
        spark,
        [("http://h%d.example.com/p" % i, t1, b"body %d" % i) for i in range(3)],
    ).write.parquet(in1)
    _pages(
        spark,
        [("http://h%d.example.com/p" % i, t2, b"body %d" % i) for i in range(2)]
        + [("http://h2.example.com/p", t2, b"CHANGED body 2")],
    ).write.parquet(in2)
    fresh = str(tmp_path / "fresh")
    ingest.run(_ingest_args(fresh, input=in1))
    old = str(tmp_path / "old_extracted")
    _old_layout_copy(spark, os.path.join(fresh, "extracted"), old)
    before = sorted(os.listdir(old))

    out = tmp_path / "o_upsert"
    with pytest.raises(SystemExit, match="day, pbucket"):
        ingest.run(_ingest_args(str(out), input=in2, upsert_into=old))
    assert not out.exists()
    assert sorted(os.listdir(old)) == before

    res = ingest.run(
        _ingest_args(str(tmp_path / "o_delta"), input=in2, delta_against=old)
    )
    assert res["docs_changed"] == 1 and res["docs_unchanged_skipped"] == 2
