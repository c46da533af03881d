"""jobs/ingest.py computes each commit batch from one materialized
batch: it reads back none of the tables it writes, and it releases the
batch's cached blocks before the next batch starts."""

from __future__ import annotations

import datetime as dt
import os

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
