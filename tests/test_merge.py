"""Cross-run re-crawl merge (engine/pipeline.merge_latest) and input
schema validation (engine/io/validate.py)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from engine.corpus import gen_pages_df
from engine.io.validate import assert_pages_schema
from engine.pipeline import build_extracted, merge_latest


def test_merge_latest_equals_single_shot(spark):
    """Ingesting one crawl, then merging a second snapshot, must equal
    extracting the union in one shot — in any snapshot order."""
    pages = gen_pages_df(spark, 300, seed=42)
    # split captures into two "snapshots" by timestamp parity
    day = F.dayofmonth("warc_ts")
    snap1 = pages.filter(day % 2 == 0)
    snap2 = pages.filter(day % 2 == 1)

    one_shot = build_extracted(pages)
    ex1 = build_extracted(snap1)
    ex2 = build_extracted(snap2)
    merged = merge_latest(ex1, ex2)
    merged_rev = merge_latest(ex2, ex1)

    def key(df):
        return {
            r["url"]: (str(r["warc_ts"]), r["content_sha256"])
            for r in df.select("url", "warc_ts", "content_sha256").collect()
        }

    want = key(one_shot)
    assert key(merged) == want
    assert key(merged_rev) == want  # order-insensitive


def test_merge_latest_idempotent(spark):
    pages = gen_pages_df(spark, 120, seed=7)
    ex = build_extracted(pages)
    again = merge_latest(ex, ex)
    assert again.count() == ex.count()
    assert again.exceptAll(ex).isEmpty() and ex.exceptAll(again).isEmpty()


def _files_under(root):
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getmtime(p)
    return out


def test_upsert_latest_pruned_matches_unpruned_merge(spark, tmp_path):
    """In-place upsert == the unpruned merge_latest result, while
    partitions untouched by the incoming slice keep their exact files
    (mtime-pinned — the r2 verdict's 'a 1% re-crawl must not rewrite
    the whole table' objection)."""
    from engine.io.tables import write_table
    from engine.partitioning import with_write_partitions
    from engine.pipeline import merge_latest, upsert_latest

    table = str(tmp_path / "extracted")
    pages = gen_pages_df(spark, 400, seed=42)
    day = F.dayofmonth("warc_ts")
    prior_ex = with_write_partitions(build_extracted(pages.filter(day % 2 == 0)))
    write_table(prior_ex, table, partition_by=["pbucket"])

    incoming_all = with_write_partitions(
        build_extracted(pages.filter(day % 2 == 1))
    )
    in_buckets = sorted(
        r["pbucket"]
        for r in incoming_all.select("pbucket").distinct().collect()
    )[:3]
    incoming = incoming_all.filter(
        F.col("pbucket").isin(in_buckets)
    ).localCheckpoint(eager=True)

    prior_read = spark.read.parquet(table)
    expected = {
        r["url"]: (str(r["warc_ts"]), r["content_sha256"])
        for r in merge_latest(
            prior_read.drop("day", "pbucket"), incoming.drop("day", "pbucket")
        ).collect()
    }
    untouched = {
        p: t
        for p, t in _files_under(table).items()
        if not any(f"pbucket={b}/" in p or p.endswith(f"pbucket={b}") for b in in_buckets)
    }
    assert untouched  # the pruning claim needs something to pin

    res = upsert_latest(spark, table, incoming)
    assert res["affected_partitions"] > 0

    got = {
        r["url"]: (str(r["warc_ts"]), r["content_sha256"])
        for r in spark.read.parquet(table).collect()
    }
    assert got == expected
    # untouched partitions: identical file sets, untouched mtimes
    now = _files_under(table)
    assert {p: t for p, t in now.items() if p in untouched} == untouched
    for p in untouched:
        assert p in now


def test_upsert_latest_recapture_stays_in_its_bucket(spark, tmp_path):
    """A re-capture on a later day replaces the url's row inside the
    url's own bucket: the table keeps no day= level, only the incoming
    bucket is rewritten (one file), and the other bucket's file is
    untouched."""
    import datetime as dt
    import os

    from engine.io.tables import write_table
    from engine.partitioning import with_write_partitions
    from engine.pipeline import upsert_latest

    def pages_df(rows):
        return spark.createDataFrame(
            [(u, ts, b"<html><body><p>" + body + b"</p></body></html>", None, "en")
             for u, ts, body in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    table = str(tmp_path / "extracted")
    t1 = dt.datetime(2026, 1, 1, 12)
    t2 = dt.datetime(2026, 2, 2, 12)
    prior = with_write_partitions(
        build_extracted(
            pages_df(
                [
                    ("http://solo.example.com/x", t1, b"old capture body"),
                    ("http://other.example.org/y", t1, b"unrelated doc"),
                ]
            )
        )
    )
    write_table(prior, table, partition_by=["pbucket"])
    bucket = {r["url"]: r["pbucket"] for r in prior.collect()}
    solo = bucket["http://solo.example.com/x"]
    other = bucket["http://other.example.org/y"]
    assert solo != other
    other_files = _files_under(os.path.join(table, f"pbucket={other}"))

    incoming = with_write_partitions(
        build_extracted(
            pages_df([("http://solo.example.com/x", t2, b"new capture body")])
        )
    ).localCheckpoint(eager=True)

    res = upsert_latest(spark, table, incoming)
    assert res["affected_partitions"] == 1
    assert not [d for d in os.listdir(table) if d.startswith("day=")]
    assert len(_files_under(os.path.join(table, f"pbucket={solo}"))) == 1
    assert _files_under(os.path.join(table, f"pbucket={other}")) == other_files
    rows = {
        r["url"]: (str(r["warc_ts"]), r["day"])
        for r in spark.read.parquet(table).collect()
    }
    assert rows == {
        "http://solo.example.com/x": ("2026-02-02 12:00:00", "2026-02-02"),
        "http://other.example.org/y": ("2026-01-01 12:00:00", "2026-01-01"),
    }


def test_upsert_latest_idempotent(spark, tmp_path):
    from engine.io.tables import write_table
    from engine.partitioning import with_write_partitions
    from engine.pipeline import upsert_latest

    table = str(tmp_path / "extracted")
    pages = gen_pages_df(spark, 150, seed=7)
    day = F.dayofmonth("warc_ts")
    prior = with_write_partitions(build_extracted(pages.filter(day % 2 == 0)))
    write_table(prior, table, partition_by=["pbucket"])
    incoming = with_write_partitions(
        build_extracted(pages.filter(day % 2 == 1))
    ).localCheckpoint(eager=True)

    upsert_latest(spark, table, incoming)
    once = spark.read.parquet(table).localCheckpoint(eager=True)
    upsert_latest(spark, table, incoming)  # crash-redo: same inputs again
    twice = spark.read.parquet(table)
    assert once.count() == twice.count()
    assert once.exceptAll(twice).isEmpty() and twice.exceptAll(once).isEmpty()


def test_assert_pages_schema(spark):
    good = spark.createDataFrame(
        [("u", dt.datetime(2025, 1, 1), b"x", None, "en", 9)],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, extra int",  # extra columns are fine
    )
    assert assert_pages_schema(good) is good

    bad = spark.createDataFrame(
        [("u", "2025-01-01", 3)],
        "url string, warc_ts string, html int",
    )
    with pytest.raises(ValueError) as e:
        assert_pages_schema(bad)
    msg = str(e.value)
    assert "warc_ts" in msg and "html" in msg and "missing column 'text'" in msg
