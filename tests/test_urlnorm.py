"""URL canonicalization (engine/ops/urlnorm.py)."""

from __future__ import annotations

import pytest

from engine.ops.urlnorm import canonical_url_col

CASES = [
    # fragment stripped
    ("http://a.com/p#frag", "http://a.com/p"),
    # host + scheme lowercased, path case preserved
    ("HTTP://WWW.Ex.COM/Path", "http://www.ex.com/Path"),
    # default ports dropped; non-default kept
    ("http://a.com:80/x", "http://a.com/x"),
    ("https://a.com:443/x", "https://a.com/x"),
    ("http://a.com:8080/x", "http://a.com:8080/x"),
    # duplicate slashes collapsed; empty path -> /
    ("http://a.com//x///y", "http://a.com/x/y"),
    ("http://a.com", "http://a.com/"),
    # tracking params dropped, survivors sorted, empty query dropped
    (
        "http://a.com/p?utm_source=tw&b=2&a=1&fbclid=XYZ",
        "http://a.com/p?a=1&b=2",
    ),
    ("http://a.com/p?utm_campaign=x", "http://a.com/p"),
    ("http://a.com/p?z=9&a=1", "http://a.com/p?a=1&z=9"),
    # ref selects content on some sites -> NOT stripped; utm_ prefix
    # must not catch non-utm params
    ("http://a.com/p?ref=hn&utm_medium=x", "http://a.com/p?ref=hn"),
    # trackers match case-insensitively and valueless (ADVICE r2)
    ("http://a.com/p?UTM_SOURCE=x&a=1", "http://a.com/p?a=1"),
    ("http://a.com/p?utm_source&a=1", "http://a.com/p?a=1"),
    ("http://a.com/p?FbClid=zz", "http://a.com/p"),
    # ...but a NON-tracker key merely prefixed by one survives
    ("http://a.com/p?gclids=1", "http://a.com/p?gclids=1"),
    # userinfo keeps its case; host is lowercased around it
    ("http://UsEr@Ex.COM/p", "http://UsEr@ex.com/p"),
    # non-http passthrough (trimmed only)
    ("  ftp://a.com/x  ", "ftp://a.com/x"),
    ("not a url", "not a url"),
]


@pytest.mark.parametrize("raw,want", CASES)
def test_canonical_url(spark, raw, want):
    df = spark.createDataFrame([(raw,)], "url string")
    got = df.select(canonical_url_col("url").alias("c")).collect()[0]["c"]
    assert got == want, (raw, got, want)


def test_recrawl_variants_collide(spark):
    """The dedup-key property: all capture variants of one resource
    canonicalize to the same key, distinct resources stay distinct."""
    variants = [
        "http://News.Site.com/story?id=7&utm_source=feed",
        "http://news.site.com:80/story?id=7#comments",
        "http://news.site.com//story?id=7",
    ]
    other = "http://news.site.com/story?id=8"
    df = spark.createDataFrame([(v,) for v in variants + [other]], "url string")
    got = [r["c"] for r in df.select(canonical_url_col("url").alias("c")).collect()]
    assert len(set(got[:3])) == 1
    assert got[3] != got[0]


def test_map_only_plan(spark):
    from tests.test_plans import plan

    df = spark.createDataFrame([("http://a.com/x",)], "url string")
    assert "Exchange" not in plan(df.select(canonical_url_col("url")))


def test_pipeline_canonical_urls_collapses_variants(spark, tmp_path):
    """jobs.ingest --canonical-urls: capture variants of one resource
    dedup to a single row keyed by the canonical url, and the latest
    capture still wins; without the flag every raw url keeps its row."""
    import datetime as dt

    import jobs.ingest as ingest
    from tests.test_delta import _ingest_args

    html_v1 = b"<html><body><p>" + b"old version text here. " * 30 + b"</p></body></html>"
    html_v2 = b"<html><body><p>" + b"new version text here. " * 30 + b"</p></body></html>"
    t1 = dt.datetime(2025, 1, 1)
    t2 = dt.datetime(2025, 6, 1)
    pages = spark.createDataFrame(
        [
            ("http://S.com/a?utm_source=x", t1, html_v1, None, "en"),
            ("http://s.com:80/a#frag", t2, html_v2, None, "en"),
            ("http://s.com/b", t1, html_v1, None, "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    inp = str(tmp_path / "pages")
    pages.write.parquet(inp)

    def ingested(name, **kw):
        out = tmp_path / name
        ingest.run(_ingest_args(str(out), input=inp, **kw))
        rows = spark.read.parquet(str(out / "extracted")).collect()
        return {r["url"]: r["text"] for r in rows}

    canon = ingested("canon", canonical_urls=True)
    assert set(canon) == {"http://s.com/a", "http://s.com/b"}
    assert "new version" in canon["http://s.com/a"]

    # default (raw-url key) keeps all three
    assert len(ingested("raw")) == 3


def test_canonicalization_is_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) — required for safe
    re-ingestion of already-canonicalized tables (--upsert-into over a
    --canonical-urls run must not shift any key)."""
    from pyspark.sql import functions as F

    raws = [c[0] for c in CASES] + [
        "https://User:Pw@Host.com:8443//a//b?z=1&utm_id=9&a=2#f",
        "http://h.com/?utm_source=x",
    ]
    df = spark.createDataFrame([(u,) for u in raws], "url string")
    once = df.select(canonical_url_col("url").alias("url"))
    twice = once.select(canonical_url_col("url").alias("url"))
    a = [r["url"] for r in once.collect()]
    b = [r["url"] for r in twice.collect()]
    assert a == b
