"""Re-crawl delta flow: changed-doc detection (engine/pipeline.
changed_docs), replace-by-key upsert for derived chunk/vector tables
(engine/pipeline.upsert_replace_by_key), and the ingest job's
--delta-against wiring — downstream embed cost must scale with the
CHANGE RATE of a re-crawl, not the crawl size (SURVEY.md §3.3)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from engine.pipeline import changed_docs, upsert_replace_by_key


def _ex(spark, rows):
    """(url, sha, pbucket) extracted-shaped frames for changed_docs."""
    return spark.createDataFrame(
        rows, "url string, content_sha256 string, pbucket int"
    )


def test_changed_docs_classification(spark):
    """new url -> in delta; changed content -> in delta; unchanged ->
    dropped; content REVERTED to any older capture's hash -> dropped
    (re-embedding a version the store already holds is not new work)."""
    prior = _ex(
        spark,
        [
            ("http://a.com/x", "h1", 3),
            ("http://a.com/x", "h5", 3),  # older capture of the same url
            ("http://b.com/y", "h2", 7),
        ],
    )
    incoming = _ex(
        spark,
        [
            ("http://a.com/x", "h5", 3),  # reverted to an old version
            ("http://b.com/y", "h3", 7),  # changed
            ("http://c.com/z", "h4", 9),  # brand new
        ],
    )
    got = sorted(r["url"] for r in changed_docs(prior, incoming).collect())
    assert got == ["http://b.com/y", "http://c.com/z"]


def test_changed_docs_without_bucket_columns(spark):
    prior = spark.createDataFrame(
        [("u1", "h1")], "url string, content_sha256 string"
    )
    incoming = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2")], "url string, content_sha256 string"
    )
    assert [r["url"] for r in changed_docs(prior, incoming).collect()] == ["u2"]


def _chunks(spark, rows):
    return spark.createDataFrame(
        rows, "url string, chunk_ix int, chunk_text string, pbucket int"
    )


def _files_under(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getmtime(p)
    return out


def test_upsert_replace_by_key(spark, tmp_path):
    """u1's chunk set SHRINKS (3 rows -> 1); u2 (in replace_keys but
    with zero incoming rows — a changed doc that now yields no chunks)
    loses its stale rows and its emptied partition is deleted; u3's
    partition is never touched (mtime-pinned)."""
    from engine.io.tables import write_table

    table = str(tmp_path / "chunks")
    prior = _chunks(
        spark,
        [
            ("u1", 0, "a", 1),
            ("u1", 1, "b", 1),
            ("u1", 2, "c", 1),
            ("u2", 0, "d", 2),
            ("u2", 1, "e", 2),
            ("u3", 0, "f", 3),
            ("u3", 1, "g", 3),
        ],
    )
    write_table(prior, table, partition_by=["pbucket"])
    untouched = {
        p: t for p, t in _files_under(table).items() if "pbucket=3" in p
    }
    assert untouched

    incoming = _chunks(spark, [("u1", 0, "A", 1)])
    replace_keys = spark.createDataFrame(
        [("u1", 1), ("u2", 2)], "url string, pbucket int"
    )
    res = upsert_replace_by_key(
        spark, table, incoming, replace_keys=replace_keys
    )
    assert res["affected_partitions"] == 2
    assert res["emptied_partitions"] == 1
    assert not os.path.exists(os.path.join(table, "pbucket=2"))

    got = sorted(
        (r["url"], r["chunk_ix"], r["chunk_text"])
        for r in spark.read.parquet(table).collect()
    )
    assert got == [("u1", 0, "A"), ("u3", 0, "f"), ("u3", 1, "g")]
    now = _files_under(table)
    assert {p: t for p, t in now.items() if p in untouched} == untouched


def test_upsert_replace_by_key_idempotent(spark, tmp_path):
    from engine.io.tables import write_table

    table = str(tmp_path / "chunks")
    write_table(
        _chunks(spark, [("u1", 0, "a", 1), ("u2", 0, "b", 2)]),
        table,
        partition_by=["pbucket"],
    )
    incoming = _chunks(spark, [("u1", 0, "A", 1), ("u1", 1, "B", 1)])
    upsert_replace_by_key(spark, table, incoming)
    once = sorted(map(tuple, spark.read.parquet(table).collect()))
    upsert_replace_by_key(spark, table, incoming)  # crash-redo
    assert sorted(map(tuple, spark.read.parquet(table).collect())) == once


def _pages(spark, rows):
    """Bodies are padded to a real paragraph: the main-content
    extractor drops short boilerplate-density fragments."""

    def html(body: bytes) -> bytes:
        para = (
            b"<p>" + body + b". The quick brown fox jumps over the lazy "
            b"dog while the river keeps flowing past the old stone "
            b"bridge. Every page needs enough running text for the "
            b"density heuristics to keep its main content.</p>"
        )
        return b"<html><body><article>" + para + b"</article></body></html>"

    return spark.createDataFrame(
        [(u, ts, html(body), None, "en") for u, ts, body in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def _ingest_args(output: str, **over):
    import argparse

    d = dict(
        output=output,
        run_id="r1",
        master="local[8]",
        partitions=4,
        commit_batches=1,
        shuffle_partitions=8,
    )
    d.update(over)
    return argparse.Namespace(**d)


def test_ingest_delta_against_embeds_only_changed_docs(spark, tmp_path):
    """End-to-end: a second crawl run with --delta-against the first
    run's extracted table chunks+embeds ONLY the changed/new docs —
    the delta run's chunks table contains exactly those urls, each
    chunk with its embedding,
    and the job reports docs_changed / docs_unchanged_skipped."""
    import jobs.ingest as ingest

    t1 = dt.datetime(2026, 3, 1, 12)
    t2 = dt.datetime(2026, 4, 1, 12)
    crawl1 = _pages(
        spark,
        [
            ("http://h%d.example.com/p" % i, t1, b"stable body %d" % i)
            for i in range(5)
        ],
    )
    in1 = str(tmp_path / "crawl1")
    crawl1.write.parquet(in1)
    out1 = str(tmp_path / "out1")
    ingest.run(_ingest_args(out1, input=in1))

    # re-crawl: 3 unchanged bodies, 2 changed, 1 new url
    crawl2 = _pages(
        spark,
        [("http://h%d.example.com/p" % i, t2, b"stable body %d" % i) for i in range(3)]
        + [
            ("http://h3.example.com/p", t2, b"CHANGED body 3"),
            ("http://h4.example.com/p", t2, b"CHANGED body 4"),
            ("http://new.example.com/p", t2, b"fresh page"),
        ],
    )
    in2 = str(tmp_path / "crawl2")
    crawl2.write.parquet(in2)
    out2 = str(tmp_path / "out2")
    res = ingest.run(
        _ingest_args(
            out2, input=in2, delta_against=os.path.join(out1, "extracted")
        )
    )
    assert res["docs_changed"] == 3
    assert res["docs_unchanged_skipped"] == 3
    # extracted still holds the FULL re-crawl (latest-capture corpus)…
    assert spark.read.parquet(f"{out2}/extracted").count() == 6
    # …but chunks hold exactly the delta, each with its vector
    want = {
        "http://h3.example.com/p",
        "http://h4.example.com/p",
        "http://new.example.com/p",
    }
    chunks = spark.read.parquet(f"{out2}/chunks")
    assert {r["url"] for r in chunks.select("url").distinct().collect()} == want
    assert chunks.filter(F.col("embedding").isNull()).count() == 0
    assert not os.path.exists(os.path.join(out2, "vectors"))


def test_ingest_delta_all_unchanged_writes_no_chunk_tables(spark, tmp_path):
    """An all-unchanged re-crawl must not create a chunks table at all
    (nothing to embed), and must still commit its batches."""
    import jobs.ingest as ingest

    t1 = dt.datetime(2026, 3, 1, 12)
    t2 = dt.datetime(2026, 4, 1, 12)
    rows1 = [
        ("http://h%d.example.com/p" % i, t1, b"same body %d" % i)
        for i in range(4)
    ]
    in1, in2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    _pages(spark, rows1).write.parquet(in1)
    _pages(
        spark, [(u, t2, b) for u, _ts, b in rows1]
    ).write.parquet(in2)

    out1 = str(tmp_path / "o1")
    ingest.run(_ingest_args(out1, input=in1))
    out2 = str(tmp_path / "o2")
    res = ingest.run(
        _ingest_args(
            out2, input=in2, delta_against=os.path.join(out1, "extracted")
        )
    )
    assert res["docs_changed"] == 0 and res["docs_unchanged_skipped"] == 4
    assert res["batches_committed"] == 1
    assert not os.path.exists(os.path.join(out2, "chunks"))


def test_delta_then_replace_upsert_equals_full_reingest(spark, tmp_path):
    """The maintained-corpus flow: fold the delta run's chunks into the
    prior chunks table with upsert_replace_by_key (replace set = the
    changed urls) — the result must equal chunking the merged corpus
    from scratch."""
    import jobs.ingest as ingest

    t1 = dt.datetime(2026, 3, 1, 12)
    t2 = dt.datetime(2026, 4, 1, 12)
    rows1 = [
        ("http://h%d.example.com/p" % i, t1, b"first body %d" % i)
        for i in range(5)
    ]
    rows2 = [
        ("http://h%d.example.com/p" % i, t2, b"first body %d" % i)
        for i in range(3)
    ] + [
        ("http://h3.example.com/p", t2, b"rewritten body"),
        ("http://h9.example.com/p", t2, b"new page body"),
    ]
    in1, in2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    _pages(spark, rows1).write.parquet(in1)
    _pages(spark, rows2).write.parquet(in2)

    out1 = str(tmp_path / "o1")
    ingest.run(_ingest_args(out1, input=in1))
    out2 = str(tmp_path / "o2")
    ingest.run(
        _ingest_args(
            out2, input=in2, delta_against=os.path.join(out1, "extracted")
        )
    )

    delta_chunks = spark.read.parquet(f"{out2}/chunks")
    replace_keys = delta_chunks.select("url", "pbucket").distinct()
    upsert_replace_by_key(
        spark, f"{out1}/chunks", delta_chunks, replace_keys=replace_keys
    )

    # ground truth: single-shot ingest of the merged latest corpus
    merged_rows = {u: (ts, b) for u, ts, b in rows1}
    merged_rows.update({u: (ts, b) for u, ts, b in rows2})
    in_full = str(tmp_path / "cfull")
    _pages(
        spark, [(u, ts, b) for u, (ts, b) in merged_rows.items()]
    ).write.parquet(in_full)
    out_full = str(tmp_path / "ofull")
    ingest.run(_ingest_args(out_full, input=in_full))

    a = (
        spark.read.parquet(f"{out1}/chunks")
        .select("url", "chunk_ix", "chunk_text", "chunk_sha256")
    )
    b = (
        spark.read.parquet(f"{out_full}/chunks")
        .select("url", "chunk_ix", "chunk_text", "chunk_sha256")
    )
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_changed_docs_null_hash_is_null_safe(spark):
    """An extraction-error doc (null content_sha256) that errored in
    BOTH crawls is UNCHANGED — equi-join NULL semantics must not
    re-flag the corpus's standing error population on every re-crawl."""
    prior = _ex(spark, [("u_err", None, 1), ("u_ok", "h1", 2)])
    incoming = _ex(
        spark,
        [
            ("u_err", None, 1),   # errored again -> unchanged
            ("u_ok", None, 2),    # was fine, now errors -> changed
            ("u_new", None, 3),   # new url erroring -> changed
        ],
    )
    got = sorted(r["url"] for r in changed_docs(prior, incoming).collect())
    assert got == ["u_new", "u_ok"]


def test_changed_docs_explicit_buckets(spark):
    """Passing the caller-known bucket list must prune identically to
    the derived one."""
    prior = _ex(spark, [("u1", "h1", 1), ("u2", "h2", 2)])
    incoming = _ex(spark, [("u1", "h9", 1)])
    derived = {r["url"] for r in changed_docs(prior, incoming).collect()}
    explicit = {
        r["url"]
        for r in changed_docs(prior, incoming, buckets=[1]).collect()
    }
    assert derived == explicit == {"u1"}


def test_upsert_replace_requires_bucket_in_replace_keys(spark, tmp_path):
    """A keys-only replace set cannot be pruned into the rewrite — the
    op must refuse rather than silently leave stale rows."""
    import pytest

    from engine.io.tables import write_table

    table = str(tmp_path / "chunks")
    write_table(
        _chunks(spark, [("u1", 0, "a", 1)]), table, partition_by=["pbucket"]
    )
    keys_only = spark.createDataFrame([("u1",)], "url string")
    with pytest.raises(ValueError, match="pbucket"):
        upsert_replace_by_key(
            spark, table, _chunks(spark, []), replace_keys=keys_only
        )


def test_upsert_replace_covers_incoming_keys_outside_replace_set(
    spark, tmp_path
):
    """A key with incoming rows but absent from replace_keys is still
    replaced (old and new chunk sets must never coexist), keeping the
    upsert idempotent unconditionally."""
    from engine.io.tables import write_table

    table = str(tmp_path / "chunks")
    write_table(
        _chunks(spark, [("u1", 0, "old", 1)]), table, partition_by=["pbucket"]
    )
    incoming = _chunks(spark, [("u1", 0, "new", 1)])
    empty_keys = spark.createDataFrame([], "url string, pbucket int")
    upsert_replace_by_key(spark, table, incoming, replace_keys=empty_keys)
    once = sorted(map(tuple, spark.read.parquet(table).collect()))
    assert [r[2] for r in once] == ["new"]
    upsert_replace_by_key(spark, table, incoming, replace_keys=empty_keys)
    assert sorted(map(tuple, spark.read.parquet(table).collect())) == once


def test_ingest_delta_batch_of_chunkless_changed_docs_survives(
    spark, tmp_path
):
    """A delta batch whose only changed docs chunk to NOTHING (content
    replaced by boilerplate the extractor strips) must not crash the
    vector sink — the chunks dir exists but holds zero files."""
    import jobs.ingest as ingest

    t1 = dt.datetime(2026, 3, 1, 12)
    t2 = dt.datetime(2026, 4, 1, 12)
    in1, in2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    _pages(
        spark, [("http://h0.example.com/p", t1, b"original real body")]
    ).write.parquet(in1)
    # re-crawl: the page collapses to a stub the extractor strips to ""
    spark.createDataFrame(
        [
            (
                "http://h0.example.com/p",
                t2,
                b"<html><body><p>x</p></body></html>",
                None,
                "en",
            )
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.parquet(in2)

    out1 = str(tmp_path / "o1")
    ingest.run(_ingest_args(out1, input=in1))
    out2 = str(tmp_path / "o2")
    res = ingest.run(
        _ingest_args(
            out2, input=in2, delta_against=os.path.join(out1, "extracted")
        )
    )
    assert res["docs_changed"] == 1
    assert res["batches_committed"] == 1
    chunks_dir = os.path.join(out2, "chunks")
    assert os.path.isdir(chunks_dir)
    assert not [
        f for _, _, fs in os.walk(chunks_dir) for f in fs if f.endswith(".parquet")
    ]
