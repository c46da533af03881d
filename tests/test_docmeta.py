"""Doc-metadata kernel (engine/kernels/docmeta) + Spark wiring.

Pins the priority rules (og:title > <title> > first <h1>;
og:description > meta description), charset handling via the shared
decoder, whitespace collapse + length cap, tolerance on malformed
input, and the sink_vectors(meta_cols=...) carry-through.
"""

import json
import os

import pytest

from engine.kernels.docmeta import MAX_VALUE_CHARS, extract_docmeta


def _doc(head: str = "", body: str = "") -> bytes:
    return f"<html><head>{head}</head><body>{body}</body></html>".encode()


def test_priority_og_title_wins():
    m = extract_docmeta(
        _doc(
            '<meta property="og:title" content="OG Title">'
            "<title>Tag Title</title>",
            "<h1>H1 Title</h1>",
        )
    )
    assert m["title"] == "OG Title"


def test_title_tag_then_h1_fallback():
    assert (
        extract_docmeta(_doc("<title>Tag Title</title>", "<h1>H1</h1>"))["title"]
        == "Tag Title"
    )
    assert extract_docmeta(_doc("", "<h1>Only H1</h1>"))["title"] == "Only H1"
    assert extract_docmeta(_doc("", "<p>no title anywhere</p>"))["title"] is None


def test_description_and_canonical():
    m = extract_docmeta(
        _doc(
            '<meta name="description" content="meta desc">'
            '<meta property="og:description" content="og desc">'
            '<link rel="canonical" href="https://ex.com/real">'
        )
    )
    assert m["description"] == "og desc"  # og wins regardless of order
    assert m["canonical"] == "https://ex.com/real"
    m2 = extract_docmeta(_doc('<meta name="description" content="only meta">'))
    assert m2["description"] == "only meta"


def test_whitespace_collapse_entities_and_cap():
    m = extract_docmeta(
        _doc("<title>  A&amp;B \n\t  title  </title>")
    )
    assert m["title"] == "A&B title"
    long = extract_docmeta(_doc(f"<title>{'x' * 2000}</title>"))
    assert len(long["title"]) == MAX_VALUE_CHARS


def test_first_match_wins_within_tier():
    m = extract_docmeta(
        _doc("<title>First</title><title>Second</title>", "<h1>A</h1><h1>B</h1>")
    )
    assert m["title"] == "First"
    assert extract_docmeta(_doc("", "<h1>A</h1><h1>B</h1>"))["title"] == "A"


def test_charset_and_malformed_total():
    latin = "<html><head><meta charset=latin-1><title>café</title></head>".encode(
        "latin-1"
    )
    assert extract_docmeta(latin)["title"] == "café"
    assert extract_docmeta(None) == {
        "title": None, "description": None, "canonical": None,
        "robots": None, "noindex": False,
    }
    assert extract_docmeta(b"")["title"] is None
    # unclosed title is still recovered
    assert extract_docmeta(b"<title>dangling")["title"] == "dangling"
    # binary garbage never raises
    extract_docmeta(bytes(range(256)) * 4)


def test_h1_beyond_scan_window_is_ignored():
    pad = "<p>" + "z" * 70000 + "</p>"
    m = extract_docmeta(_doc("", pad + "<h1>Too deep</h1>"))
    assert m["title"] is None  # pinned bound, not a bug


@pytest.fixture(scope="module")
def spark():
    from engine.session import get_spark

    return get_spark(master="local[4]", shuffle_partitions=4)


def test_build_docmeta_and_sink_metadata(spark, tmp_path):
    from engine.io.vector_sink import sink_vectors
    from engine.pipeline import build_docmeta

    pages = spark.createDataFrame(
        [
            ("https://a.ex/1", _doc("<title>Doc One</title>")),
            ("https://a.ex/2", _doc('<meta property="og:title" content="Doc Two">')),
            ("https://a.ex/3", None),
        ],
        "url string, html binary",
    )
    meta = build_docmeta(pages)
    got = {r["url"]: r["title"] for r in meta.collect()}
    assert got == {
        "https://a.ex/1": "Doc One",
        "https://a.ex/2": "Doc Two",
        "https://a.ex/3": None,
    }
    # map-only: no exchange introduced by the metadata pass
    plan = meta._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    vectors = spark.createDataFrame(
        [
            ("https://a.ex/1", 0, [0.1, 0.2], 3, "Doc One"),
            ("https://a.ex/3", 0, [0.3, 0.4], 5, None),
        ],
        "url string, chunk_ix int, embedding array<float>, label int, title string",
    )
    idx = str(tmp_path / "idx")
    sink_vectors(vectors, "main", idx, meta_cols=["title"]).collect()
    entries = []
    root = os.path.join(idx, "main")
    for f in sorted(os.listdir(root)):
        with open(os.path.join(root, f)) as fh:
            entries += [json.loads(line) for line in fh]
    by_key = {e["key"]: e["metadata"] for e in entries}
    assert by_key["https://a.ex/1#0"] == {"label": 3, "title": "Doc One"}
    assert by_key["https://a.ex/3#0"] == {"label": 5}  # null omitted


def test_robots_noindex_detection():
    # absent directive = indexable
    m = extract_docmeta(_doc("<title>t</title>"))
    assert m["robots"] is None and m["noindex"] is False
    # plain noindex
    m = extract_docmeta(_doc('<meta name="robots" content="noindex">'))
    assert m["robots"] == "noindex" and m["noindex"] is True
    # token list with spacing + case
    m = extract_docmeta(
        _doc('<meta name="ROBOTS" content=" NoFollow , NOINDEX ">')
    )
    assert m["noindex"] is True
    # 'none' == noindex+nofollow per the spec
    m = extract_docmeta(_doc('<meta name="robots" content="none">'))
    assert m["noindex"] is True
    # directives that do NOT opt out
    m = extract_docmeta(
        _doc('<meta name="robots" content="nofollow, noarchive">')
    )
    assert m["robots"] == "nofollow, noarchive" and m["noindex"] is False
    # 'noindexing' must not substring-match
    m = extract_docmeta(_doc('<meta name="robots" content="noindexing">'))
    assert m["noindex"] is False
    # first robots meta wins
    m = extract_docmeta(
        _doc(
            '<meta name="robots" content="all">'
            '<meta name="robots" content="noindex">'
        )
    )
    assert m["noindex"] is False
    # a robots meta AFTER the title block and first h1 (CMS-injected
    # body meta) must still be seen — the parser's early-exit may not
    # fire while any collected field is outstanding (review r3)
    raw = (
        b"<html><head><meta property='og:title' content='T'>"
        b"<title>t</title></head><body><h1>h</h1>"
        b"<meta name='robots' content='noindex'>"
        b"<p>body text</p></body></html>"
    )
    m = extract_docmeta(raw)
    assert m["noindex"] is True

