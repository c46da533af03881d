"""T6 property tests (SURVEY.md §5): semantics-preserving HTML
permutations must not change the extracted main text, and the kernels
must be total on arbitrary bytes.

Mutations used are *provably* outside the pinned spec's signal:
  - attribute order within a start tag (drop decision scans attrs
    order-insensitively),
  - whitespace injected after block-close tags (whitespace-collapse
    removes it inside a segment; segments join with \n\n),
  - boilerplate subtrees injected at body edges (dropped subtrees
    contribute nothing).
"""

from __future__ import annotations

import pathlib
import random
import re

from engine.corpus import SEED, page_row
from engine.kernels.html_extract import extract_html, extract_main_text
from engine.kernels.normalize import decode_bytes

FIXDIR = pathlib.Path(__file__).resolve().parent / "fixtures" / "html"

_ATTR_TAG_RE = re.compile(r'<(\w+)((?:\s+[\w-]+="[^"]*"){2,})\s*>')
_ATTR_RE = re.compile(r'\s+[\w-]+="[^"]*"')
_BLOCK_CLOSE_RE = re.compile(r"(</(?:p|div|li|ul|ol|h[1-6]|table|tr|td|article|section)>)")

_BOILERPLATE = (
    '<nav class="menu"><a href="/a">Aaaa</a><a href="/b">Bbbb</a></nav>'
    '<script>var x = "<p>not content</p>";</script>'
    '<div id="sidebar-extra"><p>Injected sidebar junk that is long enough '
    "to pass the length gate but lives in a stopword container.</p></div>"
    "<footer><p>Copyright injected footer paragraph of sufficient length "
    "to matter if it leaked into the output.</p></footer>"
)


def _shuffle_attrs(doc: str, rng: random.Random) -> str:
    def sub(m: re.Match) -> str:
        attrs = _ATTR_RE.findall(m.group(2))
        rng.shuffle(attrs)
        return f"<{m.group(1)}{''.join(attrs)}>"

    return _ATTR_TAG_RE.sub(sub, doc)


def _inject_ws(doc: str, rng: random.Random) -> str:
    return _BLOCK_CLOSE_RE.sub(
        lambda m: m.group(1) + rng.choice(["\n", "\n\t ", "  \n\n   "]), doc
    )


def _inject_boilerplate(doc: str) -> str:
    out = re.sub(r"(<body[^>]*>)", r"\1" + _BOILERPLATE, doc, count=1)
    return out.replace("</body>", _BOILERPLATE + "</body>", 1)


def _docs() -> list[str]:
    docs = [
        f.read_text(errors="replace")
        for f in sorted(FIXDIR.glob("*.html"))
        if f.name != "meta_charset_latin1.html"  # text-level mutation would
        # need re-encoding to stay a valid latin-1 byte stream
    ]
    for i in range(200):
        row = page_row(SEED, i)
        if row[2] is not None and row[2][:5] != b"%PDF-":
            docs.append(decode_bytes(row[2]))
    return docs


def test_attr_order_and_ws_and_boilerplate_invariance():
    rng = random.Random(20260817)
    checked = 0
    for doc in _docs():
        want = extract_main_text(doc)
        assert extract_main_text(_shuffle_attrs(doc, rng)) == want
        assert extract_main_text(_inject_ws(doc, rng)) == want
        assert extract_main_text(_inject_boilerplate(doc)) == want
        combined = _inject_boilerplate(_inject_ws(_shuffle_attrs(doc, rng), rng))
        assert extract_main_text(combined) == want
        checked += 1
    assert checked > 100


def test_total_on_arbitrary_bytes():
    rng = random.Random(99)
    payloads = [
        b"",
        b"\x00\xff\xfe\x80" * 50,
        bytes(rng.getrandbits(8) for _ in range(4096)),
        "<html>\udcff".encode("utf-8", "surrogatepass"),
        b"%PDF-1.4 garbage not a real pdf",
        b"<" * 10000,
        b"<!--" + bytes(rng.getrandbits(8) for _ in range(1000)),
        b"<![CDATA[" + b"x" * 1000,
    ]
    for raw in payloads:
        out = extract_html(raw)  # must not raise
        assert isinstance(out, str)


def _flate_page_pdf(padding: int) -> bytes:
    """One-page text PDF whose FlateDecode content stream draws "hello"
    and then inflates `padding` more bytes of spaces — compressed
    chunk by chunk, so the bomb is built without ever holding it."""
    import zlib

    from engine.synth.pdfgen import _assemble

    z = zlib.compressobj(9)
    parts = [z.compress(b"BT /F1 12 Tf 72 720 Td (hello) Tj ET\n")]
    block = b" " * (1 << 20)
    for _ in range(padding >> 20):
        parts.append(z.compress(block))
    parts.append(z.compress(b" " * (padding & ((1 << 20) - 1))))
    parts.append(z.flush())
    body = b"".join(parts)
    return _assemble(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(body)
            + body
            + b"\nendstream",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        ]
    )


def test_pdf_flate_bomb_decodes_to_nothing_within_the_cap():
    """A page stream that inflates to 4x MAX_STREAM_BYTES from ~64 KiB
    decodes to b"" (the malformed-input contract) on both PDF routes,
    and the inflate stops at the cap instead of materializing the bomb:
    traced peak memory stays under 3x the cap, where an unbounded
    inflate holds at least 4x (zlib joins its output blocks at the
    end, so a decode briefly holds two copies of what it returns)."""
    import tracemalloc

    from engine.kernels import pdf_textlayer
    from engine.kernels.ocr import extract_ocr_text

    cap = pdf_textlayer.MAX_STREAM_BYTES
    assert pdf_textlayer.extract_pdf_text(_flate_page_pdf(0)) == "hello"
    bomb = _flate_page_pdf(4 * cap)
    assert len(bomb) < cap // 64
    tracemalloc.start()
    try:
        text = pdf_textlayer.extract_pdf_text(bomb)
        ocr = extract_ocr_text(bomb)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert text == "" and ocr == ""
    assert cap < peak < 3 * cap


def test_pdf_lzw_decode_is_capped(monkeypatch):
    """LZWDecode output counts against the same cap as FlateDecode."""
    from engine.kernels import pdf_textlayer
    from engine.synth.pdfgen import make_filtered_pdf

    raw = make_filtered_pdf(["capped words " * 200], "lzw")
    assert "capped words" in pdf_textlayer.extract_pdf_text(raw)
    monkeypatch.setattr(pdf_textlayer, "MAX_STREAM_BYTES", 1000)
    assert pdf_textlayer.extract_pdf_text(raw) == ""
