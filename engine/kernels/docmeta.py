"""Document metadata extraction: title / description / canonical URL.

A vector-store ingestion pipeline attaches document metadata to every
put vector (the put_vectors entry shape is {key, vector, metadata} —
engine/io/vector_sink.py); title and canonical link are the metadata
a retrieval consumer actually uses. This kernel extracts them from
raw HTML bytes, SEPARATELY from the pinned main-content extractor
(engine/kernels/html_extract.py) so the byte-identity goldens of the
extraction spec are untouched.

Pinned priority rules (deterministic, first match in document order
within each source tier):

    title        og:title meta > <title> > first <h1>
    description  og:description meta > <meta name=description>
    canonical    <link rel=canonical href=...>
    robots       <meta name=robots content=...> (first one)
    noindex      derived: 'noindex' or 'none' among the robots
                 directive tokens — the page's explicit opt-out from
                 indexing

Values are whitespace-collapsed and length-capped (512 chars) — put
APIs bound metadata size. Charset handling reuses the pinned decoder
(engine/kernels/normalize.decode_bytes). Parsing stops at </head>
plus a bounded body prefix: titles live in the head, the first <h1>
near the top — scanning a 10 MB page for metadata is wasted work.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from engine.kernels.normalize import decode_bytes

MAX_VALUE_CHARS = 512
_BODY_PREFIX_CHARS = 65536  # how far past <head> the <h1> scan goes
_WS_RE = re.compile(r"\s+")


def _clean(value: str | None) -> str | None:
    if value is None:
        return None
    v = _WS_RE.sub(" ", unescape(value)).strip()
    return v[:MAX_VALUE_CHARS] if v else None


class _MetaParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.og_title: str | None = None
        self.og_desc: str | None = None
        self.title: str | None = None
        self.meta_desc: str | None = None
        self.canonical: str | None = None
        self.robots: str | None = None
        self.h1: str | None = None
        self._in_title = False
        self._in_h1 = False
        self._title_parts: list[str] = []
        self._h1_parts: list[str] = []
        self.done = False

    def handle_starttag(self, tag: str, attrs) -> None:
        if self.done:
            return
        a = dict(attrs)
        if tag == "meta":
            prop = (a.get("property") or a.get("name") or "").lower()
            content = a.get("content")
            if prop == "og:title" and self.og_title is None:
                self.og_title = content
            elif prop == "og:description" and self.og_desc is None:
                self.og_desc = content
            elif prop == "description" and self.meta_desc is None:
                self.meta_desc = content
            elif prop == "robots" and self.robots is None:
                self.robots = content
        elif tag == "link":
            rels = (a.get("rel") or "").lower().split()
            if "canonical" in rels and self.canonical is None:
                self.canonical = (a.get("href") or "").strip() or None
        elif tag == "title" and self.title is None:
            self._in_title = True
        elif tag == "h1" and self.h1 is None:
            self._in_h1 = True

    def handle_endtag(self, tag: str) -> None:
        if tag == "title" and self._in_title:
            self._in_title = False
            self.title = "".join(self._title_parts)
        elif tag == "h1" and self._in_h1:
            self._in_h1 = False
            self.h1 = "".join(self._h1_parts)
        if self.h1 is not None or tag == "body":
            # stop only once EVERY collected field has been seen — a
            # robots/canonical/description meta can legally appear
            # after the title block (CMS-injected body metas), and an
            # early exit that ignores them silently marks an opted-out
            # page indexable (review r3)
            self.done = self.done or (
                self.h1 is not None
                and self.title is not None
                and self.og_title is not None
                and self.og_desc is not None
                and self.meta_desc is not None
                and self.canonical is not None
                and self.robots is not None
            )

    def handle_data(self, data: str) -> None:
        if self._in_title:
            self._title_parts.append(data)
        elif self._in_h1:
            self._h1_parts.append(data)


def extract_docmeta(raw: bytes | None) -> dict:
    """{title, description, canonical, robots, noindex} from raw HTML
    bytes; string fields None when absent, noindex False by default
    (absent robots meta = indexable, per the robots spec). Total
    function — malformed input yields whatever was parsed before the
    breakage."""
    empty = {
        "title": None,
        "description": None,
        "canonical": None,
        "robots": None,
        "noindex": False,
    }
    if not raw:
        return empty
    text = decode_bytes(raw)
    if not text:
        return empty
    # bound the scan: head plus a body prefix
    cut = text.find("</head>")
    if cut == -1:
        cut = text.find("</HEAD>")
    end = (cut if cut != -1 else 0) + _BODY_PREFIX_CHARS
    p = _MetaParser()
    try:
        p.feed(text[:end])
        p.close()
    except Exception:
        pass  # keep what was parsed
    if p._in_title and p.title is None:  # unclosed <title>
        p.title = "".join(p._title_parts)
    if p._in_h1 and p.h1 is None:
        p.h1 = "".join(p._h1_parts)
    robots = _clean(p.robots)
    tokens = (
        {t.strip() for t in robots.lower().split(",")} if robots else set()
    )
    return {
        "title": _clean(p.og_title) or _clean(p.title) or _clean(p.h1),
        "description": _clean(p.og_desc) or _clean(p.meta_desc),
        "canonical": _clean(p.canonical),
        "robots": robots,
        # 'none' == 'noindex, nofollow' per the robots meta spec
        "noindex": bool(tokens & {"noindex", "none"}),
    }
