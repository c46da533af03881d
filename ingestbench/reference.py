"""Single-process reference for the ingest benchmark: the expected
per-url output computed straight from engine.kernels, with no Spark,
and the comparison of the job's tables against it.

A url's output is its text digest plus its chunk set (chunk_ix,
char_start, char_end, chunk_sha256). The reference also records each
kernel's own time, which the traced run reports per doc.
"""

from __future__ import annotations

import hashlib
import time
from collections import defaultdict

KERNELS = ("html_extract", "pdf_textlayer", "ocr", "sentences", "chunker")


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def latest_per_url(rows) -> dict:
    """url -> the latest capture's row (the job's dedup rule)."""
    out = {}
    for row in rows:
        if row[0] not in out or row[1] > out[row[0]][1]:
            out[row[0]] = row
    return out


class Reference:
    """Expected output of one crawl. `docs[url]` is (route, text_sha or
    None for an error doc, frozenset of chunk tuples)."""

    def __init__(self, rows, sample_chunks: int = 0):
        from engine.kernels.chunker import chunk_rows
        from engine.kernels.html_extract import extract_html
        from engine.kernels.ocr import extract_ocr_text
        from engine.kernels.pdf_textlayer import extract_pdf_text
        from engine.kernels.route import PATH_ERROR, PATH_HTML, PATH_PDF_TEXT, route
        from engine.kernels.sentences import sentence_spans

        extractor = {
            PATH_HTML: ("html_extract", extract_html),
            PATH_PDF_TEXT: ("pdf_textlayer", extract_pdf_text),
        }
        self.kernel_s = dict.fromkeys(KERNELS, 0.0)
        self.kernel_docs = dict.fromkeys(KERNELS, 0)
        self.routes = defaultdict(int)
        self.docs = {}
        self.sample_chunks: list[str] = []
        clock = time.perf_counter
        for url, _ts, raw, _text, _lang in latest_per_url(rows).values():
            path = route(raw)
            self.routes[path] += 1
            if path == PATH_ERROR:
                self.docs[url] = (path, None, frozenset())
                continue
            name, fn = extractor.get(path, ("ocr", extract_ocr_text))
            t0 = clock()
            try:
                text = fn(raw)
            except Exception:  # the job's UDF turns a throw into an error doc
                self.routes[path] -= 1
                self.routes[PATH_ERROR] += 1
                self.docs[url] = (PATH_ERROR, None, frozenset())
                continue
            t1 = clock()
            spans = sentence_spans(text)
            t2 = clock()
            chunks = chunk_rows(text, spans=spans)
            t3 = clock()
            for k, dt in ((name, t1 - t0), ("sentences", t2 - t1), ("chunker", t3 - t2)):
                self.kernel_s[k] += dt
                self.kernel_docs[k] += 1
            if len(self.sample_chunks) < sample_chunks:
                self.sample_chunks += [c[5] for c in chunks]
            self.docs[url] = (
                path,
                _sha(text),
                frozenset((c[0], c[1], c[2], _sha(c[5])) for c in chunks),
            )

    def keys(self, urls) -> set[str]:
        """Vector-index keys (url#chunk_ix) of the given urls' chunks."""
        return {f"{u}#{c[0]}" for u in urls for c in self.docs[u][2]}


def _ref_docs(rows) -> dict:
    return Reference(rows).docs


def extraction_summary(rows, pool) -> dict:
    """What an aggregate over build_extracted(rows) must give: rows
    (one per url), error docs, and the sum of the first 32 bits of
    every other doc's text sha256, an order-free checksum of the text.
    The urls are split across the pool's workers."""
    latest = list(latest_per_url(rows).values())
    docs = {}
    for part in pool.map(_ref_docs, [latest[k::16] for k in range(16)], 1):
        docs.update(part)
    shas = [d[1] for d in docs.values() if d[1] is not None]
    return {"n": len(docs), "errors": len(docs) - len(shas), "sha_sum": sum(int(s[:8], 16) for s in shas)}


def read_output(spark, out_dir: str) -> tuple[dict, dict]:
    """(url -> (text_sha or None, has_error), url -> set of chunk tuples)
    from the job's extracted and chunks tables."""
    import os

    docs = {
        r["url"]: (r["content_sha256"], r["error"] is not None)
        for r in spark.read.parquet(os.path.join(out_dir, "extracted"))
        .select("url", "content_sha256", "error")
        .collect()
    }
    chunks = defaultdict(set)
    ch_path = os.path.join(out_dir, "chunks")
    if os.path.isdir(ch_path):
        for r in (
            spark.read.parquet(ch_path)
            .select("url", "chunk_ix", "char_start", "char_end", "chunk_sha256")
            .collect()
        ):
            chunks[r["url"]].add(
                (r["chunk_ix"], r["char_start"], r["char_end"], r["chunk_sha256"])
            )
    return docs, chunks


def mismatched_urls(ref: Reference, docs: dict, chunks: dict, chunked_urls) -> set[str]:
    """Urls whose job output differs from the reference. Only urls in
    chunked_urls are expected in the chunks table (all of them for a
    fresh ingest, the changed ones for a re-crawl delta)."""
    bad = set(docs) ^ set(ref.docs)
    bad |= set(chunks) - set(chunked_urls)
    for url, (path, sha, want_chunks) in ref.docs.items():
        if url not in docs:
            continue
        got_sha, got_err = docs[url]
        if (path == "error") != got_err or (sha is not None and got_sha != sha):
            bad.add(url)
        elif url in chunked_urls and chunks.get(url, set()) != want_chunks:
            bad.add(url)
    return bad


def output_digest(docs: dict, chunks: dict) -> str:
    """Digest of the job's output, for the recorded per-workload check."""
    h = hashlib.sha256()
    for url in sorted(docs):
        sha, err = docs[url]
        h.update(f"{url}\t{sha}\t{int(err)}\n".encode())
        for c in sorted(chunks.get(url, ())):
            h.update(("\t%d\t%d\t%d\t%s\n" % c).encode())
    return h.hexdigest()
