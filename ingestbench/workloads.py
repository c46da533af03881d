"""Seeded crawl inputs for the ingest benchmark.

Every input is a pure function of (workload, seed, pages): the same
arguments give byte-identical parquet. Kind counts are exact quotas,
not per-row coin flips, so docs-per-kind (and with them error_frac,
changed_frac and the route counts) do not move between seeds; only the
page contents, hosts and capture times do.

The program only ever sees the parquet files written by write_pages.
"""

from __future__ import annotations

import datetime as dt
import os
import random

PAGES_COLUMNS = ("url", "warc_ts", "html", "text", "lang")

# share of distinct urls per payload kind (quotas are rounded; html
# takes the remainder). "null" rows are the pipeline's error path;
# "garbage" rows are routed to the html extractor and yield no text.
CC_MIX = {"pdf_text": 0.12, "pdf_scan": 0.05, "null": 0.015, "garbage": 0.015}
# re-crawl of a cc_mix snapshot: shares of the snapshot's urls whose
# content changed, and of new urls; the rest are unchanged re-captures
RECRAWL_CHANGED = 0.10
RECRAWL_NEW = 0.05

# expected extraction path per payload kind (engine.kernels.route)
ROUTE_OF_KIND = {
    "html": "html",
    "garbage": "html",
    "pdf_text": "pdf_text",
    "pdf_scan": "pdf_ocr",
    "null": "error",
}

def quotas(n: int, mix: dict[str, float]) -> dict[str, int]:
    """Exact per-kind counts for n distinct urls; html is the rest."""
    q = {k: round(n * share) for k, share in mix.items()}
    q = {"html": n - sum(q.values()), **q}
    if min(q.values()) < 0:
        raise ValueError(f"mix {mix} does not fit {n} pages")
    return q


def payload_kind(raw: bytes | None) -> str:
    """The generator-side kind of an engine.corpus payload."""
    if raw is None:
        return "null"
    if raw.startswith(b"%PDF-"):
        return "pdf_scan" if b"/Subtype /Image" in raw else "pdf_text"
    if raw.startswith(b"<html"):
        return "html"
    return "garbage"


def _page_row(args):
    from engine.corpus import page_row

    return page_row(*args)


def _corpus_rows(seed: int, n: int, pool, first_index: int = 0, mix=CC_MIX, exclude=()):
    """n distinct-url engine.corpus rows with exact kind quotas, plus
    the corpus's own re-captures of accepted rows (a later warc_ts for
    the same url and payload). Rows are taken in corpus index order
    from first_index; a row whose kind quota is full, or whose url is
    in exclude, is skipped. The corpus rows are made in blocks across
    the process pool's workers."""
    left = quotas(n, mix)
    rows, accepted = [], set()
    kinds = dict.fromkeys(exclude)
    i = first_index
    block, block_start = [], i
    while sum(left.values()):
        if i - block_start == len(block):
            block_start = i
            block = pool.map(_page_row, [(seed, j) for j in range(i, i + 256)], 16)
        row = block[i - block_start]
        i += 1
        url = row[0]
        if url in kinds:  # engine.corpus re-capture of an earlier row
            if url in accepted:
                rows.append(row)
            continue
        kind = payload_kind(row[2])
        kinds[url] = kind
        if left.get(kind, 0) > 0:
            left[kind] -= 1
            accepted.add(url)
            rows.append(row)
    return rows, {u: kinds[u] for u in accepted}, i


def _recrawl_rows(seed: int, n: int, snapshot: list, snap_kinds: dict, next_index: int, pool):
    """A later crawl of the snapshot's urls: RECRAWL_CHANGED of them
    carry new html, the rest are re-captures of the same payload, and
    RECRAWL_NEW of n are urls the snapshot never saw."""
    rng = random.Random(f"recrawl/{seed}")
    latest = {}
    for row in snapshot:
        if row[0] not in latest or row[1] > latest[row[0]][1]:
            latest[row[0]] = row
    urls = sorted(latest)
    n_new = round(n * RECRAWL_NEW)
    n_changed = round(len(urls) * RECRAWL_CHANGED)
    html_urls = [u for u in urls if snap_kinds[u] == "html"]
    changed = set(rng.sample(html_urls, n_changed))
    fresh, fresh_kinds, next_index = _corpus_rows(
        seed, n_changed + n_new, pool, next_index, mix={}, exclude=urls
    )
    fresh_latest = {}
    for row in fresh:  # drop the fresh rows' own re-captures
        fresh_latest.setdefault(row[0], row)
    fresh = [fresh_latest[u] for u in sorted(fresh_latest)]
    rng.shuffle(fresh)
    new_bodies, new_pages = fresh[:n_changed], fresh[n_changed:]
    later = dt.timedelta(days=35)
    rows, kinds = [], dict(snap_kinds)
    bodies = iter(new_bodies)
    for u in urls:
        url, ts, html, text, lang = latest[u]
        if u in changed:
            _u, _ts, html, text, lang = next(bodies)
        rows.append((url, ts + later + dt.timedelta(seconds=rng.randrange(3600)), html, text, lang))
    for url, ts, html, text, lang in new_pages:
        rows.append((url, ts + later, html, text, lang))
        kinds[url] = fresh_kinds[url]
    rng.shuffle(rows)
    return rows, kinds, changed


def generate(workload: str, seed: int, pages: int, pool) -> dict:
    """{"crawls": [rows, ...], "kinds": {url: kind}, ...} for a workload.

    cc_mix has one crawl; recrawl_delta has the snapshot
    (ingested during set-up) and the later crawl (timed), plus the set
    of urls whose content changed."""
    if workload == "cc_mix":
        rows, kinds, _ = _corpus_rows(seed, pages, pool)
        return {"crawls": [rows], "kinds": kinds}
    if workload == "recrawl_delta":
        snap, kinds, nxt = _corpus_rows(seed, pages, pool)
        later, kinds2, changed = _recrawl_rows(seed, pages, snap, kinds, nxt, pool)
        return {"crawls": [snap, later], "kinds": kinds2, "changed": changed}
    raise ValueError(f"unknown workload {workload!r}")


def extraction_crawl(seed: int, pages: int, pool) -> list:
    """The larger crawl, in cc_mix's mix, that the extraction passes
    read for either workload."""
    return _corpus_rows(seed, pages, pool)[0]


def write_pages(rows: list, path: str, n_files: int) -> None:
    """Write rows as n_files parquet files of equal row counts, in the
    pages schema the ingest job reads (timestamps as UTC micros)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(path, exist_ok=True)
    utc = dt.timezone.utc
    for f in range(n_files):
        part = rows[f * len(rows) // n_files : (f + 1) * len(rows) // n_files]
        cols = list(zip(*part)) if part else [[] for _ in PAGES_COLUMNS]
        table = pa.table(
            {
                "url": list(cols[0]),
                "warc_ts": [t.replace(tzinfo=utc) for t in cols[1]],
                "html": list(cols[2]),
                "text": list(cols[3]),
                "lang": list(cols[4]),
            },
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
