"""OCR fallback for raster-only scanned PDFs (SURVEY.md §2 A5).

Decodes the 1-bit image XObject embedded by engine/synth/pdfgen.py
(make_scanned_pdf) and recognizes glyphs by exact 5x7 bit-pattern
lookup against the synthetic font (engine/kernels/ocr_font.py).

Scope honesty: this is a real decode (bitmap -> glyph-table inverse
lookup) over the font this corpus is rendered with; production would
swap tesseract in at the same kernel seam. Pinned rules:
  * cell grid: CELL_W x CELL_H px, row-major;
  * all-zero cell -> space; pattern not in font -> U+FFFD;
  * trailing spaces stripped per line; blank lines preserved
    (paragraph gaps); output canonicalized.
"""

from __future__ import annotations

import re
import zlib

from engine.kernels.normalize import canonicalize
from engine.kernels.ocr_font import (
    CELL_H,
    CELL_W,
    GLYPH_H,
    GLYPH_W,
    PATTERN_TO_CHAR,
)
from engine.kernels.pdf_textlayer import is_pdf, parse_objects

_IMG_DICT_RE = re.compile(rb"/Subtype\s*/Image")
_WIDTH_RE = re.compile(rb"/Width\s+(\d+)")
_HEIGHT_RE = re.compile(rb"/Height\s+(\d+)")


def find_image_bitmaps(raw: bytes) -> list[tuple[int, int, bytes]]:
    """All 1-bit image XObjects as (width, height, packed_rows)."""
    out: list[tuple[int, int, bytes]] = []
    for _num, (body, stream) in sorted(parse_objects(raw).items()):
        if stream is None or not _IMG_DICT_RE.search(body):
            continue
        wm = _WIDTH_RE.search(body)
        hm = _HEIGHT_RE.search(body)
        if not (wm and hm):
            continue
        out.append((int(wm.group(1)), int(hm.group(1)), stream))
    return out


def decode_bitmap(width: int, height: int, packed: bytes) -> str:
    """Rebuild text from a row-padded 1-bit bitmap on the glyph grid."""
    row_bytes = (width + 7) // 8
    if len(packed) < row_bytes * height:
        return ""

    # inlined bit extraction (no per-pixel lambda chain): identical
    # semantics to pattern_from_cell(pixel) incl. zero-padding past
    # width/height — pinned by the OCR goldens
    lines: list[str] = []
    for li in range(height // CELL_H):
        y0 = li * CELL_H
        chars: list[str] = []
        for ci in range(width // CELL_W):
            x0 = ci * CELL_W
            pat = 0
            for r in range(GLYPH_H):
                y = y0 + r
                base = y * row_bytes
                if y >= height:
                    pat <<= GLYPH_W
                    continue
                for c in range(GLYPH_W):
                    x = x0 + c
                    if x >= width:
                        pat <<= 1
                    else:
                        pat = (pat << 1) | (
                            (packed[base + (x >> 3)] >> (7 - (x & 7))) & 1
                        )
            if pat == 0:
                chars.append(" ")
            else:
                chars.append(PATTERN_TO_CHAR.get(pat, "�"))
        lines.append("".join(chars).rstrip())
    return "\n".join(lines)


import numpy as np  # noqa: E402  (fast path; scalar spec above stays the reference)

_BITS = GLYPH_W * GLYPH_H


def decode_bitmap_np(width: int, height: int, packed: bytes) -> str:
    """Vectorized decode_bitmap: identical output (pinned by
    tests/test_kernels.py differential check), ~20x faster — unpack
    all bits at once, gather each glyph pixel position across every
    cell with a strided slice, accumulate the 35-bit pattern in 35
    vector adds, then look up characters per CELL instead of looping
    per PIXEL. Zero-padding past width/height matches the scalar
    `pat <<= 1` branches because `padded` is zeros there."""
    row_bytes = (width + 7) // 8
    if len(packed) < row_bytes * height:
        return ""
    n_rows = height // CELL_H
    n_cols = width // CELL_W
    if n_rows == 0 or n_cols == 0:
        return "\n".join([""] * n_rows)
    arr = np.frombuffer(
        packed[: row_bytes * height], dtype=np.uint8
    ).reshape(height, row_bytes)
    bits = np.unpackbits(arr, axis=1)[:, :width]
    h_need = (n_rows - 1) * CELL_H + GLYPH_H
    w_need = (n_cols - 1) * CELL_W + GLYPH_W
    if h_need > height or w_need > width:
        padded = np.zeros((max(h_need, height), max(w_need, width)), dtype=np.uint8)
        padded[:height, :width] = bits
    else:
        padded = bits
    pats = np.zeros((n_rows, n_cols), dtype=np.int64)
    for r in range(GLYPH_H):
        for c in range(GLYPH_W):
            weight = 1 << (_BITS - 1 - (r * GLYPH_W + c))
            pats += (
                padded[
                    r : (n_rows - 1) * CELL_H + r + 1 : CELL_H,
                    c : (n_cols - 1) * CELL_W + c + 1 : CELL_W,
                ].astype(np.int64)
                * weight
            )
    get = PATTERN_TO_CHAR.get
    lines = []
    for row in pats:
        lines.append(
            "".join(" " if p == 0 else get(p, "�") for p in row.tolist()).rstrip()
        )
    return "\n".join(lines)


def extract_ocr_text(raw: bytes | None) -> str:
    """Kernel entrypoint: raster-only PDF bytes -> canonicalized text."""
    if not is_pdf(raw):
        return ""
    try:
        texts = [decode_bitmap_np(w, h, b) for w, h, b in find_image_bitmaps(raw)]
    except (zlib.error, Exception):
        return ""
    return canonicalize("\n\n".join(t for t in texts if t))
