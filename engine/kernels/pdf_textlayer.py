"""PDF text-layer extraction (SURVEY.md §2 A4).

Parses the well-defined PDF subset our corpus generator emits
(engine/synth/pdfgen.py) — xref-table AND xref-stream (PDF 1.5
/ObjStm-packed) documents; content streams filtered by FlateDecode,
ASCIIHexDecode, LZWDecode or filter ARRAYS thereof, or plain; text
operators Tj/TJ/'/\"/Td/TD/Tm/T*/TL — and reassembles page text in
reading order. Pure stdlib (re + zlib + an in-repo TIFF-style LZW),
total (returns "" on any malformed input), deterministic. Filter
widening + ObjStm landed r4 (VERDICT r3 next #6).

Pinned reading-order spec:
  * Runs are recorded at their text-line origin (x, y).
  * Column band = x // 300 (two-column fixture places col2 at x>=300).
  * Order: column band asc, then y desc (top-to-bottom), then x asc,
    then emission order.
  * Runs sharing (band, y) form one line; consecutive runs on a line
    are joined with a single space (distinct runs at the same y are
    separate positioned fragments).
  * Inside a TJ array, strings concatenate; a kerning number <=
    WORD_GAP_KERN (-180) inserts a single space; larger (less
    negative) numbers are glyph kerning and insert nothing.
  * Pages join with a blank line ("\\n\\n"); output is canonicalized
    (normalize.canonicalize).
"""

from __future__ import annotations

import re
import zlib

from engine.kernels.normalize import canonicalize

WORD_GAP_KERN = -180.0
COLUMN_BAND_PX = 300
# decoded-size cap per stream and filter: a Flate or LZW stream that
# would decode past it is a bomb (kilobytes in, gigabytes out) and
# decodes to b"" like any other malformed stream. The largest decoded
# stream in the kernel fixtures is under 1 KiB.
MAX_STREAM_BYTES = 16 << 20

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
# /Filter value: a single name or an array of names, applied in order
_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_FILTER_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")
_N_RE = re.compile(rb"/N\s+(\d+)")
_FIRST_RE = re.compile(rb"/First\s+(\d+)")
_INT_RE = re.compile(rb"\d+")

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\x08",
    b"f": b"\x0c", b"(": b"(", b")": b")", b"\\": b"\\",
}


def is_pdf(raw: bytes | None) -> bool:
    return raw is not None and raw[:5] == b"%PDF-"


def _ascii_hex_decode(data: bytes) -> bytes:
    """PDF ASCIIHexDecode: hex pairs, whitespace ignored, '>' is EOD,
    an odd trailing digit is padded with 0 (PDF 32000 §7.4.2)."""
    end = data.find(b">")
    if end != -1:
        data = data[:end]
    hexdigits = b"".join(data.split())  # strip all whitespace
    if len(hexdigits) % 2:
        hexdigits += b"0"
    return bytes.fromhex(hexdigits.decode("ascii"))


def _lzw_decode(data: bytes, cap: int = MAX_STREAM_BYTES) -> bytes:
    """PDF LZWDecode (PDF 32000 §7.4.4 = TIFF-style LZW): MSB-first
    variable-width codes 9->12 bits, clear table = 256, EOD = 257,
    EarlyChange=1 (the default: the width grows one code early, when
    entry 2^w - 1 is ADDED). DecodeParms predictors are out of the
    honest subset (the generator never emits them). Output past `cap`
    bytes raises ValueError."""
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    base_len = len(table)
    out = bytearray()
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # clear table
                table = table[:base_len]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("lzw_bad_first_code")
                entry = table[code]
            else:
                if code < len(table):
                    entry = table[code]
                elif code == len(table):  # KwKwK case
                    entry = prev + prev[:1]
                else:
                    raise ValueError("lzw_code_out_of_range")
                table.append(prev + entry[:1])
                # EarlyChange=1: grow when entry 2^w - 1 is added
                if len(table) >= (1 << width) - 1 and width < 12:
                    width += 1
            out += entry
            if len(out) > cap:
                raise ValueError("lzw_over_cap")
            prev = entry
    return bytes(out)


def _decode_stream(dict_bytes: bytes, data: bytes) -> bytes:
    """Apply the /Filter chain in order (single name or array). Any
    unknown filter, decode error or output over MAX_STREAM_BYTES
    yields b'' — total, the kernel's malformed-input contract."""
    fm = _FILTER_RE.search(dict_bytes)
    if not fm:
        return data
    try:
        for name in _FILTER_NAME_RE.findall(fm.group(1)):
            if name == b"FlateDecode" or name == b"Fl":
                d = zlib.decompressobj()
                data = d.decompress(data, MAX_STREAM_BYTES + 1)
                # not eof: the stream is truncated or was cut off at
                # the cap
                if not d.eof or len(data) > MAX_STREAM_BYTES:
                    return b""
            elif name == b"ASCIIHexDecode" or name == b"AHx":
                data = _ascii_hex_decode(data)
            elif name == b"LZWDecode" or name == b"LZW":
                data = _lzw_decode(data, MAX_STREAM_BYTES)
            else:  # DCTDecode etc.: outside the honest subset
                return b""
    except Exception:
        return b""
    return data


def _unpack_objstm(dict_bytes: bytes, stream: bytes):
    """Yield (obj_num, body) for each object packed in a /Type /ObjStm
    stream (PDF 1.5 xref-stream documents keep their page/catalog
    dicts here): header of /N (num, offset) int pairs, bodies start
    at /First. Packed objects are dict-only (the spec forbids nested
    streams), so body parses like a top-level object body."""
    nm = _N_RE.search(dict_bytes)
    fm = _FIRST_RE.search(dict_bytes)
    if not nm or not fm:
        return
    n, first = int(nm.group(1)), int(fm.group(1))
    header = _INT_RE.findall(stream[:first])
    pairs = [
        (int(header[2 * i]), int(header[2 * i + 1]))
        for i in range(min(n, len(header) // 2))
    ]
    for i, (num, off) in enumerate(pairs):
        end = pairs[i + 1][1] if i + 1 < len(pairs) else len(stream) - first
        yield num, stream[first + off : first + end]


def parse_objects(raw: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """obj_num -> (dict_and_body, decoded_stream_or_None). Two passes:
    the regex scan over `N 0 obj ... endobj` wrappers (xref tables are
    deliberately ignored — scanning is total over malformed files),
    then objects packed inside /Type /ObjStm streams are unpacked
    (PDF 1.5+ xref-STREAM documents; their /Type /XRef stream object
    itself is just carried as an opaque object). Top-level wins on a
    duplicate object number."""
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    objstms: list[tuple[bytes, bytes]] = []
    for m in _OBJ_RE.finditer(raw):
        num = int(m.group(1))
        body = m.group(2)
        stream = None
        sm = _STREAM_RE.search(body)
        if sm:
            stream = _decode_stream(body[: sm.start()], sm.group(1))
            if _OBJSTM_RE.search(body[: sm.start()]):
                objstms.append((body[: sm.start()], stream))
        objs[num] = (body, stream)
    for dict_bytes, stream in objstms:
        try:
            for num, body in _unpack_objstm(dict_bytes, stream):
                objs.setdefault(num, (body, None))
        except Exception:
            continue  # malformed ObjStm: keep what the scan found
    return objs


def page_content_streams(raw: bytes) -> list[bytes]:
    """Content streams in page-tree order; [] if structure is absent."""
    objs = parse_objects(raw)
    pages_order: list[int] = []
    for num, (body, _s) in sorted(objs.items()):
        if b"/Type" in body and b"/Pages" in body:
            km = _KIDS_RE.search(body)
            if km:
                pages_order = [int(r) for r in _REF_RE.findall(km.group(1))]
                break
    if not pages_order:  # fall back: any /Type /Page objects in num order
        pages_order = [
            num
            for num, (body, _s) in sorted(objs.items())
            if re.search(rb"/Type\s*/Page\b", body)
        ]
    streams: list[bytes] = []
    for pnum in pages_order:
        if pnum not in objs:
            continue
        cm = _CONTENTS_RE.search(objs[pnum][0])
        if not cm:
            continue
        cnum = int(cm.group(1))
        if cnum in objs and objs[cnum][1] is not None:
            streams.append(objs[cnum][1])
    return streams


# --- content-stream tokenizer ----------------------------------------------


def _read_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a PDF literal string starting at data[i] == '('."""
    # fast path: no escapes and no nesting before the closing paren —
    # the bytes up to it ARE the string (identical to what the loop
    # below would produce); covers the vast majority of real strings
    j = data.find(b")", i + 1)
    if j != -1:
        seg = data[i + 1 : j]
        if b"\\" not in seg and b"(" not in seg:
            return seg, j + 1
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth > 0:
        c = data[i : i + 1]
        if c == b"\\":
            nxt = data[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
            elif nxt.isdigit():  # octal \ddd
                j = i + 1
                oct_digits = b""
                while j < n and len(oct_digits) < 3 and data[j : j + 1].isdigit():
                    oct_digits += data[j : j + 1]
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = j
            elif nxt == b"\n":
                i += 2  # line continuation
            else:
                out += nxt
                i += 2
        elif c == b"(":
            depth += 1
            out += c
            i += 1
        elif c == b")":
            depth -= 1
            if depth > 0:
                out += c
            i += 1
        else:
            out += c
            i += 1
    return bytes(out), i


# single master scanner (alternation order == the old per-byte
# dispatch priority). Each match consumes any leading whitespace PLUS
# one token, so whitespace runs never cost a Python loop iteration;
# the common escape-free literal string is matched in C (group 'str'
# captures the inner bytes), with _read_string as the fallback for
# strings containing '\\' or nested parens (group 'lparen').
# Matching at a position (re.match(data, i)) avoids per-token
# data[i:] slice copies — semantics pinned by the PDF goldens and a
# full-corpus differential check.
_TOKEN_RE = re.compile(
    rb"[ \t\r\n\x0c\x00]*"
    rb"(?:\((?P<str>[^()\\]*)\)"
    rb"|(?P<arro>\[)"
    rb"|(?P<arrc>\])"
    rb"|(?P<name>/[^\s\[\]()<>/]*)"
    rb"|(?P<hex><[^>]*>?)"
    rb"|(?P<num>[+-]?(?:\d+\.?\d*|\.\d+))"
    rb"|(?P<op>[A-Za-z'\"*]+)"
    rb"|(?P<lparen>\())"
)


def extract_page_runs(stream: bytes) -> list[tuple[float, float, int, str]]:
    """(x, y, seq, text) for each text-showing op in one content stream.

    The tokenizer loop from tokenize() is fused inline: profiling showed
    ~40% of kernel time was generator yield overhead at ~half a million
    tokens per bench batch. Token semantics are identical (same master
    regex, same dispatch priority); equality vs the generator-driven
    version is pinned by the PDF goldens and a differential check over
    the full synthetic corpus.
    """
    runs: list[tuple[float, float, int, str]] = []
    stack: list = []
    in_array: list | None = None
    line_x = line_y = 0.0
    leading = 0.0
    seq = 0

    data = stream
    i, n = 0, len(data)
    match = _TOKEN_RE.match
    while i < n:
        m = match(data, i)
        if m is None:
            i += 1  # unknown byte: skip
            continue
        g = m.lastgroup
        i = m.end()
        if g == "num":
            v = float(m.group("num"))
            if in_array is not None:
                in_array.append(("num", v))
            else:
                stack.append(("num", v))
        elif g == "str":  # escape-free literal string, matched in C
            s = m.group("str")
            if in_array is not None:
                in_array.append(("str", s))
            else:
                stack.append(("str", s))
        elif g == "lparen":  # string with escapes/nesting: slow path
            s, i = _read_string(data, m.start("lparen"))
            if in_array is not None:
                in_array.append(("str", s))
            else:
                stack.append(("str", s))
        elif g == "arro":
            in_array = []
        elif g == "arrc":
            stack.append(("arr", in_array))
            in_array = None
        elif g == "name":
            stack.append(("name", m.group("name")))
        elif g == "op":
            op = m.group("op")
            if op == b"Td" or op == b"TD":
                if len(stack) >= 2:
                    ty = _num(stack[-1])
                    tx = _num(stack[-2])
                    line_x += tx
                    line_y += ty
                    if op == b"TD":
                        leading = -ty
            elif op == b"Tm":
                if len(stack) >= 6:
                    line_y = _num(stack[-1])
                    line_x = _num(stack[-2])
            elif op == b"T*":
                line_y -= leading
            elif op == b"TL":
                if stack:
                    leading = _num(stack[-1])
            elif op == b"Tj":
                if stack and stack[-1][0] == "str":
                    text = stack[-1][1].decode("latin-1")
                    if text:
                        runs.append((line_x, line_y, seq, text))
                        seq += 1
            elif op == b"'":
                line_y -= leading
                if stack and stack[-1][0] == "str":
                    text = stack[-1][1].decode("latin-1")
                    if text:
                        runs.append((line_x, line_y, seq, text))
                        seq += 1
            elif op == b'"':
                line_y -= leading
                if stack and stack[-1][0] == "str":
                    text = stack[-1][1].decode("latin-1")
                    if text:
                        runs.append((line_x, line_y, seq, text))
                        seq += 1
            elif op == b"TJ":
                if stack and stack[-1][0] == "arr":
                    parts: list[str] = []
                    for k, v in stack[-1][1]:
                        if k == "str":
                            parts.append(v.decode("latin-1"))
                        elif k == "num" and v <= WORD_GAP_KERN:
                            parts.append(" ")
                    text = "".join(parts)
                    if text:
                        runs.append((line_x, line_y, seq, text))
                        seq += 1
            elif op == b"BT":
                line_x = line_y = 0.0
            stack.clear()
    return runs


def _num(tok) -> float:
    return tok[1] if tok[0] == "num" else 0.0


def assemble_page_text(runs: list[tuple[float, float, int, str]]) -> str:
    """Reading order: column band, y desc, x asc, emission order."""
    if not runs:
        return ""
    keyed = sorted(
        runs, key=lambda r: (int(r[0] // COLUMN_BAND_PX), -r[1], r[0], r[2])
    )
    lines: list[str] = []
    cur_key: tuple[int, float] | None = None
    cur_parts: list[str] = []
    for x, y, _seq, text in keyed:
        key = (int(x // COLUMN_BAND_PX), y)
        if key != cur_key:
            if cur_parts:
                lines.append(" ".join(cur_parts))
            cur_parts = []
            cur_key = key
        cur_parts.append(text)
    if cur_parts:
        lines.append(" ".join(cur_parts))
    return "\n".join(lines)


def extract_pdf_text(raw: bytes | None) -> str:
    """Kernel entrypoint: PDF bytes -> canonicalized text-layer text."""
    if not is_pdf(raw):
        return ""
    try:
        pages = [
            assemble_page_text(extract_page_runs(s))
            for s in page_content_streams(raw)
        ]
    except Exception:
        return ""
    return canonicalize("\n\n".join(p for p in pages if p))


def text_layer_coverage(raw: bytes | None) -> int:
    """Cheap probe for the media router: number of text-layer chars
    that survive canonicalization. 0 on raster-only or malformed PDFs
    (-> OCR path). Counting canonicalized chars (not str.strip, which
    keeps C0/C1 controls) keeps this probe's >=1 decision exactly
    equivalent to "extract_pdf_text(raw) is non-empty" — the fused
    route_extract_udf routes on that equivalence, so a control-chars-
    only text layer goes to OCR under BOTH routers."""
    if not is_pdf(raw):
        return 0
    from engine.kernels.normalize import canonicalize

    try:
        total = 0
        for s in page_content_streams(raw):
            for _x, _y, _q, t in extract_page_runs(s):
                total += len(canonicalize(t))
        return total
    except Exception:
        return 0
