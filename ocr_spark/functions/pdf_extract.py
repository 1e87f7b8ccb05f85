"""PDF text extraction (north_rule: "HTML boilerplate strip, PDF/layout
parse, DOM heuristics").

Scope: a REAL, self-contained reader/writer for the uncompressed
PDF-1.4 subset — object graph, page tree, content streams with
BT/ET text blocks, Tj/TJ/'(quote) show operators, Td/TD/T* line moves,
and PDF string escapes (\\( \\) \\\\ \\n \\r \\t and octal). That is the
honest sandbox stand-in for a production parser: the Spark plumbing
(binary column in, text column out, Arrow batches, same extraction
invariant "byte-identical text per doc") is identical whether the body
is this parser or pdfium behind the same function signature.
Stream filters (PDF 1.7 §7.4, all public): FlateDecode (stdlib
zlib), LZWDecode (TIFF-style 9-12 bit codes with EarlyChange),
ASCIIHexDecode, ASCII85Decode, and RunLengthDecode are REAL, applied
in declared order for `/Filter [A B ...]` chains; image-codec filters
(DCTDecode, JPXDecode, JBIG2Decode, CCITTFaxDecode) raise
NotImplementedError naming the filter, mirroring
operators/multimodal.py's codec policy (they carry pixels, not text).

Layout model: one text line per Td/TD/T* advance, lines joined with
"\\n"; the ' and " show operators advance to the next line BEFORE
showing (PDF 9.4.3: they are T* + show); multiple show operators on
one line concatenate; TJ kerning numbers are ignored for text
recovery (they only shift glyphs).
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType


# ---------------------------------------------------------------------------
# writer (deterministic fixture generator — a valid single-font PDF)
# ---------------------------------------------------------------------------

def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def png_predictor_encode(data: bytes, columns: int, types_cycle=(0, 1, 2, 3, 4)) -> bytes:
    """FORWARD PNG predictor coding (bpp=1) for writer-side use: pads
    ``data`` with spaces to a row multiple (harmless between content
    operators), filters each row with the cycling filter type, and
    prepends the per-row type byte — the exact inverse of _unpredict's
    PNG branch (the pytest pin keeps its own independent forward
    implementation so the pair can't share a compensating bug)."""
    data += b" " * ((-len(data)) % columns)
    rows = [data[i : i + columns] for i in range(0, len(data), columns)]
    prev = bytes(columns)
    out = bytearray()
    for y, row in enumerate(rows):
        t = types_cycle[y % len(types_cycle)]
        out.append(t)
        for x in range(columns):
            a = row[x - 1] if x >= 1 else 0
            b = prev[x]
            c = prev[x - 1] if x >= 1 else 0
            if t == 0:
                pr = 0
            elif t == 1:
                pr = a
            elif t == 2:
                pr = b
            elif t == 3:
                pr = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((row[x] - pr) % 256)
        prev = row
    return bytes(out)


def make_pdf(
    pages: list[list[str]],
    compress: bool = False,
    predictor_columns: int | None = None,
    info: dict[str, str] | None = None,
) -> bytes:
    """Build a PDF-1.4: one content stream per page, each line shown
    with Tj after a TD line advance. ``compress=True`` Flate-encodes
    the content streams (deterministic for a fixed zlib level) —
    exercising the reader's real decompression path.
    ``predictor_columns`` additionally PNG-predictor-codes the content
    before the Flate layer and declares the matching /DecodeParms —
    the PDF 1.5+ stream shape whose reader side is _unpredict."""
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_ids: list[int] = []
    content_ids: list[int] = []
    for lines in pages:
        ops = ["BT", "/F1 12 Tf", "72 720 Td"]
        for i, line in enumerate(lines):
            if i:
                ops.append("0 -14 TD")
            ops.append(f"({_esc(line)}) Tj")
        ops.append("ET")
        stream = "\n".join(ops).encode("latin-1")
        if predictor_columns:
            coded = png_predictor_encode(stream, predictor_columns)
            stream = zlib.compress(coded, 6)
            meta = (
                b"<< /Length %d /Filter /FlateDecode /DecodeParms "
                b"<< /Predictor 12 /Columns %d >> >>"
                % (len(stream), predictor_columns)
            )
        elif compress:
            stream = zlib.compress(stream, 6)
            meta = b"<< /Length %d /Filter /FlateDecode >>" % len(stream)
        else:
            meta = b"<< /Length %d >>" % len(stream)
        content_ids.append(
            add(meta + b"\nstream\n%s\nendstream" % stream)
        )
    pages_id = len(objs) + len(pages) + 1
    for cid in content_ids:
        page_ids.append(
            add(
                b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
                % (pages_id, font, cid)
            )
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    assert add(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_ids))
    ) == pages_id
    root = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)
    info_id = None
    if info:
        body = b"<<"
        for key in sorted(info):
            body += b" /%s (%s)" % (
                key.encode("ascii"), _esc(info[key]).encode("latin-1"))
        info_id = add(body + b" >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    tdict = b"<< /Size %d /Root %d 0 R" % (len(objs) + 1, root)
    if info_id is not None:
        tdict += b" /Info %d 0 R" % info_id
    out += (
        b"trailer\n%s >>\nstartxref\n%d\n%%%%EOF\n" % (tdict, xref_at)
    )
    return bytes(out)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

_STREAM_HDR = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.S)
_LENGTH = re.compile(rb"/Length\s+(\d+)(\s+\d+\s+R)?")
_ENDSTREAM = re.compile(rb"\r?\nendstream")
_SHOW = re.compile(
    rb"(\((?:[^()\\]|\\.)*\))\s*(Tj|'|\")"  # (string) Tj / ' / "
    rb"|\[((?:[^\]\\]|\\.)*)\]\s*TJ"        # [ ... ] TJ
    rb"|(Td|TD|T\*)"                        # line moves
)


def _iter_streams(buf: bytes):
    """Yield (dict-body, stream-bytes) pairs, delimiting each stream by
    its /Length when it is a direct integer (PDF 1.7 §7.3.8: Length IS
    the authoritative extent) and only falling back to scanning for the
    first ``EOL endstream`` when /Length is indirect (``n g R``),
    missing, or provably stale (no ``endstream`` keyword where it
    claims the data ends). The scan-only form truncated binary bodies
    that end in 0x0D (the ``\\r?`` ate a data byte) or that contain the
    byte string ``\\nendstream`` mid-payload — ~1/256 of Flate streams
    fail to inflate under it."""
    pos = 0
    while True:
        m = _STREAM_HDR.search(buf, pos)
        if not m:
            return
        meta = m.group(1)
        data_start = m.end()
        body = None
        lm = _LENGTH.search(meta)
        if lm and not lm.group(2):  # direct /Length N
            end = data_start + int(lm.group(1))
            if end <= len(buf) and re.match(rb"\s*endstream", buf[end : end + 20]):
                body = buf[data_start:end]
                pos = end
        if body is None:  # indirect/absent/stale Length: terminator scan
            t = _ENDSTREAM.search(buf, data_start)
            if not t:
                return  # unterminated stream: nothing more to parse
            body = buf[data_start : t.start()]
            pos = t.end()
        yield meta, body
_TJ_STR = re.compile(rb"\((?:[^()\\]|\\.)*\)")
_OCTAL = re.compile(rb"\\([0-7]{1,3})")


def _unescape(s: bytes) -> str:
    # strip surrounding parens, resolve escapes
    body = s[1:-1]
    out = bytearray()
    i = 0
    while i < len(body):
        c = body[i]
        if c == 0x5C and i + 1 < len(body):  # backslash
            m = _OCTAL.match(body, i)
            if m:
                out.append(int(m.group(1), 8) & 0xFF)
                i = m.end()
                continue
            nxt = body[i + 1]
            mapped = {
                ord("n"): 0x0A, ord("r"): 0x0D, ord("t"): 0x09,
                ord("b"): 0x08, ord("f"): 0x0C,
                ord("("): 0x28, ord(")"): 0x29, ord("\\"): 0x5C,
            }.get(nxt)
            out.append(mapped if mapped is not None else nxt)
            i += 2
        else:
            out.append(c)
            i += 1
    return out.decode("latin-1")


# ---------------------------------------------------------------------------
# stream filters (PDF 1.7 §7.4) — all pure stdlib
# ---------------------------------------------------------------------------

def _flate(stream: bytes) -> bytes:
    try:
        return zlib.decompress(stream)
    except zlib.error as exc:
        raise ValueError(f"corrupt FlateDecode stream: {exc}")


def _asciihex(stream: bytes) -> bytes:
    body = stream.split(b">", 1)[0]  # '>' is EOD (§7.4.2)
    body = re.sub(rb"\s+", b"", body)
    if len(body) % 2:  # odd count: final digit is padded with 0
        body += b"0"
    try:
        return bytes.fromhex(body.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as exc:
        raise ValueError(f"corrupt ASCIIHexDecode stream: {exc}")


def _ascii85(stream: bytes) -> bytes:
    import base64

    body = re.sub(rb"\s+", b"", stream)
    if body.endswith(b"~>"):
        body = body[:-2]
    try:
        # frame for adobe mode so 'z' groups and partial-final-group
        # semantics follow the Adobe variant PDF uses
        return base64.a85decode(b"<~" + body + b"~>", adobe=True)
    except ValueError as exc:
        raise ValueError(f"corrupt ASCII85Decode stream: {exc}")


def _runlength(stream: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(stream)
    while i < n:
        ln = stream[i]
        i += 1
        if ln == 128:  # EOD
            return bytes(out)
        if ln < 128:
            out += stream[i : i + ln + 1]
            i += ln + 1
        else:
            out += stream[i : i + 1] * (257 - ln)
            i += 1
    return bytes(out)


def _lzw(stream: bytes) -> bytes:
    """PDF/TIFF LZW: 9→12-bit MSB-first codes, Clear=256, EOD=257,
    EarlyChange=1 (code width grows one code early, §7.4.4)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in stream:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # Clear
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt LZWDecode stream: bad code")
            out += entry
            prev = entry
            # EarlyChange: widen when the NEXT code could overflow
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _unpredict(
    data: bytes, predictor: int, colors: int, bpc: int, columns: int
) -> bytes:
    """Undo a /DecodeParms predictor on filter output (PDF 1.7 §7.4.4.4).

    Predictor 2 = TIFF horizontal differencing (8-bit components);
    10-15 = PNG filters (RFC 2083 §6) with a per-row filter-type byte —
    the same math as kernels/png.py's unfilter, restated here over the
    PDF parameterization (Colors / BitsPerComponent / Columns decide
    the row length and the left-neighbor distance ``bpp``). Content
    streams are small, so the per-row loop is fine.
    """
    if predictor <= 1:
        return data
    if predictor == 2:
        if bpc != 8:
            raise NotImplementedError(
                f"TIFF predictor with BitsPerComponent {bpc} not supported"
            )
        row = columns * colors
        if row == 0 or len(data) % row:
            raise ValueError("pdf: TIFF predictor row misalignment")
        a = np.frombuffer(data, np.uint8).reshape(-1, columns, colors)
        return (np.cumsum(a.astype(np.int64), axis=1) % 256).astype(
            np.uint8
        ).tobytes()
    if not 10 <= predictor <= 15:
        raise ValueError(f"pdf: unknown /Predictor {predictor}")
    rowlen = (columns * colors * bpc + 7) // 8
    bpp = max(1, (colors * bpc + 7) // 8)
    stride = rowlen + 1
    if rowlen == 0 or len(data) % stride:
        raise ValueError("pdf: PNG predictor row misalignment")
    raw = np.frombuffer(data, np.uint8).reshape(-1, stride)
    prev = np.zeros(rowlen, np.int64)
    out = []
    for y in range(raw.shape[0]):
        t = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int64)
        if t == 0:
            pass
        elif t == 1:
            for x in range(bpp, rowlen):
                line[x] = (line[x] + line[x - bpp]) % 256
        elif t == 2:
            line = (line + prev) % 256
        elif t == 3:
            for x in range(rowlen):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + (left + prev[x]) // 2) % 256
        elif t == 4:
            for x in range(rowlen):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pr) % 256
        else:
            raise ValueError(f"pdf: bad PNG row filter type {t}")
        prev = line
        out.append(line.astype(np.uint8).tobytes())
    return b"".join(out)


_STREAM_DECODERS = {
    b"FlateDecode": _flate,
    b"Fl": _flate,
    b"LZWDecode": _lzw,
    b"LZW": _lzw,
    b"ASCIIHexDecode": _asciihex,
    b"AHx": _asciihex,
    b"ASCII85Decode": _ascii85,
    b"A85": _ascii85,
    b"RunLengthDecode": _runlength,
    b"RL": _runlength,
}


def extract_pdf_text(buf: bytes) -> str:
    """All page text, lines per Td/TD/T*, pages joined with \\n."""
    if b"%PDF" not in buf[:1024]:
        raise ValueError("not a PDF")
    lines: list[str] = []
    for meta, stream in _iter_streams(buf):
        if b"/Filter" in meta:
            # /DecodeParms /Predictor streams (PNG filters 10-15, TIFF
            # 2) are DECODED now (round 4 — _unpredict; ADVICE r3 had
            # them refused): the PNG row math is the same as
            # kernels/png.py's unfilter. Declared-non-content streams
            # skip early as before — /Type /XRef (every PDF 1.5+
            # cross-reference stream ships Predictor 12), /Type
            # /ObjStm, /Subtype /Image and /Type /Metadata carry no
            # text operators, so un-predicting them is wasted work and
            # their exotic params would only add failure modes.
            pred = re.search(rb"/Predictor\s+(\d+)", meta)
            pred_val = int(pred.group(1)) if pred else 1
            if pred_val > 1 and re.search(
                rb"/Type\s*/(XRef|ObjStm|Metadata)\b|/Subtype\s*/Image\b",
                meta,
            ):
                continue  # predictor-coded non-text: skip stream
            # filters apply in DECLARED order (PDF 1.7 §7.4.1): the
            # first name is the outermost encoding on the bytes
            arr = re.search(rb"/Filter\s*\[([^\]]*)\]", meta)
            if arr:
                filters = re.findall(rb"/(\w+)", arr.group(1))
            else:
                one = re.search(rb"/Filter\s*/(\w+)", meta)
                filters = [one.group(1)] if one else []
            for f in filters:
                dec = _STREAM_DECODERS.get(f)
                if dec is None:
                    raise NotImplementedError(
                        "unsupported PDF stream filter: "
                        + f.decode("latin-1", "replace")
                        + " (image codec filters carry pixels, not text)"
                    )
                stream = dec(stream)
            if pred_val > 1:

                def _parm(name: bytes, default: int) -> int:
                    m2 = re.search(name + rb"\s+(\d+)", meta)
                    return int(m2.group(1)) if m2 else default

                stream = _unpredict(
                    stream,
                    pred_val,
                    _parm(rb"/Colors", 1),
                    _parm(rb"/BitsPerComponent", 8),
                    _parm(rb"/Columns", 1),
                )
        if b"BT" not in stream:
            continue
        cur: list[str] = []
        started = False
        for sm in _SHOW.finditer(stream):
            if sm.group(4):  # Td/TD/T*
                if started and cur:
                    lines.append("".join(cur))
                    cur = []
                started = True
            elif sm.group(1):
                if sm.group(2) in (b"'", b'"'):
                    # PDF 9.4.3: ' is T* + show and " is aw ac set +
                    # T* + show — both ADVANCE TO THE NEXT LINE before
                    # showing, so any pending text closes as its own
                    # line first (treating them as bare shows glued
                    # consecutive lines together).
                    if cur:
                        lines.append("".join(cur))
                        cur = []
                    started = True
                cur.append(_unescape(sm.group(1)))
            elif sm.group(3) is not None:
                for ts in _TJ_STR.finditer(sm.group(3)):
                    cur.append(_unescape(ts.group(0)))
        if cur:
            lines.append("".join(cur))
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------

PDF_TEXT_PERMISSIVE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("extracted", StringType()),
        StructField("error", StringType()),
    ]
)


def extract_pdf_df(df: DataFrame, pdf_col: str = "pdf") -> DataFrame:
    """(doc_id, pdf binary) -> (doc_id, extracted, error).

    A corrupt document yields extracted=NULL + an error string instead
    of failing the task — at scale one malformed row must never kill a
    10^12-row stage; the error column is the dead-letter channel
    (filter `error IS NOT NULL` into a quarantine table).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts: list[str | None] = []
            errs: list[str | None] = []
            for b in pdf[pdf_col]:
                try:
                    texts.append(extract_pdf_text(bytes(b)))
                    errs.append(None)
                except Exception as exc:  # noqa: BLE001 — dead-letter
                    texts.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}"[:200])
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "extracted": texts, "error": errs}
            )

    return df.mapInPandas(run, PDF_TEXT_PERMISSIVE_SCHEMA)


# ---------------------------------------------------------------------------
# /Info document metadata (title/author/dates without any page parse)
# ---------------------------------------------------------------------------

_TRAILER_INFO = re.compile(rb"/Info\s+(\d+)\s+0\s+R")
_PDF_DATE = re.compile(
    rb"D:(\d{4})(\d{2})(\d{2})(\d{2})?(\d{2})?(\d{2})?")


def _info_str(body: bytes, key: bytes) -> str:
    m = re.search(rb"/" + key + rb"\s*\(((?:[^()\\]|\\.)*)\)", body)
    if not m:
        return ""
    raw = m.group(1)
    return (
        raw.replace(b"\\(", b"(").replace(b"\\)", b")")
        .replace(b"\\\\", b"\\").decode("latin-1")
    )


def parse_pdf_info(buf: bytes) -> dict:
    """Harvest the trailer's /Info dictionary — title, author,
    creation date — with ZERO page parsing: the trailer names the
    object, the object is a flat dict of literal strings. The PDF
    date form ``D:YYYYMMDDHHmmSS`` normalizes to an ISO string
    (missing time components default to 00 per PDF 1.7 §7.9.4);
    documents without /Info return has_info=0 sentinels."""
    out = {
        "has_info": 0, "title": "", "author": "", "creation_iso": "",
    }
    m = _TRAILER_INFO.search(buf)
    if not m:
        return out
    num = int(m.group(1))
    om = re.search(
        rb"(?:^|\n)%d 0 obj\s*(.*?)\s*endobj" % num, buf, re.S)
    if not om:
        return out
    body = om.group(1)
    out["has_info"] = 1
    out["title"] = _info_str(body, b"Title")
    out["author"] = _info_str(body, b"Author")
    dm = _PDF_DATE.search(body)
    if dm:
        y, mo, dy = dm.group(1), dm.group(2), dm.group(3)
        hh = dm.group(4) or b"00"
        mi = dm.group(5) or b"00"
        ss = dm.group(6) or b"00"
        out["creation_iso"] = (
            b"%s-%s-%sT%s:%s:%s" % (y, mo, dy, hh, mi, ss)
        ).decode("ascii")
    return out
