"""WARC (Web ARChive) source — the container format Common Crawl
actually ships (ISO 28500): a concatenation of records, each a header
block (``WARC/1.0`` + name:value lines), CRLF CRLF, a Content-Length
byte payload, CRLF CRLF.

Reader contract: ``read_warc(spark, path)`` -> one row per *response*
record ``(url, warc_ts, html, warc_file, record_offset)`` — exactly the
input_hint page-table shape plus provenance columns for lineage.
Parsing walks Content-Length (never regex-splits the payload, which is
binary and can contain anything, including "WARC/1.0"). A malformed
record ends its file's parse and emits a dead-letter row (error column)
instead of failing the task — at 10^12 records one truncated file must
never kill a stage.

Scale shape: the unit of parallelism is the WARC file — a real crawl is
tens of thousands of ~1 GiB files, so ``binaryFile`` + mapInPandas
(one file per Arrow batch row) keeps every executor on whole files with
zero shuffle. For multi-GiB members a production build would swap the
per-file load for a range-reading datasource; the row contract is
unchanged.

The writer exists to build deterministic fixtures (same policy as
functions/pdf_extract.make_pdf) and round-trips bit-exactly.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ocr_spark.sources.catalog import stage

CRLF = b"\r\n"

_REVISIT_PROFILE = "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"


def payload_digest(payload: bytes) -> str:
    """``sha1:<base32>`` over the payload bytes — the exact convention
    Common Crawl's WARC-Payload-Digest headers and CDX ``digest`` field
    use (RFC 4648 base32, uppercase, no padding stripping needed for
    sha1's 160 bits)."""
    import base64
    import hashlib

    return "sha1:" + base64.b32encode(hashlib.sha1(payload).digest()).decode()


def make_warc(records: list[tuple]) -> bytes:
    """Build a WARC/1.0 byte stream from (url, iso_ts, html) triples —
    optionally extended with an HTTP Content-Type value (4th element,
    e.g. ``"text/html; charset=windows-1252"``; default ``text/html``),
    an HTTP status line (5th, e.g. ``"301 Moved Permanently"``;
    default ``200 OK``), and extra HTTP headers (6th, a list of
    ``(name, value)`` strings — e.g. ``[("Location", ...)]`` on a
    redirect).

    Each record is a ``response`` with an HTTP/1.1 header and a
    ``WARC-Payload-Digest`` (sha1 base32 of the entity body as stored
    — the Common Crawl convention); the stored Content-Length covers
    the full HTTP block, per the spec.
    """
    out = bytearray()
    for rec in records:
        url, ts, html = rec[0], rec[1], rec[2]
        ctype = rec[3] if len(rec) > 3 else "text/html"
        status = rec[4] if len(rec) > 4 else "200 OK"
        extra = rec[5] if len(rec) > 5 else []
        http = (
            b"HTTP/1.1 " + status.encode("latin-1") + CRLF
            + b"Content-Type: " + ctype.encode("latin-1") + CRLF
            + b"".join(
                k.encode("latin-1") + b": " + v.encode("latin-1") + CRLF
                for k, v in extra
            )
            + b"Content-Length: " + str(len(html)).encode() + CRLF
            + CRLF
            + html
        )
        hdr = (
            b"WARC/1.0" + CRLF
            + b"WARC-Type: response" + CRLF
            + b"WARC-Target-URI: " + url.encode() + CRLF
            + b"WARC-Date: " + ts.encode() + CRLF
            + b"WARC-Payload-Digest: " + payload_digest(html).encode() + CRLF
            + b"Content-Type: application/http; msgtype=response" + CRLF
            + b"Content-Length: " + str(len(http)).encode() + CRLF
            + CRLF
        )
        out += hdr + http + CRLF + CRLF
    return bytes(out)


def make_revisit(
    url: str,
    ts: str,
    digest: str,
    refers_to_uri: str,
    refers_to_ts: str,
) -> bytes:
    """One ``revisit`` record (identical-payload-digest profile): the
    crawler refetched ``url``, saw a payload whose digest matches an
    earlier capture, and stored only the HTTP headers plus a pointer —
    this is how real crawls avoid re-storing duplicate bytes, and the
    reader side must resolve the pointer to reconstruct content."""
    http = (
        b"HTTP/1.1 200 OK" + CRLF
        + b"Content-Type: text/html" + CRLF
        + CRLF
    )
    hdr = (
        b"WARC/1.0" + CRLF
        + b"WARC-Type: revisit" + CRLF
        + b"WARC-Target-URI: " + url.encode() + CRLF
        + b"WARC-Date: " + ts.encode() + CRLF
        + b"WARC-Profile: " + _REVISIT_PROFILE.encode() + CRLF
        + b"WARC-Payload-Digest: " + digest.encode() + CRLF
        + b"WARC-Refers-To-Target-URI: " + refers_to_uri.encode() + CRLF
        + b"WARC-Refers-To-Date: " + refers_to_ts.encode() + CRLF
        + b"Content-Type: application/http; msgtype=response" + CRLF
        + b"Content-Length: " + str(len(http)).encode() + CRLF
        + CRLF
    )
    return bytes(hdr + http + CRLF + CRLF)


def make_wet(records: list[tuple[str, str, str]]) -> bytes:
    """WET-style extracted-text stream: one ``conversion`` record per
    (url, iso_ts, text) — the derived-text sibling format Common Crawl
    publishes next to each WARC. The payload is bare utf-8 text (no
    HTTP block; Content-Type ``text/plain``), and ``WARC-Refers-To-
    Target-URI`` points back at the source capture for lineage."""
    out = bytearray()
    for url, ts, text in records:
        body = text.encode("utf-8")
        hdr = (
            b"WARC/1.0" + CRLF
            + b"WARC-Type: conversion" + CRLF
            + b"WARC-Target-URI: " + url.encode() + CRLF
            + b"WARC-Date: " + ts.encode() + CRLF
            + b"WARC-Refers-To-Target-URI: " + url.encode() + CRLF
            + b"WARC-Payload-Digest: " + payload_digest(body).encode() + CRLF
            + b"Content-Type: text/plain" + CRLF
            + b"Content-Length: " + str(len(body)).encode() + CRLF
            + CRLF
        )
        out += hdr + body + CRLF + CRLF
    return bytes(out)


def gzip_members(records: list[tuple[str, str, bytes]]) -> bytes:
    """A .warc.gz stream: each record its own gzip member (the Common
    Crawl layout — member boundaries let a range request decompress one
    record without its neighbors)."""
    import gzip

    out = bytearray()
    for rec in records:
        out += gzip.compress(make_warc([rec]), 6)
    return bytes(out)


def parse_warc_auto(buf: bytes, filename: str = "") -> list[dict]:
    """Dispatch: gzipped streams parse member-by-member so that each
    row's (record_offset, record_length) address the COMPRESSED member
    — the contract CC's cluster.idx uses, which is what makes
    read_warc_ranges work on .warc.gz (seek, read the member, gunzip,
    parse). Plain streams parse directly with byte offsets."""
    if buf[:2] != b"\x1f\x8b":
        return parse_warc(buf, filename)
    import zlib

    rows: list[dict] = []
    pos = 0
    n = len(buf)
    while pos < n:
        if buf[pos : pos + 2] != b"\x1f\x8b":
            rows.append(_dead(filename, pos, "bad gzip magic"))
            break
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            plain = d.decompress(buf[pos:])
        except zlib.error:
            rows.append(_dead(filename, pos, "corrupt gzip member"))
            break
        consumed = n - pos - len(d.unused_data)
        if consumed <= 0 or not d.eof:
            rows.append(_dead(filename, pos, "truncated gzip member"))
            break
        for r in parse_warc(plain, filename):
            if r["error"] is None:
                r["record_offset"] = pos
                r["record_length"] = consumed
            rows.append(r)
        pos += consumed
    return rows


def _maybe_gunzip(buf: bytes) -> bytes:
    """Decompress a multi-member gzip stream (or pass through plain)."""
    if buf[:2] != b"\x1f\x8b":
        return buf
    import zlib

    out = bytearray()
    pos = 0
    while pos < len(buf):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out += d.decompress(buf[pos:])
        except zlib.error:
            # trailing garbage / truncated member: keep what decoded;
            # the record parser dead-letters the cut-off tail
            break
        consumed = len(buf) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return bytes(out)


def _dechunk(body: bytes) -> bytes:
    """Undo chunked Transfer-Encoding (RFC 9112 §7.1): hex-size line,
    chunk bytes, CRLF, repeated until the 0 chunk; trailers ignored."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(CRLF, pos)
        if eol < 0:
            raise ValueError("chunked body: missing size line")
        size_field = body[pos:eol].split(b";")[0].strip()  # drop extensions
        try:
            size = int(size_field, 16)
        except ValueError:
            raise ValueError(
                f"chunked body: bad size line {size_field[:20]!r}"
            ) from None
        pos = eol + 2
        if size == 0:
            return bytes(out)  # trailers (if any) are ignored
        if pos + size + 2 > len(body):
            raise ValueError("chunked body: truncated chunk")
        out += body[pos : pos + size]
        if body[pos + size : pos + size + 2] != CRLF:
            raise ValueError("chunked body: missing chunk CRLF")
        pos += size + 2


def _decode_http_body(http_headers: dict[bytes, str], body: bytes) -> bytes:
    """Undo HTTP framing/compression on a response payload: chunked
    Transfer-Encoding first (the outermost layer on the wire), then
    gzip / deflate Content-Encoding (deflate tries zlib-wrapped first,
    then the raw stream some servers send). identity/absent pass
    through; unsupported codings (br, zstd, compress) raise so the
    caller dead-letters the record instead of piping compressed bytes
    into the DOM parser."""
    te = http_headers.get(b"transfer-encoding", "").lower()
    if "chunked" in te:
        body = _dechunk(body)
    ce = http_headers.get(b"content-encoding", "").strip().lower()
    if ce in ("", "identity"):
        return body
    if ce in ("gzip", "x-gzip"):
        import gzip as _gzip

        return _gzip.decompress(body)
    if ce == "deflate":
        import zlib as _zlib

        try:
            return _zlib.decompress(body)
        except _zlib.error:
            return _zlib.decompress(body, -15)  # raw-deflate servers
    raise ValueError(f"unsupported Content-Encoding: {ce}")


def parse_warc(buf: bytes, filename: str = "") -> list[dict]:
    """All response records of one WARC byte stream.

    Returns dicts (url, warc_ts, html, warc_file, record_offset,
    error); on a malformed record one error row is emitted and the rest
    of the file is skipped (offsets are unrecoverable without the
    length chain).
    """
    buf = _maybe_gunzip(buf)
    rows: list[dict] = []
    pos = 0
    n = len(buf)
    while pos < n:
        if buf[pos : pos + 5] != b"WARC/":
            rows.append(_dead(filename, pos, "bad magic"))
            break
        hdr_end = buf.find(CRLF + CRLF, pos)
        if hdr_end < 0:
            rows.append(_dead(filename, pos, "truncated header"))
            break
        headers: dict[str, str] = {}
        for line in buf[pos:hdr_end].split(CRLF)[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().decode("latin-1").lower()] = (
                v.strip().decode("latin-1")
            )
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            rows.append(_dead(filename, pos, "missing content-length"))
            break
        body_start = hdr_end + 4
        body_end = body_start + clen
        if body_end + 4 > n:
            rows.append(_dead(filename, pos, "truncated body"))
            break
        wtype = headers.get("warc-type")
        if wtype == "conversion":
            # WET-style derived-text record: bare payload, no HTTP block
            ts = headers.get("warc-date", "")
            try:
                warc_ts = datetime.fromisoformat(ts.replace("Z", "+00:00"))
                warc_ts = warc_ts.astimezone(timezone.utc).replace(tzinfo=None)
            except ValueError:
                warc_ts = None
            rows.append(
                {
                    "url": headers.get("warc-target-uri"),
                    "warc_ts": warc_ts,
                    "html": buf[body_start:body_end],
                    "warc_file": filename,
                    "record_offset": pos,
                    "record_length": body_end + 4 - pos,
                    "error": None,
                    "content_type": headers.get("content-type"),
                    "http_status": None,
                    "record_type": "conversion",
                    "payload_digest": headers.get("warc-payload-digest"),
                    "refers_to_uri": headers.get("warc-refers-to-target-uri"),
                    "redirect_location": None,
                }
            )
        elif wtype in ("response", "revisit"):
            body = buf[body_start:body_end]
            # strip the HTTP header block; payload follows CRLFCRLF
            sep = body.find(CRLF + CRLF)
            html = body[sep + 4 :] if sep >= 0 else body
            # keep the HTTP Content-Type (its charset parameter outranks
            # any in-band <meta> declaration in the WHATWG sniff order —
            # functions/html_extract.sniff_decode consumes it) and undo
            # the HTTP framing/compression layers: chunked
            # Transfer-Encoding, then gzip/deflate Content-Encoding.
            ctype = None
            status = None
            http_headers: dict[bytes, str] = {}
            if sep >= 0:
                head_lines = body[:sep].split(CRLF)
                # status line: HTTP/1.x NNN Reason — crawl pipelines
                # filter on it (redirects/errors carry no main content)
                sl = head_lines[0].split(b" ", 2)
                if len(sl) >= 2 and sl[0][:5] == b"HTTP/" and sl[1].isdigit():
                    status = int(sl[1])
                for hline in head_lines[1:]:
                    hk, _, hv = hline.partition(b":")
                    http_headers[hk.strip().lower()] = hv.strip().decode(
                        "latin-1"
                    )
                ctype = http_headers.get(b"content-type")
            try:
                html = _decode_http_body(http_headers, html)
            except Exception as e:  # noqa: BLE001 — per-record dead-letter
                # the record's bounds are intact (the Content-Length
                # chain is unbroken), so a body-layer failure
                # dead-letters THIS record and parsing continues
                rows.append(
                    {
                        "url": headers.get("warc-target-uri"),
                        "warc_ts": None,
                        "html": None,
                        "warc_file": filename,
                        "record_offset": pos,
                        "record_length": body_end + 4 - pos,
                        "error": f"http body: {e}"[:200],
                        "content_type": ctype,
                        "http_status": status,
                        "record_type": wtype,
                        "payload_digest": headers.get("warc-payload-digest"),
                        "refers_to_uri": headers.get(
                            "warc-refers-to-target-uri"
                        ),
                        "redirect_location": None,
                    }
                )
                pos = body_end + 4
                continue
            ts = headers.get("warc-date", "")
            try:
                warc_ts = datetime.fromisoformat(ts.replace("Z", "+00:00"))
                warc_ts = warc_ts.astimezone(timezone.utc).replace(tzinfo=None)
            except ValueError:
                warc_ts = None
            rows.append(
                {
                    "url": headers.get("warc-target-uri"),
                    "warc_ts": warc_ts,
                    # a revisit stores no payload: its content lives in
                    # the capture its digest points at (resolved by an
                    # equi-join on payload_digest downstream)
                    "html": None if wtype == "revisit" else html,
                    "warc_file": filename,
                    "record_offset": pos,
                    "record_length": body_end + 4 - pos,
                    "error": None,
                    "content_type": ctype,
                    "http_status": status,
                    "record_type": wtype,
                    "payload_digest": headers.get("warc-payload-digest"),
                    "refers_to_uri": headers.get("warc-refers-to-target-uri"),
                    # 3xx responses carry the hop target; crawl-graph
                    # queries resolve chains by pointer-jumping on it
                    "redirect_location": http_headers.get(b"location"),
                }
            )
        pos = body_end + 4  # past the record's closing CRLF CRLF
    return rows


def _dead(filename: str, pos: int, why: str) -> dict:
    return {
        "url": None,
        "warc_ts": None,
        "html": None,
        "warc_file": filename,
        "record_offset": pos,
        "record_length": 0,
        "error": why,
        "content_type": None,
        "http_status": None,
        "record_type": None,
        "payload_digest": None,
        "refers_to_uri": None,
        "redirect_location": None,
    }


WARC_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("warc_file", StringType()),
        StructField("record_offset", LongType()),
        StructField("record_length", LongType()),
        StructField("error", StringType()),
        StructField("content_type", StringType()),
        StructField("http_status", IntegerType()),
        StructField("record_type", StringType()),
        StructField("payload_digest", StringType()),
        StructField("refers_to_uri", StringType()),
        StructField("redirect_location", StringType()),
    ]
)


def resolve_revisits(pages: DataFrame) -> DataFrame:
    """Fill revisit rows' payloads from their identical-digest
    originals and tag every row with ``is_revisit``.

    Real crawls store a duplicate fetch as a ``revisit`` record —
    HTTP headers plus a WARC-Payload-Digest pointer, no body — so a
    reader that ignores them silently drops every recrawled page.
    Resolution is one equi-join: a distinct (digest, payload)
    dimension built from the response rows (payload rides as a GROUP
    KEY — identical-payload-digest makes it functionally dependent on
    the digest, and binary aggregate buffers would fall to
    SortAggregate), probed by the revisit rows.

    Scale shape: sha1 digests are uniform, so the shuffle has no skew;
    at crawl scale the dimension is the unique-payload set (already
    deduplicated by construction), and AQE broadcast-promotes it when
    a small batch of revisits resolves against it.
    """
    from pyspark.sql import functions as F

    # stage the input once: responses (twice — dim + union) and
    # revisits all derive from it, and the caller's input is typically
    # a WARC-parse Python stage that must execute once, not once per
    # consumer subtree (same discipline as resolve_redirects)
    pages = stage(pages)
    clean = pages.where(F.col("error").isNull())
    responses = clean.where(F.col("record_type") == "response")
    dim = (
        responses.where(F.col("payload_digest").isNotNull())
        .select("payload_digest", F.col("html").alias("orig_html"))
        .distinct()
    )
    revisits = clean.where(F.col("record_type") == "revisit")
    resolved = (
        revisits.drop("html")
        .join(dim, "payload_digest", "left")
        .withColumn("html", F.col("orig_html"))
        .drop("orig_html")
    )
    return responses.withColumn("is_revisit", F.lit(False)).unionByName(
        resolved.withColumn("is_revisit", F.lit(True))
    )


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files under ``path`` -> page rows (one task per file)."""
    files = spark.read.format("binaryFile").load(path)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for fname, content in zip(pdf["path"], pdf["content"]):
                out.extend(parse_warc_auto(bytes(content), fname))
            yield pd.DataFrame(
                out, columns=[f.name for f in WARC_SCHEMA.fields]
            )

    return files.select("path", "content").mapInPandas(run, WARC_SCHEMA)


def warc_index(pages: DataFrame) -> DataFrame:
    """CDX-style lookup index from parsed pages: (url, warc_file,
    record_offset, record_length).

    This is the Common Crawl access pattern: the index (tiny — 4
    scalars per page) is the only thing a url-lookup service scans;
    the WARC payload bytes are fetched later by RANGE READS of exactly
    the records needed (read_warc_ranges). Offsets address the
    UNCOMPRESSED stream; for .warc.gz the writer-side member index
    plays this role (CC's cluster.idx), same contract.
    """
    from pyspark.sql import functions as F

    return pages.where(F.col("error").isNull()).select(
        "url", "warc_file", "record_offset", "record_length"
    )


def read_warc_ranges(spark: SparkSession, index: DataFrame) -> DataFrame:
    """Fetch ONLY the indexed records: seek to each (file, offset) and
    parse record_length bytes — no full-file scans.

    The executor-side open+seek touches record_length bytes per row
    (a few KB) regardless of WARC file size, so point lookups over a
    petabyte crawl cost O(rows requested). Works on both plain WARC
    (byte offsets) and .warc.gz (offsets address the gzip MEMBER, the
    cluster.idx contract — the fetched member is decompressed and
    parsed in isolation). Rows stay partitioned as the index was;
    repartitioning by warc_file first turns random seeks into
    mostly-sequential per-file access when fetching many records.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for f, off, ln in zip(
                pdf["warc_file"], pdf["record_offset"], pdf["record_length"]
            ):
                path = f[len("file:") :] if f.startswith("file:") else f
                with open(path, "rb") as fh:
                    fh.seek(int(off))
                    recs = parse_warc_auto(fh.read(int(ln)), f)
                for r in recs:  # offsets are file-absolute for lineage
                    # Error rows from .warc.gz members carry offsets in
                    # the *decompressed* buffer's address space (see
                    # parse_warc_auto) — rebasing those by the compressed
                    # seek offset would mix address spaces, so only
                    # clean rows are rebased to file-absolute.
                    if r.get("error") is None:
                        r["record_offset"] += int(off)
                out.extend(recs)
            yield pd.DataFrame(
                out, columns=[f.name for f in WARC_SCHEMA.fields]
            )

    return index.mapInPandas(run, WARC_SCHEMA)
