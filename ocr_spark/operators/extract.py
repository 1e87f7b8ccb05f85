"""Spark stages for main-content extraction.

The hot path is: parquet/Iceberg scan -> (Catalyst-pushed) filters ->
ONE Arrow-batched pandas UDF that runs the stdlib DOM parser per page.
HTML parsing is inherently per-document Python work, but it crosses the
JVM<->Python boundary as Arrow columnar batches (no row-at-a-time UDF
API anywhere), which is the sanctioned fast path for string-heavy
stages. Everything before and after the UDF stays in whole-stage
codegen.

Scale notes (100 TB):
- the html binary column dominates I/O; callers must project it away
  as soon as the UDF has run (done here via .drop), so downstream
  shuffles move only extracted text;
- `salted_repartition` defuses Common-Crawl host skew before any
  host-keyed wide stage: partition key is xxhash64(url, salt), never
  the raw host.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from ocr_spark.functions.html_extract import extract_embedded_pnm, extract_main_text


@F.pandas_udf(StringType())
def main_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_main_text)


@F.pandas_udf(BinaryType())
def embedded_pnm_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_embedded_pnm)


@F.pandas_udf(StringType())
def recall_extract_udf(html: pd.Series) -> pd.Series:
    """Recall-mode extraction: same block parser, looser gates
    (min_chars 10, link density <= 0.6) — keeps borderline blocks the
    normative precision mode drops. Boilerplate ancestry still
    excludes (that's structural, not a threshold)."""
    from ocr_spark.functions.html_extract import extract_main_text

    return html.map(
        lambda h: extract_main_text(h, min_chars=10, max_link_density=0.6)
    )


@F.pandas_udf(StringType())
def markdown_udf(html: pd.Series) -> pd.Series:
    """HTML -> Markdown rendering (functions/markdown.py) — Arrow-
    batched, runs beside the extraction UDF in the same stage."""
    from ocr_spark.functions.markdown import html_to_markdown

    return html.map(html_to_markdown)


@F.pandas_udf(StringType())
def ace_host_udf(hosts: pd.Series) -> pd.Series:
    """IDN host -> ASCII (xn-- ACE) via CPython's punycode codec; the
    oracle twin is the from-scratch RFC 3492 encoder in functions/
    puny.py. ASCII labels (the overwhelming common case) short-circuit."""

    def enc(h: str | None) -> str | None:
        if h is None:  # null hosts are routine in crawl data
            return None
        out = []
        for label in h.lower().split("."):
            if all(ord(c) < 128 for c in label):
                out.append(label)
            else:
                out.append("xn--" + label.encode("punycode").decode("ascii"))
        return ".".join(out)

    return hosts.map(enc)


@F.pandas_udf(StringType())
def pct_normalize_udf(urls: pd.Series) -> pd.Series:
    """RFC 3986 §6.2.2 percent-encoding normalization: decode escapes
    of UNRESERVED characters (ALPHA / DIGIT / - . _ ~ — §2.3, which
    must never stay encoded for url equivalence), uppercase the hex of
    every other escape (%2f -> %2F), and leave malformed sequences
    (truncated '%', non-hex digits) byte-for-byte alone — a crawl must
    not "repair" urls it would then fail to refetch. A character scan,
    not a regex: case-mapping a capture group is inexpressible in
    either engine's regexp_replace, so the oracle twins are
    construction-derived."""
    _UNRESERVED = set(
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
        "0123456789-._~"
    )
    _HEX = set("0123456789abcdefABCDEF")

    def norm(u: str | None) -> str | None:
        if u is None:
            return None
        out = []
        i = 0
        n = len(u)
        while i < n:
            c = u[i]
            if c == "%" and i + 2 < n and u[i + 1] in _HEX and u[i + 2] in _HEX:
                dec = chr(int(u[i + 1 : i + 3], 16))
                if dec in _UNRESERVED:
                    out.append(dec)
                else:
                    out.append("%" + u[i + 1 : i + 3].upper())
                i += 3
            else:
                out.append(c)
                i += 1
        return "".join(out)

    return urls.map(norm)


@F.pandas_udf(StringType())
def nfc_udf(text: pd.Series) -> pd.Series:
    """Unicode NFC (UAX #15) — Arrow-batched; the normalization tables
    live in CPython's unicodedata, so this is the one text-cleanup pass
    that can't be a JVM Column expression. Oracle-checked against
    DuckDB's independent utf8proc implementation (unicode_nfc_extract)."""
    import unicodedata

    return text.map(
        lambda t: None if t is None else unicodedata.normalize("NFC", t)
    )


# Optimizer fence, NOT a semantic statement: the extractor is pure, but
# marked deterministic it is fair game for predicate pushdown, and
# Catalyst will push a quality filter below the input-spreading
# Exchange by CLONING the UDF there — the pre-shuffle copy's output is
# then dropped and the corpus is extracted TWICE (measured on the
# composed pipeline: two ArrowEvalPython nodes, 2.2s vs 0.8s at sf0.1).
# A ~100µs/row UDF is never worth duplicating to save shuffle rows.
_main_text_udf_fenced = main_text_udf.asNondeterministic()


def main_text_expr(html_col: Column) -> Column:
    """The fenced (asNondeterministic) main-text UDF as a Column —
    the public form for callers that need it INSIDE a projection
    (e.g. fused with a second UDF into one ArrowEvalPython stage)."""
    return _main_text_udf_fenced(html_col)


def with_main_text(df: DataFrame, html_col: str = "html", out: str = "extracted") -> DataFrame:
    return df.withColumn(out, _main_text_udf_fenced(F.col(html_col)))


def with_embedded_scan(df: DataFrame, html_col: str = "html", out: str = "scan") -> DataFrame:
    return df.withColumn(out, embedded_pnm_udf(F.col(html_col)))


def salted_repartition(df: DataFrame, partitions: int, *cols: str, salt_buckets: int = 16) -> DataFrame:
    """Repartition on xxhash64(cols..., salt) — the skew-defusal contract.

    A pure repartition on host/url hash alone still lands a mega-host in
    one partition; the extra per-row salt term spreads identical keys
    over `salt_buckets` partitions. Downstream per-page stages are
    embarrassingly parallel, so the salt needs no unsalting step.
    """
    key_cols = [F.col(c) for c in cols] or [F.col("url")]
    salt = F.pmod(F.xxhash64(*key_cols, F.monotonically_increasing_id()), F.lit(salt_buckets))
    return df.repartition(partitions, F.xxhash64(*key_cols), salt)


def html_escape_expr(col: Column) -> Column:
    """JVM-side &/</> escaping, the inverse of what the DOM parser unescapes."""
    c = F.regexp_replace(col, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    return F.regexp_replace(c, ">", "&gt;")


def doc_url() -> Column:
    """The corpus url of a `documents` row:
    https://host{doc_id % 97}.example/d{doc_id}."""
    return F.concat(
        F.lit("https://host"), (F.col("doc_id") % 97).cast("string"),
        F.lit(".example/d"), F.col("doc_id").cast("string"),
    )


def documents_as_pages(df: DataFrame) -> DataFrame:
    """Wrap the testdata `documents` table as a pages corpus, JVM-side.

    url/warc_ts/html are built with Column expressions (whole-stage
    codegen, no Python), so the only Python crossing in the flagship
    query is the extraction UDF itself.
    """
    # a single-file documents table would otherwise become ONE split and
    # serialize the downstream UDF onto one core; spread rows before the
    # page synthesis (uniform key — no skew)
    par = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(par, "doc_id")
    html = F.concat(
        F.lit(
            '<!DOCTYPE html><html><head><title>d</title><script>var x=1;</script></head>'
            '<body><header><h1>gazette</h1></header>'
            '<nav><a href="/home">home</a> <a href="/tags">tags</a> <a href="/rss">rss</a></nav>'
            "<main><p>"
        ),
        html_escape_expr(F.col("text")),
        F.lit(
            '</p></main><div class="promo">subscribe</div>'
            "<footer><p>© 2025 example — all rights reserved</p></footer></body></html>"
        ),
    ).cast("binary")
    return df.select(
        F.col("doc_id"),
        doc_url().alias("url"),
        html.alias("html"),
        F.col("lang"),
        F.col("text").alias("expected_text"),
    )


def table_cells(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Structured-table extraction: parse every ``<table>`` row/cell of
    each page into long-form rows ``(url, row_idx, col_idx, cell)`` —
    the stage that turns embedded HTML tables into a relational column
    for downstream joins (the layout-parse half of the north rule,
    next to the DOM-density main-text path).

    Pure codegen dataflow: two regexp_extract_all + posexplode passes,
    no python stage — <tr> bodies first, then <th>/<td> cells within
    each row. Non-greedy matches keep nested markup out of cells;
    cells are emitted verbatim (entity decode is with_main_text's
    job). Scale: output is a narrow explode of the scan, pipelined in
    the same stage — no shuffle at all.
    """
    rows = pages.select(
        "url",
        F.posexplode(
            F.expr(f"regexp_extract_all({html_col}, '<tr>(.*?)</tr>', 1)")
        ).alias("row_idx", "tr"),
    )
    return rows.select(
        "url",
        F.col("row_idx").cast("bigint").alias("row_idx"),
        F.posexplode(
            F.expr("regexp_extract_all(tr, '<t[dh]>(.*?)</t[dh]>', 1)")
        ).alias("col_idx", "cell"),
    ).select(
        "url",
        "row_idx",
        F.col("col_idx").cast("bigint").alias("col_idx"),
        "cell",
    )


def page_metadata(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Head-metadata extraction: <title>, OpenGraph title, meta
    description, rel=canonical href, and the robots-noindex gate — the
    fields an index/curation pipeline reads before (or instead of)
    full main-text extraction.

    All five are single regexp_extract codegen expressions over the
    scan (missing fields come out as '' in BOTH Spark and DuckDB —
    verified dialect behavior), so the operator is shuffle-free and
    composes into the extraction scan stage.
    """
    h = F.col(html_col)
    return pages.select(
        "url",
        F.regexp_extract(h, "<title>(.*?)</title>", 1).alias("title"),
        F.regexp_extract(
            h, '<meta property="og:title" content="(.*?)"', 1
        ).alias("og_title"),
        F.regexp_extract(
            h, '<meta name="description" content="(.*?)"', 1
        ).alias("description"),
        F.regexp_extract(
            h, '<link rel="canonical" href="(.*?)"', 1
        ).alias("canonical"),
        h.contains('<meta name="robots" content="noindex"')
        .cast("long")
        .alias("noindex"),
    )


def sitemap_entries(sitemaps: DataFrame, xml_col: str = "xml") -> DataFrame:
    """Sitemap-XML parsing: explode <url> blocks into
    (sitemap_url, entry_idx, loc, lastmod) rows; lastmod is '' when the
    optional tag is absent. Same two-level regexp/posexplode shape as
    table_cells — block extraction first so per-entry fields can't
    cross-match between entries. Shuffle-free."""
    blocks = sitemaps.select(
        F.col("url").alias("sitemap_url"),
        F.posexplode(
            F.expr(f"regexp_extract_all({xml_col}, '<url>(.*?)</url>', 1)")
        ).alias("entry_idx", "block"),
    )
    return blocks.select(
        "sitemap_url",
        F.col("entry_idx").cast("bigint").alias("entry_idx"),
        F.regexp_extract("block", "<loc>(.*?)</loc>", 1).alias("loc"),
        F.regexp_extract("block", "<lastmod>(.*?)</lastmod>", 1).alias(
            "lastmod"
        ),
    )


# Named-entity decode order matters: '&amp;' must decode LAST or
# double-encoded entities ('&amp;lt;') would wrongly decode twice;
# this chain reproduces html.unescape for the named subset exactly
# (pinned by test against the stdlib).
HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def html_unescape_col(col: Column) -> Column:
    """Codegen HTML entity decode for the six entities that dominate
    web text (full numeric-entity decode stays in the python DOM
    parser — a codegen chain cannot evaluate &#NNN; arithmetically).
    A replace chain is whole-stage-codegen JVM string work, so pages
    that only need entity cleanup never pay the Arrow/python hop.
    """
    out = col
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


# ---------------------------------------------------------------------------
# charset-aware extraction (legacy-encoding payloads)
# ---------------------------------------------------------------------------

CHARSET_EXTRACT_SCHEMA = (
    "doc_id INT, charset STRING, n_chars INT, text_md5 STRING, error STRING"
)


def charset_extract(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Sniff-decode raw page bytes (BOM > HTTP Content-Type charset >
    meta prescan > utf-8 probe > cp1252 fallback —
    functions/html_extract.sniff_decode) and run the normative
    main-content extraction on the decoded text, emitting the codec the
    sniffer chose plus an md5 fingerprint of the extracted text (utf-8
    bytes). If the input carries a ``content_type`` column (the WARC
    path does), its charset parameter takes the transport-layer slot in
    the sniff order. One Arrow-batched mapInPandas, same stage shape as
    with_main_text; the html binary never survives the stage."""
    import hashlib
    from typing import Iterator

    from ocr_spark.functions.html_extract import sniff_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            ctypes = (
                pdf["content_type"]
                if "content_type" in pdf.columns
                else pd.Series([None] * len(pdf))
            )
            for doc_id, payload, ctype in zip(pdf["doc_id"], pdf[html_col], ctypes):
                # dead-letter, never kill the stage: the WARC parser
                # emits html=None rows for corrupt records (same
                # convention as image_features)
                if payload is None:
                    rows.append((int(doc_id), None, None, None, "null payload"))
                    continue
                try:
                    text, charset = sniff_decode(
                        bytes(payload), None if ctype is None else str(ctype)
                    )
                    main = extract_main_text(text)
                except Exception as e:  # noqa: BLE001 — dead-letter row
                    rows.append((int(doc_id), None, None, None, repr(e)[:200]))
                    continue
                rows.append(
                    (
                        int(doc_id),
                        charset,
                        len(main),
                        hashlib.md5(main.encode("utf-8")).hexdigest(),
                        None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "charset", "n_chars", "text_md5", "error"],
            )

    return df.mapInPandas(run, CHARSET_EXTRACT_SCHEMA)
