"""Cross-round regression goldens: absolute pinned hashes.

The rest of the suite verifies RELATIVE properties (ours == compiled C,
Spark == in-process, Spark == DuckDB). These constants pin today's
verified outputs ABSOLUTELY, so a future refactor that changes both
sides of a relative check in the same wrong way — or an environment
drift (numpy/libm/Spark version) that silently shifts results — fails
loudly here. If one of these fails after an intentional semantic
change, re-derive the constant and say why in the commit message.
"""

from __future__ import annotations

import hashlib

EXTRACTION_GOLDEN = "5ae324798ed491e235325d4df5d0c60f"
BATTERY_GOLDEN = "71d138d5355658c0dfbb08d7b1006200"
GRAFIX_GOLDEN = "91e1b6c7c9342912ab696a5df4119e3c"
SCAN_FEATURES_GOLDEN = "266160cda35536d89f884e174f8ce85f"


def test_extraction_pipeline_golden(spark):
    from ocr_spark.operators.pipeline import extract_pages
    from ocr_spark.sources.corpus import pages_df

    pages = pages_df(spark, 64, seed=42, embed_scan=True, scan_shape=(64, 96))
    rows = sorted(
        (r.url, r.extracted)
        for r in extract_pages(pages).select("url", "extracted").collect()
    )
    assert hashlib.md5(repr(rows).encode()).hexdigest() == EXTRACTION_GOLDEN


def test_scan_features_golden(spark):
    """Literal pin of every OCR feature the pipeline emits, so a change
    that moves both ocr_page and the UDF the same way still fails."""
    from ocr_spark.operators.pipeline import extract_pages
    from ocr_spark.sources.corpus import pages_df

    pages = pages_df(spark, 64, seed=42, embed_scan=True, scan_shape=(64, 96))
    cols = ("url", "scan_width", "scan_height", "graythr", "black", "white",
            "thickness", "skew_deg", "n_lines", "n_glyphs", "ink_ratio")
    rows = sorted(tuple(r) for r in extract_pages(pages).select(*cols).collect())
    assert len(rows) == 64
    assert hashlib.md5(repr(rows).encode()).hexdigest() == SCAN_FEATURES_GOLDEN


def test_kernel_battery_golden(spark):
    from ocr_spark.queries import QUERIES

    batt = sorted(
        (r.key, r.op, r.img_md5, r.h, r.w)
        for r in QUERIES["px_kernel_checksums"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert len(batt) == 216
    assert hashlib.md5(repr(batt).encode()).hexdigest() == BATTERY_GOLDEN


def test_grafix_program_golden(spark):
    from ocr_spark.queries import QUERIES

    g = sorted(
        (r.pag, r.img_md5, r.h, r.w)
        for r in QUERIES["px_grafix_program"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert hashlib.md5(repr(g).encode()).hexdigest() == GRAFIX_GOLDEN
