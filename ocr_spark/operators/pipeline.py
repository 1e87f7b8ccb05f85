"""The flagship end-to-end extraction pipeline.

pages (url, warc_ts, html, text, lang)
  -> DOM-path text-density boilerplate strip        (extract.py UDF)
  -> embedded scan payload decode                   (extract.py UDF)
  -> fused OCR chain: fix-bg, stats, bin auto, deskew,
     projection-profile line bands, CCL glyph boxes (stages.py UDF),
     run per Arrow batch over same-shape stacks of scans capped at
     stages.STACK_BYTES; a corrupt scan gives null scan features
  -> (url, warc_ts, lang, extracted, scan features...)

Scale contract:
- the html binary column is dropped immediately after the UDF
  projection (column pruning keeps downstream exchanges payload-free);
- the whole pipeline is ONE narrow stage: scan -> project -> UDFs,
  no shuffle anywhere (verified in tests/test_plans.py);
- callers needing host-keyed stages salt first via
  extract.salted_repartition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.extract import embedded_pnm_udf, main_text_udf
from ocr_spark.operators.stages import scan_features_udf


def extract_pages(pages: DataFrame, with_scan_features: bool = True) -> DataFrame:
    """Full extraction over a pages table (BASELINE.json input_hint)."""
    cols = [
        F.col("url"),
        F.col("warc_ts"),
        F.col("lang"),
        main_text_udf(F.col("html")).alias("extracted"),
    ]
    if with_scan_features:
        cols.append(scan_features_udf(embedded_pnm_udf(F.col("html"))).alias("scan"))
    out = pages.select(*cols)
    if with_scan_features:
        out = out.select(
            "url", "warc_ts", "lang", "extracted",
            F.col("scan.width").alias("scan_width"),
            F.col("scan.height").alias("scan_height"),
            F.col("scan.graythr").alias("graythr"),
            F.col("scan.black").alias("black"),
            F.col("scan.white").alias("white"),
            F.col("scan.thickness").alias("thickness"),
            F.col("scan.skew_deg").alias("skew_deg"),
            F.col("scan.n_lines").alias("n_lines"),
            F.col("scan.n_glyphs").alias("n_glyphs"),
            F.col("scan.ink_ratio").alias("ink_ratio"),
        )
    return out
