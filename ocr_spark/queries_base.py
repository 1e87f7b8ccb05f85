"""Query registry: one entry per engine capability, with DuckDB oracles.

Each QUERIES[name] is a callable (spark, sf_dir) -> DataFrame; each
ORACLE[name] is ANSI SQL DuckDB runs over the same parquet tables.
Column names/aliases are identical on both sides (the driver hashes
values after sorting columns by name). Float aggregates are rounded on
BOTH sides to absorb association-order drift between engines.

Design rules (scale-first):
- built-in Column expressions wherever semantics allow (JVM codegen);
- Python only via Arrow-batched pandas UDFs (html parsing, pixels);
- small dimensions are broadcast explicitly; wide joins get keys that
  Catalyst/AQE can reorder and skew-split.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.extract import doc_url, documents_as_pages, with_main_text
from ocr_spark.sources.catalog import stage  # noqa: F401 — the parts' lineage cut
from ocr_spark.sources.tables import load_table as _load_table_impl

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Late-binding table loader for the split registry: resolves
    through the ``ocr_spark.queries`` facade at CALL time, so tests
    that ``mock.patch.object`` the facade's ``load_table`` reach every
    query regardless of which qparts module its body lives in (each
    part's globals hold a reference copied at import time — a direct
    import would freeze the unpatched function into every part)."""
    import ocr_spark.queries as _facade

    patched = getattr(_facade, "load_table", load_table)
    if patched is not load_table:
        return patched(spark, sf_dir, name)
    return _load_table_impl(spark, sf_dir, name)


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
