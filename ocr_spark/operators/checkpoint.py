"""Checkpoint manifests + resumable extraction runs (north_rule contract).

Unit of resumability: a **shard** = ``pmod(xxhash64(url), n_shards)`` —
a pure function of the row, so it never needs a join to recompute and
it partition-prunes on the output table. Shards are processed in
**waves** (a few shards per Spark job). Each wave:

1. deals its shards whole, round-robin, over at most one partition per
   task slot (``wave_input``), so the extraction's Python runs in no
   more tasks than slots and in no empty one;
2. runs the extraction once, as the input of a *dynamic partition
   overwrite* of the data table (only the wave's shard partitions are
   replaced — a re-run of a half-failed wave is idempotent, giving
   exactly-once per shard);
3. counts the shard partitions it committed, read back through the
   catalog (unless the write's observed row count is 0: then there may
   be no file to read), and appends one manifest row per shard,
   zero-row shards included, ``(shard, n_rows, n_urls, bytes, run_id,
   wave, wall_ms, docs_per_sec, wrote_at)``, built on the driver.

Because the manifest append happens strictly *after* the wave's data
commit, a crash at any point leaves shards either fully recorded or
fully absent: restart reads the manifests table, anti-joins the shard
list, and continues. On Iceberg both writes are snapshot commits and
the manifests table gains time-travel lineage for free; the parquet
fallback here exercises the identical code path (sources/tables.py
doc: the catalog swap is one adapter line).

Waves bound the failure blast radius at 10^12-document scale: one bad
wave loses minutes of work, not the job; and the per-wave manifest rows
double as the throughput telemetry the north rule asks for.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.pipeline import extract_pages
from ocr_spark.sources.catalog import get_catalog

N_SHARDS = 64

MANIFEST_SCHEMA = pa.schema([
    pa.field("shard", pa.int32()),
    pa.field("n_rows", pa.int64(), nullable=False),
    pa.field("n_urls", pa.int64(), nullable=False),
    pa.field("bytes", pa.int64(), nullable=False),
    pa.field("run_id", pa.string(), nullable=False),
    pa.field("wave", pa.int32(), nullable=False),
    pa.field("wall_ms", pa.float64(), nullable=False),
    pa.field("docs_per_sec", pa.float64()),
    pa.field("wrote_at", pa.string(), nullable=False),
])


def shard_col(n_shards: int = N_SHARDS) -> F.Column:
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_shards)).cast("int")


def completed_shards(spark: SparkSession, out_dir: str, cat=None) -> set[int]:
    cat = cat or get_catalog(spark, out_dir)
    if not cat.exists("manifests"):
        return set()
    rows = cat.read("manifests").select("shard").distinct().collect()
    return {r.shard for r in rows}


def wave_input(src: DataFrame, shards: list[int]) -> DataFrame:
    """The rows of ``src`` (which carries ``shard``) in ``shards``, dealt
    round-robin by the shard's position in the wave over
    min(len(shards), slots) partitions: each shard whole in one task, no
    empty task while every shard has rows, no more tasks than slots.

    The slot count is ``defaultParallelism`` only where it is fixed: in
    local mode, or when ``spark.default.parallelism`` is set. On a
    cluster it otherwise counts the executor cores registered so far
    (2 while executors start or scale under dynamic allocation), so
    there the wave takes one partition per shard."""
    sc = src.sparkSession.sparkContext
    fixed = (
        sc.master == "local"
        or sc.master.startswith("local[")
        or sc.getConf().contains("spark.default.parallelism")
    )
    n = min(len(shards), sc.defaultParallelism) if fixed else len(shards)
    pos = F.array_position(F.array(*map(F.lit, shards)), F.col("shard")) - 1
    return src.where(F.col("shard").isin(shards)).repartitionById(
        n, (pos % n).cast("int")
    )


def _chunk(xs: list[int], n: int) -> list[list[int]]:
    return [xs[i : i + n] for i in range(0, len(xs), n)]


def checkpointed_run(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    n_shards: int = N_SHARDS,
    shards_per_wave: int = 16,
    max_waves: int | None = None,
    extractor=None,
    catalog=None,
) -> dict:
    """Run (or resume) a manifest-checkpointed extraction.

    ``max_waves`` exists to simulate interruption in tests and to bound
    a maintenance window in production; a subsequent call resumes.
    Returns a summary dict with the shards processed this call.
    """
    extractor = extractor or (
        lambda df: extract_pages(df, with_scan_features=False)
    )
    # any object with the four catalog verbs works: the parquet/Iceberg
    # adapter (default) or sources/snapshots.SnapshotCatalog, which
    # upgrades each wave into an ATOMIC snapshot commit with
    # time-travel lineage (wave-by-wave corpus history) — the Iceberg
    # behavior, testable without the runtime jar (test_snapshots).
    cat = catalog or get_catalog(spark, out_dir)

    done = completed_shards(spark, out_dir, cat)
    todo = [s for s in range(n_shards) if s not in done]
    waves = _chunk(todo, shards_per_wave)
    if max_waves is not None:
        waves = waves[:max_waves]

    src = pages.withColumn("shard", shard_col(n_shards))
    processed: list[int] = []
    for wave_no, shards in enumerate(waves):
        t0 = time.perf_counter()
        written = Observation("wave_rows")
        out = (
            extractor(wave_input(src, shards).drop("shard"))
            .withColumn("shard", shard_col(n_shards))
            .observe(written, F.count(F.lit(1)).alias("n"))
        )
        cat.overwrite_partitions(out, "data", ["shard"])
        wall_ms = (time.perf_counter() - t0) * 1000.0
        # counted from the committed partitions: the extraction runs
        # once, inside the write, and nothing is cached. A wave that
        # wrote no row may leave the table with no file to read back.
        counts = {}
        if written.get["n"]:
            agg = (
                cat.read("data")
                .where(F.col("shard").isin(shards))
                .groupBy("shard")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.countDistinct("url").alias("n_urls"),
                    F.sum(F.octet_length("extracted")).alias("bytes"),
                )
            )
            counts = {
                r.shard: (r.n_rows, r.n_urls, r.bytes or 0)
                for r in agg.collect()
            }
        wrote_at = datetime.now(timezone.utc).isoformat()
        rows = []
        for s in shards:  # zero-row shards too, or every resume re-runs them
            n_rows, n_urls, n_bytes = counts.get(s, (0, 0, 0))
            dps = round(n_rows / (wall_ms / 1000.0), 1)
            rows.append((s, n_rows, n_urls, n_bytes, run_id, wave_no,
                         round(wall_ms, 1), dps, wrote_at))
        # built in the JVM from Arrow: no Python task, and no per-wave
        # value in generated code
        man = pa.table(list(zip(*rows)), schema=MANIFEST_SCHEMA)
        cat.append(spark.createDataFrame(man), "manifests")
        processed.extend(shards)
    return {
        "run_id": run_id,
        "resumed_from": len(done),
        "shards_processed": processed,
        "shards_remaining": len(todo) - len(processed),
    }


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return get_catalog(spark, out_dir).read("data")


def verify_complete(
    spark: SparkSession, pages: DataFrame, out_dir: str
) -> int:
    """Number of source urls missing from the checkpointed output
    (0 == complete). Left-anti join on url — the restart-safety audit."""
    got = read_extracted(spark, out_dir).select("url")
    return pages.select("url").join(got, "url", "left_anti").count()
