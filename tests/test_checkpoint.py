"""Checkpoint manifests + resume: interruption, exactly-once, idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import checkpoint as cp
from ocr_spark.sources.catalog import ParquetCatalog
from ocr_spark.sources.corpus import pages_df
from ocr_spark.sources.snapshots import SnapshotCatalog


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, 160, seed=42, embed_scan=False).cache()


def test_interrupt_then_resume_exactly_once(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ckpt"))

    # "crash" after 2 waves of 3 shards (of 12)
    first = cp.checkpointed_run(
        spark, pages, out, run_id="r1", n_shards=12, shards_per_wave=3,
        max_waves=2,
    )
    assert len(first["shards_processed"]) == 6
    assert first["shards_remaining"] == 6
    assert cp.verify_complete(spark, pages, out) > 0  # genuinely partial

    # resume: must process ONLY the remaining shards
    second = cp.checkpointed_run(
        spark, pages, out, run_id="r2", n_shards=12, shards_per_wave=3,
    )
    assert second["resumed_from"] == 6
    assert set(second["shards_processed"]).isdisjoint(first["shards_processed"])
    assert second["shards_remaining"] == 0

    # complete + exactly once per url
    assert cp.verify_complete(spark, pages, out) == 0
    got = cp.read_extracted(spark, out)
    assert got.count() == pages.count()
    assert got.select("url").distinct().count() == pages.count()

    # manifests carry full lineage: every shard exactly one row, both runs
    man = spark.read.parquet(f"{out}/manifests")
    assert man.count() == 12
    assert {r.run_id for r in man.select("run_id").distinct().collect()} == {
        "r1",
        "r2",
    }
    row = man.first()
    assert row.n_rows == row.n_urls > 0
    assert row.wall_ms > 0 and row.docs_per_sec > 0 and row.bytes > 0

    # idempotence: a third run is a no-op
    third = cp.checkpointed_run(
        spark, pages, out, run_id="r3", n_shards=12, shards_per_wave=3,
    )
    assert third["shards_processed"] == []
    assert spark.read.parquet(f"{out}/manifests").count() == 12


def test_shard_is_pure_function_of_url(spark, pages):
    a = pages.withColumn("shard", cp.shard_col(16)).select("url", "shard")
    b = pages.withColumn("shard", cp.shard_col(16)).select(
        "url", F.col("shard").alias("shard2")
    )
    joined = a.join(b, "url")
    assert joined.where(F.col("shard") != F.col("shard2")).count() == 0
    n = joined.select("shard").distinct().count()
    assert n == 16  # 160 urls spread over all 16 shards


def test_extracted_content_matches_direct_run(spark, pages, tmp_path_factory):
    from ocr_spark.operators.pipeline import extract_pages

    out = str(tmp_path_factory.mktemp("ckpt2"))
    cp.checkpointed_run(
        spark, pages, out, run_id="x", n_shards=4, shards_per_wave=4
    )
    want = {
        r.url: r.extracted
        for r in extract_pages(pages, with_scan_features=False)
        .select("url", "extracted")
        .collect()
    }
    got = {
        r.url: r.extracted
        for r in cp.read_extracted(spark, out).select("url", "extracted").collect()
    }
    assert got == want


# -- the manifest contract -------------------------------------------------

# (name, Spark type, nullable) of the manifest rows a wave appends; the
# parquet table reads every column back as nullable, an Iceberg table
# keeps the required ones
MANIFEST_COLUMNS = [
    ("shard", "int", True), ("n_rows", "bigint", False),
    ("n_urls", "bigint", False), ("bytes", "bigint", False),
    ("run_id", "string", False), ("wave", "int", False),
    ("wall_ms", "double", False), ("docs_per_sec", "double", True),
    ("wrote_at", "string", False),
]


class RecordingCatalog(ParquetCatalog):
    """The parquet catalog, keeping the schema of each manifests append."""

    def __init__(self, spark, warehouse):
        super().__init__(spark, warehouse)
        self.manifest_schemas = []

    def append(self, df, table):
        if table == "manifests":
            self.manifest_schemas.append(df.schema)
        super().append(df, table)


@pytest.fixture(scope="module")
def manifest_run(spark, tmp_path_factory):
    """A checkpointed run of the full extraction (text and scan features)
    over 24 scanned pages plus a second capture (later ``warc_ts``) of
    one of them, into 32 shards: some shards are empty, one holds a url
    twice."""
    from ocr_spark.operators.pipeline import extract_pages

    pages = pages_df(spark, 24, seed=5, embed_scan=True, scan_shape=(64, 96))
    dup_url = pages.orderBy("url").first().url
    recrawl = pages.where(F.col("url") == dup_url).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    )
    src = pages.unionByName(recrawl).cache()
    out = str(tmp_path_factory.mktemp("ckpt_manifest"))
    cat = RecordingCatalog(spark, out)
    cp.checkpointed_run(
        spark, src, out, run_id="m", n_shards=32, shards_per_wave=16,
        extractor=extract_pages, catalog=cat,
    )
    return src, out, dup_url, cat.read("manifests"), cat.manifest_schemas


def test_manifest_schema_is_pinned(manifest_run):
    _src, _out, _dup, man, appended = manifest_run
    assert [(f.name, f.dataType.simpleString()) for f in man.schema.fields] == [
        c[:2] for c in MANIFEST_COLUMNS
    ]
    assert len(appended) == 2  # one append per wave
    for schema in appended:
        assert [
            (f.name, f.dataType.simpleString(), f.nullable) for f in schema.fields
        ] == MANIFEST_COLUMNS


def test_manifest_counts_match_committed_data(spark, manifest_run):
    src, out, dup_url, man, _appended = manifest_run
    got = {r.shard: (r.n_rows, r.n_urls, r.bytes) for r in man.collect()}
    assert sorted(got) == list(range(32))  # one row per shard, none twice
    want = {
        r.shard: (r.n_rows, r.n_urls, r.bytes)
        for r in cp.read_extracted(spark, out)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("url").alias("n_urls"),
            F.sum(F.octet_length("extracted")).alias("bytes"),
        )
        .collect()
    }
    assert {s: got[s] for s in want} == want
    empty = set(got) - set(want)
    assert empty and all(got[s] == (0, 0, 0) for s in empty)
    dup_shard = src.where(F.col("url") == dup_url).select(
        cp.shard_col(32).alias("s")
    ).first().s
    n_rows, n_urls, _ = got[dup_shard]
    assert n_urls == n_rows - 1
    assert all(r[0] == r[1] for s, r in got.items() if s != dup_shard)


def test_checkpointed_rows_equal_direct_extraction(spark, manifest_run):
    from ocr_spark.operators.pipeline import extract_pages

    src, out, _dup, _man, _appended = manifest_run
    direct = extract_pages(src, with_scan_features=True)
    cols = direct.columns
    got = cp.read_extracted(spark, out).select(*cols).collect()
    want = direct.collect()
    # repr: exact floats, and a NaN feature equals itself
    assert sorted(map(repr, map(tuple, got))) == sorted(map(repr, map(tuple, want)))
    assert len(got) == 25


def test_wave_input_deals_whole_shards_one_per_slot(spark, pages):
    src = pages.withColumn("shard", cp.shard_col(12))
    n = min(3, spark.sparkContext.defaultParallelism)
    for shards in ([0, 1, 2], [3, 4, 5], [6, 7, 8], [9, 10, 11]):
        wave = cp.wave_input(src, shards)
        seen = wave.select("shard", F.spark_partition_id().alias("p")).collect()
        where = {}
        for r in seen:
            where.setdefault(r.shard, set()).add(r.p)
        assert sorted(where) == shards
        assert all(len(ps) == 1 for ps in where.values())  # each shard whole
        assert wave.rdd.getNumPartitions() == n
        assert {r.p for r in seen} == set(range(n))  # no empty partition


def test_second_identical_run_compiles_no_new_classes(spark, pages, tmp_path_factory):
    """Per-run values (wall time, timestamps) must not reach generated
    code: a rerun of the same waves hits the codegen cache throughout."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run():
        cp.checkpointed_run(
            spark, pages, str(tmp_path_factory.mktemp("ckpt_codegen")),
            run_id="c", n_shards=4, shards_per_wave=4,
        )

    run()
    before = compiles.getCount()
    run()
    assert compiles.getCount() - before == 0


@pytest.mark.parametrize("catalog", [ParquetCatalog, SnapshotCatalog])
@pytest.mark.parametrize("n_pages", [0, 1])
def test_waves_with_no_committed_file_record_zero_shards(
    spark, pages, tmp_path_factory, catalog, n_pages
):
    """An empty input, or one page over 64 shards, leaves whole waves
    (the first included) with no row, so the data table may have no
    file to read back: every shard still gets its manifest row, 0, 0, 0
    where it is empty, and a rerun has nothing to do."""
    src = pages.orderBy("url").limit(n_pages)
    out = str(tmp_path_factory.mktemp("ckpt_nofile"))
    cat = catalog(spark, out)
    first = cp.checkpointed_run(
        spark, src, out, run_id="e", n_shards=64, shards_per_wave=16,
        catalog=cat,
    )
    assert first["shards_remaining"] == 0
    got = {
        r.shard: (r.n_rows, r.n_urls, r.bytes)
        for r in cat.read("manifests").collect()
    }
    assert sorted(got) == list(range(64))
    full = {s: c for s, c in got.items() if c != (0, 0, 0)}
    assert len(full) == n_pages
    if n_pages:
        want = src.select(cp.shard_col(64).alias("s")).first().s
        assert list(full) == [want] and full[want][:2] == (1, 1)
    second = cp.checkpointed_run(
        spark, src, out, run_id="e2", n_shards=64, shards_per_wave=16,
        catalog=cat,
    )
    assert second["shards_processed"] == [] and second["resumed_from"] == 64
