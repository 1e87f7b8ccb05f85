"""The four workloads. Each one makes a different layer dominate.

``checkpointed_write`` and ``dedup_clusters`` between them enter every
layer measured here, and they are the two that ``BENCHMARK.json``
declares. ``extract_text`` (no scans, so the kernels read flat) and
``extract_scans`` (the same pipeline as ``checkpointed_write`` without
its writes) run by name, for A/B runs that isolate a layer.

A workload opens its cached input, runs one *pass* (the unit the
benchmark times: read -> process -> sink), checks the last pass's
output, and lists the *prefixes* of its pipeline for the traced run: an
action on each prefix, so that a lazy layer's self time is the
difference between consecutive prefixes. ``layers`` names the per-layer
metrics the workload's traced run measures.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from ocr_spark.operators import checkpoint, dedup, extract, pipeline
from ocr_spark.sources import catalog as catalog_mod

from perfbench import inputs
from perfbench.trace import HTML_STEPS, KERNEL_STEPS, metric_total


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ms(prefix: str, steps) -> dict[str, str]:
    return {f"{prefix}.{s}_ms.{q}": "ms" for s in steps for q in ("median", "p90")}


# per-layer metric -> unit, in groups; a workload's ``layers`` joins the
# groups that apply to it
COMMON_LAYERS = {
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.warm_pass_s": "s",
    "sources.scan_s": "s",
    "sources.scan_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.layer_self_share": "ratio",
    "trace.overhead_docs_per_s": "docs/s",
}
HTML_LAYERS = _ms("functions.html_extract", HTML_STEPS)
PYTHON_LAYERS = {
    "operators.extract.python_nodes": "count",
    "operators.extract.bytes_to_python": "bytes",
    "operators.extract.bytes_from_python": "bytes",
    "operators.extract.python_run_s": "s",
    "operators.extract.python_start_s": "s",
    "operators.extract.udf_task_max_over_median": "ratio",
}
KERNEL_LAYERS = {**_ms("operators.stages", ("ocr_page",)), **_ms("kernels", KERNEL_STEPS)}
CHECKPOINT_LAYERS = {
    "operators.checkpoint.checkpointed_run_s": "s",
    "operators.checkpoint.wave_s_median": "s",
    "operators.checkpoint.wave_s_max": "s",
    "operators.checkpoint.rows_scanned_per_row_written": "ratio",
    "operators.checkpoint.shuffle_bytes_written": "bytes",
    "sources.catalog.overwrite_partitions_s": "s",
    "sources.catalog.append_s": "s",
    "sources.catalog.bytes_written": "bytes",
    "sources.catalog.files_written": "count",
}
DEDUP_LAYERS = {
    "operators.dedup.shingle_rows_s": "s",
    "operators.dedup.minhash_band_index_s": "s",
    "operators.dedup.minhash_lsh_pairs_s": "s",
    "operators.dedup.connected_components_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verified_per_candidate": "ratio",
    "operators.dedup.cc_jobs": "count",
    "operators.dedup.shuffle_bytes": "bytes",
    "operators.dedup.spill_bytes": "bytes",
}


class Workload:
    name = ""
    kind = ""  # input kind, see inputs.py
    base_n = 0  # input rows at --scale 1
    # passes in set-up, before timing starts: the first pass compiles,
    # and the second still spends a third more CPU than the third
    warm_passes = 2
    scan_cols: tuple[str, ...] = ()  # columns the pass reads
    layers: dict[str, str] = {}  # per-layer metrics this workload measures

    def __init__(self, n: int, work_dir: str):
        self.n = n
        self.work_dir = work_dir
        self.path = ""
        self.df = None

    def open(self, spark) -> None:
        self.df = spark.read.parquet(self.path)

    def reset(self) -> None:
        """Undo a pass's side effects; called before each pass, untimed."""

    def run_pass(self, spark) -> None:
        raise NotImplementedError

    def check(self, spark) -> tuple[int, int, list[str]]:
        """(rows attempted, rows missing/null/wrong, other defects), on
        the last pass's output."""
        raise NotImplementedError

    def prefixes(self, spark) -> list[tuple[str, object]]:
        """(layer, action) for each pipeline prefix, shortest first."""
        return [("sources.scan_s", lambda: noop(self.df.select(*self.scan_cols)))]

    def sample_htmls(self, k: int = 24) -> list[bytes]:
        """A fixed sample of the input's html: the first k pages by url."""
        rows = self.df.select("url", "html").orderBy("url").limit(k).collect()
        return [bytes(r.html) for r in rows]

    def layer_metrics(self, spark, rows, counts) -> dict[str, float]:
        """Workload-specific per-layer metrics after the traced passes,
        from the last pass's status-store ``rows`` and job ``counts``."""
        return {}


def _text_check(df, n: int) -> tuple[int, int, list[str]]:
    """Every row must carry ``extracted == text``; missing rows fail too."""
    bad = F.col("extracted").isNull() | (F.col("extracted") != F.col("text"))
    got, wrong = df.select(F.count(F.lit(1)), F.sum(F.when(bad, 1).otherwise(0))).first()
    return n, int(wrong or 0) + max(0, n - got), [] if got <= n else [f"{got - n} extra rows"]


class ExtractText(Workload):
    name = "extract_text"
    kind = "pages"
    base_n = 3000
    scan_cols = ("url", "html")
    layers = {**COMMON_LAYERS, **HTML_LAYERS, **PYTHON_LAYERS, "operators.extract.with_main_text_s": "s"}

    def run_pass(self, spark):
        noop(extract.with_main_text(self.df).select("url", "extracted"))

    def check(self, spark):
        return _text_check(extract.with_main_text(self.df), self.n)

    def prefixes(self, spark):
        return super().prefixes(spark) + [("operators.extract.with_main_text_s", lambda: self.run_pass(spark))]


SCAN_FEATURES = {  # extract_pages column -> ocr_page feature
    "scan_width": "width", "scan_height": "height", "graythr": "graythr", "black": "black",
    "white": "white", "thickness": "thickness", "skew_deg": "skew_deg", "n_lines": "n_lines",
    "n_glyphs": "n_glyphs", "ink_ratio": "ink_ratio",
}


def _scan_feature_failures(pages, out: dict, k: int = 16) -> int:
    """Rows among the first k pages by url whose scan features in
    ``out`` (url -> row) differ from driver-side ``ocr_page``."""
    from ocr_spark.functions.html_extract import extract_embedded_pnm
    from ocr_spark.operators.stages import ocr_page

    failed = 0
    for r in pages.select("url", "html").orderBy("url").limit(k).collect():
        feats, _ = ocr_page(extract_embedded_pnm(bytes(r.html)))
        row = out.get(r.url)
        if row is not None and any(row[c] != feats[f] for c, f in SCAN_FEATURES.items()):
            failed += 1
    return failed


class ExtractScans(Workload):
    name = "extract_scans"
    kind = "scan_pages"
    base_n = 600
    scan_cols = ("url", "warc_ts", "lang", "html")
    layers = {**COMMON_LAYERS, **HTML_LAYERS, **PYTHON_LAYERS, **KERNEL_LAYERS,
              "operators.extract.main_text_s": "s", "operators.stages.scan_features_s": "s"}

    def run_pass(self, spark):
        noop(pipeline.extract_pages(self.df, with_scan_features=True))

    def check(self, spark):
        out = {r.url: r for r in pipeline.extract_pages(self.df, with_scan_features=True).collect()}
        truth = {r.url: r.text for r in self.df.select("url", "text").collect()}
        failed = sum(1 for url, text in truth.items() if url not in out or out[url].extracted != text)
        failed += _scan_feature_failures(self.df, out)
        return self.n, failed, [] if len(out) <= self.n else [f"{len(out) - self.n} extra rows"]

    def prefixes(self, spark):
        return super().prefixes(spark) + [
            ("operators.extract.main_text_s",
             lambda: noop(pipeline.extract_pages(self.df, with_scan_features=False))),
            ("operators.stages.scan_features_s", lambda: self.run_pass(spark)),
        ]


class TimedCatalog:
    """The four catalog verbs of ``sources.catalog``, delegated, with
    the wall time spent in each write verb."""

    def __init__(self, inner):
        self.inner = inner
        self.seconds = {"overwrite_partitions": 0.0, "append": 0.0}

    def exists(self, table):
        return self.inner.exists(table)

    def read(self, table):
        return self.inner.read(table)

    def append(self, df, table):
        t0 = time.perf_counter()
        self.inner.append(df, table)
        self.seconds["append"] += time.perf_counter() - t0

    def overwrite_partitions(self, df, table, partition_by):
        t0 = time.perf_counter()
        self.inner.overwrite_partitions(df, table, partition_by)
        self.seconds["overwrite_partitions"] += time.perf_counter() - t0


def _parquet_files(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class CheckpointedWrite(Workload):
    """``checkpointed_run`` of the whole extraction (text and scan
    features) into a fresh parquet catalog directory each pass, in one
    wave of four shards: the write path of ``extract_scans``."""

    name = "checkpointed_write"
    kind = "scan_pages"
    base_n = 600
    n_shards, shards_per_wave = 4, 4
    scan_cols = ("url", "warc_ts", "lang", "html")
    layers = {**COMMON_LAYERS, **HTML_LAYERS, **PYTHON_LAYERS, **KERNEL_LAYERS, **CHECKPOINT_LAYERS,
              "operators.extract.main_text_s": "s", "operators.stages.scan_features_s": "s"}

    def __init__(self, n, work_dir):
        super().__init__(n, work_dir)
        self.out_dir = os.path.join(work_dir, "checkpointed")
        self.catalog = None  # the last pass's timing wrapper

    def reset(self):
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def run_pass(self, spark):
        self.catalog = TimedCatalog(catalog_mod.get_catalog(spark, self.out_dir))
        checkpoint.checkpointed_run(spark, self.df, self.out_dir, run_id="bench", n_shards=self.n_shards,
                                    shards_per_wave=self.shards_per_wave, extractor=pipeline.extract_pages,
                                    catalog=self.catalog)

    def check(self, spark):
        out = {r.url: r for r in checkpoint.read_extracted(spark, self.out_dir).collect()}
        truth = {r.url: r.text for r in self.df.select("url", "text").collect()}
        wrong = sum(1 for url, text in truth.items() if url not in out or out[url].extracted != text)
        wrong += _scan_feature_failures(self.df, out)
        notes = [] if len(out) <= self.n else [f"{len(out) - self.n} extra rows"]
        missing = checkpoint.verify_complete(spark, self.df, self.out_dir)
        if missing:
            notes.append(f"verify_complete: {missing} urls missing")
        n_man, n_shards = self.catalog.read("manifests").select(
            F.count(F.lit(1)), F.countDistinct("shard")).first()
        if n_man != self.n_shards or n_shards != self.n_shards:
            notes.append(f"{n_man} manifest rows over {n_shards} shards, want {self.n_shards}")
        return self.n, wrong, notes

    def prefixes(self, spark):
        return super().prefixes(spark) + [
            ("operators.extract.main_text_s",
             lambda: noop(pipeline.extract_pages(self.df, with_scan_features=False))),
            ("operators.stages.scan_features_s",
             lambda: noop(pipeline.extract_pages(self.df, with_scan_features=True))),
            ("operators.checkpoint.checkpointed_run_s", lambda: self.run_pass(spark)),
        ]

    def layer_metrics(self, spark, rows, counts):
        man = self.catalog.read("manifests")
        waves = sorted(r.wall_ms / 1000.0 for r in man.select("wave", "wall_ms").distinct().collect())
        files, size = _parquet_files(os.path.join(self.out_dir, "data"))
        return {
            "operators.checkpoint.wave_s_median": statistics.median(waves),
            "operators.checkpoint.wave_s_max": waves[-1],
            # every wave scans the whole input: expect about the wave count
            "operators.checkpoint.rows_scanned_per_row_written":
                metric_total(rows, "number of output rows", "Scan parquet") / self.n,
            "operators.checkpoint.shuffle_bytes_written": metric_total(rows, "shuffle bytes written"),
            "sources.catalog.overwrite_partitions_s": self.catalog.seconds["overwrite_partitions"],
            "sources.catalog.append_s": self.catalog.seconds["append"],
            "sources.catalog.bytes_written": float(size),
            "sources.catalog.files_written": float(files),
        }


class DedupClusters(Workload):
    name = "dedup_clusters"
    kind = "dup_docs"
    base_n = 1000
    scan_cols = ("doc_id", "text")
    layers = {**COMMON_LAYERS, **DEDUP_LAYERS}

    def __init__(self, n, work_dir):
        super().__init__(n, work_dir)
        self.labels = None  # the last pass's clusters, cached by connected_components

    def reset(self):
        if self.labels is not None:
            self.labels.unpersist()
            self.labels = None

    def run_pass(self, spark):
        self.labels = dedup.connected_components(dedup.minhash_lsh_pairs(self.df))
        noop(self.labels)

    def check(self, spark):
        cluster = {r.id: r.cluster for r in self.labels.collect()}
        pairs = inputs.planted_pairs(self.n)
        failed = sum(1 for a, b in pairs if a not in cluster or cluster.get(a) != cluster.get(b))
        return len(pairs), failed, []

    def prefixes(self, spark):
        return super().prefixes(spark) + [
            ("operators.dedup.shingle_rows_s", lambda: noop(dedup.shingle_rows(self.df))),
            ("operators.dedup.minhash_band_index_s", lambda: noop(dedup.minhash_band_index(self.df)[0])),
            ("operators.dedup.minhash_lsh_pairs_s", lambda: noop(dedup.minhash_lsh_pairs(self.df))),
            ("operators.dedup.connected_components_s", lambda: self.run_pass(spark)),
        ]

    def layer_metrics(self, spark, rows, counts):
        bands, _ = dedup.minhash_band_index(self.df)
        a, b = bands.alias("a"), bands.alias("b")
        # the candidate join of minhash_lsh_pairs, counted before its
        # exact-Jaccard verification
        candidates = a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
                            & (F.col("a.id") < F.col("b.id"))).select("a.id", "b.id").distinct().count()
        verified = dedup.minhash_lsh_pairs(self.df).count()
        return {
            "operators.dedup.candidate_pairs": float(candidates),
            "operators.dedup.verified_pairs": float(verified),
            "operators.dedup.verified_per_candidate": verified / candidates if candidates else 0.0,
            # minhash_lsh_pairs is lazy: every job of a pass but the
            # sink's is run by connected_components
            "operators.dedup.cc_jobs": float(counts["spark.jobs"] - 1),
            "operators.dedup.shuffle_bytes": metric_total(rows, "shuffle bytes written"),
            "operators.dedup.spill_bytes": metric_total(rows, "spill size"),
        }


WORKLOADS = {w.name: w for w in (ExtractText, ExtractScans, CheckpointedWrite, DedupClusters)}

# every per-layer metric of any workload, in a fixed order
PER_LAYER = {k: u for w in WORKLOADS.values() for k, u in w.layers.items()}
