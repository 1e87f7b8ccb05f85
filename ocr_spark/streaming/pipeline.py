"""Structured Streaming surfaces: continuous page extraction, windowed
event aggregation with watermarks, and a custom stateful operator.

The reference is strictly batch (SURVEY.md §2.12), so this layer is the
engine's forward extension: the same extraction dataflow run
incrementally. Design points:

- **Continuous extraction** (``extraction_stream``): ``readStream`` over
  the pages table directory -> the identical ``with_main_text`` Arrow
  UDF -> parquet sink with a checkpoint location. Source offsets +
  sink commit log give exactly-once per micro-batch; re-running
  ``availableNow`` after new files land processes only the delta —
  the streaming twin of operators/checkpoint.py.
- **Windowed aggregation** (``events_hourly_stream``): event-time
  tumbling windows on ``ts`` with a watermark for late data. The
  transformation is expression-for-expression the batch
  ``events_hourly`` query, so batch/stream parity is testable.
- **Custom stateful operator** (``running_user_totals``):
  ``applyInPandasWithState`` keeping per-user running (count, sum)
  across micro-batches — the minimal template for sessionization /
  trend state at scale (state lives in the state store, partitioned by
  key; nothing accumulates on the driver).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ocr_spark.sources.catalog import stage

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def pages_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )


def extraction_stream(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint_dir: str
):
    """Incremental extraction: new page files -> extracted text sink.

    Returns the StreamingQuery (availableNow trigger: drain what exists,
    then stop — the batch-backfill idiom; drop the trigger for 24/7).
    """
    from ocr_spark.operators.extract import with_main_text

    pages = pages_stream(spark, src_dir)
    out = with_main_text(pages).select("url", "warc_ts", "lang", "extracted")
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def events_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return spark.readStream.schema(EVENTS_DDL).parquet(src_dir)


def events_hourly_windows(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h event-time windows with late-data watermark.

    Works on both a static and a streaming events DataFrame — parity
    between the two is the streaming correctness test.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(
        F.window("ts", "1 hour").alias("win"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    ).select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def hll_registers(events: DataFrame) -> DataFrame:
    """64-register HyperLogLog over user_id (same expression as the
    batch query hll_user_sketch): bucket = h % 64, register = MAX rank.

    MAX is commutative/idempotent, so the register table is mergeable
    across partitions, batches, and restarts — on a stream in complete
    mode the output equals the batch sketch over all data seen so far,
    which is exactly the property that lets 10^12-row cardinality be
    tracked with 64 longs per key. Batch/stream parity is pinned in
    tests/test_streaming.py.
    """
    h64 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")
    parts = events.select(
        (h64 % 64).alias("bucket"), F.shiftright(h64, 6).alias("w")
    )
    rho = F.when(F.col("w") == 0, 55).otherwise(
        F.lit(55) - F.length(F.bin(F.col("w")))
    )
    return parts.groupBy("bucket").agg(
        F.max(rho).cast("bigint").alias("max_rho")
    )


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)
_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _round2(x: float) -> float:
    """floor(x*100 + 0.5)/100 — the Python twin of round_det(col, 2)
    (operators/dedup.py). Python's round() is banker's (half-even) and
    Spark's F.round is HALF_UP on the shortest decimal repr; both
    disagree with each other on .5 grid points, so batch/stream parity
    needs the SAME plain-IEEE form on both sides."""
    import math

    return math.floor(x * 100 + 0.5) / 100


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [_round2(total)]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals across batches.

    State store scales with distinct keys per partition; emitted rows
    are the updated keys of each micro-batch (update semantics).
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SESS_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)
SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", StringType()),
        StructField("session_end", StringType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def _update_sessions(key, pdfs, state: GroupState):
    """Gap-based sessionization: emit a session whenever a >30min gap
    closes it; keep the open tail in state. Event-time driven, so the
    logic is identical replayed from batch or streamed live."""
    import pandas as pd

    rows = []
    for pdf in pdfs:
        rows.append(pdf[["ts", "value"]])
    if not rows:
        # No idle-close: the operator registers NoTimeout, so an open
        # tail stays in state until a later event closes it (the
        # documented contract). An idle-flush variant would configure
        # EventTimeTimeout + setTimeoutTimestamp and emit here.
        return
    ev = pd.concat(rows).sort_values("ts")
    # pandas datetime64[ns] -> microseconds since epoch
    us = (ev["ts"].astype("int64") // 1000).tolist()
    vals = ev["value"].tolist()
    out = []
    if state.exists:
        s0, s1, n, tot = state.get
    else:
        # n/tot must be bound even when every pdf in this trigger is
        # empty (zip never runs) — state.update below would NameError.
        s0 = s1 = None
        n, tot = 0, 0.0
    for t, v in zip(us, vals):
        if s0 is None:
            s0, s1, n, tot = t, t, 0, 0.0
        elif t - s1 > _GAP_US:
            out.append((key[0], _fmt_us(s0), _fmt_us(s1), n, _round2(tot)))
            s0, s1, n, tot = t, t, 0, 0.0
        s1 = t
        n += 1
        tot += float(v)
    if s0 is not None:
        state.update((s0, s1, n, tot))
    if out:
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "session_start", "session_end",
                "n_events", "total_value",
            ],
        )


def _fmt_us(us: int) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(us / 1e6, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessions per user via applyInPandasWithState.

    Emits CLOSED sessions (a later event arrived past the 30-min gap);
    the open session per user stays in the state store. At scale the
    state is partitioned by user_id — nothing accumulates centrally.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_sessions,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch reference implementation of the same session semantics
    (closed sessions only) via window functions — the parity oracle for
    the stateful streaming operator. Totals round via round_det (the
    floor form _round2 mirrors) so both sides agree on .5 grid points."""
    from pyspark.sql import Window

    from ocr_spark.operators.dedup import round_det

    w = Window.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = F.lag(us).over(w)
    marked = events.select(
        "user_id", "ts", "value",
        F.when(
            gap.isNull() | (us - gap > gap_minutes * 60 * 1_000_000),
            1,
        ).otherwise(0).alias("new_sess"),
    )
    sess = marked.withColumn(
        "sess_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    agg = sess.groupBy("user_id", "sess_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        round_det(F.sum("value"), 2).alias("total_value"),
        F.max("ts").alias("_end_ts"),
    )
    # closed = not the user's last session
    w2 = Window.partitionBy("user_id")
    return (
        agg.withColumn("_max_end", F.max("_end_ts").over(w2))
        .where(F.col("_end_ts") < F.col("_max_end"))
        .select(
            "user_id", "session_start", "session_end", "n_events", "total_value"
        )
    )


def dedup_stream(pages: DataFrame) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content hash
    wins, across micro-batches (state-store backed dropDuplicates).

    The dedup key is md5(text) — content, not url, so re-crawled
    duplicates under different urls are suppressed too. Unbounded state
    by design here; production bounds it with
    ``dropDuplicatesWithinWatermark`` once a crawl-recency horizon
    exists.
    """
    return pages.withColumn(
        "text_hash", F.md5(F.col("text").cast("binary"))
    ).dropDuplicates(["text_hash"])


URLS_DDL = "doc_id long, url string"


def urls_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(URLS_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
    )


def crawl_gate_stream(urls: DataFrame) -> DataFrame:
    """Streaming crawl gate: the frontier-side twin of the batch
    pipeline_crawl_gate query. Each discovered url canonicalizes
    (functions/urlnorm — dup slashes, dot segments, tracking params,
    fragments, case) and surt-keys (functions/surt); the first
    occurrence of each KEY wins across micro-batches (state-store
    dropDuplicates), so url VARIANTS of an already-queued page are
    suppressed even when they arrive hours later in different batches
    — the property a raw-url dedup cannot have. Unbounded key state by
    design here; production bounds it with
    ``dropDuplicatesWithinWatermark`` on a crawl-recency horizon.
    """
    from ocr_spark.functions.surt import surt_key
    from ocr_spark.functions.urlnorm import canonical_url

    keyed = urls.withColumn("surt", surt_key(canonical_url(F.col("url"))))
    return keyed.dropDuplicates(["surt"])


def run_to_memory(df: DataFrame, name: str, output_mode: str = "update"):
    """Drain a streaming frame into an in-memory table (tests/debug)."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


DOCS_DDL = "doc_id long, text string, lang string"


def docs_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
    )


def curation_gate(docs: DataFrame, thresholds: DataFrame) -> DataFrame:
    """Streaming corpus curation: hashed-classifier margin gate + host-
    temperature downsample, applied to a document STREAM.

    Both filters are pure row functions plus a STREAM-STATIC broadcast
    join (the per-host thresholds come from a batch aggregate of the
    historical corpus — aggregating the stream itself would make keep
    decisions depend on arrival time, killing replay determinism).
    Works identically on a batch DataFrame — parity pinned by test.
    """
    from ocr_spark.operators.dedup import fast_hash, quality_margin

    # margin via explode+sum would need stream aggregation state;
    # quality_margin's HOF fold is the shared batch/stream definition
    # (see operators/dedup.py) and is stateless — bounded work per row.
    margin = quality_margin(F.col("text"))
    bucket = fast_hash(F.col("doc_id").cast("string")) % 100
    return (
        docs.withColumn("host", F.col("doc_id") % 97)
        .withColumn("margin", margin)
        .where(F.col("margin") > 0)
        .join(F.broadcast(thresholds), "host")
        .where(bucket < F.col("thr"))
        .select("doc_id", "host", "margin", "thr")
    )


def hll_registers_grouped(
    df: DataFrame, group_col: str, key_col: str
) -> DataFrame:
    """Per-group HyperLogLog register tables (64 buckets, same hash/
    rank expressions as hll_registers): (group, bucket, max_rho).

    The point of grouping sketches: registers merge by plain MAX, so
    per-host (or per-shard, per-day) sketches roll up to any coarser
    grain without touching raw data — union-cardinality at 10^12 rows
    becomes a 64-longs-per-group aggregate. The merge-equals-direct
    law is pinned in tests/test_analytics.py.
    """
    h64 = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")
    parts = df.select(
        F.col(group_col).alias("grp"),
        (h64 % 64).alias("bucket"),
        F.shiftright(h64, 6).alias("w"),
    )
    rho = F.when(F.col("w") == 0, 55).otherwise(
        F.lit(55) - F.length(F.bin(F.col("w")))
    )
    return parts.groupBy("grp", "bucket").agg(
        F.max(rho).cast("bigint").alias("max_rho")
    )


def cdc_reuse_stream(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    out_dir: str,
    ckpt_dir: str,
):
    """Incremental CDC chunk-reuse over a document stream: every
    micro-batch's docs are chunked (operators/dedup.cdc_chunks), scored
    against the PERSISTENT chunk-hash index built from prior batches
    (per-doc n_chunks / n_reused / reuse_permille appended to
    ``out_dir``), then the batch's novel hashes are committed to the
    index — so work per wave scales with the increment, never the
    history (the same contract as incremental_minhash_pairs, on byte-
    level chunks).

    Exactly-once: both writes are keyed by batch_id — the reuse rows
    carry it, and the index write is a dynamic partition overwrite of
    partition batch_id, so a retried foreachBatch rewrites its own
    partition instead of duplicating hashes. The index READ is scoped
    to batch_id < current for the same reason: a batch that wrote its
    index partition and then crashed before the streaming commit is
    replayed, and without the filter it would find its OWN hashes and
    score every chunk as reused (reuse_permille=1000 across the batch).
    With it, a retry recomputes from exactly the pre-batch state —
    idempotent, pinned by test_cdc_retry_is_idempotent.

    Returns the started availableNow query (callers await it).
    """
    docs = docs_stream(spark, src_dir)

    def process(batch_df, batch_id: int) -> None:
        _cdc_score_and_commit(
            spark, batch_df, int(batch_id), index_dir, out_dir
        )

    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )


def _cdc_score_and_commit(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
) -> None:
    """One CDC micro-batch: score chunks against the STRICTLY-PRIOR
    index (batch_id < current — a replayed batch must not see its own
    torn writes), commit per-doc reuse stats and novel hashes, each as
    a dynamic overwrite of this batch_id's partition (retry-idempotent).

    Module-level (not a closure) so the retry contract is directly
    testable: calling it twice with the same batch_id must be a no-op
    the second time, byte-for-byte.
    """
    import os

    from pyspark.sql import functions as F

    from ocr_spark.operators.dedup import cdc_chunks
    from ocr_spark.operators.training import floor_div

    # the chunks feed both writes below: staged, the batch is chunked once
    ch = stage(cdc_chunks(batch_df))
    if os.path.isdir(index_dir) and any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(index_dir) for f in fs
    ):
        idx = (
            spark.read.parquet(index_dir)
            .where(F.col("batch_id") < F.lit(batch_id))
            .select("chunk_hash")
            .distinct()
        )
    else:
        idx = spark.createDataFrame([], "chunk_hash long")
    seen = idx.withColumn("seen", F.lit(1))
    per = (
        ch.join(seen, "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce("seen", F.lit(0))).alias("n_reused"),
        )
        .select(
            "doc_id", "n_chunks", "n_reused",
            floor_div(1000 * F.col("n_reused"), F.col("n_chunks"))
            .alias("reuse_permille"),
            F.lit(batch_id).alias("batch_id"),
        )
    )
    # Same idempotency contract as the index write below: a retried
    # micro-batch overwrites its own batch_id partition instead of
    # appending duplicate reuse rows.
    (
        per.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .mode("overwrite")
        .parquet(out_dir)
    )
    new_hashes = (
        ch.select("chunk_hash").distinct()
        .join(idx, "chunk_hash", "left_anti")
        .withColumn("batch_id", F.lit(batch_id))
    )
    (
        new_hashes.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .mode("overwrite")
        .parquet(index_dir)
    )


# ---------------------------------------------------------------------------
# per-host crawl politeness gate (custom stateful operator #3)
# ---------------------------------------------------------------------------

_POLITE_STATE = StructType([StructField("last_allowed_us", LongType())])

POLITENESS_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("url", StringType()),
        StructField("ts", StringType()),
        StructField("decision", StringType()),
        StructField("wait_us", LongType()),
    ]
)

_POLITE_INTERVAL_US = 10_000_000  # default: 10 s between fetches per host


def _gate_rows(host, us, urls, last, interval_us):
    """Shared decision loop: a fetch is ALLOWED when >= interval has
    passed since the last ALLOWED fetch on this host, else DEFERRED
    with the residual wait. Only allowed fetches advance the clock,
    so the sequence is a pure function of event-time order —
    identical replayed from batch or streamed live."""
    out = []
    for t, u in zip(us, urls):
        if last is None or t - last >= interval_us:
            out.append((host, u, _fmt_us(t), "allowed", 0))
            last = t
        else:
            out.append(
                (host, u, _fmt_us(t), "deferred", last + interval_us - t)
            )
    return out, last


def politeness_gate(
    fetches: DataFrame, interval_us: int = _POLITE_INTERVAL_US
) -> DataFrame:
    """Streaming per-host politeness scheduler via
    applyInPandasWithState: state is one BIGINT per host (the last
    allowed fetch's event time), partitioned by host — nothing
    accumulates centrally, and a 10^8-host frontier shards the state
    store exactly like the shuffle."""
    import pandas as pd

    def gate(key, pdfs, state: GroupState):
        rows = [pdf[["ts", "url"]] for pdf in pdfs]
        if not rows:
            return
        ev = pd.concat(rows).sort_values("ts")
        us = (ev["ts"].astype("int64") // 1000).tolist()
        last = state.get[0] if state.exists else None
        out, last = _gate_rows(key[0], us, ev["url"].tolist(), last,
                               interval_us)
        state.update((last,))
        yield pd.DataFrame(
            out, columns=["host", "url", "ts", "decision", "wait_us"]
        )

    return fetches.groupBy("host").applyInPandasWithState(
        gate,
        outputStructType=POLITENESS_SCHEMA,
        stateStructType=_POLITE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def politeness_gate_batch(
    fetches: DataFrame, interval_us: int = _POLITE_INTERVAL_US
) -> DataFrame:
    """Batch twin: the same per-host decision loop via applyInPandas
    (no state store — each host's full history is one group)."""
    import pandas as pd

    def gate(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        us = (pdf["ts"].astype("int64") // 1000).tolist()
        out, _ = _gate_rows(
            pdf["host"].iloc[0], us, pdf["url"].tolist(), None,
            interval_us,
        )
        return pd.DataFrame(
            out, columns=["host", "url", "ts", "decision", "wait_us"]
        )

    return fetches.groupBy("host").applyInPandas(
        gate, schema=POLITENESS_SCHEMA
    )


def fetches_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream of (host, ts, url) fetch requests."""
    schema = StructType(
        [
            StructField("host", StringType()),
            StructField("ts", TimestampType()),
            StructField("url", StringType()),
        ]
    )
    return spark.readStream.schema(schema).parquet(src_dir)
