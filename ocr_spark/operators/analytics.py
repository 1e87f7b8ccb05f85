"""Event-analytics and data-profiling operators.

Extension tier (no reference counterpart — the reference is a
single-machine OCR engine, SURVEY.md §2): the batch analytics a crawl /
training-data platform runs over its event firehose and corpus tables —
sessionization, funnel conversion, shuffle-skew diagnostics, and
per-column data profiling.

Scale notes (all dataflows are pure Column expressions, no python
stages):
- `sessionize` windows are partitioned by user_id — never a global
  sort; the per-user event stream is the natural unit and user_id is a
  uniform shuffle key (the hot-user case is bounded by per-user event
  caps upstream, and AQE skew-split handles the tail).
- `funnel_counts` is K sequential aggregate+join passes on user_id; the
  per-user aggregates shrink the data to one row per user before each
  join, and every pass reuses the same hash partitioning (one Exchange,
  AQE reuses it).
- `skew_report` and `column_profile` reduce to constant-size outputs —
  the per-key histogram is the only shuffle, and the final reductions
  run on aggregated (tiny) intermediates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.sources.catalog import stage

SESSION_GAP_S = 1800  # industry-standard 30-minute inactivity gap


def sessionize(events: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    """Split each user's event stream into sessions at >gap_s
    inactivity gaps; return one row per session with integer/string
    aggregates only (exact cross-engine: microsecond arithmetic, no
    float sums).

    Output: (user_id, session_idx, n_events, first_ts, last_ts,
    duration_s) — session_idx is 1-based in event order; ties on ts
    break by event_id so the split is deterministic.
    """
    gap_us = gap_s * 1_000_000
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    tagged = (
        # ts is TIMESTAMP_NTZ in the corpus parquet; the NTZ->LTZ cast
        # interprets wall time in the session zone, so callers pin UTC
        # (queries._utc) to make the epoch match the naive oracle.
        events.select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .withColumn("pus", F.lag("us").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("pus").isNull() | (F.col("us") - F.col("pus") > gap_us),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("session_idx", F.sum("brk").over(run))
    )
    return tagged.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.date_format(
            F.timestamp_micros(F.min("us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("first_ts"),
        F.date_format(
            F.timestamp_micros(F.max("us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("last_ts"),
        ((F.max("us") - F.min("us")) / F.lit(1_000_000))
        .cast("long")
        .alias("duration_s"),
    )


def funnel_counts(events: DataFrame, stages: list[str]) -> DataFrame:
    """Strict-order funnel: users whose first `stages[0]` event is
    followed by a later `stages[1]` event, followed by a later
    `stages[2]`, ... Each stage k counts users reaching it.

    Dataflow: per-stage min-timestamp aggregation joined back on
    user_id K times — each pass reduces to one row per reaching user
    before the next join, so the join inputs shrink monotonically and
    every shuffle is on the same uniform key.

    Output: (stage, event_type, users_reached), stage 1-based.
    """
    # each stage's reached set is staged (r5): stage k's table feeds
    # both the k+1 join AND its own count row — un-staged, stage k's
    # count replans stages 1..k (quadratic event scans in K)
    reached = stage(
        events.where(F.col("event_type") == stages[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    out_rows = [(1, stages[0], reached)]
    for k, ev_type in enumerate(stages[1:], start=2):
        nxt = stage(
            events.where(F.col("event_type") == ev_type)
            .join(reached, "user_id")
            .where(F.col("ts") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        out_rows.append((k, ev_type, nxt))
        reached = nxt
    counts = None
    for k, ev_type, df in out_rows:
        row = df.agg(
            F.lit(k).cast("long").alias("stage"),
            F.lit(ev_type).alias("event_type"),
            F.count("*").alias("users_reached"),
        ).select("stage", "event_type", "users_reached")
        counts = row if counts is None else counts.unionByName(row)
    return counts


def skew_report(df: DataFrame, key_col) -> DataFrame:
    """Shuffle-skew diagnostic over a grouping key: per-key row counts
    reduced to (n_keys, total_rows, max_rows, median_rows,
    skew_ratio_x100, top1_share_x10000) — the numbers an operator
    consults before choosing salting / AQE skew-split for a join or
    aggregation on that key.

    Exact integer arithmetic throughout (median = lower-median element
    by (count, key) rank; ratios are scaled integer divisions) so the
    report is bit-identical across engines and partitionings. The only
    full-data shuffle is the per-key count; everything after runs on
    one row per key.
    """
    per_key = df.groupBy(key_col.alias("k")).agg(F.count("*").alias("c"))
    w = Window.orderBy("c", "k")  # tiny: one row per key
    ranked = per_key.select(
        "c", F.row_number().over(w).alias("rk")
    )
    agg = per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("c").alias("total_rows"),
        F.max("c").alias("max_rows"),
    )
    # lower median: rk == (n_keys + 1) DIV 2
    med = ranked.crossJoin(F.broadcast(agg)).where(
        F.col("rk") == F.expr("(n_keys + 1) DIV 2")
    ).select(F.col("c").alias("median_rows"), "n_keys", "total_rows", "max_rows")
    return med.select(
        "n_keys",
        "total_rows",
        "max_rows",
        "median_rows",
        F.expr("max_rows * 100 DIV median_rows").alias("skew_ratio_x100"),
        F.expr("max_rows * 10000 DIV total_rows").alias("top1_share_x10000"),
    )


def column_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per-column data-quality profile: (col_name, n_rows, n_nonnull,
    n_distinct, min_value, max_value) with min/max rendered as strings
    AFTER the typed aggregation (so numeric columns order numerically).

    One wide aggregate pass computes every column's stats map-side in a
    single job; the stacked output is assembled driver-free via a
    union of one-row projections of that single aggregate row.
    """
    aggs = []
    for c in columns:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.count(c).alias(f"{c}__nonnull"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    out = None
    for c in columns:
        row = one.select(
            F.lit(c).alias("col_name"),
            F.col(f"{c}__rows").alias("n_rows"),
            F.col(f"{c}__nonnull").alias("n_nonnull"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def two_tier_rank(
    df: DataFrame,
    value_col: str,
    tiebreaks: list[str],
    *,
    desc: bool = False,
    n_buckets: int = 256,
    out: str = "rank",
) -> DataFrame:
    """EXACT global row_number by (value_col [DESC], *tiebreaks ASC)
    without a global sort — the shared two-tier bucket-rank form
    (global_rank_doc_length / budget_apportionment).

    Tier 1: rows bucket by a coarse range of the (integer) value —
    width derived from the observed min/max so bucket count stays
    <= n_buckets + 1 regardless of the value's range. Tier 2: bucket
    COUNTS (a tiny aggregate, bounded by n_buckets) get a running
    offset via a window over the aggregate; each row's within-bucket
    row_number (window PARTITIONED by bucket — bounded, uniform)
    adds to its bucket offset. The only whole-table shuffle is the
    bucket hash; the min/max probe is one scalar aggregate broadcast
    back. Partitionless windows never touch row-scale data — the
    anti-pattern this helper exists to retire.

    ``value_col`` must be integral and its range (max - min) must fit
    a BIGINT; buckets come from integer ``DIV``, so ranks stay exact
    past 2^53, where a double quotient would round. Rows whose
    ``value_col`` is NULL are DROPPED before ranking, so ranks run 1..n
    over the non-NULL rows. ``tiebreaks`` are ascending and must make
    the order total, or row_number within a bucket is nondeterministic.

    The input is STAGED at entry: the helper consumes it three times
    (min/max probe, bucket rows, bucket counts), and an un-staged
    corpus-scale upstream would re-execute per consumer subtree — the
    same single-evaluation discipline as budget_apportionment's demands
    staging.
    """
    v = F.col(value_col)
    df = stage(df.where(v.isNotNull()))
    stats = df.agg(
        F.min(v).cast("long").alias("_lo"), F.max(v).cast("long").alias("_hi")
    )
    b = df.crossJoin(F.broadcast(stats))
    width = f"greatest((_hi - _lo) DIV {n_buckets}, 1L)"
    raw_bucket = F.expr(f"(CAST(`{value_col}` AS BIGINT) - _lo) DIV {width}")
    # DESC rank: flip the bucket so bucket order matches rank order
    bucket = (-raw_bucket if desc else raw_bucket).alias("_bucket")
    bk = b.select(*df.columns, bucket)
    counts = bk.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    w_b = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_bucket", F.coalesce(F.sum("_n").over(w_b), F.lit(0)).alias("_off")
    )
    order = [v.desc() if desc else v.asc()] + [F.col(c) for c in tiebreaks]
    w_in = Window.partitionBy("_bucket").orderBy(*order)
    return (
        bk.join(F.broadcast(offsets), "_bucket")
        .select(
            *df.columns,
            (F.col("_off") + F.row_number().over(w_in))
            .cast("long")
            .alias(out),
        )
    )
