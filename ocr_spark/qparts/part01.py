"""Query registry part: flagship: main-content extraction (the engine's reason to exist); relational coverage (SURVEY.md §2.12): scan/filter/agg/join/window/setops; text analysis (training-data ops over `documents`); reference pointwise/histogram ops as SQL-checkable analogues; vector ops over `embeddings` (cumsum/diff/argmax = vector.c analogues); pixel-path queries (rows-only checks: numpy kernels are not SQL-; deduplication family (operators/dedup.py): exact dedup is above; these; text analysis (functions/text_analysis.py): language-ID + fingerprints; si

Part 01 of 02 of the split query registry (VERDICT r4 next
#7: the 72.8k-line ocr_spark/queries.py split behind the same
QUERIES/ORACLE registry, registration order preserved — parts import
sequentially from the ocr_spark.queries facade; part02 starts from
this part's namespace, and nothing here names a part02 definition).
"""

from __future__ import annotations

import ocr_spark.queries_base as _base

globals().update(
    {k: v for k, v in vars(_base).items() if not k.startswith("__")}
)




# ---------------------------------------------------------------------------
# flagship: main-content extraction (the engine's reason to exist)
# ---------------------------------------------------------------------------

@query(
    "flagship_extract",
    """
    SELECT doc_id,
           'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d'
               || CAST(doc_id AS VARCHAR) AS url,
           text AS extracted
    FROM documents
    """,
)
def flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> synthetic page (JVM exprs) -> DOM-density extraction UDF.

    The oracle is exact: the extractor must recover the main content
    byte-identically from the boilerplate-wrapped page.
    """
    pages = documents_as_pages(load_table(spark, sf_dir, "documents"))
    out = with_main_text(pages)
    return out.select("doc_id", "url", F.col("extracted"))


# ---------------------------------------------------------------------------
# relational coverage (SURVEY.md §2.12): scan/filter/agg/join/window/setops
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey AS o_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
      AND l.l_shipdate > TIMESTAMP '1999-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(l.l_orderkey, o.o_orderdate)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_nation_revenue",
    """
    SELECT r.r_name, n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "join_segment_totals",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_segment_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "window_top2_orders_per_cust",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
    WHERE rnk <= 2
    """,
)
def window_top2_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 2)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@query(
    "window_running_user_value",
    """
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id), 3) AS running_value
    FROM events
    """,
)
def window_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 3).alias("running_value")
    )


@query(
    "events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch analogue of the streaming path)."""
    _utc(spark)
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@query(
    "rollup_lineitem_status",
    """
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "n",
            "qty",
        )
    )


@query(
    "except_open_custkeys",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def except_open_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    open_ = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    closed = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    # subtract == SQL EXCEPT (distinct set semantics), matching the oracle
    return open_.subtract(closed)


@query(
    "distinct_types_per_brand",
    """
    SELECT p_brand, COUNT(DISTINCT p_type) AS n_types,
           COUNT(*) AS n_parts
    FROM part GROUP BY p_brand
    """,
)
def distinct_types_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.countDistinct("p_type").alias("n_types"), F.count(F.lit(1)).alias("n_parts")
    )


@query(
    "topk_documents",
    """
    SELECT doc_id, n_chars, lang FROM documents
    ORDER BY n_chars DESC, doc_id LIMIT 10
    """,
)
def topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.orderBy(F.desc("n_chars"), F.asc("doc_id")).select("doc_id", "n_chars", "lang").limit(10)


# ---------------------------------------------------------------------------
# text analysis (training-data ops over `documents`)
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "value", "table", "row")
_SW_SQL = "('the', 'a', 'value', 'table', 'row')"


@query(
    "doc_token_stats",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           ROUND((n_chars - len(string_split(text, ' ')) + 1)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS avg_word_len
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round((F.col("n_chars") - n_tokens + 1) / n_tokens.cast("double"), 4).alias("avg_word_len"),
    )


@query(
    "doc_stopword_ratio",
    f"""
    SELECT doc_id,
           FLOOR(len(list_filter(string_split(text, ' '), x -> x IN {_SW_SQL}))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10000 + 0.5)
                 / 10000 AS stop_ratio
    FROM documents
    """,
)
def doc_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    hits = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    ratio = hits / F.size(toks).cast("double")
    return d.select(
        "doc_id", (F.floor(ratio * 10000 + 0.5) / 10000).alias("stop_ratio")
    )


@query(
    "doc_quality_score",
    f"""
    SELECT doc_id,
           FLOOR((LEAST(1.0, len(string_split(text, ' ')) / 100.0) * 0.7
                  + (len(list_filter(string_split(text, ' '), x -> x IN {_SW_SQL}))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.3)
                 * 10000 + 0.5) / 10000 AS quality
    FROM documents
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length + stopword-density quality heuristic (public C4/Gopher-style rules)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    quality = F.least(F.lit(1.0), n / F.lit(100.0)) * 0.7 + (hits / n.cast("double")) * 0.3
    # floor(x*1e4+0.5)/1e4 instead of ROUND: Spark rounds the shortest
    # decimal repr HALF_UP while DuckDB rounds the raw double — they
    # disagree on exact .xxxx5 values; the explicit floor form is the
    # same IEEE ops on both engines, so results are bit-identical.
    quality = F.floor(quality * 10000 + 0.5) / 10000
    return d.select("doc_id", quality.alias("quality"))


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, COUNT(*) AS n_dups, MIN(doc_id) AS keeper
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content. Map-side partial agg, one shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper")
    )


# ---------------------------------------------------------------------------
# reference pointwise/histogram ops as SQL-checkable analogues
# (pixel-exact variants live in ocr_spark/kernels and are pytest-golden-
#  checked; these entries prove the same arithmetic contract on a column)
# ---------------------------------------------------------------------------

@query(
    "contrast_stretch_nchars",
    """
    SELECT doc_id,
           CASE WHEN n_chars <= 100 THEN 0.0
                WHEN n_chars >= 400 THEN 255.0
                ELSE ROUND((n_chars - 100) * (255.0 / 300.0), 4) END AS v
    FROM documents
    """,
)
def contrast_stretch_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contrast_image semantics (misc.c:106-151) with black=100, white=400."""
    d = load_table(spark, sf_dir, "documents")
    v = (
        F.when(F.col("n_chars") <= 100, F.lit(0.0))
        .when(F.col("n_chars") >= 400, F.lit(255.0))
        .otherwise(F.round((F.col("n_chars") - 100) * (255.0 / 300.0), 4))
    )
    return d.select("doc_id", v.alias("v"))


@query(
    "threshold_binarize_nchars",
    """
    SELECT doc_id, CASE WHEN n_chars <= 250 THEN 0 ELSE 255 END AS v
    FROM documents
    """,
)
def threshold_binarize_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """black==white hard-threshold branch of contrast_image (misc.c:111-121)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.when(F.col("n_chars") <= 250, F.lit(0)).otherwise(F.lit(255)).alias("v")
    )


@query(
    "quantize_nchars",
    """
    SELECT doc_id,
           ROUND(ROUND((n_chars - 128) * 0.25) / 0.25 + 128, 2) AS v
    FROM documents
    """,
)
def quantize_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantize_image semantics (dithering.c:22-37) with steps=0.25."""
    d = load_table(spark, sf_dir, "documents")
    v = F.round(F.round((F.col("n_chars") - 128) * 0.25, 0) / 0.25 + 128, 2)
    return d.select("doc_id", v.alias("v"))


@query(
    "histogram_nchars",
    """
    SELECT CAST(FLOOR(n_chars / 32) AS BIGINT) AS bin, COUNT(*) AS n
    FROM documents GROUP BY 1
    """,
)
def histogram_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level histogram = a real Spark hash aggregate (misc.c:86-104 analogue)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.floor(F.col("n_chars") / 32).alias("bin")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "histogram_reference_quirk",
    """
    SELECT CASE WHEN n_chars / 255.0 < 0 THEN 0
                WHEN n_chars / 255.0 > 1 THEN 255
                ELSE CAST(TRUNC(n_chars / 255.0) AS INT) END AS bin,
           COUNT(*) AS n
    FROM documents GROUP BY 1
    """,
)
def histogram_reference_quirk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicates the reference's buggy 0..1 binning (misc.c:95-98) faithfully."""
    d = load_table(spark, sf_dir, "documents")
    v = F.col("n_chars") / 255.0
    bin_ = (
        F.when(v < 0, F.lit(0)).when(v > 1, F.lit(255)).otherwise(v.cast("int"))
    )
    return d.groupBy(bin_.alias("bin")).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# vector ops over `embeddings` (cumsum/diff/argmax = vector.c analogues)
# ---------------------------------------------------------------------------

@query(
    "cumsum_embedding",
    """
    SELECT vec_id, idx,
           FLOOR(SUM(CAST(val AS DOUBLE)) OVER (PARTITION BY vec_id ORDER BY idx)
                 * 1000 + 0.5) / 1000 AS csum
    FROM (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS idx,
                 unnest(embedding) AS val
          FROM embeddings WHERE vec_id < 50)
    """,
)
def cumsum_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cumul_vector (vector.c:72-78) as explode + running-sum window.

    round_det / FLOOR form on both engines: Spark ROUND and DuckDB
    ROUND disagree on .5 grid points (VERDICT r1); the explicit DOUBLE
    cast pins the running-sum dtype on both sides.
    """
    from pyspark.sql.window import Window

    from ocr_spark.operators.dedup import round_det

    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 50)
    ex = e.select("vec_id", F.posexplode("embedding").alias("idx", "val"))
    w = Window.partitionBy("vec_id").orderBy("idx")
    csum = F.sum(F.col("val").cast("double")).over(w)
    return ex.select("vec_id", "idx", round_det(csum, 3).alias("csum"))


@query(
    "diff_embedding",
    """
    SELECT vec_id, idx,
           FLOOR((CAST(val AS DOUBLE) - CAST(lag_val AS DOUBLE)) * 10000 + 0.5)
             / 10000 AS delta
    FROM (
      SELECT vec_id, idx, val,
             LAG(val) OVER (PARTITION BY vec_id ORDER BY idx) AS lag_val
      FROM (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS idx,
                   unnest(embedding) AS val
            FROM embeddings WHERE vec_id < 50))
    WHERE lag_val IS NOT NULL
    """,
)
def diff_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """diff_vector (vector.c:80-86) as lag window.

    round_det / FLOOR on both engines (see cumsum_embedding)."""
    from pyspark.sql.window import Window

    from ocr_spark.operators.dedup import round_det

    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 50)
    ex = e.select("vec_id", F.posexplode("embedding").alias("idx", "val"))
    w = Window.partitionBy("vec_id").orderBy("idx")
    delta = F.col("val").cast("double") - F.col("lag_val").cast("double")
    return (
        ex.withColumn("lag_val", F.lag("val").over(w))
        .where(F.col("lag_val").isNotNull())
        .select("vec_id", "idx", round_det(delta, 4).alias("delta"))
    )


@query(
    "argmax_embedding",
    """
    SELECT vec_id,
           list_position(embedding, list_aggregate(embedding, 'max')) - 1 AS argmax_idx
    FROM embeddings
    """,
)
def argmax_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """index_of_max (vector.c:214-222): first index of the maximum."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        (F.array_position(F.col("embedding"), F.array_max("embedding")) - 1)
        .cast("bigint")
        .alias("argmax_idx"),
    )


@query("ann_cosine_topk", None)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs a broadcast query vector.

    The scale path: broadcast the (tiny) query side, keep the corpus
    side partition-parallel; dot products run as JVM higher-order
    functions (zip_with/aggregate) — no Python in the loop. Exact
    sequential fold + deterministic floor rounding on BOTH engines
    (DuckDB's list_cosine_similarity computes in a different op order
    and disagrees in low bits — caught by the 17-digit gate mode).
    """
    from ocr_spark.operators.dedup import cosine, round_det

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    joined = e.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    cos = cosine(F.col("embedding"), F.col("qv"))
    return (
        joined.select("vec_id", round_det(cos, 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# pixel-path queries (rows-only checks: numpy kernels are not SQL-
# expressible; byte-identity is enforced by tests/test_c_crosscheck.py
# and tests/test_spark_pipeline.py instead)
# ---------------------------------------------------------------------------

@query("px_pipeline_features")
def px_pipeline_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extraction pipeline (DOM strip + fused OCR chain: fix-bg,
    calc_statistics, bin auto, deskew, line bands, CCL glyph boxes)
    over a deterministic embedded-scan corpus."""
    from ocr_spark.operators.pipeline import extract_pages
    from ocr_spark.sources.corpus import pages_df

    pages = pages_df(spark, 64, seed=42, embed_scan=True, scan_shape=(64, 96))
    out = extract_pages(pages)
    return out.select(
        "url",
        F.length("extracted").alias("text_len"),
        "n_lines",
        "n_glyphs",
        F.round("graythr", 6).alias("graythr"),
        F.round("skew_deg", 4).alias("skew_deg"),
        F.round("ink_ratio", 6).alias("ink_ratio"),
    )


@query("px_kernel_checksums")
def px_kernel_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One checksum row per (page, kernel) across the battery —
    fix_bg, binarize, half, double, dither (all three), skew, rot90 —
    pinning the distributed kernel outputs bit-for-bit."""
    from ocr_spark.kernels import fixtures
    from ocr_spark.operators.stages import apply_kernel, img_to_bytes

    arrays = [fixtures.shaded(48, 64, 42, k) for k in range(8)]
    base = spark.createDataFrame(
        [(k, img_to_bytes(a), a.shape[0], a.shape[1]) for k, a in enumerate(arrays)],
        "key int, img binary, h int, w int",
    )
    battery = [
        ("fix_bg", (8.0,)),
        ("binarize", (0.5,)),
        ("half", ()),
        ("double", (0.5,)),
        ("dither_floyd", (64.0,)),
        ("dither_cumulative", (64.0,)),
        ("dither_blue_noise", (64.0,)),
        ("skew", (1.5,)),
        ("rotate_90", (90,)),
        ("convolve_3x3", (4.0, -1.0, -1.0, 0.0)),
        ("laplacian", (-0.25,)),
        ("mean_y", (5,)),
        # §2.6 solvers + §2.4 selection through the same Spark plumbing
        ("deconvolve_3x1", (0.25, 0.5, 0.25, 1)),
        ("deconvolve_1x3", (0.2, 0.6, 0.2, 1)),
        ("deconvolve_3x3", (4.0, -1.0, -1.0, 0.0, 8, 0.0)),
        ("s_paste", (-0.25, 20)),
        ("fill_rect", (0.5, 8, 8, 32, 28, 200.0)),
        ("contrast", (60.0, 190.0)),
        ("quantize", (4.0,)),
        ("background", (8.0,)),
        ("draw_grid", (10, 10)),
        ("redouble", (1, 0)),
        ("half_x", ()),
        ("half_y", ()),
        ("shearx", (0.05,)),
        ("sheary", (0.05,)),
        ("deskew", ()),
    ]
    outs = []
    for name, params in battery:
        df = apply_kernel(base, name, *params)
        outs.append(
            df.select(
                "key",
                F.lit(name).alias("op"),
                F.md5(F.col("img")).alias("img_md5"),
                F.col("h"),
                F.col("w"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


@query("px_grafix_program")
def px_grafix_program(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CLI word language as a fused corpus plan
    (plans/grafix.py): `fix-bg 8 stat bin auto` over embedded scans,
    one Arrow pass per page, checksummed per page."""
    from ocr_spark.kernels import fixtures
    from ocr_spark.operators.stages import img_to_bytes
    from ocr_spark.plans.grafix import run_words_df

    arrays = [fixtures.shaded(48, 64, 42, k) for k in range(12)]
    base = spark.createDataFrame(
        [(k, img_to_bytes(a), a.shape[0], a.shape[1]) for k, a in enumerate(arrays)],
        "pag int, img binary, h int, w int",
    )
    out = run_words_df(base, ["fix-bg", "8", "stat", "bin", "auto"])
    return out.select("pag", F.md5("img").alias("img_md5"), "h", "w")


@query("px_split_pages")
def px_split_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """splitx 1-row->2-rows over double-page scans (transform.c:48-73)."""
    from ocr_spark.kernels import fixtures
    from ocr_spark.operators.stages import img_to_bytes, split_scans

    arrays = [fixtures.twopage(64, 160, 42, k) for k in range(8)]
    base = spark.createDataFrame(
        [(k, img_to_bytes(a), a.shape[0], a.shape[1]) for k, a in enumerate(arrays)],
        "key int, img binary, h int, w int",
    )
    out = split_scans(base, 0.5)
    return out.select("key", "side", F.md5("img").alias("img_md5"), "h", "w")


# ---------------------------------------------------------------------------
# deduplication family (operators/dedup.py): exact dedup is above; these
# are the near-dup tiers a training-data pipeline needs. All JVM
# expressions; the DuckDB oracles mirror the exact-BIGINT polynomial
# hashing bit-for-bit (see operators/dedup.py docstring).
# ---------------------------------------------------------------------------

def _duck_polyhash(s: str) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({s}, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
        "(acc, v) -> (acc*131 + v) % 1000000007)"
    )


def _duck_md5hash(s: str) -> str:
    """Mirror of operators/dedup.fast_hash: int(md5_hex[:15], 16) % MOD."""
    return (
        "(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(substr(md5({s}), 1, 15), ''), "
        "hc -> CAST(strpos('0123456789abcdef', hc) - 1 AS BIGINT))), "
        "(hacc, hv) -> hacc*16 + hv) % 1000000007)"
    )


_DUCK_SHINGLES = f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform(
               list_transform(generate_series(1, len(t)-2),
                              i -> array_to_string(t[i:i+2], ' ')),
               s -> {_duck_md5hash('s')}))) AS hs
      FROM toks
    )
"""

_DUCK_JACCARD = (
    "(FLOOR(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)"
    " / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))"
    " * 10000 + 0.5) / 10000)"
)


@query(
    "dedup_minhash_lsh",
    f"""
    WITH {_DUCK_SHINGLES},
    sig AS (
      SELECT doc_id, hs,
             list_transform(generate_series(0, 15), j ->
               list_aggregate(list_transform(hs,
                 h -> ((2*j+1)*h + 7919*j) % 1000000007), 'min')) AS sig
      FROM sh WHERE len(hs) > 0
    ),
    buckets AS (
      SELECT doc_id, bb.band AS band,
             array_to_string(list_transform(sig[bb.band*4+1 : bb.band*4+4],
                                            v -> CAST(v AS VARCHAR)), ':') AS key
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bb
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b, {_DUCK_JACCARD} AS jaccard
      FROM cand JOIN sh x ON cand.doc_a = x.doc_id
                JOIN sh y ON cand.doc_b = y.doc_id)
    WHERE jaccard >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4x4 bands) near-dup pairs, exact-Jaccard verified."""
    from ocr_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_jaccard_ngram",
    f"""
    WITH {_DUCK_SHINGLES},
    pre AS (SELECT doc_id, unnest(hs[1 : len(hs)//2 + 1]) AS h FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, n_shared, jaccard FROM (
      SELECT doc_a, doc_b,
             len(list_intersect(x.hs, y.hs)) AS n_shared,
             {_DUCK_JACCARD} AS jaccard
      FROM cand JOIN sh x ON cand.doc_a = x.doc_id
                JOIN sh y ON cand.doc_b = y.doc_id)
    WHERE jaccard >= 0.5
    """,
)
def dedup_jaccard_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs via a prefix-filtered inverted-index
    join (exact recall at 0.5)."""
    from ocr_spark.operators.dedup import jaccard_ngram_pairs

    return jaccard_ngram_pairs(load_table(spark, sf_dir, "documents")).select(
        "doc_a", "doc_b", F.col("n_shared").cast("bigint").alias("n_shared"), "jaccard"
    )


def _duck_simhash_bits() -> str:
    return " + ".join(
        f"CASE WHEN list_sum(list_transform(hsv, h -> CASE WHEN (h // {1 << i}) % 2 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN {1 << i} ELSE 0 END"
        for i in range(24)
    )


@query(
    "dedup_simhash",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    th AS (SELECT doc_id, list_transform(t, w -> {_duck_md5hash('w')}) AS hsv
           FROM toks),
    shh AS (SELECT doc_id, CAST({_duck_simhash_bits()} AS BIGINT) AS sh FROM th),
    nib AS (
      SELECT doc_id, sh, bb.band AS band, (sh // bb.p) % 64 AS nib
      FROM shh CROSS JOIN
        (SELECT unnest([0, 1, 2, 3]) AS band, unnest([1, 64, 4096, 262144]) AS p) bb
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.sh AS sha, b.sh AS shb
      FROM nib a JOIN nib b
        ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS INTEGER) AS hamming
      FROM cand)
    WHERE hamming <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash pairs within Hamming<=3 via nibble-band buckets."""
    from ocr_spark.operators.dedup import simhash_pairs

    return simhash_pairs(load_table(spark, sf_dir, "documents"))


_DUCK_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(generate_series(1, len({a})),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (q, r) -> q + r)"
)
_DUCK_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),"
    " (q, r) -> q + r))"
)


def _duck_cosine(a: str, b: str) -> str:
    return (
        f"({_DUCK_DOT.format(a=a, b=b)}"
        f" / ({_DUCK_NORM.format(a=a)} * {_DUCK_NORM.format(a=b)}))"
    )


ORACLE["ann_cosine_topk"] = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           FLOOR({_duck_cosine('e.embedding', 'q.qv')} * 10000 + 0.5) / 10000
             AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """


@query(
    "neardup_cosine",
    f"""
    WITH v AS (SELECT vec_id, embedding AS e FROM embeddings)
    SELECT vec_a, vec_b, cos FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             FLOOR({_duck_cosine('a.e', 'b.e')} * 1000000 + 0.5) / 1000000 AS cos
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
    WHERE cos >= 0.4
    """,
)
def neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= 0.4), exact verify.

    max_bucket=256 arms the adaptive sub-banding guard: at this pinned
    low threshold an isotropic corpus collapses into ~one angular band
    (VERDICT r2 "what's wrong" #3), so extra pivots subdivide it until
    no bucket exceeds 256 vectors — candidates stay O(n·256·3^m)
    instead of quadratic-within-bucket, with recall still exact."""
    from ocr_spark.operators.dedup import cosine_neardup_pairs

    return cosine_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        max_bucket=256,
        # cap the sub-banding escalation: on a near-isotropic corpus the
        # extra pivots can't split the W-wide band anyway (the tiling
        # step carries the per-task bound); 4 keeps the probe fan-out
        # at 81 and the adaptive loop at 2 control-plane counts
        max_pivots=4,
        # enforced corpus-scale routing (VERDICT r4 #6): past ~5e8
        # estimated candidates the operator REFUSES and names
        # semdedup/ANN — the inherent n^2/resolution volume wall the
        # 100x smoke measured (sf0.1 estimate: 4e6 — 100x headroom)
        max_candidates=500_000_000,
    )


# ---------------------------------------------------------------------------
# text analysis (functions/text_analysis.py): language-ID + fingerprints
# ---------------------------------------------------------------------------

def _duck_lang_sql() -> str:
    from ocr_spark.functions.text_analysis import STOPWORDS

    score_cols = ", ".join(
        "(FLOOR(CAST(len(list_filter(t, w -> w IN ("
        + ", ".join(f"'{w}'" for w in words)
        + "))) AS DOUBLE) / len(t) * 10000 + 0.5) / 10000) AS s_" + lang
        for lang, words in STOPWORDS.items()
    )
    langs = list(STOPWORDS)
    branches = []
    for lang in langs[:-1]:
        cond = " AND ".join(
            f"s_{lang} >= s_{o}" for o in langs if o != lang
        )
        branches.append(f"WHEN {cond} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    scored AS (SELECT doc_id, {score_cols} FROM toks)
    SELECT doc_id, s_en, s_de, s_es, s_fr, {case} AS pred_lang FROM scored
    """


@query("doc_lang_id", None)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID: per-lang score columns + argmax pick."""
    from ocr_spark.functions.text_analysis import lang_pred, lang_scores

    d = load_table(spark, sf_dir, "documents")
    scores = lang_scores(F.col("text"))
    d = d.select(
        "doc_id", *[scores[lang].alias(f"s_{lang}") for lang in scores]
    )
    rounded = {lang: F.col(f"s_{lang}") for lang in scores}
    return d.withColumn("pred_lang", lang_pred(rounded))


ORACLE["doc_lang_id"] = _duck_lang_sql()


@query(
    "doc_fingerprint",
    f"""
    WITH lo AS (SELECT doc_id, lower(text) AS s FROM documents
                WHERE len(lower(text)) >= 8),
    kg AS (SELECT doc_id, s,
                  list_transform(generate_series(1, len(s) - 7),
                                 i -> {_duck_md5hash('s[i:i+7]')}) AS hs
           FROM lo),
    win AS (SELECT doc_id, s, hs,
                   list_transform(generate_series(1, len(hs) - 3),
                                  wj -> list_aggregate(hs[wj:wj+3], 'min')) AS wins
            FROM kg)
    SELECT doc_id,
           {_duck_polyhash('s')} AS fp_full,
           list_aggregate(hs, 'min') AS fp_min,
           CAST(len(list_distinct(wins)) AS BIGINT) AS n_winnow
    FROM win
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-8-gram rolling-hash fingerprints + winnowing set size
    (row-exploded + window-min; see fingerprint_stats docstring)."""
    from ocr_spark.functions.text_analysis import fingerprint_stats

    return fingerprint_stats(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# similarity search, scale tiers (operators/ann.py)
# ---------------------------------------------------------------------------

@query(
    "ann_ivf_topk",
    f"""
    WITH v AS (SELECT vec_id AS id, embedding AS e FROM embeddings),
    cents AS (SELECT id AS cent_id, e AS ce FROM v WHERE id < 10),
    scored AS (SELECT v.id, v.e, c.cent_id,
                      {_duck_cosine('v.e', 'c.ce')} AS sim
               FROM v CROSS JOIN cents c),
    assigned AS (
      SELECT id, e, cent_id AS cell FROM (
        SELECT id, e, cent_id,
               row_number() OVER (PARTITION BY id
                                  ORDER BY sim DESC, cent_id ASC) AS rn
        FROM scored) WHERE rn = 1),
    q AS (SELECT e AS qe FROM v WHERE id = 0),
    qc AS (SELECT cent_id AS cell FROM (
             SELECT c.cent_id, {_duck_cosine('c.ce', 'q.qe')} AS sim
             FROM cents c CROSS JOIN q
             ORDER BY sim DESC, cent_id ASC LIMIT 3))
    SELECT p.id AS vec_id, p.cell AS cell,
           FLOOR({_duck_cosine('p.e', 'q.qe')} * 1000000 + 0.5) / 1000000 AS cos
    FROM assigned p JOIN qc ON p.cell = qc.cell CROSS JOIN q
    WHERE p.id <> 0
    ORDER BY cos DESC, vec_id ASC LIMIT 10
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k, query-time assignment (the scan-parity form)."""
    from ocr_spark.operators.ann import ivf_topk

    return ivf_topk(load_table(spark, sf_dir, "embeddings"))


def _index_cache_path(sf_dir: str, version: int, name: str) -> str:
    """Deterministic per-corpus index location (tmp, keyed by source).

    The key includes the index FORMAT VERSION and the uid (ADVICE r3):
    a version bump invalidates indexes written by older layouts instead
    of silently reusing them, and two users on one host never collide
    on a world-readable tempdir path they can't overwrite. One keying
    discipline for every written-index cache (IVF, CDXJ)."""
    import hashlib
    import os
    import tempfile

    uid = os.getuid() if hasattr(os, "getuid") else 0
    key = hashlib.md5(
        f"{os.path.realpath(sf_dir)}:v{version}:u{uid}".encode()
    ).hexdigest()[:12]
    return os.path.join(
        tempfile.gettempdir(), f"ocr_spark_{name}_{key}", name
    )


def _ivf_index_path(sf_dir: str) -> str:
    from ocr_spark.operators.ann import IVF_FORMAT_VERSION

    return _index_cache_path(sf_dir, IVF_FORMAT_VERSION, "ivf")


@query("ann_ivf_probe_topk", None)
def ann_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over the WRITTEN index — the 100-TB path (VERDICT r2 #2).

    ``ivf_write`` persists vectors partitioned BY CELL once; the probe
    collects the (bounded, ~sqrt n) centroid table, picks nprobe cells
    driver-side, and reads only those cells' files — the literal
    ``cell IN (...)`` predicate becomes static parquet PartitionFilters,
    so the nprobe/C data reduction happens at file listing, before any
    row is read. ``ann_ivf_topk`` keeps the query-time-assignment form
    for parity; this is the plan you'd run against 10^12 vectors. The
    index is rebuilt only when the source parquet is newer (write once,
    probe many).
    """
    import os

    from ocr_spark.operators.ann import ivf_probe_topk, ivf_write

    vecs = load_table(spark, sf_dir, "embeddings")
    path = _ivf_index_path(sf_dir)
    # _INDEX_COMPLETE is written AFTER both the vector and centroid
    # writes (ADVICE r3) — the vector dir's _SUCCESS alone can name a
    # torn index whose centroids never landed
    marker = os.path.join(path, "_INDEX_COMPLETE")
    src = os.path.join(sf_dir, "embeddings.parquet")
    src_mtime = os.path.getmtime(src) if os.path.exists(src) else 0.0
    if not os.path.exists(marker) or os.path.getmtime(marker) < src_mtime:
        ivf_write(vecs, path)
    qe = [
        float(x)
        for x in vecs.where(F.col("vec_id") == 0).collect()[0].embedding
    ]
    out = ivf_probe_topk(spark, path, qe, exclude_id=0)
    # partition columns read back as int; match the query-time form's long
    return out.withColumn("cell", F.col("cell").cast("long"))


ORACLE["ann_ivf_probe_topk"] = ORACLE["ann_ivf_topk"]


def _duck_lsh_sql() -> str:
    from ocr_spark.operators.ann import duck_sketch_sql

    sk = duck_sketch_sql("embedding", 64)
    return f"""
    WITH v AS (SELECT vec_id AS id, embedding AS e,
                      CAST({sk.replace('embedding', 'embedding')} AS BIGINT) AS sk
               FROM embeddings),
    q AS (SELECT e AS qe, sk AS qsk FROM v WHERE id = 0)
    SELECT vec_id, hamming, cos FROM (
      SELECT v.id AS vec_id,
             CAST(bit_count(xor(v.sk, q.qsk)) AS INTEGER) AS hamming,
             FLOOR({_duck_cosine('v.e', 'q.qe')} * 1000000 + 0.5) / 1000000 AS cos
      FROM v CROSS JOIN q WHERE v.id <> 0)
    WHERE hamming <= 1
    ORDER BY cos DESC, vec_id ASC LIMIT 10
    """


@query("ann_lsh_topk", None)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH multi-probe top-k (Hamming<=1 buckets), exact re-rank."""
    from ocr_spark.operators.ann import lsh_bucket_topk

    return lsh_bucket_topk(load_table(spark, sf_dir, "embeddings"), dim=64)


ORACLE["ann_lsh_topk"] = _duck_lsh_sql()


# ---------------------------------------------------------------------------
# relational coverage, round 2: as-of join, cube, grouping sets, intersect
# ---------------------------------------------------------------------------

@query(
    "asof_click_before_error",
    """
    WITH c AS (SELECT user_id, ts, ROUND(MAX(value), 2) AS click_value
               FROM events WHERE event_type = 'click' GROUP BY 1, 2),
    e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
    SELECT e.event_id,
           e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           c.click_value
    FROM e ASOF JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def asof_click_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (most recent click at or before each error, per user).

    Spark lacks a native ASOF join; the scalable pattern is
    union-tag-and-carry: union both sides, one window per user ordered
    by event time, carry the last click with ignorenulls. ONE shuffle
    by user_id total — vs the naive join+max-per-error which shuffles
    the full pair blow-up. DuckDB's native ASOF JOIN is the oracle.
    """
    from pyspark.sql import Window

    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("click_value"))
        .select(
            "user_id", "ts", "click_value",
            F.lit(0).alias("kind"), F.lit(None).cast("long").alias("event_id"),
        )
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts",
        F.lit(None).cast("double").alias("click_value"),
        F.lit(1).alias("kind"), "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = clicks.unionByName(errors).select(
        "*",
        F.last("click_value", ignorenulls=True).over(w).alias("cv"),
        F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("cts"),
    )
    return (
        tagged.where((F.col("kind") == 1) & F.col("cv").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("err_ts"),
            F.date_format("cts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
            F.col("cv").alias("click_value"),
        )
    )


@query(
    "range_join_error_context",
    """
    WITH e AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'error'),
    c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT e.event_id, e.user_id,
           COUNT(c.ts) AS clicks_nearby,
           ROUND(COALESCE(SUM(c.value), 0), 2) AS click_value_nearby
    FROM e LEFT JOIN c
      ON e.user_id = c.user_id
     AND c.ts >= e.ts - INTERVAL 10 MINUTE
     AND c.ts <= e.ts + INTERVAL 10 MINUTE
    GROUP BY e.event_id, e.user_id
    """,
)
def range_join_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: clicks within ±10 minutes of each error,
    per user — the temporal-context join pattern (as-of's two-sided
    sibling).

    Plan shape: the equi key (user_id) drives a hash/sort-merge join;
    the range predicate filters inside matched key groups, so the
    shuffle is keyed and uniform — never a cross product. Users with
    pathological event counts are AQE-skew-join territory; the
    interval bound caps the per-row match fan-out by construction.
    """
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    e = ev.where(F.col("event_type") == "error").select(
        "event_id", F.col("user_id").alias("u"), F.col("ts").alias("ets")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"), "value"
    )
    lo = F.col("ets") - F.expr("INTERVAL 10 MINUTES")
    hi = F.col("ets") + F.expr("INTERVAL 10 MINUTES")
    joined = e.join(
        c,
        (F.col("u") == F.col("cu")) & (F.col("cts") >= lo) & (F.col("cts") <= hi),
        "left",
    )
    return joined.groupBy("event_id", F.col("u").alias("user_id")).agg(
        F.count("cts").alias("clicks_nearby"),
        F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias(
            "click_value_nearby"
        ),
    )


@query(
    "cube_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims: Spark expands grouping sets map-side, still
    one shuffle (Expand -> partial agg -> exchange -> final agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "grouping_sets_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views = __import__(
        "ocr_spark.sources.tables", fromlist=["register_views"]
    ).register_views
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "intersect_active_custkeys",
    """
    SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y') = '1996'
    INTERSECT
    SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y') = '1997'
    """,
)
def intersect_active_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection: customers ordering in both 1996 and 1997."""
    o = load_table(spark, sf_dir, "orders")
    y = lambda yy: o.where(  # noqa: E731
        F.date_format("o_orderdate", "yyyy") == yy
    ).select("o_custkey")
    return y("1996").intersect(y("1997"))


@query(
    "pdf_extract",
    """
    SELECT doc_id, text AS extracted FROM documents
    """,
)
def pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF parse path (north_rule): documents -> real PDF-1.4 binaries
    (writer UDF) -> text extraction (parser UDF) -> byte-identical text
    per doc. The corpus rotates the three stream shapes crawled PDFs
    carry: plain, Flate-compressed, and PNG-predictor-coded Flate
    (/DecodeParms /Predictor 12 — the PDF 1.5+ layout; round 4 decodes
    it via _unpredict instead of dead-lettering). Two Arrow stages over
    a binary column; swap the parser body for pdfium and the plumbing
    is unchanged."""
    import pandas as pd

    from ocr_spark.functions.pdf_extract import extract_pdf_df, make_pdf

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def to_pdf(batches):
        for pdf in batches:
            blobs = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = text.split(" ")
                lines = [
                    " ".join(words[i : i + 8]) for i in range(0, len(words), 8)
                ]
                m = int(doc_id) % 3
                blobs.append(
                    make_pdf(
                        [lines],
                        compress=(m == 1),
                        predictor_columns=16 if m == 2 else None,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "pdf": blobs})

    pdfs = d.mapInPandas(to_pdf, "doc_id long, pdf binary")
    out = extract_pdf_df(pdfs)
    return out.select(
        "doc_id", F.regexp_replace("extracted", "\n", " ").alias("extracted")
    )


@query(
    "doc_sample_stable",
    f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE {_duck_md5hash('text')} % 100 < 10
    """,
)
def doc_sample_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (10%): the training-data
    pipeline primitive — the same document lands in the same split on
    every run and on every cluster (unlike rand()-based sampling), so
    held-out sets stay held out across reprocessing."""
    from ocr_spark.operators.dedup import fast_hash

    d = load_table(spark, sf_dir, "documents")
    return d.where(fast_hash(F.col("text")) % 100 < 10).select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "doc_bpe_token_count",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z0-9]+')) AS n_word_tokens,
           len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct_tokens,
           len(regexp_extract_all(text, '[a-z0-9]+|[.,!?;:]')) AS n_tokens
    FROM documents
    """,
)
def doc_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenizer proxy: word runs + punctuation as separate
    tokens (regexp_extract_all, JVM-side). The real BPE merge table
    would be a broadcast map over exactly this pre-tokenization."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).cast("bigint").alias("n_word_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[.,!?;:]"), 0)).cast("bigint").alias("n_punct_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+|[.,!?;:]"), 0)).cast("bigint").alias("n_tokens"),
    )


@query(
    "knn_classify",
    f"""
    WITH v AS (SELECT vec_id, embedding AS e, label FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    scored AS (
      SELECT v.vec_id, v.label,
             FLOOR({_duck_cosine('v.e', 'q.qe')} * 1000000 + 0.5) / 1000000 AS cos
      FROM v CROSS JOIN q WHERE v.vec_id <> 0
      ORDER BY cos DESC, vec_id ASC LIMIT 15
    )
    SELECT label, COUNT(*) AS votes, MAX(cos) AS best_cos
    FROM scored GROUP BY label
    """,
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label vote for a query vector: exact top-15 by cosine then a
    per-label tally — the brute tier of an embedding classifier (the
    IVF/LSH tiers in operators/ann.py prune the same scan at scale)."""
    from ocr_spark.operators.dedup import cosine
    from ocr_spark.operators.dedup import round_det as _round_det

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    top = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            _round_det(cosine(F.col("embedding"), F.col("qe")), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(15)
    )
    return top.groupBy("label").agg(
        F.count(F.lit(1)).alias("votes"),
        F.max("cos").alias("best_cos"),
    )


# ---------------------------------------------------------------------------
# relational coverage, round 3: outer/semi/anti joins, subquery, percentile
# ---------------------------------------------------------------------------

@query(
    "left_outer_customer_orders",
    """
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def left_outer_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (COUNT skips nulls)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias("total"),
        )
    )


@query(
    "anti_join_idle_customers",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND strftime(o.o_orderdate, '%Y') = '2001')
    """,
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no 2001 orders (left_anti = NOT EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.date_format("o_orderdate", "yyyy") == "2001"
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@query(
    "semi_join_parts_ordered",
    """
    SELECT p_brand, COUNT(*) AS n_parts FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    GROUP BY p_brand
    """,
)
def semi_join_parts_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: parts that appear in at least one lineitem."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@query(
    "scalar_subquery_above_avg",
    """
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a filter (Spark SQL form, same as the oracle)."""
    register_views = __import__(
        "ocr_spark.sources.tables", fromlist=["register_views"]
    ).register_views
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        GROUP BY o_orderpriority
        """
    )


@query(
    "percentiles_order_value",
    """
    SELECT o_orderstatus,
           FLOOR(quantile_cont(o_totalprice, 0.5) * 100 + 0.5) / 100 AS p50,
           FLOOR(quantile_cont(o_totalprice, 0.9) * 100 + 0.5) / 100 AS p90
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentiles_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group; Spark percentile()
    and DuckDB quantile_cont share linear-interpolation semantics."""
    from ocr_spark.operators.dedup import round_det

    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        round_det(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        round_det(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
    )


# ---------------------------------------------------------------------------
# capstone: the composed training-data pipeline as ONE oracled query
# ---------------------------------------------------------------------------

@query(
    "pipeline_training_corpus",
    f"""
    WITH extracted AS (
      SELECT doc_id, text AS extracted FROM documents
    ),
    scored AS (
      SELECT doc_id, extracted,
             FLOOR((LEAST(1.0, len(string_split(extracted, ' ')) / 100.0) * 0.7
                    + (len(list_filter(string_split(extracted, ' '),
                           x -> x IN ('the','a','of','and','to','in','is')))
                       / CAST(len(string_split(extracted, ' ')) AS DOUBLE)) * 0.3)
                   * 10000 + 0.5) / 10000 AS quality
      FROM extracted
    ),
    kept AS (SELECT * FROM scored WHERE quality >= 0.3),
    deduped AS (
      SELECT doc_id, extracted, quality FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY md5(extracted) ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1
    )
    SELECT doc_id, quality,
           len(string_split(extracted, ' ')) AS n_tokens
    FROM deduped
    WHERE {_duck_md5hash('extracted')} % 100 < 80
    """,
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline, end to end in one lazy plan:

    pages -> DOM-density extraction (Arrow UDF) -> quality score (JVM
    exprs) -> quality gate -> exact dedup keep-lowest-id (window over
    content hash) -> deterministic 80% train split (content-hash
    sampling) -> (doc_id, quality, n_tokens).

    Every stage after the UDF is codegen; the only shuffles are the
    dedup window (by content hash, uniform) — the shape this engine
    exists to run at 10^12 docs. The oracle replays every step in SQL,
    including the extraction invariant (extracted == documents.text).
    """
    from pyspark.sql import Window

    from ocr_spark.operators.dedup import fast_hash, round_det

    pages = documents_as_pages(load_table(spark, sf_dir, "documents"))
    ex = with_main_text(pages).select("doc_id", "extracted")
    toks = F.split(F.col("extracted"), " ")
    n = F.size(toks)
    # token-equality stopword count as ONE codegen regexp (lookarounds
    # pin whole-token matches; equivalence vs the filter-HOF form
    # asserted at sf0.1). The HOF lambda is interpreted, and quality is
    # referenced by a Filter AND a later projection — collapsed
    # projections re-evaluated the interpreted fold per reference
    # (measured: the dedup-window step cost 3.6s of pure recompute on
    # 5k rows; regexp_count made the whole pipeline 2.3s -> ~1s).
    hits = F.regexp_count(
        F.col("extracted"),
        F.lit(r"(?:^|(?<= ))(?:the|a|of|and|to|in|is)(?= |$)"),
    )
    quality = round_det(
        F.least(F.lit(1.0), n / F.lit(100.0)) * 0.7
        + (hits / n.cast("double")) * 0.3,
        4,
    )
    scored = ex.select("doc_id", "extracted", quality.alias("quality"))
    kept = scored.where(F.col("quality") >= 0.3)
    w = Window.partitionBy(F.md5(F.col("extracted").cast("binary"))).orderBy(
        "doc_id"
    )
    deduped = kept.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return (
        deduped.where(fast_hash(F.col("extracted")) % 100 < 80)
        .select(
            "doc_id",
            "quality",
            F.size(F.split(F.col("extracted"), " ")).cast("bigint").alias(
                "n_tokens"
            ),
        )
    )


@query(
    "events_json_props",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: JSON field extraction + aggregation
    (get_json_object is JVM-side; no Python)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "doc_gopher_filters",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 1000
                THEN 1 ELSE 0 END AS ok_word_count,
           CASE WHEN (n_chars - len(string_split(text, ' ')) + 1)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE)
                     BETWEEN 3 AND 10 THEN 1 ELSE 0 END AS ok_mean_word_len,
           CASE WHEN len(regexp_extract_all(text, '[^a-z0-9 .]'))
                     / CAST(n_chars AS DOUBLE) < 0.1
                THEN 1 ELSE 0 END AS ok_symbol_ratio
    FROM documents
    """,
)
def doc_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gates as flags: word-count bounds, mean
    word length bounds, symbol ratio cap — the standard pre-training
    filter battery, all codegen expressions."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    nw = F.size(toks)
    mean_wl = (F.col("n_chars") - nw + 1) / nw.cast("double")
    sym = F.size(F.regexp_extract_all("text", F.lit("[^a-z0-9 .]"), 0))
    return d.select(
        "doc_id",
        nw.cast("bigint").alias("n_words"),
        F.when((nw >= 10) & (nw <= 1000), 1).otherwise(0).alias("ok_word_count"),
        F.when((mean_wl >= 3) & (mean_wl <= 10), 1)
        .otherwise(0)
        .alias("ok_mean_word_len"),
        F.when(sym / F.col("n_chars").cast("double") < 0.1, 1)
        .otherwise(0)
        .alias("ok_symbol_ratio"),
    )


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_DUCK_SHINGLES},
    sig AS (
      SELECT doc_id, hs,
             list_transform(generate_series(0, 15), j ->
               list_aggregate(list_transform(hs,
                 h -> ((2*j+1)*h + 7919*j) % 1000000007), 'min')) AS sig
      FROM sh WHERE len(hs) > 0
    ),
    buckets AS (
      SELECT doc_id, bb.band AS band,
             array_to_string(list_transform(sig[bb.band*4+1 : bb.band*4+4],
                                            v -> CAST(v AS VARCHAR)), ':') AS key
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bb
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b, {_DUCK_JACCARD} AS jaccard
        FROM cand JOIN sh x ON cand.doc_a = x.doc_id
                  JOIN sh y ON cand.doc_b = y.doc_id)
      WHERE jaccard >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(id, cluster) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.cluster FROM edges e JOIN reach r ON e.v = r.id
    )
    SELECT id AS doc_id, MIN(cluster) AS cluster
    FROM reach GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH pairs -> connected components ->
    (doc_id, cluster=min reachable id). Oracle: recursive CTE closure."""
    from ocr_spark.operators.dedup import connected_components, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster"
    )


def _duck_md5hash64(s: str) -> str:
    """Full-width (60-bit) md5-derived BIGINT — the HLL hash."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(substr(md5({s}), 1, 15), ''), "
        "hc -> CAST(strpos('0123456789abcdef', hc) - 1 AS BIGINT))), "
        "(hacc, hv) -> hacc*16 + hv)"
    )


@query(
    "hll_user_sketch",
    f"""
    WITH h AS (
      SELECT {_duck_md5hash64('CAST(user_id AS VARCHAR)')} AS h64
      FROM events
    ),
    parts AS (SELECT h64 % 64 AS bucket, h64 // 64 AS w FROM h)
    SELECT bucket,
           MAX(CASE WHEN w = 0 THEN 55
                    ELSE 55 - length(bin(w)) END) AS max_rho
    FROM parts GROUP BY bucket
    """,
)
def hll_user_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sketch operator: a deterministic HyperLogLog.

    64 registers over a 60-bit md5-derived hash; the rank (leading-zero
    count of the 54-bit suffix) is extracted via the binary-string
    length — integer ops only, so the DuckDB oracle reproduces every
    register bit-for-bit (most sketches can't be oracle-checked because
    their hashes are engine-private; this one can). Registers mergeable
    by MAX — the distributed-combine property that makes HLL the
    standard cardinality sketch at 10^12 scale. The estimate derived
    from these registers is tested against exact distinct in pytest.
    """
    # Shared with the streaming surface (same registers on a stream in
    # complete mode — mergeability by MAX). Integer shiftright, not
    # double division: h64 // 64 must match bit-for-bit (ADVICE r1).
    from ocr_spark.streaming.pipeline import hll_registers

    return hll_registers(load_table(spark, sf_dir, "events"))


@query(
    "cms_token_sketch",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
      SELECT rr.r AS row,
             ({_duck_md5hash64("CAST(rr.r AS VARCHAR) || ':' || tok")}) % 128 AS col
      FROM toks CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) rr
    )
    SELECT row, col, COUNT(*) AS cnt
    FROM hashed GROUP BY row, col
    """,
)
def cms_token_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream: 4 rows x 128 counters.

    Row-salted md5 hashing (integer-exact, oracle-mirrored bit-for-bit
    like hll_user_sketch). Counters are additive, so the sketch merges
    across partitions/streams by SUM — point-frequency estimates are
    min over rows, always >= truth (tested). The heavy-hitter primitive
    for token/host frequency at corpus scale without a giant exact
    group-by.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    rows = toks.crossJoin(
        spark.createDataFrame([(r,) for r in range(4)], "row int")
    )
    h64 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("row").cast("string"), F.lit(":"), F.col("tok")
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        rows.select("row", (h64 % 128).alias("col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "bloom_token_filter",
    f"""
    WITH toks AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    bits AS (
      SELECT rr.r AS salt,
             ({_duck_md5hash64("CAST(rr.r AS VARCHAR) || '|' || tok")}) % 512
               AS b
      FROM toks CROSS JOIN (SELECT unnest([0, 1, 2]) AS r) rr
    )
    SELECT CAST(b // 32 AS BIGINT) AS word,
           CAST(bit_or(CAST(1 AS BIGINT) << CAST(b % 32 AS INTEGER)) AS BIGINT)
             AS bits
    FROM bits GROUP BY 1
    """,
)
def bloom_token_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership filter over the distinct token set: 512 bits as
    16 32-bit words (shifts stay under either engine's sign bit), 3
    salted hashes per token — the third mergeable-sketch
    primitive (HLL = cardinality, CMS = frequency, Bloom = membership).

    bit_or is commutative/idempotent, so the filter merges across
    partitions, shards, and days with plain aggregation — the shape
    that lets a 10^12-token corpus keep an incremental "have we seen
    this token/url" filter. No false negatives by construction
    (pytest); fp rate follows the standard (1-e^(-kn/m))^k bound.
    Integer-exact md5 hashing keeps the DuckDB oracle bit-for-bit.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok")).distinct()
    salted = toks.crossJoin(
        spark.createDataFrame([(r,) for r in range(3)], "salt int")
    )
    h64 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("salt").cast("string"), F.lit("|"), F.col("tok")
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    b = h64 % 512
    return (
        salted.select(b.alias("b"))
        .select(
            F.shiftright(F.col("b"), 5).alias("word"),
            # pyspark's shiftleft only takes a literal shift; the SQL
            # form accepts a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b % 32 AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
    )


@query("px_darker_fold")
def px_darker_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-ary darker fold (CLI `darker F1 F2...`, grafix.c:273-281):
    pixelwise min across each group of scans via applyInPandas — the
    UDAF shape for page-stack compositing."""
    from ocr_spark.kernels import fixtures
    from ocr_spark.operators.stages import darker_fold, img_to_bytes

    arrays = [
        (k % 4, img_to_bytes(fixtures.shaded(32, 48, 42, k)), 32, 48)
        for k in range(16)
    ]
    base = spark.createDataFrame(arrays, "key int, img binary, h int, w int")
    out = darker_fold(base, "key")
    return out.select("key", F.md5("img").alias("img_md5"), "h", "w")


@query(
    "embedding_quantize_int8",
    """
    SELECT vec_id,
           FLOOR(list_aggregate(list_transform(embedding,
                 v -> abs(CAST(v AS DOUBLE))), 'max') * 10000 + 0.5) / 10000
             AS scale,
           array_to_string(list_transform(embedding,
             v -> CAST(FLOOR(CAST(v AS DOUBLE)
                  / list_aggregate(list_transform(embedding,
                        vv -> abs(CAST(vv AS DOUBLE))), 'max')
                  * 127 + 0.5) AS INTEGER)), ',') AS q_csv
    FROM embeddings
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (q = floor(v/amax*127+.5),
    scale = amax): 4x storage cut for ANN candidate scans; dequantized
    recall is pinned in pytest. All JVM expressions; the floor form
    keeps Spark and DuckDB bit-identical (see operators/dedup.round_det).

    The quantized vector is emitted as a comma-joined STRING: it is the
    suite's only array-valued output, and array stringification is the
    one thing Arrow-enabled and vanilla sessions render differently in
    a pandas-based comparator (caught by the OCR_VANILLA gate mode) —
    a canonical scalar encoding is comparator-proof on any session.
    """
    from ocr_spark.operators.dedup import round_det

    e = load_table(spark, sf_dir, "embeddings")
    amax = F.array_max(
        F.transform("embedding", lambda v: F.abs(v.cast("double")))
    )
    q = F.transform(
        "embedding",
        lambda v: F.floor(v.cast("double") / amax * 127 + F.lit(0.5)).cast("int"),
    )
    return e.select(
        "vec_id",
        round_det(amax, 4).alias("scale"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias(
            "q_csv"
        ),
    )


@query(
    "host_frequency_cap",
    """
    SELECT doc_id, host FROM (
      SELECT doc_id,
             'host' || CAST(doc_id % 97 AS VARCHAR) AS host,
             row_number() OVER (PARTITION BY doc_id % 97 ORDER BY doc_id)
               AS rn
      FROM documents)
    WHERE rn <= 3
    """,
)
def host_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host frequency cap (keep the first K=3 docs per host) — the
    standard pretraining guard against a single domain dominating the
    corpus.

    rank <= K over a window triggers Spark's WindowGroupLimit rewrite:
    each map-side partition keeps only K rows per host BEFORE the
    shuffle (pinned in tests/test_round2.py), so a 10^9-page host costs
    K rows of state, not a sort of its whole partition. Host keys skew
    hard in web corpora — this operator is exactly where the
    bounded-state plan matters.
    """
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    host = F.concat(F.lit("host"), (F.col("doc_id") % 97).cast("string"))
    w = Window.partitionBy(F.col("doc_id") % 97).orderBy("doc_id")
    return (
        d.select("doc_id", host.alias("host"), F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
        .select("doc_id", "host")
    )


@query(
    "decontaminate_ngrams",
    f"""
    WITH {_DUCK_SHINGLES},
    bench AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id < 5),
    corp AS (SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id >= 5)
    SELECT corp.doc_id, COUNT(*) AS n_overlap
    FROM corp JOIN bench ON corp.h = bench.h
    GROUP BY corp.doc_id
    """,
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    3-gram with a held-out benchmark set (here: docs 0-4 stand in for
    the eval set).

    The benchmark shingle-hash set is tiny by construction (eval sets
    are thousands of docs, the corpus is 10^12), so it BROADCASTS and
    the overlap count is a map-side hash join + partial-aggregated
    groupBy on doc_id — one shuffle, no giant-side distinct.
    """
    from ocr_spark.operators.dedup import shingle_rows

    inv = shingle_rows(load_table(spark, sf_dir, "documents"))
    bench = inv.where(F.col("id") < 5).select("h").distinct()
    corp = inv.where(F.col("id") >= 5)
    return (
        corp.join(F.broadcast(bench), "h")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


_STRATA_RATES = {"en": 50, "de": 100, "es": 25, "fr": 10}


@query(
    "stratified_sample",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             {_duck_md5hash("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      FROM documents)
    WHERE bucket < CASE lang
        WHEN 'en' THEN 50 WHEN 'de' THEN 100
        WHEN 'es' THEN 25 WHEN 'fr' THEN 10 ELSE 0 END
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep-rates via a
    content-hash bucket (en 50%, de 100%, es 25%, fr 10%) — the
    rebalancing step of corpus mixing.

    Hash-bucket sampling (not rand()) is reproducible across runs,
    engines, and retries — the property exactly-once pipelines need —
    and is a pure map-side filter: no shuffle, no state, prunes at
    full scan speed at any corpus size.
    """
    from ocr_spark.operators.dedup import fast_hash

    d = load_table(spark, sf_dir, "documents")
    bucket = fast_hash(F.col("doc_id").cast("string")) % 100
    expr = None
    for lang, r in _STRATA_RATES.items():
        c = F.when(F.col("lang") == lang, F.lit(r))
        expr = c if expr is None else expr.when(F.col("lang") == lang, F.lit(r))
    expr = expr.otherwise(F.lit(0))
    return d.where(bucket < expr).select("doc_id", "lang")


@query(
    "warc_roundtrip_extract",
    """
    SELECT doc_id,
           'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d'
               || CAST(doc_id AS VARCHAR) AS url,
           text AS extracted
    FROM documents
    """,
)
def warc_roundtrip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full container path: documents -> HTML page -> WARC/1.0 record
    bytes (JVM string/binary exprs — headers, HTTP block, exact
    Content-Lengths) -> record parser -> DOM-density extraction.

    Proves the WARC layer byte-preserves payloads end-to-end: the
    oracle demands the ORIGINAL text per url after two encodes and two
    parses. Record synthesis is pure codegen (the docs are ASCII, so
    char length == byte length); the parser and extractor are the same
    production code paths sources/warc.py and functions/html_extract.py
    run over real crawl files.
    """
    from typing import Iterator as _It

    import pandas as _pd

    from ocr_spark.operators.extract import documents_as_pages, with_main_text
    from ocr_spark.sources.warc import parse_warc

    pages = documents_as_pages(load_table(spark, sf_dir, "documents"))
    html_s = F.col("html").cast("string")
    crlf = "\r\n"
    http = F.concat(
        F.lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" + crlf),
        F.lit("Content-Length: "),
        F.octet_length("html").cast("string"),
        F.lit(crlf + crlf),
        html_s,
    )
    rec = F.concat(
        F.lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf),
        F.lit("WARC-Target-URI: "),
        F.col("url"),
        F.lit(crlf + "WARC-Date: 2024-01-01T00:00:00Z" + crlf),
        F.lit("Content-Type: application/http; msgtype=response" + crlf),
        F.lit("Content-Length: "),
        F.octet_length(http).cast("string"),
        F.lit(crlf + crlf),
        http,
        F.lit(crlf + crlf),
    ).cast("binary")
    encoded = pages.select("doc_id", rec.alias("warc"))

    def parse(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            urls, htmls = [], []
            for buf in pdf["warc"]:
                rows = parse_warc(bytes(buf), "inline")
                assert len(rows) == 1 and rows[0]["error"] is None
                urls.append(rows[0]["url"])
                htmls.append(rows[0]["html"])
            yield _pd.DataFrame(
                {"doc_id": pdf["doc_id"], "url": urls, "html": htmls}
            )

    parsed = encoded.mapInPandas(parse, "doc_id long, url string, html binary")
    return with_main_text(parsed).select("doc_id", "url", "extracted")


@query("px_phash_neardup")
def px_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup: perceptual-hash (DCT pHash) pair mining over
    image rows — brightness/contrast-shifted rescans of the same page
    collide, different pages don't. UDF hashes once per image; pair
    mining is the same pigeonhole band join as text SimHash.
    Deterministic fixtures -> literal-VALUES oracle."""
    import numpy as np

    from ocr_spark.kernels import fixtures
    from ocr_spark.operators.multimodal import phash_pairs
    from ocr_spark.operators.stages import img_to_bytes

    rows = []
    for k in range(6):
        base = fixtures.shaded(64, 96, 42, k).astype(np.float32)
        rows.append((k, img_to_bytes(base), 64, 96))
        shifted = np.clip(base + 7.0, 0, 255).astype(np.float32)
        rows.append((k + 10, img_to_bytes(shifted), 64, 96))
    df = spark.createDataFrame(rows, "key int, img binary, h int, w int")
    return phash_pairs(df)


@query(
    "url_canonical_dedup",
    """
    WITH pages AS (
      SELECT doc_id,
             'https://Host' || CAST((doc_id // 3) % 97 AS VARCHAR)
               || '.example/d' || CAST(doc_id // 3 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 1 THEN '?utm_source=feed'
                       WHEN doc_id % 3 = 2 THEN '#section-2'
                       ELSE '' END AS url
      FROM documents),
    canon AS (
      SELECT doc_id,
             lower(regexp_replace(url, '[?#].*$', '')) AS curl
      FROM pages)
    SELECT curl, MIN(doc_id) AS keeper, COUNT(*) AS n_variants
    FROM canon GROUP BY curl
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup: strip query/fragment, lowercase,
    keep the smallest doc_id per canonical url — the first dedup tier
    of every web-crawl pipeline (the same page arrives as ?utm
    variants and #fragment links).

    Pure map-side canonicalization (regexp + lower in codegen), one
    hash-aggregate by the canonical key. min() as the keeper rule is
    deterministic and mergeable, so the same op distributes at
    10^12 urls with plain partial aggregation.
    """
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://Host"),
        (F.floor(F.col("doc_id") / 3).cast("long") % 97).cast("string"),
        F.lit(".example/d"),
        F.floor(F.col("doc_id") / 3).cast("long").cast("string"),
        F.when(F.col("doc_id") % 3 == 1, F.lit("?utm_source=feed"))
        .when(F.col("doc_id") % 3 == 2, F.lit("#section-2"))
        .otherwise(F.lit("")),
    )
    curl = F.lower(F.regexp_replace(url, r"[?#].*$", ""))
    return (
        d.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


@query(
    "paragraph_dedup_spans",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    chunks AS (
      SELECT doc_id,
             array_to_string(t[(j*8+1):(j*8+8)], ' ') AS chunk
      FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) jj
      WHERE j*8 < len(t)),
    hashed AS (
      SELECT doc_id, {_duck_md5hash("chunk")} AS h FROM chunks)
    SELECT h, COUNT(DISTINCT doc_id) AS n_docs
    FROM hashed GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def paragraph_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (the C4 recipe at paragraph granularity):
    8-token spans hashed across the corpus; spans appearing in 2+ docs
    are the removal list boilerplate-dedup applies.

    Exploded-row shape (no HOF slice-recompute: see the dedup module's
    projection-collapse note): posexplode tokens -> chunk id = i//8 ->
    order-preserving span rebuild via sort_array(collect_list(
    struct(i, tok))) per (doc, chunk) -> codegen md5 -> count distinct
    docs per span hash. Two shuffles, both on uniform hash keys.
    """
    d = load_table(spark, sf_dir, "documents")
    from ocr_spark.operators.dedup import fast_hash, tokens

    ex = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("i", "tok")
    )
    spans = (
        ex.groupBy("doc_id", F.floor(F.col("i") / 8).alias("j"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("i"), F.col("tok")))
                    ),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("chunk")
        )
    )
    return (
        spans.select("doc_id", fast_hash(F.col("chunk")).alias("h"))
        .groupBy("h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )


_DUCK_EXSUB_SPANS = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    win0 AS (
      SELECT doc_id, t,
             unnest(generate_series(0, len(t) - 8)) AS s
      FROM toks WHERE len(t) >= 8),
    win AS (
      SELECT doc_id, CAST(s AS BIGINT) AS s,
             array_to_string(t[(s+1):(s+8)], ' ') AS wtext
      FROM win0),
    hashed AS (
      SELECT doc_id, s, {_duck_md5hash("wtext")} AS h FROM win),
    occ AS (
      SELECT doc_id, s,
             COUNT(DISTINCT doc_id) OVER (PARTITION BY h) AS nd
      FROM hashed),
    dup AS (SELECT doc_id, s FROM occ WHERE nd >= 2),
    brk AS (
      SELECT doc_id, s,
             CASE WHEN lag(s) OVER w IS NULL
                       OR s > lag(s) OVER w + 7 THEN 1 ELSE 0 END AS b
      FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY s)),
    isl AS (
      SELECT doc_id, s,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY s) AS island
      FROM brk)
    SELECT doc_id,
           MIN(s) AS span_start,
           MAX(s) + 7 AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, island
    """


@query("exact_substring_spans", _DUCK_EXSUB_SPANS)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (the ExactSubstr recipe of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    SLIDING k-token window (k=8 here; ~50 in production) that recurs in
    2+ distinct documents marks its covered tokens, and overlapping
    marked windows merge into maximal per-doc removal spans
    ``(doc_id, span_start, span_end, n_windows)``.

    Unlike ``paragraph_dedup_spans`` (fixed i//8 chunk boundaries) the
    windows slide, so duplicated passages are caught at ANY offset and
    the gaps-and-islands merge yields contiguous removal ranges a
    curation pass can cut verbatim.

    Scale shape:
    - Window texts are rebuilt from a k-row fan-out of exploded tokens
      (each token joins the ≤k windows covering it) + groupBy(doc, s)
      ordered rebuild — narrow rows through the shuffle. The obvious
      alternative (explode window starts while carrying the whole token
      array, slicing per row) copies the full array into every
      generated UnsafeRow: a ~n× payload blowup per doc.
    - "Appears in ≥2 docs" is a collect_set window over h — one uniform
      hash shuffle, no self-join, so the hashed subtree is evaluated
      once (a join back to a dup-hash set would evaluate it twice
      unless the exchange is reused).
    - Span merge is a per-doc lag/running-sum window: intervals all
      have length k and arrive sorted by start, so the previous row's
      end IS the running max end — no max-over-frame needed.
    Shuffles: (doc_id,s) rebuild, h window, doc_id islands — all on
    uniform keys; skew only if one page repeats a window millions of
    times, which upstream ``doc_repetition_filters`` removes.
    Dataflow lives in operators/dedup.exact_substring_spans_df (also a
    drop stage in tools/curate_corpus.py).
    """
    from ocr_spark.operators.dedup import exact_substring_spans_df

    return exact_substring_spans_df(load_table(spark, sf_dir, "documents"))


@query(
    "exact_substring_dup_rate",
    f"""
    WITH spans AS ({_DUCK_EXSUB_SPANS}),
    cov AS (
      SELECT doc_id,
             CAST(SUM(span_end - span_start + 1) AS BIGINT) AS covered_tokens
      FROM spans GROUP BY doc_id),
    docs AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents)
    SELECT d.doc_id, d.n_tokens,
           COALESCE(c.covered_tokens, 0) AS covered_tokens,
           (1000 * COALESCE(c.covered_tokens, 0)) // d.n_tokens AS dup_permille
    FROM docs d LEFT JOIN cov c ON d.doc_id = c.doc_id
    """,
)
def exact_substring_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What curation actually consumes from ExactSubstr: the fraction
    of each document's tokens covered by cross-document duplicate
    spans, in exact integer permille — the drop/trim signal (e.g. drop
    when dup_permille >= 800, trim spans when 200-800).

    Composes ``exact_substring_spans``: per-doc span coverage summed,
    left-joined back to every document (span-free docs read 0), the
    rate as cross-engine floor division (operators/training.floor_div)
    so the value is integer-exact under any partitioning.

    Scale: adds one groupBy(doc_id) + one join on doc_id to the spans
    dataflow — both on the key the spans already shuffle on.
    Dataflow lives in operators/dedup.exact_substring_dup_permille.
    """
    from ocr_spark.operators.dedup import exact_substring_dup_permille

    return exact_substring_dup_permille(load_table(spark, sf_dir, "documents"))


@query(
    "rendezvous_sharding",
    f"""
    WITH n AS (SELECT unnest(generate_series(0, 15)) AS node),
    ex AS (
      SELECT doc_id, node,
             {_duck_md5hash(
                 "CAST(doc_id AS VARCHAR) || ':' || CAST(node AS VARCHAR)"
             )} AS w
      FROM documents CROSS JOIN n),
    r AS (
      SELECT doc_id, node, w,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY w DESC, node DESC) AS rn,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY CASE WHEN node = 7 THEN -1 ELSE w END
                                         DESC, node DESC) AS rn7
      FROM ex),
    a AS (SELECT doc_id, node AS shard FROM r WHERE rn = 1),
    b AS (SELECT doc_id, node AS shard_drop7 FROM r WHERE rn7 = 1)
    SELECT a.doc_id, a.shard, b.shard_drop7,
           CASE WHEN a.shard <> b.shard_drop7 THEN 1 ELSE 0 END AS moved
    FROM a JOIN b ON a.doc_id = b.doc_id
    """,
)
def rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding — how a 100 TB sink
    assigns documents to output shards so that LOSING a shard remaps
    ONLY that shard's documents (unlike ``hash(doc) % n``, which
    remaps almost everything when n changes). Emits each doc's shard
    under 16 nodes, its shard with node 7 removed, and whether it
    moved — the oracle pins that movement is exactly the lost shard's
    population.

    Scale shape: node list explodes to a constant 16 rows per doc
    (node count, not corpus size), weights are codegen md5, and both
    assignments come from ONE groupBy(doc_id) with two max_by
    aggregates (the removed-node variant demotes node 7's weight to
    -1, below every real hash) — no window sort, no join between the
    two assignments.
    """
    from ocr_spark.operators.dedup import fast_hash

    d = load_table(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("node")
    ).select(
        "doc_id",
        "node",
        fast_hash(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("node").cast("string"),
            )
        ).alias("w"),
    )
    w7 = F.when(F.col("node") == 7, F.lit(-1).cast("long")).otherwise(
        F.col("w")
    )
    # argmax encoded as ONE BIGINT max — (w+1)*16 + node is monotonic in
    # lexicographic (w, node) because node < 16 and w+1 >= 0 (w is
    # fast_hash in [0, 1e9+7), or the sentinel -1) — max_by's
    # struct-ordered buffer forced a SortAggregate; min/max over a
    # fixed-width BIGINT stays in HashAggregate with map-side combine
    # (the kmeans_assign fix pattern, r4)
    enc = (F.col("w") + 1) * 16 + F.col("node")
    enc7 = (w7 + 1) * 16 + F.col("node")
    agg = ex.groupBy("doc_id").agg(
        (F.max(enc) % 16).cast("int").alias("shard"),
        (F.max(enc7) % 16).cast("int").alias("shard_drop7"),
    )
    return agg.select(
        "doc_id",
        "shard",
        "shard_drop7",
        F.when(F.col("shard") != F.col("shard_drop7"), 1)
        .otherwise(0)
        .alias("moved"),
    )


@query(
    "snapshot_delta",
    f"""
    WITH a AS (
      SELECT doc_id AS id, {_duck_md5hash("text")} AS ha FROM documents),
    b AS (
      SELECT doc_id AS id,
             {_duck_md5hash(
                 "CASE WHEN doc_id % 10 = 2 THEN text || ' v2' ELSE text END"
             )} AS hb
      FROM documents WHERE doc_id % 10 <> 1
      UNION ALL
      SELECT doc_id + 100000 AS id, {_duck_md5hash("text || ' new'")} AS hb
      FROM documents WHERE doc_id % 10 = 3)
    SELECT COALESCE(a.id, b.id) AS id,
           CASE WHEN b.hb IS NULL THEN 'removed'
                WHEN a.ha IS NULL THEN 'added'
                WHEN a.ha <> b.hb THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM a FULL OUTER JOIN b ON a.id = b.id
    """,
)
def snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot delta (CDC): classify every url across two crawl
    snapshots as added / removed / changed / unchanged — the primitive
    that turns monthly Common-Crawl reprocessing into incremental work
    (only 'added' + 'changed' re-enter extraction; 'removed' tombstones
    propagate to the index). Snapshot B is synthesized from A: every
    id%10==1 page vanished, id%10==2 changed content, id%10==3 hosts
    also published a new page.

    Scale shape: each side reduces to (url, content_hash) BEFORE the
    join — codegen md5, so the full-outer shuffle carries 16 bytes per
    page, not page bodies. One shuffle per side on the join key; with
    both snapshots bucketed by url at write time (sources/bucketed) the
    Exchange disappears entirely.
    """
    from ocr_spark.operators.dedup import fast_hash

    d = load_table(spark, sf_dir, "documents")
    a = d.select(
        F.col("doc_id").alias("id"), fast_hash(F.col("text")).alias("ha")
    )
    b_kept = d.where(F.col("doc_id") % 10 != 1).select(
        F.col("doc_id").alias("id"),
        fast_hash(
            F.when(
                F.col("doc_id") % 10 == 2, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("hb"),
    )
    b_new = d.where(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 100000).alias("id"),
        fast_hash(F.concat(F.col("text"), F.lit(" new"))).alias("hb"),
    )
    b = b_kept.unionByName(b_new)
    j = a.join(b, "id", "full_outer")
    return j.select(
        "id",
        F.when(F.col("hb").isNull(), "removed")
        .when(F.col("ha").isNull(), "added")
        .when(F.col("ha") != F.col("hb"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


@query(
    "robots_prefix_filter",
    """
    WITH u0 AS (
      SELECT doc_id, doc_id % 97 AS host,
             '/s' || CAST(doc_id % 5 AS VARCHAR) AS p1,
             '/s' || CAST(doc_id % 5 AS VARCHAR)
               || '/t' || CAST(doc_id % 7 AS VARCHAR) AS p2
      FROM documents),
    urls AS (
      SELECT doc_id, host, unnest(['/', p1, p2]) AS prefix FROM u0),
    hosts AS (SELECT unnest(generate_series(0, 96)) AS host),
    ms AS (SELECT host, unnest(generate_series(0, 4)) AS m FROM hosts),
    rules AS (
      SELECT host, '/' AS prefix, CAST(1 AS BIGINT) AS allow FROM hosts
      UNION ALL
      SELECT host, '/s' || CAST(m AS VARCHAR), (host + m) % 2 FROM ms
      UNION ALL
      SELECT host,
             '/s' || CAST(m AS VARCHAR) || '/t' || CAST((host + m) % 7 AS VARCHAR),
             (host + m + 1) % 2
      FROM ms),
    m2 AS (
      SELECT u.doc_id, r.prefix, length(r.prefix) AS rule_len, r.allow,
             row_number() OVER (PARTITION BY u.doc_id
                                ORDER BY length(r.prefix) DESC) AS rn
      FROM urls u JOIN rules r ON u.host = r.host AND u.prefix = r.prefix)
    SELECT doc_id, prefix AS matched_prefix,
           CAST(rule_len AS INT) AS rule_len, allow AS allowed
    FROM m2 WHERE rn = 1
    """,
)
def robots_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt-style longest-prefix-match URL filtering — the crawl
    gate every fetch pipeline applies before a page enters the corpus.
    Per-host allow/deny rules (synthesized deterministically: a root
    allow, five /s<m> rules of alternating polarity, one deeper
    /s<m>/t<k> override each) are matched against each document URL's
    path; the LONGEST matching prefix decides
    ``(doc_id, matched_prefix, rule_len, allowed)``.

    Scale shape: a prefix theta-join (``path LIKE prefix || '%'``)
    would be a BroadcastNestedLoopJoin — instead the path is exploded
    at its SEGMENT BOUNDARIES (depth rows per URL, bounded by path
    depth) and equi-joined on (host, prefix), which stays a broadcast
    hash join: robots rule sets are small-per-host and the whole table
    fits in a broadcast even at web scale (rules for ~10^8 hosts
    shard-join on host instead; the plan is unchanged). The per-doc
    longest match is a single-BIGINT hash aggregate
    (max(rule_len << 32 | rule_id)) with the winning rule broadcast-
    joined back — never a max_by over a string-carrying struct, whose
    variable-width aggregation buffer would fall to a corpus-sized
    SortAggregate (the kmeans_assign finding, VERDICT r3 #1).
    Dataflow lives in operators/crawl.robots_decisions (also stage 0
    of tools/curate_corpus.py).
    """
    from ocr_spark.operators.crawl import robots_decisions

    return robots_decisions(spark, load_table(spark, sf_dir, "documents"))


@query(
    "domain_quality_wilson",
    """
    WITH g AS (
      SELECT doc_id % 97 AS host,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN len(string_split(text, ' ')) >= 30
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      FROM documents GROUP BY doc_id % 97),
    w AS (
      SELECT host, n_docs, n_pass,
             CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p,
             CAST(n_docs AS DOUBLE) AS nd
      FROM g)
    SELECT host, n_docs, n_pass,
           ((p + 2.0 / nd) / (1.0 + 4.0 / nd))
             - ((2.0 * sqrt(((p * (1.0 - p)) / nd) + (1.0 / (nd * nd))))
                / (1.0 + 4.0 / nd)) AS wilson_low
    FROM w
    """,
)
def domain_quality_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level trust score: per-host pass rate of a quality gate
    (>= 30 tokens) shrunk by the Wilson lower confidence bound at z=2 —
    the RefinedWeb-style signal that decides whether a whole domain is
    curated in, without letting 3-document hosts with a lucky 3/3 beat
    10,000-document hosts at 95%.

    Bit-exact across engines WITHOUT rounding: the bound uses only
    IEEE-correctly-rounded operations (+ - * / sqrt) on exactly
    representable inputs (integer counts, the constants 1.0/2.0/4.0),
    in one pinned association mirrored token-for-token in the oracle —
    the determinism recipe of operators/training.py, which never admits
    ln/exp/pow (implementation-defined rounding).

    Scale: one groupBy on host with map-side partial counts; the
    result is one row per host (~10^8 at web scale — still a normal
    aggregate). No window, no join, no python.
    """
    from ocr_spark.operators.dedup import tokens

    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy((F.col("doc_id") % 97).alias("host")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.size(tokens(F.col("text"))) >= 30, 1).otherwise(0)
        ).alias("n_pass"),
    )
    p = F.col("n_pass").cast("double") / F.col("n_docs").cast("double")
    nd = F.col("n_docs").cast("double")
    one, two, four = F.lit(1.0), F.lit(2.0), F.lit(4.0)
    wilson = ((p + two / nd) / (one + four / nd)) - (
        (two * F.sqrt(((p * (one - p)) / nd) + (one / (nd * nd))))
        / (one + four / nd)
    )
    return g.select("host", "n_docs", "n_pass", wilson.alias("wilson_low"))


@query(
    "pii_scrub",
    """
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact bob' || CAST(doc_id AS VARCHAR)
                       || '@example.com or 555-' ||
                       CAST(1000 + doc_id % 9000 AS VARCHAR)
                  ELSE text END AS text
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\\.[a-z]+'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}'))
                AS BIGINT) AS n_phones,
           regexp_replace(
             regexp_replace(text, '[a-z0-9]+@[a-z]+\\.[a-z]+', '[EMAIL]', 'g'),
             '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS scrubbed
    FROM seeded
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count + redact emails and phone-shaped tokens
    (patterns kept to the regex subset with identical Java/RE2
    semantics — char classes, quantifiers, no lookaround).

    Pure map-side codegen (regexp_count / regexp_replace); at corpus
    scale this is a free rider on any existing scan. The seeded PII is
    injected deterministically so the testdata exercises the rules.
    """
    d = load_table(spark, sf_dir, "documents")
    email = r"[a-z0-9]+@[a-z]+\.[a-z]+"
    phone = r"[0-9]{3}-[0-9]{4}"
    text = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact bob"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ),
    ).otherwise(F.col("text"))
    seeded = d.select("doc_id", text.alias("text"))
    return seeded.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(email)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(phone)).cast("bigint").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", email, "[EMAIL]"), phone, "[PHONE]"
        ).alias("scrubbed"),
    )


# ---------------------------------------------------------------------------
# pixel-query oracles: the px_* outputs are deterministic (fixed-seed
# fixtures + bit-exact kernels, pinned by tests/test_goldens.py), so
# their DuckDB oracles are literal VALUES tables generated from the
# pinned outputs (tools/gen_px_oracles.py). This turns the pixel rows
# from rows-only checks into fully green hash-checked CORRECTNESS rows.
# ---------------------------------------------------------------------------

from ocr_spark.px_goldens import PX_GOLDENS, px_oracle_sql  # noqa: E402

for _px_name in PX_GOLDENS:
    ORACLE[_px_name] = px_oracle_sql(_px_name)


# ---------------------------------------------------------------------------
# training-corpus assembly (operators/training.py): sequence packing,
# quantized k-means, BM25 retrieval, host-temperature resampling
# ---------------------------------------------------------------------------

@query(
    "pack_training_sequences",
    """
    WITH per AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    placed AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS s0
      FROM per),
    spans AS (
      SELECT doc_id, s0, s0 + n_tok AS e0,
             unnest(generate_series(s0 // 256, (s0 + n_tok - 1) // 256))
               AS seq_id
      FROM placed)
    SELECT seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc,
           CAST(SUM(LEAST(e0, (seq_id + 1) * 256)
                    - GREATEST(s0, seq_id * 256)) AS BIGINT) AS n_tokens
    FROM spans GROUP BY seq_id
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: the corpus token stream in
    doc_id order, cut every 256 tokens -> one row per training
    sequence (n_docs, first/last doc, token count). All-integer; the
    global prefix sum is the scalable two-tier form (bucket totals ->
    bucket offsets -> within-bucket window), never a single-partition
    window. See operators/training.pack_sequences.
    """
    from ocr_spark.operators.training import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"))


_KM_QV = (
    "list_transform(embedding, x -> "
    "CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
)
_KM_DIST = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(generate_series(1, 64), "
    "i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i]))), "
    "(acc, x) -> acc + x)"
)


@query(
    "kmeans_embedding_clusters",
    f"""
    WITH qv AS (
      SELECT vec_id, {_KM_QV} AS qv FROM embeddings),
    c0 AS (SELECT CAST(vec_id AS INT) AS cluster, qv AS cv
           FROM qv WHERE vec_id < 8),
    d1 AS (
      SELECT v.vec_id, c.cluster, {_KM_DIST} AS dist
      FROM qv v CROSS JOIN c0 c),
    a1 AS (
      SELECT vec_id, cluster, dist FROM (
        SELECT vec_id, cluster, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d1) WHERE rn = 1),
    comp AS (
      SELECT a.cluster, g.d, SUM(v.qv[g.d]) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM a1 a JOIN qv v ON a.vec_id = v.vec_id
           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) g
      GROUP BY a.cluster, g.d),
    c1 AS (
      SELECT cluster,
             list(CAST((s - ((s % n) + n) % n) // n AS BIGINT)
                  ORDER BY d) AS cv
      FROM comp GROUP BY cluster),
    d2 AS (
      SELECT v.vec_id, c.cluster, {_KM_DIST} AS dist
      FROM qv v CROSS JOIN c1 c),
    a2 AS (
      SELECT vec_id, cluster, dist FROM (
        SELECT vec_id, cluster, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d2) WHERE rn = 1)
    SELECT vec_id, cluster, dist FROM a2
    """,
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized k-means (k=8, 2 Lloyd rounds, init = lowest vec_ids)
    over the embeddings table -> (vec_id, cluster, dist).

    Components live on a 1e-6 integer grid, so every sum commutes and
    the result is bit-identical regardless of partitioning/association
    order — the trick that makes distributed k-means oracle-checkable.
    Centroids are always k broadcast rows; see operators/training.
    """
    from ocr_spark.operators.training import kmeans_quantized

    return kmeans_quantized(load_table(spark, sf_dir, "embeddings"))


_BM25_TERMS = ["dup", "hash", "scan", "window"]


def _bm25_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(COUNT(*) FILTER (term = '{t}') AS BIGINT) AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ",\n             ".join(
        f"CAST(COUNT(DISTINCT CASE WHEN term = '{t}' THEN doc_id END)"
        f" AS BIGINT) AS df_{t}"
        for t in _BM25_TERMS
    )
    parts = " + ".join(
        f"(((n.n - f.df_{t} + 0.5) / (f.df_{t} + 0.5))"
        f" * (COALESCE(t.tf_{t}, 0) * 2.25)"
        f" / (COALESCE(t.tf_{t}, 0)"
        f" + 1.25 * (1.0 - 0.75 + 0.75 * p.dl / (n.tot / n.n))))"
        for t in _BM25_TERMS
    )
    return f"""
    WITH per AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(dl) AS BIGINT) AS tot FROM per),
    ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
    tf AS (SELECT doc_id, {tf_cols}
           FROM ex WHERE term IN ('dup','hash','scan','window')
           GROUP BY doc_id),
    df AS (SELECT {df_cols} FROM ex)
    SELECT doc_id, dl, score FROM (
      SELECT p.doc_id, p.dl, {parts} AS score
      FROM per p LEFT JOIN tf t ON p.doc_id = t.doc_id
           CROSS JOIN n CROSS JOIN df f)
    ORDER BY score DESC, doc_id LIMIT 20
    """


@query("bm25_topk", _bm25_oracle())
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the fixed audit query 'dup hash scan window'
    (one rare + three common terms), k1=1.25 b=0.75, rational
    odds-ratio idf (no ln: not correctly rounded; see
    operators/training.bm25_scores for the determinism argument).
    Per-term scores are fixed columns summed in written order — never
    a float groupBy-sum.
    """
    from ocr_spark.operators.training import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    return (
        bm25_scores(d, _BM25_TERMS)
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


@query(
    "temperature_resample_hosts",
    f"""
    WITH hosts AS (
      SELECT doc_id % 97 AS host, CAST(COUNT(*) AS BIGINT) AS n_h
      FROM documents GROUP BY 1),
    m AS (SELECT MIN(n_h) AS n_min FROM hosts),
    thr AS (
      SELECT host,
             CAST(FLOOR(100.0 * sqrt(CAST(n_min AS DOUBLE)
                                     / CAST(n_h AS DOUBLE)) + 0.5)
                  AS BIGINT) AS thr
      FROM hosts CROSS JOIN m)
    SELECT d.doc_id, t.host, t.thr
    FROM documents d JOIN thr t ON d.doc_id % 97 = t.host
    WHERE {_duck_md5hash("CAST(d.doc_id AS VARCHAR)")} % 100 < t.thr
    """,
)
def temperature_resample_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpha=0.5 host-temperature downsample: per-host keep threshold
    floor(100*sqrt(n_min/n_h)+0.5) applied to a content-hash bucket —
    flattens the Zipf host head the way training mixtures are
    rebalanced. Broadcast threshold join + map-side filter; sqrt is
    IEEE-correctly-rounded so thresholds match DuckDB bit-for-bit.
    """
    from ocr_spark.operators.training import temperature_resample

    return temperature_resample(load_table(spark, sf_dir, "documents"))


@query(
    "quality_classifier_hashed",
    f"""
    WITH ex AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    scored AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM({_duck_md5hash("'w:' || term")} % 1001 - 500)
                  AS BIGINT) AS margin
      FROM ex GROUP BY doc_id)
    SELECT doc_id, n_tokens, margin,
           CASE WHEN margin > 0 THEN 1 ELSE 0 END AS keep
    FROM scored
    """,
)
def quality_classifier_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering via the hashing trick: a linear
    classifier whose per-token weight is derived from the token's
    content hash (w(t) = fast_hash('w:'+t) % 1001 - 500 — the stand-in
    for learned fastText-style weights, which would broadcast-join a
    real weight table in exactly this dataflow). The margin is an
    INTEGER sum — order-free, bit-exact cross-engine; no sigmoid (exp
    is not correctly rounded; thresholding the margin is equivalent).

    Scale: explode -> map-side partial sums -> one uniform shuffle by
    doc_id. A learned vocabulary table would be a broadcast join on
    the token before the sum; hash weights need no table at all.
    """
    from ocr_spark.operators.dedup import fast_hash, tokens

    d = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    ex = d.repartition(par, "doc_id").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    w = fast_hash(F.concat(F.lit("w:"), F.col("term"))) % 1001 - 500
    return (
        ex.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(w).alias("margin"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "margin",
            F.when(F.col("margin") > 0, 1).otherwise(0).alias("keep"),
        )
    )


_MQ = [(0, "dup hash"), (1, "scan window table"), (2, "merge sort"),
       (3, "the fast row")]
_MQ_VALUES = ", ".join(f"({i}, '{q}')" for i, q in _MQ)


@query(
    "bm25_multi_query_top3",
    f"""
    WITH per AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(dl) AS BIGINT) AS tot FROM per),
    ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
    tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
           FROM ex GROUP BY 1, 2),
    dfs AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM ex GROUP BY 1),
    qs(q_id, qtext) AS (VALUES {_MQ_VALUES}),
    qt AS (SELECT q_id,
                  unnest(generate_series(1, len(string_split(qtext, ' ')))) - 1
                    AS pos,
                  unnest(string_split(qtext, ' ')) AS term
           FROM qs),
    matched AS (
      SELECT qt.q_id, tf.doc_id, qt.pos,
             (((n.n - dfs.df + 0.5) / (dfs.df + 0.5))
              * (CAST(tf.tf AS DOUBLE) * 2.25)
              / (CAST(tf.tf AS DOUBLE)
                 + 1.25 * (1.0 - 0.75 + 0.75 * per.dl / (n.tot / n.n))))
               AS part
      FROM tf JOIN qt ON tf.term = qt.term
           JOIN dfs ON dfs.term = qt.term
           JOIN per ON per.doc_id = tf.doc_id
           CROSS JOIN n),
    scored AS (
      SELECT q_id, doc_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                      list(part ORDER BY pos)),
                         (acc, v) -> acc + v) AS score
      FROM matched GROUP BY q_id, doc_id)
    SELECT q_id, doc_id, score, rank FROM (
      SELECT q_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY score DESC, doc_id) AS INT)
               AS rank
      FROM scored)
    WHERE rank <= 3
    """,
)
def bm25_multi_query_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index retrieval: a table of 4 queries joined to the
    corpus tf index, per-(query, doc) scores folded in query-position
    order (deterministic — and unmatched terms contribute exactly 0.0,
    so folding matched-only is bit-identical), top-3 per query. See
    operators/training.bm25_multi_query.
    """
    from ocr_spark.operators.training import bm25_multi_query

    return bm25_multi_query(load_table(spark, sf_dir, "documents"), _MQ)


@query(
    "doc_repetition_filters",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tri AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_transform(generate_series(1, len(t) - 2),
                                      i -> array_to_string(t[i:i+2], ' '))
                  ELSE [] END AS gs,
             CAST(len(t) AS BIGINT) AS n_words
      FROM toks),
    bi AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 2
                  THEN list_transform(generate_series(1, len(t) - 1),
                                      i -> array_to_string(t[i:i+1], ' '))
                  ELSE [] END AS bg
      FROM toks),
    top_bi AS (
      SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_bi
      FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest(bg) AS g FROM bi)
            GROUP BY doc_id, g)
      GROUP BY doc_id)
    SELECT tri.doc_id,
           tri.n_words,
           FLOOR((CASE WHEN len(gs) > 0
                  THEN 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)
                  ELSE 0.0 END) * 10000 + 0.5) / 10000 AS dup_trigram_frac,
           FLOOR((CASE WHEN top_bi.n_bi > 0
                  THEN CAST(top_bi.top_c AS DOUBLE) / top_bi.n_bi
                  ELSE 0.0 END) * 10000 + 0.5) / 10000 AS top_bigram_frac
    FROM tri LEFT JOIN top_bi ON tri.doc_id = top_bi.doc_id
    """,
)
def doc_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals: within-doc duplicate-trigram fraction
    (1 - distinct/total) and most-common-bigram mass fraction — the
    boilerplate/looping-text gates doc_gopher_filters lacks.

    Shapes: the trigram side is an exploded lead-window form
    WITHOUT array_distinct (counts need duplicates); the bigram side is
    exploded rows -> two-level counts. Uniform doc_id/bigram keys,
    map-side partials, floor-form rounding both engines.
    """
    from pyspark.sql import Window

    from ocr_spark.operators.dedup import round_det, tokens

    d = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    t = d.repartition(par, "doc_id").select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("i", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    lead1 = F.lead("tok", 1).over(w)
    lead2 = F.lead("tok", 2).over(w)
    grams = t.select(
        "doc_id",
        "tok",
        lead1.alias("t1"),
        lead2.alias("t2"),
    )
    tri = grams.where(F.col("t2").isNotNull()).select(
        "doc_id", F.concat_ws(" ", "tok", "t1", "t2").alias("g")
    )
    tri_stats = tri.groupBy("doc_id").agg(
        F.count("*").alias("n_tri"),
        F.count_distinct("g").alias("n_tri_distinct"),
    )
    bi_counts = (
        grams.where(F.col("t1").isNotNull())
        .groupBy("doc_id", F.concat_ws(" ", "tok", "t1").alias("g"))
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_bi"))
    )
    base = d.select("doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_words"))
    dup_tri = F.when(
        F.col("n_tri") > 0,
        F.lit(1.0) - F.col("n_tri_distinct").cast("double") / F.col("n_tri"),
    ).otherwise(F.lit(0.0))
    top_bi = F.when(
        F.col("n_bi") > 0, F.col("top_c").cast("double") / F.col("n_bi")
    ).otherwise(F.lit(0.0))
    return (
        base.join(tri_stats, "doc_id", "left")
        .join(bi_counts, "doc_id", "left")
        .na.fill({"n_tri": 0, "n_tri_distinct": 0, "top_c": 0, "n_bi": 0})
        .select(
            "doc_id",
            "n_words",
            round_det(dup_tri, 4).alias("dup_trigram_frac"),
            round_det(top_bi, 4).alias("top_bigram_frac"),
        )
    )


def _km_maximin_oracle(k: int = 4) -> str:
    parts = [
        f"qv AS (SELECT vec_id, {_KM_QV} AS qv FROM embeddings)",
        "cents1 AS (SELECT CAST(0 AS INT) AS cluster, qv AS cv,"
        " vec_id AS cid FROM qv WHERE vec_id = 0)",
    ]
    for j in range(1, k):
        parts.append(
            f"""mind{j} AS (
      SELECT v.vec_id, MIN({_KM_DIST}) AS mind
      FROM qv v CROSS JOIN cents{j} c
      WHERE v.vec_id NOT IN (SELECT cid FROM cents{j})
      GROUP BY v.vec_id)"""
        )
        parts.append(
            f"""w{j} AS (
      SELECT CAST({j} AS INT) AS cluster, q.qv AS cv, p.vec_id AS cid
      FROM (SELECT vec_id FROM (
              SELECT vec_id,
                     row_number() OVER (ORDER BY mind DESC, vec_id) AS rn
              FROM mind{j}) WHERE rn = 1) p
           JOIN qv q ON q.vec_id = p.vec_id)"""
        )
        parts.append(
            f"cents{j + 1} AS (SELECT * FROM cents{j} "
            f"UNION ALL SELECT * FROM w{j})"
        )
    parts.append(
        f"""d1 AS (
      SELECT v.vec_id, c.cluster, {_KM_DIST} AS dist
      FROM qv v CROSS JOIN (SELECT cluster, cv FROM cents{k}) c)"""
    )
    parts.append(
        """a1 AS (
      SELECT vec_id, cluster, dist FROM (
        SELECT vec_id, cluster, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d1) WHERE rn = 1)"""
    )
    parts.append(
        """comp AS (
      SELECT a.cluster, g.d, SUM(v.qv[g.d]) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM a1 a JOIN qv v ON a.vec_id = v.vec_id
           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) g
      GROUP BY a.cluster, g.d)"""
    )
    parts.append(
        """c1 AS (
      SELECT cluster,
             list(CAST((s - ((s % n) + n) % n) // n AS BIGINT)
                  ORDER BY d) AS cv
      FROM comp GROUP BY cluster)"""
    )
    parts.append(
        f"""d2 AS (
      SELECT v.vec_id, c.cluster, {_KM_DIST} AS dist
      FROM qv v CROSS JOIN c1 c)"""
    )
    parts.append(
        """a2 AS (
      SELECT vec_id, cluster, dist FROM (
        SELECT vec_id, cluster, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d2) WHERE rn = 1)"""
    )
    return "WITH " + ",\n    ".join(parts) + "\n    SELECT vec_id, cluster, dist FROM a2"


@query("kmeans_maximin_clusters", _km_maximin_oracle())
def kmeans_maximin_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means with deterministic farthest-first (maximin) init, k=4,
    2 Lloyd rounds — centers start spread across the data hull instead
    of the lowest ids. Integer-exact throughout; the oracle unrolls the
    k-1 selection steps as chained CTEs. See
    operators/training.kmeans_maximin_init.
    """
    from ocr_spark.operators.training import kmeans_quantized_maximin

    return kmeans_quantized_maximin(load_table(spark, sf_dir, "embeddings"))


@query(
    "full_outer_nation_sides",
    """
    WITH c AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
               FROM customer GROUP BY 1),
    s AS (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
          FROM supplier GROUP BY 1)
    SELECT COALESCE(c.nk, s.nk) AS nk,
           COALESCE(c.n_cust, 0) AS n_cust,
           COALESCE(s.n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def full_outer_nation_sides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: customer vs supplier counts per nation,
    surviving nations present on only one side (COALESCE 0)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, "nk", "full_outer")
        .select(
            "nk",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@query(
    "window_range_frame_order_value",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS od,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cents_30d
    FROM orders
    WHERE o_custkey % 100 = 0
    """,
)
def window_range_frame_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based, not row-based): per customer,
    the trailing-30-day order value in integer cents — RANGE frames
    include ALL peers within the value bound regardless of row count,
    the semantics rows-frames cannot express. Cents as BIGINT keeps the
    windowed sum order-free (exact)."""
    _utc(spark)
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") % 100 == 0)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
        F.sum(cents).over(w).alias("cents_30d"),
    )


@query(
    "doc_chunk_windows",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    idx AS (
      SELECT doc_id, t,
             unnest(generate_series(0,
               CASE WHEN len(t) <= 64 THEN 0
                    ELSE CAST(CEIL((len(t) - 64) / 32.0) AS BIGINT) END))
               AS chunk_id
      FROM toks)
    SELECT doc_id, chunk_id,
           array_to_string(t[chunk_id * 32 + 1 :
                             LEAST(chunk_id * 32 + 64, len(t))], ' ')
             AS chunk,
           CAST(LEAST(chunk_id * 32 + 64, len(t)) - chunk_id * 32 AS BIGINT)
             AS n_tokens
    FROM idx
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/packing-style overlapping chunking: token windows of 64 with
    stride 32 per document — every token is covered, consecutive chunks
    overlap by half, the last window is the remainder (never empty,
    never duplicated: the chunk count is ceil((n-64)/32)+1 for n>64,
    else 1).

    Pure fan-out: an exploded integer range + array_join of a slice —
    no shuffle at all (chunk rows inherit the scan partitioning); at
    corpus scale this is a map-only 2x row multiplier. The slice is
    referenced ONCE per output row, so no projection-collapse
    recompute.
    """
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    n = F.size(t)
    n_chunks = F.when(n <= 64, F.lit(0).cast("long")).otherwise(
        F.ceil((n - 64) / F.lit(32.0))
    )
    ex = d.select(
        "doc_id",
        t.alias("t"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks)).alias("chunk_id"),
    )
    start = (F.col("chunk_id") * 32).cast("int")
    end = F.least(start + 64, F.size("t"))
    return ex.select(
        "doc_id",
        "chunk_id",
        F.array_join(
            F.slice("t", start + 1, (end - start).cast("int")), " "
        ).alias("chunk"),
        (end - start).cast("bigint").alias("n_tokens"),
    )


@query(
    "corpus_report_card",
    """
    WITH base AS (
      SELECT lang, doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
           CAST(MIN(n_tok) AS BIGINT) AS min_tok,
           CAST(MAX(n_tok) AS BIGINT) AS max_tok,
           FLOOR(CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) * 100 + 0.5) / 100
             AS mean_tok,
           FLOOR((1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*))
                 * 10000 + 0.5) / 10000 AS dup_frac
    FROM base GROUP BY lang
    """,
)
def corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus report card — the summary row a curation run
    publishes next to its manifests: doc/token counts, distinct-text
    cardinality (exact here; the HLL sketch query is the at-scale
    variant), token-length extrema/mean, exact-dup fraction.

    One partial+final aggregate, every stat map-side combinable
    (COUNT DISTINCT of the content hash rewrites to a two-level
    expand+agg); floor-form rounding on both engines.
    """
    from ocr_spark.operators.dedup import round_det

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    base = d.select("lang", "doc_id", F.md5(F.col("text").cast("binary")).alias("h"), n_tok.alias("n_tok"))
    return base.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.count_distinct("h").alias("n_distinct_texts"),
        F.min("n_tok").alias("min_tok"),
        F.max("n_tok").alias("max_tok"),
        round_det(F.sum("n_tok").cast("double") / F.count("*") * 100, 0)
        .cast("double").alias("mean_tok_x100"),
        round_det(
            F.lit(1.0) - F.count_distinct("h").cast("double") / F.count("*"), 4
        ).alias("dup_frac"),
    ).withColumn("mean_tok", F.col("mean_tok_x100") / 100).drop("mean_tok_x100")


def _duck_host_graph(edges: str = "edges", ring: bool = False) -> str:
    """The oracle side of _host_graph: the CTEs `hosts(h)` and
    `{edges}(src, dst)`, with the +1/+2 ring peers when `ring`."""
    peers = "(3*h + 1) % 97, (5*h + 2) % 97, (7*h + 3) % 97"
    if ring:
        peers += ",\n                          (h + 1) % 97, (h + 2) % 97"
    return f"""hosts AS (SELECT DISTINCT doc_id % 97 AS h FROM documents),
    {edges} AS (
      SELECT DISTINCT h AS src, dst FROM (
        SELECT h, unnest([{peers}])
          AS dst
        FROM hosts)
      WHERE dst IN (SELECT h FROM hosts) AND dst <> h)"""


def _host_graph(
    spark: SparkSession, sf_dir: str, ring: bool = False
) -> tuple[DataFrame, DataFrame]:
    """The synthesized host link graph every host-graph query reads:
    hosts h = doc_id % 97, each linking to its affine peers 3h+1, 5h+2
    and 7h+3 (mod 97), self-links and absent hosts dropped. `ring` adds
    the h+1 and h+2 peers: the affine maps alone close no triangle.

    Returns (hosts(h), edges(src, dst)), each staged once: every caller
    reads them from several places (each round, both sides of a
    self-join), and un-staged each reference replanned the corpus scan
    and the distinct (16 to 156 scans per plan, with no runtime reuse).
    Absent hosts drop through a left-semi join (the oracle's `dst IN
    hosts`): its size estimate is the edge candidates' (~12 KB at
    sf0.01), where an inner join's is the product of both sides
    (~115 MB), which plans sort-merge joins on the edges."""
    d = load_table(spark, sf_dir, "documents")
    hosts = stage(d.select((F.col("doc_id") % 97).alias("h")).distinct())
    h = F.col("h")
    peers = [(3 * h + 1) % 97, (5 * h + 2) % 97, (7 * h + 3) % 97]
    if ring:
        peers += [(h + 1) % 97, (h + 2) % 97]
    cand = hosts.select("h", F.explode(F.array(*peers)).alias("dst")) \
        .where(F.col("dst") != h).distinct()
    edges = stage(cand.join(
        hosts.select(F.col("h").alias("dst")), "dst", "left_semi"
    ).select(F.col("h").alias("src"), "dst"))
    return hosts, edges


def _duck_undirected(name: str = "und") -> str:
    """The oracle side of _undirected: the CTE `{name}(a, b)`, each
    edge of `dedges` once with a < b."""
    return f"""{name} AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM dedges)"""


def _undirected(edges: DataFrame) -> DataFrame:
    """Each undirected edge once as (a, b) with a < b, staged: the
    triangle, k-core and link-prediction queries all read it from
    several places."""
    return stage(edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct())


def _power_rank_oracle(seed: str, out: str) -> str:
    """The oracle side of _power_rank: `seed` is a SQL predicate on h,
    `out` the final select list over r3(h, r)."""
    parts = [
        _duck_host_graph(),
        "outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg"
        " FROM edges GROUP BY src)",
        f"r0 AS (SELECT h, CAST(CASE WHEN {seed} THEN 1000000 ELSE 0 END"
        " AS BIGINT) AS r FROM hosts)",
    ]
    for i in range(1, 4):
        parts.append(
            f"""inflow{i} AS (
      SELECT e.dst AS h,
             CAST(SUM((p.r - ((p.r % o.deg) + o.deg) % o.deg) // o.deg)
                  AS BIGINT) AS s
      FROM edges e JOIN r{i - 1} p ON e.src = p.h
           JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst)"""
        )
        parts.append(
            f"""r{i} AS (
      SELECT h,
             CASE WHEN {seed} THEN 150000 ELSE 0 END
               + CAST((COALESCE(s, 0) * 85
                       - ((COALESCE(s, 0) * 85 % 100) + 100) % 100)
                      // 100 AS BIGINT) AS r
      FROM hosts LEFT JOIN inflow{i} USING (h))"""
        )
    return "WITH " + ",\n    ".join(parts) + f"\n    SELECT {out} FROM r3"


def _power_rank(hosts: DataFrame, edges: DataFrame, seed: Column) -> DataFrame:
    """3 damped power iterations over the host graph in integer
    micro-units, (h, r): start mass 1000000 and teleport 150000 on the
    hosts where `seed` holds, damping 0.85. PageRank seeds every host;
    TrustRank only the trusted ones.

    Bit-exact across engines by the same trick as quantized k-means:
    every division is the explicit floor form, so all sums commute.
    Each round is one join + one aggregate on uniform dst keys with
    map-side partial sums; the out-degrees and each round's ranks are
    staged, since ranks re-enter their own derivation."""
    from ocr_spark.operators.training import floor_div

    outdeg = stage(edges.groupBy("src").agg(F.count("*").alias("deg")))
    teleport = F.when(seed, F.lit(150000)).otherwise(F.lit(0)).cast("long")
    ranks = hosts.select(
        "h", F.when(seed, F.lit(1000000)).otherwise(F.lit(0))
        .cast("long").alias("r"),
    )
    for _ in range(3):
        inflow = (
            edges.join(ranks.withColumnRenamed("h", "src"), "src")
            .join(outdeg, "src")
            .select("dst", floor_div(F.col("r"), F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = stage(
            hosts.join(inflow.withColumnRenamed("dst", "h"), "h", "left")
            .select(
                "h",
                (
                    teleport
                    + floor_div(
                        F.coalesce(F.col("s"), F.lit(0)) * 85, F.lit(100)
                    )
                ).alias("r"),
            )
        )
    return ranks


@query("host_pagerank", _power_rank_oracle("TRUE", "h AS host, r AS rank"))
def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank in integer micro-units — the authority
    signal web curation mixes into quality scores: _power_rank over
    the synthesized host graph with every host seeded (teleport 0.15).

    Scale: ranks are one row per host (10^8 at web scale — a normal
    shuffle join, or broadcast for small graphs). Iterations are a
    fixed constant; each is one join + one aggregate.
    """
    hosts, edges = _host_graph(spark, sf_dir)
    ranks = _power_rank(hosts, edges, F.lit(True))
    return ranks.select(F.col("h").alias("host"), F.col("r").alias("rank"))


@query(
    "pmi_cooccurrence_top20",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (
      SELECT doc_id, unnest(t) AS w,
             unnest(generate_series(1, len(t))) AS i, t
      FROM toks),
    pairs AS (
      SELECT LEAST(w, t[i + d]) AS w1, GREATEST(w, t[i + d]) AS w2
      FROM pos CROSS JOIN (SELECT unnest([1, 2]) AS d) ds
      WHERE i + d <= len(t)),
    pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
           FROM pairs GROUP BY w1, w2),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY w),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n FROM uni)
    SELECT w1, w2, c,
           CAST((c * big_n * 1000000
                 - (((c * big_n * 1000000) % (u1.n * u2.n)) + u1.n * u2.n)
                   % (u1.n * u2.n)) // (u1.n * u2.n) AS BIGINT)
             AS pmi_scaled
    FROM pc JOIN uni u1 ON pc.w1 = u1.w
         JOIN uni u2 ON pc.w2 = u2.w
         CROSS JOIN tot
    WHERE c >= 5
    ORDER BY pmi_scaled DESC, w1, w2 LIMIT 20
    """,
)
def pmi_cooccurrence_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-association mining: corpus co-occurrence (window <=2,
    canonical pair order) scored by scaled PMI odds — floor(1e6 *
    c*N / (n1*n2)), all integer (no log: same rationale as BM25's
    rational idf; monotone in PMI so the ranking is identical).

    Shapes: pair counts are the span-dedup shuffle (uniform pair
    keys, map-side combine); unigram counts broadcast (vocab-sized);
    N is a scalar. At 10^12-token scale c*N*1e6 needs DECIMAL(38) or
    a pre-divide — noted, the sandbox corpus is far inside int64.
    """
    from pyspark.sql import Window

    from ocr_spark.operators.dedup import tokens
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    t = d.repartition(par, "doc_id").select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("i", "w")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    grams = t.select(
        "w", F.lead("w", 1).over(w).alias("l1"), F.lead("w", 2).over(w).alias("l2")
    )
    pairs = (
        grams.select(
            F.explode(
                F.filter(F.array("l1", "l2"), lambda x: x.isNotNull())
            ).alias("o"),
            "w",
        )
        .select(F.least("w", "o").alias("w1"), F.greatest("w", "o").alias("w2"))
    )
    pc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    uni = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    tot = uni.groupBy().agg(F.sum("n").alias("big_n"))
    scored = (
        pc.join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("n").alias("n1"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("n").alias("n2"))), "w2")
        .crossJoin(F.broadcast(tot))
        .where(F.col("c") >= 5)
        .select(
            "w1",
            "w2",
            "c",
            floor_div(
                F.col("c") * F.col("big_n") * 1000000,
                F.col("n1") * F.col("n2"),
            ).alias("pmi_scaled"),
        )
    )
    return scored.orderBy(F.desc("pmi_scaled"), "w1", "w2").limit(20)


@query(
    "global_rank_doc_length",
    """
    SELECT doc_id, n_chars,
           CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             AS rank
    FROM documents
    """,
)
def global_rank_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus-global rank without a corpus-global sort: the
    curriculum-ordering primitive (rank by a score, then feed packing).

    Two-tier, same as pack_sequences' prefix sum: docs bucket by a
    coarse key range (n_chars div 64); per-bucket COUNTS (tiny
    aggregate) get a running offset via a window over the aggregate
    (bucket-level rows only); each doc's within-bucket row_number
    (window PARTITIONED by bucket — bounded, uniform) adds to its
    bucket offset. The oracle is the single-window definition; the
    implementation never materializes a one-partition sort. At any
    scale the only corpus-wide shuffle is the bucket hash.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    from ocr_spark.operators.training import floor_div

    bucket = floor_div(F.col("n_chars"), F.lit(64)).alias("bucket")
    db = d.select("doc_id", "n_chars", bucket)
    counts = db.groupBy("bucket").agg(F.count("*").alias("n"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("n").over(w_b), F.lit(0)).alias("off")
    )
    w_d = Window.partitionBy("bucket").orderBy("n_chars", "doc_id")
    return (
        db.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_chars",
            (F.col("off") + F.row_number().over(w_d)).cast("bigint").alias("rank"),
        )
    )


ORACLE["kmeans_cluster_purity"] = f"""
    SELECT cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MAX(cnt) AS BIGINT) AS top_label_n,
           FLOOR(CAST(MAX(cnt) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
             AS purity
    FROM (
      SELECT a.cluster, e.label, a.vec_id,
             COUNT(*) OVER (PARTITION BY a.cluster, e.label) AS cnt
      FROM ({ORACLE["kmeans_embedding_clusters"]}) a
           JOIN embeddings e ON a.vec_id = e.vec_id)
    GROUP BY cluster
    """


def _q_kmeans_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation: label purity per k-means cluster —
    the metric that decides whether embedding clusters are usable for
    domain curation. Assignments from the oracle-checked quantized
    k-means; purity = top-label share, floor-rounded both engines.

    Scale: (cluster, label) counts are a tiny partial-agg shuffle on
    top of the k-means dataflow; k x |labels| rows."""
    from ocr_spark.operators.dedup import round_det
    from ocr_spark.operators.training import kmeans_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_quantized(emb)
    lab = assigned.join(emb.select("vec_id", "label"), "vec_id")
    counts = lab.groupBy("cluster", "label").agg(F.count("*").alias("c"))
    return counts.groupBy("cluster").agg(
        F.sum("c").alias("n_vecs"),
        F.max("c").alias("top_label_n"),
        round_det(F.max("c").cast("double") / F.sum("c") * 10000, 0)
        .cast("double")
        .alias("p4"),
    ).select(
        "cluster",
        "n_vecs",
        "top_label_n",
        (F.col("p4") / 10000).alias("purity"),
    )


QUERIES["kmeans_cluster_purity"] = _q_kmeans_purity


ORACLE["pipeline_pack_training_sequences"] = f"""
    WITH per AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tok
      FROM ({ORACLE["pipeline_training_corpus"]})),
    placed AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS s0
      FROM per),
    spans AS (
      SELECT doc_id, s0, s0 + n_tok AS e0,
             unnest(generate_series(s0 // 256, (s0 + n_tok - 1) // 256))
               AS seq_id
      FROM placed)
    SELECT seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc,
           CAST(SUM(LEAST(e0, (seq_id + 1) * 256)
                    - GREATEST(s0, seq_id * 256)) AS BIGINT) AS n_tokens
    FROM spans GROUP BY seq_id
    """


def _q_pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition: the FULL curation chain feeding packing in
    ONE lazy plan — extraction UDF -> quality gate -> exact dedup ->
    hash sample -> concat-and-chunk sequences. The oracle replays every
    stage in SQL (extraction via its exact invariant) and then the
    packing windows — the whole training-data assembly, SQL-checkable
    end to end.

    Plan shape: one ArrowEvalPython (fence-pinned), the dedup window's
    content-hash shuffle, then the two-tier pack windows — no
    corpus-global sort, no second UDF pass.
    """
    from ocr_spark.operators.training import pack_sequences_from_counts

    kept = QUERIES["pipeline_training_corpus"](spark, sf_dir)
    # The packing prefix-sum consumes its input TWICE (bucket totals +
    # per-doc placement), and Spark physical plans are trees — shared
    # lineage is re-evaluated per consumer, which would run the
    # extraction UDF twice (caught by the plan guard). Staged, the
    # curated (doc_id, n_tok) rows are computed once and both branches
    # read them.
    counts = stage(kept.select("doc_id", F.col("n_tokens").alias("n_tok")))
    return pack_sequences_from_counts(counts)


QUERIES["pipeline_pack_training_sequences"] = _q_pipeline_pack


ORACLE["semdedup_pairs"] = f"""
    WITH assigned AS (
      SELECT vec_id, cluster FROM ({ORACLE["kmeans_embedding_clusters"]})
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cluster AS cluster,
           FLOOR({_duck_cosine('ea.embedding', 'eb.embedding')} * 10000 + 0.5)
             / 10000 AS cos
    FROM assigned a JOIN assigned b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
    WHERE FLOOR({_duck_cosine('ea.embedding', 'eb.embedding')} * 10000 + 0.5)
            / 10000 >= 0.4
    """


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-scoped embedding near-dup pairs — k-means
    assignment (oracle-checked, bit-exact) bounds the candidate space
    to within-cluster pairs, then exact cosine verifies at t=0.4.

    The deliberate contrast with `neardup_cosine` (pivot-band, EXACT
    recall): SemDeDup trades cross-cluster recall for a candidate set
    bounded by max cluster size — the curve the SemDeDup paper's
    recipe rides at 10^9+ embeddings, where even banded exact recall
    is too wide. Both live here so the tradeoff is measurable.

    Scale: the self-join keys on cluster id; AQE skew-split handles a
    fat cluster, and per-cluster candidate count is (|C| choose 2) —
    choose k so clusters stay ~10^3-10^4. The assignment table is
    STAGED so the k-means subtree computes once, not once per join
    side.
    """
    from ocr_spark.operators.ann import cosine
    from ocr_spark.operators.dedup import round_det
    from ocr_spark.operators.training import kmeans_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_quantized(emb).select("vec_id", "cluster")
    withv = stage(assigned.join(emb.select("vec_id", "embedding"), "vec_id"))
    a = withv.alias("a")
    b = withv.alias("b")
    cos = round_det(
        cosine(F.col("a.embedding"), F.col("b.embedding")), 4
    )
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.cluster").alias("cluster"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= 0.4)
    )


QUERIES["semdedup_pairs"] = _q_semdedup


@query(
    "doc_bigram_lm_score",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    big AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 1)) AS i
            FROM toks WHERE len(t) >= 2)),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
           FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c
           FROM big GROUP BY w1),
    scored AS (
      SELECT b.doc_id,
             CAST((c2.c * 1000000
                   - (((c2.c * 1000000) % c1.c) + c1.c) % c1.c) // c1.c
                  AS BIGINT) AS p_scaled
      FROM big b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
           JOIN c1 ON b.w1 = c1.w1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(p_scaled) AS BIGINT) AS sum_p,
           CAST((SUM(p_scaled) - ((SUM(p_scaled) % COUNT(*)) + COUNT(*))
                 % COUNT(*)) // COUNT(*) AS BIGINT) AS mean_p_scaled
    FROM scored GROUP BY doc_id
    """,
)
def doc_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM scoring — the perplexity-filter stage,
    made integer-exact: the model is the corpus's own bigram table,
    each doc bigram scores floor(1e6 * c(w1 w2)/c(w1 *)) (the scaled
    conditional probability — monotone in log-likelihood per term, no
    log/exp anywhere), and the doc score is the integer mean. Low
    mean = improbable word sequences = the junk perplexity filters cut.

    Scale: the bigram model is the span-dedup shuffle (uniform pair
    keys, map-side combine); scoring joins each doc bigram to the
    model on the pair key — at web scale the model table is
    hash-joined (vocab^2 head is small; the long tail is c=1). Docs
    with <2 tokens have no bigrams and drop (guarded range).
    """
    from pyspark.sql import Window

    from ocr_spark.operators.dedup import tokens
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    t = d.repartition(par, "doc_id").select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("i", "w1")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    big = (
        t.select("doc_id", "w1", F.lead("w1", 1).over(w).alias("w2"))
        .where(F.col("w2").isNotNull())
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .select(
            "doc_id",
            floor_div(F.col("c2") * 1000000, F.col("c1")).alias("p_scaled"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("p_scaled").alias("sum_p"),
        floor_div(F.sum("p_scaled"), F.count("*")).alias("mean_p_scaled"),
    )


ORACLE["doc_quality_panel"] = f"""
    SELECT q.doc_id,
           q.quality,
           c.margin, c.keep,
           r.dup_trigram_frac, r.top_bigram_frac,
           COALESCE(l.mean_p_scaled, 0) AS mean_p_scaled,
           g.ok_word_count, g.ok_mean_word_len, g.ok_symbol_ratio
    FROM ({ORACLE["doc_quality_score"]}) q
    JOIN ({ORACLE["quality_classifier_hashed"]}) c ON q.doc_id = c.doc_id
    JOIN ({ORACLE["doc_repetition_filters"]}) r ON q.doc_id = r.doc_id
    LEFT JOIN ({ORACLE["doc_bigram_lm_score"]}) l ON q.doc_id = l.doc_id
    JOIN ({ORACLE["doc_gopher_filters"]}) g ON q.doc_id = g.doc_id
    """


def _q_quality_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete per-document quality panel in one result: heuristic
    score, hashed-classifier margin, Gopher length/symbol gates,
    repetition fractions, bigram-LM mean — the row a curation run
    writes next to each doc for threshold tuning and audits. The
    oracle composes the five stage oracles as subqueries, so panel
    bit-exactness inherits from each stage's.

    Scale: every stage keys on doc_id with uniform hashes; the joins
    co-locate on the same key, so AQE collapses them into one shuffle
    stage chain. Docs with no bigrams get mean_p_scaled 0 (left join)."""
    q = QUERIES["doc_quality_score"](spark, sf_dir)
    c = QUERIES["quality_classifier_hashed"](spark, sf_dir).select(
        "doc_id", "margin", "keep"
    )
    r = QUERIES["doc_repetition_filters"](spark, sf_dir).select(
        "doc_id", "dup_trigram_frac", "top_bigram_frac"
    )
    l = QUERIES["doc_bigram_lm_score"](spark, sf_dir).select(
        "doc_id", "mean_p_scaled"
    )
    g = QUERIES["doc_gopher_filters"](spark, sf_dir).select(
        "doc_id", "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio"
    )
    return (
        q.join(c, "doc_id")
        .join(r, "doc_id")
        .join(l, "doc_id", "left")
        .join(g, "doc_id")
        .withColumn("mean_p_scaled", F.coalesce("mean_p_scaled", F.lit(0)))
    )


QUERIES["doc_quality_panel"] = _q_quality_panel


ORACLE["curation_decisions"] = f"""
    SELECT doc_id,
           CASE WHEN quality < 0.3 THEN 'low_quality'
                WHEN keep = 0 THEN 'classifier_reject'
                WHEN dup_trigram_frac > 0.5 THEN 'repetitive'
                WHEN ok_word_count = 0 THEN 'length_gate'
                WHEN mean_p_scaled < 10000 THEN 'improbable_text'
                ELSE 'keep' END AS decision
    FROM ({ORACLE["doc_quality_panel"]})
    """


def _q_curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The judgment row: the quality panel reduced to a keep/drop
    decision with a REASON CODE (first failing gate, fixed precedence)
    — the audit trail that explains every dropped document. Thresholds
    are the tunable surface; the decision logic is one codegen CASE
    over the panel, so re-tuning is a re-run of a map-side expression.
    """
    panel = QUERIES["doc_quality_panel"](spark, sf_dir)
    decision = (
        F.when(F.col("quality") < 0.3, "low_quality")
        .when(F.col("keep") == 0, "classifier_reject")
        .when(F.col("dup_trigram_frac") > 0.5, "repetitive")
        .when(F.col("ok_word_count") == 0, "length_gate")
        .when(F.col("mean_p_scaled") < 10000, "improbable_text")
        .otherwise("keep")
    )
    return panel.select("doc_id", decision.alias("decision"))


QUERIES["curation_decisions"] = _q_curation_decisions


@query(
    "mixture_sampling_rates",
    """
    WITH avail AS (
      SELECT lang,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
      FROM documents GROUP BY lang),
    tot AS (SELECT CAST(SUM(avail_tokens) AS BIGINT) AS total FROM avail),
    tgt(lang, share_milli) AS (VALUES
      ('en', 400), ('de', 300), ('es', 200), ('fr', 100)),
    need AS (
      SELECT a.lang, a.avail_tokens,
             (t.share_milli * (tot.total // 2)) // 1000 AS needed_tokens
      FROM avail a JOIN tgt t ON a.lang = t.lang CROSS JOIN tot)
    SELECT lang, avail_tokens,
           CAST(needed_tokens AS BIGINT) AS needed_tokens,
           CAST(LEAST(1000, (needed_tokens * 1000) // avail_tokens)
                AS BIGINT) AS rate_milli
    FROM need
    """,
)
def mixture_sampling_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture targeting: given target language shares (en 40 / de 30 /
    es 20 / fr 10, in thousandths) for a training budget of half the
    corpus tokens, solve each language's per-mille sampling rate —
    capped at 1000 when a language can't supply its target (the
    under-resourced-language case every mixture hits). All integer
    (explicit floor division), so rates are bit-exact and a
    hash-bucket filter `bucket < rate_milli` applies them
    deterministically (stratified_sample's mechanism).

    Scale: one partial-agg shuffle on lang; targets and the total are
    driver-size.
    """
    from ocr_spark.operators.dedup import tokens
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    avail = d.groupBy("lang").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("avail_tokens")
    )
    tot = avail.groupBy().agg(F.sum("avail_tokens").alias("total"))
    tgt = spark.createDataFrame(
        [("en", 400), ("de", 300), ("es", 200), ("fr", 100)],
        "lang string, share_milli int",
    )
    need = (
        avail.join(F.broadcast(tgt), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "avail_tokens",
            floor_div(
                F.col("share_milli").cast("long")
                * floor_div(F.col("total"), F.lit(2)),
                F.lit(1000),
            ).alias("needed_tokens"),
        )
    )
    return need.select(
        "lang",
        "avail_tokens",
        "needed_tokens",
        F.least(
            F.lit(1000).cast("long"),
            floor_div(F.col("needed_tokens") * 1000, F.col("avail_tokens")),
        ).alias("rate_milli"),
    )


@query(
    "vocab_coverage_curve",
    """
    WITH uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM uni),
    ranked AS (
      SELECT w, c,
             CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rank,
             CAST(SUM(c) OVER (ORDER BY c DESC, w
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM uni)
    SELECT rank, w, c,
           CAST((cum * 1000 - (((cum * 1000) % total) + total) % total)
                // total AS BIGINT) AS cum_milli
    FROM ranked CROSS JOIN tot
    WHERE rank <= 20
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing analytics: the corpus vocabulary ranked by
    frequency with the cumulative token-mass share (per mille,
    integer) — read off how many vocab entries cover 90/99% of the
    stream. The top-20 head is picked DISTRIBUTED
    (orderBy().limit() → TakeOrderedAndProject, per-partition top-20
    + driver merge — never a vocab-wide single-task sort); the
    rank/cumulative window then runs over exactly 20 rows (bounded
    post-limit window, the documented exception to the
    no-partitionless-window rule). The heavier words a rank-k row
    accumulates are all inside the top-20 by construction, so the
    post-limit cumsum equals the full-vocabulary cumsum for every
    emitted row.
    """
    from pyspark.sql import Window

    from ocr_spark.operators.dedup import tokens
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    uni = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.groupBy().agg(F.sum("c").alias("total"))
    top = uni.orderBy(F.desc("c"), "w").limit(20)
    w_r = Window.orderBy(F.desc("c"), "w")
    ranked = top.select(
        "w",
        "c",
        F.row_number().over(w_r).cast("long").alias("rank"),
        F.sum("c")
        .over(w_r.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .where(F.col("rank") <= 20)
        .select(
            "rank",
            "w",
            "c",
            floor_div(F.col("cum") * 1000, F.col("total")).alias("cum_milli"),
        )
    )


def _bpe_oracle_ctes(rounds: int) -> str:
    """Shared CTE chain for the BPE queries: enc0 (framed word vocab)
    then per-round pair counts, deterministic best pair, and the
    replace-applied next encoding."""
    parts = [
        """enc0 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
             list_aggregate(
               list_transform(generate_series(1, length(w)),
                              i -> chr(31) || substr(w, i, 1) || chr(30)),
               'string_agg', '') AS enc
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) > 0
      GROUP BY w)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""sy{r} AS (
      SELECT cnt, string_split(substr(enc, 2, length(enc) - 2),
                               chr(30) || chr(31)) AS s
      FROM enc{p})"""
        )
        parts.append(
            f"""pc{r} AS (
      SELECT s[i] AS s1, s[i + 1] AS s2, CAST(SUM(cnt) AS BIGINT) AS c
      FROM (SELECT cnt, s,
                   unnest(CASE WHEN len(s) >= 2
                          THEN generate_series(1, len(s) - 1)
                          ELSE CAST([] AS BIGINT[]) END) AS i
            FROM sy{r})
      GROUP BY s1, s2)"""
        )
        parts.append(
            f"""best{r} AS (
      SELECT s1, s2, c FROM pc{r}
      WHERE c = (SELECT MAX(c) FROM pc{r})
      ORDER BY s1, s2 LIMIT 1)"""
        )
        parts.append(
            f"""enc{r} AS (
      SELECT w, cnt,
             replace(enc,
                     chr(31) || b.s1 || chr(30) || chr(31) || b.s2 || chr(30),
                     chr(31) || b.s1 || b.s2 || chr(30)) AS enc
      FROM enc{p}, best{r} b)"""
        )
    return "WITH " + ",\n    ".join(parts)


def _bpe_merges_oracle(rounds: int) -> str:
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({r} AS INT) AS merge_rank, s1 AS sym1, s2 AS sym2,"
        f" c AS pair_count FROM best{r}"
        for r in range(1, rounds + 1)
    )
    return _bpe_oracle_ctes(rounds) + "\n    " + sel


@query("bpe_learn_merges", _bpe_merges_oracle(4))
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer induction (Sennrich et al. 2016): four
    merge-learning rounds over the corpus word-frequency table →
    ``(merge_rank, sym1, sym2, pair_count)``.

    The operator the training stack runs between curation and
    tokenization: the merge table IS the tokenizer. Dataflow in
    operators/tokenizer.py — word-type vocabulary (corpus collapses
    once), framed-string symbol encoding, merge application as one
    codegen ``replace``, deterministic argmax (max count, lexicographic
    tie-break) with no global sort, the vocabulary staged per round so
    executed work is linear in rounds.

    Scale: rounds × (one vocab-sized explode + one (s1,s2) hash
    aggregate with partial sums + one 1-row broadcast). Vocab is
    10^7-10^8 rows at web scale — each round is a small uniform
    shuffle; real trainers run 10^4-10^5 rounds with incremental
    pair-count maintenance, which this dataflow admits (only words
    containing the merged pair change — a broadcast semi-filter).
    """
    from ocr_spark.operators.tokenizer import learn_bpe_merges

    merges, _ = learn_bpe_merges(load_table(spark, sf_dir, "documents"))
    return merges


@query(
    "bpe_word_segmentations",
    _bpe_oracle_ctes(4)
    + """,
    seg AS (
      SELECT w, cnt,
             array_to_string(
               string_split(substr(enc, 2, length(enc) - 2),
                            chr(30) || chr(31)), '|') AS seg
      FROM enc4),
    ranked AS (
      SELECT w, cnt, seg,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rnk
      FROM seg)
    SELECT w, cnt, seg FROM ranked WHERE rnk <= 20
    """,
)
def bpe_word_segmentations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned tokenizer applied back to the vocabulary: top-20
    words by frequency with their post-merge segmentation ('|'-joined
    symbols) → ``(w, cnt, seg)``.

    Demonstrates the APPLY side of BPE at zero marginal cost — the
    final round's encoding is already the segmentation; production
    tokenization of the full corpus is the same replace chain mapped
    over documents. The top-20 pick is orderBy().limit() —
    TakeOrderedAndProject (per-partition top-20, driver merge), no
    vocabulary-wide window or single-task sort at any vocab size.
    """
    from ocr_spark.operators.tokenizer import learn_bpe_merges, segmentations

    _, vocab = learn_bpe_merges(load_table(spark, sf_dir, "documents"))
    seg = segmentations(vocab)
    return (
        seg.orderBy(F.desc("cnt"), "w").limit(20).select("w", "cnt", "seg")
    )


@query(
    "crawl_frontier_schedule",
    """
    WITH urls AS (
      SELECT doc_id, doc_id % 97 AS host, n_chars,
             CAST(500 + (doc_id % 97) % 5 * 250 AS BIGINT) AS delay_ms
      FROM documents),
    ranked AS (
      SELECT doc_id, host, delay_ms,
             ROW_NUMBER() OVER (PARTITION BY host
                                ORDER BY n_chars DESC, doc_id) - 1 AS slot
      FROM urls)
    SELECT doc_id, CAST(host AS BIGINT) AS host, CAST(slot AS BIGINT) AS slot,
           CAST(slot * delay_ms AS BIGINT) AS fetch_at_ms
    FROM ranked
    """,
)
def crawl_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-scheduled crawl frontier: per-host priority rank ×
    per-host crawl delay → the fetch timetable. Dataflow and scale
    notes in operators/crawl.frontier_schedule.
    """
    from ocr_spark.operators.crawl import frontier_schedule

    return frontier_schedule(load_table(spark, sf_dir, "documents"))


@query(
    "anchor_text_top3",
    """
    WITH l1 AS (
      SELECT unnest([(3 * doc_id + 1) % 97, (5 * doc_id + 2) % 97,
                     (7 * doc_id + 3) % 97]) AS host,
             text
      FROM documents),
    terms AS (
      SELECT host, unnest(string_split(text, ' ')[1:2]) AS term FROM l1),
    pc AS (
      SELECT host, term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM terms GROUP BY host, term),
    r AS (
      SELECT host, term, cnt,
             ROW_NUMBER() OVER (PARTITION BY host
                                ORDER BY cnt DESC, term) AS rnk
      FROM pc)
    SELECT CAST(host AS BIGINT) AS host, term, cnt, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def anchor_text_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound anchor-text aggregation: top-3 anchor terms per target
    host over the synthesized link graph. Dataflow and scale notes in
    operators/crawl.anchor_text_top3.
    """
    from ocr_spark.operators.crawl import anchor_text_top3

    return anchor_text_top3(load_table(spark, sf_dir, "documents"))


@query(
    "host_mirror_jaccard",
    """
    WITH base AS (
      SELECT DISTINCT doc_id % 97 AS host,
             md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS h
      FROM documents),
    dfok AS (SELECT h FROM base GROUP BY h HAVING COUNT(*) <= 50),
    capped AS (SELECT host, h FROM base JOIN dfok USING (h)),
    sizes AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n
              FROM base GROUP BY host),
    sh AS (
      SELECT a.host AS host_a, b.host AS host_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM capped a JOIN capped b ON a.h = b.h AND a.host < b.host
      GROUP BY a.host, b.host)
    SELECT host_a, host_b, shared, sa.n AS n_a, sb.n AS n_b,
           CAST(1000 * shared // (sa.n + sb.n - shared) AS BIGINT)
             AS jaccard_permille
    FROM sh JOIN sizes sa ON sh.host_a = sa.host
            JOIN sizes sb ON sh.host_b = sb.host
    """,
)
def host_mirror_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection: exact integer Jaccard over per-host
    content-sketch sets (leading-5-token shingle hash per doc) via the
    df-capped inverted join. Dataflow and the boilerplate-hash blowup
    analysis in operators/crawl.host_mirror_jaccard.
    """
    from ocr_spark.operators.crawl import host_mirror_jaccard

    return host_mirror_jaccard(load_table(spark, sf_dir, "documents"))


@query(
    "span_corruption_masks",
    f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    ns AS (
      SELECT doc_id, n_tok, n_tok * 150 // 3000 AS n_spans FROM base
      WHERE n_tok * 150 // 3000 >= 1),
    ex AS (
      SELECT doc_id, n_tok // n_spans AS stride,
             unnest(generate_series(0, n_spans - 1)) AS span_id
      FROM ns)
    SELECT doc_id, span_id,
           span_id * stride
             + ({_duck_md5hash("CAST(doc_id AS VARCHAR) || ':' || CAST(span_id AS VARCHAR)")}
                % (stride - 2)) + 1 AS span_start,
           CAST(3 AS BIGINT) AS span_len
    FROM ex
    """,
)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic T5-style span-corruption mask plan (15% of tokens
    in 3-token spans, non-overlapping by strata construction, offsets
    hash-derived → resumable mid-epoch). Dataflow and scale notes in
    operators/training.span_corruption_masks.
    """
    from ocr_spark.operators.training import span_corruption_masks

    return span_corruption_masks(load_table(spark, sf_dir, "documents"))


@query(
    "bpe_compression",
    _bpe_oracle_ctes(4)
    + """
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_word_occurrences,
           CAST(SUM(cnt * length(w)) AS BIGINT) AS n_chars,
           CAST(SUM(cnt * len(string_split(
             substr(enc, 2, length(enc) - 2), chr(30) || chr(31))))
             AS BIGINT) AS n_bpe_tokens,
           CAST(1000 * (SUM(cnt * length(w))
                        - SUM(cnt * len(string_split(
                            substr(enc, 2, length(enc) - 2),
                            chr(30) || chr(31)))))
                // SUM(cnt * length(w)) AS BIGINT) AS saved_permille
    FROM enc4
    """,
)
def bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level compression of the learned 4-merge BPE tokenizer:
    total word occurrences, character count (= token count before any
    merge), token count under the learned segmentation, and the
    per-mille savings — the metric a tokenizer-sizing sweep plots
    against merge count.

    One aggregate over the final vocabulary (vocab-sized, partial
    sums map-side); the merge chain itself is the bpe_learn_merges
    dataflow.
    """
    from ocr_spark.operators.dedup import tokens  # noqa: F401
    from ocr_spark.operators.tokenizer import _symbols, learn_bpe_merges
    from ocr_spark.operators.training import floor_div

    _, vocab = learn_bpe_merges(load_table(spark, sf_dir, "documents"))
    agg = vocab.groupBy().agg(
        F.sum("cnt").alias("n_word_occurrences"),
        F.sum(F.col("cnt") * F.length("w")).alias("n_chars"),
        F.sum(F.col("cnt") * F.size(_symbols(F.col("enc"))))
        .alias("n_bpe_tokens"),
    )
    return agg.select(
        "n_word_occurrences",
        "n_chars",
        "n_bpe_tokens",
        floor_div(
            F.lit(1000) * (F.col("n_chars") - F.col("n_bpe_tokens")),
            F.col("n_chars"),
        ).alias("saved_permille"),
    )


def _duck_repair_chain(expr: str) -> str:
    """DuckDB mirror of functions/text_analysis.repair_mojibake: the
    same MOJIBAKE_TABLE applied as a replace() chain in table order."""
    from ocr_spark.functions.text_analysis import MOJIBAKE_TABLE

    for bad, good in MOJIBAKE_TABLE:
        expr = f"replace({expr}, '{bad}', '{good}')"
    return expr


@query(
    "mojibake_repair",
    f"""
    WITH v AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN replace(text, 'e', 'é')
               WHEN 1 THEN replace(text, 'o', 'ó')
               ELSE text END AS intended,
             CASE doc_id % 3
               WHEN 0 THEN replace(text, 'e', 'Ã©')
               WHEN 1 THEN replace(text, 'o', 'Ã³')
               ELSE text END AS corrupt
      FROM documents),
    r AS (
      SELECT doc_id, intended, corrupt,
             {_duck_repair_chain('corrupt')} AS repaired
      FROM v)
    SELECT doc_id,
           CAST(length(corrupt) - length(intended) AS BIGINT) AS n_bad_seqs,
           CAST(CASE WHEN repaired = intended THEN 1 ELSE 0 END AS BIGINT)
             AS restored,
           md5(repaired) AS repaired_hash
    FROM r
    """,
)
def mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding repair (cp1252-mis-decoded UTF-8) as a pure codegen
    replace chain — functions/text_analysis.repair_mojibake.

    The corpus is ASCII, so the query stages a deterministic
    corrupt-then-repair roundtrip: docs in class doc_id%3==0 are
    treated as if their intended text had 'é' where 'e' sits (class 1:
    'ó' for 'o') and arrived double-encoded ('Ã©'/'Ã³'); class 2 stays
    clean. Output per doc: the mojibake sequence count, whether repair
    restored the intended text exactly (1 for every corrupted doc, and
    trivially for clean ones), and the repaired-text hash. Mixed
    classes keep the oracle non-degenerate.
    """
    from ocr_spark.functions.text_analysis import repair_mojibake

    d = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3

    def _variant(e_rep: str, o_rep: str):
        return (
            F.when(m == 0, F.replace(F.col("text"), F.lit("e"), F.lit(e_rep)))
            .when(m == 1, F.replace(F.col("text"), F.lit("o"), F.lit(o_rep)))
            .otherwise(F.col("text"))
        )

    v = d.select(
        "doc_id",
        _variant("é", "ó").alias("intended"),
        _variant("Ã©", "Ã³").alias("corrupt"),
    )
    r = v.select(
        "doc_id", "intended", "corrupt",
        repair_mojibake(F.col("corrupt")).alias("repaired"),
    )
    return r.select(
        "doc_id",
        (F.length("corrupt") - F.length("intended")).cast("long")
        .alias("n_bad_seqs"),
        F.when(F.col("repaired") == F.col("intended"), 1).otherwise(0)
        .cast("long").alias("restored"),
        F.md5(F.col("repaired").cast("binary")).alias("repaired_hash"),
    )


@query(
    "compaction_bin_plan",
    """
    WITH f AS (
      SELECT doc_id % 97 AS part, doc_id AS file_id, n_chars AS bytes
      FROM documents),
    c AS (
      SELECT part, file_id, bytes,
             SUM(bytes) OVER (PARTITION BY part ORDER BY file_id)
               - bytes AS cb
      FROM f)
    SELECT part, CAST(cb // 600 AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           MIN(file_id) AS first_file, MAX(file_id) AS last_file
    FROM c GROUP BY part, cb // 600
    """,
)
def compaction_bin_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (Iceberg rewrite_data_files
    binpack): each doc stands in for a live data file (part =
    doc_id % 97, size = n_chars); bins of ~600 bytes via the
    parallel cumulative-size bucketing in
    sources/snapshots.compact_bin_plan (dataflow + FFD-vs-prefix-sum
    tradeoff documented there).
    """
    from ocr_spark.sources.snapshots import compact_bin_plan

    d = load_table(spark, sf_dir, "documents")
    files = d.select(
        (F.col("doc_id") % 97).alias("part"),
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").alias("bytes"),
    )
    return compact_bin_plan(files, 600).select(
        "part", "bin",
        F.col("n_files").cast("long").alias("n_files"),
        F.col("bin_bytes").cast("long").alias("bin_bytes"),
        "first_file", "last_file",
    )


@query(
    "cluster_representatives",
    f"""
    WITH clus AS ({ORACLE["dedup_clusters"]}),
    q AS ({ORACLE["doc_quality_score"]}),
    j AS (
      SELECT c.cluster,
             (CAST(FLOOR(q.quality * 10000 + 0.5) AS BIGINT) + 1)
               * 1000000000000 - c.doc_id AS p
      FROM clus c JOIN q ON c.doc_id = q.doc_id),
    a AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members, MAX(p) AS mp
      FROM j GROUP BY cluster)
    SELECT cluster, n_members,
           (1000000000000 - mp % 1000000000000) % 1000000000000 AS rep_doc,
           CAST((mp + (1000000000000 - mp % 1000000000000)
                   % 1000000000000) // 1000000000000 - 1 AS DOUBLE) / 10000
             AS rep_quality
    FROM a
    """,
)
def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster: keep the
    HIGHEST-quality member (tie → smallest doc_id) — the production
    keeper rule, where dedup_clusters' min-id label is only the
    cluster name. Closes the dedup dataflow: detect (MinHash-LSH) →
    cluster (connected components) → pick representative → drop the
    rest.

    The argmax is an integer PRIORITY ENCODING, not a window:
    p = (q10k+1)·10¹² − doc_id packs (quality desc, doc_id asc) into
    one BIGINT whose plain MAX is the lexicographic winner — a
    map-side-combining hash aggregate instead of a per-cluster sort
    (the same shape as ivf_assign's max_by). The +1 keeps p positive
    so % decode agrees across engines; quality is already on the
    10⁻⁴ grid, so ·10⁴ round-trips exactly on both.

    Scale: clusters join quality on uniform doc_id; the aggregate keys
    on cluster ids, whose skew is bounded by the largest near-dup
    cluster — the same bound the clustering itself already carries.
    """
    clusters = QUERIES["dedup_clusters"](spark, sf_dir)
    quality = QUERIES["doc_quality_score"](spark, sf_dir)
    big = F.lit(10**12).cast("long")
    j = clusters.join(quality, "doc_id").select(
        "cluster",
        (
            (F.floor(F.col("quality") * 10000 + 0.5).cast("long") + 1) * big
            - F.col("doc_id")
        ).alias("p"),
    )
    a = j.groupBy("cluster").agg(
        F.count("*").alias("n_members"), F.max("p").alias("mp")
    )
    rep_doc = (big - F.col("mp") % big) % big
    return a.select(
        "cluster",
        "n_members",
        rep_doc.alias("rep_doc"),
        (
            ((F.col("mp") + rep_doc) / big).cast("long") - 1
        ).cast("double").alias("rep_quality_x"),
    ).withColumn(
        "rep_quality", (F.col("rep_quality_x") / 10000)
    ).drop("rep_quality_x")


@query(
    "outlink_extraction",
    """
    WITH p AS (
      SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR)
               || '.example/d' || CAST(doc_id AS VARCHAR) AS url,
             '<nav><a href="/home">home</a>'
               || '<a href="mailto:ops@example.com">mail</a></nav>'
               || '<p>see <a href="/d'
               || CAST((doc_id * 7 + 1) % 500 AS VARCHAR)
               || '">next</a> and <a href="https://host'
               || CAST(doc_id % 5 AS VARCHAR)
               || '.example/promo">promo</a>'
               || '<a href="javascript:void(0)">x</a></p>' AS html
      FROM documents),
    l AS (
      SELECT url, regexp_extract(url, 'https://([^/]+)', 1) AS h,
             unnest(regexp_extract_all(html, 'href="([^"]+)"', 1)) AS lk
      FROM p),
    r AS (
      SELECT url, h,
             CASE WHEN lk LIKE 'http%' THEN lk
                  ELSE 'https://' || h || lk END AS outlink
      FROM l
      WHERE lk NOT LIKE 'mailto:%' AND lk NOT LIKE 'javascript:%')
    SELECT DISTINCT url, outlink,
           CAST(CASE WHEN outlink LIKE 'https://' || h || '/%'
                     THEN 1 ELSE 0 END AS BIGINT) AS internal
    FROM r
    """,
)
def outlink_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (the frontier-feeding crawl stage): hrefs
    parsed from per-page html, scheme-filtered, relative links resolved
    against the page host, classified internal/external — dataflow in
    operators/crawl.outlink_edges. The html here is synthesized with
    doc-dependent links (a relative next-doc link, an absolute
    cross-host link, plus mailto:/javascript: noise) so the oracle
    exercises every branch.
    """
    from ocr_spark.operators.crawl import outlink_edges

    d = load_table(spark, sf_dir, "documents")
    url = doc_url()
    html = F.concat(
        F.lit('<nav><a href="/home">home</a>'
              '<a href="mailto:ops@example.com">mail</a></nav>'
              '<p>see <a href="/d'),
        ((F.col("doc_id") * 7 + 1) % 500).cast("string"),
        F.lit('">next</a> and <a href="https://host'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('.example/promo">promo</a>'
              '<a href="javascript:void(0)">x</a></p>'),
    )
    return outlink_edges(d.select(url.alias("url"), html.alias("html")))


@query(
    "crawl_budget_apportionment",
    """
    WITH d AS (
      SELECT doc_id % 97 AS host, CAST(COUNT(*) AS BIGINT) AS demand
      FROM documents GROUP BY 1),
    t AS (SELECT CAST(SUM(demand) AS BIGINT) AS dt FROM d),
    b AS (
      SELECT host, demand, (1000 * demand) // dt AS base,
             (1000 * demand) % dt AS rem
      FROM d, t),
    r AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rk FROM b),
    x AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS rleft FROM b)
    SELECT host, demand, CAST(base AS BIGINT) AS base,
           CAST(CASE WHEN rk <= rleft THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(base + CASE WHEN rk <= rleft THEN 1 ELSE 0 END AS BIGINT)
             AS budget
    FROM r, x
    """,
)
def crawl_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-budget quotas (B=1000 fetch slots) by Hamilton
    largest-remainder apportionment over per-host doc counts —
    integer-exact, sum(budget)==B. The oracle is the single-window
    definition; the shipped dataflow is the two-tier remainder rank in
    operators/crawl.budget_apportionment (no one-partition sort).
    """
    from ocr_spark.operators.crawl import budget_apportionment

    d = load_table(spark, sf_dir, "documents")
    demands = d.groupBy((F.col("doc_id") % 97).alias("host")).agg(
        F.count("*").alias("demand")
    )
    return budget_apportionment(demands, 1000)


@query(
    "incremental_report_card",
    """
    WITH b AS (
      SELECT lang,
             CASE WHEN doc_id % 10 = 2 THEN text || ' v2' ELSE text END
               AS text
      FROM documents WHERE doc_id % 10 <> 1
      UNION ALL
      SELECT lang, text || ' new' FROM documents WHERE doc_id % 10 = 3)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars
    FROM b GROUP BY lang
    """,
)
def incremental_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental stats maintenance across the snapshot_delta CDC
    synthesis: Spark computes snapshot A's per-language stats PLUS
    signed delta rows (removed = negative, changed = new−old, added =
    positive) merged by sources/snapshots.incremental_lang_stats; the
    oracle recomputes snapshot B from scratch — so the driver's gate
    IS the incremental-equals-full-recompute proof, bit-exact because
    every stat is an integer sum.
    """
    from ocr_spark.sources.snapshots import incremental_lang_stats

    d = load_table(spark, sf_dir, "documents")

    def tok(c):
        return F.size(F.split(c, " ")).cast("long")

    def chars(c):
        return F.length(c).cast("long")

    stats_a = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(tok(F.col("text"))).alias("n_tokens"),
        F.sum(chars(F.col("text"))).alias("n_chars"),
    )
    m = F.col("doc_id") % 10
    v2 = F.concat(F.col("text"), F.lit(" v2"))
    newt = F.concat(F.col("text"), F.lit(" new"))
    removed = d.where(m == 1).select(
        "lang",
        F.lit(-1).cast("long").alias("n_docs"),
        (-tok(F.col("text"))).alias("n_tokens"),
        (-chars(F.col("text"))).alias("n_chars"),
    )
    changed = d.where(m == 2).select(
        "lang",
        F.lit(0).cast("long").alias("n_docs"),
        (tok(v2) - tok(F.col("text"))).alias("n_tokens"),
        (chars(v2) - chars(F.col("text"))).alias("n_chars"),
    )
    added = d.where(m == 3).select(
        "lang",
        F.lit(1).cast("long").alias("n_docs"),
        tok(newt).alias("n_tokens"),
        chars(newt).alias("n_chars"),
    )
    changes = removed.unionByName(changed).unionByName(added)
    return incremental_lang_stats(stats_a, changes)


# ---------------------------------------------------------------------------
# round-2 session-4: event analytics, edit-distance dedup, table extraction,
# readability, data profiling, skew diagnostics
# ---------------------------------------------------------------------------

@query(
    "events_sessionize",
    """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS pus FROM e),
    n AS (SELECT *, CASE WHEN pus IS NULL OR us - pus > 1800000000
                         THEN 1 ELSE 0 END AS brk FROM l),
    s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess FROM n)
    SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           strftime(make_timestamp(MIN(us)), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(make_timestamp(MAX(us)), '%Y-%m-%d %H:%M:%S') AS last_ts,
           CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS duration_s
    FROM s GROUP BY user_id, sess
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap) — the classic
    event-stream operator the streaming surface already has
    (streaming/pipeline sessionization), here as the exact batch form:
    per-user lag + running break-sum, all integer microsecond
    arithmetic. Scale: one shuffle on user_id; no global window."""
    from ocr_spark.operators.analytics import sessionize

    _utc(spark)
    return sessionize(load_table(spark, sf_dir, "events"))


@query(
    "funnel_conversion",
    """
    WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
                WHERE event_type = 'signup' GROUP BY 1),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
           WHERE e.event_type = 'view' GROUP BY 1),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
           WHERE e.event_type = 'click' GROUP BY 1),
    s4 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
           JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t
           WHERE e.event_type = 'purchase' GROUP BY 1)
    SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS event_type,
           CAST(COUNT(*) AS BIGINT) AS users_reached FROM s1
    UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
    UNION ALL SELECT 3, 'click', COUNT(*) FROM s3
    UNION ALL SELECT 4, 'purchase', COUNT(*) FROM s4
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel signup -> view -> click ->
    purchase: stage k counts users whose first stage-(k-1) event is
    followed by a later stage-k event. K aggregate+join passes on
    user_id, inputs shrinking each pass (operators/analytics
    funnel_counts)."""
    from ocr_spark.operators.analytics import funnel_counts

    return funnel_counts(
        load_table(spark, sf_dir, "events"),
        ["signup", "view", "click", "purchase"],
    )


_TITLE_SQL = """
      SELECT doc_id AS id,
             CASE doc_id % 5
               WHEN 1 THEN 'crawl extraction report number '
                           || CAST(doc_id // 5 AS VARCHAR) || '!'
               WHEN 2 THEN 'crawl extraction reprt number '
                           || CAST(doc_id // 5 AS VARCHAR)
               WHEN 3 THEN 'Crawl extraction report number '
                           || CAST(doc_id // 5 AS VARCHAR)
               WHEN 4 THEN 'crawl extraction report number '
                           || CAST(doc_id // 5 AS VARCHAR) || ' x'
               ELSE 'crawl extraction report number '
                    || CAST(doc_id // 5 AS VARCHAR)
             END AS title
      FROM documents WHERE (doc_id // 5) % 10 = 0
"""


@query(
    "title_editdist_dedup",
    f"""
    WITH t AS ({_TITLE_SQL})
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
    FROM t a JOIN t b
      ON a.id < b.id AND abs(length(a.title) - length(b.title)) <= 2
    WHERE levenshtein(a.title, b.title) <= 2
    """,
)
def title_editdist_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance(<=2) near-dup join over synthesized titles (typo
    variants: append, deletion, substitution — each CASE branch a
    distinct edit class; ' x' vs '!' pairs land exactly at dist 2 and
    cross-class pairs at 3 prove the cutoff). The oracle is the
    all-pairs definition; the shipped plan is the q-gram inverted-index
    join with length filtering (dedup.editdist_pairs) — exact recall
    for titles >= q*(d+1) = 9 chars (these are ~30)."""
    from ocr_spark.operators.dedup import editdist_pairs

    d = load_table(spark, sf_dir, "documents").where(
        F.expr("(doc_id DIV 5) % 10 = 0")
    )
    gid = F.expr("doc_id DIV 5").cast("string")
    base = F.concat(F.lit("crawl extraction report number "), gid)
    title = (
        F.when(F.col("doc_id") % 5 == 1, F.concat(base, F.lit("!")))
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("crawl extraction reprt number "), gid),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("Crawl extraction report number "), gid),
        )
        .when(F.col("doc_id") % 5 == 4, F.concat(base, F.lit(" x")))
        .otherwise(base)
    )
    t = d.select(F.col("doc_id").alias("id"), title.alias("title"))
    return editdist_pairs(t, max_dist=2, q=3)


@query(
    "html_table_extract",
    """
    WITH p AS (
      SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR)
               || '.example/d' || CAST(doc_id AS VARCHAR) AS url,
             '<h1>doc</h1><table><tr><th>key</th><th>val</th></tr>'
               || '<tr><td>id</td><td>' || CAST(doc_id AS VARCHAR)
               || '</td></tr><tr><td>lang</td><td>' || lang
               || '</td></tr></table>' AS html
      FROM documents),
    r AS (SELECT url, regexp_extract_all(html, '<tr>(.*?)</tr>', 1) AS trs
          FROM p),
    r2 AS (SELECT url, unnest(generate_series(1, len(trs))) AS ri, trs FROM r),
    r3 AS (SELECT url, ri - 1 AS row_idx, trs[ri] AS tr FROM r2),
    c AS (SELECT url, row_idx,
                 regexp_extract_all(tr, '<t[dh]>(.*?)</t[dh]>', 1) AS cs
          FROM r3),
    c2 AS (SELECT url, row_idx, unnest(generate_series(1, len(cs))) AS ci, cs
           FROM c)
    SELECT url, CAST(row_idx AS BIGINT) AS row_idx,
           CAST(ci - 1 AS BIGINT) AS col_idx, cs[ci] AS cell
    FROM c2
    """,
)
def html_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-table extraction: every <table> row/cell of each page
    into long-form (url, row_idx, col_idx, cell) rows — the layout-
    parse stage next to DOM-density main text. Pure codegen double
    regexp/posexplode, zero shuffles (operators/extract.table_cells)."""
    from ocr_spark.operators.extract import table_cells

    d = load_table(spark, sf_dir, "documents")
    pages = d.select(
        doc_url().alias("url"),
        F.concat(
            F.lit("<h1>doc</h1><table><tr><th>key</th><th>val</th></tr>"
                  "<tr><td>id</td><td>"),
            F.col("doc_id").cast("string"),
            F.lit("</td></tr><tr><td>lang</td><td>"),
            F.col("lang"),
            F.lit("</td></tr></table>"),
        ).alias("html"),
    )
    return table_cells(pages)


@query(
    "doc_readability",
    """
    SELECT doc_id,
           CAST(greatest(1, len(regexp_split_to_array(trim(text), '\\s+')))
                AS BIGINT) AS words,
           CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                AS BIGINT) AS sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                AS BIGINT) AS syllables,
           CAST(
             (39 * greatest(1, len(regexp_split_to_array(trim(text), '\\s+')))
                 * greatest(1, len(regexp_split_to_array(trim(text), '\\s+')))
              + 1180 * len(regexp_extract_all(lower(text), '[aeiouy]+'))
                     * greatest(1, len(regexp_extract_all(text, '[.!?]'))))
             // (greatest(1, len(regexp_extract_all(text, '[.!?]')))
                 * greatest(1, len(regexp_split_to_array(trim(text), '\\s+'))))
             - 1559 AS BIGINT) AS fk_grade_x100
    FROM documents
    """,
)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid readability per doc as exact integers: words,
    sentences (clamped >=1), vowel-group syllables, and the FK grade
    x100 via one integer floor-division over the common denominator
    (functions/text_analysis.readability_cols) — a standard corpus
    quality dimension next to doc_quality_panel."""
    from ocr_spark.functions.text_analysis import readability_cols

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", *readability_cols("text"))


@query(
    "column_profile_documents",
    """
    SELECT 'doc_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(doc_id) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(MIN(doc_id) AS VARCHAR) AS min_value,
           CAST(MAX(doc_id) AS VARCHAR) AS max_value FROM documents
    UNION ALL
    SELECT 'text', COUNT(*), COUNT(text), COUNT(DISTINCT text),
           MIN(text), MAX(text) FROM documents
    UNION ALL
    SELECT 'lang', COUNT(*), COUNT(lang), COUNT(DISTINCT lang),
           MIN(lang), MAX(lang) FROM documents
    UNION ALL
    SELECT 'source', COUNT(*), COUNT(source), COUNT(DISTINCT source),
           MIN(source), MAX(source) FROM documents
    UNION ALL
    SELECT 'n_chars', COUNT(*), COUNT(n_chars), COUNT(DISTINCT n_chars),
           CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
    FROM documents
    """,
)
def column_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of the documents table (row /
    non-null / distinct counts, typed min/max rendered as strings after
    aggregation) — the profiling pass a curation pipeline runs before
    trusting a new corpus drop. One wide aggregate job; constant-size
    output (operators/analytics.column_profile)."""
    from ocr_spark.operators.analytics import column_profile

    d = load_table(spark, sf_dir, "documents")
    return column_profile(d, ["doc_id", "text", "lang", "source", "n_chars"])


@query(
    "shuffle_skew_report",
    """
    WITH pk AS (
      SELECT CASE WHEN doc_id % 10 < 4 THEN 0 ELSE doc_id % 97 END AS k,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1),
    r AS (SELECT c, row_number() OVER (ORDER BY c, k) AS rk FROM pk),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM(c) AS BIGINT) AS total_rows,
                 CAST(MAX(c) AS BIGINT) AS max_rows FROM pk)
    SELECT n_keys, total_rows, max_rows, CAST(r.c AS BIGINT) AS median_rows,
           CAST(max_rows * 100 // r.c AS BIGINT) AS skew_ratio_x100,
           CAST(max_rows * 10000 // total_rows AS BIGINT) AS top1_share_x10000
    FROM r, a WHERE r.rk = (a.n_keys + 1) // 2
    """,
)
def shuffle_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic over a deliberately zipf-ish key (40% of
    docs collapse onto key 0): per-key counts reduced to max/median/
    top-1-share scaled-integer ratios — the report an operator reads
    before choosing salting or AQE skew-split for a hot-key join.
    Exact integer arithmetic (operators/analytics.skew_report)."""
    from ocr_spark.operators.analytics import skew_report

    d = load_table(spark, sf_dir, "documents")
    key = F.when(F.col("doc_id") % 10 < 4, F.lit(0).cast("long")).otherwise(
        F.col("doc_id") % 97
    )
    return skew_report(d, key)


@query(
    "url_trap_detection",
    """
    WITH u AS (
      SELECT CASE doc_id % 8
               WHEN 2 THEN base || '/x/x/x/d' || i
               WHEN 3 THEN base || '/2024/05/d' || i
               WHEN 4 THEN base || '/p?sid=' || i
               WHEN 5 THEN base || '/s1/s2/s3/s4/s5/s6/d' || i
               WHEN 6 THEN base || '/l' || repeat('q', 130)
               WHEN 7 THEN base || '/n/' || i
               WHEN 1 THEN base || '/d' || i
               ELSE base || '/a/b/c'
             END AS url
      FROM (SELECT doc_id,
                   'https://host' || CAST(doc_id % 97 AS VARCHAR)
                     || '.example' AS base,
                   CAST(doc_id AS VARCHAR) AS i
            FROM documents)),
    f AS (
      SELECT url,
             regexp_extract_all(regexp_replace(url, '^https?://[^/]+', ''),
                                '/([^/?]+)', 1) AS segs
      FROM u),
    g AS (
      SELECT url,
             CAST(CASE WHEN len(segs) >= 6 THEN 1 ELSE 0 END AS BIGINT)
               AS too_deep,
             CAST(CASE WHEN len(segs) > len(list_distinct(segs))
                       THEN 1 ELSE 0 END AS BIGINT) AS repeated_segment,
             CAST(CASE WHEN regexp_matches(url, '/(19|20)[0-9]{2}/[0-9]{2}/')
                       THEN 1 ELSE 0 END AS BIGINT) AS calendar,
             CAST(CASE WHEN regexp_matches(url, '[?&](sid|PHPSESSID|sessionid)=')
                       THEN 1 ELSE 0 END AS BIGINT) AS has_session_param,
             CAST(CASE WHEN length(url) >= 120 THEN 1 ELSE 0 END AS BIGINT)
               AS too_long
      FROM f)
    SELECT *, greatest(too_deep, repeated_segment, calendar,
                       has_session_param, too_long) AS is_trap
    FROM g
    """,
)
def url_trap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap URL classification over a synthesized frontier
    (each doc_id%8 class exercises one trap branch: mirror-loop
    repeated segments, calendar dates, session-id params, depth and
    length explosions). Row-local codegen flags, no shuffle
    (operators/crawl.url_trap_flags)."""
    from ocr_spark.operators.crawl import url_trap_flags

    d = load_table(spark, sf_dir, "documents")
    base = F.concat(
        F.lit("https://host"), (F.col("doc_id") % 97).cast("string"),
        F.lit(".example"),
    )
    i = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 8
    url = (
        F.when(m == 2, F.concat(base, F.lit("/x/x/x/d"), i))
        .when(m == 3, F.concat(base, F.lit("/2024/05/d"), i))
        .when(m == 4, F.concat(base, F.lit("/p?sid="), i))
        .when(m == 5, F.concat(base, F.lit("/s1/s2/s3/s4/s5/s6/d"), i))
        .when(m == 6, F.concat(base, F.lit("/l" + "q" * 130)))
        .when(m == 7, F.concat(base, F.lit("/n/"), i))
        .when(m == 1, F.concat(base, F.lit("/d"), i))
        .otherwise(F.concat(base, F.lit("/a/b/c")))
    )
    return url_trap_flags(d.select(url.alias("url")))


@query(
    "page_metadata_extract",
    """
    WITH p AS (
      SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d'
               || CAST(doc_id AS VARCHAR) AS url,
             '<head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
             || CASE WHEN doc_id % 3 <> 0
                     THEN '<meta property="og:title" content="OG '
                          || CAST(doc_id AS VARCHAR) || '">' ELSE '' END
             || CASE WHEN doc_id % 4 <> 0
                     THEN '<meta name="description" content="about '
                          || lang || '">' ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                     THEN '<link rel="canonical" href="https://host'
                          || CAST(doc_id % 97 AS VARCHAR) || '.example/d'
                          || CAST(doc_id AS VARCHAR) || '">' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN '<meta name="robots" content="noindex">'
                     ELSE '' END
             || '</head>' AS html
      FROM documents)
    SELECT url,
           regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
           regexp_extract(html,
             '<meta property="og:title" content="(.*?)"', 1) AS og_title,
           regexp_extract(html,
             '<meta name="description" content="(.*?)"', 1) AS description,
           regexp_extract(html,
             '<link rel="canonical" href="(.*?)"', 1) AS canonical,
           CAST(CASE WHEN contains(html,
                  '<meta name="robots" content="noindex"')
                THEN 1 ELSE 0 END AS BIGINT) AS noindex
    FROM p
    """,
)
def page_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction (<title>, og:title, description,
    canonical, robots-noindex) over pages whose synthesized heads
    omit each field on a different doc_id residue — exercising the
    ''-on-missing contract in both engines. Shuffle-free codegen
    (operators/extract.page_metadata)."""
    from ocr_spark.operators.extract import page_metadata

    d = load_table(spark, sf_dir, "documents")
    url = doc_url()
    i = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<head><title>Doc "), i, F.lit("</title>"),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(F.lit('<meta property="og:title" content="OG '), i,
                     F.lit('">')),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 != 0,
            F.concat(F.lit('<meta name="description" content="about '),
                     F.col("lang"), F.lit('">')),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit('<link rel="canonical" href="https://host'),
                     (F.col("doc_id") % 97).cast("string"),
                     F.lit(".example/d"), i, F.lit('">')),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit('<meta name="robots" content="noindex">'),
        ).otherwise(F.lit("")),
        F.lit("</head>"),
    )
    return page_metadata(d.select(url.alias("url"), html.alias("html")))


_SITEMAP_ENTRY_SQL = """
        '<url><loc>https://host' || CAST(doc_id % 97 AS VARCHAR)
          || '.example/d' || CAST(doc_id * 3 + {j} AS VARCHAR) || '</loc>'
          || CASE WHEN (doc_id + {j}) % 3 <> 0
                  THEN '<lastmod>2024-'
                       || lpad(CAST((doc_id + {j}) % 12 + 1 AS VARCHAR),
                               2, '0')
                       || '-01</lastmod>'
                  ELSE '' END
          || '</url>'
"""


@query(
    "sitemap_parse",
    f"""
    WITH p AS (
      SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR)
               || '.example/sitemap' || CAST(doc_id AS VARCHAR)
               || '.xml' AS url,
             '<urlset>' || {_SITEMAP_ENTRY_SQL.format(j=0)}
               || {_SITEMAP_ENTRY_SQL.format(j=1)}
               || {_SITEMAP_ENTRY_SQL.format(j=2)}
               || '</urlset>' AS xml
      FROM documents),
    b AS (SELECT url AS sitemap_url,
                 regexp_extract_all(xml, '<url>(.*?)</url>', 1) AS bs
          FROM p),
    b2 AS (SELECT sitemap_url, unnest(generate_series(1, len(bs))) AS bi, bs
           FROM b)
    SELECT sitemap_url, CAST(bi - 1 AS BIGINT) AS entry_idx,
           regexp_extract(bs[bi], '<loc>(.*?)</loc>', 1) AS loc,
           regexp_extract(bs[bi], '<lastmod>(.*?)</lastmod>', 1) AS lastmod
    FROM b2
    """,
)
def sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-XML parsing into (sitemap_url, entry_idx, loc, lastmod)
    rows — the discovery feed beside outlink_extraction; a third of the
    synthesized entries omit the optional <lastmod> to pin the
    ''-on-missing contract. Two-level regexp/posexplode, shuffle-free
    (operators/extract.sitemap_entries)."""
    from ocr_spark.operators.extract import sitemap_entries

    d = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") % 97).cast("string")

    def entry(j: int):
        return F.concat(
            F.lit("<url><loc>https://host"), h, F.lit(".example/d"),
            (F.col("doc_id") * 3 + j).cast("string"), F.lit("</loc>"),
            F.when(
                (F.col("doc_id") + j) % 3 != 0,
                F.concat(
                    F.lit("<lastmod>2024-"),
                    F.lpad(((F.col("doc_id") + j) % 12 + 1).cast("string"),
                           2, "0"),
                    F.lit("-01</lastmod>"),
                ),
            ).otherwise(F.lit("")),
            F.lit("</url>"),
        )

    sitemaps = d.select(
        F.concat(
            F.lit("https://host"), h, F.lit(".example/sitemap"),
            F.col("doc_id").cast("string"), F.lit(".xml"),
        ).alias("url"),
        F.concat(
            F.lit("<urlset>"), entry(0), entry(1), entry(2),
            F.lit("</urlset>"),
        ).alias("xml"),
    )
    return sitemap_entries(sitemaps)


@query(
    "dataset_split_assignment",
    f"""
    WITH b AS (
      SELECT doc_id, lang,
             {_duck_md5hash("'split:' || CAST(doc_id AS VARCHAR)")} % 100
               AS bucket
      FROM documents)
    SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < 98 THEN 'train'
                WHEN bucket < 99 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment via a salted
    content-hash bucket — reproducible across runs/engines/partitioning
    and stable under corpus growth (operators/mining.dataset_split).
    The salt decorrelates split membership from every other md5 use
    (sampling, sharding), so downstream stages can't leak across."""
    from ocr_spark.operators.mining import dataset_split

    return dataset_split(load_table(spark, sf_dir, "documents"))


@query(
    "bitext_candidate_mining",
    """
    WITH a AS (
      SELECT doc_id, lang,
             text || ' id-' || CAST(doc_id // 7 AS VARCHAR)
                  || ' ref-' || CAST(doc_id // 13 AS VARCHAR)
                  || ' num-' || CAST(doc_id // 3 AS VARCHAR) AS t
      FROM documents),
    r AS (SELECT doc_id, lang,
                 unnest(list_distinct(
                   regexp_extract_all(t, '(id|ref|num)-[0-9]+'))) AS anchor
          FROM a),
    k AS (SELECT doc_id, lang, anchor FROM
            (SELECT *, COUNT(*) OVER (PARTITION BY anchor) AS df FROM r)
          WHERE df <= 16),
    p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                 x.lang AS lang_a, y.lang AS lang_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared_anchors
          FROM k x JOIN k y
            ON x.anchor = y.anchor AND x.doc_id < y.doc_id
               AND x.lang <> y.lang
          GROUP BY 1, 2, 3, 4)
    SELECT * FROM p WHERE n_shared_anchors >= 2
    """,
)
def bitext_candidate_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRAND-style bitext candidate generation: cross-language doc
    pairs sharing >=2 rare content anchors (injected id-/ref-/num-
    tokens — the translation-invariant numbers a real pipeline
    extracts), mined with a df-capped inverted anchor join
    (operators/mining.bitext_candidates). The oracle is the same
    definition in SQL."""
    from ocr_spark.operators.mining import bitext_candidates

    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.lit(" id-"), F.expr("doc_id DIV 7").cast("string"),
            F.lit(" ref-"), F.expr("doc_id DIV 13").cast("string"),
            F.lit(" num-"), F.expr("doc_id DIV 3").cast("string"),
        ).alias("text"),
    )
    return bitext_candidates(aug, pattern="(id|ref|num)-[0-9]+")


def _sq8(a: str, b: str) -> str:
    """8-term unrolled integer squared-L2 between two DuckDB list
    exprs (mirror of ann._sq_l2's codegen unroll)."""
    return " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])" for i in range(1, 9)
    )


_PQ_BASE = f"""
    qv AS (SELECT vec_id, {_KM_QV} AS qv FROM embeddings),
    g AS (SELECT unnest(generate_series(0, 7)) AS s),
    sv AS (SELECT vec_id, s, qv[s*8+1:(s+1)*8] AS sv FROM qv, g),
    cb AS (SELECT CAST(vec_id AS INT) AS code, s, sv AS cv
           FROM sv WHERE vec_id < 16),
    d AS (SELECT v.vec_id, v.s, c.code, {_sq8('v.sv', 'c.cv')} AS dist
          FROM sv v JOIN cb c ON v.s = c.s),
    a AS (SELECT vec_id, s, code, dist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                         ORDER BY dist, code) AS rn
            FROM d) WHERE rn = 1)
"""


@query(
    "pq_encode_codes",
    f"""
    WITH {_PQ_BASE}
    SELECT vec_id, CAST(s AS BIGINT) AS sub_idx,
           CAST(code AS BIGINT) AS code, CAST(dist AS BIGINT) AS dist
    FROM a
    """,
)
def pq_encode_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): 64-dim
    grid-quantized embeddings -> 8 subspaces x 16-entry codebooks ->
    (vec_id, sub_idx, code, dist), integer-exact. One broadcast
    codebook join + min(struct) hash aggregate — no window sort
    (operators/ann.pq_encode)."""
    from ocr_spark.operators.ann import pq_encode

    return pq_encode(load_table(spark, sf_dir, "embeddings"))


@query(
    "pq_adc_topk",
    f"""
    WITH {_PQ_BASE},
    lut AS (SELECT c.s, c.code, {_sq8('q.sv', 'c.cv')} AS qd
            FROM cb c JOIN sv q ON q.vec_id = 0 AND q.s = c.s),
    sc AS (SELECT a.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
           FROM a JOIN lut l ON a.s = l.s AND a.code = l.code
           GROUP BY 1)
    SELECT vec_id, adc_dist FROM sc ORDER BY adc_dist, vec_id LIMIT 10
    """,
)
def pq_adc_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search: exact query subvectors against a
    broadcast 128-row (sub, code) lookup table; approx distance is one
    LUT-join + hash-sum over the stored codes. The scale path of the
    ANN family: the encode is a write-time artifact, query time touches
    only nibble codes + LUT (operators/ann.pq_adc_topk)."""
    from ocr_spark.operators.ann import pq_adc_topk

    return pq_adc_topk(load_table(spark, sf_dir, "embeddings"))


@query(
    "entity_unescape",
    """
    WITH t AS (
      SELECT doc_id,
             'a &amp;lt; b &lt;em&gt; &quot;q' || CAST(doc_id AS VARCHAR)
               || '&quot; &#39;s&#39; x&nbsp;y &amp; ' || lang AS raw
      FROM documents)
    SELECT doc_id, raw,
           replace(replace(replace(replace(replace(replace(
             raw, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&#39;', CHR(39)), '&nbsp;', CHR(160)), '&amp;', '&') AS decoded
    FROM t
    """,
)
def entity_unescape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codegen HTML entity decode (the six dominant named entities;
    '&amp;' last so double-encoded text single-decodes exactly like
    html.unescape — pinned by test). Keeps entity-only cleanup JVM-side
    instead of paying the Arrow hop (operators/extract
    html_unescape_col)."""
    from ocr_spark.operators.extract import html_unescape_col

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("a &amp;lt; b &lt;em&gt; &quot;q"),
        F.col("doc_id").cast("string"),
        F.lit("&quot; &#39;s&#39; x&nbsp;y &amp; "),
        F.col("lang"),
    )
    return d.select(
        "doc_id",
        raw.alias("raw"),
        html_unescape_col(raw).alias("decoded"),
    )


@query(
    "cocitation_top",
    f"""
    WITH eo AS ({ORACLE['outlink_extraction']}),
    e AS (SELECT DISTINCT url, outlink FROM eo),
    deg AS (SELECT url FROM e GROUP BY url HAVING COUNT(*) <= 64),
    c AS (SELECT e.url, e.outlink FROM e JOIN deg USING (url)),
    p AS (SELECT a.outlink AS link_a, b.outlink AS link_b,
                 CAST(COUNT(*) AS BIGINT) AS n_citing
          FROM c a JOIN c b ON a.url = b.url AND a.outlink < b.outlink
          GROUP BY 1, 2)
    SELECT * FROM p WHERE n_citing >= 2
    """,
)
def cocitation_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation pairs (Small 1973) over the outlink graph: links
    cited together by >=2 pages, hub pages capped at 64 outlinks
    before pairing (C(L,2) blowup guard). The oracle composes the
    outlink_extraction oracle — same synthesized pages
    (operators/crawl.cocitation_pairs)."""
    from ocr_spark.operators.crawl import cocitation_pairs, outlink_edges

    d = load_table(spark, sf_dir, "documents")
    url = doc_url()
    html = F.concat(
        F.lit('<nav><a href="/home">home</a>'
              '<a href="mailto:ops@example.com">mail</a></nav>'
              '<p>see <a href="/d'),
        ((F.col("doc_id") * 7 + 1) % 500).cast("string"),
        F.lit('">next</a> and <a href="https://host'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('.example/promo">promo</a>'
              '<a href="javascript:void(0)">x</a></p>'),
    )
    edges = outlink_edges(d.select(url.alias("url"), html.alias("html")))
    return cocitation_pairs(edges, min_count=2, max_out=64)


@query(
    "recrawl_schedule",
    """
    WITH log AS (
      SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d'
               || CAST(doc_id AS VARCHAR) AS url,
             j AS fetch_idx,
             CASE WHEN (doc_id + j) % (doc_id % 5 + 2) = 0
                  THEN 1 ELSE 0 END AS changed
      FROM documents, (SELECT unnest(generate_series(0, 3)) AS j)),
    a AS (SELECT url, CAST(COUNT(*) AS BIGINT) AS n_fetches,
                 CAST(SUM(changed) AS BIGINT) AS n_changes
          FROM log GROUP BY 1)
    SELECT url, n_fetches, n_changes,
           least(CAST(720 AS BIGINT), greatest(CAST(6 AS BIGINT),
             (168 * (n_fetches - n_changes + 1)) // (n_changes + 1)))
             AS next_interval_hours
    FROM a
    """,
)
def recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate recrawl scheduling (Cho & Garcia-Molina '03): a
    4-fetch synthetic history per url (change pattern varies with
    doc_id so every clamp branch is hit), next interval =
    clamp(168h * (unchanged+1)/(changed+1), 6h, 720h) via exact
    integer floor division (operators/crawl.recrawl_intervals)."""
    from ocr_spark.operators.crawl import recrawl_intervals

    d = load_table(spark, sf_dir, "documents")
    log = d.select(
        doc_url().alias("url"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("fetch_idx"),
        "doc_id",
    ).select(
        "url",
        "fetch_idx",
        F.when(
            (F.col("doc_id") + F.col("fetch_idx"))
            % (F.col("doc_id") % 5 + 2) == 0,
            F.lit(1),
        ).otherwise(F.lit(0)).alias("changed"),
    ).drop("doc_id")
    return recrawl_intervals(log)


@query(
    "trustrank_hosts",
    _power_rank_oracle(
        "h % 7 = 0",
        "h AS host, CAST(CASE WHEN h % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)"
        " AS trusted, r AS trust",
    ),
)
def trustrank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (Gyöngyi et al., VLDB'04) over the synthesized host
    graph: host_pagerank's power iteration (_power_rank) with the
    start and teleport mass restricted to a trusted seed set
    (h % 7 == 0) — authority flows outward from vetted seeds only, so
    link spam that only cross-links within itself gets ~zero trust,
    the spam-demotion signal curation mixes with raw PageRank."""
    trusted = F.col("h") % 7 == 0
    hosts, edges = _host_graph(spark, sf_dir)
    return _power_rank(hosts, edges, trusted).select(
        F.col("h").alias("host"),
        F.when(trusted, F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("trusted"),
        F.col("r").alias("trust"),
    )


@query(
    "host_boilerplate_shingles",
    f"""
    WITH {_DUCK_SHINGLES},
    inv AS (SELECT doc_id % 97 AS host, unnest(hs) AS h FROM sh),
    hd AS (SELECT doc_id % 97 AS host, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
    f AS (SELECT host, h, CAST(COUNT(*) AS BIGINT) AS df
          FROM inv GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT f.host, f.h, f.df, hd.n_docs,
           CAST((1000 * f.df) // hd.n_docs AS BIGINT) AS permille
    FROM f JOIN hd ON f.host = hd.host
    """,
)
def host_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level boilerplate mining: shingles recurring across >=2
    documents of the same host (navigation/footer templates — the
    corpus-side complement of DOM boilerplate stripping, cf. CCNet's
    repeated-line dedup), with the per-host recurrence permille.
    (operators/dedup.boilerplate_shingles; host derives from the doc
    key as a column expression — no doc->host join)."""
    from ocr_spark.operators.dedup import boilerplate_shingles

    return boilerplate_shingles(load_table(spark, sf_dir, "documents"))


@query(
    "hll_host_sketches",
    f"""
    WITH h AS (
      SELECT doc_id % 97 AS host, {_duck_md5hash64('text')} AS h64
      FROM documents),
    parts AS (SELECT host, h64 % 64 AS bucket, h64 // 64 AS w FROM h)
    SELECT host, bucket,
           MAX(CASE WHEN w = 0 THEN 55
                    ELSE 55 - length(bin(w)) END) AS max_rho
    FROM parts GROUP BY host, bucket
    """,
)
def hll_host_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host HyperLogLog register tables over document content —
    grouped sketches whose plain-MAX mergeability turns union
    cardinality at any coarser grain (shard/day/corpus) into a
    64-longs-per-group rollup; merge==direct is pinned in pytest
    (streaming/pipeline.hll_registers_grouped, same registers as the
    streaming surface)."""
    from ocr_spark.streaming.pipeline import hll_registers_grouped

    d = load_table(spark, sf_dir, "documents")
    g = hll_registers_grouped(
        d.select((F.col("doc_id") % 97).alias("host"), "text"),
        "host",
        "text",
    )
    return g.select(F.col("grp").alias("host"), "bucket", "max_rho")


# ---------------------------------------------------------------------------
# PCA power iteration / HITS / TF-IDF keywords
# ---------------------------------------------------------------------------

def _sql_floor_div(num: str, den: str) -> str:
    """The cross-engine floor-division form as DuckDB SQL text (Spark
    `div` truncates, DuckDB `//` floors — they agree only after the
    positive-remainder subtraction)."""
    return (
        f"CAST(({num} - ((({num}) % ({den})) + ({den})) % ({den}))"
        f" // ({den}) AS BIGINT)"
    )


def _pca_cte(iters: int = 2) -> str:
    """Shared CTE chain for the PCA oracles: quantize -> center ->
    ``iters`` power-iteration rounds, mirroring operators/training.
    pca_power integer-for-integer."""
    parts = [
        "q AS (SELECT vec_id, list_transform(embedding, x -> "
        "CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv"
        " FROM embeddings)",
        "dims AS (SELECT unnest(generate_series(1, 64)) AS d)",
        "ex AS (SELECT vec_id, d, qv[d] AS x0 FROM q CROSS JOIN dims)",
        f"""mean AS (SELECT d, {_sql_floor_div("SUM(x0)", "COUNT(*)")} AS m
      FROM ex GROUP BY d)""",
        "cent AS (SELECT vec_id, ex.d, x0 - m AS x"
        " FROM ex JOIN mean ON ex.d = mean.d)",
        "v0 AS (SELECT d, CAST(10000 AS BIGINT) AS v FROM dims)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""s{i} AS (SELECT vec_id,
        {_sql_floor_div("SUM(x * v)", "1000000")} AS s
      FROM cent JOIN v{i - 1} USING (d) GROUP BY vec_id)"""
        )
        parts.append(
            f"""u{i} AS (SELECT d, CAST(SUM(x * s) AS BIGINT) AS u
      FROM cent JOIN s{i} USING (vec_id) GROUP BY d)"""
        )
        parts.append(
            f"""m{i} AS (SELECT GREATEST(
        {_sql_floor_div("MAX(ABS(u))", "10000")}, CAST(1 AS BIGINT)) AS mm
      FROM u{i})"""
        )
        parts.append(
            f"""v{i} AS (SELECT d, {_sql_floor_div("u", "mm")} AS v
      FROM u{i} CROSS JOIN m{i})"""
        )
    return "WITH " + ",\n    ".join(parts)


@query(
    "pca_power_component",
    _pca_cte(2)
    + """
    SELECT d, v AS component, mm AS gram_scale
    FROM v2 CROSS JOIN m2
    """,
)
def pca_power_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by quantized
    power iteration (2 rounds) — corpus drift/anisotropy monitoring
    without ever materializing a covariance matrix. Each round is two
    matvec passes: a per-row integer fold then a d-key aggregate with
    map-side partial sums, so the only corpus-wide shuffles key on
    vec_id / 64 dims. Bit-exact across engines (integer grid + explicit
    floor renormalization); see operators/training.pca_power for the
    int64 overflow budget."""
    from ocr_spark.operators.training import pca_power

    component, _ = pca_power(load_table(spark, sf_dir, "embeddings"))
    return component


@query(
    "pca_doc_projections",
    _pca_cte(2)
    + f"""
    , proj AS (
      SELECT vec_id, {_sql_floor_div("SUM(x * v)", "1000000")} AS proj
      FROM cent JOIN v2 USING (d) GROUP BY vec_id)
    SELECT vec_id, proj FROM proj
    ORDER BY ABS(proj) DESC, vec_id LIMIT 20
    """,
)
def pca_doc_projections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embeddings by |projection| onto the corpus's principal
    component — the outlier-surfacing read of pca_power_component
    (docs that dominate the dominant direction are dedup/contamination
    suspects). Same integer fold as the iteration's s-pass; the final
    top-k is a deterministic total order (|proj| desc, vec_id)."""
    from ocr_spark.operators.training import pca_projections

    return pca_projections(load_table(spark, sf_dir, "embeddings"))


def _hits_oracle(iters: int = 2) -> str:
    parts = [
        _duck_host_graph(),
        "hub0 AS (SELECT h, CAST(1000000 AS BIGINT) AS hub FROM hosts)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""araw{i} AS (
      SELECT hosts.h, CAST(COALESCE(SUM(p.hub), 0) AS BIGINT) AS a
      FROM hosts LEFT JOIN edges e ON e.dst = hosts.h
           LEFT JOIN hub{i - 1} p ON e.src = p.h
      GROUP BY hosts.h)"""
        )
        parts.append(
            f"""anorm{i} AS (SELECT GREATEST(
        {_sql_floor_div("MAX(a)", "1000000")}, CAST(1 AS BIGINT)) AS mm
      FROM araw{i})"""
        )
        parts.append(
            f"""auth{i} AS (SELECT h, {_sql_floor_div("a", "mm")} AS auth
      FROM araw{i} CROSS JOIN anorm{i})"""
        )
        parts.append(
            f"""hraw{i} AS (
      SELECT hosts.h, CAST(COALESCE(SUM(p.auth), 0) AS BIGINT) AS a
      FROM hosts LEFT JOIN edges e ON e.src = hosts.h
           LEFT JOIN auth{i} p ON e.dst = p.h
      GROUP BY hosts.h)"""
        )
        parts.append(
            f"""hnorm{i} AS (SELECT GREATEST(
        {_sql_floor_div("MAX(a)", "1000000")}, CAST(1 AS BIGINT)) AS mm
      FROM hraw{i})"""
        )
        parts.append(
            f"""hub{i} AS (SELECT h, {_sql_floor_div("a", "mm")} AS hub
      FROM hraw{i} CROSS JOIN hnorm{i})"""
        )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT hub{iters}.h AS host, hub, auth
    FROM hub{iters} JOIN auth{iters} ON hub{iters}.h = auth{iters}.h"""
    )


@query("hits_hubs_authorities", _hits_oracle(2))
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg, JACM'99) over the synthesized host graph: 2
    rounds of hub/authority mutual reinforcement in integer micro-units
    — the directory-page vs content-page split that complements
    host_pagerank/trustrank_hosts in link-based curation. Normalization
    is max-based via the same floor-divide-by-(max//scale) trick as
    pca_power (no multiply before divide — no int64 overflow at any
    host count). Scale: edges shuffle on uniform src/dst keys with
    map-side partial sums; the norm is a 1-row broadcast."""
    from ocr_spark.operators.training import floor_div

    hosts, edges = _host_graph(spark, sf_dir)

    def _norm(raw: DataFrame, out: str) -> DataFrame:
        mm = raw.agg(
            F.greatest(
                floor_div(F.max("a"), F.lit(1000000)), F.lit(1).cast("long")
            ).alias("mm")
        )
        return raw.crossJoin(F.broadcast(mm)).select(
            "h", floor_div(F.col("a"), F.col("mm")).alias(out)
        )

    hub = hosts.select("h", F.lit(1000000).cast("long").alias("hub"))
    auth = None
    for _ in range(2):
        araw = (
            hosts.join(edges.withColumnRenamed("dst", "h"), "h", "left")
            .join(hub.select(F.col("h").alias("src"), "hub"), "src", "left")
            .groupBy("h")
            .agg(F.coalesce(F.sum("hub"), F.lit(0)).cast("long").alias("a"))
        )
        auth = stage(_norm(araw, "auth"))
        hraw = (
            hosts.join(edges.withColumnRenamed("src", "h"), "h", "left")
            .join(auth.select(F.col("h").alias("dst"), "auth"), "dst", "left")
            .groupBy("h")
            .agg(F.coalesce(F.sum("auth"), F.lit(0)).cast("long").alias("a"))
        )
        hub = stage(_norm(hraw, "hub"))
    return hub.join(auth, "h").select(
        F.col("h").alias("host"), "hub", "auth"
    )


@query(
    "tfidf_keywords_top3",
    """
    WITH tf AS (
      SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY doc_id, w),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST((tf * big_n * 1000
                   - (((tf * big_n * 1000) % df) + df) % df) // df
                  AS BIGINT) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, score,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS BIGINT)
               AS rank
      FROM scored)
    SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 3
    """,
)
def tfidf_keywords_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords with a rational integer
    score floor(tf * N * 1000 / df) — monotone in tf * (N/df) with no
    log (ln differs across libm builds; the ordering is what matters
    for keyword extraction). Plan: one explode -> (doc, term) count,
    a broadcast term-df join, one row_number window partitioned by
    doc_id — uniform keys throughout; at 10^12 docs the df side is
    vocabulary-sized (broadcast or shuffle join, Catalyst's pick)."""
    from ocr_spark.operators.dedup import tokens
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("big_n"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            floor_div(
                F.col("tf") * F.col("big_n") * 1000, F.col("df")
            ).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "score")
    )


# ---------------------------------------------------------------------------
# extraction QA eval / positional phrase match / DOM tag histogram
# ---------------------------------------------------------------------------

@query(
    "extraction_eval_prf",
    """
    WITH pairs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 AND doc_id % 3 <> 0
                  THEN text || ' extracted noise' ELSE text END AS cand,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' promo subscribe now' ELSE text END AS gold
      FROM documents),
    ctf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS ctf
            FROM (SELECT doc_id, unnest(string_split(cand, ' ')) AS w
                  FROM pairs) GROUP BY doc_id, w),
    gtf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS gtf
            FROM (SELECT doc_id, unnest(string_split(gold, ' ')) AS w
                  FROM pairs) GROUP BY doc_id, w),
    m AS (
      SELECT COALESCE(c.doc_id, g.doc_id) AS doc_id,
             COALESCE(ctf, 0) AS ctf, COALESCE(gtf, 0) AS gtf
      FROM ctf c FULL OUTER JOIN gtf g
           ON c.doc_id = g.doc_id AND c.w = g.w),
    agg AS (
      SELECT doc_id, CAST(SUM(LEAST(ctf, gtf)) AS BIGINT) AS tp,
             CAST(SUM(ctf) AS BIGINT) AS n_cand,
             CAST(SUM(gtf) AS BIGINT) AS n_gold
      FROM m GROUP BY doc_id)
    SELECT doc_id, tp, n_cand, n_gold,
           CAST((1000 * tp) // n_cand AS BIGINT) AS p_permille,
           CAST((1000 * tp) // n_gold AS BIGINT) AS r_permille,
           CAST((2000 * tp) // (n_cand + n_gold) AS BIGINT) AS f1_permille
    FROM agg
    """,
)
def extraction_eval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale extraction QA: token-multiset precision/recall/F1
    (permille, integer floor — numerators/denominators are counts, so
    the pmod floor form is unneeded) of a candidate extraction against
    gold text per document. The harness every extractor change is
    judged by at 10^12 docs: two (doc, token) tf aggregates, one
    full-outer merge on (doc, token) — uniform keys, map-side partial
    sums, no python. Candidate/gold are deterministically perturbed
    per doc_id residue so all three metrics exercise values < 1000."""
    from ocr_spark.operators.dedup import tokens
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 3 != 0),
            F.concat(F.col("text"), F.lit(" extracted noise")),
        ).otherwise(F.col("text")).alias("cand"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" promo subscribe now")),
        ).otherwise(F.col("text")).alias("gold"),
    )

    def tf(col: str, out: str) -> DataFrame:
        return (
            pairs.select("doc_id", F.explode(tokens(F.col(col))).alias("w"))
            .groupBy("doc_id", "w")
            .agg(F.count(F.lit(1)).alias(out))
        )

    m = tf("cand", "ctf").join(tf("gold", "gtf"), ["doc_id", "w"], "full_outer")
    agg = (
        m.select(
            "doc_id",
            F.coalesce("ctf", F.lit(0)).alias("ctf"),
            F.coalesce("gtf", F.lit(0)).alias("gtf"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.least("ctf", "gtf")).alias("tp"),
            F.sum("ctf").alias("n_cand"),
            F.sum("gtf").alias("n_gold"),
        )
    )
    return agg.select(
        "doc_id", "tp", "n_cand", "n_gold",
        floor_div(1000 * F.col("tp"), F.col("n_cand")).alias("p_permille"),
        floor_div(1000 * F.col("tp"), F.col("n_gold")).alias("r_permille"),
        floor_div(
            2000 * F.col("tp"), F.col("n_cand") + F.col("n_gold")
        ).alias("f1_permille"),
    )


_PHRASE = ("data", "column")


@query(
    "phrase_match_positions",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (
      SELECT doc_id, unnest(t) AS w,
             unnest(generate_series(1, len(t))) AS i, t
      FROM toks),
    hits AS (
      SELECT doc_id, i FROM pos
      WHERE w = '{_PHRASE[0]}' AND i + 1 <= len(t)
            AND t[i + 1] = '{_PHRASE[1]}')
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(i) AS BIGINT) AS first_pos
    FROM hits GROUP BY doc_id
    """,
)
def phrase_match_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("{0} {1}") via positional posting lists —
    the operator BM25's bag-of-words scoring cannot express: posexplode
    to (doc, pos, term) rows, keep each phrase term's postings, and
    self-join on (doc, pos+1) adjacency. 1-based positions. Scale: the
    join keys are (doc_id, pos) — unique and uniform; per-term postings
    are filtered BEFORE the join (prefix-filter shape), so the shuffle
    carries only the two terms' lists, not the corpus.""".format(*_PHRASE)
    d = load_table(spark, sf_dir, "documents")
    from ocr_spark.operators.dedup import tokens

    pos = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "w")
    p1 = pos.where(F.col("w") == _PHRASE[0]).select("doc_id", "i")
    p2 = pos.where(F.col("w") == _PHRASE[1]).select(
        "doc_id", (F.col("i") - 1).alias("i")
    )
    return (
        p1.join(p2, ["doc_id", "i"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("i").cast("bigint").alias("first_pos"),
        )
    )


@query(
    "dom_tag_histogram",
    """
    WITH esc AS (
      SELECT doc_id,
             replace(replace(replace(text, '&', '&amp;'),
                     '<', '&lt;'), '>', '&gt;') AS body
      FROM documents),
    page AS (
      SELECT doc_id,
             '<!DOCTYPE html><html><head><title>d</title>'
             || '<script>var x=1;</script></head>'
             || '<body><header><h1>gazette</h1></header>'
             || '<nav><a href="/home">home</a> <a href="/tags">tags</a>'
             || ' <a href="/rss">rss</a></nav><main><p>'
             || body
             || '</p></main><div class="promo">subscribe</div>'
             || CASE WHEN doc_id % 5 = 0
                     THEN '<aside><p>related</p></aside>' ELSE '' END
             || '<footer><p>© 2025 example — all rights reserved</p>'
             || '</footer></body></html>' AS html
      FROM esc),
    tags AS (
      SELECT doc_id, unnest(regexp_extract_all(html, '<([a-z]+)', 1)) AS tag
      FROM page)
    SELECT tag, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_pages,
           CAST(COUNT(*) AS BIGINT) AS total
    FROM tags GROUP BY tag
    """,
)
def dom_tag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM tag histogram over the synthesized page corpus (every
    opening tag, via one regexp_extract_all + explode — shuffle-free
    until the tag-keyed aggregate, ~30 uniform keys with map-side
    partials): the markup-shape profile that drives extractor
    heuristics tuning (div-soup vs semantic-tag sites). Pages get an
    extra <aside> on doc_id % 5 == 0 so counts vary per tag."""
    from ocr_spark.operators.extract import html_escape_expr

    d = load_table(spark, sf_dir, "documents")
    body = html_escape_expr(F.col("text"))
    html = F.concat(
        F.lit(
            '<!DOCTYPE html><html><head><title>d</title><script>var x=1;'
            "</script></head><body><header><h1>gazette</h1></header>"
            '<nav><a href="/home">home</a> <a href="/tags">tags</a>'
            ' <a href="/rss">rss</a></nav><main><p>'
        ),
        body,
        F.lit('</p></main><div class="promo">subscribe</div>'),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit("<aside><p>related</p></aside>")
        ).otherwise(F.lit("")),
        F.lit("<footer><p>© 2025 example — all rights reserved</p></footer>"
              "</body></html>"),
    )
    pages = d.select("doc_id", html.alias("html"))
    tags = pages.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(html, '<([a-z]+)', 1)")
        ).alias("tag"),
    )
    return tags.groupBy("tag").agg(
        F.countDistinct("doc_id").alias("n_pages"),
        F.count(F.lit(1)).alias("total"),
    )


# ---------------------------------------------------------------------------
# n-gram novelty / host lang diversity / safety blocklist / CDC chunking
# ---------------------------------------------------------------------------

@query(
    "ngram_novelty",
    f"""
    WITH {_DUCK_SHINGLES},
    inv AS (SELECT doc_id, unnest(hs) AS h FROM sh),
    owner AS (SELECT h, MIN(doc_id) AS first_doc FROM inv GROUP BY h),
    per AS (
      SELECT inv.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(COUNT(*) FILTER (owner.first_doc = inv.doc_id)
                  AS BIGINT) AS n_novel
      FROM inv JOIN owner ON inv.h = owner.h
      GROUP BY inv.doc_id)
    SELECT doc_id, n_shingles, n_novel,
           CAST((1000 * n_novel) // n_shingles AS BIGINT)
             AS novelty_permille
    FROM per
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct
    3-gram shingles whose FIRST corpus occurrence (min doc_id) is the
    doc itself — the streaming-dedup view of contribution ("how much
    of this page is new text"); exact duplicates of earlier docs score
    0. Plan: the shingle_rows base (one uniform id shuffle), a
    min-aggregate per shingle hash (uniform md5 keys, map-side
    partials), one join back — no all-pairs anything. Docs with < 3
    tokens have no shingles and are absent on both engines."""
    from ocr_spark.operators.dedup import shingle_rows
    from ocr_spark.operators.training import floor_div

    inv = shingle_rows(load_table(spark, sf_dir, "documents"))
    owner = inv.groupBy("h").agg(F.min("id").alias("first_doc"))
    per = (
        inv.join(owner, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per.select(
        F.col("id").alias("doc_id"),
        "n_shingles",
        "n_novel",
        floor_div(1000 * F.col("n_novel"), F.col("n_shingles"))
        .alias("novelty_permille"),
    )


@query(
    "host_lang_gini",
    """
    WITH c AS (
      SELECT doc_id % 97 AS host, lang, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2),
    per AS (
      SELECT host, CAST(SUM(c) AS BIGINT) AS n_docs,
             CAST(SUM(c * c) AS BIGINT) AS sq,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM c GROUP BY host)
    SELECT host, n_docs, n_langs,
           CAST((1000 * (n_docs * n_docs - sq)) // (n_docs * n_docs)
                AS BIGINT) AS gini_permille
    FROM per
    """,
)
def host_lang_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host language diversity as Gini impurity in permille:
    1 - sum((c_lang/n)^2), computed as the exact rational
    (n^2 - sum c^2) / n^2 — no log, no float (the entropy-style signal
    used to spot mixed-language / machine-generated hosts, in the
    integer form that stays oracle-exact). Two small aggregates on
    uniform keys; nothing else."""
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    c = (
        d.groupBy((F.col("doc_id") % 97).alias("host"), "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = c.groupBy("host").agg(
        F.sum("c").alias("n_docs"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return per.select(
        "host", "n_docs", "n_langs",
        floor_div(
            1000 * (F.col("n_docs") * F.col("n_docs") - F.col("sq")),
            F.col("n_docs") * F.col("n_docs"),
        ).alias("gini_permille"),
    )


_BLOCKLIST = {
    "speed": ["slow", "fast"],
    "duplication": ["dup", "merge"],
    "size": ["big", "small"],
}


def _blocklist_oracle() -> str:
    rows = ", ".join(
        f"('{t}', '{c}')" for c, ts in _BLOCKLIST.items() for t in ts
    )
    return f"""
    WITH bl(term, category) AS (VALUES {rows}),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents)
    SELECT doc_id, category, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM toks JOIN bl USING (term)
    GROUP BY doc_id, category
    """


@query("blocklist_category_hits", _blocklist_oracle())
def blocklist_category_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety/policy blocklist matching: token-exact hits against a
    categorized term list (the UT1/safety-filter stage of a web
    pipeline), rolled up per (doc, category). The blocklist is a
    broadcast dimension — real lists are 10^4-10^6 terms, still far
    under broadcast limits — joined token-exact against the exploded
    corpus (no per-row regex scans over every pattern)."""
    from ocr_spark.operators.dedup import tokens

    d = load_table(spark, sf_dir, "documents")
    bl = d.sparkSession.createDataFrame(
        [(t, c) for c, ts in _BLOCKLIST.items() for t in ts],
        "term string, category string",
    )
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    return (
        toks.join(F.broadcast(bl), "term")
        .groupBy("doc_id", "category")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


_DUCK_CDC = f"""
    pos AS (
      SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i
      FROM documents WHERE length(text) >= 8),
    bnd AS (
      SELECT doc_id, i + 7 AS e FROM pos
      WHERE ({_duck_md5hash("substr(text, i, 8)")}) % 64 = 0),
    ends AS (
      SELECT DISTINCT doc_id, e FROM (
        SELECT doc_id, e FROM bnd
        UNION ALL
        SELECT doc_id, CAST(length(text) AS BIGINT) AS e FROM documents)),
    ch AS (
      SELECT doc_id, e,
             COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1
               AS s,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY e)
                  AS BIGINT) AS chunk_idx
      FROM ends),
    chunks AS (
      SELECT ch.doc_id, chunk_idx, CAST(s AS BIGINT) AS start,
             CAST(e - s + 1 AS BIGINT) AS chunk_len,
             {_duck_md5hash("substr(text, CAST(s AS INT), CAST(e - s + 1 AS INT))")}
               AS chunk_hash
      FROM ch JOIN documents USING (doc_id))
"""


@query(
    "cdc_chunks",
    f"""
    WITH {_DUCK_CDC}
    SELECT doc_id, chunk_idx, start, chunk_len, chunk_hash FROM chunks
    """,
)
def cdc_chunks_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC/LBFS gear-hash boundaries,
    ~64-char expected chunks): cut points where the trailing-8-char
    hash is 0 mod 64, so an edit shifts at most one chunk — the
    byte-level dedup primitive fixed-size blocking can't provide.
    See operators/dedup.cdc_chunks for the parallel dataflow (per-
    position explode -> boundary filter -> per-doc lag window)."""
    from ocr_spark.operators.dedup import cdc_chunks

    return cdc_chunks(load_table(spark, sf_dir, "documents"))


@query(
    "cdc_dedup_rate",
    f"""
    WITH {_DUCK_CDC}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT chunk_hash) AS BIGINT) AS n_distinct,
           CAST((1000 * (COUNT(*) - COUNT(DISTINCT chunk_hash)))
                // COUNT(*) AS BIGINT) AS dup_permille
    FROM chunks c JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
)
def cdc_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplication rate per source: how much of each
    source's content is byte-duplicated elsewhere in it, measured on
    CDC chunk hashes (the storage/dedup planning number). distinct-
    count shuffles on the uniform chunk-hash key; everything else is
    a counter."""
    from ocr_spark.operators.dedup import cdc_chunks
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    ch = cdc_chunks(d).join(d.select("doc_id", "source"), "doc_id")
    agg = ch.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("chunk_hash").alias("n_distinct"),
    )
    return agg.select(
        "source", "n_chunks", "n_distinct",
        floor_div(
            1000 * (F.col("n_chunks") - F.col("n_distinct")),
            F.col("n_chunks"),
        ).alias("dup_permille"),
    )


# ---------------------------------------------------------------------------
# containment join / host length quantiles / BPE fertility per lang
# ---------------------------------------------------------------------------

@query(
    "containment_pairs",
    f"""
    WITH {_DUCK_SHINGLES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
           CAST(len(a.hs) AS BIGINT) AS n_a,
           CAST((1000 * len(list_intersect(a.hs, b.hs))) // len(a.hs)
                AS BIGINT) AS containment_permille
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE len(a.hs) > 0
      AND 1000 * len(list_intersect(a.hs, b.hs)) >= 600 * len(a.hs)
    """,
)
def containment_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment |A∩B|/|A| >= 0.6 — the
    quotation/partial-copy relation Jaccard misses (short page quoted
    inside a long one). Shipped plan is the prefix-filtered inverted
    join (probe side truncated to floor(0.4*|A|)+1 hash-ordered
    shingles — exact recall by the ppjoin bound, proven vs brute force
    on random corpora in pytest); the oracle is the all-pairs form,
    kept to DuckDB only. Threshold compare is pure integer."""
    from ocr_spark.operators.dedup import containment_pairs

    return containment_pairs(load_table(spark, sf_dir, "documents"))


@query(
    "host_length_quantiles",
    """
    WITH ranked AS (
      SELECT doc_id % 97 AS host, n_chars,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 97
                                ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY doc_id % 97) AS n
      FROM documents)
    SELECT host, CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END)
                AS BIGINT) AS p50_chars,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN n_chars END)
                AS BIGINT) AS p90_chars
    FROM ranked GROUP BY host
    """,
)
def host_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-host doc-length order statistics (p50/p90 as the
    k-th value at k = (n+1)//2 and (9n+9)//10 under the total order
    (n_chars, doc_id)) — robust host profiling that a mean can't give
    (one 10 MB page skews an average; it can't move the median).
    Integer rank selection, no percentile_approx, no float. One
    row_number window per host (bounded partitions, uniform keys) and
    a conditional aggregate."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    host = (F.col("doc_id") % 97).alias("host")
    w = Window.partitionBy("host").orderBy("n_chars", "doc_id")
    ranked = d.select(host, "n_chars", "doc_id").select(
        "host", "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("host")).alias("n"),
    )
    k50 = ((F.col("n") + 1) - ((F.col("n") + 1) % 2)) / 2
    k90 = ((9 * F.col("n") + 9) - ((9 * F.col("n") + 9) % 10)) / 10
    return ranked.groupBy("host").agg(
        F.max("n").alias("n_docs"),
        F.max(
            F.when(F.col("rn") == k50.cast("long"), F.col("n_chars"))
        ).alias("p50_chars"),
        F.max(
            F.when(F.col("rn") == k90.cast("long"), F.col("n_chars"))
        ).alias("p90_chars"),
    )


@query(
    "bpe_fertility_by_lang",
    _bpe_oracle_ctes(4)
    + """,
    pieces AS (
      SELECT w, CAST(len(string_split(substr(enc, 2, length(enc) - 2),
                                      chr(30) || chr(31))) AS BIGINT)
               AS n_pieces
      FROM enc4),
    wl AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY lang, w)
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(SUM(c * n_pieces) AS BIGINT) AS n_pieces,
           CAST((1000 * SUM(c * n_pieces)) // SUM(c) AS BIGINT)
             AS fertility_permille
    FROM wl JOIN pieces USING (w)
    GROUP BY lang
    """,
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (pieces per word, permille) per language
    under the corpus-learned BPE merges — the standard multilingual-
    tokenizer equity metric (a lang with high fertility pays more
    sequence length per word). Composes the learned vocab's final
    segmentations (vocabulary-sized — broadcastable) against per-lang
    token counts; all integer."""
    from ocr_spark.operators.dedup import tokens
    from ocr_spark.operators.tokenizer import learn_bpe_merges, segmentations
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    _, vocab = learn_bpe_merges(d)
    pieces = segmentations(vocab).select(
        "w",
        F.size(F.split("seg", "\\|")).cast("long").alias("n_pieces"),
    )
    wl = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = wl.join(F.broadcast(pieces), "w").groupBy("lang").agg(
        F.sum("c").alias("n_words"),
        F.sum(F.col("c") * F.col("n_pieces")).alias("n_pieces"),
    )
    return agg.select(
        "lang", "n_words", "n_pieces",
        floor_div(1000 * F.col("n_pieces"), F.col("n_words"))
        .alias("fertility_permille"),
    )


# ---------------------------------------------------------------------------
# label-propagation communities / feature-hash embeddings
# ---------------------------------------------------------------------------

def _lp_oracle(iters: int = 3) -> str:
    parts = [
        _duck_host_graph("dedges"),
        # undirected: community structure ignores link direction
        """edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM dedges
        UNION ALL SELECT dst AS src, src AS dst FROM dedges))""",
        "l0 AS (SELECT h, h AS lbl FROM hosts)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""cnt{i} AS (
      SELECT e.src AS h, p.lbl, CAST(COUNT(*) AS BIGINT) AS c
      FROM edges e JOIN l{i - 1} p ON e.dst = p.h
      GROUP BY e.src, p.lbl)"""
        )
        parts.append(
            f"""win{i} AS (
      SELECT h, lbl FROM (
        SELECT h, lbl,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY c DESC, lbl) AS rn
        FROM cnt{i}) WHERE rn = 1)"""
        )
        parts.append(
            f"""l{i} AS (
      SELECT hosts.h, COALESCE(w.lbl, p.lbl) AS lbl
      FROM hosts LEFT JOIN win{i} w ON hosts.h = w.h
           JOIN l{i - 1} p ON hosts.h = p.h)"""
        )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT h AS host, lbl AS community FROM l{iters}"
    )


@query("host_communities_lp", _lp_oracle())
def host_communities_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    undirected host graph, 3 rounds: each host adopts the most frequent
    label among its neighbours (ties -> smallest label; isolated hosts
    keep their own) — the O(edges)-per-round community detector used
    for mirror-farm / link-ring grouping where modularity solvers
    don't scale. Deterministic by construction, so the driver can
    hash-check communities. Plan per round: one (node, label) count
    aggregate + one per-node argmax as one BIGINT max (_lp_round) —
    both on uniform host keys; no iteration-growing shuffle width."""
    hosts, dedges = _host_graph(spark, sf_dir)
    # staged: the undirected edges feed every round, and each round's
    # labels re-enter their own derivation
    edges = stage(dedges.union(
        dedges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())
    labels = hosts.select("h", F.col("h").alias("lbl"))
    for _ in range(3):
        labels = stage(_lp_round(edges, labels))
    return labels.select(F.col("h").alias("host"), F.col("lbl").alias("community"))


def _lp_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous label-propagation round — factored out so the
    plan contract (HashAggregate argmax over ONE BIGINT, zero
    SortAggregate) stays pinned by test_plans even though the query
    stages each round (which truncates the final plan's lineage)."""
    cnt = (
        edges.join(labels.withColumnRenamed("h", "dst"), "dst")
        .groupBy(F.col("src").alias("h"), "lbl")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # argmax-count/min-label as ONE BIGINT max (the kmeans_assign
    # fix pattern, r4): c*128 + (127 - lbl) is monotonic in
    # lexicographic (c, -lbl) because lbl is a host id in [0, 96]
    # on this 97-host graph — min(struct(-c, lbl)) had an
    # UnsafeRow-immutable struct buffer and planned a per-round
    # corpus-wide SortAggregate. At web scale, where lbl is an
    # unbounded host hash, the same shape is a two-stage
    # hash-aggregate (max(c) per h, then min(lbl) at c == max).
    win = (
        cnt.groupBy("h")
        .agg(F.max(F.col("c") * 128 + (127 - F.col("lbl"))).alias("m"))
        .select("h", (127 - F.col("m") % 128).alias("wlbl"))
    )
    return (
        labels.join(win, "h", "left")
        .select("h", F.coalesce("wlbl", "lbl").alias("lbl"))
    )


@query(
    "feature_hash_embeddings",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    feat AS (
      SELECT doc_id,
             ({_duck_md5hash("w")}) % 32 AS d,
             CASE WHEN ({_duck_md5hash("'s' || w")}) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM toks)
    SELECT doc_id, CAST(d AS BIGINT) AS d, CAST(SUM(sgn) AS BIGINT) AS v
    FROM feat GROUP BY doc_id, d
    """,
)
def feature_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (Weinberger et al., ICML'09) bag-of-words
    embeddings: each token lands in dimension md5(w) % 32 with a
    +-1 sign hash, summed per doc — the model-free 32-dim document
    vector cheap enough to compute inline for clustering/dedup at
    10^12 docs (one explode + one (doc, dim) aggregate; all integer,
    unbiased inner-product estimator by the sign trick). Rows are
    sparse (only dims a doc touches), exploded long-form like every
    vector surface here."""
    from ocr_spark.operators.dedup import fast_hash, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    feat = toks.select(
        "doc_id",
        (fast_hash(F.col("w")) % 32).alias("d"),
        F.when(
            fast_hash(F.concat(F.lit("s"), F.col("w"))) % 2 == 0, F.lit(1)
        ).otherwise(F.lit(-1)).alias("sgn"),
    )
    return feat.groupBy("doc_id", "d").agg(
        F.sum("sgn").cast("bigint").alias("v")
    )


# ---------------------------------------------------------------------------
# JSON-LD extraction / incremental CDC reuse / jaccard threshold sweep
# ---------------------------------------------------------------------------

@query(
    "jsonld_extract",
    """
    WITH page AS (
      SELECT doc_id,
             '<html><head><script type="application/ld+json">'
             || '{"@type":"Article","headline":"Doc '
             || CAST(doc_id AS VARCHAR)
             || '","wordCount":' || CAST(len(string_split(text, ' '))
                                         AS VARCHAR)
             || ',"author":{"name":"host' || CAST(doc_id % 97 AS VARCHAR)
             || '"}}</script></head><body></body></html>' AS html
      FROM documents),
    j AS (
      SELECT doc_id,
             regexp_extract(html,
               '<script type="application/ld\\+json">(.*?)</script>', 1)
               AS payload
      FROM page)
    SELECT doc_id,
           json_extract_string(payload, '$."@type"') AS jsonld_type,
           json_extract_string(payload, '$.headline') AS headline,
           CAST(json_extract(payload, '$.wordCount') AS BIGINT)
             AS word_count,
           json_extract_string(payload, '$.author.name') AS author
    FROM j
    """,
)
def jsonld_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema.org JSON-LD extraction: pull the ld+json <script> block
    with one regexp, then JSON-path the typed fields (get_json_object
    — JVM codegen, the structured-data sibling of the DOM text path;
    at 10^12 pages this is how article metadata, ratings, and product
    info are mined without a DOM parse). Shuffle-free scan->project."""
    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">'
              '{"@type":"Article","headline":"Doc '),
        F.col("doc_id").cast("string"),
        F.lit('","wordCount":'),
        F.size(F.split(F.col("text"), " ")).cast("string"),
        F.lit(',"author":{"name":"host'),
        (F.col("doc_id") % 97).cast("string"),
        F.lit('"}}</script></head><body></body></html>'),
    )
    payload = F.regexp_extract(
        html, '<script type="application/ld\\+json">(.*?)</script>', 1
    )
    return d.select(
        "doc_id",
        F.get_json_object(payload, "$['@type']").alias("jsonld_type"),
        F.get_json_object(payload, "$.headline").alias("headline"),
        F.get_json_object(payload, "$.wordCount").cast("bigint")
        .alias("word_count"),
        F.get_json_object(payload, "$.author.name").alias("author"),
    )


@query(
    "cdc_crawl_reuse",
    f"""
    WITH {_DUCK_CDC},
    hist AS (
      SELECT DISTINCT chunk_hash FROM chunks WHERE doc_id % 10 <> 0),
    inc AS (SELECT * FROM chunks WHERE doc_id % 10 = 0),
    per AS (
      SELECT inc.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(COUNT(hist.chunk_hash) AS BIGINT) AS n_reused
      FROM inc LEFT JOIN hist ON inc.chunk_hash = hist.chunk_hash
      GROUP BY inc.doc_id)
    SELECT doc_id, n_chunks, n_reused,
           CAST((1000 * n_reused) // n_chunks AS BIGINT) AS reuse_permille
    FROM per
    """,
)
def cdc_crawl_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-crawl byte reuse via CDC chunk hashes: docs on the
    doc_id % 10 == 0 residue play the incoming crawl increment, the
    rest the historical index; each new doc reports how many of its
    chunks already exist in history (the CDC payoff: re-crawled pages
    with small edits reuse almost all chunks, so storage/processing
    cost scales with the DELTA, not the crawl). The history side is
    touched only through its distinct chunk-hash index — the same
    increment-scaling contract as incremental_minhash_pairs."""
    from ocr_spark.operators.dedup import cdc_chunks
    from ocr_spark.operators.training import floor_div

    # the CDC chunking (rolling-hash substring pass over the corpus)
    # feeds BOTH the history index and the increment — staged once (r5)
    ch = stage(cdc_chunks(load_table(spark, sf_dir, "documents")))
    hist = (
        ch.where(F.col("doc_id") % 10 != 0)
        .select("chunk_hash").distinct()
        .withColumn("seen", F.lit(1))
    )
    inc = ch.where(F.col("doc_id") % 10 == 0)
    per = (
        inc.join(hist, "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce("seen", F.lit(0))).alias("n_reused"),
        )
    )
    return per.select(
        "doc_id", "n_chunks", "n_reused",
        floor_div(1000 * F.col("n_reused"), F.col("n_chunks"))
        .alias("reuse_permille"),
    )


@query(
    "jaccard_threshold_histogram",
    f"""
    WITH {_DUCK_SHINGLES}
    SELECT bucket_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM (
      SELECT (100 * len(list_intersect(a.hs, b.hs)))
             // (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
             // 5 * 5 AS bucket_pct
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.hs, b.hs)) >= 1)
    GROUP BY bucket_pct
    """,
)
def jaccard_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning data: the Jaccard distribution of all
    shingle-sharing pairs in 5%-buckets (integer floor; pairs sharing
    nothing are excluded — they are the ~n^2 mass no system
    enumerates). The shipped plan enumerates candidates through the
    shingle inverted index (only pairs with >= 1 shared shingle ever
    exist as rows — worst case sum of df^2 over shingles, the standard
    similarity-join cost), then one exact verify per distinct pair;
    the oracle is the all-pairs form, DuckDB-only."""
    from ocr_spark.operators.dedup import (
        _posting_pairs,
        _sketch_pairs,
        shingle_sketch,
    )
    from ocr_spark.operators.training import floor_div

    sketch = shingle_sketch(load_table(spark, sf_dir, "documents"))
    cand = _posting_pairs(sketch.select("id", F.explode("hs").alias("h")))
    inter = F.size(F.array_intersect("a.hs", "b.hs")).cast("long")
    uni = (F.size("a.hs") + F.size("b.hs")).cast("long") - inter
    pairs = _sketch_pairs(cand, sketch).select(
        (floor_div(floor_div(100 * inter, uni), F.lit(5)) * 5).alias("bucket_pct")
    )
    return pairs.groupBy("bucket_pct").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# quality calibration / decayed reputation / props schema drift
# ---------------------------------------------------------------------------

@query(
    "quality_calibration_deciles",
    f"""
    WITH q AS ({ORACLE["doc_quality_score"]}),
    k AS (SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper
          FROM documents GROUP BY md5(text)),
    flags AS (
      SELECT q.doc_id,
             CAST(LEAST(FLOOR(q.quality * 10), 9) AS BIGINT) AS decile,
             CASE WHEN d.doc_id <> k.keeper THEN 1 ELSE 0 END AS is_dup
      FROM q JOIN documents d ON q.doc_id = d.doc_id
           JOIN k ON md5(d.text) = k.text_hash)
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dups,
           CAST((1000 * SUM(is_dup)) // COUNT(*) AS BIGINT) AS dup_permille
    FROM flags GROUP BY decile
    """,
)
def quality_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-calibration diagnostic: exact-duplicate rate per quality
    decile — the cross-check every curation pipeline runs before
    trusting a score as a sampling weight (if low-quality buckets
    aren't dup-enriched, the score isn't measuring what you think).
    Composes the quality heuristic with the exact-dedup keeper rule;
    two content-hash/doc_id joins + one 10-key aggregate."""
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    q = QUERIES["doc_quality_score"](spark, sf_dir)
    keep = d.groupBy(F.md5(F.col("text")).alias("text_hash")).agg(
        F.min("doc_id").alias("keeper")
    )
    flags = (
        q.join(d.select("doc_id", F.md5(F.col("text")).alias("text_hash")),
               "doc_id")
        .join(keep, "text_hash")
        .select(
            F.least(F.floor(F.col("quality") * 10), F.lit(9))
            .cast("bigint").alias("decile"),
            F.when(F.col("doc_id") != F.col("keeper"), 1)
            .otherwise(0).alias("is_dup"),
        )
    )
    agg = flags.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("is_dup").alias("n_dups")
    )
    return agg.select(
        "decile", "n_docs", "n_dups",
        floor_div(1000 * F.col("n_dups"), F.col("n_docs"))
        .alias("dup_permille"),
    )


@query(
    "user_decayed_errors",
    """
    WITH hours AS (
      SELECT user_id, CAST(date_part('hour', ts) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS err
      FROM events WHERE event_type = 'error'
      GROUP BY user_id, date_part('hour', ts)),
    users AS (
      SELECT user_id, CAST(SUM(err) AS BIGINT) AS total_errors
      FROM hours GROUP BY user_id),
    grid AS (
      SELECT user_id, g
      FROM users CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS g)),
    cell AS (
      SELECT grid.user_id, g,
             COALESCE(err, CAST(0 AS BIGINT)) AS err
      FROM grid LEFT JOIN hours
           ON hours.user_id = grid.user_id AND hours.h = g),
    dense AS (
      SELECT user_id, list(err ORDER BY g) AS seq FROM cell GROUP BY user_id)
    SELECT u.user_id, u.total_errors,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), seq),
                            (acc, e) -> acc // 2 + e) AS BIGINT)
             AS decayed_rep
    FROM dense JOIN users u USING (user_id)
    """,
)
def user_decayed_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed error reputation: per user, fold hourly error
    counts through rep = floor(rep/2) + err_h over the day — the
    integer-exact form of exponential decay (no exp/pow, so the
    recurrence is bit-identical everywhere), the standard primitive
    for crawl-host backoff and abuse scoring. The recurrence is
    sequential in TIME but bounded (24 steps), so it runs as a
    per-key fold over a dense 24-element array — one (user, hour)
    aggregate, one map rebuild, zero unbounded iteration."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    hours = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", F.hour("ts").cast("long").alias("h"))
        .agg(F.count(F.lit(1)).alias("err"))
    )
    dense = hours.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("h", "err"))).alias("m"),
        F.sum("err").alias("total_errors"),
    ).select(
        "user_id", "total_errors",
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(23).cast("long")),
            lambda g: F.coalesce(F.element_at(F.col("m"), g), F.lit(0).cast("long")),
        ).alias("seq"),
    )
    rep = F.aggregate(
        F.col("seq"),
        F.lit(0).cast("long"),
        lambda acc, e: F.shiftright(acc, 1) + e,
    )
    return dense.select("user_id", "total_errors", rep.alias("decayed_rep"))


@query(
    "props_schema_drift",
    """
    WITH seeded AS (
      SELECT event_id,
             CASE WHEN event_id % 3 = 0
                  THEN replace(props, '}', ', "v": 2}') ELSE props END
               AS props,
             CASE WHEN event_id % 2 = 0 THEN 'early' ELSE 'late' END
               AS half
      FROM events),
    keys AS (
      SELECT half, unnest(json_keys(props)) AS key FROM seeded),
    per AS (
      SELECT key,
             CAST(COUNT(*) FILTER (half = 'early') AS BIGINT) AS n_early,
             CAST(COUNT(*) FILTER (half = 'late') AS BIGINT) AS n_late
      FROM keys GROUP BY key)
    SELECT key, n_early, n_late,
           CAST(CAST((1000 * (n_late - n_early))
                - (((1000 * (n_late - n_early)) % (n_early + n_late))
                   + (n_early + n_late)) % (n_early + n_late) AS BIGINT)
             / (n_early + n_late) AS BIGINT) AS drift_permille
    FROM per
    """,
)
def props_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema monitoring: per JSON key, presence counts
    in two crawl halves and the signed drift permille — the alert that
    an upstream producer added/dropped a field (a 'v' key is seeded on
    the event_id % 3 residue so drift is nonzero). json_object_keys +
    explode is codegen; one key-keyed aggregate."""
    from ocr_spark.operators.training import floor_div

    ev = load_table(spark, sf_dir, "events")
    seeded = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0,
            F.regexp_replace("props", "\\}", ', "v": 2}'),
        ).otherwise(F.col("props")).alias("props"),
        F.when(F.col("event_id") % 2 == 0, F.lit("early"))
        .otherwise(F.lit("late")).alias("half"),
    )
    keys = seeded.select(
        "half", F.explode(F.json_object_keys("props")).alias("key")
    )
    per = keys.groupBy("key").agg(
        F.sum(F.when(F.col("half") == "early", 1).otherwise(0))
        .alias("n_early"),
        F.sum(F.when(F.col("half") == "late", 1).otherwise(0))
        .alias("n_late"),
    )
    return per.select(
        "key", "n_early", "n_late",
        floor_div(
            1000 * (F.col("n_late") - F.col("n_early")),
            F.col("n_early") + F.col("n_late"),
        ).alias("drift_permille"),
    )


# ---------------------------------------------------------------------------
# search snippets / postings stats
# ---------------------------------------------------------------------------

@query(
    "search_snippets",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (
      SELECT doc_id, unnest(t) AS w,
             unnest(generate_series(1, len(t))) AS i, t
      FROM toks),
    hits AS (
      SELECT doc_id, MIN(i) AS first_pos FROM pos
      WHERE w = '{_PHRASE[0]}' AND i + 1 <= len(t)
            AND t[i + 1] = '{_PHRASE[1]}'
      GROUP BY doc_id)
    SELECT h.doc_id, CAST(first_pos AS BIGINT) AS first_pos,
           array_to_string(
             t[GREATEST(first_pos - 3, 1):LEAST(first_pos + 4, len(t))],
             ' ') AS snippet
    FROM hits h JOIN toks USING (doc_id)
    """,
)
def search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-biased snippets: the +-3-token window around each doc's
    first match of the phrase ("{0} {1}") — the result-page surface on
    top of phrase_match_positions. The slice is a single-reference
    array op (no per-position explode for the snippet itself); only
    matching docs carry any extra bytes.""".format(*_PHRASE)
    from ocr_spark.operators.dedup import tokens

    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "w")
    p1 = pos.where(F.col("w") == _PHRASE[0]).select("doc_id", "i")
    p2 = pos.where(F.col("w") == _PHRASE[1]).select(
        "doc_id", (F.col("i") - 1).alias("i")
    )
    hits = (
        p1.join(p2, ["doc_id", "i"])
        .groupBy("doc_id")
        .agg(F.min("i").cast("bigint").alias("first_pos"))
    )
    t = tokens(F.col("text"))
    start = F.greatest(F.col("first_pos") - 3, F.lit(1))
    length = (
        F.least(F.col("first_pos") + 4, F.size(t).cast("long")) - start + 1
    )
    return hits.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", "first_pos",
        F.array_join(
            F.slice(t, start.cast("int"), length.cast("int")), " "
        ).alias("snippet"),
    )


@query(
    "postings_stats",
    """
    WITH tf AS (
      SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY doc_id, w)
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf,
           CAST(MAX(tf) AS BIGINT) AS max_tf,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM tf GROUP BY term
    """,
)
def postings_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build telemetry per term: document frequency,
    collection frequency, max in-doc tf (the BM25 upper-bound used by
    WAND/MaxScore pruning), and the first posting's doc id — the
    dictionary table an index compaction job emits. Two partial-
    aggregated shuffles on uniform keys; vocabulary-sized output."""
    from ocr_spark.operators.dedup import tokens

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.max("tf").alias("max_tf"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# two-hop reachability / inter-arrival histogram
# ---------------------------------------------------------------------------

@query(
    "host_two_hop_reach",
    f"""
    WITH {_duck_host_graph()},
    two_hop AS (
      SELECT a.src, b.dst FROM edges a JOIN edges b ON a.dst = b.src
      WHERE b.dst <> a.src),
    reach AS (
      SELECT src, dst FROM edges UNION SELECT src, dst FROM two_hop)
    SELECT src AS host, CAST(COUNT(*) AS BIGINT) AS n_reach_2hop
    FROM reach GROUP BY src
    """,
)
def host_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reachability per host (|N(v) ∪ N²(v)|, excluding v) —
    the crawl-frontier expansion estimate and the influence feature
    PageRank's stationary view misses. One edges self-join on the mid
    key (uniform), a union-distinct, one count. At web scale the
    self-join is the standard triangle/path-join cost; df-cap hub
    mids if a recall-bounded estimate suffices."""
    # edges are staged: they feed both self-join sides and the union
    _, edges = _host_graph(spark, sf_dir)
    two_hop = (
        edges.alias("a")
        .join(
            edges.alias("b"),
            F.col("a.dst") == F.col("b.src"),
        )
        .where(F.col("b.dst") != F.col("a.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
    )
    reach = edges.union(two_hop).distinct()
    return reach.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("n_reach_2hop")
    )


@query(
    "interarrival_histogram",
    """
    WITH gaps AS (
      SELECT event_type,
             CAST(date_diff('second',
                  lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id),
                  ts) AS BIGINT) AS gap_s
      FROM events),
    b AS (
      SELECT event_type,
             CASE WHEN gap_s <= 0 THEN 0
                  ELSE length(bin(gap_s)) END AS log2_bucket
      FROM gaps WHERE gap_s IS NOT NULL)
    SELECT event_type, CAST(log2_bucket AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps
    FROM b GROUP BY event_type, log2_bucket
    """,
)
def interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type in log2 buckets
    (bucket = bit-length of the gap seconds — the integer-exact
    floor(log2)+1, no log()): the burstiness profile that drives crawl
    politeness and anomaly baselines. One lag window per type
    (uniform keys) and a tiny aggregate."""
    _utc(spark)
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).cast("long").alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    bucket = F.when(F.col("gap_s") <= 0, F.lit(0)).otherwise(
        F.length(F.bin(F.col("gap_s")))
    )
    return gaps.select(
        "event_type", bucket.cast("bigint").alias("log2_bucket")
    ).groupBy("event_type", "log2_bucket").agg(
        F.count(F.lit(1)).alias("n_gaps")
    )


# ---------------------------------------------------------------------------
# triangle counting / deterministic epoch shuffle
# ---------------------------------------------------------------------------

@query(
    "host_triangle_counts",
    f"""
    WITH {_duck_host_graph("dedges", ring=True)},
    {_duck_undirected()},
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
      GROUP BY v),
    ori AS (
      SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS lo,
             CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS hi
      FROM und JOIN deg da ON da.v = a JOIN deg db ON db.v = b),
    wedge AS (
      SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
      FROM ori e1 JOIN ori e2 ON e1.hi = e2.lo),
    tri AS (
      SELECT u, v, w FROM wedge
      WHERE EXISTS (SELECT 1 FROM ori o
                    WHERE (o.lo = u AND o.hi = w)
                       OR (o.lo = w AND o.hi = u))),
    pervertex AS (
      SELECT x AS host, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT u AS x FROM tri
        UNION ALL SELECT v AS x FROM tri
        UNION ALL SELECT w AS x FROM tri)
      GROUP BY x)
    SELECT host, n_triangles FROM pervertex
    """,
)
def host_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle participation on the undirected host graph —
    the local-clustering signal that separates organic communities
    (triangle-rich) from spam link rings (stars and chains). Uses the
    degree-orientation algorithm (Suri-Vassilvitskii MapReduce
    triangles): orient each edge from lower to higher (degree, id),
    build wedges only at each edge's LOW endpoint (so a hub of degree
    d contributes O(d_low^2), not O(d^2), wedges), and close them
    with a semi-join back to the oriented edge set — each triangle
    counted exactly once, shuffles keyed on uniform vertex/edge
    hashes. (The pure affine-map graph is triangle-free, so the edge
    synthesis here adds the +1/+2 ring edges, giving every host a
    guaranteed local triangle plus affine chords.)"""
    # staged (r5): und feeds deg + ori; ori feeds the wedge self-join
    # (both sides) + the closing set; tri fans into three unions — the
    # un-staged plan carried 90 corpus scans with zero runtime reuse
    _, dedges = _host_graph(spark, sf_dir, ring=True)
    und = _undirected(dedges)
    deg = (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ori = stage(
        und.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.when(
                F.struct(F.col("da"), F.col("a"))
                < F.struct(F.col("db"), F.col("b")),
                F.col("a"),
            ).otherwise(F.col("b")).alias("lo"),
            F.when(
                F.struct(F.col("da"), F.col("a"))
                < F.struct(F.col("db"), F.col("b")),
                F.col("b"),
            ).otherwise(F.col("a")).alias("hi"),
        )
    )
    wedge = (
        ori.alias("e1")
        .join(ori.alias("e2"), F.col("e1.hi") == F.col("e2.lo"))
        .select(
            F.col("e1.lo").alias("u"),
            F.col("e1.hi").alias("v"),
            F.col("e2.hi").alias("w"),
        )
    )
    closing = ori.select(
        F.least("lo", "hi").alias("cu"), F.greatest("lo", "hi").alias("cw")
    ).distinct()
    tri = stage(wedge.join(
        closing,
        (F.least("u", "w") == F.col("cu"))
        & (F.greatest("u", "w") == F.col("cw")),
        "left_semi",
    ))
    per = (
        tri.select(F.col("u").alias("host"))
        .union(tri.select(F.col("v").alias("host")))
        .union(tri.select(F.col("w").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per


@query(
    "epoch_shuffle_positions",
    f"""
    WITH keyed AS (
      SELECT doc_id, e AS epoch,
             {_duck_md5hash("CAST(doc_id AS VARCHAR) || ':' || CAST(e AS VARCHAR)")}
               AS k
      FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS e)),
    pos AS (
      SELECT doc_id, epoch,
             CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k, doc_id)
                  AS BIGINT) AS position
      FROM keyed)
    SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, position FROM pos
    """,
)
def epoch_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training order: each epoch's permutation
    is the sort order of md5(doc_id:epoch) — reproducible across
    restarts/partitionings with NO stored shuffle state (the mid-epoch
    resume property; epoch seeds decorrelate orders). The global rank
    uses the two-tier form at scale (bucket counts -> tiny offset
    window -> within-bucket row_number, as global_rank_doc_length);
    at driver SFs the direct window is used for the oracle's benefit —
    hash keys are uniform so the two-tier buckets are balanced."""
    from ocr_spark.operators.dedup import fast_hash
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select("doc_id").crossJoin(
        d.sparkSession.range(2).select(F.col("id").alias("epoch"))
    ).select(
        "doc_id", "epoch",
        fast_hash(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"),
                F.col("epoch").cast("string"),
            )
        ).alias("k"),
    )
    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    return keyed.select(
        "doc_id", F.col("epoch").cast("bigint").alias("epoch"),
        F.row_number().over(w).cast("bigint").alias("position"),
    )


# ---------------------------------------------------------------------------
# minhash estimator calibration / k-core peeling
# ---------------------------------------------------------------------------

@query(
    "minhash_estimate_error",
    f"""
    WITH {_DUCK_SHINGLES},
    sig AS (
      SELECT doc_id, hs,
             list_transform(generate_series(0, 15), j ->
               list_aggregate(list_transform(hs,
                 h -> ((2*j+1)*h + 7919*j) % 1000000007), 'min')) AS sig
      FROM sh WHERE len(hs) > 0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST((1000 * len(list_intersect(a.hs, b.hs)))
                  // (len(a.hs) + len(b.hs)
                      - len(list_intersect(a.hs, b.hs)))
                  AS BIGINT) AS jacc_permille,
             CAST(len(list_filter(generate_series(1, 16),
                                  i -> a.sig[i] = b.sig[i]))
                  AS BIGINT) AS est_sixteenths
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE 10 * len(list_intersect(a.hs, b.hs))
            >= 3 * (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))))
    SELECT doc_a, doc_b, jacc_permille, est_sixteenths FROM pairs
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration QA: for every pair with exact Jaccard >= 0.3,
    the 16-permutation MinHash agreement count next to the exact
    similarity — the table that tells you whether your band/row LSH
    config has the recall you think at a given threshold (E[est/16] =
    J; deviations here ARE the sketch's sampling error, fully
    deterministic given the permutation family). Shipped plan: prefix-
    filtered candidate join (exact recall at t=0.3 by the prefix
    lemma, prefix length floor(0.7*|A|)+1 on BOTH sides), signature
    agreement as 16 compares of the two sketches' minima; the all-pairs
    form exists only in the DuckDB oracle."""
    from ocr_spark.operators.dedup import (
        MINHASH_K,
        _posting_pairs,
        _prefix_postings,
        _sketch_pairs,
        shingle_sketch,
    )
    from ocr_spark.operators.training import floor_div

    sketch = shingle_sketch(load_table(spark, sf_dir, "documents"))
    cand = _posting_pairs(_prefix_postings(sketch, 7, 10))
    inter = F.size(F.array_intersect("a.hs", "b.hs")).cast("long")
    uni = (F.size("a.hs") + F.size("b.hs")).cast("long") - inter
    est = sum(
        (F.col(f"a.s{j}") == F.col(f"b.s{j}")).cast("long") for j in range(MINHASH_K)
    )
    return (
        _sketch_pairs(cand, sketch)
        .where(10 * inter >= 3 * uni)
        .select(
            "doc_a",
            "doc_b",
            floor_div(1000 * inter, uni).alias("jacc_permille"),
            est.alias("est_sixteenths"),
        )
    )


def _kcore_oracle(k: int = 3, rounds: int = 3) -> str:
    parts = [
        _duck_host_graph("dedges", ring=True),
        _duck_undirected("e0"),
        "v0 AS (SELECT h FROM hosts)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""deg{i} AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS v FROM e{i - 1} UNION ALL SELECT b AS v FROM e{i - 1})
      GROUP BY v)"""
        )
        parts.append(
            f"""v{i} AS (
      SELECT v AS h FROM deg{i} WHERE d >= {k})"""
        )
        parts.append(
            f"""e{i} AS (
      SELECT a, b FROM e{i - 1}
      WHERE a IN (SELECT h FROM v{i}) AND b IN (SELECT h FROM v{i}))"""
        )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT hosts.h AS host,
           CAST(CASE WHEN v{rounds}.h IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS in_core
    FROM hosts LEFT JOIN v{rounds} ON hosts.h = v{rounds}.h"""
    )


@query("kcore_membership", _kcore_oracle())
def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 rounds of k-core peeling (k=3) on the undirected host graph:
    repeatedly drop vertices with degree < k and their edges — the
    density skeleton that separates tight mirror/community cores from
    tendrils. Bounded-round form (membership after round R is a
    monotone superset of the true core; R rounds = R joins, no
    unbounded fixpoint loop — the batch-friendly contract). Per round:
    one degree aggregate + two semi-joins, all uniform host keys."""
    hosts, dedges = _host_graph(spark, sf_dir, ring=True)
    # staged per round (r5): edges re-enters its own peeling
    # derivation (degree + two semi-joins reference it per round) —
    # the un-staged plan carried 101 corpus scans with zero runtime
    # reuse; staged, each round is one degree agg + two semi-joins
    # over the previous round's materialized edge set
    edges = _undirected(dedges)
    live = hosts
    for _ in range(3):
        deg = (
            edges.select(F.col("a").alias("v"))
            .union(edges.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        live = stage(deg.where(F.col("d") >= 3).select(F.col("v").alias("h")))
        edges = stage(edges.join(
            live.select(F.col("h").alias("a")), "a", "left_semi"
        ).join(live.select(F.col("h").alias("b")), "b", "left_semi"))
    return hosts.join(
        live.withColumn("flag", F.lit(1)), "h", "left"
    ).select(
        F.col("h").alias("host"),
        F.coalesce("flag", F.lit(0)).cast("bigint").alias("in_core"),
    )


# ---------------------------------------------------------------------------
# reciprocal-rank fusion / duplicate-group taxonomy
# ---------------------------------------------------------------------------

@query(
    "rrf_fusion_top10",
    f"""
    WITH tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY doc_id, w),
    ra AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS BIGINT)
               AS rank_a
      FROM tf WHERE w = '{_PHRASE[0]}'),
    rb AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS BIGINT)
               AS rank_b
      FROM tf WHERE w = '{_PHRASE[1]}'),
    fused AS (
      SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
             COALESCE(rank_a, 0) AS rank_a,
             COALESCE(rank_b, 0) AS rank_b,
             CAST(CASE WHEN rank_a IS NULL THEN 0
                       ELSE 1000000 // (60 + rank_a) END
                  + CASE WHEN rank_b IS NULL THEN 0
                         ELSE 1000000 // (60 + rank_b) END AS BIGINT)
               AS rrf_score
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
    SELECT doc_id, rank_a, rank_b, rrf_score FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def rrf_fusion_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two term
    rankings into one top-10 — the standard way to merge BM25 with a
    second retriever (here: per-term tf rankings for '{0}' and '{1}')
    without score calibration. The 1/(60+rank) weights are integer-
    scaled (floor(1e6/(60+r)) — exact, no float); absent ranks
    contribute 0. Per-list ranks use the two-tier bucket rank
    (global_rank_doc_length form): posting lists are term-sized but
    unbounded at web scale — a head term's list IS corpus-sized, so
    the rank never rides a partitionless window.""".format(*_PHRASE)
    from ocr_spark.operators.analytics import two_tier_rank
    from ocr_spark.operators.dedup import tokens
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )

    def ranking(term: str, out: str) -> DataFrame:
        lst = tf.where(F.col("w") == term).select("doc_id", "tf")
        return two_tier_rank(
            lst, "tf", ["doc_id"], desc=True, out=out
        ).select("doc_id", F.col(out).cast("long").alias(out))

    ra, rb = ranking(_PHRASE[0], "rank_a"), ranking(_PHRASE[1], "rank_b")
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("rank_a", F.lit(0)).alias("rank_a"),
        F.coalesce("rank_b", F.lit(0)).alias("rank_b"),
        (
            F.when(
                F.col("rank_a").isNull(), F.lit(0).cast("long")
            ).otherwise(floor_div(F.lit(1000000), 60 + F.col("rank_a")))
            + F.when(
                F.col("rank_b").isNull(), F.lit(0).cast("long")
            ).otherwise(floor_div(F.lit(1000000), 60 + F.col("rank_b")))
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(10)


@query(
    "dup_group_taxonomy",
    """
    WITH g AS (
      SELECT md5(text) AS text_hash,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT doc_id % 97) AS BIGINT) AS n_hosts
      FROM documents GROUP BY md5(text)),
    cls AS (
      SELECT CASE WHEN n_docs = 1 THEN 'unique'
                  WHEN n_hosts = 1 THEN 'intra_host'
                  ELSE 'cross_host' END AS dup_class,
             n_docs
      FROM g)
    SELECT dup_class, CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs
    FROM cls GROUP BY dup_class
    """,
)
def dup_group_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group taxonomy: every exact-content group classified
    as unique / intra-host (template reuse, CMS artifacts) / cross-host
    (mirrors, scrapers) — the split that decides REMEDY (template
    strip vs canonical-host election vs plain dedup). One content-hash
    aggregate carrying a distinct-host count; three-row output."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy(F.md5(F.col("text")).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.col("doc_id") % 97).alias("n_hosts"),
    )
    cls = g.select(
        F.when(F.col("n_docs") == 1, F.lit("unique"))
        .when(F.col("n_hosts") == 1, F.lit("intra_host"))
        .otherwise(F.lit("cross_host")).alias("dup_class"),
        "n_docs",
    )
    return cls.groupBy("dup_class").agg(
        F.count(F.lit(1)).alias("n_groups"), F.sum("n_docs").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# z-order layout / postings compression estimate
# ---------------------------------------------------------------------------

def _zorder_sql(a: str, b: str, bits: int = 7) -> str:
    """Bit-interleave two small ints (a -> even bits, b -> odd bits) as
    plain SQL arithmetic — identical on both engines (>> and & via
    // and %, avoiding operator-precedence differences)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a}) // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({b}) // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@query(
    "zorder_file_ranges",
    f"""
    WITH keyed AS (
      SELECT doc_id, doc_id % 97 AS host,
             LEAST(n_chars // 64, 127) AS len_bucket
      FROM documents),
    z AS (
      SELECT doc_id, host, len_bucket,
             CAST({_zorder_sql("host", "LEAST(n_chars // 64, 127)")}
                  AS BIGINT) AS zkey
      FROM documents JOIN keyed USING (doc_id)),
    files AS (SELECT *, zkey // 512 AS file_id FROM z)
    SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(host) AS BIGINT) AS host_min,
           CAST(MAX(host) AS BIGINT) AS host_max,
           CAST(MIN(len_bucket) AS BIGINT) AS len_min,
           CAST(MAX(len_bucket) AS BIGINT) AS len_max
    FROM files GROUP BY file_id
    """,
)
def zorder_file_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) storage layout: interleave the bits of (host,
    length-bucket) into one sort key, cut files every 512 key values,
    and report each file's min/max per dimension — the column ranges
    Iceberg/Parquet footers store, and the reason a z-ordered table
    prunes files for predicates on EITHER column (both ranges stay
    tight per file, where a single-column sort leaves the other
    column's range full-width). The interleave is fixed codegen
    arithmetic; file stats are one aggregate on the key prefix."""
    d = load_table(spark, sf_dir, "documents")
    host = F.col("doc_id") % 97
    lb = F.least(F.floor(F.col("n_chars") / 64).cast("long"), F.lit(127))
    z = F.lit(0)
    for i in range(7):
        z = z + (F.floor(host / (1 << i)).cast("long") % 2) * (1 << (2 * i))
        z = z + (F.floor(lb / (1 << i)).cast("long") % 2) * (1 << (2 * i + 1))
    keyed = d.select(
        host.alias("host"), lb.alias("len_bucket"),
        F.floor(z / 512).cast("long").alias("file_id"),
    )
    return keyed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("host").cast("bigint").alias("host_min"),
        F.max("host").cast("bigint").alias("host_max"),
        F.min("len_bucket").alias("len_min"),
        F.max("len_bucket").alias("len_max"),
    )


@query(
    "postings_compression_estimate",
    """
    WITH tf AS (
      SELECT doc_id, w AS term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
      GROUP BY doc_id, w),
    gaps AS (
      SELECT term,
             doc_id - COALESCE(lag(doc_id) OVER (PARTITION BY term
                                                 ORDER BY doc_id), -1)
               AS gap
      FROM tf),
    enc AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM((length(bin(gap)) + 6) // 7) AS BIGINT)
               AS varint_bytes
      FROM gaps GROUP BY term)
    SELECT term, df, CAST(8 * df AS BIGINT) AS raw_bytes, varint_bytes,
           CAST((1000 * varint_bytes) // (8 * df) AS BIGINT)
             AS ratio_permille
    FROM enc
    """,
)
def postings_compression_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index sizing: per term, the varint-encoded size of the delta-
    compressed posting list (gaps between sorted doc ids, ceil(bitlen/
    7) bytes each — bitlen via length(bin()), no log) vs raw 8-byte
    ids. The d-gap estimate every index build uses to plan storage;
    dense terms compress ~8x, singletons don't. One lag window per
    term (posting-list-sized partitions) + a term aggregate."""
    from pyspark.sql import Window

    from ocr_spark.operators.dedup import tokens
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("doc_id", "term")
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    gaps = tf.select(
        "term",
        (
            F.col("doc_id")
            - F.coalesce(F.lag("doc_id").over(w), F.lit(-1))
        ).alias("gap"),
    )
    enc = gaps.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum(
            floor_div(F.length(F.bin(F.col("gap"))) + 6, F.lit(7))
        ).alias("varint_bytes"),
    )
    return enc.select(
        "term", "df", (8 * F.col("df")).cast("bigint").alias("raw_bytes"),
        "varint_bytes",
        floor_div(1000 * F.col("varint_bytes"), 8 * F.col("df"))
        .alias("ratio_permille"),
    )


# ---------------------------------------------------------------------------
# canonical election / link-prediction training pairs
# ---------------------------------------------------------------------------

@query(
    "canonical_election",
    f"""
    WITH trust AS (
      SELECT host, trust FROM ({ORACLE["trustrank_hosts"]})),
    grp AS (
      SELECT a.doc_id, a.doc_id - a.doc_id % 3 AS group_id,
             a.doc_id % 97 AS host
      FROM documents a),
    scored AS (
      SELECT g.group_id, g.doc_id, t.trust,
             ROW_NUMBER() OVER (PARTITION BY g.group_id
                                ORDER BY t.trust DESC, g.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY g.group_id) AS n
      FROM grp g JOIN trust t ON g.host = t.host)
    SELECT group_id, CAST(n AS BIGINT) AS n_members,
           doc_id AS canonical_doc, trust AS canonical_trust
    FROM scored WHERE rn = 1 AND n > 1
    """,
)
def canonical_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document election inside duplicate groups: keep the
    copy served by the most-trusted host (TrustRank score, doc_id
    tiebreak) — the mirror-resolution rule that replaces 'keep lowest
    id' when host reputation matters. Groups here are the
    deterministic doc_id//3 triples (the fixed corpus has no exact
    dups); the election dataflow — trust join + per-group argmax — is
    what a real dup-cluster table plugs into. All integer; one
    host-keyed broadcast-size join + one bounded-group window."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    trust = QUERIES["trustrank_hosts"](spark, sf_dir).select("host", "trust")
    grp = d.select(
        "doc_id",
        (F.col("doc_id") - F.col("doc_id") % 3).alias("group_id"),
        (F.col("doc_id") % 97).alias("host"),
    )
    scored = grp.join(F.broadcast(trust), "host")
    w = Window.partitionBy("group_id").orderBy(F.desc("trust"), "doc_id")
    wc = Window.partitionBy("group_id")
    return (
        scored.select(
            "group_id", "doc_id", "trust",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .where((F.col("rn") == 1) & (F.col("n") > 1))
        .select(
            "group_id", F.col("n").cast("bigint").alias("n_members"),
            F.col("doc_id").alias("canonical_doc"),
            F.col("trust").alias("canonical_trust"),
        )
    )


@query(
    "link_prediction_pairs",
    f"""
    WITH {_duck_host_graph("dedges")},
    {_duck_undirected()},
    sym AS (
      SELECT a AS u, b AS v FROM und UNION ALL SELECT b AS u, a AS v FROM und),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
    neg AS (
      SELECT LEAST(h, (h * 41 + 7) % 97) AS a,
             GREATEST(h, (h * 41 + 7) % 97) AS b
      FROM hosts
      WHERE (h * 41 + 7) % 97 <> h
        AND (h * 41 + 7) % 97 IN (SELECT h FROM hosts)),
    lab AS (
      SELECT a, b, CAST(1 AS BIGINT) AS label FROM und
      UNION
      SELECT n.a, n.b, CAST(0 AS BIGINT) AS label FROM neg n
      WHERE NOT EXISTS (SELECT 1 FROM und u
                        WHERE u.a = n.a AND u.b = n.b)),
    cn AS (
      SELECT l.a, l.b, CAST(COUNT(*) AS BIGINT) AS common_neighbors
      FROM lab l JOIN sym s1 ON s1.u = l.a JOIN sym s2 ON s2.u = l.b
           AND s1.v = s2.v
      GROUP BY l.a, l.b)
    SELECT l.a AS host_a, l.b AS host_b, l.label,
           COALESCE(cn.common_neighbors, 0) AS common_neighbors,
           da.d AS deg_a, db.d AS deg_b
    FROM lab l
         LEFT JOIN cn ON l.a = cn.a AND l.b = cn.b
         JOIN deg da ON da.u = l.a
         JOIN deg db ON db.u = l.b
    """,
)
def link_prediction_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction training set over the host graph: positive rows
    are real undirected edges, negatives are hash-derived non-edges
    (reproducible, no rand()); features are the common-neighbor count
    (the triangle-join, keyed on the shared neighbor) and endpoint
    degrees — the classical Adamic-Adar precursor features, all
    integer. The common-neighbor join is wedge-shaped (same cost class
    as triangle counting); pair labels/negatives are corpus-free
    arithmetic."""
    hosts, dedges = _host_graph(spark, sf_dir)
    # staged (r5): und feeds sym (x2), negs' anti-join, and lab; sym
    # feeds deg + both wedge sides; lab feeds cn + the output — the
    # un-staged plan carried 28 corpus scans with zero runtime reuse
    und = _undirected(dedges)
    sym = stage(und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    negs = (
        hosts.select(
            "h", ((F.col("h") * 41 + 7) % 97).alias("m")
        )
        .where(F.col("m") != F.col("h"))
        .join(hosts.select(F.col("h").alias("m")), "m")
        .select(
            F.least("h", "m").alias("a"), F.greatest("h", "m").alias("b")
        )
        .join(und, ["a", "b"], "left_anti")
        .distinct()
    )
    lab = stage(und.withColumn("label", F.lit(1).cast("long")).union(
        negs.withColumn("label", F.lit(0).cast("long"))
    ))
    cn = (
        lab.select("a", "b")
        .join(sym.select(F.col("u").alias("a"), F.col("v").alias("w1")), "a")
        .join(
            sym.select(F.col("u").alias("b"), F.col("v").alias("w1")),
            ["b", "w1"],
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    return (
        lab.join(cn, ["a", "b"], "left")
        .join(deg.select(F.col("u").alias("a"), F.col("d").alias("deg_a")), "a")
        .join(deg.select(F.col("u").alias("b"), F.col("d").alias("deg_b")), "b")
        .select(
            F.col("a").alias("host_a"), F.col("b").alias("host_b"), "label",
            F.coalesce("common_neighbors", F.lit(0)).cast("bigint")
            .alias("common_neighbors"),
            "deg_a", "deg_b",
        )
    )


# ---------------------------------------------------------------------------
# URL front-coding estimate / consistent-hash rebalance cost
# ---------------------------------------------------------------------------

@query(
    "url_front_coding_estimate",
    """
    WITH urls AS (
      SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR)
             || '.example/d' || CAST(doc_id AS VARCHAR) AS url,
             'host' || CAST(doc_id % 97 AS VARCHAR) AS shard
      FROM documents),
    ordered AS (
      SELECT url, lag(url) OVER (PARTITION BY shard ORDER BY url)
             AS prev FROM urls),
    lcp AS (
      SELECT url,
             CASE WHEN prev IS NULL THEN 0
                  ELSE len(list_filter(
                    generate_series(1, LEAST(length(url), length(prev))),
                    i -> substr(url, 1, CAST(i AS INT))
                         = substr(prev, 1, CAST(i AS INT))))
             END AS shared
      FROM ordered)
    SELECT CAST(SUM(length(url)) AS BIGINT) AS raw_bytes,
           CAST(SUM(length(url) - shared + 2) AS BIGINT) AS coded_bytes,
           CAST((1000 * SUM(length(url) - shared + 2))
                // SUM(length(url)) AS BIGINT) AS ratio_permille
    FROM lcp
    """,
)
def url_front_coding_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Front-coding size estimate for the URL table: sort URLs
    PER SHARD (shard = host), store each as (shared-prefix length
    with predecessor, suffix) — the dictionary layout crawl frontiers
    and CDX indexes use (prefix lengths are bounded <= 255, modeled
    as 2 bytes of overhead; each shard's first url restarts the
    block with a full literal, exactly the per-block restart real
    front-coded dictionaries carry). Per-shard coding is the
    production shape: the lag window partitions by host — a uniform
    shuffle key, never a single-task global sort — and at 10^12 urls
    the shard is the range-partitioner's bucket with identical
    semantics. The LCP is a bounded per-pair fold (URL-length, ~30
    steps). Output is one row: raw vs coded bytes and the permille
    ratio."""
    from pyspark.sql import Window

    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    url = doc_url()
    shard = F.concat(F.lit("host"), (F.col("doc_id") % 97).cast("string"))
    w = Window.partitionBy("shard").orderBy("url")
    ordered = d.select(url.alias("url"), shard.alias("shard")).select(
        "url", F.lag("url").over(w).alias("prev")
    )
    # per-pair LCP as a bounded SQL-lambda fold (F.substring requires
    # literal pos/len, so the lambda lives in expr)
    shared = F.when(F.col("prev").isNull(), F.lit(0).cast("long")).otherwise(
        F.expr(
            "size(filter(sequence(1, int(least(length(url), length(prev)))),"
            " i -> substring(url, 1, i) = substring(prev, 1, i)))"
        ).cast("long")
    )
    lcp = ordered.select(
        F.length("url").cast("long").alias("L"), shared.alias("shared")
    )
    agg = lcp.agg(
        F.sum("L").alias("raw_bytes"),
        F.sum(F.col("L") - F.col("shared") + 2).alias("coded_bytes"),
    )
    return agg.select(
        "raw_bytes", "coded_bytes",
        floor_div(1000 * F.col("coded_bytes"), F.col("raw_bytes"))
        .alias("ratio_permille"),
    )


@query(
    "consistent_hash_rebalance",
    f"""
    WITH assign AS (
      SELECT doc_id,
             doc_id % 16 AS mod16, doc_id % 20 AS mod20
      FROM documents),
    hrw AS (
      SELECT doc_id, n,
             {_duck_md5hash("CAST(n AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")}
               AS wgt
      FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS n)),
    hrw16 AS (
      SELECT doc_id, arg_max(n, wgt) AS node FROM hrw WHERE n < 16
      GROUP BY doc_id),
    hrw20 AS (
      SELECT doc_id, arg_max(n, wgt) AS node FROM hrw GROUP BY doc_id),
    moved AS (
      SELECT 'mod' AS scheme,
             CAST(COUNT(*) FILTER (mod16 <> mod20) AS BIGINT) AS n_moved,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM assign
      UNION ALL
      SELECT 'hrw' AS scheme,
             CAST(COUNT(*) FILTER (a.node <> b.node) AS BIGINT) AS n_moved,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM hrw16 a JOIN hrw20 b USING (doc_id))
    SELECT scheme, n_moved, n_docs,
           CAST((1000 * n_moved) // n_docs AS BIGINT) AS moved_permille
    FROM moved
    """,
)
def consistent_hash_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-rebalance cost when the fleet grows 16 -> 20 nodes, mod
    hashing vs rendezvous (HRW): mod moves ~all docs (every residue
    changes), HRW provably moves only ~4/20 (docs whose argmax lands
    on a new node) — the quantified case for consistent hashing in
    shard maps and crawl ownership. HRW is the bounded 20-row fan-out
    + max_by aggregate (no window sort); output is two rows."""
    from ocr_spark.operators.dedup import fast_hash
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    nodes = d.sparkSession.range(20).select(F.col("id").alias("n"))
    hrw = d.select("doc_id").crossJoin(F.broadcast(nodes)).select(
        "doc_id", "n",
        fast_hash(
            F.concat(
                F.col("n").cast("string"), F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("wgt"),
    )
    h16 = (
        hrw.where(F.col("n") < 16)
        .groupBy("doc_id")
        .agg(F.max_by("n", "wgt").alias("node16"))
    )
    h20 = hrw.groupBy("doc_id").agg(F.max_by("n", "wgt").alias("node20"))
    hrw_moved = (
        h16.join(h20, "doc_id")
        .agg(
            F.sum(
                F.when(F.col("node16") != F.col("node20"), 1).otherwise(0)
            ).alias("n_moved"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .withColumn("scheme", F.lit("hrw"))
    )
    mod_moved = d.agg(
        F.sum(
            F.when(F.col("doc_id") % 16 != F.col("doc_id") % 20, 1)
            .otherwise(0)
        ).alias("n_moved"),
        F.count(F.lit(1)).alias("n_docs"),
    ).withColumn("scheme", F.lit("mod"))
    both = mod_moved.unionByName(hrw_moved)
    return both.select(
        "scheme", "n_moved", "n_docs",
        floor_div(1000 * F.col("n_moved"), F.col("n_docs"))
        .alias("moved_permille"),
    )


# ---------------------------------------------------------------------------
# join-size / skew planner diagnostic
# ---------------------------------------------------------------------------

@query(
    "join_size_planner",
    """
    WITH lc AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cl
      FROM lineitem GROUP BY l_orderkey),
    oc AS (
      SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS co
      FROM orders GROUP BY o_orderkey),
    prod AS (
      SELECT lc.k, cl * co AS rows_out FROM lc JOIN oc ON lc.k = oc.k),
    tot AS (SELECT CAST(SUM(rows_out) AS BIGINT) AS total_rows FROM prod),
    top AS (
      SELECT k, rows_out,
             ROW_NUMBER() OVER (ORDER BY rows_out DESC, k) AS rn
      FROM prod)
    SELECT top.k AS join_key, CAST(rows_out AS BIGINT) AS rows_out,
           total_rows,
           CAST((1000000 * rows_out) // total_rows AS BIGINT) AS share_ppm
    FROM top CROSS JOIN tot WHERE rn <= 5
    """,
)
def join_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pre-join planning: |A ⋈ B| = sum over keys of cA*cB from
    two per-key count aggregates (never running the join), plus the
    top-5 keys by output contribution in ppm — what decides shuffle
    partition sizing and whether AQE skew-split / salting is needed
    BEFORE paying for the join. Two partial-aggregated counts, one
    key-join of count rows (key-cardinality-sized, not row-sized);
    the top-5 pick is orderBy().limit() — TakeOrderedAndProject
    (per-partition top-5, driver merge), never a key-space-wide
    partitionless window."""
    from ocr_spark.operators.training import floor_div

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lc = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cl")
    )
    oc = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("co")
    )
    prod = lc.join(oc, "k").select(
        "k", (F.col("cl") * F.col("co")).alias("rows_out")
    )
    tot = prod.agg(F.sum("rows_out").alias("total_rows"))
    return (
        prod.orderBy(F.desc("rows_out"), "k").limit(5)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("join_key"), "rows_out", "total_rows",
            floor_div(1000000 * F.col("rows_out"), F.col("total_rows"))
            .alias("share_ppm"),
        )
    )


@query(
    "embedding_drift_by_dim",
    """
    WITH q AS (
      SELECT vec_id,
             CASE WHEN vec_id % 2 = 0 THEN 'early' ELSE 'late' END AS half,
             list_transform(embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings),
    ex AS (
      SELECT half, d, qv[d] AS x
      FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) g),
    m AS (
      SELECT d,
             CAST((SUM(CASE WHEN half = 'early' THEN x END)
                   - (((SUM(CASE WHEN half = 'early' THEN x END)
                        % COUNT(*) FILTER (half = 'early'))
                       + COUNT(*) FILTER (half = 'early'))
                      % COUNT(*) FILTER (half = 'early')))
                  // COUNT(*) FILTER (half = 'early') AS BIGINT) AS mean_early,
             CAST((SUM(CASE WHEN half = 'late' THEN x END)
                   - (((SUM(CASE WHEN half = 'late' THEN x END)
                        % COUNT(*) FILTER (half = 'late'))
                       + COUNT(*) FILTER (half = 'late'))
                      % COUNT(*) FILTER (half = 'late')))
                  // COUNT(*) FILTER (half = 'late') AS BIGINT) AS mean_late
      FROM ex GROUP BY d)
    SELECT d, mean_early, mean_late,
           mean_late - mean_early AS drift
    FROM m
    """,
)
def embedding_drift_by_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: per dimension, the quantized
    floor-mean over the 'early' vs 'late' corpus halves (vec_id
    parity stands in for snapshot time) and their signed delta — the
    cheapest alarm that an upstream embedding model changed or the
    corpus mixture shifted. One posexplode aggregate on 64x2 keys
    with map-side partials; integer floor means, so any partitioning
    is bit-exact."""
    from ocr_spark.operators.training import floor_div, quantize_vec

    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        F.when(F.col("vec_id") % 2 == 0, F.lit("early"))
        .otherwise(F.lit("late")).alias("half"),
        F.posexplode(quantize_vec(F.col("embedding"))).alias("d0", "x"),
    ).select("half", (F.col("d0") + 1).alias("d"), "x")
    m = ex.groupBy("d").agg(
        floor_div(
            F.sum(F.when(F.col("half") == "early", F.col("x"))),
            F.sum(F.when(F.col("half") == "early", 1).otherwise(0)),
        ).alias("mean_early"),
        floor_div(
            F.sum(F.when(F.col("half") == "late", F.col("x"))),
            F.sum(F.when(F.col("half") == "late", 1).otherwise(0)),
        ).alias("mean_late"),
    )
    return m.select(
        "d", "mean_early", "mean_late",
        (F.col("mean_late") - F.col("mean_early")).alias("drift"),
    )


@query(
    "late_data_accounting",
    f"""
    WITH arr AS (
      SELECT event_id, ts,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win,
             MAX(ts) OVER (
               ORDER BY event_id
                 + {_duck_md5hash("CAST(event_id AS VARCHAR)")} % 60 - 30,
               event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS frontier
      FROM events),
    flagged AS (
      SELECT win,
             CASE WHEN frontier IS NOT NULL
                       AND ts < frontier - INTERVAL 2 HOUR
                  THEN 1 ELSE 0 END AS is_late
      FROM arr)
    SELECT win, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_late) AS BIGINT) AS n_late
    FROM flagged GROUP BY win
    """,
)
def late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark accounting, batch twin of the streaming windows: an
    event is LATE if its timestamp trails the running event-time
    frontier (max ts over earlier ARRIVALS, arrival order = event_id)
    by more than the 2-hour watermark — exactly the rows
    `withWatermark('ts', '2 hours')` would drop. Per hourly window:
    total vs late counts — the data-loss audit run before choosing a
    watermark. Arrival order is event position displaced by a bounded
    hash jitter (+-30 slots, ~2h at the table's event spacing —
    the shipped tables are time-sorted, which would make lateness
    vacuous; full shuffling would make everything late); the frontier
    is a TWO-TIER running max over arrival order (the prefix-sum
    decomposition of global_rank_doc_length applied to max): rows
    bucket by coarse arrival-key range, per-bucket max-ts is a tiny
    hash aggregate, the EXCLUSIVE cross-bucket prefix max is a
    window over that ~256-row aggregate, and each row combines it
    with its within-bucket exclusive running max (window PARTITIONED
    by bucket — bounded, uniform). Bit-identical to the single
    global window (every earlier arrival is either in an earlier
    bucket or earlier in this one) with no partitionless window over
    event-scale data."""
    _utc(spark)
    from pyspark.sql import Window

    from ocr_spark.operators.dedup import fast_hash

    ev = load_table(spark, sf_dir, "events")
    a = (
        F.col("event_id")
        + fast_hash(F.col("event_id").cast("string")) % 60
        - 30
    )
    # staged once: base feeds the min/max probe AND the bucket rows
    # (an un-staged corpus upstream would scan events per consumer)
    base = stage(ev.select(
        "ts",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("win"),
        a.cast("long").alias("a"),
        "event_id",
    ))
    stats = base.agg(
        F.min("a").alias("_lo"),
        F.expr("CAST((max(a) - min(a)) DIV 256 AS BIGINT)").alias("_w"),
    )
    bk = base.crossJoin(F.broadcast(stats)).select(
        "ts", "win", "a", "event_id",
        F.expr("(a - _lo) DIV greatest(_w, 1L)").alias("bucket"),
    )
    bmax = bk.groupBy("bucket").agg(F.max("ts").alias("bts"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    prev_b = bmax.select(
        "bucket", F.max("bts").over(w_b).alias("prev_max")
    )
    w_in = Window.partitionBy("bucket").orderBy("a", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    arr = (
        bk.join(F.broadcast(prev_b), "bucket")
        .select(
            "ts", "win",
            F.greatest(
                F.max("ts").over(w_in), F.col("prev_max")
            ).alias("frontier"),
        )
    )
    flagged = arr.select(
        "win",
        F.when(
            F.col("frontier").isNotNull()
            # full-precision timestamp compare (unix_timestamp would
            # truncate to seconds and flip sub-second boundary rows
            # vs the oracle's INTERVAL arithmetic)
            & (F.col("ts") < F.col("frontier") - F.expr("INTERVAL 2 HOURS")),
            1,
        ).otherwise(0).alias("is_late"),
    )
    return flagged.groupBy("win").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("is_late").alias("n_late")
    )


# ---------------------------------------------------------------------------
# sliding windows / conversion latency quantiles
# ---------------------------------------------------------------------------

@query(
    "events_sliding_windows",
    """
    WITH ex AS (
      SELECT event_type, value, ts,
             date_trunc('hour', ts) - to_hours(off) AS win_start
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2]) AS off)),
    w AS (
      SELECT event_type,
             strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS value_cents
      FROM ex GROUP BY event_type, win_start)
    SELECT event_type, win_start, n_events, value_cents FROM w
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (3h window, 1h slide) the batch way:
    each event explodes into the 3 windows containing it (the exact
    fan-out Structured Streaming's window() performs), then one
    (type, window) aggregate. Values are summed on the integer cent
    grid so the window sums commute under any partitioning. Fan-out is
    window/slide = 3x narrow rows, pipelined in the scan stage."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    ex = ev.select(
        "event_type", "value",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("off"),
        F.date_trunc("hour", "ts").alias("h0"),
    ).select(
        "event_type", "value",
        F.date_format(
            F.col("h0") - F.make_interval(hours=F.col("off")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("win_start"),
    )
    cents = F.floor(F.col("value").cast("double") * 100 + 0.5).cast("long")
    return ex.groupBy("event_type", "win_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("value_cents"),
    )


@query(
    "conversion_latency_quantiles",
    """
    WITH s AS (
      SELECT user_id, MIN(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
      SELECT s.user_id,
             CAST(MIN(date_diff('second', signup_ts, e.ts)) AS BIGINT)
               AS latency_s
      FROM s JOIN events e ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= signup_ts
      GROUP BY s.user_id),
    ranked AS (
      SELECT latency_s,
             ROW_NUMBER() OVER (ORDER BY latency_s, user_id) AS rn,
             COUNT(*) OVER () AS n
      FROM p)
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN latency_s END)
                AS BIGINT) AS p50_latency_s,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN latency_s END)
                AS BIGINT) AS p90_latency_s
    FROM ranked
    """,
)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: per user, seconds from first signup to first
    subsequent purchase; corpus-level exact p50/p90 by rank selection
    (same order statistics as host_length_quantiles — no
    percentile_approx, no float). The latency derivation is one
    min-aggregate per side + a user-keyed join; the rank is the
    two-tier bucket form (global_rank_doc_length) — the converted-
    user table is corpus-scaled, so the order statistic never rides
    a partitionless window; the population count is a scalar
    aggregate broadcast back."""
    _utc(spark)
    from ocr_spark.operators.analytics import two_tier_rank

    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    # staged: p feeds tot + the rank
    p = stage(
        ev.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.unix_timestamp("ts") - F.unix_timestamp("signup_ts")
            ).cast("long").alias("latency_s")
        )
    )
    tot = p.agg(F.count(F.lit(1)).alias("n"))
    ranked = two_tier_rank(
        p.select("latency_s", "user_id"), "latency_s", ["user_id"], out="rn"
    ).crossJoin(F.broadcast(tot)).select("latency_s", "rn", "n")
    k50 = ((F.col("n") + 1) - ((F.col("n") + 1) % 2)) / 2
    k90 = ((9 * F.col("n") + 9) - ((9 * F.col("n") + 9) % 10)) / 10
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_converted"),
        F.max(
            F.when(F.col("rn") == k50.cast("long"), F.col("latency_s"))
        ).alias("p50_latency_s"),
        F.max(
            F.when(F.col("rn") == k90.cast("long"), F.col("latency_s"))
        ).alias("p90_latency_s"),
    )


# ---------------------------------------------------------------------------
# retention cohorts / robust host outliers
# ---------------------------------------------------------------------------

@query(
    "retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id,
             CAST(date_diff('day', TIMESTAMP '2024-01-01', MIN(ts)) // 7
                  AS BIGINT) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('day', TIMESTAMP '2024-01-01', e.ts) // 7
                  AS BIGINT) - f.cohort_week AS weeks_since
      FROM events e JOIN firsts f ON e.user_id = f.user_id),
    size_ AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY cohort_week)
    SELECT a.cohort_week, a.weeks_since,
           CAST(COUNT(*) AS BIGINT) AS n_active, s.cohort_size,
           CAST((1000 * COUNT(*)) // s.cohort_size AS BIGINT)
             AS retention_permille
    FROM activity a JOIN size_ s ON a.cohort_week = s.cohort_week
    GROUP BY a.cohort_week, a.weeks_since, s.cohort_size
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week, the
    distinct-active share per subsequent week — the standard cohort
    triangle, integer permille. Two user-keyed aggregates + one join
    on the (tiny) cohort-size table; week indexing is day-count floor
    division against a fixed epoch so both engines bucket identically
    (no timezone/week-start ambiguity)."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    epoch = F.to_timestamp(F.lit("2024-01-01"))
    week = lambda c: F.floor(F.datediff(c, epoch) / 7).cast("long")  # noqa: E731
    firsts = ev.groupBy("user_id").agg(
        week(F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id", "cohort_week",
            (week(F.col("ts")) - F.col("cohort_week")).alias("weeks_since"),
        )
        .distinct()
    )
    size = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    from ocr_spark.operators.training import floor_div

    agg = activity.groupBy("cohort_week", "weeks_since").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    return agg.join(F.broadcast(size), "cohort_week").select(
        "cohort_week", "weeks_since", "n_active", "cohort_size",
        floor_div(1000 * F.col("n_active"), F.col("cohort_size"))
        .alias("retention_permille"),
    )


@query(
    "host_count_outliers",
    """
    WITH c AS (
      SELECT doc_id % 97 AS host, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1),
    med AS (
      SELECT CAST(MAX(CASE WHEN rn = (cnt + 1) // 2 THEN n END) AS BIGINT)
               AS median_n
      FROM (SELECT n, ROW_NUMBER() OVER (ORDER BY n, host) AS rn,
                   COUNT(*) OVER () AS cnt FROM c)),
    dev AS (
      SELECT host, n, ABS(n - median_n) AS ad, median_n
      FROM c CROSS JOIN med),
    mad AS (
      SELECT CAST(MAX(CASE WHEN rn = (cnt + 1) // 2 THEN ad END) AS BIGINT)
               AS mad_n
      FROM (SELECT ad, ROW_NUMBER() OVER (ORDER BY ad, host) AS rn,
                   COUNT(*) OVER () AS cnt FROM dev))
    SELECT host, n, median_n, mad_n,
           CAST(CASE WHEN ABS(n - median_n) > 5 * GREATEST(mad_n, 1)
                THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
    FROM dev CROSS JOIN mad
    """,
)
def host_count_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust host anomaly flags: |count - median| > 5*MAD (median
    absolute deviation), both medians as exact rank-selected order
    statistics — the outlier rule that, unlike mean/stddev, a single
    crawler-trap host cannot drag (breakdown point 50%). Host-count
    table is host-cardinality-sized (10^7+ at web scale); both
    medians ride the two-tier bucket rank — no partitionless window
    over the host table — with the population count a scalar
    aggregate broadcast back; the flags are a broadcast of two
    scalars."""
    from ocr_spark.operators.analytics import two_tier_rank

    d = load_table(spark, sf_dir, "documents")
    # host counts staged once: c feeds the first median, dev, and
    # (through dev) the second median + the output — un-staged, the
    # corpus aggregate would re-execute per consumer subtree
    c = stage(d.groupBy((F.col("doc_id") % 97).alias("host")).agg(
        F.count(F.lit(1)).alias("n")
    ))

    def rank_median(df, col: str, out: str) -> DataFrame:
        tot = df.agg(F.count(F.lit(1)).alias("cnt"))
        ranked = two_tier_rank(
            df.select(col, "host"), col, ["host"], out="rn"
        ).crossJoin(F.broadcast(tot))
        k = ((F.col("cnt") + 1) - ((F.col("cnt") + 1) % 2)) / 2
        return ranked.agg(
            F.max(
                F.when(F.col("rn") == k.cast("long"), F.col(col))
            ).cast("bigint").alias(out)
        )

    med = rank_median(c, "n", "median_n")
    dev = stage(c.crossJoin(F.broadcast(med)).select(
        "host", "n", "median_n",
        F.abs(F.col("n") - F.col("median_n")).alias("ad"),
    ))
    mad = rank_median(dev, "ad", "mad_n")
    return dev.crossJoin(F.broadcast(mad)).select(
        "host", "n", "median_n", "mad_n",
        F.when(
            F.abs(F.col("n") - F.col("median_n"))
            > 5 * F.greatest(F.col("mad_n"), F.lit(1)),
            1,
        ).otherwise(0).cast("bigint").alias("is_outlier"),
    )


@query(
    "dom_template_clusters",
    f"""
    WITH esc AS (
      SELECT doc_id,
             replace(replace(replace(text, '&', '&amp;'),
                     '<', '&lt;'), '>', '&gt;') AS body
      FROM documents),
    page AS (
      SELECT doc_id,
             '<!DOCTYPE html><html><head><title>d</title>'
             || '<script>var x=1;</script></head>'
             || '<body><header><h1>gazette</h1></header>'
             || '<nav><a href="/home">home</a> <a href="/tags">tags</a>'
             || ' <a href="/rss">rss</a></nav><main><p>'
             || body
             || '</p></main><div class="promo">subscribe</div>'
             || CASE WHEN doc_id % 5 = 0
                     THEN '<aside><p>related</p></aside>' ELSE '' END
             || '<footer><p>© 2025 example — all rights reserved</p>'
             || '</footer></body></html>' AS html
      FROM esc),
    sig AS (
      SELECT doc_id,
             {_duck_md5hash(
                 "array_to_string(regexp_extract_all(html, '<([a-z]+)', 1), ',')"
             )} AS template_hash
      FROM page)
    SELECT template_hash, CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM sig GROUP BY template_hash
    """,
)
def dom_template_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection by DOM STRUCTURE: hash the page's opening-tag
    sequence (content-blind — escaped text can't leak in) and group —
    pages from the same CMS template collapse to one cluster however
    different their text, the precursor to per-template boilerplate
    rules. One regexp pass + one hash aggregate; the synthesized
    corpus yields exactly two clusters (the doc_id % 5 <aside>
    variant)."""
    from ocr_spark.operators.dedup import fast_hash
    from ocr_spark.operators.extract import html_escape_expr

    d = load_table(spark, sf_dir, "documents")
    body = html_escape_expr(F.col("text"))
    html = F.concat(
        F.lit(
            '<!DOCTYPE html><html><head><title>d</title><script>var x=1;'
            "</script></head><body><header><h1>gazette</h1></header>"
            '<nav><a href="/home">home</a> <a href="/tags">tags</a>'
            ' <a href="/rss">rss</a></nav><main><p>'
        ),
        body,
        F.lit('</p></main><div class="promo">subscribe</div>'),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit("<aside><p>related</p></aside>")
        ).otherwise(F.lit("")),
        F.lit("<footer><p>© 2025 example — all rights reserved</p></footer>"
              "</body></html>"),
    )
    pages = d.select("doc_id", html.alias("html"))
    sig = pages.select(
        "doc_id",
        fast_hash(
            F.array_join(
                F.expr("regexp_extract_all(html, '<([a-z]+)', 1)"), ","
            )
        ).alias("template_hash"),
    )
    return sig.groupBy("template_hash").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.min("doc_id").alias("example_doc"),
    )


# ---------------------------------------------------------------------------
# lang-ID confusion matrix / host type-token ratio
# ---------------------------------------------------------------------------

@query(
    "langid_confusion_matrix",
    f"""
    WITH pred AS (
      SELECT doc_id, pred_lang FROM ({_duck_lang_sql()})),
    m AS (
      SELECT d.lang AS label_lang, p.pred_lang,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM documents d JOIN pred p ON d.doc_id = p.doc_id
      GROUP BY d.lang, p.pred_lang),
    tot AS (
      SELECT label_lang, CAST(SUM(n) AS BIGINT) AS n_label
      FROM m GROUP BY label_lang)
    SELECT m.label_lang, m.pred_lang, m.n,
           CAST((1000 * m.n) // t.n_label AS BIGINT) AS rate_permille
    FROM m JOIN tot t ON m.label_lang = t.label_lang
    """,
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation for the stopword-ratio language ID: the
    (label, prediction) confusion matrix with per-label rates — the
    table that turns 'lang-id works' into which languages bleed into
    which (the diagonal is recall). Composes doc_lang_id against the
    table's label column; one (label, pred) aggregate + a label-sized
    join."""
    from ocr_spark.operators.training import floor_div

    d = load_table(spark, sf_dir, "documents")
    pred = QUERIES["doc_lang_id"](spark, sf_dir).select(
        "doc_id", "pred_lang"
    )
    m = (
        d.select("doc_id", F.col("lang").alias("label_lang"))
        .join(pred, "doc_id")
        .groupBy("label_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = m.groupBy("label_lang").agg(F.sum("n").alias("n_label"))
    return m.join(F.broadcast(tot), "label_lang").select(
        "label_lang", "pred_lang", "n",
        floor_div(1000 * F.col("n"), F.col("n_label"))
        .alias("rate_permille"),
    )
