"""Training-corpus assembly operators: sequence packing, quantized
k-means, BM25 retrieval, temperature resampling.

These are the post-filter stages of an LLM data pipeline — after
extraction/dedup/quality gates, the corpus is packed into fixed-size
training sequences, clustered for domain analysis / semantic curation,
made searchable for audits, and rebalanced across hosts.

Cross-engine determinism rules (the DuckDB oracle is compared
bit-exact at 17 significant digits):
- Integer arithmetic wherever a sum's association order is engine-
  dependent: k-means runs on components quantized to 1e-6 grid BIGINTs
  (integer sums commute; float sums do not), centroid division uses an
  explicit floor formula identical under Spark's and DuckDB's
  C-style ``%``.
- Where floats are unavoidable, only IEEE-correctly-rounded ops are
  used (+ - * / sqrt floor) in a FIXED operand order on both engines:
  BM25 uses the odds-ratio idf ``(N-df+.5)/(df+.5)`` instead of its
  log (ln is not correctly rounded and differs across libm builds),
  and temperature thresholds use sqrt (correctly rounded per IEEE 754)
  rather than pow.

Scale notes per operator are on the functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import fast_hash, tokens
from ocr_spark.sources.catalog import stage

PACK_BUDGET = 256           # tokens per packed training sequence
PACK_BUCKET = 100           # docs per prefix-sum bucket (see pack_sequences)
KM_SCALE = 1_000_000        # k-means quantization grid (1e-6)
BM25_K1 = 1.25   # exact binary double (5/4): literal parses identically
BM25_B = 0.75    # exact binary double (3/4)


def quantize_vec(col: Column) -> Column:
    """array<float> -> array<bigint> on a 1e-6 grid, round-half-up.

    floor(x*1e6 + 0.5) is plain IEEE ops — identical on Spark and
    DuckDB (engine ROUND functions disagree on .5 grid points).
    """
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * KM_SCALE + F.lit(0.5)).cast("long")
    )


def floor_div(num: Column, den: Column) -> Column:
    """Exact floor division for BIGINTs via ``(n - pmod(n, d)) / d``.

    Spark's integer ``div`` truncates toward zero and DuckDB's ``//``
    floors — they disagree on negative numerators (centroid sums go
    negative). ``((n % d) + d) % d`` is the positive remainder under
    BOTH engines' C-style ``%``, making the subtraction divide exactly.
    """
    pmod = ((num % den) + den) % den
    return ((num - pmod) / den).cast("long")


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------

def pack_sequences(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    start_offset: int = 0,
    bucket: int = PACK_BUCKET,
) -> DataFrame:
    """Pack the corpus token stream into fixed-``budget`` training
    sequences (GPT-style concat-and-chunk): docs are concatenated in
    doc_id order and the stream is cut every ``budget`` tokens; a doc
    crossing a cut contributes to both neighbours.

    Returns one row per sequence: (seq_id, n_docs, first_doc,
    last_doc, n_tokens) — all BIGINT, no float anywhere.

    Scale: the global prefix sum is two-tier, never a single-partition
    window. Tier 1 groups docs into buckets of ``bucket`` ids (raise it
    so corpus/bucket stays driver-window-sized — 10^5 at 10^12 docs) and
    aggregates per-bucket token totals (tiny: corpus/100 rows); the
    bucket-level running offset is a window over THAT aggregate (one
    row per bucket — driver-size, not corpus-size). Tier 2
    broadcast-joins each doc to its bucket offset and finishes the
    cumsum with a window partitioned BY BUCKET (bounded partitions,
    uniform keys). The per-doc sequence fan-out is an exploded
    integer range of length (n_tokens/budget + 1) — O(stream/budget)
    extra rows total.
    """
    per_doc = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    return pack_sequences_from_counts(per_doc, budget, start_offset, bucket)


def pack_sequences_from_counts(
    per_doc: DataFrame,
    budget: int = PACK_BUDGET,
    start_offset: int = 0,
    bucket: int = PACK_BUCKET,
) -> DataFrame:
    """pack_sequences core over precomputed (doc_id, n_tok) rows — the
    composition point for pipelines that already counted tokens (e.g.
    the extraction pipeline's n_tokens output)."""
    # n_tok == 0 would make the span range DESCENDING (F.sequence
    # defaults step to -1 when end < start — the ADVICE-r1 bug class)
    # and emit garbage rows; zero-token docs occupy no sequence at all.
    per_doc = per_doc.where(F.col("n_tok") > 0).select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        (F.col("doc_id") / bucket).cast("long").alias("bucket"),
    )
    bucket_tot = per_doc.groupBy("bucket").agg(F.sum("n_tok").alias("btok"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bucket_off = bucket_tot.select(
        "bucket", F.coalesce(F.sum("btok").over(w_b), F.lit(0)).alias("boff")
    )
    w_d = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        per_doc.join(F.broadcast(bucket_off), "bucket")
        .select(
            "doc_id",
            "n_tok",
            (
                F.lit(start_offset)
                + F.col("boff")
                + F.coalesce(F.sum("n_tok").over(w_d), F.lit(0))
            ).alias("start"),
        )
        .select(
            "doc_id", "n_tok", "start", (F.col("start") + F.col("n_tok")).alias("end")
        )
    )
    spans = placed.select(
        "doc_id",
        "start",
        "end",
        F.explode(
            F.sequence(
                floor_div(F.col("start"), F.lit(budget)),
                floor_div(F.col("end") - 1, F.lit(budget)),
            )
        ).alias("seq_id"),
    )
    contrib = F.least(F.col("end"), (F.col("seq_id") + 1) * budget) - F.greatest(
        F.col("start"), F.col("seq_id") * budget
    )
    return (
        spans.select("doc_id", "seq_id", contrib.alias("contrib"))
        .groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("contrib").alias("n_tokens"),
        )
    )


def merge_packed(*packed: DataFrame) -> DataFrame:
    """Merge per-increment packing outputs into the full-corpus view.

    The daily-crawl shape: yesterday's sequences never change — only
    the boundary sequence (where the old stream ended mid-budget) is
    touched by a new increment, and its two partial rows merge by
    seq_id with plain aggregates. So incremental packing is: run
    ``pack_sequences(new_docs, start_offset=previous_token_total)``
    (new doc_ids sort after old ones), append the rows, and merge —
    no repacking of history, equivalence with a full repack is exact
    (tests/test_training.py pins it).
    """
    from functools import reduce

    allp = reduce(lambda a, b: a.unionByName(b), packed)
    return allp.groupBy("seq_id").agg(
        F.sum("n_docs").alias("n_docs"),
        F.min("first_doc").alias("first_doc"),
        F.max("last_doc").alias("last_doc"),
        F.sum("n_tokens").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# quantized k-means (Lloyd, fixed iterations, deterministic init)
# ---------------------------------------------------------------------------

def kmeans_assign(vecs: DataFrame, centroids: DataFrame, k: int) -> DataFrame:
    """Assign each (vec_id, qv: array<bigint>) row to the nearest of k
    broadcast centroids (cluster, cv) by squared L2; ties break to the
    smallest cluster id via lexicographic (dist, cluster) min.

    The distance is an integer fold (zip_with squares -> sum), so it is
    association-order-free and bit-identical on any engine. Plan: one
    broadcast nested-loop against k rows (constant build side), then a
    partial-aggregated groupBy on vec_id — no wide shuffle beyond the
    id hash.

    The argmin is a min over ONE BIGINT, ``dist << cbits | cluster``
    (cbits = ceil(log2(k)) — cluster < 2^cbits, both terms nonnegative,
    so the encoded order IS the lexicographic (dist, cluster) order).
    ``min(struct(dist, cluster))`` computes the same thing but Spark
    cannot hash-aggregate a struct-ordered min — it fell back to a
    corpus-sized partition-local Sort + SortAggregate every round
    (VERDICT r3 #1); min(BIGINT) stays in HashAggregate with map-side
    partial combine. Overflow headroom: dist <= dim*(2*grid)^2 — 2^48
    at dim=64 on the 1e-6 grid — and cbits <= ~10 for any sane k,
    far inside the 63-bit budget (guarded by the assert).
    """
    cbits = max(1, (k - 1).bit_length())
    # dist bound: worst case |component| <= 2*KM_SCALE (unit-ish floats
    # quantized on the 1e-6 grid) -> dist <= dim * (4*KM_SCALE)^2.
    assert cbits <= 12, f"k={k} too large for the 63-bit argmin encoding"
    dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # Saturate before encoding (r4 self-review #2): the unit-ish-input
    # assumption above is documentation, not enforcement — a rogue
    # component of ~1e4 puts dist past 2^63 >> cbits and shiftleft
    # silently WRAPS (non-ANSI long overflow), making min(enc) pick an
    # arbitrary cluster. Capping at the largest encodable distance
    # keeps the argmin exact whenever any candidate distance is below
    # the cap (the true min is unaffected by clamping larger values)
    # and degrades deterministically (smallest cluster id) when ALL
    # candidates saturate — instead of wrapping silently.
    dist_cap = ((1 << 62) >> cbits) - 1
    enc = (
        F.shiftleft(F.least(F.col("dist"), F.lit(dist_cap)), cbits)
        + F.col("cluster").cast("long")
    )
    # qv rides along as a GROUP KEY (functionally dependent on vec_id,
    # so the result is identical): first(qv) as an aggregate has an
    # array-typed buffer, which — like min(struct) — is immutable in
    # UnsafeRow and forces the same SortAggregate fallback the BIGINT
    # encoding exists to avoid. Group keys may be variable-length.
    return (
        vecs.crossJoin(F.broadcast(centroids))
        .select("vec_id", "qv", "cluster", dist.alias("dist"))
        .groupBy("vec_id", "qv")
        .agg(F.min(enc).alias("m"))
        .select(
            "vec_id",
            "qv",
            (F.col("m") % F.lit(1 << cbits)).cast("int").alias("cluster"),
            F.shiftright(F.col("m"), cbits).alias("dist"),
        )
    )


def kmeans_recenter(assigned: DataFrame, dim: int) -> DataFrame:
    """New centroids as element-wise floor-mean of members, still on the
    integer grid: posexplode components -> groupBy (cluster, dim) sum
    + count -> floor_div -> order-preserving array rebuild.

    Exploded-row shape (never nested HOF re-aggregation — the measured
    Catalyst projection-collapse blowup), map-side partial sums, one
    shuffle on (cluster, dim) — uniform small keyspace.
    """
    ex = assigned.select(
        "cluster", F.posexplode(F.col("qv")).alias("d", "x")
    )
    comp = ex.groupBy("cluster", "d").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    )
    return (
        comp.select(
            "cluster", "d", floor_div(F.col("s"), F.col("n")).alias("c")
        )
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "c"))), lambda s: s.c
            ).alias("cv")
        )
    )


def kmeans_quantized(
    emb: DataFrame, k: int = 8, iters: int = 2, dim: int = 64
) -> DataFrame:
    """Lloyd's k-means over quantized embeddings: init = the k vectors
    with the smallest vec_id, ``iters`` rounds of assign/recenter, all
    integer arithmetic (see module docstring). Returns (vec_id,
    cluster, dist) after the final assignment.

    Scale: centroids are k rows — always broadcast, recomputed per
    round from a (cluster, dim)-keyed partial-aggregated shuffle and
    staged, so the next round reads k rows and the plan stays flat at
    any ``iters``; the corpus side is scanned once per round with no
    corpus-wide shuffle on anything but uniform hashes.
    """
    # spread the (single-split) embeddings scan before the per-centroid
    # integer folds — the assign groupBy shuffles by vec_id anyway, so
    # this Exchange replaces that one (same fix as ivf_assign)
    par = emb.sparkSession.sparkContext.defaultParallelism
    vecs = emb.repartition(par, "vec_id").select(
        "vec_id", quantize_vec(F.col("embedding")).alias("qv")
    )
    centroids = (
        vecs.where(F.col("vec_id") < k)
        .select(F.col("vec_id").cast("int").alias("cluster"), F.col("qv").alias("cv"))
    )
    assigned = kmeans_assign(vecs, centroids, k)
    for _ in range(iters - 1):
        centroids = stage(kmeans_recenter(assigned, dim))
        assigned = kmeans_assign(vecs, centroids, k)
    return assigned.select("vec_id", "cluster", "dist")


# ---------------------------------------------------------------------------
# BM25 retrieval (rational idf)
# ---------------------------------------------------------------------------

def bm25_scores(docs: DataFrame, terms: list[str]) -> DataFrame:
    """BM25 of a fixed query against every document, with the idf kept
    as the raw odds ratio (N - df + 0.5)/(df + 0.5) — NOT its log:
    every op in the score is then IEEE-correctly-rounded (+ - * /),
    so scores are bit-identical across engines. Rank order differs
    from log-idf only when term idfs differ by orders of magnitude
    AND tfs invert — irrelevant for corpus-audit retrieval.

    Per-term partial scores become fixed COLUMNS (conditional
    aggregation), summed in a written, fixed order — never a
    groupBy-sum over doubles, whose association order is engine- and
    partitioning-dependent.

    Scale: token explode -> (doc, term) counts is map-side partial;
    df and avgdl are scalar/broadcast; the final score is a map-side
    expression over one row per doc. One uniform shuffle.
    """
    per_doc = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("dl")
    )
    n_docs = per_doc.select(F.count("*").alias("n"), F.sum("dl").alias("tot"))
    ex = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).where(F.col("term").isin(terms))
    tf = ex.groupBy("doc_id").pivot("term", terms).count().na.fill(0)
    df_ = ex.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    dfs = df_.groupBy().pivot("term", terms).sum("df").na.fill(0)
    dfs = dfs.select([F.col(t).alias(f"df_{t}") for t in terms])
    scored = (
        per_doc.join(tf, "doc_id", "left")
        .na.fill(0)
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(dfs))
    )
    score = None
    for t in terms:
        tf_t = F.col(t).cast("double")
        idf = (F.col("n") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        denom = tf_t + BM25_K1 * (
            F.lit(1.0) - BM25_B + BM25_B * F.col("dl") / (F.col("tot") / F.col("n"))
        )
        part = idf * (tf_t * (BM25_K1 + 1.0)) / denom
        score = part if score is None else score + part
    return scored.select("doc_id", "dl", score.alias("score"))


# ---------------------------------------------------------------------------
# temperature resampling across hosts
# ---------------------------------------------------------------------------

def temperature_thresholds(hosts: DataFrame) -> DataFrame:
    """Per-host keep thresholds for alpha=0.5 temperature rebalancing:
    thr_h = floor(100*sqrt(n_min/n_h) + 0.5) — the rarest host keeps
    100%, a host 4x larger keeps ~50%, flattening the Zipf head the
    way multilingual/domain mixtures are rebalanced for training.

    sqrt and / are IEEE-correctly-rounded, so thresholds are
    bit-identical cross-engine (pow is not — avoided).

    Input: (host, n_h). The n_min scalar is a broadcast single row.
    """
    n_min = hosts.groupBy().agg(F.min("n_h").alias("n_min"))
    thr = F.floor(
        F.lit(100.0)
        * F.sqrt(F.col("n_min").cast("double") / F.col("n_h").cast("double"))
        + F.lit(0.5)
    ).cast("long")
    return hosts.crossJoin(F.broadcast(n_min)).select(
        "host", "n_h", thr.alias("thr")
    )


def temperature_resample(docs: DataFrame) -> DataFrame:
    """Deterministic host-temperature downsample of a documents table
    whose host is doc_id % 97 (the corpus url scheme): keep a doc when
    its content-hash bucket falls under its host's threshold.

    Pure map-side filter after a broadcast join against the (tiny)
    per-host threshold table — reproducible across runs, engines and
    retries, prunes at scan speed at any corpus size.
    """
    hosts = docs.groupBy((F.col("doc_id") % 97).alias("host")).agg(
        F.count("*").alias("n_h")
    )
    thr = temperature_thresholds(hosts)
    bucket = fast_hash(F.col("doc_id").cast("string")) % 100
    return (
        docs.select("doc_id", (F.col("doc_id") % 97).alias("host"))
        .join(F.broadcast(thr), "host")
        .where(bucket < F.col("thr"))
        .select("doc_id", "host", "thr")
    )


def bm25_multi_query(
    docs: DataFrame, queries: list[tuple[int, str]]
) -> DataFrame:
    """BM25 for a TABLE of queries against the corpus — the inverted-
    index retrieval shape (one query = bm25_scores' fixed-column form;
    a workload joins instead).

    Dataflow: corpus -> (term, doc) tf index + per-term df + scalar
    N/avgdl; query terms exploded WITH POSITION and joined to the index
    on term (the query side is tiny -> broadcast). Per (query, doc) the
    matched per-term scores fold in QUERY-POSITION order — a
    deterministic sequential fold, not a groupBy-sum over doubles; and
    since an unmatched term's contribution is exactly 0.0 (tf=0
    numerator) and x + 0.0 == x in IEEE, folding only matched terms is
    bit-identical to folding all of them. Returns top-3 per query:
    (q_id, doc_id, score, rank).

    Scale: the tf index is the span-dedup shuffle shape (uniform term
    keys, map-side combine); the query side broadcasts; the per-group
    fold is bounded by query length. Top-k per query is a
    WindowGroupLimit candidate (bounded state per partition).
    """
    from pyspark.sql import Window

    per_doc = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("dl")
    )
    n_docs = per_doc.select(F.count("*").alias("n"), F.sum("dl").alias("tot"))
    ex = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = ex.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    df_ = ex.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))

    spark = docs.sparkSession
    qdf = spark.createDataFrame(queries, "q_id int, qtext string")
    qterms = qdf.select(
        "q_id", F.posexplode(F.split("qtext", " ")).alias("pos", "term")
    )

    idf = (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    denom = F.col("tf").cast("double") + BM25_K1 * (
        F.lit(1.0) - BM25_B + BM25_B * F.col("dl") / (F.col("tot") / F.col("n"))
    )
    part = idf * (F.col("tf").cast("double") * (BM25_K1 + 1.0)) / denom

    matched = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_.join(F.broadcast(qterms.select("term")).distinct(), "term")), "term")
        .join(per_doc, "doc_id")
        .crossJoin(F.broadcast(n_docs))
        .select("q_id", "doc_id", "pos", part.alias("part"))
    )
    scored = matched.groupBy("q_id", "doc_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "part"))),
                lambda s: s.part,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("q_id", "doc_id", "score", "rank")
    )


def kmeans_maximin_init(vecs: DataFrame, k: int) -> DataFrame:
    """Deterministic farthest-first (maximin) center selection — the
    k-means++ alternative with no randomness to mirror: center 0 is
    vec_id 0; each next center is the vector maximizing its minimum
    integer distance to the chosen set (ties -> smallest vec_id),
    already-chosen ids excluded.

    Each step is one broadcast of the j chosen rows + a min/argmax
    aggregate over the corpus — k-1 linear passes, no corpus shuffle
    beyond the partial-agg hash. Returns (cluster, cv, cid) with
    cluster = selection order.
    """
    # staged per round (r5): vecs feeds every round's candidate set,
    # and chosen re-enters its own derivation (anti-join + broadcast)
    # — un-staged, round j replans rounds 0..j-1's argmax subtrees
    # (42 corpus scans in the un-staged maximin plan)
    vecs = stage(vecs)
    chosen = vecs.where(F.col("vec_id") == 0).select(
        F.lit(0).cast("int").alias("cluster"),
        F.col("qv").alias("cv"),
        F.col("vec_id").alias("cid"),
    )
    dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    for j in range(1, k):
        cand = vecs.join(
            chosen.select(F.col("cid").alias("vec_id")), "vec_id", "left_anti"
        )
        mind = (
            cand.crossJoin(F.broadcast(chosen.select("cv")))
            .select("vec_id", "qv", dist.alias("d"))
            .groupBy("vec_id")
            .agg(F.min("d").alias("mind"), F.first("qv").alias("qv"))
        )
        winner = mind.groupBy().agg(
            F.max_by(
                F.struct(F.col("vec_id"), F.col("qv")),
                F.struct(F.col("mind"), (-F.col("vec_id")).alias("ni")),
            ).alias("w")
        ).select(
            F.lit(j).cast("int").alias("cluster"),
            F.col("w.qv").alias("cv"),
            F.col("w.vec_id").alias("cid"),
        )
        chosen = stage(chosen.unionByName(winner))
    return chosen


def kmeans_quantized_maximin(
    emb: DataFrame, k: int = 4, iters: int = 2, dim: int = 64
) -> DataFrame:
    """kmeans_quantized with farthest-first init instead of
    lowest-ids: spreads initial centers across the data's hull, the
    standard fix for lowest-id init collapsing into one dense region.
    Same integer-exact guarantees; returns (vec_id, cluster, dist)."""
    par = emb.sparkSession.sparkContext.defaultParallelism
    vecs = emb.repartition(par, "vec_id").select(
        "vec_id", quantize_vec(F.col("embedding")).alias("qv")
    )
    centroids = kmeans_maximin_init(vecs, k).select("cluster", "cv")
    assigned = kmeans_assign(vecs, centroids, k)
    for _ in range(iters - 1):
        centroids = kmeans_recenter(assigned, dim)
        assigned = kmeans_assign(vecs, centroids, k)
    return assigned.select("vec_id", "cluster", "dist")


def span_corruption_masks(
    docs: DataFrame, rate_permille: int = 150, span_len: int = 3
) -> DataFrame:
    """Deterministic T5-style span-corruption plan →
    ``(doc_id, span_id, span_start, span_len)`` (1-based token index).

    The pretraining-objective data-gen stage: ~rate_permille of each
    document's tokens are masked in fixed-length spans. Spans are
    non-overlapping BY CONSTRUCTION: the document is cut into
    n_spans equal strata (stride = floor(n_tok / n_spans) >= span_len
    tokens), and span i starts at a hash-derived offset within
    stratum i — so no island-merge pass is needed and the plan is one
    narrow projection + explode per doc (no shuffle at all beyond the
    scan).

    Determinism: the offset is fast_hash(doc_id ':' span_id) mod the
    stratum slack — same mask plan on every run, every engine, any
    partitioning; exactly the reproducibility a training run needs to
    resume mid-epoch.

    Docs with fewer than ``span_len * 1000 / rate_permille`` tokens
    (n_spans == 0) emit no rows (the ascending-sequence guard).
    """
    from ocr_spark.operators.dedup import fast_hash, tokens

    n_tok = F.size(tokens(F.col("text"))).cast("long")
    n_spans = floor_div(n_tok * rate_permille, F.lit(span_len * 1000))
    base = docs.select(
        "doc_id", n_tok.alias("n_tok"), n_spans.alias("n_spans")
    ).where(F.col("n_spans") >= 1)
    stride = floor_div(F.col("n_tok"), F.col("n_spans"))
    ex = base.select(
        "doc_id",
        stride.alias("stride"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_spans") - 1)
        ).alias("span_id"),
    )
    slack = F.col("stride") - span_len + 1
    off = (
        fast_hash(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("span_id").cast("string"),
            )
        )
        % slack
    )
    return ex.select(
        "doc_id",
        "span_id",
        (F.col("span_id") * F.col("stride") + off + 1).alias("span_start"),
        F.lit(span_len).cast("long").alias("span_len"),
    )


# ---------------------------------------------------------------------------
# PCA: top principal component by quantized power iteration
# ---------------------------------------------------------------------------

PCA_VSCALE = 10_000      # magnitude the iterated vector is renormalized to
PCA_SHIFT = 1_000_000    # per-row projection downshift between the two passes


def pca_power(
    emb: DataFrame, iters: int = 2, dim: int = 64
) -> tuple[DataFrame, DataFrame]:
    """Top principal component of the embedding table by power
    iteration on the (implicit, never materialized) Gram matrix, all
    integer arithmetic so the result is bit-identical under any
    partitioning.

    Each iteration is two matvec passes instead of a d x d covariance
    build: s_i = <c_i, v> (per-row integer fold over the centered
    quantized vector), then u_d = sum_i s'_i * c_i[d] (posexplode ->
    groupBy d with map-side partial sums — d keys, so every task
    reduces to d rows before the shuffle). The vector is renormalized
    to ~PCA_VSCALE by an integer floor division so magnitudes stay
    bounded across iterations.

    Overflow budget (|q| <= 2e6 after centering, |v| <= ~2e4):
    s <= dim * 2e6 * 2e4 ~ 2.6e12; s' = s // PCA_SHIFT <= 2.6e6;
    per-row product <= 5.2e12, so the u_d sums hold ~1.7e6 rows in
    int64 — beyond that raise PCA_SHIFT by ~log2(n/1e6) bits (or sum
    in DECIMAL(38,0)); the plan shape is unchanged.

    Returns (component, centered): component = (d, component,
    gram_scale) with d 1-based, gram_scale the pre-normalization
    max|u| (a Rayleigh-quotient-scale proxy); centered = (vec_id, d,
    x) exploded centered rows for projection reuse.
    """
    n_part = emb.sparkSession.sparkContext.defaultParallelism
    q = emb.repartition(n_part, "vec_id").select(
        "vec_id", quantize_vec(F.col("embedding")).alias("qv")
    )
    ex = q.select("vec_id", F.posexplode("qv").alias("d0", "x0"))
    # mean staged (r5): it feeds cent AND the initial v — d tiny rows,
    # but its lineage is the corpus explode
    mean = stage(ex.groupBy("d0").agg(
        floor_div(F.sum("x0"), F.count(F.lit(1))).alias("m")
    ))
    cent = ex.join(F.broadcast(mean), "d0").select(
        "vec_id", (F.col("d0") + 1).alias("d"), (F.col("x0") - F.col("m")).alias("x")
    )
    # cent feeds 2*iters+1 consumer subtrees (s-pass, u-pass per round,
    # final projections) — without a boundary Spark re-derives the
    # explode+mean-join per consumer (the multi-consumer re-evaluation
    # documented on doc_quality_panel). Staged, it is computed once;
    # integer rows, so no order sensitivity.
    cent = stage(cent)
    # the iterated vector lives as d tiny rows (d, v) — always broadcast
    v = mean.select(
        (F.col("d0") + 1).alias("d"), F.lit(PCA_VSCALE).cast("long").alias("v")
    )
    gram = None
    for _ in range(iters):
        s = (
            cent.join(F.broadcast(v), "d")
            .groupBy("vec_id")
            .agg(F.sum(F.col("x") * F.col("v")).alias("sraw"))
            .select(
                "vec_id", floor_div(F.col("sraw"), F.lit(PCA_SHIFT)).alias("s")
            )
        )
        u = (
            cent.join(s, "vec_id")
            .groupBy("d")
            .agg(F.sum(F.col("x") * F.col("s")).alias("u"))
        )
        gram = u.agg(
            F.greatest(
                floor_div(F.max(F.abs(F.col("u"))), F.lit(PCA_VSCALE)),
                F.lit(1).cast("long"),
            ).alias("mm")
        )
        v = u.crossJoin(F.broadcast(gram)).select(
            "d", floor_div(F.col("u"), F.col("mm")).alias("v")
        )
    component = v.crossJoin(F.broadcast(gram)).select(
        "d", F.col("v").alias("component"), F.col("mm").alias("gram_scale")
    )
    return component, cent


def pca_projections(
    emb: DataFrame, iters: int = 2, dim: int = 64, topk: int = 20
) -> DataFrame:
    """Top-``topk`` rows by |projection| onto the pca_power component
    (semantic-outlier surfacing: the docs that dominate the corpus's
    principal direction). Deterministic total order (|proj| desc,
    vec_id asc); the projection is the same integer fold as the
    iteration's s-pass, so it is oracle-exact."""
    component, cent = pca_power(emb, iters, dim)
    proj = (
        cent.join(F.broadcast(component.select("d", F.col("component").alias("v"))), "d")
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("v")).alias("sraw"))
        .select("vec_id", floor_div(F.col("sraw"), F.lit(PCA_SHIFT)).alias("proj"))
    )
    return (
        proj.orderBy(F.abs(F.col("proj")).desc(), F.col("vec_id"))
        .limit(topk)
    )
