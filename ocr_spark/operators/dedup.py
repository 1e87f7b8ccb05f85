"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Everything here is built from JVM Column expressions (split / transform /
aggregate / array_*) — zero Python in the hot path, so the whole family
stays inside WholeStageCodegen and scales with the cluster, not with the
driver.

Cross-engine-exact hashing
--------------------------
The DuckDB oracle must reproduce every hash bit. Two hashes, both in
[0, 1e9+7):

- ``fast_hash`` (the hot path): first 15 hex chars of md5 as a BIGINT
  mod 1e9+7 — a JVM codegen intrinsic on the Spark side, a 16-ary
  hex fold on the DuckDB side. Production swaps in ``xxhash64`` the
  same way; md5 is the cross-engine-checkable stand-in.
- ``poly_hash`` (cold path, once-per-row uses): an exact BIGINT
  polynomial fold over ASCII codes — interpreted per char, kept for
  the rolling-hash fingerprint heritage (fp_full).

Scale notes (10^12 docs)
------------------------
- All pair-mining dataflows are EXPLODED-ROW + codegen-aggregate
  shaped (see minhash_lsh_pairs docstring for the measured
  projection-collapse blow-up that nested array HOFs cause).
- Every set-similarity join reads ONE per-doc sketch
  (``shingle_sketch``): a single aggregate over the shingle rows
  yields the MinHash minima and the sorted shingle-hash set ``hs``.
  LSH band keys come from the minima; a ppjoin prefix is a slice of
  ``hs`` exploded into postings (no per-shingle rank window); every
  verify reads ``hs`` from the same sketch (no second set aggregate).
- MinHash/LSH shuffles only on uniformly-distributed hash keys (no
  host skew survives hashing). ``minhash_lsh_pairs`` shingles the
  corpus once per query: both sides of the bucket self-join read one
  (band, key) exchange, which Spark materializes once and reuses (see
  its docstring). The Jaccard inverted-index join uses ppjoin prefix
  filtering (exact recall at thresholds >= 0.5), and hash-sorted
  prefixes decorrelate posting lists from shingle frequency so no
  stop-shingle explodes.
- The candidate self-joins emit (small_id, big_id) ordered pairs, so
  dedup of the pair space is a by-product of the join condition, not a
  distinct over the cross product.
- ``connected_components`` turns pairs into canonical-keeper clusters
  (min-label propagation, O(diameter) rounds). It reads the pair edges
  once, and each round is one join and one aggregate, staged
  (``sources.catalog.stage``) so no round's plan nests the rounds
  before it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.sources.catalog import stage

MOD = 1_000_000_007
BASE = 131

# MinHash permutation family: h_j(x) = (A_j * x + B_j) mod MOD.
# A_j odd so the map is a bijection on Z_MOD; coefficients are small so
# A_j * x < 2^63 stays exact. 16 hashes -> 4 bands x 4 rows.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4


def poly_hash(col: Column) -> Column:
    """Exact polynomial hash of a string column (BIGINT, mod 1e9+7).

    Higher-order-function fold — interpreted per char, so use it only
    where it runs once per row (e.g. whole-document fingerprints).
    Hot paths (per-shingle / per-token hashing) use fast_hash below.
    """
    codes = F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * BASE + c) % MOD,
    )


def fast_hash(col: Column) -> Column:
    """Codegen content hash in [0, MOD): first 15 hex chars of md5 as a
    BIGINT, mod 1e9+7.

    md5 is a JVM intrinsic inside WholeStageCodegen — ~100x cheaper per
    call than the interpreted polynomial fold. The DuckDB oracle
    reproduces it exactly (md5 hex is engine-independent; hex->int is a
    16-ary fold). At production scale you'd use xxhash64 the same way;
    md5 is the cross-engine-checkable stand-in.
    """
    return (
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")
        % MOD
    )


def tokens(col: Column) -> Column:
    return F.split(col, " ")


def quality_margin(text_col: Column) -> Column:
    """Hashed-classifier quality margin: sum over whitespace tokens of
    (fast_hash('w:'+tok) % 1001 - 500) — the keep gate is margin > 0.

    The SINGLE definition of the curation quality contract, shared by
    the batch pipeline (tools/curate_corpus.py) and the streaming gate
    (streaming/pipeline.curation_gate) so the two can never diverge.
    The HOF fold is safe here because the token array is referenced
    once (no projection-collapse multiplier) and the gate is a one-pass
    map — bounded work per row, no aggregation state.
    """
    return F.aggregate(
        F.transform(
            tokens(text_col),
            lambda t: fast_hash(F.concat(F.lit("w:"), t)) % 1001 - 500,
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>).

    Docs with fewer than n tokens yield an empty array: F.sequence with
    end < start defaults step to -1 (a DESCENDING range), which would
    feed element_at indices <= 0 and throw — one short row would kill
    the whole stage (ADVICE r1).
    """
    t = tokens(col)
    idx = F.when(
        F.size(t) >= n, F.sequence(F.lit(0), F.size(t) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle hashes (array<long>), sorted.

    Array-expression form for small inputs/tests. Corpus-scale pair
    mining uses shingle_rows: nested HOFs re-evaluate the inlined
    token-split per lambda element (Catalyst projection collapse), so
    this form costs O(shingles * |text|) per doc.
    """
    sh = word_shingles(col, n)
    return F.array_sort(
        F.array_distinct(F.transform(sh, lambda s: fast_hash(s)))
    )


def shingle_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct (id, h) shingle-hash rows, computed with zero HOFs.

    split tokens -> zip the token array with its n-1 shifted slices ->
    inline one (t0..t{n-1}) row per shingle start -> codegen md5 hash ->
    distinct. One shuffle (by id, uniform); every token is split and
    hashed exactly once. A shingle never spans two input rows, so rows
    that share an id merge their shingle sets (a window over id would
    interleave their tokens by position). This is the corpus-scale base
    for minhash, LSH, and Jaccard verification.
    """
    # spread before the explode: a single-file corpus is ONE split, and
    # the explode would run on one core. Shuffling on id also leaves
    # the distinct below (and every per-id aggregate over it) with no
    # exchange of its own.
    par = docs.sparkSession.sparkContext.defaultParallelism
    t = docs.repartition(par, F.col(id_col)).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
    )
    # arrays_zip pads the shorter slices with NULL: the rows whose last
    # token is NULL start fewer than n tokens from the end
    shifted = [F.slice("t", j + 1, F.size("t")).alias(f"t{j}") for j in range(n)]
    sh = (
        t.select("id", F.inline(F.arrays_zip(*shifted)))
        .where(F.col(f"t{n - 1}").isNotNull())
        .select("id", F.concat_ws(" ", *[f"t{j}" for j in range(n)]).alias("s"))
    )
    return sh.select("id", fast_hash(F.col("s")).alias("h")).distinct()


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b)))


def round_det(col: Column, digits: int) -> Column:
    """floor(x*10^d + 0.5)/10^d — deterministic cross-engine rounding.

    Spark ROUND applies HALF_UP to the double's shortest decimal
    representation; DuckDB rounds the raw double — they disagree on
    exact .5 grid points (hit often by rationals like k/n). This form
    is plain IEEE ops, identical on both engines.
    """
    p = 10 ** digits
    return F.floor(col * p + F.lit(0.5)) / p


def shingle_sketch(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, s0..s15, hs) per doc: the MinHash minima and the sorted
    shingle-hash set, both from ONE aggregate over shingle_rows.

    Every set-similarity join reads this sketch. shingle_rows is already
    partitioned by id, so the aggregate adds no shuffle. Column pruning
    drops what a consumer does not read: LSH band rows keep only the
    minima, prefix postings and verify joins only hs. NULL ids keep a
    sketch, but no id comparison ever matches them.
    """
    return (
        shingle_rows(docs, id_col, text_col)
        .groupBy("id")
        .agg(
            *[
                F.min((F.lit(2 * j + 1) * F.col("h") + F.lit(7919 * j)) % F.lit(MOD))
                .alias(f"s{j}")
                for j in range(MINHASH_K)
            ],
            F.sort_array(F.collect_list("h")).alias("hs"),
        )
    )


def _prefix_postings(sketch: DataFrame, num: int, den: int) -> DataFrame:
    """(id, h) postings of each sketch's ppjoin prefix: the first
    size(hs) * num div den + 1 hashes of hs, which is distinct and
    sorted, so the prefix is taken in the global hash order."""
    prefix = F.expr(f"slice(hs, 1, int(size(hs) * {num}L div {den}) + 1)")
    return sketch.select("id", F.explode(prefix).alias("h"))


def _posting_pairs(post: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, of the docs that share a
    posting h: the candidates of an inverted-index self-join."""
    return (
        post.alias("a")
        .join(
            post.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )


def _sketch_pairs(cand: DataFrame, sketch: DataFrame) -> DataFrame:
    """Candidate pairs (doc_a, doc_b) joined to both docs' sketches,
    readable as ``a.*`` and ``b.*``."""
    return cand.join(sketch.alias("a"), F.col("doc_a") == F.col("a.id")).join(
        sketch.alias("b"), F.col("doc_b") == F.col("b.id")
    )


def _band_rows(sketch: DataFrame, *keep: str) -> DataFrame:
    """(*keep, band, key): one row per LSH band of each sketch, the key
    the band's LSH_ROWS minima joined by ':'."""
    keys = [
        F.concat_ws(
            ":",
            *[F.col(f"s{b * LSH_ROWS + r}").cast("string") for r in range(LSH_ROWS)],
        )
        for b in range(LSH_BANDS)
    ]
    return sketch.select(*keep, F.posexplode(F.array(*keys)).alias("band", "key"))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified by exact Jaccard.

    shingle rows -> one per-doc aggregate (16 minima + sorted set hs)
    -> (id, hs, band, key) rows -> ONE repartition on (band, key) ->
    bucket self-join with a.id < b.id -> Jaccard of a.hs/b.hs on the
    joined row -> threshold -> distinct (a pair sharing several bands
    joins once per band). Returns (doc_a, doc_b, jaccard). NULL ids
    join nothing; docs with fewer than 3 tokens have no shingles and so
    no sketch; rows that share an id are one doc (their shingles merge).

    WHY the explicit repartition: Spark reuses identical EXCHANGES, not
    the subtree above them. Left to itself, AQE plans the small self-join
    as a broadcast join, whose two sides are different exchanges, and
    the shingle pipeline runs once per side. With both sides reading one
    hash exchange on (band, key), that exchange is materialized once and
    the second side reads it back as a reused stage. The set rides on
    the band rows, so no verify join against a per-doc set table (the
    third shingle pass) is needed either.

    WHY exploded aggregation, not array expressions: referencing an
    array column k times inside higher-order functions makes Catalyst's
    projection collapse INLINE the producing expression k times — the
    16-element signature over 16-times-referenced shingle arrays would
    recompute the shingle hashing ~256x per row (measured: minutes at
    5k docs). Exploding to (id, h) rows and taking K codegen min()
    aggregates evaluates the hashing exactly once per shingle and is
    also the shape that scales: partial map-side mins, one shuffle by
    id, no skew (hash-distributed keys).
    """
    sketch = shingle_sketch(docs, id_col, text_col)
    bands = _band_rows(sketch, "id", "hs").repartition("band", "key")
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            round_det(_jaccard(F.col("a.hs"), F.col("b.hs")), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .distinct()
    )


def minhash_band_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """The persistent LSH index of a corpus: (bands, sets).

    bands: (id, band, key) bucket rows; sets: (id, hs) for exact
    verify. Both are plain tables — write them once per crawl snapshot
    and every future increment reuses them (incremental_minhash_pairs)
    instead of re-hashing the history. Both come from the same per-doc
    sketch as minhash_lsh_pairs.
    """
    sketch = shingle_sketch(docs, id_col, text_col)
    return _band_rows(sketch, "id"), sketch.select("id", "hs")


def incremental_minhash_pairs(
    old_bands: DataFrame,
    old_sets: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Near-dup pairs introduced by a corpus INCREMENT, plus the
    updated index: (pairs, bands', sets').

    The daily-crawl shape: history is touched only through its (small
    per-bucket) band index — the new batch's bands probe old ∪ new
    buckets, so work scales with the increment, not the corpus.
    New-new pairs are included; old-old pairs were already reported
    when their batch arrived (exactly-once over time). Pair semantics
    and verification are identical to minhash_lsh_pairs.
    """
    new_bands, new_sets = minhash_band_index(new_docs, id_col, text_col)
    all_bands = old_bands.unionByName(new_bands)
    cand = (
        new_bands.alias("a")
        .join(
            all_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("doc_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("doc_b"),
        )
        .distinct()
    )
    all_sets = old_sets.unionByName(new_sets)
    pairs = (
        cand.join(all_sets.alias("sa"), F.col("doc_a") == F.col("sa.id"))
        .join(all_sets.alias("sb"), F.col("doc_b") == F.col("sb.id"))
        .select(
            "doc_a",
            "doc_b",
            round_det(_jaccard(F.col("sa.hs"), F.col("sb.hs")), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return pairs, all_bands, all_sets


def jaccard_ngram_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard dedup via a prefix-filtered inverted-index
    join. Returns (doc_a, doc_b, n_shared, jaccard) with doc_a < doc_b.

    Prefix filtering (the ppjoin bound): J(A,B) >= 0.5 implies
    |A∩B| >= |A|/2, so any qualifying pair shares an element within
    each side's first floor(n/2)+1 hashes in the global hash order.
    Indexing only prefixes keeps exact recall at thresholds >= 0.5
    while cutting the self-join's index (and its worst-case pair
    blow-up) ~4x; hash order also decorrelates the prefix from shingle
    frequency, so no stop-shingle ever dominates a posting list. The
    prefix is a slice of the sketch's sorted set, and the verify joins
    read the same sketch.
    """
    sketch = shingle_sketch(docs, id_col, text_col)
    cand = _posting_pairs(_prefix_postings(sketch, 1, 2))
    return (
        _sketch_pairs(cand, sketch)
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("a.hs"), F.col("b.hs")))
            .cast("bigint")
            .alias("n_shared"),
            round_det(_jaccard(F.col("a.hs"), F.col("b.hs")), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


SIMHASH_BITS = 24
_POW2 = [1 << i for i in range(SIMHASH_BITS)]


def simhash(text_col: Column) -> Column:
    """24-bit SimHash over token polynomial hashes (BIGINT column).

    bit_i = 1 iff sum over tokens of (+1 if bit_i(h(token)) else -1) > 0.
    24 bits is the oracle-parity demo width (fast_hash yields 30 usable
    bits); the production variant is the same expression over xxhash64
    at 64 bits. Array-expression form — for corpus-scale pair mining
    use simhash_pairs, which aggregates exploded rows instead.
    """
    hs = F.transform(tokens(text_col), lambda t: fast_hash(t))
    bits = [
        F.when(
            F.aggregate(
                hs,
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + F.when((h / F.lit(p)).cast("long") % 2 == 1, 1).otherwise(-1),
            )
            > 0,
            F.lit(p),
        ).otherwise(0)
        for p in _POW2
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= max_hamming.

    4 six-bit bands over 24 bits: any pair within Hamming 3 shares at
    least one exact band (pigeonhole), so the bucket join on
    (band, bits) has no false negatives. Returns (doc_a, doc_b,
    hamming).

    Same exploded-aggregation shape as minhash_lsh_pairs (see its
    docstring): token hashes explode to rows and the 24 bit-votes are
    codegen sum() aggregates — one hash eval per token, not 24.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select("id", fast_hash(F.col("tok")).alias("h"))
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when((F.col("h") / F.lit(p)).cast("long") % 2 == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i, p in enumerate(_POW2)
        ]
    )
    sh_expr = None
    for i, p in enumerate(_POW2):
        term = F.when(F.col(f"v{i}") > 0, F.lit(p)).otherwise(0)
        sh_expr = term if sh_expr is None else (sh_expr + term)
    sh = votes.select("id", sh_expr.cast("long").alias("sh"))
    nibbles = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        ((F.col("sh") / F.lit(64**b)).cast("long") % 64).alias("nib"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bn"),
    ).select("id", "sh", F.col("bn.band").alias("band"), F.col("bn.nib").alias("nib"))
    cand = (
        nibbles.alias("a")
        .join(
            nibbles.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.nib") == F.col("b.nib"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sh").alias("sha"),
            F.col("b.sh").alias("shb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def cosine(a: Column, b: Column) -> Column:
    """Exact-fold cosine between two array<float> columns (double).

    zip_with products then a sequential left fold — the same operation
    order as the oracle's list_reduce, so results are bit-identical.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / (na * nb)


class CandidateVolumeError(RuntimeError):
    """Raised when the exact-recall cosine near-dup's estimated
    candidate volume exceeds the caller's cap.

    Exact recall at a low threshold on a dense/isotropic corpus has
    an INHERENT candidate volume of ~n^2/resolution (SCALING.md §2e:
    the 100x smoke filled the disk at 500k isotropic rows); no
    banding scheme of width >= arccos(t) can split the degenerate
    band. Corpus-scale runs belong on the approximate operators:
    route to ``semdedup_pairs`` (k-means-cell-bounded pair space) or
    the ANN family (``ocr_spark.operators.ann``: IVF / sign-LSH /
    PQ-ADC top-k), or raise the threshold / the cap explicitly.
    """


def cosine_neardup_pairs_allpairs(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Exact all-pairs cosine near-dup — the TEST ORACLE form.

    O(n^2) join; correct at any size but not the shipped plan (see
    cosine_neardup_pairs). Kept to prove pair-set equality of the
    banded plan in pytest.
    """
    v = vecs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("e"))
    return (
        v.alias("a")
        .join(v.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("vec_a"),
            F.col("b.id").alias("vec_b"),
            round_det(cosine(F.col("a.e"), F.col("b.e")), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def _with_theta_band(
    v: DataFrame, p: int, dim: int, w_band: float
) -> DataFrame:
    """Add pivot-p's angular band column h{p} = floor(theta_p / W)."""
    from ocr_spark.operators.ann import plane_weight

    piv = F.array(*[F.lit(float(plane_weight(p, k))) for k in range(dim)])
    th = F.acos(
        F.least(F.lit(1.0), F.greatest(F.lit(-1.0), cosine(F.col("e"), piv)))
    )
    return v.withColumn(f"h{p}", F.floor(th / F.lit(w_band)).cast("int"))


def choose_pivot_count(
    v: DataFrame,
    dim: int,
    w_band: float,
    n_pivots: int,
    max_bucket: int,
    max_pivots: int,
) -> tuple[DataFrame, int]:
    """Adaptive sub-banding (VERDICT r2 #4, part 1): add pivots until
    the largest home bucket holds <= max_bucket vectors (or max_pivots
    is hit). Every added pivot keeps exact recall — each one only adds
    a |Δband| <= 1 constraint that every qualifying pair satisfies —
    and subdivides CLUSTERED mass. It cannot subdivide an isotropic
    corpus (all thetas concentrate inside one W-wide band per pivot —
    measured: 300 random 16-dim vectors at t=0.4 still leave a
    216-vector bucket at m=6), which is why the caller tiles whatever
    remains oversized. The size probe is a control-plane count per
    round (bounded by max_pivots rounds). Returns (banded df, m)."""
    for p in range(n_pivots):
        v = _with_theta_band(v, p, dim, w_band)
    m = n_pivots
    v = stage(v)
    while m < max_pivots:
        key = F.concat_ws(
            ":", *[F.col(f"h{p}").cast("string") for p in range(m)]
        )
        mx = (
            v.groupBy(key.alias("key"))
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        if mx is None or mx <= max_bucket:
            break
        v = stage(_with_theta_band(v, m, dim, w_band))
        m += 1
    return v, m


def tile_home_and_probe(
    home: DataFrame, probe: DataFrame, max_bucket: int
) -> tuple[DataFrame, DataFrame]:
    """Blocked self-join tiling (VERDICT r2 #4, part 2): home rows get
    tile = pmod(xxhash64(id), ceil(count/max_bucket)) — a stateless
    per-row hash, NOT a row_number window. The window form was exactly
    balanced but partitioned BY the degenerate hot key, so the one
    oversized bucket funneled through a single-task sort — the
    straggler reappearing at the step meant to remove it (VERDICT r3
    #2 / ADVICE r3). The hash split is balanced only in expectation
    (each (key, tile) build group holds max_bucket rows +- a
    sqrt-sized fluctuation, pinned <= ~1.3x by test on a planted
    one-bucket corpus), which is all the guard needs; recall is
    untouched because probe rows fan out to ALL of their key's tiles
    regardless of how home rows landed."""
    counts = home.groupBy("key").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(max_bucket)).alias("n_tiles")
    )
    home_t = (
        home.join(counts, "key")
        .withColumn("tile", F.pmod(F.xxhash64("id"), F.col("n_tiles")))
        .select("id", "key", "tile")
    )
    probe_t = probe.join(counts, "key").select(
        "id",
        "key",
        F.explode(F.sequence(F.lit(0), F.col("n_tiles") - 1)).alias("tile"),
    )
    return home_t, probe_t


def cosine_neardup_pairs(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    n_pivots: int = 2,
    max_bucket: int | None = None,
    max_pivots: int = 6,
    max_candidates: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (vec_a, vec_b, cos) with
    cos >= t — EXACT recall without the O(n^2) cross join.

    Pivot-band pruning by the spherical triangle inequality: angular
    distance d(a,b) = arccos(cos(a,b)) is a metric, so cos(a,b) >= t
    implies |theta_p(a) - theta_p(b)| <= W := arccos(t) for EVERY pivot
    direction p, where theta_p(x) = arccos(cos(x, pivot_p)). Bucketing
    each vector at floor(theta_p / W) per pivot, any qualifying pair is
    within +-1 bucket in every pivot coordinate — so an equi-join on
    the band key, with one side probing ALL 3^m {-1,0,+1} offset
    combos, has NO false negatives at any threshold. (The offsets must
    cover both signs per pivot: with m >= 2 a pair's bucket deltas can
    be MIXED, e.g. +1 on pivot 1 and -1 on pivot 2, which an upper-
    only {0,1}^m probe set misses in both join roles — caught by the
    random-config recall test.) This is unlike sign-LSH probing:
    measured on the sf0.01 embeddings, Hamming<=1 over the 8-plane
    sketch finds only 15 of the 59 qualifying pairs at t=0.4 (their
    Hamming distribution runs to 7), which is why the r1-suggested LSH
    prune is NOT shipped.

    Scale shape: theta computation is one codegen pass (no shuffle);
    candidates come from a shuffle hash equi-join on band keys instead
    of a broadcast-nested-loop cross join. Pruning power is the ratio
    of the corpus' angular spread to W — weak at t=0.4 (W=66deg spans
    the bulk of a random-vector corpus, so this dataset degenerates to
    ~1 bucket) and strong in the realistic near-dup regime t>=0.9
    (W=26deg, and real near-dup corpora cluster tightly); more pivots
    multiply the grid resolution at 3^m probe cost.

    ``max_bucket`` arms a two-part blow-up guard (VERDICT r2 #4):
    (1) adaptive sub-banding (choose_pivot_count) adds pivots while any
    home bucket exceeds the bound — this subdivides CLUSTERED mass;
    (2) whatever remains oversized is TILED: by measure concentration
    an isotropic corpus' per-pivot thetas all land in one W-wide band,
    so no banding scheme of width >= W can split it (candidate volume
    within that bucket is inherent to exact recall at low t), but
    tiling turns the one quadratic self-join group into ceil(c/B)^2/2
    groups of <= max_bucket build rows each — per-task work is bounded
    at ANY threshold on ANY corpus, which is what kills stragglers at
    1000 executors. Approximate regimes that can't afford the inherent
    candidate volume belong on semdedup_pairs / ANN instead.

    ``max_candidates`` ENFORCES that routing (VERDICT r4 next #6):
    before the candidate join runs, the band-bucket histogram
    estimates the join's output volume (sum over keys of home-count x
    probe-count — computed on the two KEY-COUNT aggregates, never the
    row-scale data) and a :class:`CandidateVolumeError` fires past
    the cap, naming semdedup/ANN, instead of letting the join fill
    the cluster's shuffle disks. Tiling bounds per-TASK work but not
    TOTAL work — the total is what this guard caps.
    """
    import math

    # +1e-9 absorbs the ~1e-15 float error of the theta fold so a pair
    # exactly AT the threshold can never straddle 2 buckets.
    w_band = math.acos(threshold) + 1e-9
    v = vecs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("e"))
    if max_bucket is not None:
        v, n_pivots = choose_pivot_count(
            v, dim, w_band, n_pivots, max_bucket, max_pivots
        )
    else:
        for p in range(n_pivots):
            v = _with_theta_band(v, p, dim, w_band)
        v = stage(v)
    home = v.select(
        "id",
        F.concat_ws(
            ":", *[F.col(f"h{p}").cast("string") for p in range(n_pivots)]
        ).alias("key"),
    )
    # Probe fan-out via an exploded integer sequence + div/mod offset
    # decode, not a 3^m-element array literal: at m pivots the literal
    # form put 3^m concat_ws trees (729 at m=6, ~4k expression nodes)
    # into ONE codegen method — janino compilation blew the default 1g
    # driver heap on a vanilla session. Here the expression stays O(m)
    # (offset p = (i / 3^p) % 3 - 1) and the 3^m multiplicity lives in
    # ROWS, with no join node at all — the shape that scales with m.
    probe_i = F.explode(
        F.sequence(F.lit(0), F.lit(3**n_pivots - 1))
    ).alias("pi")
    probe = v.select("id", *[F.col(f"h{p}") for p in range(n_pivots)],
                     probe_i).select(
        "id",
        F.concat_ws(
            ":",
            *[
                (
                    F.col(f"h{p}")
                    + (F.floor(F.col("pi") / F.lit(3**p)) % 3 - 1).cast("int")
                ).cast("string")
                for p in range(n_pivots)
            ],
        ).alias("key"),
    )
    if max_candidates is not None:
        # candidate-volume guard: estimate the join's output from the
        # two key histograms (aggregate-sized, one control-plane
        # collect) and fail fast past the cap — before the join can
        # generate its ~n^2/resolution shuffle volume
        hh = home.groupBy("key").agg(F.count(F.lit(1)).alias("nh"))
        ph = probe.groupBy("key").agg(F.count(F.lit(1)).alias("np"))
        est_row = (
            hh.join(ph, "key")
            .agg(F.sum(F.col("nh") * F.col("np")).alias("est"))
            .collect()[0]
        )
        est = est_row["est"] or 0
        if est > max_candidates:
            raise CandidateVolumeError(
                f"cosine_neardup_pairs: estimated candidate volume "
                f"{est:,} exceeds max_candidates={max_candidates:,} — "
                f"exact recall at threshold={threshold} on this corpus "
                f"is inherently ~n^2/resolution (the angular bands "
                f"cannot split it further). Route corpus-scale "
                f"near-dedup to semdedup_pairs (k-means-cell-bounded "
                f"pair space) or the ANN operators "
                f"(ocr_spark.operators.ann: IVF / sign-LSH / PQ-ADC), "
                f"or raise the threshold / max_candidates explicitly."
            )
    if max_bucket is not None:
        # TILE oversized buckets (the part sub-banding cannot fix: by
        # measure concentration an isotropic corpus' thetas all fall
        # inside ONE W-wide band per pivot, so extra pivots stop
        # subdividing — candidate volume within the degenerate bucket
        # is inherent to exact recall, but per-TASK work need not be).
        # Home rows get tile = pmod(xxhash64(id), T) (T = ceil(count /
        # max_bucket)), so every (key, tile) group holds ~max_bucket
        # build rows; probe rows fan out to ALL T tiles of their key,
        # which preserves every candidate pair. The join becomes many
        # bounded-size groups instead of one quadratic straggler —
        # the skew fix AQE can't do for a self-join on one hot key.
        home_t, probe_t = tile_home_and_probe(home, probe, max_bucket)
        cand = (
            home_t.alias("a")
            .join(
                probe_t.alias("b"),
                (F.col("a.key") == F.col("b.key"))
                & (F.col("a.tile") == F.col("b.tile"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("vec_a"),
                F.col("b.id").alias("vec_b"),
            )
            .distinct()
        )
    else:
        cand = (
            home.alias("a")
            .join(
                probe.alias("b"),
                (F.col("a.key") == F.col("b.key"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("vec_a"),
                F.col("b.id").alias("vec_b"),
            )
            .distinct()
        )
    sets = v.select("id", "e")
    return (
        cand.join(sets.alias("sa"), F.col("vec_a") == F.col("sa.id"))
        .join(sets.alias("sb"), F.col("vec_b") == F.col("sb.id"))
        .select(
            "vec_a",
            "vec_b",
            round_det(cosine(F.col("sa.e"), F.col("sb.e")), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def connected_components(
    edges: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pair edges: (id, cluster)
    where cluster = min id reachable — the canonical-keeper assignment
    that turns pair mining into actual deduplication.

    Min-label propagation in at most ``max_iter`` rounds; after k rounds
    a node's cluster is the least id within k edges of it, so the labels
    are final once a round changes none (early exit). Near-dup graphs
    are unions of small cliques: 2-3 rounds in practice.

    - The symmetric edge set, with a self loop on every node, comes
      from ONE read of ``edges`` (its lineage is the whole pair-mining
      pipeline) and is staged. An edge with one NULL endpoint adds only
      its other endpoint, as an isolated node.
    - Round 1 needs no join: each node's least neighbour over the
      closed neighbourhood is ``min(u) GROUP BY v``.
    - Every later round is one join and one aggregate that yields the
      new label and, through the self loop, the old one; the round is
      staged and the changed-label count runs on the staged rows, which
      the next round then reads.

    Each round's plan starts from the staged frame of the round before,
    so it does not grow with the rounds.
    The loop stays on the driver but touches only counts, never rows.
    """
    a, b = F.col(a_col), F.col(b_col)
    arcs = [
        F.struct(x.alias("u"), y.alias("v"))
        for x, y in ((a, b), (b, a), (a, a), (b, b))
    ]
    sym = stage(
        edges.select(F.inline(F.array(*arcs)))
        .dropna()  # a NULL endpoint is no node
        .distinct()
    )
    if max_iter < 1:
        return sym.select(F.col("v").alias("id"), F.col("v").alias("cluster")).distinct()
    labels = sym.groupBy(F.col("v").alias("id")).agg(F.min("u").alias("cluster"))
    for _ in range(max_iter - 1):
        step = stage(
            sym.join(labels, F.col("u") == F.col("id"))
            .groupBy("v")
            .agg(
                F.min("cluster").alias("cluster"),
                F.min(F.when(F.col("u") == F.col("v"), F.col("cluster"))).alias("old"),
            )
        )
        changed = step.where(F.col("cluster") < F.col("old")).count()
        labels = step.select(F.col("v").alias("id"), "cluster")
        if changed == 0:
            break
    return labels


# ---------------------------------------------------------------------------
# ExactSubstr (Lee et al. 2022): sliding duplicate windows -> removal spans
# ---------------------------------------------------------------------------

def exact_substring_spans_df(docs: DataFrame, k: int = 8) -> DataFrame:
    """Sliding k-token windows recurring in 2+ docs, merged into maximal
    per-doc removal spans (doc_id, span_start, span_end, n_windows).
    Full scale commentary in queries.exact_substring_spans; the
    dataflow: k-row narrow fan-out -> (doc, start) ordered rebuild ->
    codegen hash -> collect_set-over-hash window (no self-join) ->
    lag/running-sum island merge riding the doc_id exchange."""
    from pyspark.sql import Window

    par = docs.sparkSession.sparkContext.defaultParallelism
    t = tokens(F.col("text"))
    ex = docs.repartition(par, "doc_id").select(
        "doc_id",
        F.size(t).alias("n"),
        F.posexplode(t).alias("i", "tok"),
    )
    # token i belongs to window starts max(0, i-k+1) .. min(i, n-k);
    # bounds are ascending iff n >= k (guarded: the descending-sequence
    # trap of ADVICE r1).
    fan = ex.select(
        "doc_id",
        "i",
        "tok",
        F.explode(
            F.when(
                F.col("n") >= k,
                F.sequence(
                    F.greatest(F.lit(0), F.col("i") - (k - 1)),
                    F.least(F.col("i"), F.col("n") - k),
                ),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("s"),
    )
    win = fan.groupBy("doc_id", F.col("s").cast("long").alias("s")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("i"), F.col("tok")))),
                lambda r: r.tok,
            ),
            " ",
        ).alias("wtext")
    )
    hashed = win.select("doc_id", "s", fast_hash(F.col("wtext")).alias("h"))
    dup = hashed.withColumn(
        "nd", F.size(F.collect_set("doc_id").over(Window.partitionBy("h")))
    ).where(F.col("nd") >= 2)

    w = Window.partitionBy("doc_id").orderBy("s")
    prev = F.lag("s").over(w)
    brk = dup.select(
        "doc_id",
        "s",
        F.when(prev.isNull() | (F.col("s") > prev + (k - 1)), 1)
        .otherwise(0)
        .alias("b"),
    )
    isl = brk.withColumn("island", F.sum("b").over(w))
    return isl.groupBy("doc_id", "island").agg(
        F.min("s").alias("span_start"),
        (F.max("s") + (k - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).drop("island")


def exact_substring_dup_permille(docs: DataFrame, k: int = 8) -> DataFrame:
    """Per-doc duplicate-token rate from the ExactSubstr spans, exact
    integer permille -> (doc_id, n_tokens, covered_tokens,
    dup_permille); span-free docs read 0 through the left join."""
    from ocr_spark.operators.training import floor_div

    spans = exact_substring_spans_df(docs, k)
    cov = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "covered_tokens"
        )
    )
    base = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    out = base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("covered_tokens"), F.lit(0).cast("long")).alias(
            "covered_tokens"
        ),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "covered_tokens",
        floor_div(1000 * F.col("covered_tokens"), F.col("n_tokens")).alias(
            "dup_permille"
        ),
    )


def editdist_pairs(
    titles: DataFrame,
    max_dist: int = 2,
    q: int = 3,
    id_col: str = "id",
    text_col: str = "title",
) -> DataFrame:
    """Edit-distance near-dup join (short strings: titles, anchors,
    queries) with q-gram count filtering — exact recall for strings of
    length >= q * (max_dist + 1).

    Candidate pruning (Gravano et al., VLDB'01 q-gram bound): strings
    within edit distance d share at least
    ``max(|a|,|b|) - q + 1 - q*d`` positional q-grams; the weaker
    unpositional bound "share >= 1 q-gram" already holds whenever
    ``len >= q*(d+1)``, so an inverted-index join on distinct q-grams
    (plus a |len(a)-len(b)| <= d length filter) has exact recall and
    avoids the all-pairs cross join. Verification is the built-in
    codegen ``levenshtein`` — no python stage anywhere.

    Scale: the q-gram index is exploded rows (uniform md5'd join key —
    a stop-gram's posting list is the only skew risk, and a df-cap on
    posting lists can be layered like host_mirror_jaccard's); the
    verify join touches only candidate pairs. Same dataflow family as
    jaccard_ngram_pairs above.
    """
    t = titles.select(F.col(id_col).alias("id"), F.col(text_col).alias("s"))
    # exploded positions + codegen substring (no interpreted HOF lambda;
    # the memory'd projection-collapse rule: arrays used once may HOF,
    # but exploded rows keep the whole chain in WholeStageCodegen).
    pos = t.select(
        "id",
        F.length("s").alias("ln"),
        "s",
        F.explode(
            F.when(
                F.length("s") >= q,
                F.sequence(F.lit(1), F.length("s") - (q - 1)),
            ).otherwise(F.array(F.lit(1)))
        ).alias("i"),
    )
    grams = pos.select(
        "id",
        "ln",
        F.substring("s", F.col("i"), F.lit(q)).alias("g"),
    ).distinct()
    cand = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.abs(F.col("a.ln") - F.col("b.ln")) <= max_dist
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return (
        cand.join(t.alias("ta"), F.col("id_a") == F.col("ta.id"))
        .join(t.alias("tb"), F.col("id_b") == F.col("tb.id"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("ta.s"), F.col("tb.s"))
            .cast("bigint")
            .alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def boilerplate_shingles(
    docs: DataFrame,
    host_of=lambda c: c % 97,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Host-level boilerplate shingle mining (the corpus-side cousin of
    DOM boilerplate stripping, cf. CCNet's per-snapshot dedup of
    repeated lines): shingles that recur across >= min_df documents of
    the SAME host are navigation/footer templates, not content —
    downstream extraction subtracts them.

    Output: (host, h, df, n_docs, permille) where permille =
    1000*df/n_docs (integer floor). `host_of` derives the host from
    the doc key (zero-cost column expression — with a real url column
    the host comes from the same row; either way NO doc->host join).

    Scale: one (host, shingle) hash aggregate over the exploded rows
    (uniform keys — md5 shingle hashes don't hot-spot) plus a per-host
    count broadcast back; shingle_rows' single id-shuffle dominates.
    """
    from ocr_spark.operators.training import floor_div

    inv = shingle_rows(docs, id_col, text_col)
    per = (
        inv.select(host_of(F.col("id")).alias("host"), "h")
        .groupBy("host", "h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
    )
    hd = docs.groupBy(host_of(F.col(id_col)).alias("host")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return per.join(hd, "host").select(
        "host",
        "h",
        "df",
        "n_docs",
        floor_div(1000 * F.col("df"), F.col("n_docs")).alias("permille"),
    )


def cdc_chunks(
    docs: DataFrame,
    window: int = 8,
    mask: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (FastCDC/LBFS-style): cut each text at
    positions where the hash of the trailing ``window`` chars is 0 mod
    ``mask`` (expected chunk ~``mask`` chars). Because the boundary
    predicate depends only on local content, an insertion shifts at
    most one chunk — the property that makes chunk-hash dedup robust
    where fixed-size blocks break, and (unlike sequential min/max-size
    CDC variants) keeps every boundary decision independent, i.e.
    embarrassingly parallel.

    Returns (doc_id, chunk_idx, start, chunk_len, chunk_hash), start
    1-based, chunks covering the text exactly.

    Scale: per-position explode (the winnowing-fingerprint shape — one
    input-spreading shuffle, codegen md5 per position), boundary rows
    collapse to ~len/mask per doc, and the chunk assembly is a lag
    window partitioned by doc_id over those few rows. No HOF ever
    touches the exploded array (projection-collapse rule).
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    d = docs.repartition(par, F.col(id_col)).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("s")
    )
    pos = d.where(F.length("s") >= window).select(
        "id", "s",
        F.explode(
            F.sequence(F.lit(1), F.length("s") - (window - 1))
        ).alias("i"),
    )
    bounds = pos.where(
        fast_hash(F.expr(f"substring(s, i, {window})")) % mask == 0
    ).select("id", (F.col("i") + (window - 1)).alias("e"))
    ends = bounds.union(
        d.select("id", F.length("s").cast("long").alias("e"))
    ).distinct()
    from pyspark.sql import Window as W

    w = W.partitionBy("id").orderBy("e")
    ch = ends.select(
        "id", "e",
        (F.coalesce(F.lag("e").over(w), F.lit(0)) + 1).alias("start"),
        F.row_number().over(w).cast("long").alias("chunk_idx"),
    )
    return (
        ch.join(d, "id")
        .select(
            F.col("id").alias(id_col),
            "chunk_idx",
            F.col("start").cast("long").alias("start"),
            (F.col("e") - F.col("start") + 1).cast("long").alias("chunk_len"),
            fast_hash(
                F.expr("substring(s, start, e - start + 1)")
            ).alias("chunk_hash"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    threshold_permille: int = 600,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Directional shingle-containment join: pairs (a, b) with
    |A ∩ B| / |A| >= threshold — the asymmetric relation Jaccard
    misses (a short page quoted wholesale inside a long one scores
    high containment but low Jaccard). The quotation/partial-copy
    detector.

    Prefix filter (containment flavor of the ppjoin bound): C >= t
    implies |A∩B| >= t*|A|, so a qualifying pair shares a shingle in
    A's first floor((1-t)*|A|)+1 hashes in the global hash order —
    only the PROBE side is prefix-truncated; the indexed side posts
    every shingle (a contained doc may sit anywhere in B). The
    threshold compare is exact-integer (1000*inter >= t_permille*n_a
    — no float, no rounding).

    Scale: posting lists are keyed by md5-ordered shingle hashes (no
    stop-shingle hot key on the prefix side); the full-index side is
    the standard containment-join cost. Both posting sides and both
    verify joins read one per-doc sketch, and each verify intersects
    the two sorted sets in one codegen pass.
    """
    sketch = shingle_sketch(docs, id_col, text_col)
    probe = _prefix_postings(sketch, 1000 - threshold_permille, 1000)
    index = sketch.select(F.col("id").alias("doc_b"), F.explode("hs").alias("h"))
    cand = (
        probe.select(F.col("id").alias("doc_a"), "h")
        .join(index, "h")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    inter = F.size(F.array_intersect("a.hs", "b.hs")).cast("long")
    return (
        _sketch_pairs(cand, sketch)
        .select(
            "doc_a", "doc_b",
            inter.alias("inter"), F.size("a.hs").cast("long").alias("n_a"),
        )
        .where(1000 * F.col("inter") >= threshold_permille * F.col("n_a"))
        .select(
            "doc_a", "doc_b", "inter", "n_a",
            ((1000 * F.col("inter") - ((1000 * F.col("inter")) % F.col("n_a")))
             / F.col("n_a")).cast("long").alias("containment_permille"),
        )
    )
