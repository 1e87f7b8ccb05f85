"""Dedup family + ANN tiers: semantic properties on hand-built corpora.

Oracle parity with DuckDB is covered by tools/check_oracles.py (and the
driver's gate); these tests pin the *semantics*: recall guarantees of
the LSH band schemes, winnowing's shared-fingerprint property, and
agreement between approximate tiers and brute force.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import math
import random
import signal

import pytest
from pyspark.sql import functions as F

from ocr_spark.functions.text_analysis import (
    lang_pred,
    lang_scores,
    winnow_fingerprints,
)
from ocr_spark.operators.ann import ivf_topk, lsh_bucket_topk, sign_sketch
from ocr_spark.operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    MOD,
    cosine,
    cosine_neardup_pairs,
    jaccard_ngram_pairs,
    minhash_lsh_pairs,
    simhash,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm sunny window sill and dreams of fish"
)
NEAR = BASE.replace("dreams of fish", "dreams of mice")
OTHER = (
    "completely different content about spark shuffles partitions and "
    "adaptive query execution with no overlap at all whatsoever here"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, OTHER)], "doc_id long, text string"
    )


def test_minhash_lsh_finds_near_pair(docs):
    rows = minhash_lsh_pairs(docs, threshold=0.5).collect()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    assert (0, 1) in pairs
    assert pairs[(0, 1)] > 0.8
    assert all(2 not in p for p in pairs)


def _fast_hash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MOD


def _model_sets(docs):
    """Per id the union of its rows' word-trigram hashes; NULL ids and
    docs with no trigram have no set."""
    sets = {}
    for doc_id, text in docs:
        w = text.split(" ")
        sh = {_fast_hash(" ".join(w[i : i + 3])) for i in range(len(w) - 2)}
        if doc_id is not None and sh:
            sets.setdefault(doc_id, set()).update(sh)
    return sets


def _model_jaccard(a, b):
    """(|A∩B|, floor(J*1e4 + 0.5)/1e4): the shared count and round_det's
    4-digit Jaccard."""
    inter = len(a & b)
    return inter, math.floor(inter / (len(a) + len(b) - inter) * 1e4 + 0.5) / 1e4


def _minhash_model(docs, threshold):
    """Brute-force MinHash+LSH pairs in pure Python: the model's sets,
    16 minima of (2j+1)h + 7919j, 4 ``:``-joined band keys, candidates =
    pairs sharing a (band, key), kept when the model's Jaccard >=
    threshold."""
    sets = _model_sets(docs)
    keys = {}
    for doc_id, hs in sets.items():
        sig = [min(((2 * j + 1) * h + 7919 * j) % MOD for h in hs) for j in range(MINHASH_K)]
        keys[doc_id] = {
            (b, ":".join(str(s) for s in sig[b * LSH_ROWS : (b + 1) * LSH_ROWS]))
            for b in range(LSH_BANDS)
        }
    shared = {
        (a, b): len(keys[a] & keys[b])
        for a, b in itertools.combinations(sorted(sets), 2)
        if keys[a] & keys[b]
    }
    out = set()
    for a, b in shared:
        _, j = _model_jaccard(sets[a], sets[b])
        if j >= threshold:
            out.add((a, b, j))
    return out, shared


def _model_corpus(seed=7):
    """Families of a 40-token base and variants with a growing share of
    tokens replaced, so candidate Jaccards spread around 0.5; plus a NULL
    id, a 2-token doc and an id whose two rows together hold a base."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    docs, next_id = [], 0
    for _ in range(14):
        base = [rng.choice(vocab) for _ in range(40)]
        docs.append((next_id, " ".join(base)))
        next_id += 1
        for rate in (0.03, 0.06, 0.1, 0.15, 0.22):
            var = [rng.choice(vocab) if rng.random() < rate else t for t in base]
            docs.append((next_id, " ".join(var)))
            next_id += 1
    base = docs[0][1].split(" ")
    docs += [
        (None, docs[0][1]),
        (next_id, "w1 w2"),
        (next_id + 1, " ".join(base[:22])),
        (next_id + 1, " ".join(base[18:])),
    ]
    return docs


@pytest.mark.parametrize("threshold", [0.0, 0.5, 0.9])
def test_minhash_lsh_pairs_match_brute_force_model(spark, threshold):
    docs = _model_corpus()
    want, shared = _minhash_model(docs, threshold)
    # the corpus exercises what the model claims: a pair sharing several
    # bands, candidates on both sides of 0.5, the merged repeated id
    js = [j for *_, j in _minhash_model(docs, 0.0)[0]]
    assert max(shared.values()) >= 2
    assert min(js) < 0.5 <= max(js)
    assert (0, docs[-1][0], 1.0) in want
    rows = minhash_lsh_pairs(
        spark.createDataFrame(docs, "doc_id long, text string"), threshold=threshold
    ).collect()
    got = [(r.doc_a, r.doc_b, r.jaccard) for r in rows]
    assert len(got) == len(set(got))
    assert set(got) == want, (set(got) ^ want)


def _children(node):
    """Children of a physical plan node, looking through AQE's query
    stages and reused exchanges to the plan they stand for."""
    name = node.getClass().getSimpleName()
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _join_sides(node):
    """Yield the first non-wrapper node under each side of every join."""
    wrappers = ("Exchange", "QueryStage", "AQEShuffleRead", "Project", "Filter", "Sort")
    if "Join" in node.getClass().getSimpleName():
        for side in _children(node):
            while any(w in side.getClass().getSimpleName() for w in wrappers):
                (side,) = _children(side)
            yield side
    for child in _children(node):
        yield from _join_sides(child)


def test_minhash_lsh_pairs_plan_runs_shingles_once(spark, tmp_path):
    """Both self-join sides read ONE (band, key) exchange, which Spark
    materializes once and reuses, so the shingle explode runs once per
    query and no verify join reads a per-doc set aggregate."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(_model_corpus(), "doc_id long, text string").write.parquet(path)
    df = minhash_lsh_pairs(spark.read.parquet(path))
    df.collect()
    adaptive = df._jdf.queryExecution().executedPlan()
    assert adaptive.isFinalPlan()
    final = adaptive.executedPlan()
    plan = final.toString()
    # token explodes over the docs' text (a posexplode of the split text
    # or an inline of its zipped shifted slices): a second one would be a
    # second shingle pass
    explodes = [
        ln for ln in plan.splitlines()
        if "Generate posexplode(split(" in ln or "Generate inline(arrays_zip(" in ln
    ]
    assert len(explodes) == 1, plan
    assert plan.count("FileScan parquet") == 1, plan
    sides = [s.simpleString(100) for s in _join_sides(final)]
    assert sides and not [s for s in sides if "collect_list" in s], plan


def test_jaccard_ngram_exact_pair(docs):
    rows = jaccard_ngram_pairs(docs, threshold=0.5).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == {(0, 1)}
    (r,) = rows
    # BASE has 21 distinct shingles; only the final trigram differs, so
    # |A∩B| = 20 and |A∪B| = 22.
    assert r.jaccard == pytest.approx(20 / 22, abs=1e-4)


@pytest.mark.parametrize("threshold", [0.5, 0.9])
def test_jaccard_ngram_pairs_match_brute_force_model(spark, threshold):
    """Every pair whose Jaccard reaches the threshold, from all pairs of
    the model's sets: at thresholds >= 0.5 the floor(n/2)+1 prefix
    bound loses none of them."""
    docs = _model_corpus()
    sets = _model_sets(docs)
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter, j = _model_jaccard(sets[a], sets[b])
        if j >= threshold:
            want.add((a, b, inter, j))
    # the repeated id's two rows merge into doc 0's set
    assert (0, docs[-1][0], len(sets[0]), 1.0) in want
    rows = jaccard_ngram_pairs(
        spark.createDataFrame(docs, "doc_id long, text string"), threshold=threshold
    ).collect()
    got = [(r.doc_a, r.doc_b, r.n_shared, r.jaccard) for r in rows]
    assert len(got) == len(set(got))
    assert set(got) == want, (set(got) ^ want)


def test_simhash_identical_and_near(spark, docs):
    sh = docs.select("doc_id", simhash(F.col("text")).alias("sh")).collect()
    by_id = {r.doc_id: r.sh for r in sh}
    assert 0 <= by_id[0] < (1 << 24)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(docs, max_hamming=6).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 6


def test_simhash_band_recall_no_false_negative(spark):
    # Any pair with hamming <= 3 MUST be caught by the 4x6-bit bands.
    df = spark.createDataFrame(
        [(0, BASE), (1, BASE + " tail")], "doc_id long, text string"
    )
    sh = {r.doc_id: r.sh for r in df.select("doc_id", simhash(F.col("text")).alias("sh")).collect()}
    ham = bin(sh[0] ^ sh[1]).count("1")
    found = {(r.doc_a, r.doc_b) for r in simhash_pairs(df, max_hamming=24).collect()}
    if ham <= 3:
        assert (0, 1) in found


def test_winnowing_shared_fingerprint(spark):
    # Docs sharing a substring of length >= k + w - 1 = 11 share a
    # selected fingerprint (Schleimer guarantee).
    df = spark.createDataFrame(
        [
            (0, "xxxx shared-substring-here yyyy"),
            (1, "aaaa shared-substring-here bbbb"),
        ],
        "doc_id long, text string",
    )
    rows = df.select("doc_id", winnow_fingerprints(F.col("text")).alias("fp")).collect()
    fps = {r.doc_id: set(r.fp) for r in rows}
    assert fps[0] & fps[1]


def test_lang_pred_priority_and_scores(spark):
    df = spark.createDataFrame(
        [
            (0, "der hund und die katze ist ein tier"),
            (1, "the cat and the dog is a pet of a man"),
            (2, "xyzzy plugh quux"),  # all-zero scores -> priority 'en'
        ],
        "doc_id long, text string",
    )
    scores = lang_scores(F.col("text"))
    out = df.select(
        "doc_id", *[scores[k].alias(f"s_{k}") for k in scores]
    )
    out = out.withColumn(
        "pred", lang_pred({k: F.col(f"s_{k}") for k in scores})
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[0].pred == "de" and by_id[0].s_de > 0.5
    assert by_id[1].pred == "en"
    assert by_id[2].pred == "en" and by_id[2].s_en == 0.0


@pytest.fixture(scope="module")
def vecs(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = rng.normal(size=8).astype("float32")
        rows.append((i, [float(x) for x in v]))
    # vec 30 = near-duplicate of vec 0
    base = np.array(rows[0][1], dtype="float32")
    rows[30] = (30, [float(x) for x in base + 0.01])
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_neardup_finds_planted_pair(vecs):
    rows = cosine_neardup_pairs(vecs, threshold=0.95, dim=8).collect()
    assert {(r.vec_a, r.vec_b) for r in rows} == {(0, 30)}


def test_ivf_topk_agrees_with_brute_force_top1(vecs):
    # The planted near-dup shares vec 0's cell by construction, so IVF
    # must rank it first — same as exact brute force.
    out = ivf_topk(vecs, query_id=0, k=5, n_centroids=4, nprobe=4).collect()
    assert out[0].vec_id == 30
    assert out[0].cos > 0.99
    cs = [r.cos for r in out]
    assert cs == sorted(cs, reverse=True)


def test_lsh_sketch_identical_for_near_duplicates(vecs):
    sk = vecs.select(
        "vec_id", sign_sketch(F.col("embedding"), dim=8).alias("sk")
    ).collect()
    by_id = {r.vec_id: r.sk for r in sk}
    ham = bin(by_id[0] ^ by_id[30]).count("1")
    assert ham <= 1
    out = lsh_bucket_topk(vecs, dim=8, query_id=0, k=3, max_hamming=1).collect()
    assert out and out[0].vec_id == 30


def test_cosine_expression_matches_numpy(spark, vecs):
    import numpy as np

    rows = vecs.where(F.col("vec_id").isin(0, 1)).collect()
    a = np.array(rows[0].embedding, dtype="float64")
    b = np.array(rows[1].embedding, dtype="float64")
    want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    got = (
        vecs.where(F.col("vec_id") == 0)
        .crossJoin(
            vecs.where(F.col("vec_id") == 1).select(F.col("embedding").alias("e2"))
        )
        .select(cosine(F.col("embedding"), F.col("e2")).alias("c"))
        .collect()[0]
        .c
    )
    assert got == pytest.approx(want, rel=1e-12)


def test_connected_components_chain_and_islands(spark):
    from ocr_spark.operators.dedup import connected_components

    # component {1,2,3,4} as a chain, component {10,11}, pair (20,21)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)],
        "doc_a long, doc_b long",
    )
    out = {r.id: r.cluster for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def _labels(df):
    return {r.id: r.cluster for r in df.collect()}


def test_connected_components_max_iter_truncates(spark):
    """``max_iter`` caps the propagation rounds: after k rounds a node's
    cluster is the least id within k edges, and 0 rounds leave every
    node its own cluster."""
    from ocr_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    assert _labels(connected_components(edges, max_iter=3)) == {
        i: max(0, i - 3) for i in range(10)
    }
    assert _labels(connected_components(edges, max_iter=0)) == {
        i: i for i in range(10)
    }


def test_connected_components_duplicate_reversed_and_self_loop_edges(spark):
    from ocr_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3), (5, 4), (4, 5), (5, 5), (7, 6), (6, 6)],
        "doc_a long, doc_b long",
    )
    assert _labels(connected_components(edges)) == {
        1: 1, 2: 1, 3: 3, 4: 4, 5: 4, 6: 6, 7: 6,
    }


def test_connected_components_null_endpoint_is_no_node(spark):
    from ocr_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, None), (None, 5), (5, 6)], "doc_a long, doc_b long"
    )
    assert _labels(connected_components(edges)) == {1: 1, 5: 5, 6: 5}


def test_connected_components_empty_edges(spark):
    from ocr_spark.operators.dedup import connected_components

    out = connected_components(spark.createDataFrame([], "doc_a long, doc_b long"))
    assert out.dtypes == [("id", "bigint"), ("cluster", "bigint")]
    assert out.count() == 0


@contextlib.contextmanager
def _deadline(seconds):
    """Raise TimeoutError in the main thread after ``seconds`` of wall
    time, so a test whose cost grows without bound fails instead of
    hanging the session."""

    def fire(signum, frame):
        raise TimeoutError(f"still running after {seconds} s")

    prev = signal.signal(signal.SIGALRM, fire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)


def _union_find_min(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_long_chain_and_random_graphs(spark):
    """Each round's plan must not grow with the rounds before it: a
    24-edge chain needs 24 rounds, and with a plan that nests every
    earlier round (a persisted frame joined back to its predecessor)
    planning time doubles per round. Seeded random graphs with
    duplicate, reversed and self-loop edges must give the clusters of
    a union-find."""
    from ocr_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(24)]
    graphs = []
    for seed in (3, 17, 41):
        rng = random.Random(seed)
        n = 60
        base = seed * 1000
        g = [(base + rng.randrange(n), base + rng.randrange(n)) for _ in range(50)]
        g += [(b, a) for a, b in g[:5]] + g[5:10] + [(g[0][0],) * 2, (base + n,) * 2]
        graphs += g
    edges = spark.createDataFrame(chain + graphs, "doc_a long, doc_b long")
    with _deadline(50):
        got = _labels(connected_components(edges, max_iter=40))
    assert {i: got[i] for i in range(25)} == {i: 0 for i in range(25)}
    assert got == _union_find_min(chain + graphs)


def test_cosine_neardup_candidate_volume_guard(spark):
    """VERDICT r4 next #6: a planted DENSE corpus (every vector
    identical → one angular bucket, quadratic candidate volume) must
    trip the enforced routing guard BEFORE the candidate join runs,
    and the error must route the caller to semdedup/ANN."""
    from ocr_spark.operators.dedup import CandidateVolumeError

    n = 200
    dense = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array([F.lit(1.0)] + [F.lit(0.0)] * 7).alias("embedding"),
    )
    with pytest.raises(CandidateVolumeError) as ei:
        cosine_neardup_pairs(
            dense, threshold=0.4, dim=8, max_candidates=1000
        ).count()
    msg = str(ei.value)
    assert "semdedup" in msg and "ann" in msg.lower()
    assert "max_candidates" in msg

    # head-room case: the same corpus under a generous cap still runs
    # (guard is an estimate comparison, not a behavior change)
    ok = cosine_neardup_pairs(
        dense, threshold=0.4, dim=8, max_candidates=10_000_000
    )
    assert ok.count() == n * (n - 1) // 2
