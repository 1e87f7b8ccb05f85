"""Physical-plan audits: the plans we ship are the plans we designed.

Each assertion encodes a scale contract from SURVEY.md §4: filters and
column pruning reach the parquet scan, small dimensions broadcast, the
extraction pipeline stays a single narrow stage, and Python only ever
appears as Arrow-batched UDF stages (never row-at-a-time).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_shipdate") <= "1998-09-02")
        .select("l_returnflag", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: scan reads only the 3 referenced columns
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" in rs and "l_quantity" in rs and "l_shipdate" in rs
    assert "l_extendedprice" not in rs and "l_comment" not in rs


def test_small_dimension_joins_broadcast(spark):
    from ocr_spark.queries import QUERIES

    plan = _plan(QUERIES["q5_nation_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the big fact-fact join may shuffle, but nation/region never should
    assert plan.count("BroadcastHashJoin") >= 2


def test_extraction_pipeline_is_shuffle_free(spark):
    from ocr_spark.operators.pipeline import extract_pages
    from ocr_spark.sources.corpus import pages_df

    plan = _plan(extract_pages(pages_df(spark, 32, embed_scan=True)))
    assert "Exchange" not in plan  # one narrow stage end-to-end
    assert "ArrowEvalPython" in plan or "MapInArrow" in plan or "PythonMapInArrow" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python, ever


def test_flagship_query_no_rowwise_python(spark):
    import re

    from ocr_spark.queries import QUERIES

    plan = _plan(QUERIES["flagship_extract"](spark, SF))
    assert "BatchEvalPython" not in plan
    # exactly ONE exchange: the input-spreading repartition that keeps a
    # single-file documents table from serializing the UDF onto one core
    # (documents_as_pages); everything downstream stays narrow
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_dedup_family_all_jvm(spark):
    from ocr_spark.queries import QUERIES

    for name in ("dedup_minhash_lsh", "dedup_simhash", "dedup_jaccard_ngram"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "Python" not in plan, f"{name} fell off the JVM path"


def test_ann_broadcasts_query_side(spark):
    from ocr_spark.queries import QUERIES

    for name in ("ann_cosine_topk", "ann_ivf_topk", "ann_lsh_topk"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "Broadcast" in plan, f"{name} missing broadcast"
        assert "Python" not in plan


def test_agg_is_partial_then_final_single_shuffle(spark):
    from ocr_spark.queries import QUERIES

    import re

    plan = _plan(QUERIES["q1_pricing_summary"](spark, SF))
    # map-side partial agg + final agg with exactly ONE exchange between
    # them (AQE wraps the plan, so codegen markers only appear post-run).
    # "formatted" prints each node in tree + detail, so count detail
    # headers "(N) Operator".
    aggs = re.findall(r"^\(\d+\) HashAggregate", plan, re.M)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(aggs) == 2
    assert len(exchanges) == 1
    assert "SortAggregate" not in plan


def test_training_ops_plans(spark):
    """Training-assembly queries: all-JVM, broadcasts where a small
    side exists, and the corpus-wide prefix-sum window is partitioned
    (only the bucket-level aggregate — corpus/100 rows — may sort
    globally)."""
    from ocr_spark.queries import QUERIES

    for name in (
        "pack_training_sequences",
        "kmeans_embedding_clusters",
        "bm25_topk",
        "temperature_resample_hosts",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name  # pure codegen ops

    pack = _plan(QUERIES["pack_training_sequences"](spark, SF))
    # the per-doc cumsum window is keyed by bucket, never corpus-global
    assert "windowspecdefinition(bucket#" in pack
    for name in ("bm25_topk", "temperature_resample_hosts",
                 "kmeans_embedding_clusters"):
        assert "BroadcastExchange" in _plan(QUERIES[name](spark, SF)), name


def test_extraction_udf_never_duplicated(spark):
    """Regression guard for the pushdown-cloning pathology: Catalyst
    once pushed the composed pipeline's quality filter below the
    input-spread Exchange by CLONING the extraction UDF there (full
    corpus extracted twice). The fence (extract._main_text_udf_fenced)
    must keep every extraction plan at exactly ONE ArrowEvalPython."""
    import re

    from ocr_spark.queries import QUERIES

    for name in (
        "pipeline_training_corpus",
        "pipeline_pack_training_sequences",
        "flagship_extract",
        "warc_roundtrip_extract",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        n = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
        # pipeline_pack hides its single UDF eval behind stage()
        # (lineage truncated -> 0 visible nodes); every
        # other extraction plan must show exactly one.
        limit = 1 if name != "pipeline_pack_training_sequences" else 0
        assert n == limit, f"{name}: {n} ArrowEvalPython nodes"


def test_round2_late_queries_plan_hygiene(spark):
    """PageRank / PMI / chunking / report card / global rank: all-JVM,
    no cartesian products, and the global-rank window is
    bucket-partitioned (the whole point of the two-tier form)."""
    import re

    from ocr_spark.queries import QUERIES

    for name in (
        "host_pagerank",
        "pmi_cooccurrence_top20",
        "doc_chunk_windows",
        "corpus_report_card",
        "global_rank_doc_length",
        "doc_repetition_filters",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "Python" not in plan, name
        assert "CartesianProduct" not in plan, name

    chunk = _plan(QUERIES["doc_chunk_windows"](spark, SF))
    assert not re.findall(r"^\(\d+\) Exchange", chunk, re.M)  # map-only

    rank = _plan(QUERIES["global_rank_doc_length"](spark, SF))
    assert "windowspecdefinition(bucket#" in rank


def test_no_query_duplicates_python_udfs(registry_plans):
    """Systematic audit over EVERY registered query: no physical plan
    may contain more than one ArrowEvalPython node, and no plan may
    contain the SAME MapInPandas/MapInArrow stage twice (identical
    Arguments line = one python stage replanned into multiple consumer
    subtrees — the r5 sitemap_recrawl_frontier / warc_revisit_dedup
    finding; distinct sequential python stages are fine). Shared-
    lineage re-evaluation of a python stage is the single most
    expensive silent plan regression this engine can have."""
    import re

    offenders = {}
    for name, plan in registry_plans(SF).items():
        n = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
        if n > 1:
            offenders[name] = f"{n} ArrowEvalPython"
            continue
        lines = plan.splitlines()
        args = []
        for i, ln in enumerate(lines):
            if re.match(
                r"^\(\d+\) (MapInPandas|MapInArrow|PythonMapInArrow"
                r"|FlatMapGroupsInPandas)",
                ln.strip(),
            ):
                for j in range(i + 1, min(i + 6, len(lines))):
                    if lines[j].startswith("Arguments: "):
                        args.append(lines[j])
                        break
        dups = len(args) - len(set(args))
        if dups:
            offenders[name] = f"{dups} duplicated python map stage(s)"
    assert not offenders, offenders


def test_robots_filter_broadcast_no_nested_loop(spark):
    """Longest-prefix robots matching must stay an equi broadcast hash
    join (segment-boundary explode), never a LIKE-prefix nested loop."""
    from ocr_spark.queries import QUERIES

    plan = _plan(QUERIES["robots_prefix_filter"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    # r4: the longest-prefix pick is a single-BIGINT max — a string in
    # the aggregation buffer (max_by struct) would plan SortAggregate.
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_exact_substring_spans_single_window_sort_chain(spark):
    """Span merge must reuse the doc_id exchange: lag + running sum +
    final agg ride ONE shuffle; no python stages anywhere."""
    from ocr_spark.queries import QUERIES

    plan = _plan(QUERIES["exact_substring_spans"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 8  # spread, (doc,s) agg, h window, doc_id


# Partitionless ORDERED windows allowed ONLY over provably bounded
# inputs (VERDICT r4 #3). Three approved shapes, each named with its
# bound:
#  - bucket-tier offset windows: the tiny (<= ~257-row) bucket-count
#    aggregate of the two-tier rank / prefix-sum / prefix-max form
#    (global_rank_doc_length pattern; operators/analytics.two_tier_rank)
#  - post-limit windows: input already reduced by orderBy().limit(k)
#    -> TakeOrderedAndProject (<= k rows)
#  - per-grouping-key aggregate windows: one row per key of an
#    upstream groupBy (skew_report's per-key count table)
_BOUNDED_GLOBAL_WINDOW_QUERIES = {
    # bucket-tier (two_tier_rank / prefix decomposition)
    "global_rank_doc_length",
    "pack_training_sequences",
    "pipeline_pack_training_sequences",
    "crawl_budget_apportionment",
    "late_data_accounting",
    "conversion_latency_quantiles",
    "host_count_outliers",
    "rrf_fusion_top10",
    # post-limit bounded (<= 20 / <= 100 rows)
    "vocab_coverage_curve",
    "zipf_slope_estimate",
    # per-grouping-key aggregate (skew_report)
    "shuffle_skew_report",
}


def _partitionless_ordered_windows(plan: str) -> list[str]:
    """Window nodes whose spec has NO partition clause but DOES have
    an ORDER clause — the single-task global-sort anti-pattern. The
    formatted detail line is ``Arguments: [exprs], [partition],
    [order]``; a missing partition list leaves two groups with the
    second carrying ASC/DESC markers (a partition-only window also
    prints two groups, but its second group has no sort direction)."""
    import re

    out = []
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if ln.strip().startswith("(") and ln.strip().endswith("Window"):
            for j in range(i + 1, min(i + 6, len(lines))):
                if lines[j].startswith("Arguments: "):
                    args = lines[j][len("Arguments: "):]
                    groups, depth, cur = [], 0, []
                    for ch in args:
                        if ch == "[":
                            if depth == 0:
                                cur = []
                            depth += 1
                            cur.append(ch)
                        elif ch == "]":
                            depth -= 1
                            cur.append(ch)
                            if depth == 0:
                                groups.append("".join(cur))
                        elif depth > 0:
                            cur.append(ch)
                    bad = len(groups) == 1 or (
                        len(groups) == 2
                        and re.search(r"(ASC|DESC) NULLS", groups[1])
                    )
                    if bad:
                        out.append(args[:160])
                    break
    return out


# Queries allowed >5 scans of one parquet file: COMPOSITIONS of
# distinct signal stages, each stage a different column-pruned pass
# computing a different quantity (NOT replication of one expensive
# subtree — that class is staged with stage() and audited
# away; see the r5 graph-operator staging work).
_DISTINCT_PASS_COMPOSITIONS = {
    "doc_quality_panel",      # 5 independent quality signals + LM model
    "curation_decisions",     # composes the panel
    "analytics_id_extract",   # several independent ID-pattern passes
}


def test_no_query_has_cartesian_product_or_global_window(registry_plans):
    """Systematic audit over EVERY registered query (single plan
    sweep): (a) CartesianProduct must never appear (constant-build-
    side BroadcastNestedLoopJoin is allowed — single-row norm/query
    broadcasts — but an unpruned cartesian is always a plan bug at
    corpus scale); (b) no partitionless ORDERED WindowExec outside
    the named bounded-input allowlist — a global window over
    corpus-derived data is a single-task sort, the anti-pattern the
    two-tier bucket rank exists to retire (VERDICT r4 #3); (c) no
    plan may scan the SAME parquet file more than 5 times outside
    the named distinct-pass compositions — r5 found iterative
    operators whose un-staged loops replanned (and re-executed, no
    runtime exchange reuse) the corpus subtree up to 156 times; the
    fix is per-round/multi-consumer staging (stage()), and
    this cap keeps the class from growing back."""
    import collections
    import re

    cartesian, windows, scans = [], {}, {}
    for name, plan in registry_plans(SF).items():
        if "CartesianProduct" in plan:
            cartesian.append(name)
        pw = _partitionless_ordered_windows(plan)
        if pw and name not in _BOUNDED_GLOBAL_WINDOW_QUERIES:
            windows[name] = pw
        files = re.findall(
            r"Location: \S+ \[[^\]]*?([a-z_]+)\.parquet", plan
        )
        worst = {
            t: c for t, c in collections.Counter(files).items() if c > 5
        }
        if worst and name not in _DISTINCT_PASS_COMPOSITIONS:
            scans[name] = worst
    assert not cartesian, cartesian
    assert not windows, windows
    assert not scans, scans


def test_session5_heavy_ops_plan_hygiene(spark):
    """Session-5 pure-JVM operators: no python stage, no cartesian,
    the prefix-filtered containment join candidates come from a hash
    equi-join on the shingle key, and the prefix-filtered set joins
    take their prefixes as slices of the per-doc sketch, not from a
    per-shingle rank window."""
    from ocr_spark.queries import QUERIES

    for name in (
        "pca_power_component",
        "containment_pairs",
        "cdc_chunks",
        "cdc_crawl_reuse",
        "host_communities_lp",
        "ngram_novelty",
        "feature_hash_embeddings",
        "tfidf_keywords_top3",
        "phrase_match_positions",
        "jaccard_threshold_histogram",
        "user_decayed_errors",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "Python" not in plan, name
        assert "CartesianProduct" not in plan, name

    cont = _plan(QUERIES["containment_pairs"](spark, SF))
    assert "SortMergeJoin" in cont or "ShuffledHashJoin" in cont \
        or "BroadcastHashJoin" in cont
    for name in (
        "dedup_jaccard_ngram", "containment_pairs", "minhash_estimate_error"
    ):
        assert "Window" not in _plan(QUERIES[name](spark, SF)), name


def test_kmeans_family_hash_aggregates_only(spark):
    """VERDICT r3 #1: the k-means assign step must HASH-aggregate.

    min(struct(dist, cluster)) — and equally first(qv), whose array
    buffer is immutable in UnsafeRow — forced a corpus-sized
    partition-local Sort + SortAggregate EVERY Lloyd round, leaking
    into semdedup_pairs and kmeans_cluster_purity too. The argmin is
    now one BIGINT min (dist << cbits | cluster) with qv carried as a
    group key, so no kmeans-family plan may contain SortAggregate, and
    the pure-kmeans plans may not sort at all (semdedup/purity keep the
    sort-merge JOIN sorts of the within-cell pair step — join
    machinery, not the assign aggregate)."""
    import re

    from ocr_spark.queries import QUERIES

    for name in (
        "kmeans_embedding_clusters",
        "semdedup_pairs",
        "kmeans_cluster_purity",
        # same single-BIGINT argmin/argmax pattern applied r4:
        # max_by(node, struct(w, node)) and min(struct(-c, lbl))
        # both had UnsafeRow-immutable struct buffers
        "rendezvous_sharding",
        "host_communities_lp",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "SortAggregate" not in plan, name
        # r5: iterative/multi-consumer queries stage their rounds
        # (stage()), so the aggregate may live inside a truncated
        # ExistingRDD lineage rather than the final plan. For those,
        # the ROUND-BODY plans are pinned separately below (_lp_round,
        # and kmeans_recenter, whose centroids kmeans_quantized stages;
        # its last assign stays in the kmeans_embedding_clusters plan).
        assert "HashAggregate" in plan or "Scan ExistingRDD" in plan, name

    # the staged queries' round bodies, pinned UN-staged so the
    # hash-agg contract can't silently rot behind a checkpoint:
    from ocr_spark.qparts.part01 import _lp_round

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1)], "src int, dst int"
    )
    labels = spark.createDataFrame([(0, 0), (1, 1), (2, 2)], "h int, lbl int")
    round_plan = _plan(_lp_round(edges, labels))
    assert "SortAggregate" not in round_plan
    assert "HashAggregate" in round_plan
    from ocr_spark.operators.training import kmeans_assign, kmeans_recenter

    vecs = spark.createDataFrame(
        [(0, [0, 2]), (1, [4, 6]), (2, [8, 8])], "vec_id long, qv array<bigint>"
    )
    cents = vecs.where(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("qv").alias("cv")
    )
    recenter_plan = _plan(kmeans_recenter(kmeans_assign(vecs, cents, 2), 2))
    assert "SortAggregate" not in recenter_plan
    assert not re.findall(r"^\(\d+\) Sort", recenter_plan, re.M)
    for name in ("kmeans_embedding_clusters", "kmeans_cluster_purity"):
        plan = _plan(QUERIES[name](spark, SF))
        assert not re.findall(r"^\(\d+\) Sort", plan, re.M), name


def test_neardup_tiling_has_no_window(spark):
    """VERDICT r3 #2: the max_bucket tiling guard must not assign
    tiles with a per-key row_number window — on the degenerate one-key
    corpus the guard exists for, that window was itself a single-task
    corpus sort. The hash-tile form (pmod(xxhash64(id), n_tiles)) has
    no Window node anywhere in the armed neardup plan."""
    from pyspark.sql import functions as F  # noqa: F811

    from ocr_spark.operators.dedup import cosine_neardup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = cosine_neardup_pairs(emb, threshold=0.4, dim=64, max_bucket=64)
    assert "Window" not in _plan(df)


def test_session6_distributed_shapes(spark):
    """Session-6 shape contracts: the section ROLLUP is one Expand +
    a SINGLE Exchange; the tracker co-ownership projection carries no
    SortAggregate, no cartesian, and no FORCED broadcast of the
    corpus-scaled fan dim (AQE may still choose one at runtime); the
    per-row extraction batches stay shuffle-free and Python-free."""
    import re

    from ocr_spark.queries import QUERIES

    rollup = _plan(QUERIES["site_section_rollup"](spark, SF))
    assert "Expand" in rollup
    assert len(re.findall(r"^\s*\+?-?\s*\(\d+\) Exchange", rollup, re.M)) == 1
    assert "SortAggregate" not in rollup

    coown = _plan(QUERIES["tracker_coownership_edges"](spark, SF))
    assert "SortAggregate" not in coown
    assert "CartesianProduct" not in coown
    assert "Python" not in coown

    for name in (
        "isbn_validate_extract",
        "uuid_version_profile",
        "meta_keywords_stuffing",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "Python" not in plan, name
        assert "Exchange" not in plan, name  # rides the scan, no shuffle

    # join-shaped session-6 queries: equi-joins only, all JVM
    for name in (
        "hreflang_reciprocity_audit",
        "analytics_id_extract",
        "ip_colocation_groups",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "Python" not in plan, name


def test_session7_distributed_shapes(spark):
    """Session-7 shape contracts. anchor_text_consensus: every
    corpus-scaled aggregate is a HashAggregate and the lone
    SortAggregate (min over the winner STRING) consumes an already-
    aggregated tie set, never scan output — pinned by requiring a
    HashAggregate below it in the same plan and no Window anywhere.
    The boilerplate/alias/param miners: hash-agg only, no cartesian,
    no forced broadcast of corpus-scaled dims. event_transition_matrix
    keeps its window KEYED (partition by user_id, never empty
    partitioning). Per-row session-7 extractors stay shuffle- and
    Python-free."""
    from ocr_spark.queries import QUERIES

    anchor = _plan(QUERIES["anchor_text_consensus"](spark, SF))
    assert "HashAggregate" in anchor
    assert "Window" not in anchor
    assert "CartesianProduct" not in anchor
    # the only SortAggregates are the string-winner pick (two-phase
    # partial+final pair over the tie set): exactly two nodes, and
    # the plan's only sort-aggregated function is min(anchor)
    import re as _re

    assert len(_re.findall(r"\(\d+\) SortAggregate", anchor)) == 2
    assert "min(anchor" in anchor
    for fns in _re.findall(r"SortAggregate[\s\S]{0,400}?Functions \[1\]: \[(\w+)\(", anchor):
        assert fns in ("min", "partial_min")

    for name in (
        "host_boilerplate_lines",
        "session_param_entropy",
        "url_alias_groups",
        "host_outlink_fanout",
        "event_burst_hours",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "SortAggregate" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "Python" not in plan, name

    trans = _plan(QUERIES["event_transition_matrix"](spark, SF))
    assert "CartesianProduct" not in trans
    assert "windowspecdefinition(user_id" in trans  # keyed, never empty


def test_session9_shapes(spark):
    """Session-9 shape contracts. email_thread_graph is the one
    join-shaped newcomer: root/depth resolve through the shared
    _pointer_jump doubling (equi-joins on message-id keys) and the
    thread-size count is a HashAggregate — no Window, no cartesian,
    no SortAggregate, no Python anywhere. The session's per-row
    extractors (raw-file, playlist, outline, and capture formats)
    stay single-scan: no Exchange, no Python."""
    from ocr_spark.queries import QUERIES

    thread = _plan(QUERIES["email_thread_graph"](spark, SF))
    assert "HashAggregate" in thread
    assert "Window" not in thread
    assert "CartesianProduct" not in thread
    assert "SortAggregate" not in thread
    assert "Python" not in thread

    for name in (
        "makefile_targets",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "Exchange" not in plan, name
        # literal doc text can legitimately contain the word "Python"
        # (rst_structure_parse's corpus says "Requires Python 3.") —
        # assert on the operator names, not the substring
        assert "EvalPython" not in plan, name
        assert "PythonUDF" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_zipf_slope_shape(spark):
    """zipf_slope_estimate: the corpus-scaled stage is a token
    HashAggregate; the only window runs over the bounded top-100
    TakeOrdered tail, never corpus rows. No cartesian, no Python."""
    from ocr_spark.queries import QUERIES

    plan = _plan(QUERIES["zipf_slope_estimate"](spark, SF))
    assert "HashAggregate" in plan
    assert "TakeOrdered" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "PythonUDF" not in plan


def test_session10_distributed_shapes(spark):
    """Session-10 contracts. bigram_pmi_mining: corpus stages are
    HashAggregates (explode -> bigram/unigram counts with map-side
    partials); totals ride single-row broadcast joins; no Window, no
    SortAggregate, no cartesian. doc_rare_term_pick follows the
    anchor_text_consensus discipline: tf/df/max are HashAggregates and
    the only string-ordered aggregate (MIN over the tie set) runs on
    join-reduced rows — at most two SortAggregate nodes (partial +
    final of that one aggregate), and the tie join is an equi-join on
    (doc_id, score), never score alone. graph_two_hop_reach: DISTINCT
    dedup + equi-join + two-level distinct count, all hash, no Window."""
    from ocr_spark.queries import QUERIES

    pmi = _plan(QUERIES["bigram_pmi_mining"](spark, SF))
    assert "HashAggregate" in pmi
    assert "Window" not in pmi
    assert "SortAggregate" not in pmi
    assert "CartesianProduct" not in pmi
    assert "EvalPython" not in pmi and "PythonUDF" not in pmi

    rare = _plan(QUERIES["doc_rare_term_pick"](spark, SF))
    assert "HashAggregate" in rare
    assert "Window" not in rare
    # formatted explain prints each node twice (tree + details):
    # <= 4 hits == <= 2 SortAggregate nodes (partial + final of the
    # single MIN(term) tie-set aggregate)
    assert rare.count("SortAggregate") <= 4
    assert "CartesianProduct" not in rare
    # the tie join-back must key on (doc_id, score), not collapse to
    # score-only: assert on the JOIN NODE's key lines, not on the
    # plan text at large ('doc_id' appears in every scan node, so a
    # whole-plan substring check could not detect the analyzer
    # folding the doc_id equality to TRUE)
    key_lines = [
        ln for ln in rare.splitlines()
        if ln.startswith(("Left keys", "Right keys"))
    ]
    two_key = [
        ln for ln in key_lines
        if "doc_id" in ln and ("score" in ln or "top_score" in ln)
    ]
    assert two_key, f"no join keyed on (doc_id, score): {key_lines}"
    assert "EvalPython" not in rare and "PythonUDF" not in rare

    hop = _plan(QUERIES["graph_two_hop_reach"](spark, SF))
    assert "HashAggregate" in hop
    assert "Window" not in hop
    assert "SortAggregate" not in hop
    assert "CartesianProduct" not in hop
    assert "EvalPython" not in hop and "PythonUDF" not in hop


def test_session10_event_shapes(spark):
    """Events-table session-10 shapes: funnel/retention/heavy-user
    are all HashAggregate + equi-join chains on user_id — no Window
    over raw events, no SortAggregate, no cartesian (the scalar
    single-row totals ride BroadcastNestedLoopJoin, which is the
    intended shape for 1-row cross joins), no Python."""
    from ocr_spark.queries import QUERIES

    for name in (
        "event_funnel_conversion",
        "user_retention_cohorts",
        "heavy_user_event_share",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "HashAggregate" in plan, name
        assert "Window" not in plan, name
        assert "SortAggregate" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "EvalPython" not in plan and "PythonUDF" not in plan, name


def test_cross_host_syndication_shape(spark):
    """cross_host_line_syndication: distinct/df/pair-count stages are
    all HashAggregates; the self-join is an equi-join on the line key
    AFTER the df band filter (cap-before-join); no Window, no
    cartesian, no Python."""
    from ocr_spark.queries import QUERIES

    plan = _plan(QUERIES["cross_host_line_syndication"](spark, SF))
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "PythonUDF" not in plan


def test_host_priors_join_shape(spark):
    """host_quality_priors_join: two per-host HashAggregates +
    scalar-broadcast total + left join on host; countDistinct plans
    the two-level partial aggregate; no Window, no SortAggregate, no
    cartesian, no Python."""
    from ocr_spark.queries import QUERIES

    plan = _plan(QUERIES["host_quality_priors_join"](spark, SF))
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "PythonUDF" not in plan


def test_source_lang_shapes(spark):
    """source_lang_contingency / source_dominant_lang: every stage
    is a HashAggregate (the dominant-lang argmax rides the
    single-BIGINT encoding, never min/max(struct)); no Window, no
    SortAggregate, no cartesian, no Python."""
    from ocr_spark.queries import QUERIES

    for name in ("source_lang_contingency",):
        plan = _plan(QUERIES[name](spark, SF))
        assert "HashAggregate" in plan, name
        assert "Window" not in plan, name
        assert "SortAggregate" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "EvalPython" not in plan and "PythonUDF" not in plan, name


def test_pointer_jump_stages_per_round(spark):
    """VERDICT r4 #2: the doubling loop must not replay its upstream
    2^rounds times. Each round is staged (stage() →
    Scan ExistingRDD), so the FINAL plan of redirect_final_url
    contains ZERO WARC-parse Python stages (the parse runs once,
    inside the first staged lineage) and pagination_rel_chains
    contains ZERO SortAggregate nodes (the min(string) predecessor
    pick runs once, staged). Both plans must show the materialized
    boundaries."""
    from ocr_spark.queries import QUERIES

    red = _plan(QUERIES["redirect_final_url"](spark, SF))
    assert "EvalPython" not in red and "MapInPandas" not in red, (
        "WARC parse leaked into the doubling lineage"
    )
    assert "SortAggregate" not in red
    assert "Scan ExistingRDD" in red  # staged rounds present

    pag = _plan(QUERIES["pagination_rel_chains"](spark, SF))
    assert "SortAggregate" not in pag, (
        "min(string) predecessor pick replayed in the doubling lineage"
    )
    assert "EvalPython" not in pag and "PythonUDF" not in pag
    assert "Scan ExistingRDD" in pag
    assert "CartesianProduct" not in pag


def test_pointer_jump_round_count_is_logarithmic(spark):
    """The staged doubling must still be O(log max_hops) rounds —
    6 self-joins for max_hops=64 — not an unrolled linear walk.
    Pinned via the round count the operator itself reports."""
    from ocr_spark.operators.crawl import _pointer_jump

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    f, rounds = _pointer_jump(e, 64)
    assert rounds == 6
    got = {r["src"]: r["dst"] for r in f.collect()}
    assert got == {"a": "d", "b": "d", "c": "d"}
