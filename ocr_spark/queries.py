"""Query registry facade: one entry per engine capability, with DuckDB
oracles.

The registry itself lives in ocr_spark/qparts/part01.py and part02.py
(no single module above ~10k lines), registered in order into the
shared QUERIES/ORACLE dicts of ocr_spark.queries_base. part02 starts
from part01's namespace and no part01 code names a part02 definition,
so plain sequential imports resolve every helper. This facade imports
the parts (registration side effects), re-exports every name so
existing ``from ocr_spark.queries import X`` sites keep working, and
applies the curated first-50 ordering.
"""

from __future__ import annotations

import ocr_spark.qparts.part02 as _last  # imports (registers) part01 first

globals().update(
    {k: v for k, v in vars(_last).items() if not k.startswith("__")}
)


_DRIVER_FIRST_50 = [
    # Round-5 rotation (VERDICT r4 next #5): 5 re-grades pinning this
    # round's fixes + 45 NEVER-driver-graded, structurally distinct
    # queries (prior distinct-ever-graded: 110; after this round: 155).
    #
    # --- re-grades: every query whose code or oracle changed r5 ---
    "flagship_extract",          # headline extraction (every round)
    "compaction_bin_plan",       # r4's only red row — oracle typed fix
    "redirect_final_url",        # staged pointer-jump (VERDICT #2)
    "pagination_rel_chains",     # staged min(string) pick (VERDICT #2)
    "late_data_accounting",      # two-tier prefix-max frontier (#3)
    # --- first-time grades: r5-dewindowed queries (VERDICT #3) ---
    "vocab_coverage_curve",      # post-limit rank+cumsum
    "bpe_word_segmentations",    # TakeOrdered top-20
    "rrf_fusion_top10",          # two-tier posting-list ranks
    "url_front_coding_estimate", # per-shard front coding
    "join_size_planner",         # TakeOrdered top-5 keys
    "conversion_latency_quantiles",  # two-tier rank order stats
    "host_count_outliers",       # two-tier rank medians (MAD)
    # --- first-time: r5 oracle-typing fixes + ADVICE items ---
    "events_json_props",         # SUM cast drift fix
    "props_schema_drift",        # floor-div cast drift fix
    "bigram_pmi_mining",         # exact integer `div` lift
    "robots_ai_agent_matrix",    # agent-token swap
    # --- first-time: zero-driver-history families ---
    "global_rank_doc_length",    # the two-tier rank pattern itself
    "host_length_quantiles",     # exact order statistics
    "minhash_estimate_error",    # sketch-vs-exact error audit
    "canonical_election",        # dup-group canonical pick
    "cocitation_top",            # graph co-citation
    "hits_hubs_authorities",     # HITS power iteration
    "host_triangle_counts",      # graph triangles
    "graph_two_hop_reach",       # bounded BFS expansion
    "link_prediction_pairs",     # common-neighbor scoring
    "hll_host_sketches",         # HLL registers
    "rendezvous_sharding",       # HRW placement
    "zorder_file_ranges",        # Z-order layout planning
    "consistent_hash_rebalance", # ring rebalance audit
    "epoch_shuffle_positions",   # training epoch shuffling
    "temperature_resample_hosts",  # mixture temperature weights
    "doc_gopher_filters",        # quality gate battery
    "doc_rare_term_pick",        # tie join-back (ADVICE pin)
    "dup_group_taxonomy",        # dup-class census
    "crawl_frontier_schedule",   # politeness timetable
    "dom_template_clusters",     # template clustering
    "jaccard_threshold_histogram",  # all-pairs threshold sweep
    "events_sliding_windows",    # overlapping hop windows
    "retention_cohorts",         # cohort retention matrix
    "funnel_conversion",         # staged funnel counts
    "shuffle_skew_report",       # skew diagnostic
    "zipf_slope_estimate",       # log-log vocabulary regression
    "tfidf_keywords_top3",       # per-doc keyword argmax
    "feature_hash_embeddings",   # hashing-trick features
    "ngram_novelty",             # cross-epoch novelty
    "user_decayed_errors",       # exponential-decay scores
    "phrase_match_positions",    # positional phrase match
    "dataset_split_assignment",  # split hashing
    "sitemap_parse",             # XML sitemap extraction
    "bitext_mine_pairs",         # banded-cosine best-match mining
]


def _reorder_for_driver() -> None:
    missing = [n for n in _DRIVER_FIRST_50 if n not in QUERIES]
    assert not missing, f"curated driver list names unknown queries: {missing}"
    assert len(_DRIVER_FIRST_50) == len(set(_DRIVER_FIRST_50)) == 50
    front = {n: QUERIES[n] for n in _DRIVER_FIRST_50}
    rest = {n: f for n, f in QUERIES.items() if n not in front}
    QUERIES.clear()
    QUERIES.update(front)
    QUERIES.update(rest)


_reorder_for_driver()
