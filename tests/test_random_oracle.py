"""Randomized-corpus oracle parity.

The driver's gate runs on fixed testdata; the bit-exactness claims
(integer-grid k-means, rational-idf BM25, floor-form rounding, guard
paths for short docs) are supposed to hold for ARBITRARY data. This
test generates a fresh random corpus — including degenerate rows the
shipped testdata lacks (1-token docs, duplicate texts) — and runs the
real check_oracles comparison on the determinism-critical queries.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch small "
    "data customer join big filter stream sort window order query group "
    "spark column vector the line dup a of and to in is"
).split()

CRITICAL = [
    "pack_training_sequences",
    "kmeans_embedding_clusters",
    "bm25_topk",
    "bm25_multi_query_top3",
    "temperature_resample_hosts",
    "quality_classifier_hashed",
    "dedup_minhash_lsh",
    "dedup_jaccard_ngram",
    "doc_fingerprint",
    "doc_lang_id",
    "neardup_cosine",
    "embedding_quantize_int8",
    "kmeans_maximin_clusters",
    "doc_repetition_filters",
    "doc_chunk_windows",
    "corpus_report_card",
    "host_pagerank",
    "global_rank_doc_length",
    "pmi_cooccurrence_top20",
    "kmeans_cluster_purity",
    "semdedup_pairs",
    "doc_bigram_lm_score",
    "doc_quality_panel",
    "curation_decisions",
    "mixture_sampling_rates",
    "vocab_coverage_curve",
    "exact_substring_spans",
    "domain_quality_wilson",
    "exact_substring_dup_rate",
    "rendezvous_sharding",
    "snapshot_delta",
    "host_mirror_jaccard",
    "span_corruption_masks",
    "mojibake_repair",
    "compaction_bin_plan",
    "cluster_representatives",
    "outlink_extraction",
    "crawl_budget_apportionment",
    "incremental_report_card",
    "title_editdist_dedup",
    "html_table_extract",
    "doc_readability",
    "column_profile_documents",
    "shuffle_skew_report",
    "url_trap_detection",
    "page_metadata_extract",
    "sitemap_parse",
    "dataset_split_assignment",
    "bitext_candidate_mining",
    "pq_encode_codes",
    "pq_adc_topk",
    "entity_unescape",
    "cocitation_top",
    "recrawl_schedule",
    "trustrank_hosts",
    "host_boilerplate_shingles",
    "hll_host_sketches",
    "pca_power_component",
    "pca_doc_projections",
    "hits_hubs_authorities",
    "tfidf_keywords_top3",
    "extraction_eval_prf",
    "phrase_match_positions",
    "dom_tag_histogram",
    "dom_template_clusters",
    "ngram_novelty",
    "host_lang_gini",
    "langid_confusion_matrix",
    "host_type_token_ratio",
    "blocklist_category_hits",
    "cdc_chunks",
    "cdc_dedup_rate",
    "containment_pairs",
    "host_length_quantiles",
    "host_count_outliers",
    "bpe_fertility_by_lang",
    "host_communities_lp",
    "feature_hash_embeddings",
    "jsonld_extract",
    "cdc_crawl_reuse",
    "jaccard_threshold_histogram",
    "quality_calibration_deciles",
    "search_snippets",
    "postings_stats",
    "host_two_hop_reach",
    "host_triangle_counts",
    "epoch_shuffle_positions",
    "minhash_estimate_error",
    "kcore_membership",
    "rrf_fusion_top10",
    "dup_group_taxonomy",
    "zorder_file_ranges",
    "postings_compression_estimate",
    "canonical_election",
    "link_prediction_pairs",
    "url_front_coding_estimate",
    "consistent_hash_rebalance",
    "embedding_drift_by_dim",
    # round-4 third-session url/text surfaces (all keyed on doc_id /
    # text / embeddings — random-corpus safe; cdxj_prefix_lookup
    # builds its written index fresh per corpus via the mtime check)
    "surt_cdxj_index",
    "cdxj_prefix_lookup",
    "unicode_nfc_extract",
    "ccnet_line_dedup",
    "url_canonicalize",
    "outlink_resolve_rfc",
    "idn_host_ascii",
    "html_to_markdown",
    "hreflang_alternates",
    "bitext_mine_pairs",
    "robots_wildcard_filter",
    "pipeline_crawl_gate",
    "meta_refresh_redirects",
    "base_href_resolution",
    "extract_recall_precision",
    # round-4 fourth-session surfaces (all doc_id/text-keyed)
    "pagination_rel_chains",
    "srcset_best_image",
    "microdata_extract",
    "amp_canonical_pairs",
    "sentence_split",
    "truncation_detect",
    "nofollow_edge_classes",
    "crawl_delay_directive",
    "percent_encoding_normalize",
    "code_block_extract",
    "math_extract",
    "doi_citation_extract",
    "shortlink_detect",
    "dom_depth_profile",
    "syndication_title_groups",
    "footnote_extract",
    "isbn_validate_extract",
    "analytics_id_extract",
    "uuid_version_profile",
    "meta_keywords_stuffing",
    "ld_breadcrumblist_extract",
    "ip_colocation_groups",
    "tracker_coownership_edges",
    "site_section_rollup",
    "price_range_extract",
    "hreflang_reciprocity_audit",
    "postal_address_extract",
    "anchor_text_consensus",
    "host_boilerplate_lines",
    "session_param_entropy",
    "url_alias_groups",
    "table_span_grid",
    "host_outlink_fanout",
    "event_burst_hours",
    "event_transition_matrix",
    "robots_ai_agent_matrix",
    "lang_length_outliers",
    "knn_label_agreement",
    "label_distribution",
    "error_streaks",
    "value_quantiles_by_type",
    "pdf_info_metadata",
    "typosquat_host_detect",
    # NOT ogg_opus_head_parse: synthesized-corpus query,
    # construction-literal oracle (codec-metadata class).
    # NOT wav_silence_segments / jpeg_quality_estimate / mp3_id3_tags /
    # flac_streaminfo_parse / mp4_container_boxes:
    # synthesized-corpus queries, construction-literal oracles.
    # NOT gif_animation_features: synthesized-corpus query,
    # construction-literal oracle (same class as the EXIF/PNG-meta
    # rows below).
    # NOT jpeg_exif_extract / png_text_chunks: synthesized-corpus
    # queries (construction-literal oracles), same class as ICO below.
    # NOT ico_decode_features: synthesized-corpus query, no table
    # dependency — its oracle is construction-literal already.
    # NOT join_size_planner: needs lineitem/orders (this corpus
    # has documents/embeddings/events only).
    # events-table queries (random events synthesized below: unique
    # timestamps so window orders are total, cent-grid doubles so both
    # engines read identical parquet values)
    "window_running_user_value",
    "events_hourly",
    "asof_click_before_error",
    "range_join_error_context",
    "events_json_props",
    "hll_user_sketch",
    "cms_token_sketch",
    "events_sessionize",
    "funnel_conversion",
    "user_decayed_errors",
    "props_schema_drift",
    "interarrival_histogram",
    "late_data_accounting",
    "events_sliding_windows",
    "conversion_latency_quantiles",
    "retention_cohorts",
    "active_user_stickiness",
    # NOT pipeline_pack_training_sequences: its oracle leans on the
    # extraction identity invariant (extracted == documents.text),
    # which by design does NOT hold for sub-25-char docs (the DOM
    # extractor drops blocks below MIN_BLOCK_CHARS) — this random
    # corpus deliberately contains such docs.
    # session-9 additions
    "makefile_targets",
    "email_thread_graph",
    "zipf_slope_estimate",
    "bigram_pmi_mining",
    "doc_rare_term_pick",
    "graph_two_hop_reach",
    "event_funnel_conversion",
    "user_retention_cohorts",
    "heavy_user_event_share",
    "cross_host_line_syndication",
    "host_quality_priors_join",
    "source_lang_contingency",
]


@pytest.fixture(scope="module")
def random_sf_dir(tmp_path_factory):
    rng = random.Random(20260817)
    nprng = np.random.default_rng(20260817)
    d = tmp_path_factory.mktemp("random_sf")

    texts = []
    for i in range(400):
        if i % 37 == 0:
            n = rng.randint(1, 2)        # shorter than every k-gram/shingle
        else:
            n = rng.randint(3, 60)
        texts.append(" ".join(rng.choices(VOCAB, k=n)))
    for i in range(0, 400, 50):
        texts[i + 1] = texts[i]          # exact duplicates for dedup paths
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(400, dtype=np.int64),
            "text": texts,
            "lang": [rng.choice(["en", "de", "es", "fr"]) for _ in range(400)],
            "source": ["rand"] * 400,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    docs.to_parquet(d / "documents.parquet", index=False)

    emb = nprng.uniform(-1, 1, size=(200, 64)).astype(np.float32)
    for i in range(0, 200, 40):
        emb[i + 1] = emb[i] * np.float32(0.95)   # near-dups for cosine tiers
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(200, dtype=np.int64),
            "embedding": [e for e in emb],
            "label": np.array([i % 5 for i in range(200)], dtype=np.int64),
        }
    )
    embeddings.to_parquet(d / "embeddings.parquet", index=False)

    n_ev = 600
    base = np.datetime64("2024-01-01T00:00:00")
    # globally unique timestamps -> every window order is total on
    # both engines (ties would make row_number engine-dependent)
    offsets = np.cumsum(rng_ints(rng, n_ev, 1, 240))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": base + offsets.astype("timedelta64[s]"),
            "user_id": rng_ints(rng, n_ev, 1, 40),
            "event_type": [
                rng.choice(["signup", "view", "click", "purchase", "error"])
                for _ in range(n_ev)
            ],
            "value": rng_ints(rng, n_ev, 0, 2000) / 100.0,
            "props": ['{"k": %d}' % rng.randint(0, 99) for _ in range(n_ev)],
        }
    )
    events.to_parquet(d / "events.parquet", index=False)
    return str(d)


def rng_ints(rng, n, lo, hi):
    import numpy as np

    return np.array([rng.randint(lo, hi) for _ in range(n)], dtype=np.int64)


def test_critical_queries_bit_exact_on_random_corpus(spark, random_sf_dir):
    from tools.check_oracles import main

    assert main(random_sf_dir, CRITICAL) == 0


def test_gate_detects_value_mismatch(spark, random_sf_dir):
    """Meta-test: the comparison harness must FAIL on a wrong oracle —
    guards against the gate ever going vacuously green."""
    from pyspark.sql import functions as F

    from ocr_spark.queries import ORACLE, QUERIES
    from tools.check_oracles import main

    name = "_meta_bad"
    QUERIES[name] = lambda s, d: s.range(3).select(
        F.col("id").alias("v")
    )
    try:
        ORACLE[name] = "SELECT unnest(generate_series(0, 2)) + 1 AS v"
        assert main(random_sf_dir, [name]) == 1     # value mismatch
        ORACLE[name] = "SELECT unnest(generate_series(0, 3)) AS v"
        assert main(random_sf_dir, [name]) == 1     # row-count mismatch
        ORACLE[name] = "SELECT unnest(generate_series(0, 2)) AS wrong"
        assert main(random_sf_dir, [name]) == 1     # column mismatch
        ORACLE[name] = "SELECT unnest(generate_series(0, 2)) AS v"
        assert main(random_sf_dir, [name]) == 0     # and green when right
    finally:
        del QUERIES[name], ORACLE[name]
