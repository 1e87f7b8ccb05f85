"""Regenerate PLANS.md: formatted physical plans for the headline
queries with the scale commentary the plans are audited against
(tests/test_plans.py enforces these properties; this file shows them).

The same pass plans every registered query once and writes CENSUS.json,
one entry per query: its registry part, its plan signature (the
multiset of physical operator names in the formatted plan, node ids
and arguments stripped) and the ``ocr_spark`` modules whose functions
the query calls while it builds its DataFrame, or hands to pyspark to
run on the executors (registry modules and the table loader left out).
Two queries with the same signature and no engine module exercise the
same plan shape.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

COMMENTARY = {
    "flagship_extract": (
        "One input-spreading repartition (a single-file documents table "
        "would otherwise serialize the UDF onto one core), then narrow: "
        "JVM page synthesis -> Arrow UDF -> project."
    ),
    "q1_pricing_summary": (
        "Partial HashAggregate before the single Exchange, final after "
        "— map-side combine; filter pushed to the scan."
    ),
    "q5_nation_revenue": (
        "nation/region broadcast (no shuffle for small dims); the "
        "fact-fact join shuffles on uniformly distributed keys; AQE can "
        "re-plan at runtime."
    ),
    "dedup_minhash_lsh": (
        "Exploded shingle rows -> codegen min() aggregates (16 partial "
        "mins map-side) -> band bucket self-join -> verify join. All "
        "JVM; no Python anywhere."
    ),
    "ann_ivf_topk": (
        "Centroids and query vector broadcast; the corpus side stays "
        "partition-parallel; TakeOrderedAndProject caps the result."
    ),
    "doc_fingerprint": (
        "k-gram positions exploded, each hashed once (codegen md5), "
        "frame-window winnow min, single shuffle by doc_id."
    ),
    "neardup_cosine": (
        "Pivot-band exact-recall join: theta-to-pivot bucketing is one "
        "codegen pass, candidates come from a shuffle hash equi-join on "
        "band keys — no BroadcastNestedLoopJoin / CartesianProduct "
        "anywhere (the r1 all-pairs shape is gone)."
    ),
    "host_frequency_cap": (
        "rank<=K rewritten to Partial+Final WindowGroupLimit: each map "
        "partition keeps K rows per host BEFORE the shuffle — bounded "
        "state under web-host skew."
    ),
    "decontaminate_ngrams": (
        "Benchmark shingle set broadcast (eval sets are tiny vs the "
        "corpus); overlap count is a map-side BroadcastHashJoin + "
        "partially-aggregated groupBy on doc_id — one shuffle."
    ),
    "stratified_sample": (
        "Pure map-side hash-bucket filter: no shuffle, no state, "
        "reproducible across engines/retries (no rand())."
    ),
    "pack_training_sequences": (
        "Two-tier prefix sum: the only globally-ordered window runs on "
        "the BUCKET aggregate (corpus/100 rows); the per-doc cumsum "
        "window is partitioned by bucket and reuses the input-spread "
        "Exchange. Fan-out is an exploded integer range; all-integer "
        "aggregates."
    ),
    "kmeans_embedding_clusters": (
        "Per round: broadcast centroids (k rows), integer-fold "
        "distances, argmin as ONE BIGINT min (dist << cbits | cluster); "
        "recenter is exploded "
        "(cluster, dim) partial sums — map-side combine, uniform tiny "
        "keyspace — and its k centroid rows are staged (stage()), so "
        "the final plan reads the last round's centroids via "
        "ExistingRDD. No corpus-global sort, no float aggregation."
    ),
    "bm25_topk": (
        "Token explode -> partially-aggregated (doc, term) counts; df "
        "and avgdl broadcast as scalar rows; per-term scores are fixed "
        "columns summed in written order; TakeOrderedAndProject caps "
        "the result."
    ),
    "temperature_resample_hosts": (
        "Host-count aggregate (tiny) broadcast back; the corpus side "
        "is a map-side hash-bucket filter under the per-host sqrt "
        "threshold — no corpus-sized shuffle."
    ),
    "quality_classifier_hashed": (
        "Explode -> hashed integer weights -> map-side partial sums -> "
        "one uniform shuffle by doc_id. The learned-vocabulary variant "
        "broadcast-joins a weight table in the same dataflow."
    ),
    "bm25_multi_query_top3": (
        "Query table exploded WITH POSITION and broadcast against the "
        "(term, doc) tf index; per-(query, doc) scores fold in "
        "query-position order (no float groupBy-sum); top-3 per query "
        "via a bounded window."
    ),
    "host_pagerank": (
        "3 damped power iterations, each one join + one partially-"
        "aggregated sum on uniform dst keys; ranks in integer "
        "micro-units so every sum commutes. Graph state (hosts, "
        "edges, out-degrees) and each round's ranks are STAGED (r5: "
        "stage() — the un-staged loop replanned and "
        "re-executed the corpus subtree 16x with zero runtime "
        "reuse), so the final plan reads materialized rounds via "
        "ExistingRDD. No cartesian anywhere."
    ),
    "doc_chunk_windows": (
        "Map-only fan-out: exploded integer range + single-reference "
        "array slice; zero Exchanges — chunk rows inherit the scan "
        "partitioning."
    ),
    "semdedup_pairs": (
        "K-means assignment bounds candidates to within-cluster pairs "
        "(equi-join on cluster, never a cross product); exact cosine "
        "verifies. Lossy vs the pivot-band exact-recall join — subset "
        "relation pinned by test."
    ),
    "doc_bigram_lm_score": (
        "Bigram model = two partial-agg shuffles on uniform keys; "
        "scoring joins doc bigrams to the model on the pair key; "
        "integer floor-scaled probabilities keep every sum order-free."
    ),
    "doc_quality_panel": (
        "Five quality stages co-located on doc_id — AQE collapses the "
        "join chain onto one shuffle key; LM side left-joined with "
        "coalesce for bigram-less docs."
    ),
    "exact_substring_spans": (
        "ExactSubstr: k-row fan-out of narrow token rows (never the "
        "whole token array through Generate), (doc,start) rebuild, "
        "collect_set-over-h window instead of a self-join (hashed "
        "subtree evaluated once), island merge rides the doc_id "
        "exchange — final agg adds no shuffle."
    ),
    "exact_substring_dup_rate": (
        "Composes the spans: coverage groupBy + left join both on "
        "doc_id, the key the spans already shuffle on; rate is "
        "cross-engine floor division (integer-exact)."
    ),
    "robots_prefix_filter": (
        "Longest-prefix robots match as a BROADCAST equi-join on "
        "(host, prefix) via segment-boundary explode — never a "
        "LIKE-prefix BroadcastNestedLoopJoin; longest match is a "
        "single-BIGINT hash aggregate (max(rule_len << 32 | rule_id)) "
        "with the winning rule broadcast-joined back — a max_by over "
        "a string-carrying struct would fall to a corpus-sized "
        "SortAggregate."
    ),
    "domain_quality_wilson": (
        "One groupBy(host) with map-side partial counts; Wilson bound "
        "computed with correctly-rounded ops in pinned association — "
        "bit-exact without rounding, no window/join/python."
    ),
    "snapshot_delta": (
        "Both snapshots reduce to (url, md5) before the full-outer "
        "SortMergeJoin — 16-byte shuffle rows, page bodies never "
        "cross the wire; url-bucketed writes would erase the "
        "Exchanges entirely."
    ),
    "host_mirror_jaccard": (
        "Inverted sketch join with a document-frequency cap: hashes "
        "on >50 hosts (boilerplate — the quadratic-postings blowup "
        "case) are removed BEFORE the self-join via a broadcast LEFT "
        "ANTI against the over-cap set, which is tiny by construction "
        "at any corpus size (the under-cap set is corpus-sized and is "
        "never broadcast); the sketch table is staged once (stage()) "
        "so the "
        "self-join sides, cap aggregate, and host-size table share "
        "one derivation; per-pair counts partial-aggregate map-side "
        "and the host-size table (N_HOSTS rows) broadcasts."
    ),
    "span_corruption_masks": (
        "Pure per-row derivation: tokenize -> arithmetic -> explode "
        "of a per-doc stratum sequence, hash-derived offsets — zero "
        "Exchange beyond the scan, so the mask plan is embarrassingly "
        "parallel and reproducible under any partitioning (the "
        "mid-epoch-resume property)."
    ),
    "bpe_compression": (
        "The learned vocabulary is vocab-sized (words, not "
        "occurrences); the compression figure is one global aggregate "
        "with map-side partials over it — the expensive part is the "
        "merge chain itself (bpe_learn_merges: per-round codegen "
        "string ops + one tiny argmax broadcast), which this query "
        "reuses unchanged."
    ),
    "mojibake_repair": (
        "Encoding repair is a nested codegen StringReplace chain over "
        "the scan — one narrow WholeStageCodegen map, zero Exchange, "
        "zero Python; at 100 TB it rides the extraction pass. The "
        "corrupt/intended staging columns exist only for the oracle "
        "roundtrip."
    ),
    "compaction_bin_plan": (
        "Manifest-scale input (one row per data file, not per doc-"
        "byte): window prefix sum partitioned by table partition, "
        "then a (part, bin) hash aggregate. Parallel across "
        "partitions where FFD binpacking is sequential; bin_bytes < "
        "target + max_file is the lookback-1 bound Iceberg's binpack "
        "gives."
    ),
    "cluster_representatives": (
        "Keeper rule without a window: (quality desc, doc_id asc) "
        "packed into one BIGINT priority whose plain MAX — a map-side-"
        "combining hash aggregate — is the lexicographic argmax; no "
        "per-cluster sort. Upstream is the clustering's own dataflow "
        "(exploded shingles -> band buckets -> CC rounds)."
    ),
    "outlink_extraction": (
        "Frontier-feeding link discovery: regexp_extract_all over the "
        "html, scheme filter, relative resolution, host-equality "
        "classification — all codegen; the only Exchange is the "
        "distinct on the uniform (url, outlink) pair, so the stage "
        "rides the extraction pass."
    ),
    "crawl_budget_apportionment": (
        "Hamilton quotas, all integer: demands staged once "
        "(stage()), two scalar aggregates broadcast "
        "back; the remainder rank is two-tier (coarse buckets -> tiny "
        "bucket window -> bounded within-bucket row_number), so no "
        "one-partition sort even at 10^7 hosts. sum(budget)==B by "
        "construction."
    ),
    "incremental_report_card": (
        "Stats maintenance without the corpus pass: previous-snapshot "
        "aggregates union signed CDC delta rows into ONE map-side-"
        "combining hash aggregate on lang — integer sums are the "
        "subtractable aggregate class, so incremental == full "
        "recompute bit-exactly (the oracle IS the recompute)."
    ),
    "pca_power_component": (
        "Top eigenvector WITHOUT a Gram matrix: each round is a per-"
        "row integer fold (s = <c, v>, v broadcast as d tiny rows) "
        "then a posexplode aggregate on 64 dim keys with map-side "
        "partial sums; the centered-rows subtree is staged once "
        "(stage()) for its 2*iters+1 consumers. The only "
        "corpus-wide shuffle keys are vec_id and the 64 dims."
    ),
    "containment_pairs": (
        "Asymmetric ppjoin: the probe side indexes only its first "
        "floor(0.4*|A|)+1 hash-ordered shingles (a slice of the "
        "per-doc sketch's sorted set; exact recall at t=0.6 by the "
        "prefix bound), the indexed side posts all; "
        "candidates come from a hash equi-join on the shingle key — "
        "no cross product — and one array_intersect verify per "
        "distinct pair. Threshold compare is pure integer."
    ),
    "cdc_chunks": (
        "Gear-hash boundaries are position-local (codegen md5 over an "
        "exploded per-position window — the winnowing shape), so "
        "chunking parallelizes perfectly; boundary rows collapse to "
        "~len/64 per doc before the per-doc lag window. Insertions "
        "shift at most one chunk — the dedup-robustness property "
        "fixed-size blocks lack."
    ),
    "host_communities_lp": (
        "Sync label propagation: per round one (node, label) count "
        "aggregate + one argmax as ONE BIGINT max (c*128 + 127 - lbl) "
        "— both partial-aggregated on uniform host keys; undirected "
        "edges built once from the shared host graph, each round "
        "staged. No iteration-growing state, no window sort."
    ),
    "minhash_estimate_error": (
        "Sketch-QA: exact-Jaccard candidates from the prefix-filtered "
        "inverted join (floor(0.7*|A|)+1 hash-ordered prefixes, slices "
        "of the per-doc sketch's sorted set; exact recall at t=0.3), "
        "then 16 minima compares per surviving pair, signature and set "
        "both read from that one sketch. The all-pairs shape exists "
        "only in the DuckDB oracle."
    ),
    "cdc_crawl_reuse": (
        "Increment-vs-history chunk reuse: history is touched only "
        "through its DISTINCT chunk-hash index; the increment's "
        "chunks left-join that index and aggregate per doc — work "
        "scales with the crawl delta, not the corpus."
    ),
    "surt_cdxj_index": (
        "SURT key derivation is one narrow whole-stage-codegen "
        "projection — regexp/split/sort built-ins only, no UDF, no "
        "shuffle. The CDXJ index build downstream is repartitionByRange "
        "+ sortWithinPartitions + write (sources/cdxj.py)."
    ),
    "cdxj_prefix_lookup": (
        "Written sorted-index probe: the manifest-derived shard list "
        "becomes a literal shard predicate — static parquet "
        "PartitionFilters, so only intersecting shards' files are even "
        "listed; the startswith predicate then rides tight row-group "
        "min/max stats because each file is sorted by the key."
    ),
    "ccnet_line_dedup": (
        "Corpus-level first-occurrence line dedup: explode -> chunk "
        "hash-agg -> argmin as MIN over one BIGINT (hash-aggregates "
        "with map-side combine, no struct buffer, no SortAggregate) -> "
        "equi-join on line hash -> per-doc gather. Boilerplate hot "
        "keys enter the agg pre-combined per partition."
    ),
    "url_canonicalize": (
        "RFC 3986 canonicalization as one codegen projection: bounded "
        "regexp_replace loops for dot segments, array filter/sort for "
        "query params. No UDF, no shuffle — fuses into any scan."
    ),
    "html_to_markdown": (
        "One Arrow-batched pandas UDF (stdlib HTMLParser), narrow, no "
        "shuffle — a second rendering of the same parse the extraction "
        "UDF does; pipelines inside the extraction stage."
    ),
    "robots_wildcard_filter": (
        "Rule fan-out by literal-array explode (no BNLJ), matching via "
        "BroadcastHashJoin on host + column-pattern regexp_like; "
        "most-specific-match precedence as a single-BIGINT argmax — "
        "HashAggregate with map-side combine, never a string max_by."
    ),
    "pipeline_crawl_gate": (
        "Composed canonicalize -> surt -> dedup -> revalidate: two "
        "codegen projections, ONE shuffle (surt groupBy, uniform keys "
        "by construction), a self-equi-join reusing that partitioning, "
        "final projection. No UDF anywhere."
    ),
    "pagination_rel_chains": (
        "Reversed-edge pointer jumping, fully staged (VERDICT r4 #2): "
        "the input is staged once, the fan-in predecessor pick "
        "(min over a STRING url — a Sort+SortAggregate shape Spark "
        "cannot hash-aggregate) is staged so it executes exactly "
        "once, and EVERY doubling round is staged (stage()) before "
        "the next self-equi-join — the final plan contains ZERO "
        "SortAggregate nodes and no 2^rounds lineage replication "
        "(each round is one join of the previous round's "
        "materialized output). Chain sizes are a HashAggregate "
        "joined back. Pinned by test_pointer_jump_stages_per_round."
    ),
    "redirect_final_url": (
        "WARC-parse mapInPandas -> resolve_redirects: the parsed "
        "table is staged at operator entry, so the Python parse "
        "stage executes exactly ONCE (the staged doubling loop never "
        "replays it — pre-fix the plan embedded up to 2^6 copies); "
        "each pointer-jump round is a self-equi-join of the previous "
        "round's materialized mapping on unique url keys. Final plan: "
        "zero Python nodes (the parse lives inside the first staged "
        "lineage), zero SortAggregate, log2(64)=6 bounded joins."
    ),
    "wet_extract_roundtrip": (
        "Single narrow Arrow stage: per-row WET member encode + "
        "re-parse + field/digest comparison all inside ONE "
        "MapInPandas over the input spread — zero joins, zero "
        "aggregates, zero further shuffles; the roundtrip contract "
        "is checked record-locally, which is why the plan is three "
        "nodes."
    ),
    "sitemap_recrawl_frontier": (
        "Two-level sitemap walk with the XML-parse Python stage "
        "STAGED ONCE (r5: pre-fix the parse planned — and executed — "
        "once per consumer subtree; now both the index-children "
        "semi-join and the urlset rows scan the one materialized "
        "parse via ExistingRDD). Downstream: a semi-join lineage "
        "gate on the index's loc list, a left join to last-fetch "
        "state, and a codegen string-date recrawl flag. No window."
    ),
    "srcset_best_image": (
        "Explode srcset candidates -> single-BIGINT argmax "
        "(kind_bit*2^40 + value*2^10) HashAggregates with map-side "
        "combine; the winning URL string joins back on the (page, "
        "max-score) composite key and kind/value DECODE from the "
        "score. No max_by struct buffer, no SortAggregate."
    ),
    "amp_canonical_pairs": (
        "One full-outer hash join on the declared AMP url; canonical "
        "pages with NO declaration are split off BEFORE the join and "
        "unioned back, so the null join key never funnels a "
        "corpus-sized bucket through one task."
    ),
    "shortlink_detect": (
        "The shortener dimension is tiny and static, so the join is "
        "an EXPLICIT BroadcastHashJoin (BuildRight): the corpus side "
        "streams through untouched — no shuffle, no sort, left-outer "
        "keeps non-shortened links."
    ),
    "dom_depth_profile": (
        "Tag explode -> running open-minus-close sum over a "
        "per-document window (each partition is one page's tag list, "
        "bounded) -> HashAggregate on doc_id; the window and the "
        "aggregate share the doc_id partitioning so the plan carries "
        "ONE exchange."
    ),
    "tracker_coownership_edges": (
        "Bipartite host-tracker projection: distinct (hash-agg) -> "
        "tracker fan-count hash-agg rejoined as the cap filter (AQE "
        "broadcasts while the corpus-scaled dim fits; not forced) -> "
        "capped equi-self-join -> final hash-agg. The >32-host fan cap "
        "runs BEFORE the join, so the planted UA-7-1 near-clique (97 "
        "hosts, ~4.6k pairs from one key) never reaches the shuffle; "
        "under AQE the twice-referenced keep subtree dedupes via "
        "ReusedExchange, and no SortAggregate/window appears anywhere."
    ),
    "site_section_rollup": (
        "ROLLUP = one Expand (3x map-side rows) feeding partial-then-"
        "final HashAggregate around a SINGLE Exchange — three grains "
        "(host+section, host, global) in one scan instead of three."
    ),
    # --- session 10 distributed shapes ---
    "bigram_pmi_mining": (
        "Collocation mining: one explode -> bigram + unigram corpus "
        "HashAggregates with map-side partials; marginals join back on "
        "word keys (AQE broadcasts while the vocab fits); scalar totals "
        "ride single-row cross joins. The lift arithmetic divides the "
        "marginals in BEFORE multiplying counts — the naive numerator "
        "overflowed BIGINT on the 50k smoke track (ANSI threw, loudly)."
    ),
    "event_funnel_conversion": (
        "Ordered funnel: three per-user HashAggregates chained by "
        "equi-joins on ONE shuffle key (user_id reused end-to-end); "
        "min-ts step chaining keeps timestamps engine-internal; scalar "
        "counts cross-join at the end with zero-denominator-guarded "
        "integer permilles."
    ),
    "user_retention_cohorts": (
        "Cohorts on calendar-date STRINGS with the per-user min over "
        "INTEGER epoch-days — the string min's immutable buffer planned "
        "SortAggregate (caught by the plan contract); the epoch-day "
        "encode/decode keeps every aggregate hash."
    ),
    "heavy_user_event_share": (
        "Concentration census without a ranking window: per-user "
        "HashAggregate, scalar totals, and the >= 2x-mean threshold as "
        "integer cross-multiplication (cnt*n_users >= 2*total) — a "
        "top-decile formulation would sort the user table; this stays "
        "hash-only."
    ),
    "cross_host_line_syndication": (
        "Line-level host-pair projection: distinct (host, line) "
        "HashAggregate -> line-df HashAggregate -> df BAND filter "
        "(2..10 hosts) BEFORE the self-join — boilerplate at 23 hosts "
        "and df=1 local lines never reach the shuffle — then per-pair "
        "count. Cap-before-join, the tracker_coownership discipline."
    ),
    "host_quality_priors_join": (
        "Multi-signal host rollup on the REAL lang/n_chars columns: two "
        "per-host HashAggregates + a scalar-broadcast corpus total + one "
        "left join on host; the long-doc share is integer "
        "cross-multiplied (n_chars*N > 2*sum), no float mean ever "
        "materialized; countDistinct plans the two-level partial."
    ),
    "source_lang_contingency": (
        "Independence audit: joint (source, lang) HashAggregate; "
        "marginals re-aggregate FROM the joint (not the corpus); cells "
        "join back on their keys with a scalar grand total; deviation "
        "flags are integer cross-multiplications (obs*N vs 2*row*col) — "
        "the chi-square question with no float."
    ),
    # --- round-5 additions: full coverage of bench + curated first-50 ---
    "q3_shipping_priority": (
        "Classic 3-table TPC-H shape: customer filter pushed to its "
        "scan, two hash equi-joins on the key chain (AQE free to "
        "broadcast the filtered build sides), partial+final "
        "HashAggregate on (orderkey, date, prio), "
        "TakeOrderedAndProject for the top-10 — no global sort."
    ),
    "window_running_user_value": (
        "Running per-user cumulative sum: ONE window partitioned by "
        "user_id (uniform key, bounded per-user streams) over the "
        "integer cent grid — the shuffle is the window's hash "
        "partitioning, nothing global."
    ),
    "events_hourly": (
        "Tumbling-hour rollup: date_trunc projection + one "
        "partial+final HashAggregate on (hour, type) — the batch twin "
        "of the streaming window, one shuffle on a uniform key."
    ),
    "dedup_exact": (
        "Content-hash groupBy with map-side partial aggregation — "
        "one shuffle on md5(text), uniform by construction; "
        "keep-lowest-id is a MIN over one BIGINT (hash-aggregable)."
    ),
    "ann_cosine_topk": (
        "Brute-force exact baseline: single-row query vector "
        "broadcast (BroadcastNestedLoopJoin with a constant build "
        "side), dot products as codegen zip_with/aggregate folds, "
        "TakeOrderedAndProject caps the result — no Python, no "
        "corpus shuffle at all."
    ),
    "ann_ivf_probe_topk": (
        "The written-index probe path: the tiny centroid table is "
        "collected driver-side, nprobe cells become a literal "
        "``cell IN (...)`` predicate -> static parquet "
        "PartitionFilters — the nprobe/C reduction happens at FILE "
        "LISTING; scanned cells fold codegen dot products and "
        "TakeOrdered caps. The 10^12-vector plan."
    ),
    "pipeline_training_corpus": (
        "The composed pipeline in ONE lazy plan: page synthesis -> "
        "single Arrow extraction UDF (fenced against pushdown "
        "cloning) -> codegen quality gate -> content-hash dedup "
        "window (uniform keys) -> hash-split train filter. Shuffles: "
        "the input spread and the dedup hash — nothing else."
    ),
    "vocab_coverage_curve": (
        "Token hash-agg (map-side partials) -> orderBy().limit(20) = "
        "TakeOrderedAndProject (distributed top-k, never a "
        "vocab-wide sort) -> rank/cumsum window over exactly 20 rows "
        "(bounded post-limit window, allowlisted) -> broadcast total."
    ),
    "bpe_word_segmentations": (
        "BPE merge chain (per-round codegen replace + tiny argmax "
        "broadcast) reused unchanged; the top-20 emit is "
        "orderBy().limit() — TakeOrderedAndProject, zero windows."
    ),
    "rrf_fusion_top10": (
        "Two posting-list rankings via the TWO-TIER bucket rank "
        "(head terms have corpus-sized lists — no partitionless "
        "window), full-outer fused on doc_id, integer 1/(60+r) "
        "weights, TakeOrdered top-10."
    ),
    "url_front_coding_estimate": (
        "Per-shard front coding: lag window PARTITIONED by host "
        "(uniform shuffle key; each shard restarts its prefix block "
        "exactly like real front-coded dictionaries), bounded "
        "per-pair LCP fold, one scalar aggregate. No global sort."
    ),
    "join_size_planner": (
        "Two per-key count HashAggregates (map-side partials), one "
        "key-cardinality-sized equi-join, scalar total broadcast, "
        "TakeOrderedAndProject top-5 — the skew census never sorts "
        "or windows the key space."
    ),
    "conversion_latency_quantiles": (
        "Per-user min-aggregates + user-keyed join derive latencies; "
        "the exact p50/p90 rank selection rides the two-tier bucket "
        "rank (bucket counts -> tiny offset window -> per-bucket "
        "row_number); population count is a broadcast scalar."
    ),
    "host_count_outliers": (
        "Median and MAD as exact order statistics, each via the "
        "two-tier bucket rank over the host-count table (10^7+ rows "
        "at web scale — never a partitionless window); the two "
        "medians broadcast back as scalars for the flag projection."
    ),
    "late_data_accounting": (
        "Two-tier running MAX over arrival order: coarse arrival "
        "buckets -> per-bucket max (HashAggregate) -> exclusive "
        "cross-bucket prefix max on the ~256-row aggregate -> "
        "within-bucket exclusive running max (window partitioned by "
        "bucket). Bit-identical to the global-window frontier with "
        "no single-task sort."
    ),
    "events_json_props": (
        "get_json_object is codegen (no Python); one partial+final "
        "HashAggregate on event_type. Oracle emits CAST(SUM AS "
        "BIGINT) so the typed value-hash matches Spark's long."
    ),
    "props_schema_drift": (
        "json_object_keys + explode (codegen) -> one key-keyed "
        "HashAggregate; drift permille is integer floor division "
        "typed BIGINT on both engines."
    ),
    "robots_ai_agent_matrix": (
        "Corpus x constant 4-row agent dim: explicit broadcast, "
        "per-row containment flags, no aggregation — map-only after "
        "the broadcast."
    ),
    "global_rank_doc_length": (
        "The two-tier exact-rank pattern itself: bucket counts "
        "(tiny aggregate) -> running offsets via a window over the "
        "aggregate -> bucket-partitioned row_number + offset. The "
        "only corpus-wide shuffle is the bucket hash."
    ),
    "host_length_quantiles": (
        "Per-host exact order statistics: row_number window "
        "PARTITIONED by host (bounded, uniform) + conditional "
        "aggregate — integer rank selection, no percentile_approx."
    ),
    "canonical_election": (
        "Trust join (host-keyed, broadcastable) + per-group argmax "
        "over bounded dup groups (window partitioned by group id) — "
        "all integer, no global sort."
    ),
    "cocitation_top": (
        "Outlink pairs via self-join on the citing page with hubs "
        "capped at 64 outlinks BEFORE pairing (the C(L,2) blowup "
        "guard); pair counts partial-aggregate map-side."
    ),
    "hits_hubs_authorities": (
        "2 integer power-iteration rounds: edges shuffle on uniform "
        "src/dst keys with map-side partial sums; max-normalization "
        "is a 1-row broadcast; overflow-safe floor-divide ordering. "
        "The mutual hub/auth recursion is STAGED per round (r5: the "
        "un-staged lineage grew EXPONENTIALLY — 156 corpus scans in "
        "one plan, all executed); staged, each round is two joins "
        "over the previous round's materialized tables."
    ),
    "host_triangle_counts": (
        "Degree-ordered wedge join (each triangle counted once): "
        "edge list self-joined on the shared vertex with the "
        "orientation filter applied BEFORE the join — the standard "
        "distributed triangle shape, partial-aggregated counts. The "
        "undirected/oriented edge sets and the triangle rows are "
        "staged (r5: un-staged, the three-way union + both wedge "
        "sides replanned the edge derivation 90x)."
    ),
    "graph_two_hop_reach": (
        "Two chained equi-joins on uniform node keys with "
        "distinct-pair aggregation between hops — node space scales "
        "with the corpus so expected degree (and join output) stays "
        "linear; no cartesian."
    ),
    "link_prediction_pairs": (
        "Wedge-shaped common-neighbor join (same cost class as "
        "triangles) + hash-derived negatives (no rand(), "
        "reproducible); endpoint degrees join from a per-node "
        "aggregate; all integer features. und/sym/lab are staged "
        "(r5: multi-consumer — the un-staged plan carried 28 corpus "
        "scans)."
    ),
    "hll_host_sketches": (
        "Per-(host, register) MAX aggregates — 64 longs per host, "
        "plain-MAX mergeable at any coarser grain; one uniform "
        "shuffle, no distinct over raw content."
    ),
    "rendezvous_sharding": (
        "Constant 16-row node fan-out, codegen md5 weights, both "
        "assignments from one groupBy via two single-BIGINT max "
        "aggregates — hash-aggregable, no window, no SortAggregate."
    ),
    "zorder_file_ranges": (
        "Morton interleave as fixed codegen bit arithmetic; file "
        "cuts every 512 key values via integer division; per-file "
        "min/max ranges are one HashAggregate on the key prefix."
    ),
    "consistent_hash_rebalance": (
        "Ring positions from codegen hashes; old/new assignments "
        "computed side by side in one projection; the moved-share "
        "audit is a scalar aggregate — map-only + one tiny agg."
    ),
    "epoch_shuffle_positions": (
        "Per-epoch permutation = sort order of md5(doc_id:epoch); "
        "ranks via window at driver SF (uniform hash keys; two-tier "
        "form at scale, as global_rank_doc_length) — no stored "
        "shuffle state, mid-epoch resumable."
    ),
    "doc_gopher_filters": (
        "Pure codegen flag battery (word counts, mean word length, "
        "symbol ratio) — map-only, zero Exchange, rides the scan."
    ),
    "doc_rare_term_pick": (
        "tf/df aggregates -> integer score -> per-doc max join-back "
        "keyed on (doc_id, score) (the join-key pin in test_plans); "
        "MIN(term) tie-break is the one bounded SortAggregate pair."
    ),
    "dup_group_taxonomy": (
        "One content-hash HashAggregate carrying count + distinct-"
        "host count (two-level partial), three-row classification "
        "output — no joins, no windows."
    ),
    "crawl_frontier_schedule": (
        "Per-host priority rank: window partitioned by host "
        "(uniform politeness key, bounded per-host lists) x integer "
        "delay multiply — the timetable is map-side after the one "
        "host-hash shuffle."
    ),
    "dom_template_clusters": (
        "Opening-tag-sequence hash (one regexp codegen pass) -> one "
        "hash aggregate; content-blind by construction — template "
        "mass collapses before any shuffle-heavy op."
    ),
    "jaccard_threshold_histogram": (
        "Candidates only through the shingle inverted index (pairs "
        "sharing >= 1 shingle; sum-of-df^2 cost, the standard "
        "similarity-join bound), exact verify per distinct pair, "
        "5%-bucket integer histogram as a tiny aggregate. The "
        "all-pairs form exists only oracle-side."
    ),
    "events_sliding_windows": (
        "Each event explodes into window/slide = 3 hop windows "
        "(exactly Structured Streaming's fan-out), then one "
        "(type, window) HashAggregate on the integer cent grid."
    ),
    "retention_cohorts": (
        "Two user-keyed HashAggregates + a join against the tiny "
        "cohort-size table; week bucketing is epoch-day floor "
        "division (no timezone ambiguity), shares in integer "
        "permille."
    ),
    "funnel_conversion": (
        "K aggregate+join passes all keyed on user_id — per-user "
        "aggregates shrink inputs before each join; each stage's "
        "reached set is staged (r5: un-staged, stage k's count "
        "replanned stages 1..k — quadratic event scans in K)."
    ),
    "shuffle_skew_report": (
        "Per-key count HashAggregate, then ALL reductions run on "
        "the one-row-per-key aggregate (rank-median over it is the "
        "allowlisted per-grouping-key window); scaled-integer ratios."
    ),
    "zipf_slope_estimate": (
        "Token hash-agg -> TakeOrdered top-100 -> 100-row bounded "
        "rank window (post-limit, allowlisted) -> closed-form "
        "least-squares scalar aggregate."
    ),
    "tfidf_keywords_top3": (
        "Explode -> (doc, term) counts (partial-agg), term-df join "
        "(vocabulary-sized side — Catalyst broadcasts while it "
        "fits), top-3 via a window partitioned by doc_id; rational "
        "integer scores, no log."
    ),
    "feature_hash_embeddings": (
        "Hashing-trick features: token explode -> pmod bucket -> "
        "(doc, bucket) HashAggregate with signed counts — one "
        "uniform shuffle, dimensionality fixed by the bucket count."
    ),
    "ngram_novelty": (
        "Epoch-split shingle sets; novelty = left-anti containment "
        "against the earlier epoch's DISTINCT shingles on the hash "
        "key (partial-agg dedup before the join) — no windows."
    ),
    "user_decayed_errors": (
        "Dense 24-hour integer fold per user (bounded recurrence, "
        "bit-exact — no exp/pow): one (user, hour) aggregate, one "
        "map rebuild; zero unbounded iteration."
    ),
    "phrase_match_positions": (
        "Positional posting intersection: tokens explode WITH "
        "POSITION, adjacent-term equi-join on (doc, pos+1) — a hash "
        "join on uniform composite keys, no window, no regex scan "
        "of full texts."
    ),
    "dataset_split_assignment": (
        "Salted content-hash bucket projection — map-only, zero "
        "Exchange; split membership decorrelated from every other "
        "md5 use by the salt."
    ),
    "sitemap_parse": (
        "Two-level regexp/posexplode projection — shuffle-free; "
        "entry rows inherit the scan partitioning."
    ),
    "bitext_mine_pairs": (
        "Candidates from the exact-recall pivot-banded cosine join "
        "(band-key equi-join, no all-pairs); per-source best match "
        "is an argmax over ONE BIGINT ((cos+1e6)*2^31 + reversed "
        "id) — HashAggregate with map-side combine, no struct "
        "buffer, no window."
    ),
}


_TREE_LINE = re.compile(r"^[\s:+\-*|]*(\S.*?) \(\d+\)$")

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "ocr_spark"
) + os.sep

# the registry itself and its table loader: not engine code
_REGISTRY = ("ocr_spark.qparts.", "ocr_spark.queries", "ocr_spark.sources.tables")


def plan_signature(plan: str) -> list[str]:
    """Sorted operator names of every plan tree (main plan and
    subqueries) in a formatted explain string."""
    ops = []
    for line in plan.splitlines():
        m = _TREE_LINE.match(line)
        if not m or line.lstrip().startswith("("):
            continue
        words = m.group(1).split()
        ops.append(" ".join(words[:2]) if words[0] == "Scan" else words[0])
    return sorted(ops)


def _module_of(filename: str) -> str | None:
    if not filename.startswith(_PKG):
        return None
    rel = filename[len(_PKG):-len(".py")]
    return "ocr_spark." + rel.replace(os.sep, ".")


def _is_engine(module: str | None) -> bool:
    return bool(module) and module.startswith("ocr_spark.") and not (
        module.startswith(_REGISTRY)
    )


def _handed_modules(fn) -> set[str]:
    """Engine modules a function handed to pyspark runs on the
    executors: its own module, or, for a function the registry defines,
    the engine modules its body imports or names."""
    fn = getattr(fn, "func", fn)  # UDF objects and functools.partial
    code = getattr(fn, "__code__", None)
    own = code and _module_of(code.co_filename)
    if not own:
        return set()
    if _is_engine(own):
        return {own}
    named = [c.cell_contents for c in fn.__closure__ or ()]
    mods, codes = set(), [code]
    while codes:
        c = codes.pop()
        mods.update(n for n in c.co_names if _is_engine(n))
        named += [fn.__globals__.get(n) for n in c.co_names]
        codes += [k for k in c.co_consts if isinstance(k, types.CodeType)]
    for v in named:
        if isinstance(v, types.FunctionType):
            mod = _module_of(v.__code__.co_filename)
            if _is_engine(mod):
                mods.add(mod)
    return mods


def build_traced(fn, spark):
    """Run one query function; return its DataFrame and the sorted
    engine modules whose functions it calls, directly or through
    registry helpers, or hands to pyspark (a UDF, a mapInPandas
    function) to run on the executors."""
    from pyspark.sql.udf import UserDefinedFunction

    handed = (types.FunctionType, functools.partial, UserDefinedFunction)
    seen: set[str] = set()

    def prof(frame, event, arg):
        if event != "call" or frame.f_code.co_name == "<module>":
            return
        filename = frame.f_code.co_filename
        mod = _module_of(filename)
        if _is_engine(mod):
            seen.add(mod)
        elif os.sep + "pyspark" + os.sep in filename:
            for v in frame.f_locals.values():
                if isinstance(v, handed):
                    seen.update(_handed_modules(v))

    sys.setprofile(prof)
    try:
        df = fn(spark, SF)
    finally:
        sys.setprofile(None)
    return df, sorted(seen)


def main() -> None:
    from ocr_spark.queries import QUERIES
    from ocr_spark.session import get_spark

    spark = get_spark("dump-plans", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    plans, census = {}, {}
    for name, fn in QUERIES.items():
        df, modules = build_traced(fn, spark)
        plans[name] = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        census[name] = {
            "part": fn.__module__.rsplit(".", 1)[-1],
            "signature": plan_signature(plans[name]),
            "modules": modules,
        }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "CENSUS.json"), "w") as f:
        json.dump(census, f, indent=1)
        f.write("\n")
    print(f"CENSUS.json written ({len(census)} queries)")
    out = [
        "# PLANS — physical plans of the headline queries\n",
        "Generated by `python tools/dump_plans.py` at sf0.01; the plan\n"
        "properties shown here are enforced by `tests/test_plans.py`.\n",
    ]
    for name, note in COMMENTARY.items():
        tree = plans[name].split("\n\n")[0]  # tree section only
        out.append(f"\n## {name}\n\n{note}\n\n```\n{tree}\n```\n")
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
