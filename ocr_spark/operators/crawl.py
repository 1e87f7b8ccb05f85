"""Crawl-side operators: robots gating, frontier scheduling, link and
redirect graphs.

Extension tier (no reference counterpart — the reference is a
single-machine OCR engine, see SURVEY.md §2): the operators a crawl
ingest pipeline applies before documents reach extraction.

They are pure Column/DataFrame dataflows (codegen md5, broadcast
equi-joins, max_by aggregates) — no python stages.
queries.py wraps each in an oracle-checked query; tools/curate_corpus
runs them as pipeline stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.sources.catalog import stage

N_HOSTS = 97  # the corpus host scheme: host = doc_id % 97


def robots_rules(spark) -> DataFrame:
    """Synthesized per-host robots rule table
    ``(host, prefix, allow, rule_id)``: a root allow, five ``/s<m>``
    rules of alternating polarity, and one deeper ``/s<m>/t<k>``
    override each. Deterministic in the host id — the stand-in for a
    parsed robots.txt store. Small enough to broadcast (real robots
    stores are ~10 rules/host; shard the join on host past broadcast
    range). ``rule_id`` (= host*11 + slot, unique, < 2^32) lets the
    longest-prefix pick hash-aggregate on one BIGINT and join the
    winning rule back — a string never enters an aggregation buffer."""
    hosts = spark.range(0, N_HOSTS).select(F.col("id").alias("host"))
    root = hosts.select(
        "host",
        F.lit("/").alias("prefix"),
        F.lit(1).cast("long").alias("allow"),
        (F.col("host") * 11).alias("rule_id"),
    )
    ms = hosts.select(
        "host", F.explode(F.sequence(F.lit(0), F.lit(4))).alias("m")
    )
    r1 = ms.select(
        "host",
        F.concat(F.lit("/s"), F.col("m")).alias("prefix"),
        ((F.col("host") + F.col("m")) % 2).alias("allow"),
        (F.col("host") * 11 + 1 + F.col("m")).alias("rule_id"),
    )
    r2 = ms.select(
        "host",
        F.concat(
            F.lit("/s"), F.col("m"), F.lit("/t"),
            (F.col("host") + F.col("m")) % 7,
        ).alias("prefix"),
        ((F.col("host") + F.col("m") + 1) % 2).alias("allow"),
        (F.col("host") * 11 + 6 + F.col("m")).alias("rule_id"),
    )
    return root.unionByName(r1).unionByName(r2)


def robots_decisions(spark, docs: DataFrame) -> DataFrame:
    """Longest-prefix robots match per document →
    ``(doc_id, matched_prefix, rule_len, allowed)``.

    The path is exploded at its SEGMENT BOUNDARIES (depth rows per
    url, bounded by path depth) and equi-joined on (host, prefix) —
    a broadcast hash join, never the LIKE-prefix nested loop a theta
    join would plan. The longest match is a single-BIGINT hash
    aggregate: max(rule_len << 32 | rule_id) — rule_len < 2^31 and
    rule_id < 2^32 make the encoding the exact lexicographic
    (rule_len, rule_id) order — then the winning rule_id broadcast-
    joins back to the (tiny) rules table for the prefix/allow payload.
    A max_by over a struct carrying the prefix STRING would fall to a
    corpus-sized SortAggregate (UnsafeRow aggregation buffers must be
    fixed-width; the same finding as kmeans_assign, VERDICT r3 #1).
    URL scheme mirrors the corpus synthesis:
    path = /s{doc_id%5}/t{doc_id%7}/d{doc_id}, host = doc_id%97.
    """
    a = F.col("doc_id") % 5
    b = F.col("doc_id") % 7
    p1 = F.concat(F.lit("/s"), a)
    p2 = F.concat(p1, F.lit("/t"), b)
    urls = docs.select(
        "doc_id",
        (F.col("doc_id") % N_HOSTS).alias("host"),
        F.explode(F.array(F.lit("/"), p1, p2)).alias("prefix"),
    )
    rules = robots_rules(spark)
    matched = urls.join(F.broadcast(rules), ["host", "prefix"])
    enc = F.shiftleft(F.length("prefix").cast("long"), 32) + F.col("rule_id")
    best = matched.groupBy("doc_id").agg(F.max(enc).alias("enc"))
    win = best.select(
        "doc_id", (F.col("enc") % F.lit(2**32).cast("long")).alias("rule_id")
    )
    return (
        win.join(F.broadcast(rules), ["rule_id"])
        .select(
            "doc_id",
            F.col("prefix").alias("matched_prefix"),
            F.length("prefix").alias("rule_len"),
            F.col("allow").alias("allowed"),
        )
    )


def frontier_schedule(docs: DataFrame) -> DataFrame:
    """Politeness-scheduled fetch plan →
    ``(doc_id, host, slot, fetch_at_ms)``.

    A crawl frontier orders each host's URLs by priority (here:
    longest page first, doc_id tiebreak) and spaces fetches by the
    host's crawl delay (robots ``Crawl-delay`` stand-in:
    500 + (host%5)*250 ms). slot = per-host rank, fetch time =
    slot * delay — the queue a polite fetcher drains.

    Scale: ONE window partitioned by host (uniform key, ~10^8 hosts at
    web scale — rank within host never materializes a global sort).
    Hot hosts are the skew case; a per-host frequency cap upstream
    (queries.host_frequency_cap) bounds the window's largest group.
    """
    from pyspark.sql import Window

    h = F.col("doc_id") % N_HOSTS
    delay = (F.lit(500) + (h % 5) * 250).cast("long")
    urls = docs.select(
        "doc_id", h.alias("host"), "n_chars", delay.alias("delay_ms")
    )
    w = Window.partitionBy("host").orderBy(F.desc("n_chars"), "doc_id")
    return urls.select(
        "doc_id",
        "host",
        (F.row_number().over(w) - 1).cast("long").alias("slot"),
        ((F.row_number().over(w) - 1) * F.col("delay_ms"))
        .cast("long")
        .alias("fetch_at_ms"),
    )


def anchor_text_top3(docs: DataFrame) -> DataFrame:
    """Per-target-host top-3 anchor terms →
    ``(host, term, cnt, rnk)``.

    Inbound anchor text is a classic relevance/quality signal (it
    describes the TARGET page). Links are synthesized from the corpus
    scheme (each doc links to 3 affine-mapped hosts, mirroring the
    host_pagerank edge set); its anchor text is the doc's first two
    tokens. Aggregate per (target host, term), rank within host.

    Scale: the (host, term) aggregate shuffles on a uniform composite
    key with map-side partial counts; the top-3 window runs over the
    AGGREGATE (bounded by per-host distinct anchor vocabulary, not
    corpus size). At 10^12 links the same plan holds — anchor
    aggregation is the textbook reduce-side job.
    """
    from pyspark.sql import Window

    links = docs.select(
        F.explode(
            F.array(
                (3 * F.col("doc_id") + 1) % N_HOSTS,
                (5 * F.col("doc_id") + 2) % N_HOSTS,
                (7 * F.col("doc_id") + 3) % N_HOSTS,
            )
        ).alias("host"),
        F.slice(F.split("text", " "), 1, 2).alias("anchor"),
    )
    terms = links.select("host", F.explode("anchor").alias("term"))
    pc = terms.groupBy("host", "term").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("host").orderBy(F.desc("cnt"), "term")
    return (
        pc.select(
            "host", "term", "cnt",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .where(F.col("rnk") <= 3)
    )


def host_mirror_jaccard(docs: DataFrame, max_df: int = 50) -> DataFrame:
    """Mirror-host detection: Jaccard overlap of per-host content-
    sketch sets → ``(host_a, host_b, shared, n_a, n_b,
    jaccard_permille)``.

    Mirrors and CDN aliases are the host-level duplicate class URL
    canonicalization misses; curation drops or merges them before
    host-temperature sampling. Each document contributes one sketch
    hash — the md5 of its leading 5-token shingle (full-text hashes
    only catch byte-identical mirrors; a prefix shingle also catches
    near-mirrors whose templates diverge later in the page, and is
    the cheapest member of the sketch family — swap in the minhash
    signature from dedup.py for tighter recall). The dataflow is the
    inverted sketch join: distinct (host, hash) rows, self-join on
    hash, count shared per host pair, exact integer Jaccard.

    Scale: the self-join's blowup case is a BOILERPLATE sketch present
    on thousands of hosts (quadratic postings). The df-cap drops
    hashes on more than ``max_df`` hosts BEFORE the join — standard in
    mirror detection (a hash that common carries no mirror signal);
    the cap is part of the operator's definition so the oracle mirrors
    it. The cap is applied as a broadcast LEFT ANTI join against the
    OVER-cap hash set — which is tiny by construction at any corpus
    size (only hashes on >max_df hosts), where the under-cap set is
    corpus-sized (most hashes are unique) and must never be broadcast
    or rebuilt per consumer. ``base`` (one small sketch row per
    (host, doc-prefix)) is staged once so the self-join's two sides,
    the cap aggregate, and the size table share a single derivation
    instead of re-scanning the corpus five times.
    Remaining keys are uniform; per-pair counts partial-aggregate
    map-side.
    """
    base = stage(
        docs.select(
            (F.col("doc_id") % N_HOSTS).alias("host"),
            F.md5(
                F.array_join(
                    F.slice(F.split("text", " "), 1, 5), " "
                ).cast("binary")
            ).alias("h"),
        )
        .distinct()
    )
    over_cap = (
        base.groupBy("h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .select("h")
    )
    capped = base.join(F.broadcast(over_cap), "h", "left_anti")
    sizes = base.groupBy("host").agg(F.count("*").alias("n"))
    a, b = capped.alias("a"), capped.alias("b")
    shared = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.host") < F.col("b.host")))
        .groupBy(
            F.col("a.host").alias("host_a"), F.col("b.host").alias("host_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    from ocr_spark.operators.training import floor_div

    na = sizes.select(F.col("host").alias("host_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("host").alias("host_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(na), "host_a")
        .join(F.broadcast(nb), "host_b")
        .select(
            "host_a",
            "host_b",
            "shared",
            "n_a",
            "n_b",
            floor_div(
                F.lit(1000) * F.col("shared"),
                F.col("n_a") + F.col("n_b") - F.col("shared"),
            ).alias("jaccard_permille"),
        )
    )


def outlink_edges(pages: DataFrame) -> DataFrame:
    """Outlink extraction: hrefs from each page's html → resolved,
    deduplicated link edges ``(url, outlink, internal)``.

    The frontier-feeding stage of a crawl (outlinks discovered here
    flow into frontier_schedule) and the edge source for the host
    graph (host_pagerank, anchor_text). Entirely codegen string ops —
    ``regexp_extract_all`` over the html, scheme filter (mailto:/
    javascript: dropped), relative links resolved against the page's
    own host, and the internal/external classification by host
    equality — so the stage is a narrow map + explode + distinct that
    rides the extraction pass at any corpus size (the distinct is the
    only Exchange, keyed by the uniform (url, outlink) pair).

    Input: ``(url, html: string)``; the page host is parsed from the
    url itself, not trusted from a side column.
    """
    host = F.regexp_extract(F.col("url"), "https://([^/]+)", 1)
    links = F.regexp_extract_all(F.col("html"), F.lit('href="([^"]+)"'), 1)
    e = pages.select("url", host.alias("h"), F.explode(links).alias("l"))
    e = e.where(
        ~F.col("l").startswith("mailto:")
        & ~F.col("l").startswith("javascript:")
    )
    resolved = F.when(
        F.col("l").startswith("http"), F.col("l")
    ).otherwise(F.concat(F.lit("https://"), F.col("h"), F.col("l")))
    out = e.select(
        "url",
        resolved.alias("outlink"),
        F.when(
            resolved.startswith(F.concat(F.lit("https://"), F.col("h"), F.lit("/"))),
            1,
        ).otherwise(0).cast("long").alias("internal"),
    )
    return out.distinct()


def resolve_redirects(pages: DataFrame, max_hops: int = 64) -> DataFrame:
    """Resolve HTTP redirect chains to their final targets by pointer
    jumping: ``(url, final_url, hops_bounded, resolved)``.

    Input rows carry ``(url, redirect_location)`` — 3xx responses
    point at their Location target (the WARC parser surfaces it),
    everything else has NULL and is its own final target. A crawl
    dedup/canonicalization pass needs the TRANSITIVE target: chains of
    301s are ubiquitous (http→https→www→path-normalized), and
    following them one hop per pass would take O(chain length) full
    scans.

    Pointer jumping squares the mapping each round — after t rounds
    every chain up to 2^t hops is fully collapsed — so ``max_hops=64``
    costs ceil(log2(64)) = 6 self-equi-joins on url, each a uniform-
    key shuffle (no skew: a url has ONE outgoing edge; popular
    TARGETS fan in on the build side of the lookup, which hash joins
    handle without hot single tasks). This is the classic O(log n)
    find-root shape that survives 10^12-row crawl graphs, versus the
    O(n)-pass naive walk.

    A url still pointing at a redirecting node after ``max_hops``
    applications sits on a loop (or a >max_hops chain): ``resolved``
    is false and ``final_url`` is exactly the 64th-application node —
    the same node a bounded sequential walk reports, which is what the
    DuckDB oracle pins.
    """
    # stage the input once: pages feeds the edge set, the url spine,
    # and (via m) the live-redirect lookup — and is often the output
    # of a WARC-parse Python stage (redirect_final_url), which must
    # compute exactly once, not once per consumer subtree
    pages = stage(pages.select("url", "redirect_location"))
    m = pages.where(F.col("redirect_location").isNotNull()).select(
        F.col("url").alias("src"),
        F.col("redirect_location").alias("dst"),
    )
    f, rounds = _pointer_jump(m, max_hops)
    # final target per input url; a url is unresolved iff its final
    # node still has an outgoing redirect (loop / over-long chain)
    out = (
        pages.select("url")
        .join(f, pages["url"] == f["src"], "left")
        .select(
            "url",
            F.coalesce(F.col("dst"), F.col("url")).alias("final_url"),
        )
    )
    live = m.select(F.col("src").alias("final_url")).distinct().withColumn(
        "still_redirects", F.lit(True)
    )
    return (
        out.join(live, "final_url", "left")
        .select(
            "url",
            "final_url",
            F.lit(int(2 ** rounds)).alias("hops_bounded"),
            F.coalesce(~F.col("still_redirects"), F.lit(True)).alias(
                "resolved"
            ),
        )
    )


def _pointer_jump(
    edges: DataFrame, max_hops: int, with_distance: bool = False
) -> tuple[DataFrame, int]:
    """Square a (src, dst[, d]) successor mapping ceil(log2(max_hops))
    times — the shared doubling loop under resolve_redirects and
    pagination_chains. With ``with_distance`` the hop count
    accumulates across jumps (d = d_a + d_b). Returns (mapping,
    rounds); after t rounds every chain up to 2^t hops is collapsed.

    Each round's mapping is staged before the next self-join.
    Without that boundary the doubling is
    pure lineage: round t's plan embeds two copies of round t-1's
    subtree, so the final plan carries 2^rounds copies of the edge
    input's upstream — and Spark executes them all (the a-side and
    b-side need different hash distributions, so ReuseExchange can't
    collapse them). With a WARC-parse Python stage upstream
    (redirect_final_url) that meant up to 2^6 = 64 executions of the
    parse at scale. Staged per round, the input computes exactly
    once and every round is one self-equi-join of the previous
    round's materialized output — the standard iterative-graph
    pattern (cf. budget_apportionment's demands staging).
    """
    import math

    rounds = max(1, math.ceil(math.log2(max_hops)))
    f = (
        edges.withColumn("d", F.lit(1).cast("long"))
        if with_distance and "d" not in edges.columns
        else edges
    )
    f = stage(f)
    for _ in range(rounds):
        cols = [
            F.col("a.src").alias("src"),
            F.coalesce(F.col("b.dst"), F.col("a.dst")).alias("dst"),
        ]
        if with_distance:
            cols.append(
                (
                    F.col("a.d")
                    + F.coalesce(F.col("b.d"), F.lit(0).cast("long"))
                ).alias("d")
            )
        f = stage(
            f.alias("a")
            .join(f.alias("b"), F.col("a.dst") == F.col("b.src"), "left")
            .select(*cols)
        )
    return f, rounds


def budget_apportionment(demands: DataFrame, budget: int) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of an integer crawl
    budget over hosts → ``(host, demand, base, extra, budget)`` with
    ``sum(budget) == budget`` exactly.

    The crawl-ops primitive behind per-host fetch quotas: proportional
    shares floor to ``base = (B*d) // D``, and the shortfall
    ``R = B - sum(base)`` (< n_hosts) goes one unit each to the R
    hosts with the largest remainders ``(B*d) % D`` (tie → smaller
    host id). All integer, so bit-exact on any engine and any
    partitioning.

    Scale: demands is an aggregate-level table (one row per host), but
    at web scale that is still 10^7+ rows, so the remainder rank is
    the TWO-TIER form (global_rank_doc_length): coarse remainder
    buckets → tiny bucket-count window → within-bucket row_number
    (bounded, uniform) + broadcast offsets. The only whole-table
    shuffle is the bucket hash; totals are two scalar aggregates
    broadcast back.
    """
    from pyspark.sql import Window

    from ocr_spark.operators.training import floor_div

    # demands feeds the total, the shares, and the shortfall — stage it
    # once or the per-host aggregate re-scans the corpus per consumer
    demands = stage(demands)
    tot = demands.agg(F.sum("demand").cast("long").alias("dt"))
    b = stage(demands.crossJoin(F.broadcast(tot)).select(
        "host",
        "demand",
        floor_div(F.lit(budget) * F.col("demand"), F.col("dt")).alias("base"),
        ((F.lit(budget) * F.col("demand")) % F.col("dt")).alias("rem"),
        "dt",
    ))
    rleft = b.agg((F.lit(budget) - F.sum("base")).cast("long").alias("rleft"))
    # two-tier rank by (rem DESC, host ASC): coarse bucket = rem div
    # width, ranked bucket-desc; offsets from the tiny bucket aggregate
    width = F.floor(F.col("dt") / 256).cast("long") + 1
    bk = b.select(
        "host", "demand", "base", "rem",
        floor_div(F.col("rem"), width).alias("bucket"),
    )
    counts = bk.groupBy("bucket").agg(F.count("*").alias("n"))
    w_b = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("n").over(w_b), F.lit(0)).alias("off")
    )
    w_in = Window.partitionBy("bucket").orderBy(F.col("rem").desc(), "host")
    ranked = bk.join(F.broadcast(offsets), "bucket").select(
        "host", "demand", "base",
        (F.col("off") + F.row_number().over(w_in)).alias("rk"),
    )
    extra = F.when(F.col("rk") <= F.col("rleft"), 1).otherwise(0).cast("long")
    return ranked.crossJoin(F.broadcast(rleft)).select(
        "host", "demand", "base",
        extra.alias("extra"),
        (F.col("base") + extra).alias("budget"),
    )


def url_trap_flags(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Crawler-trap URL classification — the frontier-side filter that
    keeps session-id permutations, calendar pages, mirror loops and
    path explosions from eating the crawl budget (the standard trap
    taxonomy; see Heydon & Najork, "Mercator" §3 for the classes).

    Flags (all exact 0/1 BIGINTs, RE2/Java-neutral regexes):
      too_deep           path depth >= 6 segments
      repeated_segment   a path segment occurs more than once (loop)
      calendar           /YYYY/MM/ date pattern
      has_session_param  ?sid= / PHPSESSID= / sessionid= query param
      too_long           len(url) >= 120
      is_trap            any of the above

    Pure codegen row-local expressions, no shuffle — the operator
    composes with robots_prefix gating in the same scan stage.
    """
    strip_host = f"regexp_replace({url_col}, '^https?://[^/]+', '')"
    segs = F.expr(f"regexp_extract_all({strip_host}, '/([^/?]+)', 1)")
    too_deep = (F.size(segs) >= 6).cast("long")
    repeated = (F.size(segs) > F.size(F.array_distinct(segs))).cast("long")
    calendar = F.col(url_col).rlike("/(19|20)[0-9]{2}/[0-9]{2}/").cast("long")
    sid = F.col(url_col).rlike("[?&](sid|PHPSESSID|sessionid)=").cast("long")
    too_long = (F.length(url_col) >= 120).cast("long")
    out = pages.select(
        F.col(url_col).alias("url"),
        too_deep.alias("too_deep"),
        repeated.alias("repeated_segment"),
        calendar.alias("calendar"),
        sid.alias("has_session_param"),
        too_long.alias("too_long"),
    )
    return out.withColumn(
        "is_trap",
        F.greatest(
            "too_deep", "repeated_segment", "calendar",
            "has_session_param", "too_long",
        ),
    )


def cocitation_pairs(
    edges: DataFrame, min_count: int = 2, max_out: int = 64
) -> DataFrame:
    """Co-citation analysis (Small 1973): two outlinks are related if
    the same pages cite both — the classic relatedness signal for
    seed expansion and mirror discovery. Output:
    (link_a, link_b, n_citing) with link_a < link_b,
    n_citing >= min_count.

    Scale guard: a hub page with L outlinks contributes C(L,2) pairs,
    so pages past ``max_out`` outlinks are dropped before pairing
    (hubs carry little co-citation signal — every pair on a 10k-link
    directory page is noise; rank-truncation to the first max_out is
    the softer alternative, same dataflow). After the cap the
    self-join is bounded per page and the pair key is uniform."""
    from pyspark.sql import Window

    e = edges.select("url", "outlink").distinct()
    capped = (
        e.withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("url"))
        )
        .where(F.col("deg") <= max_out)
        .drop("deg")
    )
    pairs = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.url") == F.col("b.url"))
            & (F.col("a.outlink") < F.col("b.outlink")),
        )
        .groupBy(
            F.col("a.outlink").alias("link_a"),
            F.col("b.outlink").alias("link_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_citing"))
        .where(F.col("n_citing") >= min_count)
    )
    return pairs


def recrawl_intervals(
    fetch_log: DataFrame,
    base_hours: int = 168,
    min_hours: int = 6,
    max_hours: int = 720,
) -> DataFrame:
    """Change-rate-driven recrawl scheduling (the Cho &
    Garcia-Molina '03 insight: fetch frequency should track observed
    change frequency): per url, estimate staleness from the fetch
    history and emit the next fetch interval —
    ``clamp(base * (unchanged+1) / (changed+1), min, max)`` in whole
    hours, integer floor-division so the schedule is engine-exact.

    Input: (url, fetch_idx, changed∈{0,1}) rows; output:
    (url, n_fetches, n_changes, next_interval_hours). One hash
    aggregate on url — no window, no skew (url is unique-ish)."""
    from ocr_spark.operators.training import floor_div

    agg = fetch_log.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum("changed").cast("long").alias("n_changes"),
    )
    raw = floor_div(
        F.lit(base_hours)
        * (F.col("n_fetches") - F.col("n_changes") + 1),
        F.col("n_changes") + 1,
    )
    return agg.select(
        "url",
        "n_fetches",
        "n_changes",
        F.least(
            F.lit(max_hours).cast("long"),
            F.greatest(F.lit(min_hours).cast("long"), raw),
        ).alias("next_interval_hours"),
    )


def pagination_chains(pages: DataFrame, max_hops: int = 64) -> DataFrame:
    """Assemble rel="next" pagination chains: every page maps to the
    chain's first page plus its position — ``(url, root_url, position,
    chain_len)``.

    Multi-page articles are ubiquitous (news slideshows, forum
    threads, docs with "next" footers); a training corpus wants the
    PARTS STITCHED in order, which needs each page's chain root and
    index, not just the local next pointer. Walking next-links one
    pass at a time is O(longest chain) full scans; this is the same
    pointer-jumping shape as resolve_redirects, run on the REVERSED
    edges (next target -> its predecessor) with a hop-count column
    that accumulates across jumps (d = d_a + d_b), so after
    ceil(log2(max_hops)) self-equi-joins every page knows its root AND
    its 0-based distance from it. Chains are vertex-disjoint paths
    (one outgoing next per page, one incoming prev), so every join key
    is unique on both sides — uniform shuffles, no skew, no window.

    A next pointer whose target is not itself a crawled page (chain
    truncated at the crawl boundary) dangles harmlessly: the reversed
    edge's source never matches a page url, and chain_len counts only
    pages present (the DuckDB oracle walks with the same
    target-exists guard). Fan-in — two crawled pages (an article and
    its mirror, say) declaring the SAME resolved next target — would
    duplicate join keys and multiply rows through the doubling, so
    each page keeps ONE predecessor: the lexicographically smallest
    (a MIN over the url string — deterministic under any
    partitioning; string MIN plans Sort+SortAggregate, so the
    aggregate is staged and runs exactly once — see the inline
    comment); losing predecessors terminate their own chains. A chain longer
    than 2^rounds (or a malformed rel-next cycle) cannot reach its
    true root: those rows come back ``resolved = false`` with
    root_url/position pinned at the 2^rounds'th application — the
    same surfacing contract as resolve_redirects.

    Input: ``(url, next_url)`` with next_url NULL on chain tails and
    standalone pages → ``(url, root_url, position, chain_len,
    resolved)``. chain_len is a hash-aggregated count per root joined
    back (broadcastable: one row per chain).

    The input is staged once: the self-join doubling otherwise replans
    the upstream lineage — typically the link-extraction + RFC 3986
    resolver expressions — 2^rounds times.
    """
    pages = stage(pages.select("url", "next_url"))
    # the fan-in predecessor pick is a MIN over a STRING — Spark
    # plans Sort+SortAggregate for string buffers (no hash-agg
    # support), so this aggregate must run exactly ONCE: staged, it
    # feeds both the doubling loop and the live-roots lookup as a
    # materialized scan, and the query's final plan carries zero
    # SortAggregate nodes (pinned in test_plans)
    e = stage(
        pages.where(F.col("next_url").isNotNull())
        .groupBy(F.col("next_url").alias("src"))
        .agg(F.min("url").alias("dst"))
    )
    f, _rounds = _pointer_jump(e, max_hops, with_distance=True)
    res = (
        pages.select("url")
        .join(f, pages["url"] == f["src"], "left")
        .select(
            "url",
            F.coalesce(F.col("dst"), F.col("url")).alias("root_url"),
            F.coalesce(F.col("d"), F.lit(0).cast("long")).alias("position"),
        )
    )
    # a true root has no predecessor: it never appears as an edge src
    live = e.select(F.col("src").alias("root_url")).distinct().withColumn(
        "still_has_prev", F.lit(True)
    )
    res = res.join(live, "root_url", "left").select(
        "url", "root_url", "position",
        F.coalesce(~F.col("still_has_prev"), F.lit(True)).alias("resolved"),
    )
    sizes = res.groupBy("root_url").agg(
        F.count(F.lit(1)).alias("chain_len")
    )
    return res.join(sizes, "root_url").select(
        "url", "root_url", "position", "chain_len", "resolved"
    )
