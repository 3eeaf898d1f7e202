"""Link-graph PageRank as an iterative DataFrame program.

A Common-Crawl-scale corpus is also a web graph; centrality over the link
structure is the classic quality/selection signal (the original
Brin & Page 1998 formulation, and the CommonCrawl host-level rank datasets).
This is the power-iteration PageRank expressed entirely in DataFrame ops —
the reference pattern from Spark's own examples, hardened for scale:

  - each iteration is ONE join (edges x ranks, equi-join on src) + ONE
    partial-agg groupBy(dst); only (node, double) pairs ride the shuffles,
    never payloads. Pre-partitioning `edges` by src lets every iteration
    reuse one exchange on the big side.
  - DANGLING nodes (no outlinks) are handled exactly: their rank mass is
    folded back uniformly each iteration via a 1-row aggregate broadcast —
    no driver collect, no lost mass; sum(rank) stays 1 every iteration
    (pinned by tests).
  - lineage is truncated every iteration (localCheckpoint, same guard as
    operators/cluster.py) so the plan does not grow with n_iter.
  - determinism across engines/partitionings: per-edge contributions and
    each iteration's rank ride rounding grids (the tfidf/lm_score
    contract), so a k-iteration run is value-replayable in DuckDB as k
    unrolled CTEs. The grids SCALE WITH N: ranks live at the 1/N scale,
    so a fixed 1e-9 grid would floor every rank of a >2e9-node graph to
    exactly 0 in iteration one (all mass destroyed) — the places are
    ceil(log10(N)) + 6 (floor 9, so small graphs keep the 1e-9/1e-12
    oracle contract), keeping ~6 significant digits below 1/N at any N.

rank_i(v) = (1-d)/N + d * ( sum_{u->v} rank_{i-1}(u)/deg(u)
                            + dangling_mass_{i-1}/N )
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from invoice_ocr_reconciler_spark.plans.relational import roundn

DAMPING = 0.85


def host_link_graph(
    links: DataFrame,
    url_col: str = "url",
    link_col: str = "link",
    drop_self: bool = True,
) -> DataFrame:
    """Collapse page-level outlinks (functions/urls.py:extract_links
    output) to the weighted host graph: (src_host, dst_host, n_links).

    The standard web-graph reduction — host-level PageRank (the public
    Common Crawl rank datasets) runs on exactly this table, and it is
    orders of magnitude smaller than the page-level edge list. Host
    parsing is the blocklist-hardened derivation (host_of_url_col);
    rows whose either side yields no host (non-http targets) are dropped,
    and intra-host navigation (self-loops) is cut by default — it
    dominates raw link counts while carrying no cross-site endorsement
    signal (keep it for site-structure analyses via drop_self=False).

    One partial-agg'd groupBy: the exchange carries (src, dst, partial
    count) triples at host-pair cardinality, never page rows. Feed the
    result straight to pagerank(src_col='src_host', dst_col='dst_host')
    — duplicate-edge weighting is exactly the n_links multiplicity.
    """
    from invoice_ocr_reconciler_spark.functions.urls import host_of_url_col

    src = host_of_url_col(F.col(url_col))
    dst = host_of_url_col(F.col(link_col))
    edges = links.select(
        src.alias("src_host"), dst.alias("dst_host")
    ).filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    if drop_self:
        edges = edges.filter(F.col("src_host") != F.col("dst_host"))
    return edges.groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links")
    )


def crawl_frontier(
    links: DataFrame,
    crawled: DataFrame,
    link_col: str = "link",
    url_col: str = "url",
) -> DataFrame:
    """Frontier derivation — the crawl-loop closure over extract_links:
    which discovered targets has the crawl NOT fetched yet, and how much
    evidence points at each?

    -> (link, host, n_referrers, n_referrer_hosts): every DISTINCT link
    target absent from ``crawled``'s url set, with its referrer page count
    and distinct referring-host count (the standard frontier-priority
    signals: a target cited by many hosts outranks one cited by one host
    many times). ``links`` is (url, link) pairs (extract_links output);
    ``crawled`` is any frame whose url_col holds fetched urls. Targets are
    compared verbatim — canonicalize BOTH sides first
    (functions/urls.py:canonicalize_url_col) or mirrors leak through.

    Plan shape at 10^12 pages: the referrer aggregation collapses the edge
    list to target cardinality FIRST (one partial-agg'd exchange carrying
    (link, partial count, partial host-set) — the distinct-host count is
    exact over the <= ~referrer-count host values per target); the
    left_anti against the crawled keys then joins target-sized against
    corpus-sized on the url key, co-located on the url-bucketed layout.
    No explode, no window, nothing corpus-sized through Python.
    """
    from invoice_ocr_reconciler_spark.functions.urls import host_of_url_col

    agg = (
        links.select(
            F.col(link_col).alias("link"),
            host_of_url_col(F.col(url_col)).alias("_src_host"),
        )
        .groupBy("link")
        .agg(
            F.count("*").alias("n_referrers"),
            F.count_distinct(F.col("_src_host")).alias("n_referrer_hosts"),
        )
    )
    crawled_keys = crawled.select(F.col(url_col).alias("link"))
    return (
        agg.join(crawled_keys, "link", "left_anti")
        .select(
            "link",
            host_of_url_col(F.col("link")).alias("host"),
            "n_referrers",
            "n_referrer_hosts",
        )
    )


def fetch_schedule(
    frontier: DataFrame,
    max_per_host: int | None = None,
    link_col: str = "link",
    host_col: str = "host",
    priority_col: str = "n_referrers",
) -> DataFrame:
    """Politeness scheduling over a frontier (crawl_frontier output): one
    fetch per host per WAVE, higher-priority targets first.

    -> frontier columns + wave (1-based): a crawler that processes waves
    in order fetches each host at most once per wave — the per-host rate
    limit every polite crawler enforces — while hosts proceed in parallel.
    Within a host the order is (priority desc, link asc): deterministic,
    evidence-weighted. ``max_per_host`` caps a host's total scheduled
    fetches (quota), dropping its lowest-priority tail.

    One hash exchange on host + one row_number window — dedup_exact's
    shape; a hot host is one window partition but emits at most
    max_per_host rows, and the wave assignment needs no global
    coordination (wave = the within-host rank, so the schedule is a pure
    function of the frontier — retry/partitioning-invariant).
    """
    w = Window.partitionBy(host_col).orderBy(
        F.col(priority_col).desc(), F.col(link_col)
    )
    out = frontier.withColumn("wave", F.row_number().over(w))
    if max_per_host is not None:
        out = out.filter(F.col("wave") <= int(max_per_host))
    return out


def rank_places(n_nodes: int) -> int:
    """Rounding-grid places for an N-node graph: ceil(log10(N)) + 6,
    floor 9. Ranks live at the 1/N scale; the grid must sit well below it
    or iteration one floors every rank to 0 (grid 1e-9 kills any graph
    past ~2e9 nodes). Floor 9 pins the small-graph DuckDB oracle contract
    (1e-9 rank / 1e-12 contribution grids)."""
    return max(9, int(math.ceil(math.log10(max(n_nodes, 1)))) + 6)


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = DAMPING,
    src_col: str = "src",
    dst_col: str = "dst",
    truncate_lineage: bool = True,
) -> DataFrame:
    """(node, rank) after `n_iter` power iterations over a directed edge
    list. Duplicate edges count double (weighted by multiplicity) —
    callers wanting simple-graph semantics distinct() first. Nodes are
    everything appearing as src or dst; empty edge list -> empty result.
    """
    src, dst = F.col(src_col), F.col(dst_col)
    nodes = (
        edges.select(src.alias("node"))
        .union(edges.select(dst.alias("node")))
        .distinct()
    )
    deg = edges.groupBy(src.alias("node")).agg(F.count("*").alias("deg"))
    # one tiny scalar the whole computation is parameterized by; computing
    # it driver-side is one count job, not a per-row collect
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    places = rank_places(n)
    contrib_places = places + 3
    out_nodes = nodes.join(deg, "node", "left")  # deg NULL = dangling
    # every iteration reads `ranks` TWICE (dangling agg + contribution
    # join) and `out_nodes` once, so without materialization the plan
    # tree doubles per iteration. LAZY persists break the re-reference
    # while keeping the run one job — measured (4M-node graph, 8 cores,
    # 3 iters): 45.6s with per-iteration eager localCheckpoint -> 23.0s
    # persisted, identical ranks; the eager RDD materialization was a
    # scheduling barrier per iteration. localCheckpoint remains as a
    # periodic lineage cut for deep runs (hyperball's contract).
    checkpoint_every = 8
    if truncate_lineage:
        out_nodes = out_nodes.persist(StorageLevel.MEMORY_AND_DISK)
    ranks = out_nodes.select("node", "deg", F.lit(1.0 / n).alias("rank"))
    persisted: list[DataFrame] = []
    for it in range(1, int(n_iter) + 1):
        # dangling mass: 1-row agg, broadcast back — exact mass conservation
        dang = F.broadcast(
            ranks.agg(
                F.coalesce(
                    F.sum(F.when(F.col("deg").isNull(), F.col("rank"))),
                    F.lit(0.0),
                ).alias("dm")
            )
        )
        contribs = (
            edges.select(src.alias("node"), dst.alias("_dst"))
            .join(ranks.filter(F.col("deg").isNotNull()), "node")
            .select(
                F.col("_dst").alias("node"),
                roundn(F.col("rank") / F.col("deg"), contrib_places).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("sum_c"))
        )
        ranks = (
            out_nodes.join(contribs, "node", "left")
            .crossJoin(dang)
            .select(
                "node",
                "deg",
                roundn(
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("sum_c"), F.lit(0.0))
                        + F.col("dm") / n
                    ),
                    places,
                ).alias("rank"),
            )
        )
        if truncate_lineage:
            ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(ranks)
            if it % checkpoint_every == 0:
                ranks = ranks.localCheckpoint(eager=True)
                for df in persisted:
                    df.unpersist()
                persisted = []
    return ranks.select("node", "rank")


def mirror_hosts(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    max_hosts_per_fp: int = 64,
    min_shared: int = 1,
) -> DataFrame:
    """Detect mirrored host pairs from cross-host exact-content duplication.

    Mirrors (CDNs, scrapers, www/apex splits that survived URL
    canonicalization) are the dominant source of whole-site duplication in
    web crawls; host-pair evidence drives crawl-budget and dedup policy.
    One row per unordered host pair (host_a < host_b) that shares at least
    ``min_shared`` distinct content fingerprints:

      shared_fps    distinct fingerprints present on both hosts
      pair_weight   sum over shared fps of cnt_a * cnt_b (capture pairs)
      mirror_score  shared_fps / min(|fps(a)|, |fps(b)|), 1e-6 grid —
                    1.0 means the smaller host is fully contained

    Scale shape (the part that survives 100x):
      1. ONE corpus scan collapses captures to (fp, host, cnt); that slim
         triple frame is persisted and feeds both the pair generator and
         the per-host totals — the raw corpus is never read twice;
      2. pair generation is the dedup.HOT_BUCKET_CAP group-to-array
         pattern: collect the (host, cnt) members per fingerprint
         (bounded by the cap), drop fingerprints on more than
         ``max_hosts_per_fp`` hosts BEFORE any pairs exist — universal
         boilerplate (empty pages, error pages) carries no mirror signal
         but would otherwise quadratically dominate — and emit the i<j
         pairs with codegen array exprs, no self-join;
      3. members are sort_array'd, so host_a < host_b by construction and
         the pair agg key is canonical.

    Fingerprint = md5 of whitespace-collapsed lowercased text — identical
    to operators/dedup's fingerprint so exact-dedup and mirror detection
    share one pass in composed pipelines.
    """
    fp = F.md5(
        F.trim(
            F.regexp_replace(
                F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
            )
        )
    )
    per = (
        docs.select(fp.alias("fp"), F.col(host_col).alias("host"))
        .groupBy("fp", "host")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    grouped = (
        per.groupBy("fp")
        .agg(F.sort_array(F.collect_list(F.struct("host", "cnt"))).alias("members"))
        .filter(
            (F.size("members") >= 2) & (F.size("members") <= max_hosts_per_fp)
        )
    )
    pair_expr = """
        flatten(transform(members, (m, i) ->
          transform(slice(members, i + 2, size(members) - i - 1), o ->
            struct(m.host AS host_a, m.cnt AS cnt_a,
                   o.host AS host_b, o.cnt AS cnt_b))))
    """
    pairs = (
        grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
        .groupBy("host_a", "host_b")
        .agg(
            F.count("*").alias("shared_fps"),
            F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("pair_weight"),
        )
        .filter(F.col("shared_fps") >= min_shared)
    )

    # per is already distinct on (fp, host): counting rows per host IS the
    # distinct-fingerprint total, no second pass over the corpus
    totals = per.groupBy("host").agg(F.count("*").alias("n_fps"))
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    return (
        pairs.join(F.broadcast(totals.withColumnRenamed("host", "host_a")), "host_a")
        .withColumnRenamed("n_fps", "fps_a")
        .join(F.broadcast(totals.withColumnRenamed("host", "host_b")), "host_b")
        .withColumnRenamed("n_fps", "fps_b")
        .select(
            "host_a",
            "host_b",
            "shared_fps",
            "pair_weight",
            roundn(
                F.col("shared_fps") / F.least("fps_a", "fps_b"), 6
            ).alias("mirror_score"),
        )
    )


def hits(
    edges: DataFrame,
    n_iter: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    truncate_lineage: bool = True,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the link graph
    -> (node, authority, hub).

    PageRank's companion centrality: authorities are pages many good hubs
    point AT, hubs are pages that point at many good authorities — the
    directory/listing-page signal crawl seeding wants and PageRank
    blurs. L1-normalized variant (scores sum to 1 per side), the
    standard choice for a data pipeline (no eigen-library, and the
    normalizer is one scalar aggregate instead of an L2 sqrt).

    Same distributed shape as pagerank: each half-iteration is ONE
    equi-join (edges x scores) + ONE partial-agg groupBy + one 1-row
    normalizer broadcast via crossJoin; only (node, double) pairs ride
    the shuffles. Nodes with no in-edges hold authority 0 (no out-edges
    -> hub 0) via the left join, so the node set never shrinks.
    localCheckpoint truncates lineage per iteration.

    Determinism contract (the pagerank grids): joined contributions ride
    a grid 3 places below the score grid; score places follow
    rank_places(N) (floor 9) — scores live at the 1/N scale, so a
    fixed 1e-9 grid would zero every score of a >2e9-node graph.
    Small graphs keep the 1e-12/1e-9 DuckDB-oracle contract.
    """
    src = F.col(src_col).alias("node")
    dst = F.col(dst_col).alias("node")
    nodes = (
        edges.select(src).union(edges.select(dst)).distinct().persist()
    )
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))

    n = nodes.count()
    if n == 0:
        return nodes.select(
            F.col("node"),
            F.lit(0.0).alias("authority"),
            F.lit(0.0).alias("hub"),
        )
    places = rank_places(n)
    cp = places + 3
    hub = nodes.select("node", F.lit(1.0 / n).alias("score"))
    auth = None
    for it in range(n_iter):
        # authority pass: sum of pointing hubs' scores
        contrib = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), roundn(F.col("score"), cp).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("raw"))
        )
        norm = contrib.agg(F.sum("raw").alias("z"))
        auth = (
            nodes.join(contrib, "node", "left")
            .crossJoin(norm)
            .select(
                "node",
                roundn(
                    F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("z"), places
                ).alias("score"),
            )
        )
        # hub pass: sum of pointed-at authorities
        hcontrib = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), roundn(F.col("score"), cp).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("raw"))
        )
        hnorm = hcontrib.agg(F.sum("raw").alias("z"))
        hub = (
            nodes.join(hcontrib, "node", "left")
            .crossJoin(hnorm)
            .select(
                "node",
                roundn(
                    F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("z"), places
                ).alias("score"),
            )
        )
        # the final iteration's frames are consumed exactly once by the
        # output join — checkpointing them is pure overhead (2 extra jobs)
        if truncate_lineage and it < n_iter - 1:
            auth = auth.localCheckpoint(eager=True)
            hub = hub.localCheckpoint(eager=True)
    return (
        auth.withColumnRenamed("score", "authority")
        .join(hub.withColumnRenamed("score", "hub"), "node")
    )


def anchor_text_index(
    anchors: DataFrame,
    link_col: str = "link",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Aggregate harvested anchor text per link target — the classic
    anchor-text relevance signal (what the WEB says a page is about,
    independent of the page's own words; search and seed-selection both
    read this table).

    -> (link, n_anchors, n_unique_anchors, top_anchor, top_anchor_count)
    with top = most frequent anchor, ties broken anchor-ascending.

    Two chained partial-agg'd groupBys: (link, anchor) counts first —
    the exchange carries pair-cardinality partials — then ONE
    groupBy(link) where the top anchor is a min-of-struct((-cnt, anchor))
    codegen aggregate, NOT a window: no second sort, no row_number, and
    the struct min is partially aggregable map-side like the sums.
    """
    per = (
        anchors.select(
            F.col(link_col).alias("link"), F.col(anchor_col).alias("anchor")
        )
        .groupBy("link", "anchor")
        .agg(F.count("*").alias("cnt"))
    )
    top = F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("anchor")))
    return (
        per.groupBy("link")
        .agg(
            F.sum("cnt").alias("n_anchors"),
            F.count("*").alias("n_unique_anchors"),
            top.alias("_top"),
        )
        .select(
            "link",
            F.col("n_anchors").cast("bigint").alias("n_anchors"),
            "n_unique_anchors",
            F.col("_top.anchor").alias("top_anchor"),
            (-F.col("_top.neg")).cast("bigint").alias("top_anchor_count"),
        )
    )


def mirror_clusters(
    pairs: DataFrame,
    min_score: float = 0.0,
) -> DataFrame:
    """Group mirror-host pairs (mirror_hosts output) into transitive
    clusters -> (host, cluster_rep).

    A CDN serving N origin hosts makes the origins pairwise-connected
    only THROUGH it — crawl policy wants the whole cluster (fetch one
    member, skip the rest), which is the transitive closure, not the
    pair list. Edges with mirror_score below ``min_score`` are cut
    first (weak one-page overlaps shouldn't glue unrelated sites).

    Shape: hosts map to stable 60-bit ids (md5-derived — portable, no
    driver-side dictionary) and run through the exact large-star/
    small-star connected_components; the representative is the member
    host whose id is the component minimum, mapped back by ONE join at
    host cardinality. Everything after mirror_hosts runs at host/pair
    cardinality — corpus size never re-enters.
    """
    from invoice_ocr_reconciler_spark.operators.cluster import (
        connected_components,
    )

    from invoice_ocr_reconciler_spark.functions.text import md5_u60 as hid

    e = pairs.filter(F.col("mirror_score") >= min_score)
    edges = e.select(
        hid(F.col("host_a")).alias("doc_a"), hid(F.col("host_b")).alias("doc_b")
    )
    names = (
        e.select(F.col("host_a").alias("host"))
        .unionByName(e.select(F.col("host_b").alias("host")))
        .distinct()
        .select("host", hid(F.col("host")).alias("host_id"))
    )
    cc = connected_components(edges, "doc_a", "doc_b")
    reps = names.select(
        F.col("host_id").alias("component"), F.col("host").alias("cluster_rep")
    )
    return (
        names.join(cc, names.host_id == cc.doc_id)
        .join(F.broadcast(reps), "component")
        .select("host", "cluster_rep")
    )


def resolve_redirects(
    redirects: DataFrame,
    max_hops: int = 4,
    src_col: str = "url",
    dst_col: str = "location",
) -> DataFrame:
    """Follow 3xx redirect chains to their terminal target
    -> (url, final_url, n_hops, terminal).

    Crawls record redirects as (url, location) pairs; dedup, canonical
    URLs and the frontier all want the TERMINAL target (chains of 2-4
    hops are routine; www->apex->https->cdn). Each hop is ONE equi-join
    of the live chains against the redirect table — bounded unrolling,
    so the plan is max_hops joins, not an unbounded fixpoint; a chain
    still unresolved after ``max_hops`` (longer chain, or a redirect
    LOOP — a,b pointing at each other never terminates) reports
    ``terminal = false`` and the last url reached, which is exactly what
    a crawler needs to drop it. The final terminal check is one
    left-semi-shaped join against the redirect sources.

    Scale: the redirect table is corpus-scale; every hop joins on the
    url key, so on the url-bucketed layout all hops co-locate. Chains
    collapse fast (most are 1 hop), and resolved rows stop joining —
    hop k only re-joins rows that moved at hop k-1.
    """
    r = redirects.select(
        F.col(src_col).alias("_k"), F.col(dst_col).alias("_v")
    )
    cur = redirects.select(
        F.col(src_col).alias("url"),
        F.col(dst_col).alias("final_url"),
        F.lit(1).alias("n_hops"),
        F.lit(True).alias("_live"),
    )
    for _ in range(max_hops - 1):
        cur = (
            cur.join(
                r.withColumnRenamed("_k", "final_url"),
                "final_url",
                "left",
            )
            .select(
                "url",
                F.coalesce(
                    F.when(F.col("_live"), F.col("_v")), F.col("final_url")
                ).alias("final_url"),
                F.when(
                    F.col("_live") & F.col("_v").isNotNull(),
                    F.col("n_hops") + 1,
                )
                .otherwise(F.col("n_hops"))
                .alias("n_hops"),
                (F.col("_live") & F.col("_v").isNotNull()).alias("_live"),
            )
        )
    # terminal = the final url is not itself a redirect source
    srcs = r.select(F.col("_k").alias("final_url")).distinct()
    return (
        cur.join(
            srcs.withColumn("_is_src", F.lit(True)), "final_url", "left"
        )
        .select(
            "url",
            "final_url",
            "n_hops",
            F.coalesce(~F.col("_is_src"), F.lit(True)).alias("terminal"),
        )
    )


def merge_seed_channels(channels: dict[str, DataFrame], url_col: str = "url") -> DataFrame:
    """Union labeled seed-discovery channels (sitemaps, feeds, outlink
    frontier, directories...) into one deduplicated seed table
    -> (url, sources, n_channels).

    Crawl seeding runs several discovery channels at once; the frontier
    wants each url ONCE, with provenance (multi-channel seeds are
    higher-confidence and often fresher). `sources` is the sorted
    channel-name array, so the row is a pure function of the inputs.

    One union (no shuffle) + one partial-agg'd groupBy(url) carrying
    (url, channel-set) — collect_set stays bounded by the channel count,
    not the seed count.
    """
    tagged = None
    for name in sorted(channels):
        df = channels[name].select(
            F.col(url_col).alias("url"), F.lit(name).alias("_ch")
        )
        tagged = df if tagged is None else tagged.unionByName(df)
    if tagged is None:
        raise ValueError("need at least one channel")
    return (
        tagged.groupBy("url")
        .agg(F.sort_array(F.collect_set("_ch")).alias("sources"))
        .select("url", "sources", F.size("sources").alias("n_channels"))
    )


def link_reciprocity(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Per-host link reciprocity — the classic link-farm / spam-network
    signal: organic sites have low-to-moderate reciprocity, while link
    rings that exchange links pairwise score near 1.0.

    -> (host, out_deg, in_deg, n_reciprocal, reciprocity): degrees over
    DISTINCT directed host pairs (self-loops dropped), n_reciprocal = the
    host's out-neighbors that link back, reciprocity = n_reciprocal /
    out_deg on the 1e-6 grid (0.0 for pure sinks).

    Plan: dedup to the directed pair set (one exchange), detect reverse
    edges with a single self LEFT JOIN on the swapped key (host-graph
    sized, tiny next to the page corpus), then two partial-agg'd degree
    aggregations full-outer-merged — no pair materialization beyond the
    host graph itself.
    """
    p = (
        edges.where(F.col(src_col) != F.col(dst_col))
        .select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .distinct()
    )
    rev = p.select(F.col("s").alias("rs"), F.col("d").alias("rd"))
    marked = p.join(
        rev, (F.col("s") == F.col("rd")) & (F.col("d") == F.col("rs")), "left"
    ).select(
        "s",
        "d",
        F.when(F.col("rs").isNotNull(), 1).otherwise(0).alias("rec"),
    )
    outd = marked.groupBy(F.col("s").alias("host")).agg(
        F.count(F.lit(1)).cast("bigint").alias("out_deg"),
        F.sum("rec").cast("bigint").alias("n_reciprocal"),
    )
    ind = p.groupBy(F.col("d").alias("host")).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_deg")
    )
    return (
        outd.join(ind, "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_deg", F.lit(0)).cast("bigint").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("bigint").alias("in_deg"),
            F.coalesce("n_reciprocal", F.lit(0))
            .cast("bigint")
            .alias("n_reciprocal"),
        )
        .withColumn(
            "reciprocity",
            F.when(F.col("out_deg") == 0, F.lit(0.0)).otherwise(
                roundn(F.col("n_reciprocal") / F.col("out_deg"), 6)
            ),
        )
    )


def _oriented_edges(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-order the undirected edge set: each edge points from its
    lower-(degree, node) endpoint to the higher one -> (u, v, dv) with
    dv = degree(v).

    This is the classic triangle-listing orientation (Chiba & Nishizeki
    1985; the MapReduce variant in Suri & Vassilvitskii WWW'11): after
    orienting, every node's OUT-degree is O(sqrt(m)), so the wedge
    self-join below is bounded by sum C(outdeg, 2) = O(m^1.5) — a
    10^8-follower hub node contributes ZERO wedges (all its edges point
    INTO it) instead of 10^16 pairs. Without this, triangle counting on
    a web host graph dies on the first celebrity node.
    """
    dl = deg.select(F.col("node").alias("lo"), F.col("degree").alias("dlo"))
    dh = deg.select(F.col("node").alias("hi"), F.col("degree").alias("dhi"))
    w = und.join(dl, "lo").join(dh, "hi")
    # lo < hi always, so on a degree tie lo is already the lower rank.
    fwd = F.col("dlo") <= F.col("dhi")
    return w.select(
        F.when(fwd, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(fwd, F.col("hi")).otherwise(F.col("lo")).alias("v"),
        F.when(fwd, F.col("dhi")).otherwise(F.col("dlo")).alias("dv"),
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    undirected view of a link graph -> (node, degree, triangles,
    coeff_num, coeff_den), one row per node with degree >= 1.

    Triangles are the densest-community / link-farm signal the pairwise
    ops (link_reciprocity, mirror_hosts) can't see: a farm of N hosts
    linking each other is N*(N-1)*(N-2)/6 triangles but zero anomaly in
    any single edge. Clustering coefficient is kept as an EXACT integer
    fraction coeff_num/coeff_den = 2*T(v) / (deg(v)*(deg(v)-1)) — no
    float ever crosses an engine boundary, so the oracle check is
    bit-free-of-doubt (coeff_den = 0 for degree-1 nodes; consumers
    divide, we don't).

    Plan shape (three exchanges, all at edge/node cardinality):
      1. canonicalize + distinct: (least, greatest), self-loops dropped;
      2. degree agg (partial map-side);
      3. degree-ordered orientation (_oriented_edges) -> wedge self-join
         on the SOURCE node -> closing-edge equi-join. The orientation
         bounds wedge fan-out by O(sqrt(m)) per node — the whole reason
         this survives a skewed web graph (see _oriented_edges).
    Per-triangle rows then unpivot to the 3 member nodes and aggregate.
    Everything is equi-joins + partial aggs; AQE handles residual skew.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    und = (
        e.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    ori = _oriented_edges(und, deg)
    o1, o2, o3 = ori.alias("o1"), ori.alias("o2"), ori.alias("o3")
    # wedge (u; v1, v2) with rank(v1) < rank(v2); the closing edge, if it
    # exists, is oriented exactly v1 -> v2, so ONE equi-join closes it.
    wedge_cond = (F.col("o1.u") == F.col("o2.u")) & (
        (F.col("o1.dv") < F.col("o2.dv"))
        | ((F.col("o1.dv") == F.col("o2.dv")) & (F.col("o1.v") < F.col("o2.v")))
    )
    wedges = o1.join(o2, wedge_cond).select(
        F.col("o1.u").alias("u"),
        F.col("o1.v").alias("v1"),
        F.col("o2.v").alias("v2"),
    ).alias("w")
    tri = wedges.join(
        o3,
        (F.col("w.v1") == F.col("o3.u")) & (F.col("w.v2") == F.col("o3.v")),
    ).select(F.col("w.u").alias("u"), "w.v1", "w.v2")
    per = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v1").alias("node")))
        .unionAll(tri.select(F.col("v2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    return deg.join(per, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
        (F.coalesce("triangles", F.lit(0)) * 2)
        .cast("bigint")
        .alias("coeff_num"),
        (F.col("degree") * (F.col("degree") - 1))
        .cast("bigint")
        .alias("coeff_den"),
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007, made DETERMINISTIC) -> (node, community) after ``n_iter``
    rounds over the undirected view of the graph.

    Communities are the denser-than-component structure: connected
    components (operators/cluster.py) glue everything one bridge touches,
    but a link farm weakly tied to a legitimate hub is a separate
    COMMUNITY long before it is a separate component — this is the
    spam-cluster / topic-cluster lens over the host graph.

    Classic LPA is run-order-dependent; this variant is reproducible by
    construction (the north-rule invariant — same result at any
    parallelism): updates are synchronous (all nodes flip on the
    previous round's labels), and the argmax over neighbor label counts
    breaks ties by MINIMUM label via one exact min(struct(-count,
    label)) aggregate — no float, no RNG, no visit order. A k-round run
    therefore replays verbatim in SQL as k unrolled CTEs.

    Per round: ONE equi-join (adjacency x labels, both node-cardinality
    frames, only (node, label) rides the shuffle) + TWO stacked
    partial-agg groupBys; lineage is truncated per round
    (localCheckpoint, the pagerank guard) so the plan stays flat in
    n_iter. Labels start as node ids — integers end to end.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    adj = (
        e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
    )
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(n_iter):
        cnt = (
            adj.join(
                labels.select(F.col("node").alias("v"), "label"), "v"
            )
            .groupBy("u", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.groupBy("u")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("m")
            )
            .select(F.col("u").alias("node"), F.col("m.label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("label").cast("long").alias("community"))


def k_core(
    edges: DataFrame,
    k: int = 2,
    n_iter: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by iterative peeling -> (node, core_degree)
    for every node surviving ``n_iter`` peel rounds; at fixpoint this is
    the maximal subgraph in which every node has degree >= k.

    The k-core is the dense-subgraph lens the other graph ops frame:
    components glue everything a bridge touches, LPA needs round tuning,
    but a 2-core already strips every tree/tendril hanging off the web
    graph (most crawl-frontier noise), and a 3-core isolates link rings
    tighter than reciprocity alone. Classic peel: repeatedly delete nodes
    with degree < k; deletion cascades, so the loop runs a bounded
    ``n_iter`` rounds. Peeling is MONOTONE and a fixpoint round is the
    identity, so running extra rounds never changes a converged answer —
    which is what makes the DuckDB oracle an exact replay: it unrolls the
    same ``n_iter`` rounds as CTEs. Convergence within the bound is the
    caller's contract (cascades longer than n_iter leave sub-k nodes in;
    pathological chains need n_iter ~ chain length — raise it, rounds on
    a converged graph are free apart from scheduling).

    Plan shape, per round: ONE partial-agg degree groupBy at node
    cardinality + TWO semi-joins filtering the adjacency on survivor
    nodes (equi-joins on the node key; AQE broadcasts the survivor side
    once peeling shrinks it). Only (node, node) longs ride any shuffle;
    lineage is truncated per round (localCheckpoint, the pagerank/LPA
    guard) so the plan stays flat in n_iter.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    adj = (
        e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(int(n_iter)):
        deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= int(k)).select("u")
        adj = (
            adj.join(keep, "u", "semi")
            .join(keep.select(F.col("u").alias("v")), "v", "semi")
            .localCheckpoint(eager=False)
        )
    return (
        adj.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )


def link_predict(
    edges: DataFrame,
    max_degree: int = 64,
    min_cn: int = 1,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Common-neighbor link prediction over the undirected view of a link
    graph -> (node_a, node_b, cn, deg_a, deg_b, jacc_den, ra_ppm) for
    every NON-adjacent pair sharing >= ``min_cn`` common neighbors
    (node_a < node_b).

    The classic link-prediction triad (Liben-Nowell & Kleinberg 2003),
    kept integer-exact so no float ever crosses an engine boundary:
      cn        common-neighbor count;
      jaccard   = cn / jacc_den with jacc_den = deg_a + deg_b - cn —
                published as the exact fraction (triangle_count contract);
      ra_ppm    resource-allocation index sum(1/deg(z)) over common
                neighbors z, as sum(floor(1e6 / deg(z))) — ppm-floored
                per neighbor so the sum is order-independent bigint math.

    Scale guard: candidate pairs are generated as wedges THROUGH each
    shared neighbor z, and a hub z of degree d contributes C(d,2) pairs —
    one celebrity node on a web graph is 10^16 wedges. ``max_degree``
    drops super-hub CENTERS from wedge generation (they still appear as
    endpoints), the standard CN practice: a hub everyone links is no
    evidence two of its 10^8 neighbors know each other. The documented
    recall trade is explicit, not a silent cap — raise it for dense
    curated graphs. Remaining plan: one degree agg, one wedge self-join
    on z (fan-out bounded by max_degree^2 per center), one partial-agg
    pair groupBy, one anti-join against the edge set, two degree joins.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    und = e.select(
        F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
    ).distinct()
    adj = und.select(F.col("lo").alias("z"), F.col("hi").alias("x")).unionAll(
        und.select(F.col("hi").alias("z"), F.col("lo").alias("x"))
    )
    deg = adj.groupBy(F.col("z").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    centers = deg.filter(F.col("degree") <= int(max_degree)).select(
        F.col("node").alias("z"), F.col("degree").alias("dz")
    )
    wz = adj.join(centers, "z")
    l, r = wz.alias("l"), wz.alias("r")
    pairs = l.join(
        r,
        (F.col("l.z") == F.col("r.z")) & (F.col("l.x") < F.col("r.x")),
    ).select(
        F.col("l.x").alias("node_a"),
        F.col("r.x").alias("node_b"),
        F.col("l.dz").alias("dz"),
    )
    scored = pairs.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cn"),
        F.sum(F.floor(F.lit(1_000_000) / F.col("dz")))
        .cast("bigint")
        .alias("ra_ppm"),
    )
    nonadj = scored.join(
        und,
        (F.col("node_a") == F.col("lo")) & (F.col("node_b") == F.col("hi")),
        "left_anti",
    ).filter(F.col("cn") >= int(min_cn))
    da = deg.select(F.col("node").alias("node_a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"), F.col("degree").alias("deg_b"))
    return nonadj.join(da, "node_a").join(db, "node_b").select(
        "node_a",
        "node_b",
        "cn",
        "deg_a",
        "deg_b",
        (F.col("deg_a") + F.col("deg_b") - F.col("cn"))
        .cast("bigint")
        .alias("jacc_den"),
        "ra_ppm",
    )


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    seed: str = "rw",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DeepWalk-style random-walk corpus over the undirected view of a
    link graph -> (start, step, node): one walk of ``walk_len`` steps
    from EVERY non-isolated node (step 0 = the start itself). The output
    is the "sentence" table a skip-gram graph-embedding trainer consumes
    (Perozzi et al., DeepWalk, KDD'14) — the graph analog of the
    documents-to-token-windows pipeline the text side already has.

    Determinism (the north-rule invariant — identical corpus at any
    parallelism, and value-replayable in SQL): the "random" neighbor at
    step s of the walk started at node w is chosen by a portable hash,
      idx = int(md5(seed:start:step)[:8], 16) % degree(cur),
    against a canonical neighbor ranking (row_number over (u) ordered by
    v). No RNG state, no sampling — re-running any subset of walks gives
    identical results, which is what makes incremental regeneration and
    cross-engine oracle checks possible.

    Plan shape: the ranked adjacency (u, v, idx) and the degree table
    are built ONCE (one window exchange on u + one partial agg); each
    step is then ONE equi-join on the walk frontier's (cur) for the
    degree + ONE composite equi-join on (cur, idx) to pick the neighbor
    — walk-frontier-sized shuffles, lineage truncated per step. The
    per-node neighbor ranking sorts within u only; a celebrity hub makes
    that one partition large — cap the graph's super-hubs upstream
    (link_predict's max_degree rationale) if the host graph has 10^8-
    degree nodes.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    adj = (
        e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
    )
    ranked = adj.withColumn(
        "idx",
        F.row_number().over(Window.partitionBy("u").orderBy("v")) - 1,
    ).localCheckpoint(eager=False)
    deg = ranked.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    state = deg.select(
        F.col("node").alias("start"), F.col("node").alias("cur")
    )
    out = [
        state.select(
            "start", F.lit(0).cast("int").alias("step"), F.col("cur").alias("node")
        )
    ]
    for step in range(1, int(walk_len) + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.lit(seed), F.col("start"), F.lit(step)
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("deg")
        )
        state = (
            state.join(deg.withColumnRenamed("node", "cur"), "cur")
            .withColumn("_pick", pick)
            .join(
                ranked,
                (F.col("cur") == F.col("u")) & (F.col("_pick") == F.col("idx")),
            )
            .select("start", F.col("v").alias("cur"))
            .localCheckpoint(eager=False)
        )
        out.append(
            state.select(
                "start",
                F.lit(step).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    res = out[0]
    for frame in out[1:]:
        res = res.unionAll(frame)
    return res


def degree_histogram(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Log2-bucketed degree distribution of the undirected simple graph
    -> (bucket, lo_degree, n_nodes, min_degree, max_degree, share_ppm):
    bucket b holds degrees in [2^b, 2^(b+1)), the standard power-law
    diagnostic view (web graphs are heavy-tailed; a missing tail bucket
    after a crawl change is the cheapest regression signal).

    Everything is exact integers: the bucket is length(bin(degree)) - 1
    — the binary-representation log2, no floating ln() near power-of-2
    boundaries where floor(log2()) flips across libms; share_ppm is a
    floor division by the total node count. One degree agg + one
    bucket agg, both partial-agg'd; the output is <= 64 rows.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    und = e.select(
        F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
    ).distinct()
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    bucket = (F.length(F.conv(F.col("degree"), 10, 2)) - 1).cast("int")
    per = (
        deg.select("degree", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
    )
    total = F.broadcast(deg.agg(F.count(F.lit(1)).alias("_total")))
    return per.crossJoin(total).select(
        "bucket",
        F.expr("shiftleft(1L, bucket)").cast("bigint").alias("lo_degree"),
        "n_nodes",
        "min_degree",
        "max_degree",
        F.expr("(n_nodes * 1000000L) div _total").alias("share_ppm"),
    )


def trust_rank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping: float = DAMPING,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Seeded (personalized) PageRank — TrustRank (Gyongyi, Garcia-Molina
    & Pedersen, VLDB 2004): teleport mass goes ONLY to the trusted seed
    set, so trust flows outward from curated seeds along links and link
    farms unreachable from any seed converge to trust ~0. The curation
    use is the paper's spam-mass heuristic: a host with high raw PageRank
    but near-zero seeded trust earns its rank from spam neighborhoods —
    demote or cut it.

    Same numeric contract as `pagerank` (per-edge contributions on the
    places+3 grid, ranks on the `rank_places(N)` grid, exact dangling
    fold — dangling mass also teleports to the seeds), so a k-iteration
    run replays in SQL as k unrolled CTEs:

        trust_i(v) = (1-d)*t(v) + d*( sum_{u->v} trust_{i-1}(u)/deg(u)
                                      + dangling_mass_{i-1} * t(v) )

    with t(v) = 1/|S| for seeds, 0 otherwise. `seeds` is a 1-column
    frame (`seed_col`); seeds outside the graph's node set are ignored
    (trust is a property of graph nodes). Returns (node, trust); all
    trust is 0 if no seed intersects the graph. Empty edges -> empty.
    """
    src, dst = F.col(src_col), F.col(dst_col)
    nodes = (
        edges.select(src.alias("node"))
        .union(edges.select(dst.alias("node")))
        .distinct()
    )
    deg = edges.groupBy(src.alias("node")).agg(F.count("*").alias("deg"))
    seed_nodes = (
        seeds.select(F.col(seed_col).alias("node")).distinct().join(nodes, "node")
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("trust", F.lit(0.0))
    s = seed_nodes.count()
    places = rank_places(n)
    contrib_places = places + 3
    tele = (
        F.when(F.col("is_seed"), F.lit(1.0 / s) if s else F.lit(0.0))
        .otherwise(F.lit(0.0))
        .alias("tele")
    )
    out_nodes = (
        nodes.join(deg, "node", "left")
        .join(
            F.broadcast(seed_nodes.withColumn("is_seed", F.lit(True))),
            "node",
            "left",
        )
        .select("node", "deg", tele)
    )
    if s == 0:
        return out_nodes.select("node", F.lit(0.0).alias("trust"))
    # same double-reference shape as pagerank -> same lazy-persist
    # lineage contract (see pagerank's measured rationale)
    checkpoint_every = 8
    if truncate_lineage:
        out_nodes = out_nodes.persist(StorageLevel.MEMORY_AND_DISK)
    ranks = out_nodes.select("node", "deg", "tele", F.col("tele").alias("rank"))
    persisted: list[DataFrame] = []
    for it in range(1, int(n_iter) + 1):
        # dangling mass: 1-row agg broadcast back (exact conservation,
        # the pagerank contract) — but redistributed over SEEDS, not /N
        dang = F.broadcast(
            ranks.agg(
                F.coalesce(
                    F.sum(F.when(F.col("deg").isNull(), F.col("rank"))),
                    F.lit(0.0),
                ).alias("dm")
            )
        )
        contribs = (
            edges.select(src.alias("node"), dst.alias("_dst"))
            .join(ranks.filter(F.col("deg").isNotNull()), "node")
            .select(
                F.col("_dst").alias("node"),
                roundn(F.col("rank") / F.col("deg"), contrib_places).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("sum_c"))
        )
        ranks = (
            out_nodes.join(contribs, "node", "left")
            .crossJoin(dang)
            .select(
                "node",
                "deg",
                "tele",
                roundn(
                    F.lit(1.0 - damping) * F.col("tele")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("sum_c"), F.lit(0.0))
                        + F.col("dm") * F.col("tele")
                    ),
                    places,
                ).alias("rank"),
            )
        )
        if truncate_lineage:
            ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(ranks)
            if it % checkpoint_every == 0:
                ranks = ranks.localCheckpoint(eager=True)
                for df in persisted:
                    df.unpersist()
                persisted = []
    return ranks.select("node", F.col("rank").alias("trust"))


def bfs_distance(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    source_col: str = "node",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Multi-source directed BFS: (node, dist) for every node reachable
    from the source set within ``max_depth`` hops (sources at dist 0,
    first-discovery = shortest since expansion is level-synchronous).
    The crawl-curation use: hops-from-curated-seed-list as a quality
    prior (seed-distance tiers), and the complement of the returned set =
    islands no seed reaches (spam archipelagos, orphaned mirrors).

    Plan shape at graph scale: each round joins only the CURRENT FRONTIER
    (not the accumulated distance table) against the edge list, then
    anti-joins the known set — per-round work is proportional to the
    frontier's out-edges, the textbook level-synchronous BFS on a
    shuffle engine (Pregel's default traversal, expressed relationally).
    Early-exits when a frontier empties; lineage truncated per round so
    the plan stays flat in max_depth. Distances are exact integers — no
    grids needed; the SQL replay is a bounded recursive CTE + min().
    """
    known = (
        sources.select(F.col(source_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
    )
    if truncate_lineage:
        known = known.localCheckpoint(eager=True)
    frontier = known
    src, dst = F.col(src_col), F.col(dst_col)
    for depth in range(1, int(max_depth) + 1):
        nxt = (
            edges.select(src.alias("node"), dst.alias("_dst"))
            .join(frontier.select("node"), "node")
            .select(F.col("_dst").alias("node"))
            .distinct()
            .join(known.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(depth).cast("int"))
        )
        if truncate_lineage:
            nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        known = known.union(nxt)
        if truncate_lineage:
            known = known.localCheckpoint(eager=True)
        frontier = nxt
    return known


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    comm_col: str = "community",
) -> DataFrame:
    """Newman modularity Q of a community assignment over the undirected
    view of a link graph -> one row (n_nodes, n_edges, n_communities,
    intra_edges, q_num, q_den, modularity).

    The quality gate for label_propagation / mirror_clusters /
    host-level partitions when no gold clustering exists (cluster_eval
    needs one; modularity grades against the graph itself):
        Q = sum_c [ intra_c/m - (deg_c/(2m))^2 ]
          = ( 4m*sum_c intra_c - sum_c deg_c^2 ) / (4m^2)
    published as the EXACT integer fraction (q_num, q_den) plus the one
    division (the triangle_count coeff_num/coeff_den contract).
    Bounded-input bound (documented, not silent — the ARI precedent):
    4m^2 < 2^63 holds to m ~ 1.5e9 undirected edges, the full
    host-graph scale; deg_c <= 2m keeps every term inside the same
    bound.

    Unlabeled endpoints become singleton communities (their own node
    id) — the standard treatment, so partial labelings are graded
    against the whole graph, not a subgraph. Self-loops and duplicate
    edges are dropped by the same canonicalization as triangle_count.

    Plan shape: canonicalize+distinct, degree agg, TWO label joins onto
    the edge list (the labels side is a node-level dim — broadcast when
    small), then two partial-agg groupBys over communities and one
    1-row rollup. Nothing scales past the edge list.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    und = (
        e.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
    )
    lab = communities.select(
        F.col(node_col).cast("long").alias("n_"),
        F.col(comm_col).cast("string").alias("c_"),
    ).groupBy("n_").agg(F.min("c_").alias("c_"))  # first-wins on dup labels
    fallback = lambda n: F.concat(F.lit("__n"), n.cast("string"))  # noqa: E731
    labeled = (
        und.join(
            lab.select(F.col("n_").alias("lo"), F.col("c_").alias("c_lo")),
            "lo",
            "left",
        )
        .join(
            lab.select(F.col("n_").alias("hi"), F.col("c_").alias("c_hi")),
            "hi",
            "left",
        )
        .select(
            "lo",
            "hi",
            F.coalesce("c_lo", fallback(F.col("lo"))).alias("c_lo"),
            F.coalesce("c_hi", fallback(F.col("hi"))).alias("c_hi"),
        )
    )
    # community degree sums: every edge endpoint contributes 1 to its
    # community's degree mass (deg_c = sum over members of degree).
    ends = labeled.select(F.col("c_lo").alias("c")).unionAll(
        labeled.select(F.col("c_hi").alias("c"))
    )
    deg_c = ends.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("dc"))
    intra = labeled.where(F.col("c_lo") == F.col("c_hi")).groupBy(
        F.col("c_lo").alias("c")
    ).agg(F.count(F.lit(1)).cast("long").alias("ic"))
    per_c = deg_c.join(intra, "c", "left").select(
        "c",
        F.col("dc"),
        F.coalesce("ic", F.lit(0)).cast("long").alias("ic"),
    )
    nodes = und.select(F.col("lo").alias("n")).unionAll(
        und.select(F.col("hi").alias("n"))
    ).distinct()
    row = (
        per_c.agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.sum("ic").cast("long").alias("intra_edges"),
            F.sum(F.col("dc") * F.col("dc")).cast("long").alias("_sum_dc2"),
            (F.sum("dc") / 2).cast("long").alias("n_edges"),
        )
        .crossJoin(nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
    )
    m = F.col("n_edges")
    q_num = F.lit(4) * m * F.col("intra_edges") - F.col("_sum_dc2")
    q_den = F.lit(4) * m * m
    return row.select(
        "n_nodes",
        "n_edges",
        "n_communities",
        "intra_edges",
        q_num.cast("long").alias("q_num"),
        q_den.cast("long").alias("q_den"),
        F.when(q_den > 0, q_num.cast("double") / q_den).alias("modularity"),
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the undirected
    view -> one row (n_edges, s1, sx, sxy, sxx, r).

    The one-number structure signal the degree histogram can't see:
    r < 0 means hubs link to leaves (the organic web's disassortative
    shape), r ~ +1 flags rings/cliques of same-degree hosts — link
    farms again, complementing triangle_count and link_reciprocity.

    Over the 2m ordered endpoint pairs (each undirected edge both
    ways), r is the Pearson correlation of (deg_u, deg_v); symmetry
    makes it sqrt-free:
        r = (s1*sxy - sx^2) / (s1*sxx - sx^2)
    with s1 = 2m, sx = sum(d_lo + d_hi), sxy = sum 2*d_lo*d_hi,
    sxx = sum(d_lo^2 + d_hi^2) — all exact BIGINTs pooled from the
    edge list, one division (NULL when the graph is degree-regular:
    zero variance). Bounded-input bound (documented): s1*sxx <=
    4*m^2*d_max^2 needs m*d_max < ~1.5e9 — beyond that the pools stay
    exact but the final products want the double path; shard or
    sample upstream.

    Plan shape: canonicalize+distinct, degree agg, two degree joins
    onto edges (node-level dim side), ONE 1-row partial-agg rollup.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    und = (
        e.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    w = und.join(
        deg.select(F.col("node").alias("lo"), F.col("degree").alias("dlo")),
        "lo",
    ).join(
        deg.select(F.col("node").alias("hi"), F.col("degree").alias("dhi")),
        "hi",
    )
    row = w.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        (F.count(F.lit(1)) * 2).cast("long").alias("s1"),
        F.sum(F.col("dlo") + F.col("dhi")).cast("long").alias("sx"),
        F.sum(F.lit(2) * F.col("dlo") * F.col("dhi"))
        .cast("long")
        .alias("sxy"),
        F.sum(F.col("dlo") * F.col("dlo") + F.col("dhi") * F.col("dhi"))
        .cast("long")
        .alias("sxx"),
    )
    num = F.col("s1") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("s1") * F.col("sxx") - F.col("sx") * F.col("sx")
    return row.select(
        "n_edges",
        "s1",
        "sx",
        "sxy",
        "sxx",
        F.when(den != 0, num.cast("double") / den).alias("r"),
    )


def scc(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_outer: int = 10,
    max_inner: int = 60,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Strongly connected components of a directed graph by iterative
    coloring (the Pregel-style SCC of Salihoglu & Widom 2014; Orzan's
    coloring scheme): link farms, mirror rings and navigational cores of
    a crawl graph are exactly its non-trivial SCCs, and the condensation
    is what makes trust/flow analyses well-founded.

    Each outer round over the still-unassigned subgraph:
      1. FORWARD MAX-COLORING to fixpoint: color(v) = max id over
         {v} ∪ ancestors(v) — per round ONE frontier equi-join + ONE
         partial-agg max per node (only strictly-raising messages ride
         the shuffle).
      2. ROOTS: color(v) == v — each root is the max id of its own SCC.
      3. BACKWARD CONFINEMENT from the roots along reversed edges,
         restricted to same-color nodes: exactly the root's SCC (color
         equality proves root-reaches-v; the reversed walk proves
         v-reaches-root).
      4. Members get scc_id = min(member) per color (canonical, engine-
         independent); assigned nodes leave the active set.

    Every block peels no later than the round in which no higher-id
    ancestor SCC remains, so outer depth = the condensation's
    "descending-id chain" depth — 2 on the driver fixture, bounded by
    the condensation height in general (`max_outer` caps it; unassigned
    leftovers raise). Inner depths are graph/SCC diameters, the same
    knob every frontier algorithm here carries (bfs_distance, hyperball).
    All labels are exact integers — no grids; the SQL ground truth is
    mutual reachability (recursive CTE) + min().
    """
    src, dst = F.col(src_col), F.col(dst_col)
    e_all = (
        edges.select(src.cast("long").alias("s"), dst.cast("long").alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    if truncate_lineage:
        e_all = e_all.localCheckpoint(eager=True)
    remaining = (
        e_all.select(F.col("s").alias("node"))
        .union(e_all.select(F.col("d").alias("node")))
        .distinct()
    )
    if truncate_lineage:
        remaining = remaining.localCheckpoint(eager=True)

    out: DataFrame | None = None
    for _outer in range(int(max_outer)):
        if remaining.isEmpty():
            break
        e_act = (
            e_all.join(
                remaining.select(F.col("node").alias("s")), "s", "left_semi"
            )
            .join(remaining.select(F.col("node").alias("d")), "d", "left_semi")
        )
        if truncate_lineage:
            e_act = e_act.localCheckpoint(eager=True)

        # 1. forward max-coloring: only raised colors are re-propagated.
        # Both inner loops must exit via the empty-frontier break: a
        # partial coloring would silently SPLIT an SCC across two ids
        # (a 'false root' confines a proper subset and its nodes leave
        # `remaining`, so the outer-loop raise never fires) — hence the
        # converged flags and the explicit raise below.
        color = remaining.select("node", F.col("node").alias("color"))
        frontier = color
        converged = False
        for _ in range(int(max_inner)):
            msgs = (
                e_act.join(
                    frontier.select(
                        F.col("node").alias("s"), F.col("color").alias("mc")
                    ),
                    "s",
                )
                .groupBy(F.col("d").alias("node"))
                .agg(F.max("mc").alias("mc"))
            )
            raised = (
                color.join(msgs, "node")
                .where(F.col("mc") > F.col("color"))
                .select("node", F.col("mc").alias("color"))
            )
            if truncate_lineage:
                raised = raised.localCheckpoint(eager=True)
            if raised.isEmpty():
                converged = True
                break
            color = (
                color.join(raised.select("node"), "node", "left_anti")
                .union(raised)
            )
            if truncate_lineage:
                color = color.localCheckpoint(eager=True)
            frontier = raised
        if not converged:
            raise RuntimeError(
                "scc: max_inner exhausted before forward coloring reached "
                "fixpoint — raise max_inner (graph diameter exceeds the cap)"
            )

        # 2+3. roots, then backward confinement inside the color class
        members = color.where(F.col("color") == F.col("node"))
        m_frontier = members
        converged = False
        for _ in range(int(max_inner)):
            cand = (
                e_act.join(
                    m_frontier.select(
                        F.col("node").alias("d"), F.col("color").alias("mc")
                    ),
                    "d",
                )
                .select(F.col("s").alias("node"), F.col("mc").alias("color"))
                .distinct()
                .join(color, ["node", "color"], "left_semi")
                .join(members.select("node"), "node", "left_anti")
            )
            if truncate_lineage:
                cand = cand.localCheckpoint(eager=True)
            if cand.isEmpty():
                converged = True
                break
            members = members.union(cand)
            if truncate_lineage:
                members = members.localCheckpoint(eager=True)
            m_frontier = cand
        if not converged:
            raise RuntimeError(
                "scc: max_inner exhausted before backward confinement "
                "reached fixpoint — raise max_inner (SCC diameter exceeds "
                "the cap)"
            )

        # one row per peeled SCC — can be huge on a real crawl (every
        # singleton is a row), so no forced broadcast: AQE picks
        ids = members.groupBy("color").agg(F.min("node").alias("scc_id"))
        assigned = members.join(ids, "color").select("node", "scc_id")
        if truncate_lineage:
            assigned = assigned.localCheckpoint(eager=True)
        out = assigned if out is None else out.union(assigned)
        remaining = remaining.join(
            members.select("node"), "node", "left_anti"
        )
        if truncate_lineage:
            remaining = remaining.localCheckpoint(eager=True)

    if not remaining.isEmpty():
        raise RuntimeError(
            "scc: max_outer exhausted with unassigned nodes — raise "
            "max_outer (condensation deeper than the cap)"
        )
    if out is None:
        spark = edges.sparkSession
        return spark.createDataFrame(
            [], "node long, scc_id long"
        )
    return out


def condensation(
    edges: DataFrame,
    sccs: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Condensation DAG of a directed graph given its SCC assignment
    (scc() output): one edge (scc_a, scc_b, n_links) per pair of distinct
    components with at least one cross edge. The graph every downstream
    DAG analysis (topological tiering, spam-mass flow, reachability
    summaries) actually runs on — typically orders of magnitude smaller
    than the page graph.

    Two equi-joins on node + one partial-agg groupBy; no new shuffle
    key beyond the SCC map itself.
    """
    s = sccs.select(F.col("node").alias("s"), F.col("scc_id").alias("scc_a"))
    d = sccs.select(F.col("node").alias("d"), F.col("scc_id").alias("scc_b"))
    e = edges.select(
        F.col(src_col).cast("long").alias("s"),
        F.col(dst_col).cast("long").alias("d"),
    )
    return (
        e.join(s, "s")
        .join(d, "d")
        .where(F.col("scc_a") != F.col("scc_b"))
        .groupBy("scc_a", "scc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
        .orderBy("scc_a", "scc_b")
    )


def dag_layers(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 40,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Longest-path layering of a DAG: layer(v) = length of the longest
    path from any source to v (sources at 0) — the topological tiering
    of a condensation graph (crawl-depth tiers, dependency scheduling
    waves, spam-mass distance).

    Level-synchronous relaxation: round k raises exactly the nodes whose
    longest path is k, so only RAISED nodes re-propagate (the frontier
    contract shared with bfs_distance/scc) and the algorithm converges
    in depth(DAG) rounds. A graph with a cycle never converges — hitting
    `max_depth` with a live frontier raises loudly instead of returning
    wrong layers (run scc()/condensation() first on general graphs).
    Layers are exact integers; the SQL ground truth is a recursive CTE
    over path lengths + max().
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("s"),
            F.col(dst_col).cast("long").alias("d"),
        )
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    if truncate_lineage:
        e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
    )
    layer = nodes.select("node", F.lit(0).cast("int").alias("layer"))
    if truncate_lineage:
        layer = layer.localCheckpoint(eager=True)
    frontier = layer
    # max_depth + 1 rounds: a DAG of depth exactly max_depth raises for
    # the last time in round max_depth and needs one more round to OBSERVE
    # the empty frontier — only a genuinely deeper (or cyclic) graph is
    # still raising after that
    for k in range(1, int(max_depth) + 2):
        msgs = (
            e.join(
                frontier.select(
                    F.col("node").alias("s"), F.col("layer").alias("pl")
                ),
                "s",
            )
            .groupBy(F.col("d").alias("node"))
            .agg((F.max("pl") + 1).alias("nl"))
        )
        raised = (
            layer.join(msgs, "node")
            .where(F.col("nl") > F.col("layer"))
            .select("node", F.col("nl").cast("int").alias("layer"))
        )
        if truncate_lineage:
            raised = raised.localCheckpoint(eager=True)
        if raised.isEmpty():
            return layer.orderBy("node")
        layer = layer.join(raised.select("node"), "node", "left_anti").union(
            raised
        )
        if truncate_lineage:
            layer = layer.localCheckpoint(eager=True)
        frontier = raised
    raise RuntimeError(
        "dag_layers: max_depth exhausted with a live frontier — the graph "
        "has a cycle or is deeper than the cap (condense cycles first)"
    )
