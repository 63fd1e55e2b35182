"""Link-graph operators: html outlink parse → resolved edge list →
host-level graph → degree statistics.

This is the discovery front the frontier consumes (the reference repo
reads CDX metadata downstream of a crawler that does exactly this; its
arithmetic stand-in is frontier/scheduler.expand_links, whose child
formula the fixture generator embeds as real ``<a href>`` anchors —
sources/cc_pages.cc_pages_linked_df — so the parse here has exact
arithmetic ground truth in DuckDB).

Scale shape at 100 TB / 10^10 pages:
- the parse is pure codegen over the html blob (functions/links.py) — the
  ONLY stage that reads the blob; the edge list projects it away before
  the explode, so the fan-out (~50 links/page in real corpora) shuffles
  slim (url, outlink) strings, never html bytes;
- host_link_graph is one hash aggregation on (src_host, dst_host); counts
  are sum-combinable so map-side partial aggregation absorbs the ~Zipf
  skew of popular destination hosts before the shuffle;
- degree stats are a second aggregation over the (already tiny) edge
  relation; the pseudo-log histogram (shared with timeseries.W10) bounds
  output cardinality to a few dozen rows per side regardless of scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.links import parse_outlinks_col, resolve_href_col
from ..functions.urlkit import host_of, scheme_of
from .timeseries import pseudo_log_histogram


def page_outlinks(pages: DataFrame) -> DataFrame:
    """Distinct (url, outlink) edges parsed out of the html column and
    resolved against the page's own URL (scheme/host/path derived via
    codegen parse_url — a crawler resolves against the fetched URL,
    nothing else).

    Distinct-ness collapses repeat anchors within a page AND repeat
    fetches of the same URL across crawls. The dedup runs on the slim
    (url, outlink) projection AFTER the parse — never shuffle the html
    blob to deduplicate pages; decoding a duplicate page twice map-side is
    cheaper than moving its bytes."""
    base = pages.select(
        "url",
        scheme_of(F.col("url")).alias("_scheme"),
        host_of(F.col("url")).alias("_host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("_path"),
        F.explode(parse_outlinks_col(F.col("html"))).alias("_href"),
    )
    return (
        base.select(
            "url",
            resolve_href_col(
                F.col("_scheme"), F.col("_host"), F.col("_path"),
                F.col("_href"),
            ).alias("outlink"),
        )
        .filter(F.col("outlink").isNotNull())
        .distinct()
    )


def page_outlinks_rel(pages: DataFrame,
                      honor_nofollow: bool = True) -> DataFrame:
    """Distinct (url, outlink) edges like page_outlinks, but parsed
    through the rel-aware anchor extractor (functions/rep.py
    parse_outlinks_rel_col) and — by default — honoring BOTH nofollow
    tiers a polite crawler must respect: the page-level
    ``<meta name="robots" content="nofollow">`` directive (drops every
    outlink of the page) and per-anchor ``rel="nofollow"``.

    Same scale shape as page_outlinks: the one stage that decodes the
    html blob computes hrefs + the two boolean tiers (regexps in
    generated code, the per-anchor ``transform``/``filter`` interpreted —
    ``CodegenFallback``); the explode and the distinct shuffle carry only
    slim strings. The nofollow filters run BEFORE the explode (array
    filter) so suppressed anchors never fan out."""
    from ..functions.rep import (
        parse_meta_robots_col,
        parse_outlinks_rel_col,
        robots_nofollow_col,
    )

    anchors = parse_outlinks_rel_col(F.col("html"))
    if honor_nofollow:
        anchors = F.when(
            robots_nofollow_col(parse_meta_robots_col(F.col("html"))),
            F.array().cast(anchors_type()),
        ).otherwise(F.filter(anchors, lambda a: ~a["nofollow"]))
    base = pages.select(
        "url",
        scheme_of(F.col("url")).alias("_scheme"),
        host_of(F.col("url")).alias("_host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("_path"),
        F.explode(anchors).alias("_a"),
    )
    return (
        base.select(
            "url",
            resolve_href_col(
                F.col("_scheme"), F.col("_host"), F.col("_path"),
                F.col("_a")["href"],
            ).alias("outlink"),
        )
        .filter(F.col("outlink").isNotNull())
        .distinct()
    )


def anchors_type():
    """Element type of parse_outlinks_rel_col, for empty-array literals."""
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    return ArrayType(
        StructType(
            [
                StructField("href", StringType()),
                StructField("nofollow", BooleanType()),
            ]
        )
    )


def host_link_graph(outlinks: DataFrame,
                    keep_self_loops: bool = True) -> DataFrame:
    """(src_host, dst_host, n_links) — the host-level web graph, the unit
    Common Crawl publishes its own webgraph at. Self-loops (intra-host
    links) are real navigation structure and kept by default; PageRank-
    style consumers usually drop them (``keep_self_loops=False``)."""
    edges = outlinks.select(
        host_of(F.col("url")).alias("src_host"),
        host_of(F.col("outlink")).alias("dst_host"),
    )
    if not keep_self_loops:
        edges = edges.filter(F.col("src_host") != F.col("dst_host"))
    return (
        edges.groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
        .orderBy("src_host", "dst_host")
    )


def host_degree_stats(host_edges: DataFrame) -> DataFrame:
    """Per-host degree summary over the host graph: distinct out-/in-
    neighbor counts and total out-link weight, full-outer-merged so hosts
    that only receive links still appear (in-degree > 0, out-degree 0)."""
    out_deg = host_edges.groupBy(
        F.col("src_host").alias("host")
    ).agg(
        F.count("*").alias("out_degree"),
        F.sum("n_links").alias("out_links"),
    )
    in_deg = host_edges.groupBy(
        F.col("dst_host").alias("host")
    ).agg(F.count("*").alias("in_degree"))
    return (
        out_deg.join(in_deg, "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("out_links", F.lit(0)).alias("out_links"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .orderBy("host")
    )


def host_degree_histogram(host_edges: DataFrame) -> DataFrame:
    """Pseudo-log histogram (1-2-5 decades, shared with W10) of host
    in-degrees — the classic power-law summary plot of a web graph, O(1)
    output rows at any scale."""
    in_deg = host_edges.groupBy(
        F.col("dst_host").alias("host")
    ).agg(F.count("*").alias("in_degree"))
    return pseudo_log_histogram(in_deg, "in_degree")


def anchor_text_stats(pages_html: DataFrame, top_k: int = 2) -> DataFrame:
    """Top anchor texts per target host — the anchor-text web-graph
    product (what link-based ranking / query-independent relevance
    training consumes). Input: rows with an ``html`` binary column.

    Plan shape: anchors parse JVM-side (functions/links.py
    parse_anchors_col: codegen regexp, interpreted field ``transform``),
    the blob is pruned BEFORE the explode, counts pre-aggregate map-side
    on (dst_host, text), and the ranking window partitions by dst_host
    over the already-aggregated distinct-text
    rows (per-host cardinality, not per-anchor volume). A pathological
    host with ~10^6 distinct texts is one partition of counted rows —
    acceptable; the salted two-phase shape (textstats.vocabulary) drops
    in if a corpus ever breaks that."""
    from pyspark.sql import Window

    from ..functions.links import parse_anchors_col

    anchors = pages_html.select(
        F.explode(parse_anchors_col(F.col("html"))).alias("a")
    )
    counted = (
        anchors.select(
            host_of(F.col("a.href")).alias("dst_host"),
            F.col("a.text").alias("anchor_text"),
        )
        .filter(F.col("dst_host").isNotNull() & (F.col("dst_host") != ""))
        .groupBy("dst_host", "anchor_text")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.desc("n"), F.asc("anchor_text")
    )
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .orderBy("dst_host", "rank")
    )


def bounded_harmonic_centrality(
    edges: DataFrame,
    radius: int = 4,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Exact bounded-radius harmonic centrality over a directed graph:
    for every node, ``harmonic_x1m = Σ_reached ⌊10⁶ / d⌋`` summed over all
    nodes reachable within ``radius`` hops (d = shortest directed
    distance, integer fixed-point weights so the result is engine-exact),
    plus ``n_reached``. Common Crawl ranks its published host/domain web
    graphs by exactly this centrality (computed there with HyperBall —
    Boldi & Vigna, "In-Core Computation of Geometric Centralities with
    HyperBall", 2013); the ranking convention scores INCOMING reachability,
    which callers get by swapping src/dst (q_host_harmonic does).

    Scale: the (node, reached) pair relation is Θ(n²) at full radius —
    this exact form is the small-scale VERIFIER (same role as the exact
    crawl_overlap next to its HLL flavor); the scale path is
    hyperball_harmonic below, whose state is O(n · 2^lgk) regardless of
    ball sizes. BFS loop: each level expands the frontier through one
    edge join, anti-joins out already-reached pairs (BFS invariant =
    min-distance), and localCheckpoints to truncate lineage — the same
    iteration discipline as dedup.connected_components."""
    e = (
        edges.select(
            F.col(src_col).alias("node"), F.col(dst_col).alias("reached")
        )
        .filter(F.col("node") != F.col("reached"))
        .distinct()
    )
    e.persist()
    known = e.withColumn("d", F.lit(1)).localCheckpoint(eager=True)
    frontier = known.drop("d")
    for d in range(2, radius + 1):
        nxt = (
            frontier.join(
                e.select(
                    F.col("node").alias("reached"),
                    F.col("reached").alias("hop"),
                ),
                "reached",
            )
            .select("node", F.col("hop").alias("reached"))
            .filter(F.col("node") != F.col("reached"))
            .distinct()
            .join(known.select("node", "reached"), ["node", "reached"], "left_anti")
            .withColumn("d", F.lit(d))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        known = known.union(nxt).localCheckpoint(eager=True)
        frontier = nxt.drop("d")
    e.unpersist()
    return (
        known.groupBy(F.col("node").alias("host"))
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.sum(F.floor(F.lit(1_000_000) / F.col("d")))
            .cast("long")
            .alias("harmonic_x1m"),
        )
        .orderBy("host")
    )


def hyperball_registers_portable(
    edges: DataFrame,
    radius: int = 2,
    n_buckets: int = 64,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """HyperBall's register propagation, portable-hash verification
    flavor: per-node (bucket, max rho) registers seeded from the node's
    own hash, then ``radius`` iterations of R_d(v) = max(R_{d-1}(v),
    max_{(v,w)∈E} R_{d-1}(w)) — the exact integer half of
    ``hyperball_harmonic`` (same ball recurrence, same edge-keyed
    join + max-combine per level), replayed bit-for-bit by an unrolled
    DuckDB oracle (hyperball_registers_exact). Only the float harmonic
    estimate on top of the registers is left to the sketch-agreement
    tests."""
    from ..functions.porthash import porthash

    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    h = porthash(F.col("node"))
    v = ((h - h % n_buckets) / n_buckets).cast("long")
    rho = (
        F.when(v == 0, F.lit(25)).otherwise(F.lit(25) - F.length(F.bin(v)))
    ).cast("long")
    r = nodes.select(
        "node",
        (h % n_buckets).cast("long").alias("bucket"),
        rho.alias("max_rho"),
    )
    for _ in range(radius):
        contrib = (
            r.alias("r")
            .join(e.alias("e"), F.col("r.node") == F.col("e.dst"))
            .select(
                F.col("e.src").alias("node"),
                F.col("r.bucket").alias("bucket"),
                F.col("r.max_rho").alias("max_rho"),
            )
        )
        r = (
            r.unionByName(contrib)
            .groupBy("node", "bucket")
            .agg(F.max("max_rho").alias("max_rho"))
            .localCheckpoint(eager=True)
        )
    return r.orderBy("node", "bucket")


def hyperball_harmonic(
    edges: DataFrame,
    radius: int = 4,
    lgk: int = 12,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): harmonic centrality from iterated
    HLL ball unions — the 100-TB path for web-graph centrality ranking.

    State per node is ONE mergeable HLL sketch (``hll_sketch_agg``,
    2^lgk registers — lgk=12 ≈ 1.6% RSE, 4 KB/node) holding the ball
    B_d(v) = {v} ∪ ⋃_{(v,w)∈E} B_{d-1}(w). Each iteration is a single
    edge-keyed join + ``hll_union_agg`` groupBy — shuffle O(|E| · 4 KB),
    independent of ball cardinality, which is the whole point: the exact
    verifier's pair relation is Θ(n²), the sketch state is Θ(n). The
    harmonic accumulator adds ⌊(est_d − est_{d−1})⌋ · ⌊10⁶/d⌋ per level
    (same fixed-point weights as the exact form, so the two agree to HLL
    error — pinned by tests/test_linkgraph.py). All JVM datasketches
    codegen: no UDF, no collect; one localCheckpoint per level truncates
    the iterative lineage exactly like connected_components."""
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # every per-level eager localCheckpoint below is its own job; without
    # this the edge scan + distinct shuffle would replay radius+1 times
    # (same bracket as bounded_harmonic_centrality's)
    e.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
    )
    state = (
        nodes.groupBy("node")
        .agg(F.hll_sketch_agg("node", F.lit(lgk)).alias("ball"))
        .withColumn("est_prev", F.lit(1).cast("long"))
        .withColumn("h_x1m", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for d in range(1, radius + 1):
        nb = (
            e.join(state.select(F.col("node").alias("dst"), "ball"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.hll_union_agg("ball").alias("nb_ball"))
        )
        w = 1_000_000 // d
        state = (
            state.join(nb, "node", "left")
            .select(
                "node",
                F.when(
                    F.col("nb_ball").isNull(), F.col("ball")
                )
                .otherwise(F.hll_union("ball", "nb_ball"))
                .alias("ball"),
                "est_prev",
                "h_x1m",
            )
            .withColumn(
                "est",
                F.floor(F.hll_sketch_estimate("ball")).cast("long"),
            )
            .select(
                "node",
                "ball",
                F.col("est").alias("est_prev"),
                (
                    F.col("h_x1m")
                    + F.greatest(
                        F.col("est") - F.col("est_prev"), F.lit(0)
                    )
                    * F.lit(w)
                ).alias("h_x1m"),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return state.select(
        F.col("node").alias("host"),
        (F.col("est_prev") - 1).alias("n_reached_est"),
        F.col("h_x1m").alias("harmonic_x1m_est"),
    ).orderBy("host")
