"""Plot-layer window / time-series analytics (SURVEY.md §2.5 W1–W10).

The reference computes these in pandas over the tiny per-crawl series
(/root/reference/crawl_size.py:90-176, overlap.py:47-76). Here they are
window functions over the crawl-level aggregates — the inputs are already
reduced to one row per crawl (≤ ~126 rows at full production scale), so the
single-partition window is deliberately cheap, while the heavy reduction
below it is fully distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.windows import dim_window

from .counts import page_rows


def cumulative_size(size: DataFrame) -> DataFrame:
    """W1: running totals over crawls ordered by crawl id
    (crawl_size.py:92-97)."""
    w = dim_window("crawl").rowsBetween(Window.unboundedPreceding, 0)
    return size.select(
        "crawl",
        "fetches",
        "pages",
        F.sum("fetches").over(w).alias("cum_fetches"),
        F.sum("pages").over(w).alias("cum_pages"),
    ).orderBy("crawl")


def duplicate_ratio(size: DataFrame) -> DataFrame:
    """W6: URL- and content-level duplicate ratios per crawl
    (crawl_size.py:167-176). Ratios scaled to integer permille to keep the
    oracle comparison float-free."""
    return size.select(
        "crawl",
        "pages",
        "urls",
        "digests",
        (
            F.floor(
                F.lit(1000)
                * (F.lit(1.0) - F.col("urls") / F.col("pages"))
            )
        )
        .cast("long")
        .alias("url_dup_permille"),
        (
            F.floor(
                F.lit(1000)
                * (F.lit(1.0) - F.col("digests") / F.col("pages"))
            )
        )
        .cast("long")
        .alias("content_dup_permille"),
    ).orderBy("crawl")


def crawl_overlap(pages: DataFrame) -> DataFrame:
    """W7 exact mode: pairwise URL overlap + Jaccard between crawls
    (overlap.py:47-68). One scan builds the per-URL crawl bitmask; the
    O(crawls²) pair expansion happens on the tiny crawl dimension.

    Jaccard reported as integer permille (floor) to stay float-exact in the
    oracle comparison.
    """
    per_url = (
        page_rows(pages)
        .groupBy("url")
        .agg(F.collect_set("crawl").alias("crawls"))
    )
    # explode to (url, c1), (url, c2) pairs with c1 < c2
    a = per_url.select("url", F.explode("crawls").alias("c1"))
    b = per_url.select("url", F.explode("crawls").alias("c2"))
    inter = (
        a.join(b, "url")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count("*").alias("inter"))
    )
    sizes = (
        page_rows(pages)
        .groupBy("crawl")
        .agg(F.countDistinct("url").alias("n"))
    )
    return (
        inter.join(F.broadcast(sizes.withColumnRenamed("crawl", "c1")), "c1")
        .withColumnRenamed("n", "n1")
        .join(F.broadcast(sizes.withColumnRenamed("crawl", "c2")), "c2")
        .withColumnRenamed("n", "n2")
        .select(
            "c1",
            "c2",
            "inter",
            (F.col("n1") + F.col("n2") - F.col("inter")).alias("uni"),
            F.floor(
                F.lit(1000)
                * F.col("inter")
                / (F.col("n1") + F.col("n2") - F.col("inter"))
            )
            .cast("long")
            .alias("jaccard_permille"),
        )
        .orderBy("c1", "c2")
    )


def trailing_union(size_by_crawl: DataFrame, n: int) -> DataFrame:
    """W4/W5: trailing-N-crawl page sums (crawl_size.py:121-155). The
    reference emits 'nan' until N crawls exist; we emit 0 (kept non-null so
    cross-engine comparisons never hit NULL→NaN pandas coercion)."""
    w = dim_window("crawl").rowsBetween(-(n - 1), 0)
    cnt = F.count("*").over(w)
    return size_by_crawl.select(
        "crawl",
        F.when(cnt >= n, F.sum("pages").over(w))
        .otherwise(0)
        .alias(f"pages_last_{n}"),
        F.when(cnt >= n, F.sum("urls").over(w))
        .otherwise(0)
        .alias(f"urls_last_{n}"),
    ).orderBy("crawl")


def trailing_distinct_union(
    pages: DataFrame, n: int, lgk: int = 14
) -> DataFrame:
    """W4 sketch flavor: distinct URLs over the trailing N crawls via
    sliding HLL-sketch unions, N ∈ {2,3,4,6,9,12}
    (crawl_size.py:121-136: ``cum_hll.update(hlls[-i])`` over the last N
    per-crawl HLLs), plus the reference's URLs/pages ratio over the same
    window (crawl_size.py:137-155) as integer permille.

    Under-full windows (fewer than N crawls so far) emit 0 where the
    reference emits 'nan' — same convention as trailing_union.

    Scale: the fact table is scanned ONCE to build ≤126 per-crawl sketches
    (mergeable state, map-side combined); every sliding union is then a
    window over the tiny crawl dimension. This replaces re-scanning N
    crawls' raw URLs per window position — the reference touches 126
    sketches, and so do we."""
    per_crawl = (
        page_rows(pages)
        .groupBy("crawl")
        .agg(
            F.hll_sketch_agg("url", F.lit(lgk)).alias("sk"),
            F.hll_sketch_agg("digest", F.lit(lgk)).alias("sk_digest"),
            F.sum(F.lit(1)).alias("pages"),
        )
    )
    w = dim_window("crawl").rowsBetween(-(n - 1), 0)
    cnt = F.count("*").over(w)
    est = F.hll_sketch_estimate(F.hll_union_agg("sk").over(w))
    est_digest = F.hll_sketch_estimate(F.hll_union_agg("sk_digest").over(w))
    pages_n = F.sum("pages").over(w)
    return per_crawl.select(
        "crawl",
        F.when(cnt >= n, est).otherwise(0).alias(f"urls_est_last_{n}"),
        # the reference slides every hll item type ('url estim.',
        # 'digest estim.' — crawl_size.py cumulative_size loop)
        F.when(cnt >= n, est_digest).otherwise(0).alias(
            f"digests_est_last_{n}"
        ),
        F.when(cnt >= n, pages_n).otherwise(0).alias(f"pages_last_{n}"),
        F.when(cnt >= n, F.floor(F.lit(1000) * est / pages_n))
        .otherwise(0)
        .cast("long")
        .alias(f"urls_per_page_permille_last_{n}"),
    ).orderBy("crawl")


def crawl_overlap_sketch(
    pages: DataFrame, lgk: int = 14, item_col: str = "url"
) -> DataFrame:
    """W7 sketch flavor — the reference's actual overlap computation
    (overlap.py:47-68): pairwise |A∩B| = |A|+|B|−|A∪B| over per-crawl HLL
    sketches, never over raw URLs.

    Scale: ONE scan of the fact table builds ≤126 (crawl, sketch) rows;
    the O(crawls²) pair expansion and the sketch unions run on that tiny
    dimension — no per-URL shuffle at all, unlike the exact flavor
    (crawl_overlap), which is retained as the small-scale verifier.
    Emits the same [intersection, union, size1, size2, containment,
    jaccard] tuple as overlap.py:64-66, ratios as integer permille.
    ``item_col`` selects the sketched item type — the reference computes
    the matrix per item type ('url estim.', 'digest estim.')."""
    per_crawl = (
        page_rows(pages)
        .groupBy("crawl")
        .agg(F.hll_sketch_agg(item_col, F.lit(lgk)).alias("sk"))
    )
    a = per_crawl.select(
        F.col("crawl").alias("c1"), F.col("sk").alias("sk1")
    )
    b = per_crawl.select(
        F.col("crawl").alias("c2"), F.col("sk").alias("sk2")
    )
    est = F.hll_sketch_estimate
    uni = est(F.hll_union("sk1", "sk2"))
    n1 = est("sk1")
    n2 = est("sk2")
    inter = F.greatest(n1 + n2 - uni, F.lit(0))
    return (
        a.join(b, F.col("c1") < F.col("c2"))
        .select(
            "c1",
            "c2",
            inter.alias("inter_est"),
            uni.alias("uni_est"),
            n1.alias("n1_est"),
            n2.alias("n2_est"),
            F.floor(F.lit(1000) * inter / n2).cast("long").alias(
                "containment_permille"
            ),
            F.floor(F.lit(1000) * inter / uni).cast("long").alias(
                "jaccard_permille"
            ),
        )
        .orderBy("c1", "c2")
    )


def domain_coverage(
    domain_counts: DataFrame, k: int = 1000, n_salts: int = 8
) -> DataFrame:
    """W8: cumulative share of pages covered by the top-k domains
    (histogram.py:125-143): sort domains by pages desc, running sums,
    permille of total; the uncovered remainder closes the curve as one
    ``<other>`` row at rank k+1 / permille 1000.

    Scale shape: the reference's input is already floored to frequent
    domains (crawlstats.py:919-935, min 100 urls); here the domain
    dimension is unbounded (~10^8 per crawl at 100 TB), so ranking it in
    ONE window partition is a single-task sort. Selection is therefore
    two-phase salted top-k:
    phase 1 ranks within (crawl, salt) — ≤ k survivors per salt — and
    only the ≤ n_salts·k survivors per crawl see the global-per-crawl
    window. The per-crawl totals come from a plain map-side-combined
    aggregation, never a whole-dimension window.

    domain_counts feeds two branches (selection + totals) and the ranked
    window two more (top rows + <other> closure) — lineage cuts keep the
    corpus-scale rollup and the two-phase window to one execution each."""
    domain_counts = domain_counts.localCheckpoint(eager=False)
    order = (F.desc("pages"), F.desc("urls"), F.desc("domain"))
    w1 = Window.partitionBy("crawl", "_salt").orderBy(*order)
    w2 = Window.partitionBy("crawl").orderBy(*order)
    survivors = (
        domain_counts.withColumn(
            "_salt", F.pmod(F.xxhash64("domain"), F.lit(n_salts))
        )
        .withColumn("_sr", F.row_number().over(w1))
        .filter(F.col("_sr") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )
    totals = domain_counts.groupBy("crawl").agg(
        F.sum("pages").alias("total_pages")
    )
    run = w2.rowsBetween(Window.unboundedPreceding, 0)
    ranked = survivors.select(
        "crawl",
        "domain",
        F.col("rank").cast("long").alias("rank"),
        F.sum("pages").over(run).alias("cum_pages"),
    ).localCheckpoint(eager=False)
    top = ranked.join(F.broadcast(totals), "crawl").select(
        "crawl",
        "domain",
        "rank",
        "cum_pages",
        F.floor(F.lit(1000) * F.col("cum_pages") / F.col("total_pages"))
        .cast("long")
        .alias("cum_pages_permille"),
    )
    other = (
        ranked.groupBy("crawl")
        .agg(
            F.max("cum_pages").alias("cum_topk"),
            F.count("*").alias("k_rows"),
        )
        .join(F.broadcast(totals), "crawl")
        .filter(F.col("total_pages") > F.col("cum_topk"))
        .select(
            "crawl",
            F.lit("<other>").alias("domain"),
            (F.col("k_rows") + 1).cast("long").alias("rank"),
            F.col("total_pages").alias("cum_pages"),
            F.lit(1000).cast("long").alias("cum_pages_permille"),
        )
    )
    return top.unionByName(other).orderBy("crawl", "rank")


def top_n_with_other(
    counts: DataFrame, key: str, n: int, min_total: int = 0
) -> DataFrame:
    """A20 (table.py:49-118): keep the top-N keys by total pages across
    crawls (with a minimum-total floor), map the rest to '<other>', and
    re-aggregate per crawl. Two shuffles: the global ranking is over the
    already-aggregated key dimension, then one re-aggregation.

    The counts table feeds three branches (totals, kept-semi, other-anti);
    its own rows are (crawl × key)-bounded but its LINEAGE is a
    corpus-scale aggregation, so cut it once — otherwise the corpus scan
    re-executes per branch (no exchange reuse across them)."""
    counts = counts.localCheckpoint(eager=False)
    totals = (
        counts.groupBy(key)
        .agg(F.sum("pages").alias("total_pages"), F.sum("urls").alias("total_urls"))
    )
    w = dim_window(
        F.desc("total_pages"), F.desc("total_urls"), F.desc(key)
    )
    keep = totals.withColumn("r", F.row_number().over(w)).filter(
        (F.col("r") <= n) & (F.col("total_pages") >= min_total)
    )
    tagged = counts.join(
        F.broadcast(keep.select(key)), key, "left_semi"
    ).unionByName(
        counts.join(F.broadcast(keep.select(key)), key, "left_anti").withColumn(
            key, F.lit("<other>")
        )
    )
    return (
        tagged.groupBy("crawl", key)
        .agg(F.sum("pages").alias("pages"), F.sum("urls").alias("urls"))
        .orderBy("crawl", key)
    )


def share_of_total(counts: DataFrame, key: str) -> DataFrame:
    """A22 (table.py:128-135): each key's share of its crawl's pages, as
    integer permille via a windowed total."""
    total = Window.partitionBy("crawl")
    return counts.select(
        "crawl",
        key,
        "pages",
        F.floor(F.lit(1000) * F.col("pages") / F.sum("pages").over(total))
        .cast("long")
        .alias("share_permille"),
    ).orderBy("crawl", key)


def pages_by_year(size: DataFrame) -> DataFrame:
    """A21 (crawl_size.py:278-283): crawl → year rollup."""
    year = F.substring(F.col("crawl"), 9, 4).cast("int")
    return (
        size.select(year.alias("year"), "fetches", "pages")
        .groupBy("year")
        .agg(F.sum("fetches").alias("fetches"), F.sum("pages").alias("pages"))
        .orderBy("year")
    )


def spearman_rank_x1000(
    counts: DataFrame, key: str, col_a: str = "pages", col_b: str = "urls"
) -> DataFrame:
    """A23 (tld.py:187-229): Spearman rank correlation between two measures
    over the key dimension, per crawl — via the exact rank-difference
    formula 1 − 6·Σd²/(n(n²−1)), integers until one final division, scaled
    ×1000 and floored (bit-identical across engines). Ranks tie-break on
    the key via row_number — deterministic, but NOT pandas' average-rank
    tie semantics: groups with ties in the measure can differ from
    ``DataFrame.corr(method='spearman')``. Groups with n < 2 are dropped
    (the formula divides by n(n²−1) = 0 there; no correlation is defined
    over a single rank)."""
    wa = Window.partitionBy("crawl").orderBy(F.desc(col_a), F.asc(key))
    wb = Window.partitionBy("crawl").orderBy(F.desc(col_b), F.asc(key))
    ranked = counts.select(
        "crawl",
        key,
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    d2 = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
    return (
        ranked.groupBy("crawl")
        .agg(F.sum(d2).alias("sum_d2"), F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select(
            "crawl",
            "n",
            F.floor(
                1000
                - F.lit(6000)
                * F.col("sum_d2")
                / (F.col("n") * (F.col("n") * F.col("n") - 1))
            )
            .cast("long")
            .alias("spearman_x1000"),
        )
        .orderBy("crawl")
    )


def spearman_vs_benchmark(
    tld_counts_df: DataFrame,
    benchmark_dim: DataFrame,
    measure: str = "pages",
) -> DataFrame:
    """A23/J3 for real (tld.py:187-229): Spearman rank correlation between
    each crawl's per-TLD ``measure`` and each external benchmark's per-TLD
    site counts (Alexa / Cisco Umbrella / Majestic top-1M dims), over the
    TLDs present in BOTH sides — the pandas pairwise-NaN-drop semantics of
    ``data.corr(method='spearman')`` after index-aligned assignment.

    Plan: the benchmark dim (≤ ~800 rows per list) broadcasts into an
    inner join against the already-aggregated TLD dimension, ranks are
    windows per (crawl, benchmark), and the rank-difference formula stays
    integer until one final ×1000 floor — bit-identical across engines.
    Ranks tie-break on the tld string (deterministic row_number — not
    pandas' average-rank tie handling; see spearman_rank_x1000). Groups
    with fewer than 2 shared TLDs are dropped: the formula's n(n²−1)
    denominator is 0 at n=1 and no correlation is defined."""
    joined = tld_counts_df.join(F.broadcast(benchmark_dim), "tld")
    wa = Window.partitionBy("crawl", "benchmark").orderBy(
        F.desc(measure), F.asc("tld")
    )
    wb = Window.partitionBy("crawl", "benchmark").orderBy(
        F.desc("sites"), F.asc("tld")
    )
    ranked = joined.select(
        "crawl",
        "benchmark",
        "tld",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    d2 = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
    return (
        ranked.groupBy("crawl", "benchmark")
        .agg(F.sum(d2).alias("sum_d2"), F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select(
            "crawl",
            "benchmark",
            "n",
            F.floor(
                1000
                - F.lit(6000)
                * F.col("sum_d2")
                / (F.col("n") * (F.col("n") * F.col("n") - 1))
            )
            .cast("long")
            .alias("spearman_x1000"),
        )
        .orderBy("crawl", "benchmark")
    )


def cumulative_distinct_estimates(pages: DataFrame, lgk: int = 14) -> DataFrame:
    """W2/W3 (crawl_size.py:98-119): cumulative distinct URLs over crawls
    via running HLL-sketch unions, and new-items-per-crawl as the delta of
    consecutive cumulative estimates (clamped at 0). The sketches are the
    mergeable state — each crawl aggregates once, the running union happens
    on the ≤126-row crawl dimension."""
    per_crawl = (
        page_rows(pages)
        .groupBy("crawl")
        .agg(
            F.hll_sketch_agg("url", F.lit(lgk)).alias("sk"),
            F.hll_sketch_agg("digest", F.lit(lgk)).alias("sk_digest"),
        )
    )
    w = dim_window("crawl").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_crawl.select(
        "crawl",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias(
            "cum_urls_est"
        ),
        # 'digest estim.' cumulates alongside urls in the reference's
        # per-item-type loop (crawl_size.py cumulative_size)
        F.hll_sketch_estimate(F.hll_union_agg("sk_digest").over(w)).alias(
            "cum_digests_est"
        ),
    )
    return cum.select(
        "crawl",
        "cum_urls_est",
        "cum_digests_est",
        F.greatest(
            F.col("cum_urls_est")
            - F.coalesce(
                F.lag("cum_urls_est").over(dim_window("crawl")), F.lit(0)
            ),
            F.lit(0),
        ).alias("new_urls_est"),
    ).orderBy("crawl")


def pseudo_log_histogram(
    counts: DataFrame, col: str, per: tuple[str, ...] = ()
) -> DataFrame:
    """W10: pseudo-log bins 1,2,5,10,20,50,... (histogram.py:29-32).
    Bin = largest edge ≤ value. Integer-only arithmetic (the power of ten
    comes from the decimal string length), so results are bit-identical
    across engines — no libm log10 at bin boundaries. ``per`` keeps
    grouping dimensions (the reference's histogram key carries the crawl,
    crawlstats.py:371-374)."""
    v = F.col(col).cast("long")
    p10 = F.expr(
        f"CAST(power(10, length(CAST({col} AS STRING)) - 1) AS BIGINT)"
    )
    mant = (v / p10).cast("long")
    edge = (
        F.when(mant >= 5, 5).when(mant >= 2, 2).otherwise(1) * p10
    ).cast("long")
    keys = [*per, "bin"]
    return (
        counts.filter(v > 0)
        .select(*per, edge.alias("bin"))
        .groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .orderBy(*keys)
    )


def frequency_histogram_matrix(pages: DataFrame) -> DataFrame:
    """A19, full family: the reference's stats phase emits a pseudo-log
    frequency histogram for EVERY (item_type × counted_per) combination —
    ``<(histogram, item_type, crawl, page|url|host|domain, count), freq>``
    (crawlstats.py:982-993, consumed by plot/histogram.py:69-133):
    host×{pages,urls}, domain×{pages,urls,hosts},
    surt_domain×{pages,urls,hosts}, tld×{pages,urls,hosts,domains}.

    Scale: ONE per-(crawl, tld, domain, surt_domain, host) base aggregate
    (host determines the other three, so this is the host-cardinality
    rollup — one fact-table scan + one shuffle); every item-type rollup
    and all 12 histograms derive from that base, never re-touching the
    fact table. Within the unioned plan Spark's ReuseExchange shares the
    identical base aggregation subtree across branches."""
    from .counts import page_rows

    base = (
        page_rows(pages)
        .groupBy("crawl", "tld", "domain", "surt_domain", "host")
        .agg(
            F.count("*").alias("pages"),
            F.countDistinct("url").alias("urls"),
        )
    )
    host = base.select("crawl", "host", "pages", "urls")
    domain = base.groupBy("crawl", "domain").agg(
        F.sum("pages").alias("pages"),
        F.sum("urls").alias("urls"),
        F.count("*").alias("hosts"),
    )
    surt = base.groupBy("crawl", "surt_domain").agg(
        F.sum("pages").alias("pages"),
        F.sum("urls").alias("urls"),
        F.count("*").alias("hosts"),
    )
    tld = base.groupBy("crawl", "tld").agg(
        F.sum("pages").alias("pages"),
        F.sum("urls").alias("urls"),
        F.count("*").alias("hosts"),
        F.countDistinct("domain").alias("domains"),
    )
    parts = []
    for item_type, rollup, counted in (
        ("host", host, ("pages", "urls")),
        ("domain", domain, ("pages", "urls", "hosts")),
        ("surt_domain", surt, ("pages", "urls", "hosts")),
        ("tld", tld, ("pages", "urls", "hosts", "domains")),
    ):
        for c in counted:
            parts.append(
                pseudo_log_histogram(rollup, c, per=("crawl",)).select(
                    F.lit(item_type).alias("item_type"),
                    "crawl",
                    F.lit(c).alias("counted_per"),
                    "bin",
                    "n",
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("item_type", "crawl", "counted_per", "bin")


def url_status_by_crawl(pages: DataFrame) -> DataFrame:
    """W9 (crawl_size.py:277-298): per-crawl URL status split — new (first
    seen this crawl), revisit (seen in an earlier crawl), duplicate (repeat
    fetches within the crawl) — melted wide→long with ``stack`` (Spark's
    unpivot).

    Plan: one per-(crawl, url) pre-aggregation (map-side combined), a
    broadcast-joined per-url first-crawl dimension derived from the same
    pre-aggregate, then a per-crawl rollup; the stack is a zero-shuffle
    projection at the end."""
    from .counts import page_rows

    per_url = (
        page_rows(pages)
        .groupBy("crawl", "crawl_id", "url")
        .agg(F.count("*").alias("cnt"))
    )
    first = per_url.groupBy("url").agg(F.min("crawl_id").alias("first_crawl_id"))
    wide = (
        per_url.join(first, "url")
        .groupBy("crawl")
        .agg(
            F.sum(
                F.when(F.col("crawl_id") == F.col("first_crawl_id"), 1).otherwise(0)
            ).alias("new"),
            F.sum(
                F.when(F.col("crawl_id") > F.col("first_crawl_id"), 1).otherwise(0)
            ).alias("revisit"),
            (F.sum("cnt") - F.count("*")).alias("duplicate"),
        )
    )
    return wide.select(
        "crawl",
        F.expr(
            "stack(3, 'new', new, 'revisit', revisit, "
            "'duplicate', duplicate) AS (url_status, n)"
        ),
    ).orderBy("crawl", "url_status")


def top_n_with_unknown(
    pages: DataFrame, counts: DataFrame, key: str, n: int
) -> DataFrame:
    """A20 + J5 (table.py:100-108): top-N keys + '<other>' + '<unknown>',
    where '<unknown>' is derived by *subtraction from the size totals*
    (page_total − pages covered by the key table), not by counting nulls —
    the reference's anti-join semantics against the ``size`` records. The
    totals side is a per-crawl scalar (≤ crawls rows), so the final union
    costs nothing."""
    from .counts import with_flags

    # known feeds the covered-subtraction AND the final union — cut it
    # (bounded rows) so the top-N plan runs once
    known = top_n_with_other(counts, key, n).localCheckpoint(eager=False)
    totals = (
        with_flags(pages)
        .groupBy("crawl")
        .agg(F.sum(F.col("is_page").cast("long")).alias("page_total"))
    )
    covered = known.groupBy("crawl").agg(F.sum("pages").alias("covered"))
    unknown = (
        totals.join(covered, "crawl")
        .select(
            "crawl",
            F.lit("<unknown>").alias(key),
            (F.col("page_total") - F.col("covered")).alias("pages"),
            F.lit(0).cast("long").alias("urls"),
        )
        .filter(F.col("pages") > 0)
    )
    return known.unionByName(unknown).orderBy("crawl", key)


def continent_rollup(tld_counts_df: DataFrame, tld_dim_df: DataFrame) -> DataFrame:
    """P9 (tld_by_continent.py:104-133): TLD counts rolled up to continent
    via the broadcast TLD dimension; unmapped TLDs get '(other)' — the
    reference's tld2continent fallback."""
    return (
        tld_counts_df.join(F.broadcast(tld_dim_df.select("tld", "continent")), "tld", "left")
        .withColumn("continent", F.coalesce("continent", F.lit("(other)")))
        .groupBy("crawl", "continent")
        .agg(
            F.sum("pages").alias("pages"),
            F.sum("urls").alias("urls"),
            F.sum("domains").alias("domains"),
        )
        .orderBy("crawl", "continent")
    )


def item_churn(pages: DataFrame, item_col: str = "host") -> DataFrame:
    """Churn per crawl transition for any item dimension (host, url,
    digest): how many items appeared (``n_gained``), persisted
    (``n_retained``), and disappeared since the immediately-preceding
    crawl present in the data (``n_lost``). Extends the reference's
    one-sided new-items detection (crawlstats.py:841-863 — appearance
    only, over the same two item types CST.url/CST.digest) with the
    disappearance side; ``digest`` churn measures content turnover.

    Scale shape: ONE item-keyed shuffle. Crawl ids map to a dense
    sequence via a broadcast of the ≤126-row crawl dimension (so gaps in
    registration ids don't fake churn), then a single
    groupBy(item).collect_set(seq) — map-side combined, array bounded by
    n_crawls ≤ 126 — replaces both the distinct and a per-item window:
    gained/lost fall out of array membership (seq±1 ∈ seqs). Everything
    after the explode is crawl-dimension-sized.
    """
    rows = page_rows(pages).select("crawl_id", "crawl", item_col)
    # dense sequence over the crawls actually present (≤126 rows; the
    # single-partition window on this dim is the documented cheap case)
    crawls = (
        rows.select("crawl_id", "crawl")
        .distinct()
        .withColumn(
            "seq", F.row_number().over(dim_window("crawl_id")) - 1
        )
    )
    with_seq = rows.join(
        F.broadcast(crawls.select("crawl_id", "seq")), "crawl_id"
    )
    per_item = with_seq.groupBy(item_col).agg(
        F.collect_set("seq").alias("seqs")
    )
    ex = per_item.select(F.explode("seqs").alias("seq"), "seqs")
    flags = ex.select(
        "seq",
        (~F.array_contains("seqs", F.col("seq") - 1)).alias("is_gained"),
        (~F.array_contains("seqs", F.col("seq") + 1)).alias(
            "is_lost_after"
        ),
    )
    per_seq = flags.groupBy("seq").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("is_gained").cast("long")).alias("n_gained"),
        F.sum(F.col("is_lost_after").cast("long")).alias("lost_after"),
    )
    # attribute "lost" to the crawl where the item is absent: one lag over
    # the ≤126-row per-crawl aggregate
    wseq = dim_window("seq")
    # first crawl: every item counts as gained (no seq -1), matching the
    # reference's new-items convention for the first crawl of a series
    return (
        per_seq.join(F.broadcast(crawls.select("seq", "crawl")), "seq")
        .select(
            "crawl",
            "n_items",
            F.col("n_gained").cast("long").alias("n_gained"),
            (F.col("n_items") - F.col("n_gained")).cast("long").alias(
                "n_retained"
            ),
            F.coalesce(F.lag("lost_after").over(wseq), F.lit(0))
            .cast("long")
            .alias("n_lost"),
        )
        .orderBy("crawl")
    )


def host_churn(pages: DataFrame) -> DataFrame:
    """Host-dimension churn (item_churn specialized to the host rollup the
    reference's host plots read)."""
    c = item_churn(pages, "host")
    return c.select(
        "crawl",
        F.col("n_items").alias("n_hosts"),
        F.col("n_gained").alias("hosts_gained"),
        F.col("n_retained").alias("hosts_retained"),
        F.col("n_lost").alias("hosts_lost"),
    )


def distribution_drift(counts: DataFrame, key_col: str) -> DataFrame:
    """Crawl-over-crawl distribution drift for a bounded dimension.

    The reference's plot layer publishes per-crawl share series for the
    bounded dimensions (MIME, charset, language, TLD — crawlplot.py's
    percentage plots); this reduces each consecutive-crawl step of that
    series to one summary row: the total-variation distance between the
    two crawls' page-share distributions, key churn (how many dimension
    values appeared/disappeared), and the single largest-moving key.
    Drift spikes are how a crawl operator notices a pipeline change
    (e.g. a new MIME detector) between two crawls.

    Integer-exact end to end: shares are ppm via integer division
    ((1e6 * pages) div total), the TVD is ``sum(|Δppm|) div 2``, so the
    oracle hash comparison never sees a float.

    Scale shape: input is an already-reduced (crawl, key) count table.
    Per-crawl totals and the ≤126-row consecutive-pair skeleton are
    broadcast; each share row is tagged with its two pair memberships
    (as predecessor and as successor) by broadcast equi-joins, so the
    only wide shuffle is the groupBy on (pair, key) — proportional to
    the counts table, never to pages. The per-pair window is bounded by
    the dimension's key cardinality: use bounded dims (mime/charset/
    language/tld), not host/url.
    """
    totals = counts.groupBy("crawl").agg(F.sum("pages").alias("total"))
    shares = (
        counts.join(F.broadcast(totals), "crawl")
        .select(
            "crawl",
            F.col(key_col).alias("k"),
            F.expr("(1000000 * pages) div total").cast("long").alias("ppm"),
        )
    )
    # bounded crawl dimension (≤126 rows) → dense index + consecutive pairs
    crawls = counts.select("crawl").distinct()
    w = dim_window("crawl")
    crawls = crawls.withColumn("idx", F.row_number().over(w) - F.lit(1))
    a, b = crawls.alias("a"), crawls.alias("b")
    pairs = a.join(b, F.col("b.idx") == F.col("a.idx") + 1).select(
        F.col("a.crawl").alias("crawl_prev"),
        F.col("b.crawl").alias("crawl"),
        F.col("a.idx").alias("p"),
    )
    s = shares.join(F.broadcast(crawls), "crawl").select("idx", "k", "ppm")
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    prev = s.join(F.broadcast(pairs), s["idx"] == pairs["p"]).select(
        "crawl_prev",
        "crawl",
        "k",
        F.col("ppm").alias("prev_ppm"),
        zero.alias("curr_ppm"),
        one.alias("prev_present"),
        zero.alias("curr_present"),
    )
    curr = s.join(F.broadcast(pairs), s["idx"] == pairs["p"] + 1).select(
        "crawl_prev",
        "crawl",
        "k",
        zero.alias("prev_ppm"),
        F.col("ppm").alias("curr_ppm"),
        zero.alias("prev_present"),
        one.alias("curr_present"),
    )
    merged = (
        prev.unionByName(curr)
        .groupBy("crawl_prev", "crawl", "k")
        .agg(
            F.sum("prev_ppm").alias("prev_ppm"),
            F.sum("curr_ppm").alias("curr_ppm"),
            F.sum("prev_present").alias("prev_present"),
            F.sum("curr_present").alias("curr_present"),
        )
        .withColumn("abs_shift", F.abs(F.col("curr_ppm") - F.col("prev_ppm")))
    )
    wp = Window.partitionBy("crawl_prev", "crawl")
    keyed = merged.withColumn("max_abs", F.max("abs_shift").over(wp))
    return (
        keyed.groupBy("crawl_prev", "crawl")
        .agg(
            F.sum("prev_present").cast("long").alias("keys_prev"),
            F.sum("curr_present").cast("long").alias("keys_curr"),
            F.sum(
                ((F.col("curr_present") == 1) & (F.col("prev_present") == 0))
                .cast("long")
            ).cast("long").alias("new_keys"),
            F.sum(
                ((F.col("prev_present") == 1) & (F.col("curr_present") == 0))
                .cast("long")
            ).cast("long").alias("dropped_keys"),
            F.expr("sum(abs_shift) div 2").cast("long").alias("tvd_ppm"),
            F.max("abs_shift").cast("long").alias("max_shift_ppm"),
            F.min(
                F.when(F.col("abs_shift") == F.col("max_abs"), F.col("k"))
            ).alias("max_shift_key"),
        )
        .orderBy("crawl_prev")
    )
