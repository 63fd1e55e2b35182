"""Count-job aggregations (SURVEY.md §2.4 A1–A19), Spark-native.

The reference computes these with in-mapper streaming aggregation per SURT
domain + reduce-side typed-key merge (/root/reference/crawlstats.py:728-910).
In Spark each collapses to a declarative groupBy: Catalyst plans a partial
HashAggregate (map-side combine, the equivalent data reduction of the
reference's SurtDomainCount flush) → Exchange on the group key → final
HashAggregate, all inside whole-stage codegen. No UDFs anywhere on this path.

Scale notes (100 TB / 10^10 rows):
  - every aggregate here shuffles once, on its own key, after map-side
    partial aggregation has collapsed per-partition duplicates — the shuffle
    volume is bounded by the key cardinality (hosts/domains/tlds/mimes),
    not the row count;
  - countDistinct(url) within groupBy(host/domain/...) expands to a
    two-phase plan (partial distinct on (key, url), then count) — exact, and
    still one logical shuffle per level;
  - hierarchical rollups (host → domain → tld) reuse the host-level
    aggregate as input so each level's shuffle shrinks by the fan-in.

Semantics: "page" = status==200 fetch that is not a robots.txt record
(crawlstats.py:553-563); "fetch" = any record; "url" counts are unique URLs.
The reference's unique counts are file-scoped (crawlstats.py:732-738);
Spark's are globally exact — strictly more correct (SURVEY.md §2.4 note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ROBOTS_RE = "/robotstxt/"


def with_flags(pages: DataFrame) -> DataFrame:
    """Annotate fetch rows with the reference's routing predicates
    (crawlstats.py:534, 553-563): robots.txt records and successful pages."""
    is_robots = F.col("warc_filename").rlike(ROBOTS_RE)
    return pages.withColumn("is_robotstxt", is_robots).withColumn(
        "is_page", (F.col("status") == 200) & ~is_robots
    )


def page_rows(pages: DataFrame) -> DataFrame:
    """Rows contributing to content statistics (F1+F2)."""
    return with_flags(pages).filter(F.col("is_page"))


def crawl_size(pages: DataFrame) -> DataFrame:
    """A8: global per-crawl totals — the reference's ``size`` records
    (crawlstats.py:757-763, 810-828), exact flavor.

    Plan shape: ONE scan with a multi-countDistinct agg (Catalyst
    Expand ×5). A/B history at bench factor (interleaved best-of-5,
    1.45M rows/32 cores, tmpfs): r2 measured Expand ahead (1.79s vs
    2.04s); the r4 re-measure flipped it locally (Expand best 2.34s vs
    five-stream 1.68s — the r3 bench regression 1.37→1.60s was this,
    not VM noise). The flip is a tmpfs artifact: with IO ≈ free, the
    five-stream's 5 re-scans cost nothing while Expand pays its 5× row
    amplification through the aggregation hash maps. On the target
    deployment the fact table is 100 TB behind object storage — scan
    count dominates, and the five-stream flavor re-reads the table per
    distinct column (its 5 pruned scans still touch ≥ the one wide
    scan's bytes, plus 4 extra passes of decode). Expand's extra
    shuffle rows are one-column-each (others nulled), so total shuffle
    bytes match the sum of the per-stream shuffles; the scan count drops
    5×. The single-scan plan stays the default as the scale-correct
    choice (BENCH.md design decision "single-scan crawl_size"). The
    robots/page totals ride the same scan via the separate flagged
    aggregate joined broadcast-style on the ≤126-row crawl dimension."""
    flagged = with_flags(pages)
    totals = flagged.groupBy("crawl").agg(
        F.count("*").alias("fetches"),
        F.sum(F.col("is_page").cast("long")).alias("pages"),
    )
    distincts = (
        flagged.filter(F.col("is_page"))
        .groupBy("crawl")
        .agg(
            F.countDistinct("url").alias("urls"),
            F.countDistinct("digest").alias("digests"),
            F.countDistinct("host").alias("hosts"),
            F.countDistinct("domain").alias("domains"),
        )
    )
    return totals.join(distincts, "crawl").orderBy("crawl")


def dim_counts(pages: DataFrame, dim, out: str | None = None) -> DataFrame:
    """A2/A3 generic: per (crawl, dim) twin counts [pages, urls]
    (crawlstats.py:540-546, 564-595 — the MultiCount(2) family)."""
    df = page_rows(pages)
    key = F.col(dim) if isinstance(dim, str) else dim
    name = out or (dim if isinstance(dim, str) else "key")
    # two-stage instead of count+countDistinct in one agg: the single-agg
    # plan Expands every row ×2; this shape shuffles once on
    # (crawl, dim, url) with map-side combine collapsing repeat fetches —
    # the Spark-native equivalent of the reference's in-mapper per-SURT
    # aggregation (crawlstats.py:728-801)
    per_url = (
        df.select("crawl", key.alias(name), "url")
        .groupBy("crawl", name, "url")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per_url.groupBy("crawl", name)
        .agg(F.sum("cnt").alias("pages"), F.count("*").alias("urls"))
        .orderBy("crawl", name)
    )


def host_counts(pages: DataFrame) -> DataFrame:
    """A3: per-host (pages, urls) — crawlstats.py:489-499."""
    return dim_counts(pages, "host")


def domain_counts(pages: DataFrame) -> DataFrame:
    """A4: per-domain (pages, urls, hosts) — crawlstats.py:502, 522-526.
    Built on the host-level aggregate so the domain shuffle sees only
    host-cardinality rows."""
    per_host = _per_host_rollup(pages, "domain")
    return (
        per_host.groupBy("crawl", "domain")
        .agg(
            F.sum("pages").alias("pages"),
            F.sum("urls").alias("urls"),
            F.count("*").alias("hosts"),
        )
        .orderBy("crawl", "domain")
    )


def _per_host_rollup(pages: DataFrame, *extra_keys: str) -> DataFrame:
    """Shared first rollup level: per (crawl, *extra_keys, host) pages and
    unique urls, via the Expand-free two-stage shape (per-url pre-agg with
    map-side combine, then per-host). Each subsequent level's shuffle
    shrinks by the fan-in — the hierarchical cascade the reference builds
    in-memory per SURT domain (crawlstats.py:502-528)."""
    keys = ["crawl", *extra_keys, "host"]
    per_url = (
        page_rows(pages)
        .groupBy(*keys, "url")
        .agg(F.count("*").alias("cnt"))
    )
    return per_url.groupBy(*keys).agg(
        F.sum("cnt").alias("pages"), F.count("*").alias("urls")
    )


def tld_counts(pages: DataFrame) -> DataFrame:
    """A5: per-TLD (pages, urls, hosts, domains) — crawlstats.py:503, 525-528.

    Note on ``urls``: the reference sums *per-host unique-URL* counts into the
    TLD MultiCount (no cross-host dedup), so we do the same — a URL is unique
    per host by construction anyway (the host is part of the URL).
    """
    per_domain = (
        _per_host_rollup(pages, "tld", "domain")
        .groupBy("crawl", "tld", "domain")
        .agg(
            F.sum("pages").alias("pages"),
            F.sum("urls").alias("urls"),
            F.count("*").alias("hosts"),
        )
    )
    return (
        per_domain.groupBy("crawl", "tld")
        .agg(
            F.sum("pages").alias("pages"),
            F.sum("urls").alias("urls"),
            F.sum("hosts").alias("hosts"),
            F.count("*").alias("domains"),
        )
        .orderBy("crawl", "tld")
    )


def surt_domain_counts(pages: DataFrame) -> DataFrame:
    """A6: per-SURT-domain (pages, urls, hosts) — crawlstats.py:628-629."""
    return (
        _per_host_rollup(pages, "surt_domain")
        .groupBy("crawl", "surt_domain")
        .agg(
            F.sum("pages").alias("pages"),
            F.sum("urls").alias("urls"),
            F.count("*").alias("hosts"),
        )
        .orderBy("crawl", "surt_domain")
    )


def scheme_counts(pages: DataFrame) -> DataFrame:
    """A3 scheme branch — crawlstats.py:499."""
    return dim_counts(pages, "scheme")


def http_status_histogram(pages: DataFrame) -> DataFrame:
    """A7: fetch count per (crawl, status), all fetches except robots
    (crawlstats.py:545-546, 560-563)."""
    return (
        with_flags(pages)
        .filter(~F.col("is_robotstxt"))
        .groupBy("crawl", "status")
        .agg(F.count("*").alias("fetches"))
        .orderBy("crawl", "status")
    )


def robotstxt_status(pages: DataFrame) -> DataFrame:
    """A7 robots branch: robots.txt responses per status with unique URL
    twin count (crawlstats.py:553-560)."""
    per_url = (
        with_flags(pages)
        .filter(F.col("is_robotstxt"))
        .groupBy("crawl", "status", "url")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per_url.groupBy("crawl", "status")
        .agg(F.sum("cnt").alias("responses"), F.count("*").alias("urls"))
        .orderBy("crawl", "status")
    )


def url_fetch_histogram(pages: DataFrame) -> DataFrame:
    """A9: histogram of fetches-per-URL per crawl (crawlstats.py:817-820).
    Two-stage: A1 per-URL fetch count, then count per multiplicity."""
    per_url = (
        with_flags(pages)
        .filter(~F.col("is_robotstxt"))
        .groupBy("crawl", "url")
        .agg(F.count("*").alias("n_fetches"))
    )
    return (
        per_url.groupBy("crawl", "n_fetches")
        .agg(F.count("*").alias("n_urls"))
        .orderBy("crawl", "n_fetches")
    )


def mime_norm(col: str) -> F.Column:
    """Plot-layer media-type normalization (crawlstats.py:566-572;
    mimetype.py:14-33): lowercase + extract the leading well-formed media
    type, fall back to the quote-stripped raw."""
    pat = r"^\s*([a-z0-9._-]+/[a-z0-9._+-]+)"
    return F.coalesce(
        F.nullif(F.regexp_extract(F.lower(F.col(col)), pat, 1), F.lit("")),
        F.regexp_replace(F.lower(F.col(col)), '"', ""),
    )


def mimetype_counts(pages: DataFrame, detected: bool = False) -> DataFrame:
    """A2 mime branch with the plot-layer normalization fused in."""
    return dim_counts(
        pages, mime_norm("mime_detected" if detected else "mime"), out="mimetype"
    )


def mime_agreement_matrix(
    pages: DataFrame, mismatch_only: bool = False
) -> DataFrame:
    """Agreement matrix between the server-declared Content-Type and the
    content-detected media type — the comparison the reference's media-type
    plots invite by publishing both columns side by side
    (crawlstats.py:566-572 mime vs mime_detected). One row per normalized
    (mimetype, mimetype_detected) pair with the twin [pages, urls] counts
    and an ``agree`` flag; ``mismatch_only`` keeps just the disagreements
    (the mislabeled-content inventory).

    Same Expand-free two-stage shape as dim_counts: shuffle once on
    (crawl, pair, url) with map-side combine, then reduce the per-url
    level — never count+countDistinct over the raw fetch rows."""
    df = page_rows(pages)
    pairs = df.select(
        "crawl",
        mime_norm("mime").alias("mimetype"),
        mime_norm("mime_detected").alias("mimetype_detected"),
        "url",
    )
    if mismatch_only:
        # null-safe: a NULL on either side IS a disagreement (a row with a
        # declared type but no detected type must not vanish from the
        # mislabeled-content inventory)
        pairs = pairs.filter(
            ~F.col("mimetype").eqNullSafe(F.col("mimetype_detected"))
        )
    per_url = pairs.groupBy(
        "crawl", "mimetype", "mimetype_detected", "url"
    ).agg(F.count("*").alias("cnt"))
    return (
        per_url.groupBy("crawl", "mimetype", "mimetype_detected")
        .agg(F.sum("cnt").alias("pages"), F.count("*").alias("urls"))
        .withColumn(
            "agree",
            F.col("mimetype").eqNullSafe(F.col("mimetype_detected")),
        )
        .orderBy("crawl", "mimetype", "mimetype_detected")
    )


def charset_counts(pages: DataFrame) -> DataFrame:
    """A2 charset branch (crawlstats.py:573-576); nulls → '<unknown>'."""
    return dim_counts(
        pages, F.coalesce(F.col("charset"), F.lit("<unknown>")), out="charset"
    )


def language_counts(pages: DataFrame) -> DataFrame:
    """A2 languages branch: full comma-joined combination
    (crawlstats.py:577-580)."""
    return dim_counts(pages, "languages", out="languages")


def primary_language_counts(pages: DataFrame) -> DataFrame:
    """P6+A2: first language of the combination (crawlstats.py:623-625)."""
    return dim_counts(
        pages, F.split(F.col("languages"), ",").getItem(0), out="primary_language"
    )


def item_crawl_set(pages: DataFrame, item_col: str = "url") -> DataFrame:
    """A14 exact mode: per-item bitmask of crawls containing it
    (MonthlyCrawlSet, crawlstats.py:205-270, 841-859), for both item
    types the reference iterates (CST.url and CST.digest,
    crawlstats.py:841-863).

    The reference's set is an arbitrary-precision Python int; the crawl
    registry (dims_data.monthly_crawl_registry) carries ids 0-125, so a
    single LongType word overflows (JVM shift counts wrap mod 64 — crawl
    64 would alias crawl 0). Representation here: TWO long words covering
    ids 0-127 — ``crawl_set_lo`` (bits 0-63) and ``crawl_set_hi`` (bits
    64-127). Ids ≥ 128 raise rather than silently alias.

    ``newest_crawl_id`` is simply max(crawl_id): is_newest(c) ≡
    bits.bit_length() == c+1 (crawlstats.py:265-270) ≡ c is the largest
    id present — no bit tricks needed."""
    cid = F.col("crawl_id")
    # assert_true returns NULL on pass and raises on fail, so routing the
    # branch condition through it makes out-of-range ids loud, not aliased
    checked = F.when(F.assert_true(cid < 128).isNull(), cid)
    lo = F.when(checked < 64, F.expr("shiftleft(1L, crawl_id)")).otherwise(
        F.lit(0).cast("long")
    )
    hi = F.when(
        checked >= 64, F.expr("shiftleft(1L, crawl_id - 64)")
    ).otherwise(F.lit(0).cast("long"))
    return page_rows(pages).groupBy(item_col).agg(
        F.bit_or(lo).alias("crawl_set_lo"),
        F.bit_or(hi).alias("crawl_set_hi"),
        F.min("crawl_id").alias("first_crawl_id"),
        F.countDistinct("crawl_id").alias("n_crawls"),
        F.max("crawl_id").alias("newest_crawl_id"),
    )


def url_crawl_set(pages: DataFrame) -> DataFrame:
    """A14 over CST.url (crawlstats.py:841-859)."""
    return item_crawl_set(pages, "url")


def digest_crawl_set(pages: DataFrame) -> DataFrame:
    """A14 over CST.digest — content continuity across crawls
    (crawlstats.py:841-863 iterates both item types)."""
    return item_crawl_set(pages, "digest")


def new_items_per_crawl(
    pages: DataFrame, item_col: str = "url", out: str = "new_urls"
) -> DataFrame:
    """A15: count of items first seen in each crawl (is_new popcount trick,
    crawlstats.py:249-263, 860-863) ≡ groupBy(item).min(crawl_id); runs
    over CST.url and CST.digest like the reference's exact mode."""
    first = (
        page_rows(pages)
        .groupBy(item_col)
        .agg(F.min("crawl_id").alias("crawl_id"))
    )
    crawls = page_rows(pages).select("crawl_id", "crawl").distinct()
    return (
        first.groupBy("crawl_id")
        .agg(F.count("*").alias(out))
        .join(F.broadcast(crawls), "crawl_id")
        .select("crawl", out)
        .orderBy("crawl")
    )


def size_estimate(pages: DataFrame, lgk: int = 14) -> DataFrame:
    """A10 probabilistic flavor: HLL-estimated distinct URLs/digests per
    crawl (crawlstats.py:760-761, 825-828; HYPERLOGLOG_ERROR=.01 at :22 —
    lgk=14 gives ~0.8% RSE). Datasketches hll_sketch_agg: mergeable across
    rounds/crawls, and deliberately NOT mixed with exact countDistinct in
    the same agg — mixing forces an Expand (row multiplication per distinct
    aggregate) that measured >10x slower than running them separately."""
    return (
        page_rows(pages)
        .groupBy("crawl")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("url", lgk)).alias("urls_est"),
            F.hll_sketch_estimate(F.hll_sketch_agg("digest", lgk)).alias(
                "digests_est"
            ),
        )
        .orderBy("crawl")
    )


def surt_hll_sketches(pages: DataFrame, min_urls: int = 50000) -> DataFrame:
    """A11: per-SURT-domain mergeable HLL sketch for SURT domains with ≥
    min_urls unique URLs (MIN_SURT_HLL_SIZE, crawlstats.py:25, 600-634).
    Keeps the binary sketch so later rounds can union without re-scan."""
    return (
        page_rows(pages)
        .groupBy("crawl", "surt_domain")
        .agg(
            F.hll_sketch_agg("url").alias("url_sketch"),
            F.countDistinct("url").alias("urls"),
        )
        .filter(F.col("urls") >= min_urls)
    )


def top_k(
    counts: DataFrame, key: str, k: int = 200, per: tuple[str, ...] = ("crawl",)
) -> DataFrame:
    """A18: bounded top-K with the reference's exact tie-break tuple
    (pages desc, urls desc, item desc — heap order crawlstats.py:994-1003).
    Physical plan: row_number window per crawl → filter ≤ K; for a single
    global K, Catalyst would use TakeOrderedAndProject."""
    w = Window.partitionBy(*per).orderBy(
        F.desc("pages"), F.desc("urls"), F.desc(key)
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(*per, "rank")
    )


def digest_dup_histogram(pages: DataFrame) -> DataFrame:
    """A16: per-crawl histogram of content duplication — fetches per digest
    (crawlstats.py:864-871's duplicate accounting, digest flavor). Two-stage
    like url_fetch_histogram: per-(crawl, digest) fetch count with map-side
    combine, then count per multiplicity; the second shuffle sees only
    digest-cardinality rows."""
    per_digest = (
        page_rows(pages)
        .groupBy("crawl", "digest")
        .agg(F.count("*").alias("n_fetches"))
    )
    return (
        per_digest.groupBy("crawl", "n_fetches")
        .agg(F.count("*").alias("n_digests"))
        .orderBy("crawl", "n_fetches")
    )


def frequent_host_domain_counts(
    counts: DataFrame, min_urls: int = 1
) -> DataFrame:
    """F4 parameterized: the ``--min-urls-top-host-domain`` stats-phase
    floor (crawlstats.py:697-703, 919-936; run_stats_hadoop.sh:62 uses
    100): host/domain/surt_domain rows below the unique-URL floor are
    dropped from the final stats — AFTER the size/histogram aggregates saw
    them (aggregate-then-filter order; the histogram flavor is
    host_pages_histogram, computed on the unfiltered counts)."""
    if min_urls <= 1:
        return counts
    return counts.filter(F.col("urls") >= min_urls)


def language_counts_floor(
    pages: DataFrame, min_lang_comb_freq: int = 1
) -> DataFrame:
    """F5: the ``--min-lang-comb-freq`` floor (crawlstats.py:704-708,
    937-943; run_stats_hadoop.sh:63 uses 50): language COMBINATIONS
    (values containing a comma) below the page floor are dropped; single
    languages always pass regardless of frequency."""
    counts = language_counts(pages)
    if min_lang_comb_freq <= 1:
        return counts
    return counts.filter(
        (F.col("pages") >= min_lang_comb_freq)
        | ~F.col("languages").contains(",")
    )


def large_surt_domains(pages: DataFrame, min_urls: int = 20) -> DataFrame:
    """A11/F4 exact flavor: SURT domains whose unique-URL count reaches the
    reference's per-SURT threshold (MIN_SURT_HLL_SIZE semantics,
    crawlstats.py:25, 600-634, scaled down for the fixture), with their
    counts. Ordering matters: aggregate everything first, then filter —
    exactly the reference's record-sizes-before-dropping sequence
    (crawlstats.py:919-935)."""
    return surt_domain_counts(pages).filter(F.col("urls") >= min_urls)


def domain_language_diversity(
    pages: DataFrame, min_pages: int = 10
) -> DataFrame:
    """Per-domain language mix: page count, distinct declared primary
    languages, and Gini–Simpson diversity 1 − Σpᵢ² as an integer
    permille (simpson_permille = 1000 − ⌊1000·Σcᵢ²/N²⌋). A monolingual
    domain scores 0; a domain spreading evenly over k languages
    approaches 1000·(1−1/k) — the "every language at once" signature of
    template/spam farms, and the mixture signal a multilingual corpus
    builder reads before setting per-domain sampling weights.

    Integer-exact by construction (no entropy/log floats, no double
    division anywhere): the square term accumulates as decimal(38,0) and
    the permille ratio is an integral `div` — exact at any count a crawl
    can produce (long Σcᵢ² would wrap silently past c ≈ 3·10⁹ and
    1000·Σcᵢ² already at ~9.6·10⁷, and long/long ratios detour through
    double past 2^53). Scale: two-level aggregation — (domain, lang)
    partials collapse map-side, then the domain-level sum; both shuffles
    bounded by dimension cardinality, no window.
    """
    lang = F.split(F.col("languages"), ",").getItem(0)
    per = (
        pages.select(
            "domain", F.coalesce(lang, F.lit("<none>")).alias("lang")
        )
        .groupBy("domain", "lang")
        .agg(F.count("*").cast("long").alias("c"))
    )
    dec = "decimal(19,0)"
    dom = per.groupBy("domain").agg(
        F.sum("c").cast("long").alias("n_pages"),
        F.count("*").cast("long").alias("n_langs"),
        F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).alias("_sq"),
    )
    return (
        dom.filter(F.col("n_pages") >= min_pages)
        .withColumn(
            "_den",
            F.col("n_pages").cast(dec) * F.col("n_pages").cast(dec),
        )
        .select(
            "domain",
            "n_pages",
            "n_langs",
            (F.lit(1000) - F.expr("(_sq * 1000) div _den"))
            .cast("long")
            .alias("simpson_permille"),
        )
        .orderBy("domain")
    )


def concentration_stats(pages: DataFrame, dim_col: str = "host") -> DataFrame:
    """Per-crawl crawl-volume concentration over ``dim_col``: exact Gini
    coefficient and top-decile share of pages, both integer permille.
    The reference reads concentration off its cumulative domain-coverage
    plot (plot/histogram.py:125–143) and top-500 tables; this is the
    scalar version a dashboard tracks crawl-over-crawl (a Gini jump =
    one template farm ate the crawl).

    Exactness: with hosts sorted ascending by page count x and 1-based
    ranks, G = (2·Σ rank·x)/(n·S) − (n+1)/n. A block of f hosts sharing
    value x at cumulative position cf occupies ranks (cf−f+1 .. cf), so
    2·Σ rank·x = Σ x·f·(2·cf − f + 1) — all integers, no floats;
    permille via integer floor division. Top decile = pages held by the
    k = ⌈n/10⌉ highest-ranked hosts; the boundary block contributes the
    clamped partial x·max(0, min(f, cf − (n−k))).

    Scale shape: the per-(crawl, dim) count is the one data-sized
    shuffle; everything after runs on the FREQUENCY-COMPRESSED
    distribution (crawl, x, f) — distinct page-count values per crawl,
    politeness-bounded to ~10³–10⁴ — so the ordered window never
    partitions an unbounded dimension (the domain_coverage lesson,
    VERDICT r2 #4). BIGINT is exact here through x·f·2cf ≤ 2nS ~ 10¹⁹
    only past ~10⁹ hosts × 10⁹ pages; widen t2 to DECIMAL(38,0) at that
    point — the permille outputs are unchanged."""
    per = pages.groupBy("crawl", dim_col).agg(F.count("*").alias("x"))
    hist = per.groupBy("crawl", "x").agg(F.count("*").cast("long").alias("f"))
    w = Window.partitionBy("crawl").orderBy("x")
    cum = hist.withColumn("cf", F.sum("f").over(w))
    agg = cum.groupBy("crawl").agg(
        F.sum("f").cast("long").alias("n"),
        F.sum(F.col("x") * F.col("f")).cast("long").alias("s"),
        F.sum(F.col("x") * F.col("f") * (2 * F.col("cf") - F.col("f") + 1))
        .cast("long")
        .alias("t2"),
    )
    top = (
        cum.join(agg.select("crawl", "n"), "crawl")
        .withColumn("_k", F.expr("(n + 9) DIV 10"))
        .groupBy("crawl")
        .agg(
            F.sum(
                F.col("x")
                * F.greatest(
                    F.lit(0),
                    F.least(F.col("f"), F.col("cf") - (F.col("n") - F.col("_k"))),
                )
            )
            .cast("long")
            .alias("top_pages")
        )
    )
    return (
        agg.join(top, "crawl")
        .select(
            "crawl",
            F.col("n").alias("n_hosts"),
            F.col("s").alias("total_pages"),
            F.expr("CAST((t2 - (n + 1) * s) * 1000 DIV (n * s) AS BIGINT)")
            .alias("gini_permille"),
            F.expr("CAST(top_pages * 1000 DIV s AS BIGINT)")
            .alias("top_decile_share_permille"),
        )
        .orderBy("crawl")
    )


def robust_host_outliers(
    pages: DataFrame, dim_col: str = "host", k_mad: int = 3
) -> DataFrame:
    """Per-crawl robust outlier detection over pages-per-``dim_col``:
    flag dimensions whose page count deviates from the crawl's median by
    more than ``k_mad`` × MAD (median absolute deviation) — the
    template-farm / runaway-generator screen that a mean/stddev rule
    misses because the outliers themselves inflate the mean. All
    integer-exact (lower medians), no floats.

    Returns one row per flagged (crawl, dim): (crawl, host, x, med, mad)
    where x is the dimension's page count. MAD = 0 degenerates to "any
    deviation flags" (> 0 = k·0), the standard convention.

    Scale shape: same frequency-compression as concentration_stats —
    both medians are read off cumulative sums over the DISTINCT-VALUE
    histograms ((crawl, x, f) then (crawl, |x−med|, f)), so no window
    ever partitions the unbounded host dimension; the final flag is one
    broadcast-size join (crawl-keyed scalars) against the per-host
    counts."""
    per = pages.groupBy("crawl", dim_col).agg(F.count("*").alias("x"))
    hist = per.groupBy("crawl", "x").agg(
        F.count("*").cast("long").alias("f")
    )
    w = Window.partitionBy("crawl").orderBy("x")
    cum = hist.withColumn("cf", F.sum("f").over(w)).withColumn(
        "n", F.sum("f").over(Window.partitionBy("crawl"))
    )
    # lower median: smallest x whose cumulative count reaches ceil(n/2)
    # (rank ceil(n/2) == the observed_host_gaps convention; 2*cf >= n is
    # the float-free form)
    med = (
        cum.filter(2 * F.col("cf") >= F.col("n"))
        .groupBy("crawl")
        .agg(F.min("x").cast("long").alias("med"))
    )
    dev_hist = (
        hist.join(med, "crawl")
        .groupBy("crawl", F.abs(F.col("x") - F.col("med")).alias("d"))
        .agg(F.sum("f").cast("long").alias("f"))
    )
    wd = Window.partitionBy("crawl").orderBy("d")
    dev_cum = dev_hist.withColumn("cf", F.sum("f").over(wd)).withColumn(
        "n", F.sum("f").over(Window.partitionBy("crawl"))
    )
    mad = (
        dev_cum.filter(2 * F.col("cf") >= F.col("n"))
        .groupBy("crawl")
        .agg(F.min("d").cast("long").alias("mad"))
    )
    scalars = med.join(mad, "crawl")
    return (
        per.join(F.broadcast(scalars), "crawl")
        .filter(
            F.abs(F.col("x") - F.col("med")) > F.lit(k_mad) * F.col("mad")
        )
        .select(
            "crawl",
            F.col(dim_col).alias("host"),
            F.col("x").cast("long").alias("x"),
            "med",
            "mad",
        )
        .orderBy("crawl", "host")
    )
