"""Query registry: every implemented operator (SURVEY.md §2) as a
(spark_query, duckdb_oracle_sql) pair — the driver contract of
``__spark_entry__.py``.

Conventions keeping the oracle comparison exact (order-insensitive
value-hash at sf0.01):
  - no float columns in compared outputs: ratios are integer permille via
    floor(); sums are over integers only
  - every DuckDB aggregate cast to BIGINT (DuckDB SUM(BIGINT) is HUGEINT)
  - aggregate/computed columns aliased identically on both sides
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators import counts as C
from ..operators import timeseries as TS
from ..sources.tables import load_table, pages_df
from ..synth import oracle_cte

# ---------------------------------------------------------------------------
# shared SQL snippets for the DuckDB oracle
# ---------------------------------------------------------------------------

_FLAGS = """
flagged AS (
  SELECT *,
         regexp_matches(warc_filename, '/robotstxt/') AS is_robotstxt,
         (status = 200 AND NOT regexp_matches(warc_filename, '/robotstxt/'))
           AS is_page
  FROM pages
),
prows AS (SELECT * FROM flagged WHERE is_page)
"""


def _oracle(body: str) -> str:
    return oracle_cte(f", {_FLAGS} {body}")


def _crawl_set_oracle(item: str, rel: str) -> str:
    """DuckDB side of the two-long 128-bit crawl-set (counts.item_crawl_set).
    DuckDB raises on ``1::BIGINT << 63`` (signed overflow), so bit 63 of
    each word is the min-long literal instead — same bit pattern Spark's
    wrapping shiftleft produces."""
    word = """
bit_or(CASE WHEN crawl_id {out_cond} THEN 0
            WHEN crawl_id = {sign_bit} THEN (-9223372036854775807 - 1)
            ELSE 1::BIGINT << (crawl_id - {base}) END)
"""
    lo = word.format(out_cond=">= 64", sign_bit="63", base="0")
    hi = word.format(out_cond="< 64", sign_bit="127", base="64")
    return _oracle(
        f"""
SELECT {item},
  CAST({lo} AS BIGINT) AS crawl_set_lo,
  CAST({hi} AS BIGINT) AS crawl_set_hi,
  CAST(MIN(crawl_id) AS BIGINT) AS first_crawl_id,
  CAST(COUNT(DISTINCT crawl_id) AS BIGINT) AS n_crawls,
  CAST(MAX(crawl_id) AS BIGINT) AS newest_crawl_id
FROM {rel} GROUP BY {item} ORDER BY {item}
"""
    )


_PLOG_BIN = (
    "CAST((CASE WHEN CAST(FLOOR(v / p10) AS BIGINT) >= 5 THEN 5 "
    "WHEN CAST(FLOOR(v / p10) AS BIGINT) >= 2 THEN 2 "
    "ELSE 1 END) * p10 AS BIGINT)"
)


def _plog_oracle(rollup_sql: str) -> str:
    """Pseudo-log histogram (1,2,5 x 10^k bins) of a rollup's ``v`` column,
    kept per-crawl (the reference histogram key carries the crawl,
    crawlstats.py:371-374)."""
    return _oracle(
        f"""
, hc AS ({rollup_sql}),
binned AS (
  SELECT crawl, CAST(v AS BIGINT) AS v,
    CAST(power(10, length(CAST(v AS STRING)) - 1) AS BIGINT) AS p10
  FROM hc WHERE v > 0
)
SELECT crawl, {_PLOG_BIN} AS bin, CAST(COUNT(*) AS BIGINT) AS n
FROM binned GROUP BY crawl, bin ORDER BY crawl, bin
"""
    )


def _histogram_matrix_oracle() -> str:
    """A19 full family: 12 (item_type x counted_per) pseudo-log histograms
    from one host-level base rollup (mirrors
    timeseries.frequency_histogram_matrix)."""
    branches = []
    for item_type, rel, counted in (
        ("host", "host_r", ("pages", "urls")),
        ("domain", "domain_r", ("pages", "urls", "hosts")),
        ("surt_domain", "surt_r", ("pages", "urls", "hosts")),
        ("tld", "tld_r", ("pages", "urls", "hosts", "domains")),
    ):
        for c in counted:
            branches.append(
                f"""
SELECT '{item_type}' AS item_type, crawl, '{c}' AS counted_per,
       {_PLOG_BIN} AS bin, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT crawl, CAST({c} AS BIGINT) AS v,
        CAST(power(10, length(CAST({c} AS STRING)) - 1) AS BIGINT) AS p10
      FROM {rel} WHERE {c} > 0)
GROUP BY crawl, bin
"""
            )
    union = "\nUNION ALL\n".join(branches)
    return _oracle(
        f"""
, base AS (
  SELECT crawl, tld, domain, surt_domain, host,
         COUNT(*) AS pages, COUNT(DISTINCT url) AS urls
  FROM prows GROUP BY crawl, tld, domain, surt_domain, host
),
host_r AS (SELECT crawl, pages, urls FROM base),
domain_r AS (
  SELECT crawl, SUM(pages) AS pages, SUM(urls) AS urls, COUNT(*) AS hosts
  FROM base GROUP BY crawl, domain
),
surt_r AS (
  SELECT crawl, SUM(pages) AS pages, SUM(urls) AS urls, COUNT(*) AS hosts
  FROM base GROUP BY crawl, surt_domain
),
tld_r AS (
  SELECT crawl, SUM(pages) AS pages, SUM(urls) AS urls, COUNT(*) AS hosts,
         COUNT(DISTINCT domain) AS domains
  FROM base GROUP BY crawl, tld
)
SELECT * FROM ({union}) ORDER BY item_type, crawl, counted_per, bin
"""
    )


def _idn_oracle() -> str:
    """Oracle for q_tld_classified_idn: constructs the identical IDN hosts
    plus the EXPECTED (tld, domain) split and the pinned classification
    facts, so the Spark side's psl.split_host + tld_dim must reproduce
    them value-for-value."""
    # (tld, tld_type, first_level) expectation pins — reference
    # top_level_domain.py tld_types/tld_ccs facts
    dim_rows = ", ".join(
        f"('{t}', 'IDN ccTLD', '{fl}')"
        for t, fl in (
            ("xn--p1ai", "ru"),
            ("xn--fiqs8s", "cn"),
            ("xn--90ais", "by"),
            ("xn--j1amh", "ua"),
            ("xn--wgbh1c", "eg"),
            ("рф", "ru"),
            ("中国", "cn"),
            ("ไทย", "th"),
        )
    )
    tld_case = (
        "CASE CAST(doc_id % 8 AS INT) "
        "WHEN 0 THEN 'xn--p1ai' WHEN 1 THEN 'xn--fiqs8s' "
        "WHEN 2 THEN 'xn--90ais' WHEN 3 THEN 'xn--j1amh' "
        "WHEN 4 THEN 'xn--wgbh1c' WHEN 5 THEN 'рф' "
        "WHEN 6 THEN '中国' ELSE 'ไทย' END"
    )
    return f"""
WITH idn AS (
  SELECT 'www.site' || CAST(doc_id % 7 AS STRING) || '.' || {tld_case}
           AS host,
         {tld_case} AS tld
  FROM documents
),
dim(tld, tld_type, first_level) AS (VALUES {dim_rows})
SELECT i.tld, d.tld_type, d.first_level,
  CAST(COUNT(DISTINCT i.host) AS BIGINT) AS n_hosts,
  CAST(COUNT(*) AS BIGINT) AS n_domain_ok,
  CAST(COUNT(*) AS BIGINT) AS n
FROM idn i JOIN dim d ON i.tld = d.tld
GROUP BY i.tld, d.tld_type, d.first_level
ORDER BY i.tld
"""


def _dim_oracle(expr: str, name: str) -> str:
    return _oracle(
        f"""
SELECT crawl, {expr} AS {name},
       CAST(COUNT(*) AS BIGINT) AS pages,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS urls
FROM prows GROUP BY crawl, {name} ORDER BY crawl, {name}
"""
    )


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def q_crawl_size(spark: SparkSession, sf: str) -> DataFrame:
    return C.crawl_size(pages_df(spark, sf))


def q_host_counts(spark: SparkSession, sf: str) -> DataFrame:
    return C.host_counts(pages_df(spark, sf))


def q_domain_counts(spark: SparkSession, sf: str) -> DataFrame:
    return C.domain_counts(pages_df(spark, sf))


def q_tld_counts(spark: SparkSession, sf: str) -> DataFrame:
    return C.tld_counts(pages_df(spark, sf))


def q_scheme_counts(spark: SparkSession, sf: str) -> DataFrame:
    return C.scheme_counts(pages_df(spark, sf))


def q_surt_domain_counts(spark: SparkSession, sf: str) -> DataFrame:
    return C.surt_domain_counts(pages_df(spark, sf))


def q_mimetype(spark: SparkSession, sf: str) -> DataFrame:
    return C.mimetype_counts(pages_df(spark, sf))


def q_mimetype_detected(spark: SparkSession, sf: str) -> DataFrame:
    return C.mimetype_counts(pages_df(spark, sf), detected=True)


def q_charset(spark: SparkSession, sf: str) -> DataFrame:
    return C.charset_counts(pages_df(spark, sf))


def q_languages(spark: SparkSession, sf: str) -> DataFrame:
    return C.language_counts(pages_df(spark, sf))


def q_primary_language(spark: SparkSession, sf: str) -> DataFrame:
    return C.primary_language_counts(pages_df(spark, sf))


def q_http_status(spark: SparkSession, sf: str) -> DataFrame:
    return C.http_status_histogram(pages_df(spark, sf))


def q_robotstxt_status(spark: SparkSession, sf: str) -> DataFrame:
    return C.robotstxt_status(pages_df(spark, sf))


def q_url_fetch_histogram(spark: SparkSession, sf: str) -> DataFrame:
    return C.url_fetch_histogram(pages_df(spark, sf))


def q_top_hosts(spark: SparkSession, sf: str) -> DataFrame:
    return C.top_k(C.host_counts(pages_df(spark, sf)), "host", k=50)


def q_new_items(spark: SparkSession, sf: str) -> DataFrame:
    return C.new_items_per_crawl(pages_df(spark, sf))


def q_url_crawl_set(spark: SparkSession, sf: str) -> DataFrame:
    return C.url_crawl_set(pages_df(spark, sf)).orderBy("url")


def q_digest_crawl_set(spark: SparkSession, sf: str) -> DataFrame:
    # A14 over CST.digest — the reference's exact mode tracks both url and
    # digest item types (crawlstats.py:841-863)
    return C.digest_crawl_set(pages_df(spark, sf)).orderBy("digest")


def q_new_digests(spark: SparkSession, sf: str) -> DataFrame:
    # A15 digest flavor (crawlstats.py:860-863)
    return C.new_items_per_crawl(
        pages_df(spark, sf), item_col="digest", out="new_digests"
    )


def q_url_crawl_set_registry(spark: SparkSession, sf: str) -> DataFrame:
    """A14 at registry id scale: remap the fixture's crawl ids {0,1,2} to
    {0,63,126} so the oracle-compared bitmask exercises the lo-word sign
    bit and the hi word — the exact ids where a single-long bitmask
    silently wraps (registry ids run 0-125, crawlstats.py:35-167)."""
    from pyspark.sql import functions as F

    p = pages_df(spark, sf).withColumn(
        "crawl_id", F.col("crawl_id") * 63
    )
    return C.url_crawl_set(p).orderBy("url")


def q_crawl_overlap(spark: SparkSession, sf: str) -> DataFrame:
    return TS.crawl_overlap(pages_df(spark, sf))


def q_cumulative_size(spark: SparkSession, sf: str) -> DataFrame:
    return TS.cumulative_size(C.crawl_size(pages_df(spark, sf)))


def q_dup_ratio(spark: SparkSession, sf: str) -> DataFrame:
    return TS.duplicate_ratio(C.crawl_size(pages_df(spark, sf)))


def q_size_estimate(spark: SparkSession, sf: str) -> DataFrame:
    # HLL-based: no exact oracle (driver records rows-only check)
    return C.size_estimate(pages_df(spark, sf))


def q_domain_coverage(spark: SparkSession, sf: str) -> DataFrame:
    # k=25 < the fixture's ~34 domains/crawl so the '<other>' tail row is
    # oracle-exercised, not just the covered prefix
    return TS.domain_coverage(C.domain_counts(pages_df(spark, sf)), k=25)


def q_mime_share_pivot(spark: SparkSession, sf: str) -> DataFrame:
    # S7 presentation pivot (table.py:146-153): percent-of-crawl mimetype
    # shares as one row per mimetype × one micro-percent column per crawl
    from ..sources.presentation import percentage_pivot

    return percentage_pivot(C.mimetype_counts(pages_df(spark, sf)), "mimetype")


def q_top_mime_other(spark: SparkSession, sf: str) -> DataFrame:
    return TS.top_n_with_other(
        C.mimetype_counts(pages_df(spark, sf)), "mimetype", n=3
    )


def q_mime_share(spark: SparkSession, sf: str) -> DataFrame:
    return TS.share_of_total(C.mimetype_counts(pages_df(spark, sf)), "mimetype")


def q_pages_by_year(spark: SparkSession, sf: str) -> DataFrame:
    return TS.pages_by_year(C.crawl_size(pages_df(spark, sf)))


def q_spearman_tld(spark: SparkSession, sf: str) -> DataFrame:
    return TS.spearman_rank_x1000(C.tld_counts(pages_df(spark, sf)), "tld")


def q_trailing_2(spark: SparkSession, sf: str) -> DataFrame:
    return TS.trailing_union(C.crawl_size(pages_df(spark, sf)), n=2)


def q_trailing_3(spark: SparkSession, sf: str) -> DataFrame:
    # W4's larger sliding sizes (N in {2,3,4,6,9,12}); the fixture has 3
    # crawls so N=3 exercises the exactly-full window + the under-full rows
    return TS.trailing_union(C.crawl_size(pages_df(spark, sf)), n=3)


def q_trailing_hll_2(spark: SparkSession, sf: str) -> DataFrame:
    # W4 sketch flavor (sliding last-N HLL unions, crawl_size.py:121-155):
    # HLL estimates — rows-only driver check; exact-vs-sketch deviation is
    # bounded by tests/test_counts.py
    return TS.trailing_distinct_union(pages_df(spark, sf), n=2)


def q_trailing_hll_3(spark: SparkSession, sf: str) -> DataFrame:
    return TS.trailing_distinct_union(pages_df(spark, sf), n=3)


def q_crawl_overlap_hll(spark: SparkSession, sf: str) -> DataFrame:
    # W7 sketch flavor (overlap.py:47-68) — the 100-TB-scale overlap plan;
    # the exact flavor (crawl_overlap) stays registered as the verifier
    return TS.crawl_overlap_sketch(pages_df(spark, sf))


def q_crawl_overlap_hll_digest(spark: SparkSession, sf: str) -> DataFrame:
    # the reference's second overlap item type ('digest estim.')
    return TS.crawl_overlap_sketch(pages_df(spark, sf), item_col="digest")


def q_host_pages_histogram(spark: SparkSession, sf: str) -> DataFrame:
    return TS.pseudo_log_histogram(
        C.host_counts(pages_df(spark, sf)), "pages", per=("crawl",)
    )


def q_domain_pages_histogram(spark: SparkSession, sf: str) -> DataFrame:
    # A19: domain item type, counted per page (crawlstats.py:982-993)
    return TS.pseudo_log_histogram(
        C.domain_counts(pages_df(spark, sf)), "pages", per=("crawl",)
    )


def q_host_urls_histogram(spark: SparkSession, sf: str) -> DataFrame:
    # A19: host item type, counted per url
    return TS.pseudo_log_histogram(
        C.host_counts(pages_df(spark, sf)), "urls", per=("crawl",)
    )


def q_histogram_matrix(spark: SparkSession, sf: str) -> DataFrame:
    # A19 full (item_type x counted_per) family in one single-scan plan
    return TS.frequency_histogram_matrix(pages_df(spark, sf))


def q_trailing_6(spark: SparkSession, sf: str) -> DataFrame:
    """W4 at a reference-realistic window width (N=6 of the reference's
    {2,3,4,6,9,12}, crawl_size.py:121-155) over a deterministic 12-crawl
    re-slicing of the fixture (doc_id % 12 as the crawl slot), so the
    under-full → full window transition is oracle-checked at width 6
    rather than degenerating on the 3-crawl fixture."""
    from pyspark.sql import functions as F

    wide = (
        C.page_rows(pages_df(spark, sf))
        .withColumn(
            "crawl",
            F.concat(
                F.lit("W"),
                F.lpad((F.col("doc_id") % 12).cast("string"), 2, "0"),
            ),
        )
        .groupBy("crawl")
        .agg(
            F.count("*").alias("pages"),
            F.countDistinct("url").alias("urls"),
        )
    )
    return TS.trailing_union(wide, n=6)


def q_tld_classified_idn(spark: SparkSession, sf: str) -> DataFrame:
    """P8 finish: IDN TLDs end-to-end through psl.split_host and the full
    tld_dim — including the punycode→country first-level rollup
    (TopLevelDomain.tld_ccs / first_level, top_level_domain.py:11, 24-42):
    xn--p1ai and рф both classify as IDN ccTLD with first_level 'ru'.
    Hosts are derived deterministically from doc_id over eight IDN ccTLDs
    (both punycode and unicode forms); the oracle constructs the same
    hosts plus the expected (tld, domain) split, so any PSL or dimension
    regression on IDN TLDs breaks value parity — the class of bug the
    round-2 ASCII-only fixture could not see."""
    from pyspark.sql import functions as F

    from ..dims import tld_dim
    from ..functions.psl import split_host

    tlds = _IDN_TLDS
    docs = load_table(spark, sf, "documents")
    arr = F.array([F.lit(t) for t in tlds])
    tld_pick = F.element_at(arr, (F.col("doc_id") % 8 + 1).cast("int"))
    site = (F.col("doc_id") % 7).cast("string")
    hosts = docs.select(
        F.concat(F.lit("www.site"), site, F.lit("."), tld_pick).alias(
            "host"
        ),
        F.concat(F.lit("site"), site, F.lit("."), tld_pick).alias(
            "expected_domain"
        ),
    )
    split = split_host(hosts, "host")
    dim = tld_dim(spark).select("tld", "tld_type", "first_level")
    return (
        split.join(F.broadcast(dim), "tld", "left")
        .groupBy("tld", "tld_type", "first_level")
        .agg(
            F.countDistinct("host").alias("n_hosts"),
            F.sum(
                (F.col("domain") == F.col("expected_domain")).cast("long")
            ).alias("n_domain_ok"),
            F.count("*").alias("n"),
        )
        .orderBy("tld")
    )


_IDN_TLDS = [
    "xn--p1ai",    # рф punycode -> ru
    "xn--fiqs8s",  # 中国 punycode -> cn
    "xn--90ais",   # бел punycode -> by
    "xn--j1amh",   # укр punycode -> ua
    "xn--wgbh1c",  # مصر punycode -> eg
    "рф",          # unicode form -> ru
    "中国",         # unicode form -> cn
    "ไทย",         # unicode form -> th
]


def q_tld_classified(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..dims import tld_dim

    counts = C.tld_counts(pages_df(spark, sf))
    dim = tld_dim(spark)
    return (
        counts.join(F.broadcast(dim), "tld", "left")
        .withColumn("tld_type", F.coalesce("tld_type", F.lit("-")))
        .groupBy("crawl", "tld_type")
        .agg(
            F.sum("pages").alias("pages"),
            F.sum("urls").alias("urls"),
            F.sum("domains").alias("domains"),
        )
        .orderBy("crawl", "tld_type")
    )


def q_cumulative_distinct(spark: SparkSession, sf: str) -> DataFrame:
    # sketch-based running union: rows-only (no SQL oracle)
    return TS.cumulative_distinct_estimates(pages_df(spark, sf))


def q_digest_dup_histogram(spark: SparkSession, sf: str) -> DataFrame:
    return C.digest_dup_histogram(pages_df(spark, sf))


def q_large_surt_domains(spark: SparkSession, sf: str) -> DataFrame:
    return C.large_surt_domains(pages_df(spark, sf), min_urls=4)


def q_url_status(spark: SparkSession, sf: str) -> DataFrame:
    return TS.url_status_by_crawl(pages_df(spark, sf))


def q_charset_top_unknown(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    pages = pages_df(spark, sf)
    known_counts = C.dim_counts(
        pages.filter(F.col("charset").isNotNull()), "charset"
    )
    return TS.top_n_with_unknown(pages, known_counts, "charset", n=1)


def q_cc_pages_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Per-lang page counts over the input_hint-literal cc_pages table,
    with n_extract_ok computed by ACTUALLY running the Arrow extract_text
    UDF over the html column — the oracle asserts n_extract_ok == n_pages
    (byte-identity by construction), so any extraction regression breaks
    parity."""
    from pyspark.sql import functions as F

    from ..functions.extract import extract_text
    from ..sources.cc_pages import cc_pages_df

    cc = cc_pages_df(spark, sf)
    return (
        cc.withColumn(
            "ok", (extract_text(F.col("html")) == F.col("text")).cast("long")
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("ok").alias("n_extract_ok"),
        )
        .orderBy("lang")
    )


def q_frequent_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """F4 floor at min_urls=3 (fixture-scaled --min-urls-top-host-domain)."""
    return C.frequent_host_domain_counts(
        C.host_counts(pages_df(spark, sf)), min_urls=3
    )


def q_languages_floor(spark: SparkSession, sf: str) -> DataFrame:
    """F5 floor at min_lang_comb_freq=5 (fixture-scaled): rare
    comma-combinations dropped, single languages always kept."""
    return C.language_counts_floor(pages_df(spark, sf), min_lang_comb_freq=5)


def q_cdx_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """S1/P1/P2 driver-checked end-to-end: render every pages row as a CDX
    index line (surt_key, timestamp, JSON metadata blob), run the REAL
    ingest path (parse_cdx_lines: zone split, null-tolerant from_json,
    urlparse host/scheme, full-PSL domain/tld split), and aggregate from
    the PARSED columns only. The oracle computes the same aggregate
    straight from the source table — any parsing/PSL/url-derivation drift
    breaks value parity."""
    from pyspark.sql import functions as F

    from ..sources.cdx import parse_cdx_lines

    p = pages_df(spark, sf)
    json_blob = F.concat(
        F.lit('{"url": "'),
        F.col("url"),
        F.lit('", "status": "'),
        F.col("status").cast("string"),
        F.lit('", "digest": "'),
        F.col("digest"),
        F.lit('", "filename": "'),
        F.col("warc_filename"),
        F.lit('"}'),
    )
    lines = p.select(
        F.concat_ws(
            " ", F.col("surt_key"), F.col("fetch_ts").cast("string"), json_blob
        ).alias("value")
    )
    parsed = parse_cdx_lines(lines)
    return (
        parsed.filter(F.col("is_valid"))
        .groupBy("scheme", "tld", "status")
        .agg(
            F.count("*").alias("fetches"),
            F.countDistinct("url").alias("urls"),
            F.countDistinct("domain").alias("domains"),
            F.countDistinct("surt_domain").alias("surt_domains"),
        )
        .orderBy("scheme", "tld", "status")
    )


def q_cdx_zipnum_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ZipNum index sink driver-checked end-to-end: render every fetch as
    a full-metadata CDX index line (to_json escaping), total-order range
    sort + block-gzip into ZipNum members (sources/zipnum.py — the
    cc-index publication format), decode the members back, re-parse with
    the REAL cdx ingest path, and aggregate from the PARSED columns only.
    Any drift in rendering, the sorted sharding, gzip member framing, or
    parsing breaks value parity with the oracle computed straight from
    the source table. (Seek offsets / cluster.idx are pinned byte-level
    in tests/test_zipnum.py.)"""
    from pyspark.sql import functions as F

    from ..sources.cdx import parse_cdx_lines
    from ..sources.zipnum import (
        decode_members,
        render_cdx_index_lines,
        zipnum_members,
    )

    p = pages_df(spark, sf)
    members = zipnum_members(
        render_cdx_index_lines(p), n_shards=4, block_size=512
    )
    parsed = parse_cdx_lines(decode_members(members)).filter(
        F.col("is_valid")
    )
    return (
        parsed.groupBy("scheme", "tld", "status", "mime")
        .agg(
            F.count("*").alias("fetches"),
            F.countDistinct("url").alias("urls"),
            F.countDistinct("digest").alias("digests"),
        )
        .orderBy("scheme", "tld", "status", "mime")
    )


def q_warc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """WARC source driver-checked end-to-end: render every fetch as a
    spec-shaped WARC/1.0 response record (sources/warc.py), run the REAL
    parse path (block split + anchored header regexps), and aggregate from
    the PARSED columns only — envelope fields AND payload bytes. The oracle
    recomputes the same aggregate straight from the source table, so any
    drift in record rendering, block splitting, or field extraction breaks
    value parity. (File-level record splitting — custom lineSep, gzip
    per-file layout — is pinned by tests/test_warc.py.)"""
    from pyspark.sql import functions as F

    from ..sources.warc import RECORD_SEP, parse_warc_records, render_warc_records

    recs = render_warc_records(pages_df(spark, sf)).select(
        F.expr(f"substring(value, {len(RECORD_SEP) + 1})").alias("value")
    )
    parsed = parse_warc_records(recs).filter(F.col("is_valid"))
    return (
        parsed.groupBy("status", "mime")
        .agg(
            F.count("*").cast("long").alias("n_records"),
            F.countDistinct("url").cast("long").alias("n_urls"),
            F.sum(F.length("payload")).cast("long").alias("payload_chars"),
        )
        .orderBy("status", "mime")
    )


def _churn_oracle(
    item: str, n_col: str, gained: str, retained: str, lost: str
) -> str:
    """DuckDB ground truth for timeseries.item_churn on any item column:
    dense crawl sequence + per-item lag/lead, loss attributed to the crawl
    where the item is absent."""
    return _oracle(
        f"""
, items AS (SELECT DISTINCT crawl_id, crawl, {item} AS item FROM prows),
seqd AS (
  SELECT crawl_id, crawl,
         CAST(DENSE_RANK() OVER (ORDER BY crawl_id) - 1 AS INTEGER) AS seq
  FROM (SELECT DISTINCT crawl_id, crawl FROM items)
),
h AS (
  SELECT items.item, seqd.seq, seqd.crawl
  FROM items JOIN seqd USING (crawl_id, crawl)
),
flags AS (
  SELECT seq, crawl,
    (COALESCE(LAG(seq) OVER (PARTITION BY item ORDER BY seq), -2)
       < seq - 1) AS is_gained,
    (COALESCE(LEAD(seq) OVER (PARTITION BY item ORDER BY seq), 2147483647)
       > seq + 1) AS is_lost_after
  FROM h
),
per_seq AS (
  SELECT seq, crawl, COUNT(*) AS n_items,
    SUM(CASE WHEN is_gained THEN 1 ELSE 0 END) AS n_gained,
    SUM(CASE WHEN is_lost_after THEN 1 ELSE 0 END) AS lost_after
  FROM flags GROUP BY seq, crawl
)
SELECT crawl,
  CAST(n_items AS BIGINT) AS {n_col},
  CAST(n_gained AS BIGINT) AS {gained},
  CAST(n_items - n_gained AS BIGINT) AS {retained},
  CAST(COALESCE(LAG(lost_after) OVER (ORDER BY seq), 0) AS BIGINT)
    AS {lost}
FROM per_seq ORDER BY crawl
"""
    )


def _wat_links_oracle() -> str:
    """Arithmetic ground truth for the WAT outlink extraction: raw hrefs
    recomputed from doc_id (never parsing the WARC payload)."""
    from ..synth import child_url_sql

    return oracle_cte(
        f"""
, nd AS (SELECT COUNT(*) AS n FROM documents),
base AS (SELECT DISTINCT url, status, doc_id FROM pages)
SELECT url, status,
  CAST(3 AS BIGINT) AS n_links,
  {child_url_sql('(doc_id*2+1) % n')} AS link1,
  '/page/' || CAST((doc_id*5+3) % n AS STRING) || '.html' AS link3
FROM base, nd ORDER BY url
"""
    )


def q_wet_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """WARC→WET derivation driver-checked end-to-end: render WARC response
    records, parse them, extract text with the byte-identical Arrow UDF
    (wet_from_warc), render WET conversion records, parse those back, and
    aggregate from the re-parsed WET columns. The deterministic WARC body
    extracts to exactly url||digest, so the oracle recomputes record
    counts and total text chars straight from the source table — drift
    anywhere in the WARC render, parse, extraction, WET render, or WET
    parse breaks value parity."""
    from pyspark.sql import functions as F

    from ..sources.warc import (
        RECORD_SEP,
        parse_warc_records,
        parse_wet_records,
        render_warc_records,
        render_wet_records,
        wet_from_warc,
    )

    recs = render_warc_records(pages_df(spark, sf)).select(
        F.expr(f"substring(value, {len(RECORD_SEP) + 1})").alias("value")
    )
    conv = wet_from_warc(parse_warc_records(recs))
    wet = render_wet_records(conv).select(
        F.expr(f"substring(value, {len(RECORD_SEP) + 1})").alias("value")
    )
    parsed = parse_wet_records(wet)
    return parsed.select(
        F.count("*").cast("long").alias("n_records"),
        F.countDistinct("url").cast("long").alias("n_urls"),
        F.sum(F.length("text")).cast("long").alias("text_chars"),
        F.sum((F.col("warc_type") == "conversion").cast("long")).alias(
            "n_conversion"
        ),
    )


def q_wat_links(spark: SparkSession, sf: str) -> DataFrame:
    """WARC→WAT derivation driver-checked: render WARC records whose html
    payload carries the fixture's outlink anchors (pure codegen concat —
    same child formula as the link graph), parse the records, build WAT
    metadata rows (envelope + outlinks parsed from the payload), and
    project link fields per distinct URL. The oracle recomputes the raw
    hrefs arithmetically."""
    from pyspark.sql import functions as F

    from ..sources.warc import RECORD_SEP, parse_warc_records, render_warc_records
    from ..sources.warc import wat_from_warc
    from ..synth import child_url_sql, outlink_child_ids_sql

    docs_n = load_table(spark, sf, "documents").count()
    c1, c2, c3 = outlink_child_ids_sql(docs_n)
    pages = pages_df(spark, sf).withColumn(
        "body",
        F.concat(
            F.lit("<!doctype html><title>"), F.col("url"),
            F.lit("</title><p>"), F.col("digest"), F.lit("</p>"),
            F.lit('<a href="'), F.expr(child_url_sql(c1)), F.lit('"></a>'),
            F.lit('<a href="'), F.expr(child_url_sql(c2)), F.lit('"></a>'),
            F.lit('<a href="/page/'), F.expr(f"CAST({c3} AS STRING)"),
            F.lit('.html"></a>'),
        ),
    )
    recs = render_warc_records(pages, body_col="body").select(
        F.expr(f"substring(value, {len(RECORD_SEP) + 1})").alias("value")
    )
    # Lineage barrier between the synthetic record renderer and the parse:
    # without it Catalyst substitutes the whole record-concat expression
    # into every downstream header regex AND the outlink resolver, the
    # parse stage's generated filter exceeds the JVM's 64 KB method limit,
    # and whole-stage codegen falls back to interpreted eval for the entire
    # stage. Real WARC input is a file scan (a plain `value` attribute), so
    # the barrier reproduces the production plan shape, fixture-only cost.
    recs = recs.localCheckpoint(eager=False)
    wat = wat_from_warc(parse_warc_records(recs))
    return (
        wat.select(
            "url",
            "status",
            F.size("outlinks").cast("long").alias("n_links"),
            F.col("outlinks").getItem(0).alias("link1"),
            F.col("outlinks").getItem(2).alias("link3"),
        )
        .distinct()
        .orderBy("url")
    )


def q_stats_wire_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """S2/S4/A13 driver-checked: host counts → reference JSON\\tJSON wire
    lines (emit_stats_lines, incl. the MultiCount trailing-equal
    compression) → parsed back (read_stats_lines, expand) → re-emitted as
    rows. The oracle computes the host counts directly, so a codec or
    formatting regression (compress/expand asymmetry, key ordering)
    breaks value parity."""
    from pyspark.sql import functions as F

    from ..sources.compat import emit_stats_lines, read_stats_lines

    counts = C.host_counts(pages_df(spark, sf)).select(
        F.lit("host").alias("type"),
        F.col("host").alias("key"),
        "crawl",
        "pages",
        "urls",
    )
    lines = emit_stats_lines(counts)
    return read_stats_lines(lines, value_col="line").orderBy(
        "type", "key", "crawl"
    )


def q_crawler_metrics_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """S5/P11 driver-checked: deterministic Nutch-style counter lines are
    rendered from the pages table (crawl_status counters from the status
    histogram, size page/url totals, per-scheme unique-URL vectors), pushed
    through the REAL side-input reader (parse_crawler_metric_lines: wire
    split, vector element-1 selection) and the reference's selection +
    METRICS_MAP roll-up (crawler_metrics_stats), then titled via
    display_title. The oracle recomputes every row, titles via explicit
    CASE (the title regex uses lookbehind, which RE2/DuckDB lacks)."""
    from pyspark.sql import functions as F

    from ..sources.crawler_metrics import (
        crawler_metrics_stats,
        display_title,
        parse_crawler_metric_lines,
    )

    p = C.with_flags(pages_df(spark, sf))
    status_ctr = (
        p.filter(~F.col("is_robotstxt"))
        .groupBy(
            "crawl",
            F.when(F.col("status") == 200, "fetcher:success")
            .when(F.col("status") == 301, "fetcher:temp_moved")
            .when(F.col("status") == 404, "fetcher:notfound")
            .otherwise("fetcher:exception")
            .alias("counter"),
        )
        .agg(F.count("*").alias("value"))
        .select(
            F.lit("crawl_status").alias("type"), "counter", "crawl", "value"
        )
    )
    size_ctr = (
        p.filter(F.col("is_page"))
        .groupBy("crawl")
        .agg(
            F.count("*").alias("page"), F.countDistinct("url").alias("url")
        )
        .selectExpr(
            "'size' AS type",
            "stack(2, 'page', page, 'url', url) AS (counter, value)",
            "crawl",
        )
        .select("type", "counter", "crawl", "value")
    )
    # scheme records carry a [pages, urls] vector; the reader must pick
    # element 1 (unique URLs)
    scheme_ctr = (
        p.filter(F.col("is_page"))
        .groupBy("crawl", "scheme")
        .agg(F.count("*").alias("pages"), F.countDistinct("url").alias("urls"))
        .select(
            F.lit("scheme").alias("type"),
            F.col("scheme").alias("counter"),
            "crawl",
            F.concat(
                F.lit("["),
                F.col("pages").cast("string"),
                F.lit(", "),
                F.col("urls").cast("string"),
                F.lit("]"),
            ).alias("vec"),
        )
    )
    line = lambda df, val: df.select(  # noqa: E731
        F.concat(
            F.lit('["'),
            F.col("type"),
            F.lit('", "'),
            F.col("counter"),
            F.lit('", "'),
            F.col("crawl"),
            F.lit('"]\t'),
            val,
        ).alias("value")
    )
    lines = (
        line(status_ctr, F.col("value").cast("string"))
        .unionByName(line(size_ctr, F.col("value").cast("string")))
        .unionByName(line(scheme_ctr, F.col("vec")))
    )
    stats = crawler_metrics_stats(parse_crawler_metric_lines(lines))
    return stats.withColumn("title", display_title(F.col("item_type"))).orderBy(
        "crawl", "item_type"
    )


def q_spearman_benchmark(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl TLD page-frequencies rank-correlated against the vendored
    Alexa/Cisco/Majestic top-1M TLD tables (tld.py:187-229)."""
    from pyspark.sql import functions as F  # noqa: F401

    from ..benchmarks_data import benchmark_tld_rows

    dim = spark.createDataFrame(
        benchmark_tld_rows(), "benchmark string, tld string, sites long"
    )
    return TS.spearman_vs_benchmark(C.tld_counts(pages_df(spark, sf)), dim)


def q_url_parse_parity(spark: SparkSession, sf: str) -> DataFrame:
    """P3/U2/U3 wired end-to-end: host/scheme derived FROM THE URL STRING
    via both tiers — JVM parse_url (hot path) and the Arrow byte-compat
    urlparse UDFs — plus (domain, tld) from the full-PSL split of the
    derived host. The oracle asserts every derived value equals the synth
    reference column (n_*_ok == n), so a parse or PSL regression breaks
    value parity, not just a unit test."""
    from pyspark.sql import functions as F

    from ..functions.psl import split_host
    from ..functions.urlkit import host_of, scheme_of, urlparse_host

    p = pages_df(spark, sf).select(
        "crawl",
        "url",
        F.col("host").alias("host_ref"),
        F.col("scheme").alias("scheme_ref"),
        F.col("domain").alias("domain_ref"),
        F.col("tld").alias("tld_ref"),
    )
    derived = split_host(
        p.withColumn("host", host_of(F.col("url"))), "host"
    ).withColumns(
        {
            "scheme_jvm": scheme_of(F.col("url")),
            "host_py": urlparse_host()(F.col("url")),
        }
    )
    ok = lambda a, b: (F.col(a) == F.col(b)).cast("long")  # noqa: E731
    return (
        derived.groupBy("crawl")
        .agg(
            F.count("*").alias("n"),
            F.sum(ok("host", "host_ref")).alias("n_host_jvm_ok"),
            F.sum(ok("host_py", "host_ref")).alias("n_host_py_ok"),
            F.sum(ok("scheme_jvm", "scheme_ref")).alias("n_scheme_ok"),
            F.sum(ok("domain", "domain_ref")).alias("n_domain_ok"),
            F.sum(ok("tld", "tld_ref")).alias("n_tld_ok"),
        )
        .orderBy("crawl")
    )


def q_surt_parity(spark: SparkSession, sf: str) -> DataFrame:
    """U1 wired: the Arrow surt_key UDF over the raw URL vs the expected
    SURT form derived dialect-neutrally from the synth columns (host
    reversed, leading www. dropped, cdn. kept). Oracle asserts
    n_surt_ok == n."""
    from pyspark.sql import functions as F

    from ..functions.urlkit import surt_key

    p = pages_df(spark, sf)
    expected = F.expr(
        "CASE WHEN host LIKE 'cdn.%' THEN surt_domain || ',cdn' "
        "ELSE surt_domain END || ')' || "
        "replace(url, scheme || '://' || host, '')"
    )
    return (
        p.withColumn("got", surt_key()(F.col("url")))
        .withColumn("ok", (F.col("got") == expected).cast("long"))
        .groupBy("crawl")
        .agg(F.count("*").alias("n"), F.sum("ok").alias("n_surt_ok"))
        .orderBy("crawl")
    )


def q_tld_continent(spark: SparkSession, sf: str) -> DataFrame:
    from ..dims import tld_continent_dim

    return TS.continent_rollup(
        C.tld_counts(pages_df(spark, sf)), tld_continent_dim(spark)
    )


def q_crawl_registry_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """P10/J1 over the real MonthlyCrawl registry: per-crawl page counts
    joined (broadcast) to the vendored 126-crawl registration-id dim;
    unregistered fixture crawls map to -1. The oracle joins the identical
    VALUES table, so any registry drift breaks value parity."""
    from pyspark.sql import functions as F

    from ..dims import monthly_crawl_dim

    reg = monthly_crawl_dim(spark).select(
        "crawl", F.col("crawl_id").alias("registry_id")
    )
    return (
        C.page_rows(pages_df(spark, sf))
        .groupBy("crawl")
        .agg(F.count("*").alias("pages"))
        .join(F.broadcast(reg), "crawl", "left")
        .select(
            "crawl",
            F.coalesce("registry_id", F.lit(-1))
            .cast("long")
            .alias("registry_id"),
            "pages",
        )
        .orderBy("crawl")
    )


def q_warc_cdx_index(spark: SparkSession, sf: str) -> DataFrame:
    """CDX index generation (the cc-index build step the reference's input
    files come from): per-record (warc_filename, offset, length) addresses
    for the WARC layout (sources/warc.py:cdx_index_from_pages), folded to
    per-file invariants. The oracle constructs the IDENTICAL record string
    in SQL and re-derives length/offset, so any drift in the shared record
    expression, the +1 row terminator, or the per-file running-sum window
    breaks value parity. ``offset_sum`` is sensitive to both record order
    and every individual length; ``end_of_file`` must equal ``file_bytes``
    (max(offset+length) == total span). Byte-exactness against physically
    written files is pinned in tests/test_warc.py."""
    from pyspark.sql import functions as F

    from ..sources.warc import cdx_index_from_pages

    idx = cdx_index_from_pages(pages_df(spark, sf))
    return (
        idx.groupBy("warc_filename")
        .agg(
            F.count("*").cast("long").alias("n_records"),
            F.sum("warc_record_length").cast("long").alias("file_bytes"),
            F.sum("warc_record_offset").cast("long").alias("offset_sum"),
            F.max(
                F.col("warc_record_offset") + F.col("warc_record_length")
            )
            .cast("long")
            .alias("end_of_file"),
        )
        .orderBy("warc_filename")
    )


def q_warc_revisit(spark: SparkSession, sf: str) -> DataFrame:
    """Fetch-time digest dedup as WARC revisit records
    (sources/warc.py:revisit_records): first capture per (crawl, digest)
    stays a response, later fetches become revisits pointing at the
    original. The aggregate checksums the refers-to linkage itself
    (sum of refers_to_url lengths + refers_to_ts), so a wrong "original"
    pick — not just a wrong split — breaks parity."""
    from pyspark.sql import functions as F

    from ..sources.warc import revisit_records

    rv = revisit_records(pages_df(spark, sf))
    return (
        rv.groupBy("crawl", "warc_type")
        .agg(
            F.count("*").cast("long").alias("n_records"),
            F.countDistinct("digest").cast("long").alias("n_digests"),
            F.coalesce(F.sum(F.length("refers_to_url")), F.lit(0))
            .cast("long")
            .alias("refers_chars"),
            F.coalesce(F.sum("refers_to_ts"), F.lit(0))
            .cast("long")
            .alias("refers_ts_sum"),
        )
        .orderBy("crawl", "warc_type")
    )


def q_host_churn(spark: SparkSession, sf: str) -> DataFrame:
    """Hosts gained/retained/lost per crawl transition
    (operators/timeseries.py:host_churn)."""
    return TS.host_churn(pages_df(spark, sf))


def q_url_churn(spark: SparkSession, sf: str) -> DataFrame:
    """URL-level churn (operators/timeseries.py:item_churn) — the two-sided
    companion to new_items over the reference's CST.url item type."""
    return TS.item_churn(pages_df(spark, sf), "url")


def q_digest_churn(spark: SparkSession, sf: str) -> DataFrame:
    """Content-turnover churn over CST.digest (item_churn on digest)."""
    return TS.item_churn(pages_df(spark, sf), "digest")


def q_mime_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Declared-vs-detected media-type agreement matrix
    (operators/counts.py:mime_agreement_matrix)."""
    return C.mime_agreement_matrix(pages_df(spark, sf))


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "crawl_size": q_crawl_size,
    "host_counts": q_host_counts,
    "domain_counts": q_domain_counts,
    "tld_counts": q_tld_counts,
    "scheme_counts": q_scheme_counts,
    "surt_domain_counts": q_surt_domain_counts,
    "mimetype": q_mimetype,
    "mimetype_detected": q_mimetype_detected,
    "charset": q_charset,
    "languages": q_languages,
    "primary_language": q_primary_language,
    "http_status": q_http_status,
    "robotstxt_status": q_robotstxt_status,
    "url_fetch_histogram": q_url_fetch_histogram,
    "top_hosts": q_top_hosts,
    "new_items": q_new_items,
    "url_crawl_set": q_url_crawl_set,
    "digest_crawl_set": q_digest_crawl_set,
    "new_digests": q_new_digests,
    "url_crawl_set_registry": q_url_crawl_set_registry,
    "crawl_overlap": q_crawl_overlap,
    "cumulative_size": q_cumulative_size,
    "dup_ratio": q_dup_ratio,
    "size_estimate": q_size_estimate,
    "domain_coverage": q_domain_coverage,
    "top_mime_other": q_top_mime_other,
    "mime_share": q_mime_share,
    "mime_share_pivot": q_mime_share_pivot,
    "pages_by_year": q_pages_by_year,
    "spearman_tld": q_spearman_tld,
    "trailing_2": q_trailing_2,
    "trailing_3": q_trailing_3,
    "trailing_hll_2": q_trailing_hll_2,
    "trailing_hll_3": q_trailing_hll_3,
    "crawl_overlap_hll": q_crawl_overlap_hll,
    "crawl_overlap_hll_digest": q_crawl_overlap_hll_digest,
    "host_pages_histogram": q_host_pages_histogram,
    "domain_pages_histogram": q_domain_pages_histogram,
    "host_urls_histogram": q_host_urls_histogram,
    "histogram_matrix": q_histogram_matrix,
    "trailing_6": q_trailing_6,
    "tld_classified": q_tld_classified,
    "tld_classified_idn": q_tld_classified_idn,
    "cumulative_distinct": q_cumulative_distinct,
    "digest_dup_histogram": q_digest_dup_histogram,
    "large_surt_domains": q_large_surt_domains,
    "url_status": q_url_status,
    "charset_top_unknown": q_charset_top_unknown,
    "tld_continent": q_tld_continent,
    "crawl_registry_lookup": q_crawl_registry_lookup,
    "url_parse_parity": q_url_parse_parity,
    "surt_parity": q_surt_parity,
    "spearman_benchmark": q_spearman_benchmark,
    "frequent_hosts": q_frequent_hosts,
    "languages_floor": q_languages_floor,
    "cdx_roundtrip": q_cdx_roundtrip,
    "cdx_zipnum_roundtrip": q_cdx_zipnum_roundtrip,
    "warc_roundtrip": q_warc_roundtrip,
    "wet_roundtrip": q_wet_roundtrip,
    "wat_links": q_wat_links,
    "warc_cdx_index": q_warc_cdx_index,
    "warc_revisit": q_warc_revisit,
    "host_churn": q_host_churn,
    "url_churn": q_url_churn,
    "digest_churn": q_digest_churn,
    "mime_matrix": q_mime_matrix,
    "stats_wire_roundtrip": q_stats_wire_roundtrip,
    "crawler_metrics_roundtrip": q_crawler_metrics_roundtrip,
    "cc_pages_extract": q_cc_pages_extract,
}

_MIME_NORM = (
    "coalesce(nullif(regexp_extract(lower({c}), "
    "'^\\s*([a-z0-9._-]+/[a-z0-9._+-]+)', 1), ''), "
    "replace(lower({c}), '\"', ''))"
)

ORACLES: dict[str, str] = {
    "crawl_size": _oracle(
        """
SELECT crawl,
  CAST(COUNT(*) AS BIGINT) AS fetches,
  CAST(SUM(CASE WHEN is_page THEN 1 ELSE 0 END) AS BIGINT) AS pages,
  CAST(COUNT(DISTINCT CASE WHEN is_page THEN url END) AS BIGINT) AS urls,
  CAST(COUNT(DISTINCT CASE WHEN is_page THEN digest END) AS BIGINT) AS digests,
  CAST(COUNT(DISTINCT CASE WHEN is_page THEN host END) AS BIGINT) AS hosts,
  CAST(COUNT(DISTINCT CASE WHEN is_page THEN domain END) AS BIGINT) AS domains
FROM flagged GROUP BY crawl ORDER BY crawl
"""
    ),
    "host_counts": _dim_oracle("host", "host"),
    "domain_counts": _oracle(
        """
, per_host AS (
  SELECT crawl, domain, host, COUNT(*) AS pages, COUNT(DISTINCT url) AS urls
  FROM prows GROUP BY crawl, domain, host
)
SELECT crawl, domain,
  CAST(SUM(pages) AS BIGINT) AS pages,
  CAST(SUM(urls) AS BIGINT) AS urls,
  CAST(COUNT(*) AS BIGINT) AS hosts
FROM per_host GROUP BY crawl, domain ORDER BY crawl, domain
"""
    ),
    "tld_counts": _oracle(
        """
, per_domain AS (
  SELECT crawl, tld, domain, COUNT(*) AS pages,
         COUNT(DISTINCT url) AS urls, COUNT(DISTINCT host) AS hosts
  FROM prows GROUP BY crawl, tld, domain
)
SELECT crawl, tld,
  CAST(SUM(pages) AS BIGINT) AS pages,
  CAST(SUM(urls) AS BIGINT) AS urls,
  CAST(SUM(hosts) AS BIGINT) AS hosts,
  CAST(COUNT(*) AS BIGINT) AS domains
FROM per_domain GROUP BY crawl, tld ORDER BY crawl, tld
"""
    ),
    "scheme_counts": _dim_oracle("scheme", "scheme"),
    "surt_domain_counts": _oracle(
        """
SELECT crawl, surt_domain,
  CAST(COUNT(*) AS BIGINT) AS pages,
  CAST(COUNT(DISTINCT url) AS BIGINT) AS urls,
  CAST(COUNT(DISTINCT host) AS BIGINT) AS hosts
FROM prows GROUP BY crawl, surt_domain ORDER BY crawl, surt_domain
"""
    ),
    "mimetype": _dim_oracle(_MIME_NORM.format(c="mime"), "mimetype"),
    "mimetype_detected": _dim_oracle(
        _MIME_NORM.format(c="mime_detected"), "mimetype"
    ),
    "charset": _dim_oracle("coalesce(charset, '<unknown>')", "charset"),
    "languages": _dim_oracle("languages", "languages"),
    "primary_language": _dim_oracle(
        "string_split(languages, ',')[1]", "primary_language"
    ),
    "http_status": _oracle(
        """
SELECT crawl, status, CAST(COUNT(*) AS BIGINT) AS fetches
FROM flagged WHERE NOT is_robotstxt
GROUP BY crawl, status ORDER BY crawl, status
"""
    ),
    "robotstxt_status": _oracle(
        """
SELECT crawl, status,
  CAST(COUNT(*) AS BIGINT) AS responses,
  CAST(COUNT(DISTINCT url) AS BIGINT) AS urls
FROM flagged WHERE is_robotstxt
GROUP BY crawl, status ORDER BY crawl, status
"""
    ),
    "url_fetch_histogram": _oracle(
        """
, per_url AS (
  SELECT crawl, url, COUNT(*) AS n_fetches
  FROM flagged WHERE NOT is_robotstxt GROUP BY crawl, url
)
SELECT crawl, CAST(n_fetches AS BIGINT) AS n_fetches,
       CAST(COUNT(*) AS BIGINT) AS n_urls
FROM per_url GROUP BY crawl, n_fetches ORDER BY crawl, n_fetches
"""
    ),
    "top_hosts": _oracle(
        """
, hc AS (
  SELECT crawl, host, COUNT(*) AS pages, COUNT(DISTINCT url) AS urls
  FROM prows GROUP BY crawl, host
),
ranked AS (
  SELECT crawl, host, pages, urls,
         row_number() OVER (PARTITION BY crawl
                            ORDER BY pages DESC, urls DESC, host DESC) AS rank
  FROM hc
)
SELECT crawl, host, CAST(pages AS BIGINT) AS pages,
       CAST(urls AS BIGINT) AS urls, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 50 ORDER BY crawl, rank
"""
    ),
    "new_items": _oracle(
        """
, first AS (SELECT url, MIN(crawl_id) AS crawl_id FROM prows GROUP BY url),
crawls AS (SELECT DISTINCT crawl_id, crawl FROM prows)
SELECT c.crawl, CAST(COUNT(*) AS BIGINT) AS new_urls
FROM first f JOIN crawls c ON f.crawl_id = c.crawl_id
GROUP BY c.crawl ORDER BY c.crawl
"""
    ),
    "url_crawl_set": _crawl_set_oracle("url", "prows"),
    "digest_crawl_set": _crawl_set_oracle("digest", "prows"),
    "url_crawl_set_registry": _crawl_set_oracle(
        "url",
        "(SELECT url, crawl_id * 63 AS crawl_id FROM prows)",
    ),
    "new_digests": _oracle(
        """
, first AS (SELECT digest, MIN(crawl_id) AS crawl_id FROM prows
            GROUP BY digest),
crawls AS (SELECT DISTINCT crawl_id, crawl FROM prows)
SELECT c.crawl, CAST(COUNT(*) AS BIGINT) AS new_digests
FROM first f JOIN crawls c ON f.crawl_id = c.crawl_id
GROUP BY c.crawl ORDER BY c.crawl
"""
    ),
    "crawl_overlap": _oracle(
        """
, purl AS (SELECT DISTINCT url, crawl FROM prows),
inter AS (
  SELECT a.crawl AS c1, b.crawl AS c2, COUNT(*) AS inter
  FROM purl a JOIN purl b ON a.url = b.url AND a.crawl < b.crawl
  GROUP BY a.crawl, b.crawl
),
sizes AS (SELECT crawl, COUNT(DISTINCT url) AS n FROM prows GROUP BY crawl)
SELECT c1, c2, CAST(inter AS BIGINT) AS inter,
  CAST(s1.n + s2.n - inter AS BIGINT) AS uni,
  CAST(FLOOR(1000 * inter / (s1.n + s2.n - inter)) AS BIGINT)
    AS jaccard_permille
FROM inter JOIN sizes s1 ON inter.c1 = s1.crawl
           JOIN sizes s2 ON inter.c2 = s2.crawl
ORDER BY c1, c2
"""
    ),
    "cumulative_size": _oracle(
        """
, sz AS (
  SELECT crawl, COUNT(*) AS fetches,
         SUM(CASE WHEN is_page THEN 1 ELSE 0 END) AS pages
  FROM flagged GROUP BY crawl
)
SELECT crawl, CAST(fetches AS BIGINT) AS fetches, CAST(pages AS BIGINT) AS pages,
  CAST(SUM(fetches) OVER (ORDER BY crawl ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS cum_fetches,
  CAST(SUM(pages) OVER (ORDER BY crawl ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS cum_pages
FROM sz ORDER BY crawl
"""
    ),
    "dup_ratio": _oracle(
        """
, sz AS (
  SELECT crawl,
    SUM(CASE WHEN is_page THEN 1 ELSE 0 END) AS pages,
    COUNT(DISTINCT CASE WHEN is_page THEN url END) AS urls,
    COUNT(DISTINCT CASE WHEN is_page THEN digest END) AS digests
  FROM flagged GROUP BY crawl
)
SELECT crawl, CAST(pages AS BIGINT) AS pages, CAST(urls AS BIGINT) AS urls,
  CAST(digests AS BIGINT) AS digests,
  CAST(FLOOR(1000 * (1.0 - urls / pages)) AS BIGINT) AS url_dup_permille,
  CAST(FLOOR(1000 * (1.0 - digests / pages)) AS BIGINT)
    AS content_dup_permille
FROM sz ORDER BY crawl
"""
    ),
    "domain_coverage": _oracle(
        """
, dc AS (
  SELECT crawl, domain, host, COUNT(*) AS pages, COUNT(DISTINCT url) AS urls
  FROM prows GROUP BY crawl, domain, host
),
dom AS (
  SELECT crawl, domain, SUM(pages) AS pages, SUM(urls) AS urls
  FROM dc GROUP BY crawl, domain
),
tot AS (SELECT crawl, SUM(pages) AS total_pages FROM dom GROUP BY crawl),
topk AS (
  SELECT * FROM (
    SELECT crawl, domain, pages,
      row_number() OVER (PARTITION BY crawl
                         ORDER BY pages DESC, urls DESC, domain DESC) AS rank,
      SUM(pages) OVER (PARTITION BY crawl
                       ORDER BY pages DESC, urls DESC, domain DESC
                       ROWS UNBOUNDED PRECEDING) AS cum_pages
    FROM dom
  ) WHERE rank <= 25
),
ranked AS (
  SELECT t.crawl, t.domain, t.rank, t.cum_pages, tt.total_pages
  FROM topk t JOIN tot tt ON t.crawl = tt.crawl
  UNION ALL
  SELECT j.crawl, '<other>' AS domain, j.k_rows + 1 AS rank,
         tt.total_pages AS cum_pages, tt.total_pages
  FROM (SELECT crawl, MAX(cum_pages) AS cum_topk, COUNT(*) AS k_rows
        FROM topk GROUP BY crawl) j
  JOIN tot tt ON j.crawl = tt.crawl
  WHERE tt.total_pages > j.cum_topk
)
SELECT crawl, domain, CAST(rank AS BIGINT) AS rank,
  CAST(cum_pages AS BIGINT) AS cum_pages,
  CAST(FLOOR(1000 * cum_pages / total_pages) AS BIGINT)
    AS cum_pages_permille
FROM ranked ORDER BY crawl, rank
"""
    ),
    # size_estimate: HLL sketch — intentionally no SQL oracle (rows-only)
}

# ---------------------------------------------------------------------------
# dimension VALUES for the DuckDB oracle — generated from the SAME vendored
# fact tables (dims_data.py) the Spark dims use, so both engines join against
# identical data by construction
# ---------------------------------------------------------------------------

from ..dims_data import (  # noqa: E402
    monthly_crawl_registry,
    tld_continent_rows,
    tld_type_rows,
)


def _values_rows(rows) -> str:
    return ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in rows
    )


def _sql_lit(v) -> str:
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


_TLD_TYPE_VALUES = (
    "dim(tld, tld_type) AS (VALUES " + _values_rows(tld_type_rows()) + ")"
)
_TLD_CONTINENT_VALUES = (
    "dim(tld, continent) AS (VALUES "
    + _values_rows(tld_continent_rows())
    + ")"
)
_REGISTRY_VALUES = (
    "registry(crawl, registry_id) AS (VALUES "
    + _values_rows(sorted(monthly_crawl_registry().items()))
    + ")"
)

from ..benchmarks_data import benchmark_tld_rows  # noqa: E402

_BENCHMARK_VALUES = (
    "bench(benchmark, tld, sites) AS (VALUES "
    + _values_rows(benchmark_tld_rows())
    + ")"
)

_MIME_CTE = f"""
mc AS (
  SELECT crawl, {_MIME_NORM.format(c="mime")} AS mimetype,
         COUNT(*) AS pages, COUNT(DISTINCT url) AS urls
  FROM prows GROUP BY crawl, mimetype
)
"""

_TLD_CTE = """
per_domain AS (
  SELECT crawl, tld, domain, COUNT(*) AS pages,
         COUNT(DISTINCT url) AS urls, COUNT(DISTINCT host) AS hosts
  FROM prows GROUP BY crawl, tld, domain
),
tc AS (
  SELECT crawl, tld, SUM(pages) AS pages, SUM(urls) AS urls,
         COUNT(*) AS domains
  FROM per_domain GROUP BY crawl, tld
)
"""

ORACLES.update(
    {
        "top_mime_other": _oracle(
            f""", {_MIME_CTE},
tot AS (
  SELECT mimetype, SUM(pages) AS tp, SUM(urls) AS tu
  FROM mc GROUP BY mimetype
),
keep AS (
  SELECT mimetype FROM (
    SELECT mimetype,
           row_number() OVER (ORDER BY tp DESC, tu DESC, mimetype DESC) AS r
    FROM tot
  ) WHERE r <= 3
),
tagged AS (
  SELECT crawl,
         CASE WHEN mimetype IN (SELECT mimetype FROM keep)
              THEN mimetype ELSE '<other>' END AS mimetype,
         pages, urls
  FROM mc
)
SELECT crawl, mimetype, CAST(SUM(pages) AS BIGINT) AS pages,
       CAST(SUM(urls) AS BIGINT) AS urls
FROM tagged GROUP BY crawl, mimetype ORDER BY crawl, mimetype
"""
        ),
        "mime_share": _oracle(
            f""", {_MIME_CTE}
SELECT crawl, mimetype, CAST(pages AS BIGINT) AS pages,
  CAST(FLOOR(1000 * pages / SUM(pages) OVER (PARTITION BY crawl)) AS BIGINT)
    AS share_permille
FROM mc ORDER BY crawl, mimetype
"""
        ),
        # S7 presentation pivot: fixture crawls are pinned (synth.py:34),
        # so the crawl columns are static conditional aggregates here while
        # the Spark side pivots relationally
        "mime_share_pivot": _oracle(
            f""", {_MIME_CTE},
mtot AS (SELECT crawl, SUM(pages) AS t FROM mc GROUP BY crawl),
mpct AS (
  SELECT mc.crawl, mc.mimetype,
         CAST(FLOOR(1000000 * mc.pages / mt.t) AS BIGINT) AS p
  FROM mc JOIN mtot mt ON mc.crawl = mt.crawl
)
SELECT mimetype,
  MAX(CASE WHEN crawl = 'CC-MAIN-2024-10' THEN p END) AS "CC-MAIN-2024-10",
  MAX(CASE WHEN crawl = 'CC-MAIN-2024-14' THEN p END) AS "CC-MAIN-2024-14",
  MAX(CASE WHEN crawl = 'CC-MAIN-2024-18' THEN p END) AS "CC-MAIN-2024-18"
FROM mpct GROUP BY mimetype ORDER BY mimetype
"""
        ),
        "pages_by_year": _oracle(
            """
, sz AS (
  SELECT crawl, COUNT(*) AS fetches,
         SUM(CASE WHEN is_page THEN 1 ELSE 0 END) AS pages
  FROM flagged GROUP BY crawl
)
SELECT CAST(substring(crawl, 9, 4) AS INT) AS year,
       CAST(SUM(fetches) AS BIGINT) AS fetches,
       CAST(SUM(pages) AS BIGINT) AS pages
FROM sz GROUP BY 1 ORDER BY 1
"""
        ),
        "spearman_tld": _oracle(
            f""", {_TLD_CTE},
ranked AS (
  SELECT crawl,
    row_number() OVER (PARTITION BY crawl ORDER BY pages DESC, tld) AS ra,
    row_number() OVER (PARTITION BY crawl ORDER BY urls DESC, tld) AS rb
  FROM tc
)
SELECT crawl, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(FLOOR(1000 - 6000 * CAST(SUM((ra-rb)*(ra-rb)) AS BIGINT)
             / (COUNT(*) * (COUNT(*) * COUNT(*) - 1))) AS BIGINT)
    AS spearman_x1000
FROM ranked GROUP BY crawl HAVING COUNT(*) >= 2 ORDER BY crawl
"""
        ),

        "trailing_3": _oracle(
            """
, sz AS (
  SELECT crawl,
    SUM(CASE WHEN is_page THEN 1 ELSE 0 END) AS pages,
    COUNT(DISTINCT CASE WHEN is_page THEN url END) AS urls
  FROM flagged GROUP BY crawl
)
SELECT crawl,
  CASE WHEN COUNT(*) OVER w >= 3
       THEN CAST(SUM(pages) OVER w AS BIGINT) ELSE 0 END AS pages_last_3,
  CASE WHEN COUNT(*) OVER w >= 3
       THEN CAST(SUM(urls) OVER w AS BIGINT) ELSE 0 END AS urls_last_3
FROM sz
WINDOW w AS (ORDER BY crawl ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY crawl
"""
        ),
        "trailing_2": _oracle(
            """
, sz AS (
  SELECT crawl,
    SUM(CASE WHEN is_page THEN 1 ELSE 0 END) AS pages,
    COUNT(DISTINCT CASE WHEN is_page THEN url END) AS urls
  FROM flagged GROUP BY crawl
)
SELECT crawl,
  CASE WHEN COUNT(*) OVER w >= 2
       THEN CAST(SUM(pages) OVER w AS BIGINT) ELSE 0 END AS pages_last_2,
  CASE WHEN COUNT(*) OVER w >= 2
       THEN CAST(SUM(urls) OVER w AS BIGINT) ELSE 0 END AS urls_last_2
FROM sz
WINDOW w AS (ORDER BY crawl ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
ORDER BY crawl
"""
        ),
        "host_pages_histogram": _plog_oracle(
            "SELECT crawl, host, COUNT(*) AS v FROM prows GROUP BY crawl, host"
        ),
        "domain_pages_histogram": _plog_oracle(
            "SELECT crawl, domain, COUNT(*) AS v FROM prows "
            "GROUP BY crawl, domain"
        ),
        "host_urls_histogram": _plog_oracle(
            "SELECT crawl, host, COUNT(DISTINCT url) AS v FROM prows "
            "GROUP BY crawl, host"
        ),
        "histogram_matrix": _histogram_matrix_oracle(),
        "trailing_6": _oracle(
            """
, wide AS (
  SELECT 'W' || lpad(CAST(doc_id % 12 AS STRING), 2, '0') AS crawl, url
  FROM prows
),
sz AS (
  SELECT crawl, COUNT(*) AS pages, COUNT(DISTINCT url) AS urls
  FROM wide GROUP BY crawl
)
SELECT crawl,
  CASE WHEN COUNT(*) OVER w >= 6
       THEN CAST(SUM(pages) OVER w AS BIGINT) ELSE 0 END AS pages_last_6,
  CASE WHEN COUNT(*) OVER w >= 6
       THEN CAST(SUM(urls) OVER w AS BIGINT) ELSE 0 END AS urls_last_6
FROM sz
WINDOW w AS (ORDER BY crawl ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
ORDER BY crawl
"""
        ),
        "tld_classified_idn": _idn_oracle(),
        "digest_dup_histogram": _oracle(
            """
, pd AS (
  SELECT crawl, digest, COUNT(*) AS n_fetches
  FROM prows GROUP BY crawl, digest
)
SELECT crawl, CAST(n_fetches AS BIGINT) AS n_fetches,
       CAST(COUNT(*) AS BIGINT) AS n_digests
FROM pd GROUP BY crawl, n_fetches ORDER BY crawl, n_fetches
"""
        ),
        "large_surt_domains": _oracle(
            """
, sc AS (
  SELECT crawl, surt_domain,
    CAST(COUNT(*) AS BIGINT) AS pages,
    CAST(COUNT(DISTINCT url) AS BIGINT) AS urls,
    CAST(COUNT(DISTINCT host) AS BIGINT) AS hosts
  FROM prows GROUP BY crawl, surt_domain
)
SELECT * FROM sc WHERE urls >= 4 ORDER BY crawl, surt_domain
"""
        ),
        "url_status": _oracle(
            """
, per_url AS (
  SELECT crawl, crawl_id, url, COUNT(*) AS cnt
  FROM prows GROUP BY crawl, crawl_id, url
),
first AS (SELECT url, MIN(crawl_id) AS f FROM per_url GROUP BY url),
wide AS (
  SELECT crawl,
    SUM(CASE WHEN crawl_id = f THEN 1 ELSE 0 END) AS new,
    SUM(CASE WHEN crawl_id > f THEN 1 ELSE 0 END) AS revisit,
    SUM(cnt) - COUNT(*) AS duplicate
  FROM per_url JOIN first USING (url) GROUP BY crawl
)
SELECT crawl, url_status, n FROM (
  SELECT crawl, 'new' AS url_status, CAST(new AS BIGINT) AS n FROM wide
  UNION ALL
  SELECT crawl, 'revisit', CAST(revisit AS BIGINT) FROM wide
  UNION ALL
  SELECT crawl, 'duplicate', CAST(duplicate AS BIGINT) FROM wide
) ORDER BY crawl, url_status
"""
        ),
        "charset_top_unknown": _oracle(
            """
, cc AS (
  SELECT crawl, charset, COUNT(*) AS pages, COUNT(DISTINCT url) AS urls
  FROM prows WHERE charset IS NOT NULL GROUP BY crawl, charset
),
tot AS (SELECT charset, SUM(pages) AS tp, SUM(urls) AS tu FROM cc GROUP BY charset),
keep AS (
  SELECT charset FROM (
    SELECT charset,
           row_number() OVER (ORDER BY tp DESC, tu DESC, charset DESC) AS r
    FROM tot
  ) WHERE r <= 1
),
tagged AS (
  SELECT crawl,
         CASE WHEN charset IN (SELECT charset FROM keep)
              THEN charset ELSE '<other>' END AS charset,
         pages, urls
  FROM cc
),
known AS (
  SELECT crawl, charset, CAST(SUM(pages) AS BIGINT) AS pages,
         CAST(SUM(urls) AS BIGINT) AS urls
  FROM tagged GROUP BY crawl, charset
),
totals AS (
  SELECT crawl, SUM(CASE WHEN is_page THEN 1 ELSE 0 END) AS page_total
  FROM flagged GROUP BY crawl
),
covered AS (SELECT crawl, SUM(pages) AS covered FROM known GROUP BY crawl)
SELECT crawl, charset, pages, urls FROM known
UNION ALL
SELECT t.crawl, '<unknown>' AS charset,
       CAST(t.page_total - c.covered AS BIGINT) AS pages,
       CAST(0 AS BIGINT) AS urls
FROM totals t JOIN covered c USING (crawl)
WHERE t.page_total - c.covered > 0
ORDER BY crawl, charset
"""
        ),
        "crawler_metrics_roundtrip": _oracle(
            """
, nr AS (SELECT * FROM flagged WHERE NOT is_robotstxt),
cs AS (
  SELECT crawl,
    CASE WHEN status = 200 THEN 'fetcher:success'
         WHEN status = 301 THEN 'fetcher:temp_moved'
         WHEN status = 404 THEN 'fetcher:notfound'
         ELSE 'fetcher:exception' END AS item_type,
    CAST(COUNT(*) AS BIGINT) AS value
  FROM nr GROUP BY 1, 2
),
sz AS (
  SELECT crawl, 'page' AS item_type, CAST(COUNT(*) AS BIGINT) AS value
  FROM prows GROUP BY crawl
  UNION ALL
  SELECT crawl, 'url', CAST(COUNT(DISTINCT url) AS BIGINT)
  FROM prows GROUP BY crawl
),
sch AS (
  SELECT crawl, 'scheme:' || scheme AS item_type,
         CAST(COUNT(DISTINCT url) AS BIGINT) AS value
  FROM prows GROUP BY crawl, scheme
),
base AS (
  SELECT * FROM cs UNION ALL SELECT * FROM sz UNION ALL SELECT * FROM sch
),
roll AS (
  SELECT crawl, 'fetcher:aggr:redirect' AS item_type,
         CAST(SUM(value) AS BIGINT) AS value
  FROM base WHERE item_type = 'fetcher:temp_moved' GROUP BY crawl
  UNION ALL
  SELECT crawl, 'fetcher:aggr:failed', CAST(SUM(value) AS BIGINT)
  FROM base WHERE item_type IN ('fetcher:notfound', 'fetcher:exception')
  GROUP BY crawl
),
allr AS (SELECT * FROM base UNION ALL SELECT * FROM roll)
SELECT crawl, item_type, value,
  CASE item_type
    WHEN 'page' THEN 'pages released'
    WHEN 'url' THEN 'url'
    WHEN 'fetcher:success' THEN 'fetch success'
    WHEN 'fetcher:temp_moved' THEN 'fetch temp moved'
    WHEN 'fetcher:notfound' THEN 'fetch notfound'
    WHEN 'fetcher:exception' THEN 'fetch exception'
    WHEN 'fetcher:aggr:redirect' THEN 'fetch redirect'
    WHEN 'fetcher:aggr:failed' THEN 'fetch failed'
    WHEN 'scheme:http' THEN 'scheme http'
    WHEN 'scheme:https' THEN 'scheme https'
  END AS title
FROM allr ORDER BY crawl, item_type
"""
        ),
        "warc_roundtrip": _oracle(
            """
SELECT status, mime,
  CAST(COUNT(*) AS BIGINT) AS n_records,
  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_urls,
  CAST(SUM(length('<!doctype html><title>' || url || '</title><p>'
            || digest || '</p>')) AS BIGINT) AS payload_chars
FROM pages GROUP BY status, mime ORDER BY status, mime
"""
        ),
        "wet_roundtrip": _oracle(
            """
SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_urls,
  CAST(SUM(length(url || digest)) AS BIGINT) AS text_chars,
  CAST(COUNT(*) AS BIGINT) AS n_conversion
FROM pages
"""
        ),
        "wat_links": _wat_links_oracle(),
        # the oracle rebuilds the WARC record string itself (same concat
        # pieces as sources/warc.py:warc_record_expr) and re-derives the
        # per-file (offset, length) layout from scratch
        "warc_cdx_index": _oracle(
            """
, rec AS (
  SELECT warc_filename, fetch_ts, url,
    strlen(
      'WARC/1.0' || chr(13) || chr(10)
      || 'WARC-Type: response' || chr(13) || chr(10)
      || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
      || 'WARC-Record-ID: <urn:uuid:'
      || md5(url || CAST(fetch_ts AS STRING)) || '>' || chr(13) || chr(10)
      || 'WARC-Filename: ' || warc_filename || chr(13) || chr(10)
      || 'Content-Type: application/http; msgtype=response'
      || chr(13) || chr(10)
      || 'Content-Length: ' || CAST(length(hb) AS STRING)
      || chr(13) || chr(10) || chr(13) || chr(10)
      || hb || chr(13) || chr(10)
    ) + 1 AS rec_len
  FROM (
    SELECT *,
      'HTTP/1.1 ' || CAST(status AS STRING) || ' -' || chr(13) || chr(10)
      || 'Content-Type: ' || mime
      || chr(13) || chr(10) || chr(13) || chr(10)
      || '<!doctype html><title>' || url || '</title><p>' || digest
      || '</p>' AS hb
    FROM pages
  )
),
idx AS (
  SELECT warc_filename, rec_len,
    COALESCE(SUM(rec_len) OVER (
      PARTITION BY warc_filename ORDER BY fetch_ts, url
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM rec
)
SELECT warc_filename,
  CAST(COUNT(*) AS BIGINT) AS n_records,
  CAST(SUM(rec_len) AS BIGINT) AS file_bytes,
  CAST(SUM(off) AS BIGINT) AS offset_sum,
  CAST(MAX(off + rec_len) AS BIGINT) AS end_of_file
FROM idx GROUP BY warc_filename ORDER BY warc_filename
"""
        ),
        "warc_revisit": _oracle(
            """
, rv AS (
  SELECT crawl, digest, url, fetch_ts,
    ROW_NUMBER() OVER (
      PARTITION BY crawl, digest ORDER BY fetch_ts, url) AS rn,
    FIRST_VALUE(url) OVER (
      PARTITION BY crawl, digest ORDER BY fetch_ts, url) AS furl,
    FIRST_VALUE(fetch_ts) OVER (
      PARTITION BY crawl, digest ORDER BY fetch_ts, url) AS fts
  FROM pages
)
SELECT crawl,
  CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END AS warc_type,
  CAST(COUNT(*) AS BIGINT) AS n_records,
  CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_digests,
  CAST(COALESCE(SUM(CASE WHEN rn = 1 THEN 0 ELSE length(furl) END), 0)
       AS BIGINT) AS refers_chars,
  CAST(COALESCE(SUM(CASE WHEN rn = 1 THEN 0 ELSE fts END), 0)
       AS BIGINT) AS refers_ts_sum
FROM rv GROUP BY crawl, warc_type ORDER BY crawl, warc_type
"""
        ),
        "host_churn": _churn_oracle(
            "host", "n_hosts", "hosts_gained", "hosts_retained", "hosts_lost"
        ),
        "url_churn": _churn_oracle(
            "url", "n_items", "n_gained", "n_retained", "n_lost"
        ),
        "digest_churn": _churn_oracle(
            "digest", "n_items", "n_gained", "n_retained", "n_lost"
        ),
        "mime_matrix": _oracle(
            f"""
, m AS (
  SELECT crawl, {_MIME_NORM.format(c="mime")} AS mimetype,
         {_MIME_NORM.format(c="mime_detected")} AS mimetype_detected, url
  FROM prows
),
per_url AS (
  SELECT crawl, mimetype, mimetype_detected, url, COUNT(*) AS cnt
  FROM m GROUP BY crawl, mimetype, mimetype_detected, url
)
SELECT crawl, mimetype, mimetype_detected,
  CAST(SUM(cnt) AS BIGINT) AS pages,
  CAST(COUNT(*) AS BIGINT) AS urls,
  (mimetype IS NOT DISTINCT FROM mimetype_detected) AS agree
FROM per_url GROUP BY crawl, mimetype, mimetype_detected
ORDER BY crawl, mimetype, mimetype_detected
"""
        ),
        "cdx_roundtrip": _oracle(
            """
SELECT scheme, tld, status,
  CAST(COUNT(*) AS BIGINT) AS fetches,
  CAST(COUNT(DISTINCT url) AS BIGINT) AS urls,
  CAST(COUNT(DISTINCT domain) AS BIGINT) AS domains,
  CAST(COUNT(DISTINCT surt_domain) AS BIGINT) AS surt_domains
FROM flagged GROUP BY scheme, tld, status ORDER BY scheme, tld, status
"""
        ),
        "cdx_zipnum_roundtrip": _oracle(
            """
SELECT scheme, tld, status, mime,
  CAST(COUNT(*) AS BIGINT) AS fetches,
  CAST(COUNT(DISTINCT url) AS BIGINT) AS urls,
  CAST(COUNT(DISTINCT digest) AS BIGINT) AS digests
FROM flagged GROUP BY scheme, tld, status, mime
ORDER BY scheme, tld, status, mime
"""
        ),
        "stats_wire_roundtrip": _oracle(
            """
SELECT 'host' AS type, host AS key, crawl,
  CAST(COUNT(*) AS BIGINT) AS pages,
  CAST(COUNT(DISTINCT url) AS BIGINT) AS urls
FROM prows GROUP BY host, crawl ORDER BY type, key, crawl
"""
        ),
        "frequent_hosts": _oracle(
            """
, hc AS (
  SELECT crawl, host, CAST(COUNT(*) AS BIGINT) AS pages,
         CAST(COUNT(DISTINCT url) AS BIGINT) AS urls
  FROM prows GROUP BY crawl, host
)
SELECT * FROM hc WHERE urls >= 3 ORDER BY crawl, host
"""
        ),
        "languages_floor": _oracle(
            """
, lc AS (
  SELECT crawl, languages, CAST(COUNT(*) AS BIGINT) AS pages,
         CAST(COUNT(DISTINCT url) AS BIGINT) AS urls
  FROM prows GROUP BY crawl, languages
)
SELECT * FROM lc
WHERE pages >= 5 OR languages NOT LIKE '%,%'
ORDER BY crawl, languages
"""
        ),
        "spearman_benchmark": _oracle(
            f""", {_TLD_CTE},
{_BENCHMARK_VALUES},
joined AS (
  SELECT tc.crawl, b.benchmark, tc.tld, tc.pages, b.sites
  FROM tc JOIN bench b USING (tld)
),
ranked AS (
  SELECT crawl, benchmark,
    row_number() OVER (PARTITION BY crawl, benchmark
                       ORDER BY pages DESC, tld) AS ra,
    row_number() OVER (PARTITION BY crawl, benchmark
                       ORDER BY sites DESC, tld) AS rb
  FROM joined
)
SELECT crawl, benchmark, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(FLOOR(1000 - 6000 * CAST(SUM((ra-rb)*(ra-rb)) AS BIGINT)
             / (COUNT(*) * (COUNT(*) * COUNT(*) - 1))) AS BIGINT)
    AS spearman_x1000
FROM ranked GROUP BY crawl, benchmark HAVING COUNT(*) >= 2
ORDER BY crawl, benchmark
"""
        ),
        "url_parse_parity": _oracle(
            """
SELECT crawl,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(COUNT(*) AS BIGINT) AS n_host_jvm_ok,
  CAST(COUNT(*) AS BIGINT) AS n_host_py_ok,
  CAST(COUNT(*) AS BIGINT) AS n_scheme_ok,
  CAST(COUNT(*) AS BIGINT) AS n_domain_ok,
  CAST(COUNT(*) AS BIGINT) AS n_tld_ok
FROM flagged GROUP BY crawl ORDER BY crawl
"""
        ),
        "surt_parity": _oracle(
            """
SELECT crawl,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(COUNT(*) AS BIGINT) AS n_surt_ok
FROM flagged GROUP BY crawl ORDER BY crawl
"""
        ),
        "crawl_registry_lookup": _oracle(
            f""", {_REGISTRY_VALUES}
SELECT p.crawl,
  CAST(COALESCE(MAX(r.registry_id), -1) AS BIGINT) AS registry_id,
  CAST(COUNT(*) AS BIGINT) AS pages
FROM prows p LEFT JOIN registry r ON p.crawl = r.crawl
GROUP BY p.crawl ORDER BY p.crawl
"""
        ),
        "cc_pages_extract": _oracle(
            """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(COUNT(*) AS BIGINT) AS n_extract_ok
FROM (
  SELECT string_split(p.languages, ',')[1] AS lang
  FROM pages p JOIN documents d ON p.doc_id = d.doc_id
)
GROUP BY lang ORDER BY lang
"""
        ),
        "tld_continent": _oracle(
            f""", {_TLD_CTE},
{_TLD_CONTINENT_VALUES}
SELECT crawl, COALESCE(d.continent, '(other)') AS continent,
  CAST(SUM(pages) AS BIGINT) AS pages,
  CAST(SUM(urls) AS BIGINT) AS urls,
  CAST(SUM(domains) AS BIGINT) AS domains
FROM tc LEFT JOIN dim d USING (tld)
GROUP BY crawl, continent ORDER BY crawl, continent
"""
        ),
        "tld_classified": _oracle(
            f""", {_TLD_CTE},
{_TLD_TYPE_VALUES}
SELECT crawl, COALESCE(d.tld_type, '-') AS tld_type,
  CAST(SUM(pages) AS BIGINT) AS pages,
  CAST(SUM(urls) AS BIGINT) AS urls,
  CAST(SUM(domains) AS BIGINT) AS domains
FROM tc LEFT JOIN dim d USING (tld)
GROUP BY crawl, tld_type ORDER BY crawl, tld_type
"""
        ),
    }
)

# merge in the training-data-pipeline registry (dedup / similarity / text /
# multimodal / events / frontier)
from .pipeline_queries import PIPELINE_ORACLES, PIPELINE_QUERIES  # noqa: E402

QUERIES.update(PIPELINE_QUERIES)
ORACLES.update(PIPELINE_ORACLES)


# ---------------------------------------------------------------------------
# crawl-over-crawl distribution drift (timeseries.distribution_drift)
# ---------------------------------------------------------------------------


def q_mime_drift(spark: SparkSession, sf: str) -> DataFrame:
    """TVD(ppm) + key churn between consecutive crawls' MIME-share
    distributions (timeseries.distribution_drift over mimetype_counts)."""
    return TS.distribution_drift(
        C.mimetype_counts(pages_df(spark, sf)), "mimetype"
    )


def q_language_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Same drift summary over the primary-language distribution."""
    return TS.distribution_drift(
        C.primary_language_counts(pages_df(spark, sf)), "primary_language"
    )


def _drift_oracle(expr: str) -> str:
    """DuckDB mirror of timeseries.distribution_drift: integer-ppm shares
    ((1e6*pages) // total), consecutive-pair skeleton over the crawl
    dimension, TVD = sum(|Δppm|) // 2, deterministic min-key tiebreak for
    the largest mover."""
    return _oracle(
        f"""
, c AS (
  SELECT crawl, {expr} AS k, CAST(COUNT(*) AS BIGINT) AS pages
  FROM prows GROUP BY crawl, k
),
t AS (SELECT crawl, SUM(pages) AS total FROM c GROUP BY crawl),
shares AS (
  SELECT c.crawl, c.k, CAST((1000000 * c.pages) // t.total AS BIGINT) AS ppm
  FROM c JOIN t USING (crawl)
),
cr AS (
  SELECT crawl, ROW_NUMBER() OVER (ORDER BY crawl) - 1 AS idx
  FROM (SELECT DISTINCT crawl FROM c)
),
pairs AS (
  SELECT a.crawl AS crawl_prev, b.crawl AS crawl, a.idx AS p
  FROM cr a JOIN cr b ON b.idx = a.idx + 1
),
s AS (SELECT cr.idx, shares.k, shares.ppm FROM shares JOIN cr USING (crawl)),
contrib AS (
  SELECT p.crawl_prev, p.crawl, s.k,
         s.ppm AS prev_ppm, 0 AS curr_ppm,
         1 AS prev_present, 0 AS curr_present
  FROM s JOIN pairs p ON s.idx = p.p
  UNION ALL
  SELECT p.crawl_prev, p.crawl, s.k,
         0, s.ppm, 0, 1
  FROM s JOIN pairs p ON s.idx = p.p + 1
),
merged AS (
  SELECT crawl_prev, crawl, k,
         SUM(prev_ppm) AS prev_ppm, SUM(curr_ppm) AS curr_ppm,
         SUM(prev_present) AS prev_present,
         SUM(curr_present) AS curr_present
  FROM contrib GROUP BY crawl_prev, crawl, k
),
keyed AS (
  SELECT *, ABS(curr_ppm - prev_ppm) AS abs_shift,
         MAX(ABS(curr_ppm - prev_ppm))
           OVER (PARTITION BY crawl_prev, crawl) AS max_abs
  FROM merged
)
SELECT crawl_prev, crawl,
  CAST(SUM(prev_present) AS BIGINT) AS keys_prev,
  CAST(SUM(curr_present) AS BIGINT) AS keys_curr,
  CAST(SUM(CASE WHEN curr_present = 1 AND prev_present = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS new_keys,
  CAST(SUM(CASE WHEN prev_present = 1 AND curr_present = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS dropped_keys,
  CAST(SUM(abs_shift) // 2 AS BIGINT) AS tvd_ppm,
  CAST(MAX(abs_shift) AS BIGINT) AS max_shift_ppm,
  MIN(CASE WHEN abs_shift = max_abs THEN k END) AS max_shift_key
FROM keyed GROUP BY crawl_prev, crawl ORDER BY crawl_prev
"""
    )


QUERIES["mime_drift"] = q_mime_drift
QUERIES["language_drift"] = q_language_drift
ORACLES["mime_drift"] = _drift_oracle(_MIME_NORM.format(c="mime"))
ORACLES["language_drift"] = _drift_oracle("string_split(languages, ',')[1]")


def q_top_hosts_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """A18 sketch mode: heavy hitters over the host dimension
    (operators/sketches.py) — each input partition's top-k hosts by exact
    local count, merged with exact integer bounds; the counterpart of the
    exact top_hosts shuffle whose merge and rank stay k × partitions-sized.
    Rows-only: the estimates depend on input partitioning (not on row
    order), so the evidence is tests/test_sketches.py's exact integer
    bounds + presence guarantee, not a SQL oracle."""
    from ..operators.sketches import heavy_hitters

    from ..operators.counts import page_rows

    return heavy_hitters(
        page_rows(pages_df(spark, sf)), "host", k=1024, top=100
    )


QUERIES["top_hosts_sketch"] = q_top_hosts_sketch


def q_crawl_overlap_kmv(spark: SparkSession, sf: str) -> DataFrame:
    """W7, KMV flavor (operators/sketches.py:crawl_overlap_kmv): direct
    bottom-k estimators for intersection / Jaccard / containment AND the
    asymmetric differences (only1/only2 = the new-items estimate) that
    HLL inclusion–exclusion cannot condition well — error ~1/√k per pair
    regardless of |A∩B|/|A∪B|. Rows-only: xxhash64 bottom-k sets are not
    reproducible in DuckDB SQL; evidence is tests/test_sketches.py's
    merge-identity, degenerate-exactness, partition-invariance and
    error-bound pins."""
    from ..operators.sketches import crawl_overlap_kmv

    return crawl_overlap_kmv(pages_df(spark, sf), k=256)


QUERIES["crawl_overlap_kmv"] = q_crawl_overlap_kmv


# ---------------------------------------------------------------------------
# portable-hash sketch verification (VERDICT r3 #5): the same CMS / KMV /
# MinHash / SimHash / HLL-register constructions driven by the
# cross-engine hash (functions/porthash), each with an EXACT DuckDB
# oracle — upgrading the sketch class from rows-only to hash-match. The
# per-seed oracle arms are generated from the shared constants, like the
# unrolled iterative-graph oracles.
# ---------------------------------------------------------------------------

from ..functions.porthash import (  # noqa: E402
    P as _PORT_P,
    porthash,
    porthash_seeded,
    porthash_seeded_sql,
    porthash_sql,
)
from ..operators import sketches as SK  # noqa: E402

_CMS_W = 64  # small width forces collisions, so est>true rows are exercised


def q_cms_host_freq_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min point frequencies of per-host fetch counts, portable
    hash: the production cms_build/cms_lookup pair (sketches.py) with
    depth=4, width=64 over the page rows' hosts."""
    prows = C.page_rows(pages_df(spark, sf))
    sk = SK.cms_build(
        prows, "host", depth=4, width=_CMS_W, hash_fn=porthash_seeded
    )
    probes = prows.select("host").distinct()
    return SK.cms_lookup(
        sk, probes, "host", depth=4, width=_CMS_W, hash_fn=porthash_seeded
    )


QUERIES["cms_host_freq_exact"] = q_cms_host_freq_exact

_KMV_K = 64


def q_kmv_overlap_exact(spark: SparkSession, sf: str) -> DataFrame:
    """KMV bottom-k crawl-overlap estimates, portable hash + integer
    domain: every output column (union/intersection/difference
    estimates, jaccard/containment permille) is exact BIGINT arithmetic
    over the k smallest hash values — the sketch pipeline end to end."""
    return SK.kmv_overlap(
        SK.kmv_sketch(
            C.page_rows(pages_df(spark, sf)),
            item_col="url",
            k=_KMV_K,
            hash_fn=porthash,
        ),
        k=_KMV_K,
        domain=_PORT_P,
    )


QUERIES["kmv_overlap_exact"] = q_kmv_overlap_exact


def q_minhash_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document 8-row MinHash signatures over distinct whitespace
    tokens, portable hash (sketches.minhash_signatures_portable)."""
    return SK.minhash_signatures_portable(
        load_table(spark, sf, "documents"), n_hashes=8
    )


QUERIES["minhash_exact"] = q_minhash_exact


def q_simhash_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document 30-bit SimHash signatures, portable hash
    (sketches.simhash_portable)."""
    return SK.simhash_portable(load_table(spark, sf, "documents"))


QUERIES["simhash_exact"] = q_simhash_exact


def q_hll_registers_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Per-crawl HLL register tables (bucket → max rho) over page URLs,
    portable hash (sketches.hll_registers_portable) — the integer half
    of the HLL distinct estimator, exactly verified."""
    return SK.hll_registers_portable(
        C.page_rows(pages_df(spark, sf)), n_buckets=64
    )


QUERIES["hll_registers_exact"] = q_hll_registers_exact


def q_lsh_pairs_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Banded-LSH candidate pairs (8 hashes × 2-row bands) over portable
    MinHash signatures (sketches.lsh_band_pairs_portable) — verifies the
    band→bucket→pair machinery of the production MinHash+LSH dedup."""
    return SK.lsh_band_pairs_portable(load_table(spark, sf, "documents"))


QUERIES["lsh_pairs_exact"] = q_lsh_pairs_exact


def q_fingerprint_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (k-gram → window-min → distinct →
    XOR rollup), portable hash (textstats.fingerprint_portable)."""
    from ..operators.textstats import fingerprint_portable

    return fingerprint_portable(load_table(spark, sf, "documents"))


QUERIES["fingerprint_exact"] = q_fingerprint_exact


def _porthash_tok_cte(src: str) -> str:
    """Distinct (doc_id, tok) pairs of a documents-like relation."""
    return (
        f"toks AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, "
        f"unnest(string_split(text, ' ')) AS tok FROM {src}) "
        "WHERE tok <> '')"
    )


_CMS_ARMS = "\nUNION ALL\n".join(
    f"SELECT host, w, {i} AS seed, "
    f"({porthash_seeded_sql('host', i)}) % {_CMS_W} AS bucket FROM hosts"
    for i in range(4)
)

_MINHASH_ARMS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {i} AS seed, "
    f"({porthash_seeded_sql('tok', i)}) AS h FROM toks"
    for i in range(8)
)

ORACLES.update(
    {
        "cms_host_freq_exact": _oracle(
            f"""
, hosts AS (
  SELECT host, CAST(COUNT(*) AS BIGINT) AS w FROM prows GROUP BY host
),
hcells AS ({_CMS_ARMS}),
cellsum AS (
  SELECT seed, bucket, CAST(SUM(w) AS BIGINT) AS weight
  FROM hcells GROUP BY seed, bucket
)
SELECT h.host AS key, CAST(MIN(c.weight) AS BIGINT) AS est
FROM hcells h JOIN cellsum c USING (seed, bucket)
GROUP BY h.host ORDER BY est DESC, key
"""
        ),
        "kmv_overlap_exact": _oracle(
            f"""
, items AS (
  SELECT DISTINCT crawl, ({porthash_sql('url')}) AS h FROM prows
),
rk AS (
  SELECT crawl, h,
         row_number() OVER (PARTITION BY crawl ORDER BY h) AS r
  FROM items
),
sk AS (SELECT crawl, h FROM rk WHERE r <= {_KMV_K}),
pair AS (
  SELECT a.crawl AS c1, b.crawl AS c2
  FROM (SELECT DISTINCT crawl FROM sk) a,
       (SELECT DISTINCT crawl FROM sk) b
  WHERE a.crawl < b.crawl
),
md AS (
  SELECT DISTINCT p.c1, p.c2, s.h
  FROM pair p JOIN sk s ON s.crawl IN (p.c1, p.c2)
),
mr AS (
  SELECT c1, c2, h,
         row_number() OVER (PARTITION BY c1, c2 ORDER BY h) AS r
  FROM md
),
m AS (SELECT c1, c2, h FROM mr WHERE r <= {_KMV_K}),
flags AS (
  SELECT m.c1, m.c2, m.h,
         CASE WHEN s1.h IS NOT NULL THEN 1 ELSE 0 END AS i1,
         CASE WHEN s2.h IS NOT NULL THEN 1 ELSE 0 END AS i2
  FROM m
  LEFT JOIN sk s1 ON s1.crawl = m.c1 AND s1.h = m.h
  LEFT JOIN sk s2 ON s2.crawl = m.c2 AND s2.h = m.h
),
agg AS (
  SELECT c1, c2, COUNT(*) AS m_sz, MAX(h) AS kth,
         SUM(i1 * i2) AS nboth, SUM(i1) AS in1, SUM(i2) AS in2
  FROM flags GROUP BY c1, c2
),
est AS (
  SELECT *, CASE WHEN m_sz < {_KMV_K} THEN m_sz
                 ELSE (CAST({_KMV_K - 1} AS BIGINT) * {_PORT_P}) // kth
            END AS uni
  FROM agg
)
SELECT c1, c2, CAST(uni AS BIGINT) AS uni_est,
  CAST((nboth * uni) // m_sz AS BIGINT) AS inter_est,
  CAST(((in1 - nboth) * uni) // m_sz AS BIGINT) AS only1_est,
  CAST(((in2 - nboth) * uni) // m_sz AS BIGINT) AS only2_est,
  CAST((1000 * nboth) // m_sz AS BIGINT) AS jaccard_permille,
  CAST((1000 * nboth) // GREATEST(in2, 1) AS BIGINT)
    AS containment_permille
FROM est ORDER BY c1, c2
"""
        ),
        "minhash_exact": f"""
WITH {_porthash_tok_cte('documents')},
arms AS ({_MINHASH_ARMS})
SELECT doc_id, CAST(seed AS BIGINT) AS seed,
       CAST(MIN(h) AS BIGINT) AS minhash
FROM arms GROUP BY doc_id, seed ORDER BY doc_id, seed
""",
        "simhash_exact": f"""
WITH {_porthash_tok_cte('documents')},
th AS (SELECT doc_id, ({porthash_sql('tok')}) AS h FROM toks),
votes AS (
  SELECT doc_id, j, SUM(((h >> j) & 1) * 2 - 1) AS v
  FROM th, generate_series(0, 29) AS g(j)
  GROUP BY doc_id, j
)
SELECT doc_id,
  CAST(SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << j)
            ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id ORDER BY doc_id
""",
        "lsh_pairs_exact": f"""
WITH {_porthash_tok_cte('documents')},
arms AS ({_MINHASH_ARMS}),
sig AS (SELECT doc_id, seed, MIN(h) AS mh FROM arms GROUP BY doc_id, seed),
band AS (
  SELECT doc_id, seed // 2 AS band,
         (MAX(CASE WHEN seed % 2 = 0 THEN mh END) * 31
          + MAX(CASE WHEN seed % 2 = 1 THEN mh END)) % {_PORT_P}
           AS band_key
  FROM sig GROUP BY doc_id, seed // 2
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_bands
FROM band a
JOIN band b ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY doc_a, doc_b
""",
        "fingerprint_exact": f"""
WITH words AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
),
ks AS (
  SELECT doc_id, w, unnest(range(0, len(w) - 4)) AS i
  FROM words WHERE len(w) >= 5
),
kg AS (
  SELECT doc_id, i,
         ({porthash_sql("array_to_string(w[i+1:i+5], ' ')")}) AS h
  FROM ks
),
mins AS (
  SELECT doc_id, i,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM kg
),
sel AS (SELECT DISTINCT doc_id, m FROM mins WHERE i <= n - 4),
agg AS (
  SELECT doc_id, COUNT(*) AS n_fp, bit_xor(m) AS x
  FROM sel GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(a.n_fp, 0) AS BIGINT) AS n_fingerprints,
  CAST(COALESCE(a.x, 0) AS BIGINT) AS fingerprint64
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
""",
        "hll_registers_exact": _oracle(
            f"""
, hh AS (SELECT crawl, ({porthash_sql('url')}) AS h FROM prows),
reg AS (
  SELECT crawl, h % 64 AS bucket, h // 64 AS v FROM hh
)
SELECT crawl, CAST(bucket AS BIGINT) AS bucket,
  CAST(MAX(CASE WHEN v = 0 THEN 25
            ELSE 25 - LENGTH(bin(v)) END) AS BIGINT) AS max_rho
FROM reg GROUP BY crawl, bucket ORDER BY crawl, bucket
"""
        ),
    }
)

# ---------------------------------------------------------------------------
# registry ordering: the driver's CORRECTNESS gate records the FIRST 50
# entries in insertion order, so the 50 most coverage-distinctive
# oracle-paired queries lead (one per operator family, incl. every
# LLM-pipeline operator and the frontier); redundant variants of
# already-covered operators and the sketch (rows-only) flavors follow.
# EVERY oracle pair — leading or trailing — is exactness-verified by
# tests/test_oracle_parity.py regardless of position.
# ---------------------------------------------------------------------------

# ROUND-5 WINDOW ROTATION (VERDICT r4 "Next round" #1): rounds 1-4
# drove 125 distinct queries through the driver's sf0.01 oracle gate,
# all green, leaving 51 oracle pairs suite-verified only. This final
# window takes 48 of those never-driver-verified pairs — ALL of them
# except three same-shape family duplicates (nb_agreement next to
# nb_weights/nb_classify; language_drift next to mime_drift;
# host_degree_histogram next to host_degrees + r4's histogram_matrix)
# — plus 2 SENTINELS: the flagship entry() scan and the north-rule
# frontier round. After this round every oracle-paired query except
# those three duplicates has an independent driver parity row; the
# three remain exactness-verified in tests/test_oracle_parity at
# sf0.001/sf0.01, as does every displaced driver-green query below.
_PRIORITY = [
    # -- sentinels (green r1-r4, regression canaries) -----------------
    "crawl_size",           # flagship entry() — single-scan Expand plan
    "frontier_schedule",    # north-rule scheduling round
    # -- portable-hash sketch verifications (exact twins, r4 upgrade) -
    "cms_host_freq_exact", "kmv_overlap_exact", "minhash_exact",
    "simhash_exact", "hll_registers_exact", "fingerprint_exact",
    "lsh_pairs_exact", "hyperball_registers_exact",
    # -- scheduling / frontier policy ---------------------------------
    "refresh_schedule", "url_crawl_set_registry", "curate_corpus",
    "fetcher_assignment", "round_makespan", "concurrent_sessions",
    "events_attribution", "url_templates", "adaptive_token_bucket",
    # -- web-graph / host-signal class --------------------------------
    "host_outliers", "sitemap_stale", "host_harmonic", "host_quality",
    "host_components", "stratified_sample", "domain_weights",
    # -- NB classifier chain + LM -------------------------------------
    "nb_weights", "nb_classify", "lm_bigram_weights", "vocabulary",
    # -- text statistics ----------------------------------------------
    "pii_counts", "repetition_scores", "tfidf_keywords",
    "language_confusion",
    # -- matrices / churn ---------------------------------------------
    "mime_matrix", "mime_drift", "host_churn", "digest_churn",
    "warc_revisit",
    # -- storage formats / link records -------------------------------
    "sitemap_roundtrip", "robots_sitemap_seeds", "outlinks", "anchor_texts",
    "host_degrees",
    # -- scheduling policy tail ---------------------------------------
    "schedule_politeness", "schedule_domain_politeness", "schedule_fairness",
    "retry_backoff", "recrawl_tiers", "url_filters",
]

# Second tier: positions 51+ in registry order — first the three
# family-duplicate oracle pairs left out of the final window, then the
# rows-only sketch flavors that have never had a driver run, then every
# r1-r4 driver-green query (regression tier). All oracle pairs remain
# exactness-verified by tests/test_oracle_parity.py regardless of
# position.
_PRIORITY_NEXT = [
    # oracle-paired family duplicates (suite-verified, never windowed)
    "nb_agreement", "language_drift", "host_degree_histogram",
    # rows-only sketch flavors (no SQL-expressible exact oracle)
    "ann_pq_topk", "compression_ratios", "host_hyperball", "warc_gzip_index",
    "weighted_sample", "cms_host_freq", "length_percentiles_approx",
    "crawl_overlap_kmv", "dup_spans_cdc", "ann_ivf_topk", "semdedup",
    "bpe_merges", "surt_hll", "top_hosts_sketch",
    # displaced driver-green (r1-r4) — regression tier
    "cdx_roundtrip", "stats_wire_roundtrip", "tld_classified_idn",
    "dedup_exact", "token_stats", "lm_perplexity", "curation_funnel",
    "events_windowed", "opic_priority", "spam_mass", "hits_scores",
    "host_rank", "revalidation_plan", "robots_cache", "politeness_backoff",
    "token_bucket", "host_fetch_gaps", "soft404", "url_normalize",
    "redirect_resolve", "dup_spans_exact", "unit_dedup", "boilerplate_strip",
    "decontaminate", "lm_quality_filter", "dsir_weights", "bpe_compression",
    "vocab_coverage", "pii_redact", "nb_calibration", "language_diversity",
    "pack_sequences", "leakage_split", "shard_summary", "bitext_pairs",
    "wet_roundtrip", "wat_links", "warc_cdx_index", "cdx_zipnum_roundtrip",
    "sitemap_sharded", "histogram_matrix", "url_churn", "host_link_graph",
    "asof_capture", "host_concentration", "length_percentiles",
    "stats_accumulate", "media_resize", "host_counts", "domain_counts",
    "tld_counts", "surt_domain_counts", "mimetype", "primary_language",
    "http_status", "url_fetch_histogram", "top_hosts", "new_items",
    "new_digests", "url_crawl_set", "digest_crawl_set", "meta_robots",
    "crawl_overlap", "domain_coverage", "trailing_6", "nofollow_graph",
    "domain_pages_histogram", "host_urls_histogram", "robots_decisions",
    "canonical_dedup", "tld_classified", "tld_continent",
    "large_surt_domains", "mime_share_pivot", "languages_floor",
    "warc_roundtrip", "cc_pages_extract", "robots_churn", "ngram_jaccard",
    "embedding_near_dup", "ann_topk", "quality_scores", "language_id",
    "pagerank_priority", "events_sessionize", "dedup_kept", "fair_budget",
    "bpe_encode", "robotstxt_status", "scheme_counts", "mimetype_detected",
    "charset", "languages", "cumulative_size", "dup_ratio", "size_estimate",
    "top_mime_other", "mime_share", "pages_by_year", "spearman_tld",
    "trailing_2", "trailing_3", "trailing_hll_2", "trailing_hll_3",
    "crawl_overlap_hll", "crawl_overlap_hll_digest", "host_pages_histogram",
    "cumulative_distinct", "digest_dup_histogram", "url_status",
    "charset_top_unknown", "crawl_registry_lookup", "url_parse_parity",
    "surt_parity", "spearman_benchmark", "frequent_hosts",
    "crawler_metrics_roundtrip", "minhash_lsh", "simhash", "simhash_pairs",
    "ann_lsh_topk", "fingerprint", "media_features",
]

_ordered = {name: QUERIES[name] for name in _PRIORITY + _PRIORITY_NEXT}
_ordered.update(
    {name: fn for name, fn in QUERIES.items() if name not in _ordered}
)
QUERIES = _ordered
assert len(_PRIORITY) == 50, len(_PRIORITY)
assert all(name in ORACLES for name in _PRIORITY), [
    n for n in _PRIORITY if n not in ORACLES
]
