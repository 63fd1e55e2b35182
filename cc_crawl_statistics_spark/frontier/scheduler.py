"""URL-frontier + fetch scheduler (the north_rule engine).

A brand-new Spark-native design — no reference counterpart exists
(/root/reference is a batch statistics pipeline); what it inherits from the
reference is the *counting semantics* each round emits (crawlstats.py
size/host/domain/tld/mime/language/status statistics, see operators/).

One scheduling round is one declarative DataFrame job:

  pending frontier
    ⨝ host_ledger (broadcast)            -- politeness gate: robots + budget
    → blocked rows (robots 403) retired
    → host-bucketed priority             -- top-B per host (skew-safe)
    → schedule (rank ≤ per-host budget)
    → link expansion (discovered children)
    → anti-join url_seen                 -- the URL-seen filter
    → commit snapshot: frontier', url_seen', schedule, metrics

Determinism (bit-for-bit reproducible ordering, BASELINE.json): priority is
the total order (depth ASC, score DESC, url ASC) — every tie broken by url;
no timestamps, no partition-order dependence anywhere.

Scale design (10^10-URL frontier, 1000 executors):
  - host_ledger is a small dimension (≤ ~10^8 hosts) → broadcast join; the
    frontier side never shuffles for the gate;
  - per-host ranking would shuffle by host and a hot host (10^7 pending
    URLs) would pin one task. Budgets are small (≤ hundreds), so the rank
    filter's literal bound B_max makes Catalyst cut every map task to its
    top-B_max per host below the one exchange (partial WindowGroupLimit);
    shuffle volume is O(hosts · map tasks · B_max), independent of
    frontier size;
  - url_seen is hash-keyed (xxhash64 of the canonical SURT URL — murmur/xx
    family per north_star; 64-bit keyspace, collision P < 3·10^-3 at 10^10
    keys even before partition scoping), clustered on seen_key only by
    compaction's hash partitioning (each round's delta, the seed's
    included, is a plain projection of its written frontier rows); the exact
    anti-join is preceded at scale by Spark's runtime Bloom-filter join
    (spark.sql.optimizer.runtime.bloomFilter.enabled) so frontier partitions
    only shuffle candidates whose hash might be seen;
  - frontier snapshots are written repartitionByRange("surt_key") → range
    clustering keeps each host/domain in few partitions for the next scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import counts as C
from ..sources.tables import pages_df
from .robots import robots_ledger, synth_robots
from .state import SnapshotStore

ATTR_COLS = ("domain", "tld", "mime_detected", "languages", "status")

# Frontier rows carry the link-graph key (doc_id) and the page attributes
# alongside the priority fields, so the schedule is a pure frontier-side
# plan — no per-round broadcast join back into the corpus-scale universe.
# History: the full-rewrite engine kept the frontier narrow because wider
# rows made its per-round corpus rewrite ~25% slower; under the delta
# engine only the bounded discovery delta and periodic compaction pay the
# width, while dropping the universe join removes a full corpus scan plus
# a broadcast-build serial tail from EVERY round (BENCH.md design decision
# "frontier-side scheduling": that tail was the round's dominant
# non-scaling term).
FRONTIER_COLS = (
    "url",
    "surt_key",
    "host",
    "depth",
    "score",
    "state",
    "doc_id",
    *ATTR_COLS,
)


def seen_key(col):
    """64-bit URL-seen key over the canonical SURT form (north_star:
    'canonicalized+murmur3-hashed SURT URLs' — xxhash64 is Spark's built-in
    vectorized 64-bit hash; fn choice is an implementation detail of the
    same design)."""
    return F.xxhash64(col)


def url_universe(pages: DataFrame) -> DataFrame:
    """Deterministic URL universe derived from the pages table: one row per
    distinct URL with its doc_id (the link-graph key), host, surt_key, and
    the per-URL page attributes the per-round statistics need. Carrying the
    attributes here (computed once, in the same groupBy, persisted at seed
    time) is what lets a scheduling round emit the reference's statistics
    without ever rescanning the corpus-scale pages table.

    Attribute coherence: the ATTR_COLS all come from the SAME fetch row —
    the URL's earliest fetch (min_by over fetch_ts) — so a round's
    histograms reflect an actual observed fetch, never a min()-mixture of
    columns from different fetches. min/min_by (not first) keeps the
    universe deterministic under any partitioning; fetch_ts is unique per
    (url, fetch) by construction in the synth corpus, and a real CDX feed
    tie-breaks identically because min_by compares the full timestamp."""
    return pages.groupBy("url").agg(
        F.min("surt_key").alias("surt_key"),
        F.min("host").alias("host"),
        F.min("doc_id").alias("doc_id"),
        *[F.min_by(c, "fetch_ts").alias(c) for c in ATTR_COLS],
    )


def seed_frontier(universe: DataFrame) -> DataFrame:
    """Seed list: every 7th document's URL at depth 0 with a deterministic
    score (FIXTURES.md §4)."""
    return universe.filter(F.col("doc_id") % 7 == 0).select(
        "url",
        "surt_key",
        "host",
        F.lit(0).alias("depth"),
        ((F.col("doc_id") * 37) % 100).alias("score"),
        F.lit("pending").alias("state"),
        "doc_id",
        *ATTR_COLS,
    )


def host_ledger(universe: DataFrame) -> DataFrame:
    """Per-host politeness ledger (FIXTURES.md §5) — built by actually
    parsing each host's (synthetic, deterministic) robots.txt body with
    frontier/robots.py and deriving the budget from its Crawl-delay:
    max_per_round = floor(round_seconds / delay). The bodies are generated
    so the parsed ledger is bit-identical to the legacy closed form
    (robots_status = 403 iff site_id % 12 == 7; budget = 1 + site_id % 4),
    which the pure-Python frontier model (model.ledger_for) pins — tests
    assert parsed == formula, so the frontier's bit-for-bit guarantees are
    unchanged while the politeness gate now rests on a real RFC 9309
    parse. Dimension-sized work: runs once at bootstrap, stored in the
    snapshot store, never re-parsed per round."""
    hosts = universe.select("host").distinct()
    return robots_ledger(synth_robots(hosts), round_seconds=60, default_budget=1)


def host_ledger_formula(universe: DataFrame) -> DataFrame:
    """Legacy closed-form ledger (site_id arithmetic, no parsing) — kept as
    the independent expected value for the parsed-vs-formula parity test."""
    site_id = F.regexp_extract(F.col("host"), "site([0-9]+)", 1).cast("int")
    return (
        universe.select("host")
        .distinct()
        .select(
            "host",
            F.when(site_id % 12 == 7, 403).otherwise(200).alias("robots_status"),
            # blocked hosts keep the default budget: a 403 robots fetch is
            # never parsed for Crawl-delay (robots.parsable_bodies)
            F.when(site_id % 12 == 7, F.lit(1))
            .otherwise(F.lit(1) + site_id % 4)
            .alias("max_per_round"),
        )
    )


def _enqueue(universe: DataFrame, kids: DataFrame, on) -> DataFrame:
    """Frontier rows for the discovered ``kids`` (a bounded kid set with a
    ``depth`` column), looked up in the universe by the ``on`` condition:
    the kid set broadcasts into the corpus-scale universe scan, and the
    child's score, link-graph key and page attributes come from its
    universe row. This is the one place the universe is scanned per
    round, so scheduling never joins back into the corpus
    (FRONTIER_COLS)."""
    return universe.join(F.broadcast(kids), on, "inner").select(
        "url",
        "surt_key",
        "host",
        "depth",
        ((F.col("doc_id") * 37) % 100).alias("score"),
        F.lit("pending").alias("state"),
        "doc_id",
        *ATTR_COLS,
    )


def expand_links(scheduled: DataFrame, universe: DataFrame, n_docs: int) -> DataFrame:
    """Deterministic link expansion: fetching doc d discovers docs
    (2d+1) mod N and (3d+7) mod N. Children inherit depth+1 and the
    child's own deterministic score. At production scale this stage is the
    HTML outlink parse (vectorized Arrow UDF over html binary).

    Join shape: the kid set is budget-bounded (≤ 2 × scheduled rows after
    dedup) while the universe is corpus-sized, so the kids side is
    broadcast — the universe is scanned map-side with NO shuffle of the big
    relation, the property that keeps a round's cost O(scan), not
    O(shuffle), at 10^10 URLs."""
    kids = scheduled.select(
        F.explode(
            F.array(
                (F.col("doc_id") * 2 + 1) % n_docs,
                (F.col("doc_id") * 3 + 7) % n_docs,
            )
        ).alias("child_doc_id"),
        (F.col("depth") + 1).alias("depth"),
    )
    # one row per (child url, min depth); dedup before the seen anti-join
    kids = kids.groupBy("child_doc_id").agg(F.min("depth").alias("depth"))
    return _enqueue(universe, kids, kids.child_doc_id == universe.doc_id)


def html_discovery(spark, sf_dir: str, pages: DataFrame | None = None):
    """Factory for the REAL discovery path: an ``expand_fn`` for
    ``run_round`` that parses outlink anchors out of the scheduled pages'
    html BYTES (functions/links.py codegen parse + resolution) instead of
    applying the arithmetic child formula.

    On the fixture corpus the anchors embed exactly the arithmetic
    formula's children plus one root-relative sibling link, so this path
    discovers expand_links' output plus the (rare) siblings that resolve
    onto real universe URLs — pinned by
    tests/test_linkgraph.py::test_html_discovery_fn_vs_arithmetic.

    Scale shape (unchanged from expand_links): the schedule is
    budget-bounded, so it broadcasts INTO the corpus-scale linked-pages
    join — the only stage touching html bytes — and the slim (child_url,
    depth) kid set broadcasts into the universe lookup. The universe
    relation never shuffles."""
    from ..functions.links import parse_outlinks_col, resolve_href_col
    from ..functions.urlkit import host_of, scheme_of
    from ..sources.cc_pages import cc_pages_linked_df

    if pages is None:
        pages = cc_pages_linked_df(spark, sf_dir)
    # repeat fetch rows carry identical html; one parse per url suffices
    page_html = pages.select("url", "html").dropDuplicates(["url"])

    def expand(scheduled: DataFrame, universe: DataFrame,
               n_docs: int) -> DataFrame:
        fetched = page_html.join(
            F.broadcast(scheduled.select("url", "depth")), "url"
        )
        hrefs = fetched.select(
            scheme_of(F.col("url")).alias("_scheme"),
            host_of(F.col("url")).alias("_host"),
            F.parse_url(F.col("url"), F.lit("PATH")).alias("_path"),
            (F.col("depth") + 1).alias("depth"),
            F.explode(parse_outlinks_col(F.col("html"))).alias("_href"),
        )
        kids = (
            hrefs.select(
                resolve_href_col(
                    F.col("_scheme"), F.col("_host"), F.col("_path"),
                    F.col("_href"),
                ).alias("child_url"),
                "depth",
            )
            .filter(F.col("child_url").isNotNull())
            .groupBy("child_url")
            .agg(F.min("depth").alias("depth"))
        )
        # enqueue only URLs that exist in the fetchable universe (dangling
        # outlinks point off-corpus)
        return _enqueue(universe, kids, kids.child_url == universe.url)

    return expand


def blocklist_gated_discovery(expand_fn, blocklist: DataFrame):
    """Wrap any ``expand_fn`` (expand_links, html_discovery(...)) with the
    derived host blocklist — the quality feedback loop closed at the
    scheduler seam: hosts that operators/textstats.py:host_quality_rollup
    flagged (mirror farms, boilerplate templates) stop receiving frontier
    admissions, while their already-seeded URLs retire normally.

    Cost: one broadcast LEFT ANTI probe (urlfilter.apply_host_blocklist)
    on the budget-bounded discovery delta — nothing corpus-sized moves.
    Same ``(sched, universe, n_docs) -> DataFrame`` contract, so it
    composes with run_round unchanged."""
    from .urlfilter import apply_host_blocklist

    def expand(scheduled: DataFrame, universe: DataFrame,
               n_docs: int) -> DataFrame:
        return apply_host_blocklist(
            expand_fn(scheduled, universe, n_docs), blocklist
        )

    return expand


def host_bucketed_topk(
    candidates: DataFrame,
    budget_col: str = "max_per_round",
    key_col: str = "host",
    score_col: str = "score",
) -> DataFrame:
    """Per-key priority selection (the skew-safe 'host-bucketed min-heap';
    ``key_col`` defaults to host — pass "domain" to scope the politeness
    unit at the registrable domain, the CDN-subdomain case). One
    row_number window per key; its literal rank bound lets Catalyst cut
    each map task to ``max_budget`` rows per key below the one exchange
    (partial WindowGroupLimit), so a hot host never pins a task. Output:
    rank ≤ budget, in the total priority order. ``score_col`` is the
    priority's middle term — the raw score by default, or an aged score
    (run_round age_boost)."""
    order = (
        F.col("depth").asc(),
        F.col(score_col).desc(),
        F.col("url").asc(),
    )
    max_budget = 4  # static upper bound of ledger budgets (1 + site_id % 4)
    w = Window.partitionBy(key_col).orderBy(*order)
    rank = F.col("rank")
    return candidates.withColumn("rank", F.row_number().over(w)).filter(
        (rank <= max_budget) & (rank <= F.col(budget_col))
    )


def round_statistics(scheduled_pages: DataFrame) -> DataFrame:
    """Statistics for one scheduling round, as one long-format DataFrame
    (SURVEY.md §1.4 stats model): unique URL / host / domain / TLD counts
    + MIME / language / status histograms, in the reference's
    (type, key) → [pages, urls] output shape.

    Round semantics (deliberately different from the reference's
    CDX-batch counts): the input is ONE ROW PER SCHEDULED URL — a
    deduplicating frontier fetches each URL at most once per round — so
    ``pages == urls`` on every row by design, and the attribute columns
    are those of the URL's earliest observed fetch (url_universe's
    min_by), not of this round's network response. Pinned by
    tests/test_frontier.py::test_round_stats_semantics.

    Plan shape: ONE pass — each scheduled row melts (explode over an
    inline array, no shuffle) into its 7 (type, key) memberships, then a
    single map-side-combined groupBy((type, key)) aggregates every
    statistic together. The round-2 shape ran 7 separate shuffles (one
    per dimension) plus a 5-way countDistinct Expand whose host/domain/tld
    counts were discarded — measured 3.3s/round of pure job overhead at
    58k scheduled rows; this folds them into one exchange whose volume is
    7×|schedule| narrow rows (still budget-bounded). ``urls`` == count
    because schedule rows are unique per URL (the frontier is
    deduplicated; pinned by test_round_stats_semantics)."""
    melted = _melt_stat_keys(scheduled_pages)
    n = F.count("*").cast("long")
    return melted.groupBy("type", "key").agg(
        n.alias("pages"), n.alias("urls")
    )


def _melt_stat_keys(pages: DataFrame) -> DataFrame:
    """One row per (type, key, url) membership — the shared melt behind
    round_statistics and its sketched/mergeable variant. Explode over an
    inline 7-element array: no shuffle, no per-dimension rescan."""
    pp = pages.withColumn(
        "primary_language", F.split(F.col("languages"), ",").getItem(0)
    )

    def tk(typ: str, key) -> F.Column:
        return F.struct(
            F.lit(typ).alias("type"), key.cast("string").alias("key")
        )

    return pp.select(
        "url",
        F.explode(
            F.array(
                tk("size", F.lit("global")),
                tk("host", F.col("host")),
                tk("domain", F.col("domain")),
                tk("tld", F.col("tld")),
                tk("mimetype", F.col("mime_detected")),
                tk("primary_language", F.col("primary_language")),
                tk("http_status", F.col("status")),
            )
        ).alias("tk"),
    ).select(F.col("tk.type").alias("type"), F.col("tk.key").alias("key"), "url")


def sketched_round_statistics(scheduled_pages: DataFrame) -> DataFrame:
    """round_statistics plus a mergeable distinct-URL sketch per
    (type, key): (type, key, pages, urls, url_hll). The sketch column is
    what makes cross-round accumulation ALGEBRAIC — counts merge by sum,
    distincts by hll_union_agg — so a 100 TB deployment maintains its
    cumulative statistics table by folding each round's delta in
    (Iceberg MERGE / foreachBatch upsert), never rescanning history.
    Same single melt + one map-side-combined aggregation as
    round_statistics."""
    n = F.count("*").cast("long")
    return _melt_stat_keys(scheduled_pages).groupBy("type", "key").agg(
        n.alias("pages"),
        n.alias("urls"),
        F.hll_sketch_agg("url", F.lit(12)).alias("url_hll"),
    )


def merge_round_statistics(*stats: DataFrame) -> DataFrame:
    """Fold any number of per-round stats frames into one: counts sum,
    sketches union. The register merge is lossless, associative and
    commutative (register state depends only on the SET of hashed
    values), so rounds can be accumulated in any order, retried, or
    re-partitioned safely — pinned in tests/test_frontier.py. Estimator
    caveat: the ESTIMATE read off a sketch is not invariant to how it
    was assembled — a directly-built sketch uses the order-dependent HIP
    estimator, a union the composite one, and sparse→dense mode
    promotion happens at fold-shape-dependent points — so different
    merge shapes may read slightly different estimates (measured
    501/504 at ~500 true distincts). Every shape stays within the
    configured HLL error of the true count; exact columns are exactly
    lossless."""
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), stats)
    aggs = [
        F.sum("pages").cast("long").alias("pages"),
        F.sum("urls").cast("long").alias("urls"),
    ]
    if "url_hll" in u.columns:
        aggs.append(F.hll_union_agg("url_hll").alias("url_hll"))
    return u.groupBy("type", "key").agg(*aggs)


def first_round_schedule(pages: DataFrame) -> DataFrame:
    """Round-1 schedule as a pure DataFrame query (no state store): seeds →
    politeness gate → host-bucketed priority. Used by the oracle-checked
    ``frontier_schedule`` query; run_round executes the same operators
    against snapshot state."""
    universe = url_universe(pages)
    seeds = seed_frontier(universe)
    ledger = host_ledger(universe)
    eligible = seeds.join(F.broadcast(ledger), "host").filter(
        F.col("robots_status") != 403
    )
    return (
        host_bucketed_topk(eligible)
        .select(
            "url",
            "host",
            F.col("depth").cast("long").alias("depth"),
            F.col("score").cast("long").alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("host", "rank")
    )


def fetch_extract(sched: DataFrame, docs: DataFrame) -> DataFrame:
    """The round's fetch + extract stage (SURVEY.md §3 engine lifecycle):
    join the schedule to the document payloads (the network fetch stand-in —
    html synthesized deterministically from the known text), then extract
    text with the Arrow UDF. ``extract_ok`` must be true on every row —
    the north-rule byte-identical-text-per-url invariant, re-checked every
    round and surfaced in the round metrics.

    Scale shape: schedule ⨝ docs is an equi-join on doc_id; the schedule
    side is budget-bounded (hosts × max budget), far smaller than the
    corpus, so Spark broadcasts it under AQE. All Python is Arrow-batched
    (functions/extract.py); zero per-row Python."""
    from ..functions.extract import extract_text, synth_html

    fetched = sched.select("round", "url", "doc_id").join(
        docs.select("doc_id", "text"), "doc_id"
    )
    return (
        fetched.withColumn("html", synth_html(F.col("text")))
        .withColumn("extracted_text", extract_text(F.col("html")))
        .withColumn(
            "extract_ok", F.col("extracted_text") == F.col("text")
        )
    )


def run_round(
    spark: SparkSession,
    store: SnapshotStore,
    sf_dir: str,
    n_partitions: int = 4,
    pages: DataFrame | None = None,
    docs: DataFrame | None = None,
    compact_every: int = 16,
    bloom_min_seen: int = 10_000_000,
    expand_fn=None,
    age_boost: int = 0,
    n_fetchers: int = 0,
    enforce_robots_paths: bool = False,
) -> dict:
    """Execute the next scheduling round from the latest committed snapshot
    and commit round+1. Returns the round metrics (computed from the
    written snapshot, not by re-executing the round's lineage).

    ``pages`` overrides the default sf_dir-derived pages table — but ONLY
    on the seed round: once a store is seeded, the universe/ledger are
    corpus state read from the round-0 snapshot and a ``pages`` argument
    on later rounds is ignored (a real deployment re-seeds a new store to
    change corpora). ``docs`` (doc_id, text) enables the fetch+extract
    stage: the round then writes a ``fetched`` table with the
    html/extracted-text columns and records the byte-identity invariant in
    its metrics (n_extract_mismatch must be 0). Every ``compact_every``
    rounds the seen-set deltas are compacted into one base table with a
    materialized Bloom prefilter — post-commit maintenance: a crash
    during compaction loses nothing, read_seen falls back to the deltas.
    Results are bit-identical with and without the prefilter
    (test_compaction_and_bloom_bit_identical).

    ``expand_fn`` overrides link discovery (default: the arithmetic
    ``expand_links`` model). Pass ``html_discovery(spark, sf_dir)`` to
    discover by PARSING the scheduled pages' html bytes — same signature
    ``(sched_materialized, universe, n_docs) -> DataFrame`` with
    seed_frontier's schema.

    ``age_boost`` > 0 enables starvation-free priority aging: the
    ordering's middle term becomes score + age_boost × rounds-waiting
    (discovery round recovered from the row's snapshot path — no schema
    change; a frontier compaction rewrite floors ages to the base round).
    Any pending URL's effective score grows without bound, so it
    eventually outranks every fixed-score newcomer on its host —
    model-parity pinned in tests/test_frontier.py. 0 (default) is the
    legacy static ordering, bit-identical to prior rounds.

    ``n_fetchers`` > 0 stamps each persisted schedule row with its
    consistent-hash fetcher shard (frontier/capacity.py — host-affine, so
    a downstream fetch fleet can split the schedule parquet by
    ``fetcher`` with politeness intact) and records the fleet's load
    balance (``fetcher_max_load_permille``) in the round metrics.
    Ordering, retirement and every other table are unchanged — the column
    is additive.

    ``enforce_robots_paths=True`` adds the FETCH-TIME per-path robots
    gate: the budget-bounded schedule is classified against each host's
    parsed Allow/Disallow rules (frontier/robots.py — longest match,
    wildcards, $), rows keep their pre-gate rank, and denied rows are
    persisted with ``allowed = false``: they retire like any scheduled
    row (never re-examined) but are not fetched, not expanded, and not
    counted in round statistics — exactly a production fetcher's robots
    re-check at claim time, and deliberately NOT a frontier-wide
    classification (which would touch every pending URL every round
    instead of hosts × budget rows). A host whose top-ranked rows are
    denied wastes that part of its budget for the round and surfaces its
    next-ranked URLs the round after — the real fetch-time-check
    trade-off. Model-parity pinned (model.enforce_paths); default off is
    bit-identical to prior rounds (schema unchanged)."""
    latest = store.latest_round()
    if latest is None:
        if pages is None:
            pages = pages_df(spark, sf_dir)
        # the seed is one commit like every round's: the universe is its
        # one eager write; the frontier, the ledger and the seen delta
        # derive from the written universe parquet (and the delta from the
        # written frontier), so no lineage is cached or counted
        store.commit(
            0,
            {
                # the URL universe / link graph is static corpus state:
                # persisted ONCE at seed time, read (never recomputed or
                # reshuffled) by every subsequent round
                "universe": url_universe(pages).repartitionByRange(
                    n_partitions, "doc_id"
                ),
                "frontier": lambda read: seed_frontier(
                    read("universe")
                ).repartitionByRange(n_partitions, "surt_key"),
                "host_ledger": lambda read: host_ledger(read("universe")),
                "url_seen_delta": lambda read: read("frontier").select(
                    seen_key(F.col("url")).alias("seen_key")
                ),
            },
            lambda read: {
                "round": 0,
                "n_seeded": store.table_rows(0, "frontier"),
                "n_docs": store.table_rows(0, "universe"),
                "n_seen": store.table_rows(0, "url_seen_delta"),
            },
        )
        latest = 0

    rnd = latest + 1

    frontier = store.read_frontier(
        spark, latest, keep_src_rnd=age_boost > 0
    )
    seen = store.read_seen(spark, latest)
    # the ledger is corpus-derived dimension state: like the universe it is
    # written once at seed time and read from round 0 (a real deployment
    # updates it via its own robots-refresh job, committing a new version
    # only when it changes)
    ledger = store.read(spark, 0, "host_ledger")
    universe = store.read(spark, 0, "universe")
    n_docs = store.manifest(0)["metrics"]["n_docs"]
    mprev = store.manifest(latest)["metrics"]
    prev_seen = mprev["n_seen"]
    # pending count carries forward incrementally (retired rows and the
    # appended delta are all exactly counted), like n_seen — the frontier
    # is never rescanned for a metric; the seed round records its whole
    # frontier as n_seeded
    prev_pending = mprev["n_frontier_pending" if latest else "n_seeded"]

    pending = frontier.filter(F.col("state") == "pending")
    gated = pending.join(F.broadcast(ledger), "host")
    eligible = gated.filter(F.col("robots_status") != 403)

    # Blocked rows (pending ∩ robots-403 hosts) WITHOUT re-executing the
    # frontier reconstruction a second time for the blocked-table write:
    # any 403-host row appended before the previous round was already
    # retired by that round, so the only 403-host pending rows are the
    # ones appended since the last retirement — the latest round's
    # discovery delta, or the materialized base itself when the base IS
    # the latest round (the seed, or a fresh compaction — whose
    # reconstructed pending already contains that round's delta).
    # Bit-identical to filtering the reconstruction (model test +
    # compaction-identity test, which exercises the base==latest branch
    # every round).
    blocked_hosts = ledger.filter(F.col("robots_status") == 403).select(
        "host"
    )
    if store.frontier_base_round(latest) == latest:
        last_appended = store.read(spark, latest, "frontier")
    else:
        last_appended = store.read(spark, latest, "frontier_delta")
    blocked = last_appended.filter(F.col("state") == "pending").join(
        F.broadcast(blocked_hosts), "host", "semi"
    )

    # The ranked schedule is a PURE FRONTIER-SIDE plan: frontier rows carry
    # doc_id + the page attributes (FRONTIER_COLS), so the round's
    # scheduling never scans or joins the corpus-scale universe — one
    # frontier scan, one bounded window stage, 78k-ish rows out. The plan
    # is NOT eagerly checkpointed: the persisted ``schedule`` table write
    # (inside the concurrent commit) IS its one materialization — every
    # downstream consumer (link expansion, round statistics, fetch/extract,
    # the next round's retire list) re-reads that budget-bounded parquet.
    # Measured (BENCH.md design decision "frontier-side scheduling"): the
    # universe broadcast join + eager localCheckpoint this replaces were
    # the round's largest per-level-invariant cost — a broadcast-build
    # serial tail scaling 1.4–1.9× across a 4× core span while every
    # corpus scan scaled ≥2.8×.
    score_col = "score"
    if age_boost > 0:
        eligible = eligible.withColumn(
            "_aged",
            F.col("score")
            + F.lit(age_boost) * (F.lit(rnd) - F.col("_src_rnd")),
        )
        score_col = "_aged"
    sched = host_bucketed_topk(eligible, score_col=score_col).select(
        F.lit(rnd).alias("round"),
        "url",
        "surt_key",
        "host",
        "depth",
        "score",
        "rank",
        "doc_id",
        *ATTR_COLS,
    )
    if enforce_robots_paths:
        from .robots import (
            parse_robots,
            parsable_bodies,
            robots_decision,
            robots_rules,
        )

        # the top-K lineage feeds both the decision probe and the final
        # rows — one materialization (the schedule write), not two
        sched = sched.localCheckpoint(eager=False)
        rules = robots_rules(
            parse_robots(parsable_bodies(synth_robots(ledger.select("host"))))
        )
        dec = robots_decision(
            sched.select(
                "url",
                "host",
                F.regexp_extract(
                    "url", "^[a-z]+://[^/]+(/.*)$", 1
                ).alias("path"),
            ),
            rules,
            path_col="path",
        )
        sched = sched.join(
            F.broadcast(
                dec.select(
                    "url", (F.col("decision") == "allow").alias("allowed")
                )
            ),
            "url",
        )
    if n_fetchers:
        from .capacity import assign_fetchers

        # budget-bounded rows; O(|ring|) per row, no join, order untouched
        sched = assign_fetchers(sched, n_fetchers=n_fetchers)

    def discover_new_urls(sched_materialized: DataFrame) -> DataFrame:
        """Expand the (parquet-materialized) schedule's links and keep the
        never-seen URLs. With a materialized Bloom (written at compaction)
        every candidate is probed ONCE (shardedfilter.probe: a join of
        the broadcast candidates against the shard table, all Catalyst
        expressions) and the flag steers two conditional anti-joins in
        one lineage: candidates the Bloom rejects are DEFINITELY absent
        from the compacted base, so they only anti-join the small
        post-compaction deltas (broadcast); Bloom-positive candidates
        take the exact anti-join against the full seen set. No filter on
        the flag exists for Catalyst to push into the universe scan.
        Results are bit-identical either way
        (test_frontier.py::test_compaction_and_bloom_bit_identical);
        what the Bloom buys at 10^10 keys is that the common case
        (brand-new URL) never shuffles against the base table. The
        prefilter engages only past ``bloom_min_seen`` seen keys. The
        figure behind that default (plain anti-join 11.4s vs 12.9s/round
        at 4×10^5 seen keys, BENCH.md design decision "bloom_min_seen
        gate") was measured on the earlier Arrow-UDF plan that probed the
        universe twice, and is stale."""
        discovered = (expand_fn or expand_links)(
            sched_materialized, universe, n_docs
        )
        pf_path = (
            store.prefilter_path(latest)
            if prev_seen >= bloom_min_seen
            else None
        )
        if pf_path is None:
            return discovered.join(
                seen,
                seen_key(discovered.url) == seen.seen_key,
                "left_anti",
            )
        from .shardedfilter import probe

        base_rnd = store.seen_base_round(latest)
        recent = store.read_seen_deltas(spark, base_rnd + 1, latest)
        cand = probe(
            discovered.withColumn("_key", seen_key(F.col("url"))),
            F.col("_key"),
            pf_path,
        )
        cand = cand.join(
            F.broadcast(recent),
            (cand._key == recent.seen_key) & ~cand._maybe,
            "left_anti",
        )
        return cand.join(
            seen, (cand._key == seen.seen_key) & cand._maybe, "left_anti"
        ).drop("_key", "_maybe")

    # Retirement is LOGICAL, not a rewrite: the corpus-scale frontier is
    # never rebuilt or reshuffled in a round. The round appends one
    # bounded discovery delta (frontier_delta below); scheduled rows
    # retire via the already-written schedule table and blocked rows via
    # the blocked table (by construction exactly the pending rows on
    # robots-403 hosts) — read_frontier anti-joins those budget-bounded,
    # broadcastable retire lists at read time, and compact_frontier
    # periodically rewrites one materialized base to bound the chain (the
    # Iceberg merge-on-read delete + rewrite_data_files pattern).

    def fetchable(read) -> DataFrame:
        """The written schedule rows a fetcher claims: all of them, or
        only the robots-allowed ones under enforce_robots_paths."""
        rows = read("schedule")
        return rows.filter("allowed") if enforce_robots_paths else rows

    def metrics_from_snapshot(read) -> dict:
        # exact row counts from the written files' parquet footers —
        # driver-side metadata reads, zero Spark jobs (the Iceberg
        # pattern: snapshot manifests answer COUNT(*) without touching
        # data). Replaces three concurrent metadata-count jobs that cost
        # a constant ~0.2-0.5s/round of scheduler latency.
        n_new, n_sched, n_blocked = (
            store.table_rows(rnd, t)
            for t in ("url_seen_delta", "schedule", "blocked")
        )
        m = {
            "round": rnd,
            "n_scheduled": n_sched,
            "n_blocked": n_blocked,
            "n_discovered_new": n_new,
            # incremental, exactly like n_seen: retired rows (scheduled +
            # blocked) and the appended discovery delta are each exactly
            # counted, so the pending total never rescans the frontier
            "n_frontier_pending": prev_pending - n_sched - n_blocked + n_new,
            # incremental: deltas are append-only, so the running total never
            # needs a full rescan of the 10^10-key seen set
            "n_seen": prev_seen + n_new,
        }
        if enforce_robots_paths:
            m["n_robots_denied"] = (
                read("schedule").filter("NOT allowed").count()
            )
        if n_fetchers and n_sched:
            per_f = (
                read("schedule")
                .groupBy("fetcher")
                .agg(F.count("*").alias("n"))
                .agg(F.max("n").alias("mx"))
                .first()
            )
            m["fetcher_max_load_permille"] = int(
                per_f.mx * 1000 // n_sched
            )
        if docs is not None:
            fetched_tbl = read("fetched")
            m["n_extracted"] = store.table_rows(rnd, "fetched")
            m["n_extract_mismatch"] = fetched_tbl.filter(
                ~F.col("extract_ok")
            ).count()
        return m

    tables = {
        # The ONLY eager corpus-lineage write of the round besides
        # ``blocked``: the persisted schedule (widened with doc_id + the
        # page attributes — still budget-bounded rows) materializes the
        # top-K ⋈ universe plan exactly once, overlapping the blocked
        # write inside the concurrent commit. Everything below derives
        # from its parquet.
        "schedule": sched,
        "blocked": blocked.select("url", "host"),
        # hash-partitioned on surt_key (no range-sampling pass over a
        # small delta); compaction restores range clustering for the base.
        # Derived: its write IS the materialization of the expand +
        # seen-anti-join lineage over the written schedule parquet (one
        # LeftAnti right after a compaction: the empty deltas fold away).
        "frontier_delta": lambda read: discover_new_urls(fetchable(read))
        .select(*FRONTIER_COLS)
        .repartition(n_partitions, "surt_key"),
        # Second-level derived table: projects the just-written bounded
        # frontier_delta parquet, so the discovery lineage executes once.
        # No exchange: read_seen scans every delta file and compact_seen
        # repartitions the base on seen_key.
        "url_seen_delta": lambda read: read("frontier_delta").select(
            seen_key(F.col("url")).alias("seen_key")
        ),
        # round statistics over the fetched slice (reference counting
        # semantics): the written schedule rows carry the page attributes
        # from the universe scan, so the 7 aggregation branches run over
        # budget-bounded parquet — no corpus rescan per round.
        "round_stats": lambda read: round_statistics(
            fetchable(read).select("url", "host", *ATTR_COLS)
        ),
    }
    if docs is not None:
        tables["fetched"] = lambda read: fetch_extract(fetchable(read), docs)
    out = store.commit(rnd, tables, metrics_from_snapshot)
    if compact_every and rnd % compact_every == 0:
        store.compact_seen(spark, rnd, n_partitions)
        store.compact_frontier(spark, rnd, n_partitions)
    return out


def reopen_for_recrawl(
    spark: SparkSession,
    store: SnapshotStore,
    rnd: int,
    pages: DataFrame,
    tiers: tuple[str, ...] = ("hot",),
) -> int:
    """Adaptive-recrawl glue: URLs whose digest history puts them in the
    given refresh tiers (operators/recrawl.py) are re-opened in the seen
    store — their canonical seen keys are filed via state.reopen_seen,
    so the next round that re-discovers them schedules a refetch.
    Returns how many URLs were re-opened. The tier list bounds the
    volume per invocation (hot « frontier size), keeping the reopen
    anti-join side broadcastable."""
    from ..operators.recrawl import recrawl_tiers

    due = (
        recrawl_tiers(pages)
        .filter(F.col("tier").isin(*tiers))
        .select(seen_key(F.col("url")).alias("seen_key"))
        .distinct()
    )
    n = due.count()
    if n:
        store.reopen_seen(spark, rnd, due)
    return n


def reopen_for_policy_change(
    spark: SparkSession,
    store: SnapshotStore,
    rnd: int,
    pages: DataFrame,
    epoch_a: int = 0,
    epoch_b: int = 1,
) -> int:
    """Robots-drift glue, the mirror of reopen_for_recrawl: URLs whose
    per-path decision flipped disallowed→allowed between two robots
    epochs (robots.unblocked_urls — the churn table's n_unblocked at URL
    grain) are re-opened in the seen store, so the next round that
    rediscovers them schedules a fetch under the NEW policy. Returns how
    many URLs were re-opened. Newly-disallowed URLs need no seen-set
    edit: enforcement for them belongs at schedule time (the decision
    gate), and their seen entries correctly record that they were
    fetched. Volume is bounded by the flip set (≪ frontier size for any
    sane policy change), keeping the reopen anti-join side
    broadcastable."""
    from .robots import unblocked_urls

    due = (
        unblocked_urls(pages, epoch_a, epoch_b)
        .select(seen_key(F.col("url")).alias("seen_key"))
        .distinct()
    )
    n = due.count()
    if n:
        store.reopen_seen(spark, rnd, due)
    return n
