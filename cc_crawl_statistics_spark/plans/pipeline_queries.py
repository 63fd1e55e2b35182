"""Training-data-pipeline query registry: dedup, similarity search, text
analysis, multimodal plumbing, event analytics, frontier scheduling — each
with a DuckDB oracle where SQL-expressible (rows-only otherwise).

Same exactness conventions as queries.py: integer permille instead of float
ratios, BIGINT casts on every DuckDB aggregate, identical column aliases.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..frontier import robots as RB
from ..operators.bitext import LANG_SEG as BITEXT_LANG_SEG
from ..frontier.scheduler import first_round_schedule
from ..operators import dedup as D
from ..operators import linkgraph as LG
from ..operators import multimodal as M
from ..operators import pagerank as PR
from ..operators import recrawl as RC
from ..sources import sitemap as SM
from ..operators import sampling as SA
from ..operators import similarity as SIM
from ..operators import textstats as TX
from ..sources.cc_pages import cc_pages_linked_df
from ..sources.tables import load_table, pages_df
from ..synth import (
    CORPUS_SQL,
    EMB_CORPUS_SQL_DUCK,
    EMB_CORPUS_SQL_SPARK,
    REP_NOFOLLOW_SQL,
    REP_NOINDEX_SQL,
    child_host_sql,
    child_url_sql,
    oracle_cte,
    rep_anchor_nofollow_sql,
    rep_canonical_sql,
)


def corpus_df(spark: SparkSession, sf: str) -> DataFrame:
    load_table(spark, sf, "documents").createOrReplaceTempView("documents")
    return spark.sql(CORPUS_SQL)


def emb_corpus_df(spark: SparkSession, sf: str) -> DataFrame:
    load_table(spark, sf, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(EMB_CORPUS_SQL_SPARK)


def _corpus_oracle(body: str) -> str:
    return f"WITH corpus AS ({CORPUS_SQL})\n{body}"


def _emb_oracle(body: str) -> str:
    return f"WITH emb AS ({EMB_CORPUS_SQL_DUCK})\n{body}"


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return D.exact_dedup(corpus_df(spark, sf))


def q_unit_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """C4/RefinedWeb-style unit-level dedup with document reassembly
    (operators/dedup.py:unit_dedup) over the duplicate-injected corpus:
    exact copies lose every unit, trailing-filler copies keep only the
    globally novel tail."""
    return D.unit_dedup(corpus_df(spark, sf), unit_words=16)


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # explicit opt-in to the doc-frequency cap: the scale path (exact
    # values, capped candidate generation — see ngram_jaccard_pairs)
    return D.ngram_jaccard_pairs(
        corpus_df(spark, sf), threshold_permille=500, max_doc_freq=1000
    )


def q_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    # xxhash64-based: no cross-engine oracle (rows-only check)
    return D.minhash_lsh_pairs(corpus_df(spark, sf), jaccard_threshold=0.5)


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return D.simhash(corpus_df(spark, sf))


def q_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return D.simhash_near_pairs(corpus_df(spark, sf), max_hamming=3)


def q_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    # LSH-bucketed candidates + exact cosine verify; dim=64 is the fixture
    # embedding width (TESTDATA.md)
    return D.embedding_near_dup(
        emb_corpus_df(spark, sf), threshold_permille=990, dim=64
    )


def q_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = emb_corpus_df(spark, sf)
    return SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


def q_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    # plane constants not reproducible in SQL: rows-only
    emb = emb_corpus_df(spark, sf)
    return SIM.lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, dim=64)


def q_curation_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """The whole curation pipeline as ONE sequential retention funnel:
    exact dedup -> quality gate -> language filter -> perplexity filter
    -> benchmark decontamination, emitting the survivor count after each
    stage. Composes curate_corpus (verdict precedence), lm_cross_entropy
    (trained on the corpus's trusted slice) and decontaminate — three
    independent per-doc signal plans joined once on doc_id; the funnel
    itself is a single aggregate + stack, so the report costs nothing
    beyond its inputs at any scale."""
    from ..operators import lm as LM

    corpus = corpus_df(spark, sf)
    eval_set = spark.sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 31 = 0"
    )
    v = TX.curate_corpus(corpus).select("doc_id", "verdict")
    x = LM.lm_cross_entropy(corpus, corpus.filter(_LM_REF_FILTER))
    c = D.decontaminate(corpus, eval_set, n=8).select(
        "doc_id", "contaminated"
    )
    j = v.join(x, "doc_id").join(c, "doc_id")
    pass_px = F.col("xent_mnat").isNull() | (
        F.col("xent_mnat") <= _LM_THRESHOLD_MNAT
    )
    kept = F.col("verdict") == "kept"
    agg = j.agg(
        F.count("*").alias("s0"),
        F.sum((F.col("verdict") != "duplicate").cast("long")).alias("s1"),
        F.sum(
            (~F.col("verdict").isin("duplicate", "quality")).cast("long")
        ).alias("s2"),
        F.sum(kept.cast("long")).alias("s3"),
        F.sum((kept & pass_px).cast("long")).alias("s4"),
        F.sum(
            (kept & pass_px & (F.col("contaminated") == 0)).cast("long")
        ).alias("s5"),
    )
    return agg.selectExpr(
        "stack(6, 0, 'total', s0, 1, 'exact_dedup', s1,"
        " 2, 'quality', s2, 3, 'language', s3,"
        " 4, 'perplexity', s4, 5, 'decontamination', s5)"
        " AS (stage_id, stage, survivors)"
    ).orderBy("stage_id")


def q_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    # SemDeDup (Abbas et al. 2023): cluster-confined semantic dedup over
    # the embedding corpus (which plants exact-duplicate vec_id copies at
    # +1e6 offsets — those must be dropped). Rows-only: the Lloyd
    # clustering has no float-exact SQL oracle; recall/greedy semantics
    # pinned in tests/test_semdedup.py.
    emb = emb_corpus_df(spark, sf)
    return SIM.semdedup_verdicts(emb, k=8, eps_x1m=999_000)


def q_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    # IVF (learned coarse quantizer) scale path: rows-only (float centroid
    # training has no SQL oracle); recall vs brute force pinned in tests
    emb = emb_corpus_df(spark, sf)
    return SIM.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_centroids=8, n_probe=3
    )


def q_ann_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN in its production shape (similarity.
    pq_codebooks/pq_encode → ADC shortlist → exact re-rank): the
    compressed-domain path next to IVF's narrowed-scan path. Rows-only
    (float codebook training has no SQL oracle); identity/copy
    invariance, rerank recall, and encode partition-invariance pinned in
    tests/test_dedup_similarity.py."""
    emb = emb_corpus_df(spark, sf)
    books = SIM.pq_codebooks(emb, m=8, ks=16, iters=2)
    codes = SIM.pq_encode(emb, books, m=8)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.pq_topk_rerank(codes, books, queries, emb, k=5, shortlist=50, m=8)


def q_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    return TX.token_stats(corpus_df(spark, sf))


def q_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    return TX.quality_scores(corpus_df(spark, sf))


def q_vocabulary(spark: SparkSession, sf: str) -> DataFrame:
    return TX.vocabulary(corpus_df(spark, sf), top_k=50)


def q_length_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    return TX.exact_percentiles(load_table(spark, sf, "documents"))


def q_length_percentiles_approx(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-mode per-language length percentiles
    (textstats.approx_percentiles — Spark's mergeable GK quantile summary,
    state O(accuracy) per group regardless of value cardinality).
    Rows-only: sketch output; the rank-error bound vs the exact-histogram
    path is pinned in tests/test_sketches.py."""
    return TX.approx_percentiles(load_table(spark, sf, "documents"))


def q_cms_host_freq(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min point-frequency estimates (operators/sketches.py:cms_*)
    for the exact top-20 hosts: the sketch table is ≤ depth×width cells
    no matter the host cardinality, and lookups broadcast it. Rows-only:
    xxhash64 bucketing has no DuckDB equivalent; the est ≥ true guarantee,
    merge identity and partition-determinism are pinned in
    tests/test_sketches.py."""
    from ..operators.counts import page_rows
    from ..operators.sketches import cms_build, cms_lookup

    rows = page_rows(pages_df(spark, sf))
    sketch = cms_build(rows, "host", depth=4, width=8192)
    probes = (
        rows.groupBy("host")
        .count()
        .orderBy(F.desc("count"), "host")
        .limit(20)
        .select("host")
    )
    return cms_lookup(sketch, probes, "host", depth=4, width=8192)


def q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted corpus subsample (sampling.weighted_sample — the
    Efraimidis–Spirakis A-ES top-k). Rows-only: the seeded xxhash64 draw
    has no DuckDB equivalent; set-identity vs an independent Python model
    of the same recurrence + partition invariance are pinned in
    tests/test_dedup_similarity.py."""
    from ..operators.sampling import weighted_sample

    docs = load_table(spark, sf, "documents")
    return weighted_sample(docs, k=100, weight_col="n_chars").select(
        "doc_id", "lang", "n_chars"
    ).orderBy("doc_id")


def q_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """BPE merge learning over the documents corpus
    (operators/textstats.py:bpe_merges). Iterative (one argmax scalar per
    merge), so no SQL oracle — rows-only for the driver; semantics pinned
    bit-for-bit against an independent Python model in
    tests/test_vocabulary.py."""
    return TX.bpe_merges(corpus_df(spark, sf), n_merges=10)


# pinned merge ranks for the ENCODE query (in production this list is
# bpe_merges' output; pinned here so the DuckDB oracle can replay the
# identical replace chain — learning itself is the rows-only query above)
_BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
]


def q_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """BPE APPLICATION as a pure codegen replace chain
    (textstats.bpe_apply_col: prefix-separator representation makes SQL
    replace's scan-and-resume semantics exactly the BPE greedy rule) —
    corpus token frequencies under the pinned merge list. The oracle
    replays the identical chain with DuckDB chr(31)/replace, so the full
    token stream (boundaries included) is engine-exact."""
    return TX.bpe_token_frequencies(
        load_table(spark, sf, "documents"), _BPE_FIXED_MERGES
    )


def _bpe_encode_oracle() -> str:
    e = r"regexp_replace(word, '(.)', chr(31) || '\1', 'g')"
    for left, right in _BPE_FIXED_MERGES:
        e = (
            f"replace({e}, chr(31)||'{left}'||chr(31)||'{right}', "
            f"chr(31)||'{left}{right}')"
        )
    return f"""
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
enc AS (SELECT {e} AS e, freq FROM words),
toks AS (SELECT unnest(string_split(e, chr(31))) AS token, freq FROM enc)
SELECT token, CAST(SUM(freq) AS BIGINT) AS freq FROM toks
WHERE token <> ''
GROUP BY token ORDER BY freq DESC, token LIMIT 30
"""


def q_bpe_compression(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language tokenizer fertility under the pinned merge list
    (textstats.bpe_compression): tokens are COUNTED as separator chars
    in the encoded representation — no token arrays anywhere — and the
    oracle replays length-difference arithmetic on the identical
    replace chain."""
    return TX.bpe_compression(
        load_table(spark, sf, "documents"), _BPE_FIXED_MERGES
    )


def _bpe_compression_oracle() -> str:
    e = r"regexp_replace(word, '(.)', chr(31) || '\1', 'g')"
    for left, right in _BPE_FIXED_MERGES:
        e = (
            f"replace({e}, chr(31)||'{left}'||chr(31)||'{right}', "
            f"chr(31)||'{left}{right}')"
        )
    return f"""
WITH wf AS (
  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY lang, word
),
pw AS (
  SELECT lang, freq,
         CAST(length({e})
              - length(replace({e}, chr(31), '')) AS BIGINT)
           AS n_tokens_word
  FROM wf
)
SELECT lang, CAST(SUM(freq) AS BIGINT) AS n_words,
       CAST(SUM(n_tokens_word * freq) AS BIGINT) AS n_tokens,
       CAST(SUM(n_tokens_word * freq) * 1000 // SUM(freq) AS BIGINT)
         AS tokens_per_1000_words
FROM pw GROUP BY lang ORDER BY lang
"""


def q_nb_weights(spark: SparkSession, sf: str) -> DataFrame:
    """In-engine Naive Bayes training: the dense integer fixed-point
    weight matrix (textstats.nb_train) learned from the declared language
    labels — classifier training as pure aggregations."""
    return TX.nb_train(corpus_df(spark, sf), vocab_size=50)


def q_nb_classify(spark: SparkSession, sf: str) -> DataFrame:
    """Train + infer in one plan: per-document argmax label and integer
    score from the broadcast NB model."""
    docs = corpus_df(spark, sf)
    return TX.nb_classify(docs, TX.nb_train(docs, vocab_size=50))


def q_nb_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style declared-vs-model agreement verdict per document."""
    return TX.nb_self_agreement(corpus_df(spark, sf), vocab_size=50)


def q_nb_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability table of the NB classifier (textstats.nb_calibration):
    argmax-vs-runner-up margin binned on the reference's pseudo-log edges
    with per-bin accuracy against the declared language."""
    docs = corpus_df(spark, sf)
    return TX.nb_calibration(docs, TX.nb_train(docs, vocab_size=50))


def q_tfidf_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-3 keywords by integer TF-IDF
    (textstats.tfidf_keywords)."""
    return TX.tfidf_keywords(corpus_df(spark, sf), top_k=3)


def q_language_id(spark: SparkSession, sf: str) -> DataFrame:
    return TX.language_id(corpus_df(spark, sf))


def q_language_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier evaluation: confusion matrix of the declared document
    language vs the stopword-profile prediction (language_id), with the
    summed scores — the calibration table a curation pipeline reads before
    trusting the cheap classifier."""
    docs = corpus_df(spark, sf)
    pred = TX.language_id(docs)
    return (
        docs.select("doc_id", F.col("lang").alias("lang_declared"))
        .join(pred, "doc_id")
        .groupBy("lang_declared", "lang_pred")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("lang_score").cast("long").alias("score_sum"),
        )
        .orderBy("lang_declared", "lang_pred")
    )


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    # xxhash64-based: rows-only
    return TX.fingerprint(corpus_df(spark, sf))


def q_media_features(spark: SparkSession, sf: str) -> DataFrame:
    # mapInPandas plumbing: rows-only
    docs = load_table(spark, sf, "documents")
    return M.extract_features(M.synth_media(docs)).select(
        "doc_id", "media_type", "n_bytes"
    )


def q_media_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Resize plumbing (multimodal.resize_plan). The geometry columns are
    integer-exact JVM arithmetic, so THIS slice has a SQL oracle even
    though the payload transform is the stubbed-decoder fake: the oracle
    recomputes the aspect-preserving fit from synth_media's deterministic
    width/height formulas."""
    docs = load_table(spark, sf, "documents")
    return (
        M.resize_plan(M.synth_media(docs), max_w=224, max_h=224)
        .select("doc_id", "media_type", "width", "height")
        .orderBy("doc_id")
    )


def q_events_windowed(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 300).alias("bucket"),
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("bucket", "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("cents").alias("sum_cents"))
        .orderBy("bucket", "event_type")
    )


def q_events_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time range self-join (streaming/rounds.py:attribution_join —
    the stream-stream join class run here on the static input; the SAME
    plan function drives the watermarked streaming variant, equivalence
    pinned in tests/test_streaming.py)."""
    from ..streaming.rounds import attribution_join

    ev = load_table(spark, sf, "events")
    return attribution_join(ev).orderBy("user_id", "lhs_id", "rhs_id")


SESSION_GAP_S = 1800  # the 30-min rule, shared by both session queries


def _session_flags(ev: DataFrame) -> DataFrame:
    """THE sessionize core (one definition for events_sessionize and
    concurrent_sessions): per event, its epoch and the new-session flag
    under the SESSION_GAP_S rule, ordered by (ts, event_id) per user.
    The ordering window also serves as the running-sid window."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        F.unix_timestamp("ts").alias("epoch"),
        F.lag(F.unix_timestamp("ts")).over(w).alias("prev_epoch"),
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_epoch").isNull()
            | (F.col("epoch") - F.col("prev_epoch") > SESSION_GAP_S),
            1,
        ).otherwise(0),
    )


def q_events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    gaps = _session_flags(load_table(spark, sf, "events"))
    return (
        gaps.groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_frontier_schedule(spark: SparkSession, sf: str) -> DataFrame:
    return first_round_schedule(pages_df(spark, sf))


def q_schedule_politeness(spark: SparkSession, sf: str) -> DataFrame:
    """Politeness audit of the round-1 schedule: per host, the ledger's
    Crawl-delay budget vs what host_bucketed_topk actually scheduled, with
    a ``compliant`` verdict (never over budget; 403-gated hosts scheduled
    nothing). This turns the north rule's politeness guarantee into a
    driver-checkable table instead of a property only unit tests see.

    Scale shape: the schedule is budget-bounded (≤ hosts × max budget) and
    the ledger is host-cardinality; the rollup + left join shuffle on host
    only — nothing here is frontier-sized."""
    from ..frontier.scheduler import host_ledger, url_universe

    pages = pages_df(spark, sf)
    ledger = host_ledger(url_universe(pages))
    per_host = first_round_schedule(pages).groupBy("host").agg(
        F.count("*").cast("long").alias("scheduled"),
        F.max("rank").cast("long").alias("max_rank"),
    )
    zero = F.lit(0).cast("long")
    sched = F.coalesce("scheduled", zero)
    return (
        ledger.join(per_host, "host", "left")
        .select(
            "host",
            F.col("robots_status").cast("long").alias("robots_status"),
            F.col("max_per_round").cast("long").alias("budget"),
            sched.alias("scheduled"),
            F.coalesce("max_rank", zero).alias("max_rank"),
            (
                (sched <= F.col("max_per_round"))
                & ((F.col("robots_status") != 403) | (sched == 0))
            ).alias("compliant"),
        )
        .orderBy("host")
    )


def q_fetcher_assignment(spark: SparkSession, sf: str) -> DataFrame:
    """Fetcher-fleet shard balance of the round-1 schedule: hosts map to
    fetchers on a consistent-hash ring with virtual nodes
    (frontier/capacity.py — politeness stays fetcher-local, fleet resizes
    move only ~1/(N+1) of hosts), then per-fetcher hosts/URLs/permille
    share. The oracle replays the EXACT ring: the md5-prefix point hash is
    computed identically in both engines, so any drift in ring
    construction, successor lookup, or wrap-around hash-mismatches."""
    from ..frontier.capacity import fetcher_load

    return fetcher_load(
        first_round_schedule(pages_df(spark, sf)), n_fetchers=4, vnodes=16
    )


def q_fair_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Exact integer max-min fair (water-filling) split of each fetcher
    shard's round budget across its hosts
    (frontier/capacity.maxmin_fair_allocation — closed-form, no
    iteration: monotone prefix-feasibility predicate + equal split of
    the water remainder with deterministic one-each distribution of the
    integer remainder). The oracle replays the consistent-hash ring AND
    the window-function closed form in DuckDB, so Σalloc ==
    min(budget, Σdemand) per shard is enforced bit-exactly across
    engines."""
    from ..frontier.capacity import fair_budget_allocation

    demands = (
        pages_df(spark, sf)
        .groupBy("host")
        .agg(F.countDistinct("url").alias("demand"))
    )
    return fair_budget_allocation(demands, budget_per_fetcher=1000)


def q_round_makespan(spark: SparkSession, sf: str) -> DataFrame:
    """Round capacity estimate: per-fetcher busy time under the
    single-connection politeness model (host chain = scheduled URLs ×
    Crawl-delay, fetcher busy = Σ chains over its consistent-hash shard)
    with the makespan-critical straggler flagged
    (frontier/capacity.py:round_makespan)."""
    from ..frontier.capacity import round_makespan
    from ..frontier.scheduler import host_ledger, url_universe

    pages = pages_df(spark, sf)
    return round_makespan(
        first_round_schedule(pages),
        host_ledger(url_universe(pages)),
        n_fetchers=4,
        vnodes=16,
    )


def q_schedule_fairness(spark: SparkSession, sf: str) -> DataFrame:
    """Jain's fairness of the round-1 schedule at host and fetcher grain
    (frontier/capacity.py:schedule_fairness) — the allocation-equity
    scalar pair an operator watches alongside the load table."""
    from ..frontier.capacity import schedule_fairness

    return schedule_fairness(
        first_round_schedule(pages_df(spark, sf)), n_fetchers=4, vnodes=16
    )


def q_leakage_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/valid/test split of the page corpus at
    registrable-domain grain (operators/sampling.py:leakage_safe_split):
    per-split units/rows/share plus the computed ``max_splits_per_unit``
    invariant (must be 1 — no domain straddles splits)."""
    from ..operators.sampling import split_summary

    return split_summary(pages_df(spark, sf), unit_col="domain")


def q_robots_decisions(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end robots.txt politeness pipeline (frontier/robots.py): parse
    each host's synthetic robots body with the vectorized RFC 9309 parser,
    derive the ledger (gate status + Crawl-delay budget), and classify every
    distinct URL path against the selected group's Allow/Disallow rules
    (longest-match, wildcards, $ anchor). The oracle recomputes the expected
    decisions from the generative closed form WITHOUT parsing, so any drift
    in group selection, precedence, regex translation, or delay math
    hash-mismatches."""
    pages = pages_df(spark, sf)
    hosts = pages.select("host").distinct()
    rb = RB.synth_robots(hosts)
    ledger = RB.robots_ledger(rb, round_seconds=60, default_budget=1)
    rules = RB.robots_rules(RB.parse_robots(RB.parsable_bodies(rb)))
    urls = pages.select(
        "host",
        F.regexp_extract("url", "^[a-z]+://[^/]+(/.*)$", 1).alias("path"),
    ).distinct()
    dec = RB.robots_decision(urls, rules)
    return (
        # plain equi-join: the ledger is host-cardinality (unbounded at
        # crawl scale) — AQE still broadcasts it when it is actually small
        dec.join(ledger, "host")
        .select(
            "host",
            "robots_status",
            "max_per_round",
            F.when(F.col("robots_status") == 403, F.lit("blocked"))
            .otherwise(F.col("decision"))
            .alias("decision"),
        )
        .groupBy("host", "robots_status", "max_per_round", "decision")
        .agg(F.count("*").cast("long").alias("n_paths"))
    )


def _span_rollup(spans: DataFrame) -> DataFrame:
    """Shared output shape of the two span-dedup flavors: per-source span
    count, duplicated bytes/chars, and documents touched."""
    return (
        spans.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum("span_len").cast("long").alias("dup_chars"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy("source")
    )


def q_dup_spans_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact substring-level dedup (dedup.duplicated_kgram_spans, k=30):
    maximal regions whose every 30-gram occurs >= 2 times corpus-wide,
    rolled up per source. The CORPUS_SQL fixture plants exact-copy docs
    (%17) and prefix-duplicate docs (%13), so both full-doc and partial
    spans are exercised."""
    return _span_rollup(D.duplicated_kgram_spans(corpus_df(spark, sf), k=30))


def q_dup_spans_cdc(spark: SparkSession, sf: str) -> DataFrame:
    """Scale-path span dedup via content-defined chunking (rows-only:
    chunk boundaries come from a rolling hash DuckDB can't express;
    exactness vs the kgram flavor is pinned in tests/test_dedup_spans.py)."""
    return _span_rollup(
        D.cdc_duplicate_spans(corpus_df(spark, sf), min_len=30)
    )


def q_robots_churn(spark: SparkSession, sf: str) -> DataFrame:
    """Robots policy drift between two synthetic epochs
    (frontier/robots.py:robots_policy_churn): per host, budget change and
    allowed/disallowed flips over every known path, both sides through
    the real RFC 9309 parse chain."""
    return RB.robots_policy_churn(pages_df(spark, sf), 0, 1)


def _frontier_graph(spark: SparkSession, sf: str):
    """The deterministic frontier link graph every link-analysis query
    ranks: distinct docs as nodes, edges d -> (2d+1)%N and (3d+7)%N —
    the SAME child formula as scheduler.expand_links and
    synth.outlink_child_ids_sql. One definition so the four consumers
    (pagerank/opic/trustrank-spam/hits) cannot drift from each other or
    from their oracles. Returns (edges, nodes)."""
    pages = pages_df(spark, sf)
    uni = pages.groupBy("url").agg(F.min("doc_id").alias("doc_id"))
    n_docs = uni.count()  # dimension scalar (like scheduler bootstrap)
    ids = uni.select(F.col("doc_id").alias("src"))
    edges = ids.select(
        "src", ((F.col("src") * 2 + 1) % n_docs).alias("dst")
    ).union(
        ids.select("src", ((F.col("src") * 3 + 7) % n_docs).alias("dst"))
    )
    # .distinct() so the Spark node relation matches the oracles' SELECT
    # DISTINCT by construction (doc_id = min over url group is unique
    # today, but a duplicate would double-count in joins only on the
    # Spark side — ADVICE r3)
    return edges, uni.select(F.col("doc_id").alias("node")).distinct()


def _drifted_pages(spark: SparkSession, sf: str):
    """pages + the deterministic content-drift model (doc_id%5==0 gets a
    new digest version every crawl) + arithmetic validator presence
    (doc_id%4!=1) — the shared fixture for recrawl_tiers,
    revalidation_plan and refresh_schedule; the matching oracle CTE is
    _DRIFT_SQL."""
    return pages_df(spark, sf).withColumns(
        {
            "digest": F.concat(
                F.col("digest"),
                F.lit(":"),
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.col("crawl_id").cast("string"),
                ).otherwise(F.lit("0")),
            ),
            "has_validator": F.col("doc_id") % 4 != 1,
        }
    )


def q_pagerank_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-priority PageRank over the frontier's deterministic link graph
    (doc d links to (2d+1)%N and (3d+7)%N — the same graph expand_links
    walks), 3 exact integer fixed-point iterations, top-50 by (rank desc,
    node). Integer math makes the oracle EXACT: the DuckDB side unrolls
    the identical recurrence as three CTE stages — any drift in the
    iteration order, integer division, or dangling handling hash-fails."""
    edges, _ = _frontier_graph(spark, sf)
    return PR.pagerank_top(edges, k=50, n_iter=3)


def q_recrawl_tiers(spark: SparkSession, sf: str) -> DataFrame:
    """Adaptive recrawl scheduling (operators/recrawl.py) rolled up per
    refresh tier. The synthetic pages table's digests are static per URL,
    so a deterministic content-drift model is applied first — hot URLs
    (doc_id%5==0) get a new digest version every crawl, the rest keep
    their original digest — and the oracle applies the identical drift,
    making change counting, the per-url crawl-ordered window, and the
    integer rate math all hash-checked."""
    pages = pages_df(spark, sf).withColumn(
        "digest",
        F.concat(
            F.col("digest"),
            F.lit(":"),
            F.when(
                F.col("doc_id") % 5 == 0, F.col("crawl_id").cast("string")
            ).otherwise(F.lit("0")),
        ),
    )
    tiers = RC.recrawl_tiers(pages)
    return (
        tiers.groupBy("tier")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.sum(F.coalesce(F.col("change_permille"), F.lit(0)))
            .cast("long")
            .alias("sum_change_permille"),
            F.sum("n_changes").cast("long").alias("sum_changes"),
        )
        .orderBy("tier")
    )


def q_sitemap_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap source end-to-end (sources/sitemap.py): render one <urlset>
    document per host from the pages table, parse it back with from_xml,
    and aggregate from the PARSED entries only (url count, freshness,
    priority mass). The oracle recomputes the aggregate straight from
    pages, so XML rendering, schema projection, and the priority decimal
    -> permille conversion are all hash-checked."""
    sm = SM.render_sitemaps(pages_df(spark, sf))
    return (
        SM.parse_sitemaps(sm)
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.max("lastmod").cast("long").alias("max_lastmod"),
            F.sum("priority_permille").cast("long").alias(
                "sum_priority_permille"
            ),
        )
        .orderBy("host")
    )


def q_retry_backoff(spark: SparkSession, sf: str) -> DataFrame:
    """Failure retry/backoff tiers (operators/recrawl.py:failure_backoff):
    consecutive 5xx runs since last success → exponential next-attempt
    delay, integer-exact."""
    return RC.failure_backoff(pages_df(spark, sf))


def q_schedule_domain_politeness(spark: SparkSession, sf: str) -> DataFrame:
    """Registrable-domain politeness scope: CDN/subdomain fan-out must
    not multiply one site's fetch budget, so the budget unit can be the
    DOMAIN — the most permissive member host's budget covers all its
    subdomains. Same one-window top-K, keyed by domain
    (host_bucketed_topk(key_col='domain')); per-domain audit with the
    compliance verdict, oracle-exact."""
    from ..frontier.scheduler import (
        host_bucketed_topk,
        host_ledger,
        seed_frontier,
        url_universe,
    )

    universe = url_universe(pages_df(spark, sf))
    seeds = seed_frontier(universe)
    ledger = host_ledger(universe)
    eligible = seeds.join(F.broadcast(ledger), "host").filter(
        F.col("robots_status") != 403
    )
    # domain-bounded window: a registrable domain's host set is small
    eligible = eligible.withColumn(
        "domain_budget",
        F.max("max_per_round").over(Window.partitionBy("domain")),
    )
    sched = host_bucketed_topk(
        eligible, budget_col="domain_budget", key_col="domain"
    )
    return (
        sched.groupBy("domain")
        .agg(
            F.max("domain_budget").cast("long").alias("budget"),
            F.count("*").cast("long").alias("scheduled"),
            F.max("rank").cast("long").alias("max_rank"),
        )
        .withColumn(
            "compliant", F.col("scheduled") <= F.col("budget")
        )
        .orderBy("domain")
    )


def q_dedup_kept(spark: SparkSession, sf: str) -> DataFrame:
    """Documents surviving exact dedup (canonical = lowest doc_id per
    content digest) — the keep-side counterpart of dedup_exact, via
    dedup.dedup_keep_canonical over the duplicate pair list."""
    corpus = corpus_df(spark, sf)
    groups = D.exact_dedup(corpus)
    pairs = (
        corpus.select(F.md5("text").alias("digest"), "doc_id")
        # plain equi-join: groups is digest-cardinality (corpus-sized at
        # scale) — never force it through the driver; AQE decides
        .join(groups.select("digest", "canonical_doc_id"), "digest")
        .filter(F.col("doc_id") != F.col("canonical_doc_id"))
        .select(
            F.col("canonical_doc_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
    )
    return (
        D.dedup_keep_canonical(corpus, pairs)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
        .orderBy("source")
    )


def q_surt_hll(spark: SparkSession, sf: str) -> DataFrame:
    """A11 sketch flavor: per-SURT-domain HLL sketches over the threshold
    (rows-only — binary Datasketches column has no SQL oracle); threshold
    scaled to the fixture."""
    from ..operators import counts as C

    return (
        C.surt_hll_sketches(pages_df(spark, sf), min_urls=4)
        .select(
            "crawl",
            "surt_domain",
            "urls",
            F.hll_sketch_estimate("url_sketch").cast("long").alias("urls_est"),
        )
        .orderBy("crawl", "surt_domain")
    )


def q_curate_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end curation verdict (dup/quality/language precedence) —
    one scan + one digest shuffle, see textstats.curate_corpus."""
    return TX.curate_corpus(corpus_df(spark, sf))


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 20-per-source corpus sample (sampling.py) — the
    hash-ordered reservoir a training pipeline uses for stable splits."""
    return SA.stratified_sample(corpus_df(spark, sf), k=20)


def q_domain_weights(spark: SparkSession, sf: str) -> DataFrame:
    """√tokens-proportional per-source mixing weights in integer
    permille (sampling.py)."""
    return SA.domain_mixture_weights(corpus_df(spark, sf))


def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 2048-token context windows
    per source (sampling.py)."""
    return SA.pack_sequences(corpus_df(spark, sf), budget=2048)


def q_shard_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Token-balanced training-shard assignment, reported as the
    per-shard balance summary (sampling.py:shard_assignment /
    shard_summary): LPT-flavored round-robin within salt stripes, all
    integer arithmetic, windows bounded by the stripe."""
    return SA.shard_summary(corpus_df(spark, sf), n_shards=8, n_salts=4)


def q_language_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain language-mix report with integer-exact Gini–Simpson
    diversity (operators/counts.py:domain_language_diversity) — the
    mixed-language template-farm signal."""
    from ..operators.counts import domain_language_diversity

    return domain_language_diversity(pages_df(spark, sf), min_pages=10)


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (dedup.py:decontaminate): corpus docs
    sharing any 8-word shingle with a deterministic eval slice
    (base documents with doc_id % 31 = 0) are flagged."""
    corpus = corpus_df(spark, sf)
    eval_set = spark.sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 31 = 0"
    )
    return D.decontaminate(corpus, eval_set, n=8)


def q_repetition_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filters (textstats.py:repetition_scores)."""
    return TX.repetition_scores(corpus_df(spark, sf))


_PII_SUFFIX = " contact bob@example.com via https://example.com/x id 12345678"


def q_pii_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Scrub-target inventory (textstats.py:pii_counts) over the corpus
    with deterministic planted PII on doc_id % 23 = 0 (the synthetic text
    contains none)."""
    corpus = corpus_df(spark, sf).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 23 == 0,
            F.concat(F.col("text"), F.lit(_PII_SUFFIX)),
        ).otherwise(F.col("text")),
    )
    return TX.pii_counts(corpus)


def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """Placeholder redaction rewrite (textstats.py:pii_redact) over the
    same planted-PII corpus as pii_counts; the oracle replays the three
    ordered 'g'-flag regexp_replace passes, so the full rewritten text is
    value-hashed end to end."""
    corpus = corpus_df(spark, sf).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 23 == 0,
            F.concat(F.col("text"), F.lit(_PII_SUFFIX)),
        ).otherwise(F.col("text")),
    )
    return TX.pii_redact(corpus)


def q_robots_sitemap_seeds(spark: SparkSession, sf: str) -> DataFrame:
    """The full seed-discovery chain driver-checked: synthetic robots.txt
    bodies → ``Sitemap:`` directive parse (position-independent,
    cross-group) → advertised-sitemap semi join → XML parse → frontier
    seed rows. The oracle recomputes everything arithmetically (which
    hosts advertise, per-URL priority permille) without parsing robots or
    XML."""
    pages = pages_df(spark, sf)
    robots = RB.synth_robots(pages.select("host").distinct())
    sm = SM.render_sitemaps(pages)
    return SM.seeds_from_sitemaps(
        SM.advertised_sitemaps(robots, sm)
    ).orderBy("url")


def q_host_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Host-level quality rollup → blocklist derivation
    (operators/textstats.py:host_quality_rollup): successful fetches
    joined to their document text, scored per host on content-duplication
    rate and the C4-style text gate. The blocked=1 rows are the frontier
    admission blocklist (frontier/urlfilter.py:apply_host_blocklist);
    tests/test_urlfilter.py checks the anti-join glue."""
    pages = (
        pages_df(spark, sf)
        .filter(F.col("status") == 200)
        .select("host", "digest", "doc_id")
    )
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return TX.host_quality_rollup(pages.join(docs, "doc_id"))


def q_url_filters(spark: SparkSession, sf: str) -> DataFrame:
    """Frontier-admission URL filter chain (frontier/urlfilter.py) over a
    deterministically mutated URL population: each distinct page URL is
    perturbed by md5-bucket into one of seven shapes (clean, .jpg suffix,
    ftp scheme, session param, 25-segment trap, 2100-char tail, .tar.gz)
    so every rule fires. The oracle rebuilds the identical population and
    applies the identical CASE chain (urlfilter.oracle_verdict_sql) —
    rule-list drift hash-mismatches."""
    from ..frontier.urlfilter import url_filter

    urls = pages_df(spark, sf).select("url").distinct()
    h = F.pmod(F.ascii(F.substring(F.md5("url"), 1, 1)), F.lit(7))
    mutated = urls.select(
        F.when(h == 0, F.col("url"))
        .when(h == 1, F.concat(F.col("url"), F.lit(".jpg")))
        .when(
            h == 2,
            F.concat(
                F.lit("ftp://mirror.invalid/"),
                F.length("url").cast("string"),
            ),
        )
        .when(h == 3, F.concat(F.col("url"), F.lit("?phpsessid=deadbeef")))
        .when(h == 4, F.concat(F.col("url"), F.repeat(F.lit("/x"), 25)))
        .when(h == 5, F.concat(F.col("url"), F.repeat(F.lit("a"), 2100)))
        .otherwise(F.concat(F.col("url"), F.lit(".tar.gz")))
        .alias("url")
    )
    return (
        url_filter(mutated)
        .groupBy("verdict")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.min("url").alias("example_url"),
        )
        .orderBy("verdict")
    )


def q_outlinks(spark: SparkSession, sf: str) -> DataFrame:
    """HTML outlink parse + resolution (linkgraph.page_outlinks): Spark
    decodes the html BYTES and regexp-parses anchors in codegen; the
    DuckDB oracle recomputes the expected link set purely arithmetically
    (the fixture's child formula, synth.child_url_sql) without ever seeing
    the html — a hash match proves the whole parse/resolve chain."""
    return LG.page_outlinks(cc_pages_linked_df(spark, sf)).orderBy(
        "url", "outlink"
    )


def q_host_link_graph(spark: SparkSession, sf: str) -> DataFrame:
    return LG.host_link_graph(
        LG.page_outlinks(cc_pages_linked_df(spark, sf))
    )


def q_host_rank(spark: SparkSession, sf: str) -> DataFrame:
    """WEIGHTED PageRank over the host graph parsed out of html bytes —
    the end-to-end host-ranking chain (parse → resolve → host rollup →
    weighted rank, every stage exact): one (src_host, dst_host) edge
    carries n_links parallel hyperlinks, and contributions split
    proportionally ((rank·w) div Σw). Oracle: the link-graph CTE chain
    + the weighted recurrence unrolled."""
    from ..operators import pagerank as PRK

    edges = LG.host_link_graph(
        LG.page_outlinks(cc_pages_linked_df(spark, sf))
    )
    return (
        PRK.pagerank(
            edges,
            n_iter=3,
            src_col="src_host",
            dst_col="dst_host",
            weight_col="n_links",
        )
        .orderBy(F.desc("rank_fp"), F.asc("node"))
        .limit(50)
    )


def q_host_degrees(spark: SparkSession, sf: str) -> DataFrame:
    return LG.host_degree_stats(
        LG.host_link_graph(LG.page_outlinks(cc_pages_linked_df(spark, sf)))
    )


def q_host_components(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components over the host-level web graph (the iterative
    min-label propagation from operators/dedup.py, reused on string host
    labels). The DuckDB oracle computes the same components via a
    RECURSIVE transitive-closure CTE — the only recursive oracle in the
    registry, exercising the iterative-graph class exactly."""
    edges = LG.host_link_graph(
        LG.page_outlinks(cc_pages_linked_df(spark, sf))
    )
    pairs = edges.select(
        F.col("src_host").alias("doc_a"), F.col("dst_host").alias("doc_b")
    )
    return (
        D.connected_components(pairs)
        .select(F.col("doc_id").alias("host"), "component")
        .orderBy("host")
    )


def q_url_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """RFC 3986 syntax normalization as the frontier's alias collapse
    (functions/urlkit.normalize_url — pure RE2-safe codegen chain): five
    deterministic alias classes (synth.messy_url_sql: host case,
    fragment, default port, dot-segments, duplicate slashes) must each
    be exactly restored to the canonical capture URL. The oracle runs
    the IDENTICAL regexp chain in DuckDB (same patterns, same bounded
    unroll), so any divergence in regex semantics or step order
    hash-fails."""
    from ..functions.urlkit import normalize_url
    from ..synth import messy_url_sql

    base = (
        pages_df(spark, sf)
        .select("doc_id", "url", "scheme", "host")
        .distinct()
    )
    m = base.withColumn("messy", F.expr(messy_url_sql()))
    n = m.withColumn("norm", normalize_url(F.col("messy")))
    return (
        n.withColumn(
            "alias_class", F.least(F.col("doc_id") % 13, F.lit(6)).cast("long")
        )
        .groupBy("alias_class")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.sum(F.when(F.col("messy") != F.col("norm"), 1).otherwise(0))
            .cast("long")
            .alias("n_changed"),
            F.sum(F.when(F.col("norm") == F.col("url"), 1).otherwise(0))
            .cast("long")
            .alias("n_restored"),
        )
        .orderBy("alias_class")
    )


def _url_normalize_oracle(max_dot_segments: int = 8) -> str:
    from ..functions.urlkit import NOT_DOTDOT_SEG
    from ..synth import messy_url_sql

    seg = NOT_DOTDOT_SEG
    dot_stages = []
    prev = "s5"
    for i in range(max_dot_segments):
        dot_stages.append(
            f"d{i} AS (SELECT doc_id, url, messy, origin, q,\n"
            f"  regexp_replace(regexp_replace(p, '/{seg}/\\.\\./', '/',"
            f" 'g'), '^/\\.\\./', '/') AS p FROM {prev})"
        )
        prev = f"d{i}"
    dots = ",\n".join(dot_stages)
    return oracle_cte(
        f"""
, base AS (SELECT DISTINCT doc_id, url, scheme, host FROM pages),
mm AS (SELECT doc_id, url, {messy_url_sql()} AS messy FROM base),
s0 AS (SELECT doc_id, url, messy,
  regexp_replace(messy, '#.*$', '') AS u FROM mm),
s1 AS (SELECT doc_id, url, messy,
  lower(regexp_extract(u, '^([^:]+://[^/?#]*)', 1))
    || substr(u,
              length(regexp_extract(u, '^([^:]+://[^/?#]*)', 1)) + 1)
    AS u FROM s0),
s2 AS (SELECT doc_id, url, messy,
  regexp_replace(regexp_replace(u,
    '^(http://[^/:?#]+):80([/?#]|$)', '\\1\\2'),
    '^(https://[^/:?#]+):443([/?#]|$)', '\\1\\2') AS u FROM s1),
s3 AS (SELECT doc_id, url, messy,
  regexp_extract(u, '^([^:]+://[^/?#]*)', 1) AS origin,
  regexp_extract(substr(u,
    length(regexp_extract(u, '^([^:]+://[^/?#]*)', 1)) + 1),
    '^([^?]*)', 1) AS p,
  substr(substr(u,
    length(regexp_extract(u, '^([^:]+://[^/?#]*)', 1)) + 1),
    length(regexp_extract(substr(u,
      length(regexp_extract(u, '^([^:]+://[^/?#]*)', 1)) + 1),
      '^([^?]*)', 1)) + 1) AS q
  FROM s2),
s4 AS (SELECT doc_id, url, messy, origin, q,
  regexp_replace(regexp_replace(regexp_replace(p, '//+', '/', 'g'),
    '/\\./', '/', 'g'), '/\\./', '/', 'g') AS p FROM s3),
s5 AS (SELECT doc_id, url, messy, origin, q,
  regexp_replace(p, '/\\.$', '/') AS p FROM s4),
{dots},
fin AS (SELECT doc_id, url, messy,
  origin || regexp_replace(regexp_replace(p, '/{seg}/\\.\\.$', '/'),
    '^/\\.\\.$', '/') || q AS norm FROM {prev})
SELECT CAST(LEAST(doc_id % 13, 6) AS BIGINT) AS alias_class,
  CAST(COUNT(*) AS BIGINT) AS n_urls,
  CAST(SUM(CASE WHEN messy <> norm THEN 1 ELSE 0 END) AS BIGINT)
    AS n_changed,
  CAST(SUM(CASE WHEN norm = url THEN 1 ELSE 0 END) AS BIGINT)
    AS n_restored
FROM fin GROUP BY 1 ORDER BY 1
"""
    )


def q_hits(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs & authorities (operators/hits.py, Kleinberg 1999) — the
    mutual-reinforcement link-analysis class, 3 exact max-normalized
    integer iterations over the frontier's deterministic graph, top-50
    by authority. Oracle unrolls both half-recurrences with their scalar
    max CTEs."""
    from ..operators.hits import hits_top

    edges, nodes = _frontier_graph(spark, sf)
    return hits_top(edges, nodes, n_iter=3, k=50)


def _hits_oracle(n_iter: int = 3, k: int = 50) -> str:
    ctes = [
        ", uni AS (SELECT MIN(doc_id) AS doc_id FROM pages GROUP BY url)",
        "n AS (SELECT COUNT(*) AS n_docs FROM uni)",
        "nodes AS (SELECT DISTINCT doc_id AS node FROM uni)",
        "edges AS (\n"
        "  SELECT doc_id AS src, (2 * doc_id + 1) % n_docs AS dst"
        " FROM uni, n\n"
        "  UNION ALL\n"
        "  SELECT doc_id AS src, (3 * doc_id + 7) % n_docs AS dst"
        " FROM uni, n)",
        "a0 AS (SELECT node, CAST(1000000 AS BIGINT) AS auth"
        " FROM nodes)",
    ]
    for i in range(n_iter):
        ctes.append(
            f"hr{i} AS (SELECT edges.src, SUM(auth) AS raw"
            f" FROM edges JOIN a{i} ON a{i}.node = edges.dst"
            f" GROUP BY edges.src)"
        )
        ctes.append(
            f"hm{i} AS (SELECT COALESCE(GREATEST(MAX(raw), 1), 1) AS m"
            f" FROM hr{i})"
        )
        ctes.append(
            f"h{i} AS (SELECT node,"
            f" CAST(COALESCE(raw, 0) * 1000000 // m AS BIGINT) AS hub"
            f" FROM nodes LEFT JOIN hr{i} ON node = src, hm{i})"
        )
        ctes.append(
            f"ar{i} AS (SELECT edges.dst, SUM(hub) AS raw"
            f" FROM edges JOIN h{i} ON h{i}.node = edges.src"
            f" GROUP BY edges.dst)"
        )
        ctes.append(
            f"am{i} AS (SELECT COALESCE(GREATEST(MAX(raw), 1), 1) AS m"
            f" FROM ar{i})"
        )
        ctes.append(
            f"a{i + 1} AS (SELECT node,"
            f" CAST(COALESCE(raw, 0) * 1000000 // m AS BIGINT) AS auth"
            f" FROM nodes LEFT JOIN ar{i} ON node = dst, am{i})"
        )
    last_h, last_a = n_iter - 1, n_iter
    body = ",\n".join(ctes) + (
        f"\nSELECT h.node, h.hub AS hub_fp, a.auth AS auth_fp"
        f" FROM h{last_h} h JOIN a{last_a} a ON h.node = a.node"
        f" ORDER BY auth_fp DESC, hub_fp DESC, h.node LIMIT {k}"
    )
    return oracle_cte(body)


def q_soft404(spark: SparkSession, sf: str) -> DataFrame:
    """Soft-404 exposure per host (textstats.soft404_host_rates,
    Bar-Yossef 2004): the fixture injects deterministic error-page
    bodies (doc_id % 31 == 0 texts get a 'Page not found' prefix) onto
    200-status captures; the codegen pattern flag and the host rollup
    are replayed arithmetically by the oracle."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    pages = pages_df(spark, sf).join(docs, "doc_id").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 31 == 0,
            F.concat(F.lit("Page not found - "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    return TX.soft404_host_rates(pages)


def q_politeness_backoff(spark: SparkSession, sf: str) -> DataFrame:
    """Server-pressure politeness backoff
    (frontier/politeness.server_pressure_backoff): a deterministic
    overload model (site%5==3 hosts answer 429 on every third fetch,
    site%5==1 hosts 503 on every sixth) layered on the fixture's status
    histogram drives the integer backoff tiers against the parsed robots
    ledger. Oracle replays the overload model, the pressure ratio and
    the tier arithmetic against the ledger's closed form."""
    from ..frontier.politeness import server_pressure_backoff
    from ..frontier.scheduler import host_ledger, url_universe

    pages = pages_df(spark, sf)
    site_id = F.regexp_extract(F.col("host"), "site([0-9]+)", 1).cast("int")
    stressed = pages.withColumn(
        "status",
        F.when((site_id % 5 == 3) & (F.col("doc_id") % 3 == 0), 429)
        .when((site_id % 5 == 1) & (F.col("doc_id") % 6 == 0), 503)
        .otherwise(F.col("status")),
    )
    return server_pressure_backoff(
        stressed, host_ledger(url_universe(pages))
    )


def q_robots_cache(spark: SparkSession, sf: str) -> DataFrame:
    """robots.txt cache freshness worklist (frontier/robots.py:
    robots_cache_status — RFC 9309 §2.4 24h caching): per host
    missing/stale/fresh against the deterministic corpus clock, the
    refetch-due flag driving the politeness prefetch. Oracle recomputes
    the robots subset, corpus clock and TTL classes arithmetically."""
    return RB.robots_cache_status(pages_df(spark, sf))


def q_refresh_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """The refresh ROUND PLANNER (operators/recrawl.refresh_round_plan):
    change-rate tiers pick the due set, the consistent-hash ring +
    max-min water-fill cap each host, revalidation classes mark which
    scheduled fetches go conditional — the whole adaptive-recrawl loop
    composed from already-exact operators, with the COMPOSITION itself
    oracle-checked (drift model, tier windows, ring, water-fill and the
    per-host selection rank all replayed in one DuckDB query)."""
    return RC.refresh_round_plan(
        _drifted_pages(spark, sf), budget_per_fetcher=25
    )


def q_spam_mass(spark: SparkSession, sf: str) -> DataFrame:
    """TrustRank + spam mass (operators/pagerank.trustrank/spam_mass,
    Gyöngyi 2004): trust teleports only to the arithmetic seed set
    (doc_id % 17 == 0), 3 exact integer iterations of BOTH propagation
    systems over the frontier's deterministic link graph, integer-
    permille uncovered-rank screen. Oracle unrolls the two recurrences
    side by side."""
    from ..operators.pagerank import spam_mass

    edges, nodes = _frontier_graph(spark, sf)
    seeds = nodes.filter(F.col("node") % 17 == 0)
    return (
        spam_mass(edges, seeds, nodes=nodes, n_iter=3)
        .orderBy(
            F.desc("spam_mass_permille"), F.desc("rank_fp"), F.asc("node")
        )
        .limit(50)
    )


def _spam_mass_oracle(n_iter: int = 3, k: int = 50) -> str:
    """Unroll PageRank AND TrustRank recurrences side by side."""
    ctes = [
        ", uni AS (SELECT MIN(doc_id) AS doc_id FROM pages GROUP BY url)",
        "n AS (SELECT COUNT(*) AS n_docs FROM uni)",
        "nodes AS (SELECT DISTINCT doc_id AS node, doc_id % 17 = 0"
        " AS is_seed FROM uni)",
        "edges AS (\n"
        "  SELECT doc_id AS src, (2 * doc_id + 1) % n_docs AS dst"
        " FROM uni, n\n"
        "  UNION ALL\n"
        "  SELECT doc_id AS src, (3 * doc_id + 7) % n_docs AS dst"
        " FROM uni, n)",
        "outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges"
        " GROUP BY src)",
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_fp"
        " FROM nodes)",
        # normalized static score distribution: seed base × N/|S|
        "ns AS (SELECT COUNT(*) AS n_seeds FROM nodes WHERE is_seed)",
        "t0 AS (SELECT node, CAST(CASE WHEN is_seed"
        " THEN (1000000 * n_docs) // n_seeds"
        " ELSE 0 END AS BIGINT) AS trust_fp FROM nodes, n, ns)",
    ]
    for i in range(n_iter):
        ctes.append(
            f"rm{i} AS (SELECT dst, SUM(rank_fp // outdeg) AS mass"
            f" FROM edges JOIN outdeg USING (src)"
            f" JOIN r{i} ON r{i}.node = edges.src GROUP BY dst)"
        )
        ctes.append(
            f"r{i + 1} AS (SELECT node, CAST(150000"
            f" + (COALESCE(mass, 0) * 85) // 100 AS BIGINT) AS rank_fp"
            f" FROM nodes LEFT JOIN rm{i} ON node = dst)"
        )
        ctes.append(
            f"tm{i} AS (SELECT dst, SUM(trust_fp // outdeg) AS mass"
            f" FROM edges JOIN outdeg USING (src)"
            f" JOIN t{i} ON t{i}.node = edges.src GROUP BY dst)"
        )
        ctes.append(
            f"t{i + 1} AS (SELECT node, CAST(CASE WHEN is_seed"
            f" THEN (150000 * n_docs) // n_seeds ELSE 0 END"
            f" + (COALESCE(mass, 0) * 85) // 100 AS BIGINT) AS trust_fp"
            f" FROM nodes LEFT JOIN tm{i} ON node = dst, n, ns)"
        )
    body = ",\n".join(ctes) + (
        f"\nSELECT r.node, r.rank_fp, t.trust_fp,\n"
        f"  CAST((r.rank_fp - LEAST(t.trust_fp, r.rank_fp)) * 1000"
        f" // r.rank_fp AS BIGINT) AS spam_mass_permille\n"
        f"FROM r{n_iter} r JOIN t{n_iter} t ON r.node = t.node\n"
        f"ORDER BY spam_mass_permille DESC, r.rank_fp DESC, r.node"
        f" LIMIT {k}"
    )
    return oracle_cte(body)


def q_revalidation_plan(spark: SparkSession, sf: str) -> DataFrame:
    """HTTP conditional-revalidation planning
    (operators/recrawl.revalidation_plan): the recrawl_tiers drift model
    (doc_id%5==0 drifts every crawl) + an arithmetic validator presence
    (doc_id%4!=1 advertised ETag/Last-Modified on its latest capture)
    drive per-host conditional/risky/unconditional classes and the
    conditional_permille bandwidth read. Oracle replays drift, validator
    and the url-history window arithmetically."""
    return RC.revalidation_plan(_drifted_pages(spark, sf))


def q_opic_priority(spark: SparkSession, sf: str) -> DataFrame:
    """OPIC adaptive crawl priority (operators/opic.py — Abiteboul 2003,
    the Nutch scoring model): 3 fetch rounds over the frontier's
    deterministic link graph with a round-robin fetched set
    (node % 3 == round % 3), exact integer cash/hist accounting incl.
    remainder-carrying virtual root. Top-50 by accumulated importance.
    The DuckDB oracle unrolls the identical recurrence (generated by the
    same Python loop that can unroll any round count), so any drift in
    remainder homes, pool redistribution, or fetched-set selection
    hash-fails."""
    from ..operators.opic import opic_top

    edges, nodes = _frontier_graph(spark, sf)
    return opic_top(
        edges, nodes, n_rounds=3,
        fetched_sql=lambda r: f"node % 3 = {r % 3}", k=50,
    )


def _opic_oracle(n_rounds: int = 3, k: int = 50) -> str:
    """Unroll the exact OPIC recurrence as DuckDB CTEs (same structure
    as the pagerank_priority oracle, plus the carry chain)."""
    ctes = [
        ", uni AS (SELECT MIN(doc_id) AS doc_id FROM pages GROUP BY url)",
        "n AS (SELECT COUNT(*) AS n_docs FROM uni)",
        "edges AS (\n"
        "  SELECT doc_id AS src, (2 * doc_id + 1) % n_docs AS dst"
        " FROM uni, n\n"
        "  UNION ALL\n"
        "  SELECT doc_id AS src, (3 * doc_id + 7) % n_docs AS dst"
        " FROM uni, n)",
        "outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges"
        " GROUP BY src)",
        "s0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS cash,"
        " CAST(0 AS BIGINT) AS hist, outdeg"
        " FROM uni LEFT JOIN outdeg ON doc_id = src)",
        # carry starts at zero
        "c0 AS (SELECT CAST(0 AS BIGINT) AS carry)",
    ]
    for r in range(n_rounds):
        f = f"(s{r}.node % 3 = {r % 3})"
        ctes.append(
            f"p{r} AS (SELECT COALESCE(SUM(s{r}.cash), 0)"
            f" + (SELECT carry FROM c{r}) AS pool"
            f" FROM s{r} WHERE {f} AND s{r}.outdeg IS NULL)"
        )
        ctes.append(
            f"m{r} AS (SELECT edges.dst,"
            f" SUM(s{r}.cash // s{r}.outdeg) AS gain"
            f" FROM edges JOIN s{r} ON s{r}.node = edges.src"
            f" WHERE {f} AND s{r}.outdeg IS NOT NULL GROUP BY edges.dst)"
        )
        ctes.append(
            f"s{r + 1} AS (SELECT s{r}.node,\n"
            f"  CAST(CASE WHEN {f} THEN"
            f" CASE WHEN s{r}.outdeg IS NOT NULL"
            f" THEN s{r}.cash % s{r}.outdeg ELSE 0 END"
            f" ELSE s{r}.cash END"
            f" + COALESCE(m{r}.gain, 0)"
            f" + (SELECT pool FROM p{r}) // (SELECT n_docs FROM n)"
            f" AS BIGINT) AS cash,\n"
            f"  CAST(s{r}.hist + CASE WHEN {f} THEN s{r}.cash"
            f" ELSE 0 END AS BIGINT) AS hist, s{r}.outdeg\n"
            f"  FROM s{r} LEFT JOIN m{r} ON s{r}.node = m{r}.dst)"
        )
        ctes.append(
            f"c{r + 1} AS (SELECT CAST((SELECT pool FROM p{r})"
            f" % (SELECT n_docs FROM n) AS BIGINT) AS carry)"
        )
    body = ",\n".join(ctes) + (
        f"\nSELECT node, cash AS cash_fp, hist AS hist_fp,"
        f" CAST(cash + hist AS BIGINT) AS importance_fp"
        f" FROM s{n_rounds}"
        f" ORDER BY importance_fp DESC, node LIMIT {k}"
    )
    return oracle_cte(body)


def q_meta_robots(spark: SparkSession, sf: str) -> DataFrame:
    """REP meta-robots census (operators/rep_gate.meta_robots_stats):
    Spark parses <meta name="robots"> out of the html BYTES and reduces
    the directive token list (incl. the 'none' alias and no-op
    'index, follow'/'all' lists) to (noindex, nofollow) flags in codegen;
    the DuckDB oracle recomputes the flags arithmetically from the
    fixture's directive formula (synth.rep_meta_robots_sql) without
    seeing the html — a hash match proves the whole parse + token
    semantics chain."""
    from ..operators.rep_gate import meta_robots_stats
    from ..sources.cc_pages import cc_pages_rep_df

    return meta_robots_stats(cc_pages_rep_df(spark, sf))


def q_nofollow_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Host link graph honoring both nofollow tiers (page-level meta
    directive + per-anchor rel="nofollow") — the edge set a polite
    crawler's discovery actually follows. Oracle: the linked-fixture
    child formula with the two arithmetic nofollow rules applied
    (synth.rep_anchor_nofollow_sql / REP_NOFOLLOW_SQL)."""
    from ..operators.linkgraph import host_link_graph, page_outlinks_rel
    from ..sources.cc_pages import cc_pages_rep_df

    return host_link_graph(page_outlinks_rel(cc_pages_rep_df(spark, sf)))


def q_canonical_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """rel=canonical dedup groups (operators/rep_gate.canonical_groups):
    Spark parses <link rel="canonical"> from the html bytes, resolves it
    like any href, and aggregates captures onto their canonical credit
    line. Oracle: the fixture's canonical-group formula
    (synth.rep_canonical_sql) recomputed arithmetically."""
    from ..operators.rep_gate import canonical_groups
    from ..sources.cc_pages import cc_pages_rep_df

    return canonical_groups(cc_pages_rep_df(spark, sf))


def q_concurrent_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Range-join class: sessions (from the same 30-min-gap sessionize
    CTE as events_sessionize) containment-joined to 24 probe instants
    via the bucketized rewrite (operators/asof.py:interval_point_join),
    reported as concurrent-session counts per instant. Oracle: DuckDB
    plans the BETWEEN predicate natively (IEJoin) — like asof_capture,
    the composition is checked against an independent first-class
    range-join implementation."""
    from ..operators.asof import interval_point_join

    g = _session_flags(load_table(spark, sf, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sid = (
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid")
    )
    sessions = (
        g.select("user_id", F.col("epoch").alias("e"), sid)
        .groupBy("user_id", "sid")
        .agg(
            F.min("e").alias("start_s"),
            F.max("e").alias("end_s"),
        )
    )
    probes = spark.range(24).select(
        (F.lit(1704067200) + F.col("id") * 108000).cast("long").alias("t")
    )
    pairs = interval_point_join(sessions, probes)
    active = pairs.groupBy("t").agg(
        F.count("*").cast("long").alias("n_active")
    )
    return (
        probes.join(active, "t", "left")
        .select(
            "t",
            F.coalesce("n_active", F.lit(0)).cast("long").alias("n_active"),
        )
        .orderBy("t")
    )


def q_warc_gzip_index(spark: SparkSession, sf: str) -> DataFrame:
    """Per-record-gzip WARC member index (sources/warc.py:
    warc_gzip_members — CC's real shipping layout, compressed-byte
    (offset, length) addressing). Rows-only: member lengths are gzip
    outputs no SQL engine recomputes; byte-identity against written .gz
    files is pinned in tests/test_warc.py."""
    from ..sources.warc import warc_gzip_members

    return (
        warc_gzip_members(pages_df(spark, sf))
        .drop("member")
        .orderBy("warc_filename", "warc_record_offset")
    )


def q_sitemap_sharded(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap-index chain end-to-end (sources/sitemap.py): shard every
    host's URL set into ≤10-entry <urlset> files + a <sitemapindex>,
    parse the INDEX, join each advertised shard_loc to its fetched
    document (loc render/parse drift would empty the join), parse the
    shards, and report per host (n_shards, n_urls, last_mod). The oracle
    recomputes all three arithmetically — ceil(count/10), distinct URL
    count, max fetch_ts — without ever seeing the XML."""
    from ..sources.sitemap import (
        parse_sitemap_index,
        parse_sitemaps,
        render_sitemap_shards,
    )

    shards, index = render_sitemap_shards(pages_df(spark, sf), max_urls=10)
    idx = parse_sitemap_index(index)
    fetched = idx.join(
        shards.select("shard_loc", "sitemap_xml"), "shard_loc"
    )
    entries = parse_sitemaps(fetched)
    per_host = entries.groupBy("host").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.max("lastmod").cast("long").alias("last_mod"),
    )
    n_shards = idx.groupBy("host").agg(
        F.count("*").cast("long").alias("n_shards")
    )
    return (
        per_host.join(n_shards, "host")
        .select("host", "n_shards", "n_urls", "last_mod")
        .orderBy("host")
    )


def q_sitemap_stale(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap-driven refresh end-to-end (operators/recrawl.py:
    stale_captures): pages with doc_id%3==1 get their fetch timestamps
    advertised 3600 s newer, the perturbed state flows through the REAL
    XML render/parse chain (sources/sitemap.py), and the staleness join
    against the unperturbed capture log must flag exactly that cohort.
    Oracle recomputes advertised/captured arithmetically — render or
    parse drift breaks value parity (same design as sitemap_sharded)."""
    from ..operators.recrawl import stale_captures
    from ..sources.sitemap import parse_sitemaps, render_sitemaps

    pages = pages_df(spark, sf)
    future = pages.withColumn(
        "fetch_ts",
        F.col("fetch_ts")
        + F.when(F.col("doc_id") % 3 == 1, 3600).otherwise(0),
    )
    entries = parse_sitemaps(render_sitemaps(future))
    per_url = stale_captures(entries, pages)
    return per_url.groupBy("host").agg(
        F.count("*").cast("long").alias("n_advertised"),
        F.sum(F.col("stale").cast("long")).cast("long").alias("n_stale"),
        F.max("lag_s").cast("long").alias("max_lag_s"),
    )


def q_host_fetch_gaps(spark: SparkSession, sf: str) -> DataFrame:
    """Adaptive politeness: per-host observed inter-fetch gap stats and
    the suggested crawl delay (operators/recrawl.py:observed_host_gaps)
    — the empirical complement to the robots.txt-declared Crawl-delay
    the ledger parses."""
    return RC.observed_host_gaps(pages_df(spark, sf), min_fetches=3)


# boilerplate fixture: inject a per-source nav header (7 words + the source
# token = exactly one 8-word unit) in front of every document, so each
# source has one unit at 100% document share. Dialect-neutral (|| concat).
BOILER_CORPUS_SQL = """
SELECT doc_id, lang, source,
       'nav home about contact copyright notice for ' || source || ' '
         || text AS text
FROM documents
"""


def q_boilerplate_strip(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source boilerplate-unit removal (operators/dedup.py:
    boilerplate_strip) over the header-injected corpus: the injected nav
    unit appears in every document of its source (share 1000 permille ≥
    the 600 threshold) and must vanish from all of them; the word-salad
    body units stay. Oracle recomputes the full frequency/threshold/
    reassembly chain in DuckDB."""
    load_table(spark, sf, "documents").createOrReplaceTempView("documents")
    return D.boilerplate_strip(
        spark.sql(BOILER_CORPUS_SQL),
        group_col="source",
        unit_words=8,
        min_share_permille=600,
    )


def q_url_templates(spark: SparkSession, sf: str) -> DataFrame:
    """Empirical trap mining (frontier/urlfilter.py:mine_url_templates)
    over a trap-injected URL population: hosts whose docs satisfy
    doc_id%3==0 (a fixed 40 of the 120 fixture hosts — doc_id≡host
    residue mod 120 and 120≡0 mod 3) get 16 /cal/<n>/<n>/<n> URLs per
    doc, a multi-placeholder template dominating the host; the base
    /page/<n>.html template has one placeholder and must never flag.
    Oracle rebuilds the same population with UNNEST(range())."""
    from ..frontier.urlfilter import mine_url_templates

    pages = pages_df(spark, sf)
    extra = (
        pages.filter(F.col("doc_id") % 3 == 0)
        .select(
            "host",
            "scheme",
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(15))).alias("i"),
        )
        .select(
            "host",
            F.concat(
                F.col("scheme"),
                F.lit("://"),
                F.col("host"),
                F.lit("/cal/"),
                (F.lit(2000) + F.col("i") % 30).cast("string"),
                F.lit("/"),
                (F.col("i") % 12).cast("string"),
                F.lit("/"),
                (F.col("doc_id") * 16 + F.col("i")).cast("string"),
            ).alias("url"),
        )
    )
    pop = pages.select("host", "url").unionByName(extra)
    return mine_url_templates(pop, min_urls=10, share_permille=500)


def q_host_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Per-crawl volume-concentration scalars
    (operators/counts.py:concentration_stats): exact integer-permille
    Gini over pages-per-host plus the top-decile page share — computed
    on the frequency-compressed (crawl, count-value, frequency)
    distribution so no unbounded window. Oracle replays the grouped-rank
    identities in DuckDB."""
    from ..operators.counts import concentration_stats

    return concentration_stats(pages_df(spark, sf), dim_col="host")


def q_bitext_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Bitext URL-pair mining (operators/bitext.py) over a localized URL
    population: every distinct (host, doc, lang) gets /{lang}/ and /en/
    variants of its page URL, so each non-English document yields
    exactly one (xx, en) candidate pair and English documents collapse
    to a single variant (no self-pair). Oracle rebuilds the population
    and the extract/collapse/self-join chain in DuckDB ('g'-flag
    regexp)."""
    from ..operators.bitext import language_variant_pairs

    base = pages_df(spark, sf).select(
        "scheme",
        "host",
        "doc_id",
        F.split("languages", ",").getItem(0).alias("lang"),
    ).distinct()
    variants = (
        base.select(
            "scheme",
            "host",
            "doc_id",
            F.explode(F.array(F.col("lang"), F.lit("en"))).alias("seg"),
        )
        .select(
            F.concat(
                F.col("scheme"),
                F.lit("://"),
                F.col("host"),
                F.lit("/"),
                F.col("seg"),
                F.lit("/page/"),
                F.col("doc_id").cast("string"),
                F.lit(".html"),
            ).alias("url")
        )
        .distinct()
    )
    return language_variant_pairs(variants)


def q_compression_ratios(spark: SparkSession, sf: str) -> DataFrame:
    """zlib redundancy signal (textstats.compression_ratios) over the
    duplicate-injected corpus. Rows-only: DuckDB has no zlib; exactness
    vs direct zlib and the repetitive-vs-prose ordering are pinned in
    tests/test_vocabulary.py."""
    from ..operators.textstats import compression_ratios

    return compression_ratios(corpus_df(spark, sf))


def q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Good–Turing coverage per language (textstats.vocab_coverage) over
    the documents table: missing mass N1/N, hapax/doubleton counts,
    type-token ratio — integer permille. Oracle recomputes the frequency
    table and rollup in DuckDB."""
    from ..operators.textstats import vocab_coverage

    return vocab_coverage(load_table(spark, sf, "documents"))


def q_host_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-crawl volume outliers
    (operators/counts.py:robust_host_outliers): hosts whose page count
    deviates from the crawl median by > 3×MAD, both medians integer-
    exact off frequency-compressed histograms. The fixture's echo/extra-
    slot hosts flag against its MAD=0 majority (the degenerate
    convention); the MAD>0 path is pinned in tests/test_counts.py."""
    from ..operators.counts import robust_host_outliers

    return robust_host_outliers(pages_df(spark, sf), k_mad=3)


def q_token_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """Token-bucket politeness gate (frontier/politeness.py): every page
    request folded through the per-host bucket (capacity 1800 mtok,
    refill 1 mtok/s, cost 1000 mtok — so a second request within ~200 s
    of an admitted one is denied; on the fixture that denies exactly the
    +1 s duplicate echoes), summarized per host. ``admitted_ts_sum`` is
    an order-sensitive fingerprint: flipping any single admission
    verdict changes it. Oracle: DuckDB recursive CTE replaying the same
    integer milli-token fold."""
    from ..frontier.politeness import token_bucket_gate

    gated = token_bucket_gate(pages_df(spark, sf))
    return gated.groupBy("host").agg(
        F.count("*").cast("long").alias("n_requests"),
        F.sum(F.col("admitted").cast("long")).cast("long").alias("n_admitted"),
        F.sum((~F.col("admitted")).cast("long")).cast("long").alias("n_denied"),
        F.sum(F.when(F.col("admitted"), F.col("fetch_ts")))
        .cast("long")
        .alias("admitted_ts_sum"),
        F.min(F.when(~F.col("admitted"), F.col("fetch_ts")))
        .cast("long")
        .alias("first_denied_ts"),
    )


def q_stats_accumulate(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-statistics maintenance
    (frontier/scheduler.py:sketched_round_statistics +
    merge_round_statistics): per-crawl stats emitted independently (one
    frame per crawl, as rounds would), folded by the algebraic merge,
    must equal a direct single-pass computation over all pages — the
    property that lets a 100 TB deployment accumulate its stats table
    round-over-round without rescanning history. Driver compares the
    exact sum-merged columns; the sketch-union identity (merged HLL
    estimate == direct estimate) is pinned in tests/test_frontier.py."""
    from ..frontier.scheduler import (
        merge_round_statistics,
        sketched_round_statistics,
    )

    pages = pages_df(spark, sf)
    # the crawl dimension is ≤126 rows by construction — driver-side
    # collect of the partition list is the bounded-dim exception
    crawls = sorted(
        r[0] for r in pages.select("crawl").distinct().collect()
    )
    parts = [
        sketched_round_statistics(pages.filter(F.col("crawl") == c))
        for c in crawls
    ]
    merged = merge_round_statistics(*parts)
    return merged.select("type", "key", "pages", "urls").orderBy(
        "type", "key"
    )


def q_adaptive_token_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """The adaptive-politeness loop closed end-to-end: observed_host_gaps'
    suggested delay becomes each host's bucket refill
    (refill = max(1, 1000 DIV delay) mtok/s — one 1000-mtok fetch per
    observed-sustainable interval), and the query contrasts the fixed
    gate with the adaptive one per host. On the fixture the echo hosts
    (min observed gap 1 s → refill 1000) re-admit their +1 s duplicate
    bursts; every other host keeps the default pace — so denied_fixed >
    denied_adaptive exactly on the proven-fast cohort. Oracle: ONE
    recursive walk carrying both bucket states."""
    from ..frontier.politeness import token_bucket_gate

    pages = pages_df(spark, sf)
    params = RC.observed_host_gaps(pages, min_fetches=3).select(
        "host",
        F.expr(
            "GREATEST(CAST(1 AS BIGINT), 1000 DIV suggested_delay_s)"
        ).alias("refill_mtok_per_s"),
    )
    fixed = (
        token_bucket_gate(pages)
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_requests"),
            F.sum((~F.col("admitted")).cast("long"))
            .cast("long")
            .alias("denied_fixed"),
        )
    )
    adaptive = (
        token_bucket_gate(pages, params=params)
        .groupBy("host")
        .agg(
            F.sum((~F.col("admitted")).cast("long"))
            .cast("long")
            .alias("denied_adaptive"),
        )
    )
    return (
        fixed.join(adaptive, "host")
        .join(params, "host", "left")
        .select(
            "host",
            "n_requests",
            "denied_fixed",
            "denied_adaptive",
            F.coalesce(
                F.col("refill_mtok_per_s"), F.lit(1).cast("long")
            ).alias("refill_mtok_per_s"),
        )
    )


def q_asof_capture(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time capture lookup (operators/asof.py): for every
    distinct URL probed at two fixed instants, the latest capture with
    fetch_ts <= probe ts — LEFT semantics (292/500 fixture URLs have no
    capture at the first probe). The DuckDB oracle uses the NATIVE
    ASOF LEFT JOIN, so the Spark union-tag composition is checked
    against an independent first-class implementation."""
    from ..operators.asof import asof_latest_capture

    pages = pages_df(spark, sf)
    caps = pages.select("url", "fetch_ts", "crawl", "digest")
    urls = pages.select("url", "doc_id").distinct()
    t = spark.createDataFrame(
        [(0, 1711670400), (1, 1714089600)], "k long, ts long"
    )
    probes = urls.join(F.broadcast(t)).select(
        (F.col("doc_id") * 2 + F.col("k")).alias("probe_id"), "url", "ts"
    )
    return asof_latest_capture(caps, probes)


def q_host_harmonic(spark: SparkSession, sf: str) -> DataFrame:
    """Exact bounded-radius harmonic centrality over the host web graph
    (linkgraph.bounded_harmonic_centrality) in the Common Crawl ranking
    convention — centrality of v sums ⌊10⁶/d⌋ over INCOMING shortest
    paths, hence the src/dst swap. Oracle: DuckDB RECURSIVE walk CTE with
    MIN-distance reduction, exact integer parity."""
    edges = LG.host_link_graph(
        LG.page_outlinks(cc_pages_linked_df(spark, sf))
    )
    return LG.bounded_harmonic_centrality(
        edges, radius=4, src_col="dst_host", dst_col="src_host"
    )


def q_host_hyperball(spark: SparkSession, sf: str) -> DataFrame:
    """HyperBall harmonic centrality (HLL ball iteration) — the scale
    path next to q_host_harmonic's exact verifier. Sketch output:
    rows-only for the driver; tests/test_linkgraph.py pins agreement
    with the exact form on the fixture graph."""
    edges = LG.host_link_graph(
        LG.page_outlinks(cc_pages_linked_df(spark, sf))
    )
    return LG.hyperball_harmonic(
        edges, radius=4, src_col="dst_host", dst_col="src_host"
    )


def q_hyperball_registers_exact(spark: SparkSession, sf: str) -> DataFrame:
    """HyperBall's register propagation verified exactly: portable-hash
    per-node registers max-combined over the same reversed-edge ball
    recurrence as q_host_hyperball, radius 2
    (linkgraph.hyperball_registers_portable); the oracle unrolls the two
    iterations as CTEs."""
    edges = LG.host_link_graph(
        LG.page_outlinks(cc_pages_linked_df(spark, sf))
    )
    return LG.hyperball_registers_portable(
        edges, radius=2, src_col="dst_host", dst_col="src_host"
    )


def q_anchor_texts(spark: SparkSession, sf: str) -> DataFrame:
    """Anchor-text aggregation driver-checked end-to-end: each page's html
    is synthesized in codegen with two labeled anchors (nav-/rec- of the
    deterministic children), parsed back by the two-field anchor
    extractor (functions/links.py:parse_anchors_col), and aggregated to
    the top anchor texts per target host. The oracle reconstructs the
    expected (host, text) multiset purely arithmetically — parse drift
    breaks value parity."""
    from ..synth import child_url_sql

    p = pages_df(spark, sf)
    n = load_table(spark, sf, "documents").count()
    base = p.select("url", "doc_id").distinct()
    c1, c2 = f"(doc_id*2+1) % {n}", f"(doc_id*3+7) % {n}"
    html = F.concat(
        F.lit('<html><body><a href="'),
        F.expr(child_url_sql(c1)),
        F.lit('">nav-'),
        F.expr(f"CAST({c1} AS STRING)"),
        F.lit('</a><a href="'),
        F.expr(child_url_sql(c2)),
        F.lit('" rel="x">rec-'),
        F.expr(f"CAST({c2} AS STRING)"),
        F.lit("</a></body></html>"),
    )
    anchored = base.select(F.encode(html, "UTF-8").alias("html"))
    return LG.anchor_text_stats(anchored, top_k=2)


def q_redirect_resolve(spark: SparkSession, sf: str) -> DataFrame:
    """Redirect-chain resolution over the fixture's deterministic 301
    edges (doc d redirects to doc (11d+5) mod N, the child-url formula):
    pointer-jumping joins in Spark vs a bounded RECURSIVE walk in DuckDB
    — hop counts, terminal URLs, and the unresolved/cycle flag must all
    agree exactly."""
    from ..operators.redirects import resolve_redirects
    from ..synth import child_url_sql

    p = pages_df(spark, sf)
    n = load_table(spark, sf, "documents").count()
    src = p.filter(F.col("status") == 301).select("url", "doc_id").distinct()
    edges = src.select(
        F.col("url").alias("src"),
        F.expr(child_url_sql(f"(doc_id*11+5) % {n}")).alias("dst"),
    )
    return resolve_redirects(edges, max_hops=8)


def q_host_degree_histogram(spark: SparkSession, sf: str) -> DataFrame:
    return LG.host_degree_histogram(
        LG.host_link_graph(LG.page_outlinks(cc_pages_linked_df(spark, sf)))
    )


# CCNet-style perplexity filter (operators/lm.py): the reference slice is
# the deterministic "trusted" subset lang='en' AND doc_id % 5 = 0; the
# quality threshold 3500 milli-nats sits at the fixture's median
# cross-entropy so the split exercises both branches.
_LM_REF_FILTER = "lang = 'en' AND doc_id % 5 = 0"
_LM_THRESHOLD_MNAT = 3500


def q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (operators/dsir.py) with the LM module's
    trusted slice as the target distribution: every document's integer
    log importance under the hashed unigram+bigram target/raw contrast
    (rank-selected downstream — see dsir_weights' no-absolute-threshold
    note). Oracle replays the full chain — portable md5 bucket
    arithmetic, smoothing, DOUBLE-cast op order — in DuckDB."""
    from ..operators import dsir as DS

    d = load_table(spark, sf, "documents")
    return DS.dsir_weights(d, d.filter(_LM_REF_FILTER))


def q_lm_bigram_weights(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import lm as LM

    d = load_table(spark, sf, "documents")
    return LM.lm_train_bigram(d.filter(_LM_REF_FILTER)).orderBy("w1", "w2")


def q_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import lm as LM

    d = load_table(spark, sf, "documents")
    return LM.lm_cross_entropy(d, d.filter(_LM_REF_FILTER)).orderBy("doc_id")


def q_lm_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import lm as LM

    d = load_table(spark, sf, "documents")
    return LM.lm_quality_partition(
        d, d.filter(_LM_REF_FILTER), threshold_mnat=_LM_THRESHOLD_MNAT
    )


PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "lm_bigram_weights": q_lm_bigram_weights,
    "dsir_weights": q_dsir_weights,
    "lm_perplexity": q_lm_perplexity,
    "lm_quality_filter": q_lm_quality_filter,
    "robots_decisions": q_robots_decisions,
    "robots_churn": q_robots_churn,
    "pagerank_priority": q_pagerank_priority,
    "recrawl_tiers": q_recrawl_tiers,
    "sitemap_roundtrip": q_sitemap_roundtrip,
    "curate_corpus": q_curate_corpus,
    "stratified_sample": q_stratified_sample,
    "domain_weights": q_domain_weights,
    "pack_sequences": q_pack_sequences,
    "shard_summary": q_shard_summary,
    "language_diversity": q_language_diversity,
    "decontaminate": q_decontaminate,
    "pii_counts": q_pii_counts,
    "pii_redact": q_pii_redact,
    "repetition_scores": q_repetition_scores,
    "dedup_exact": q_dedup_exact,
    "unit_dedup": q_unit_dedup,
    "dup_spans_exact": q_dup_spans_exact,
    "dup_spans_cdc": q_dup_spans_cdc,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh": q_minhash_lsh,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "embedding_near_dup": q_embedding_near_dup,
    "ann_topk": q_ann_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "semdedup": q_semdedup,
    "curation_funnel": q_curation_funnel,
    "token_stats": q_token_stats,
    "quality_scores": q_quality_scores,
    "vocabulary": q_vocabulary,
    "bpe_merges": q_bpe_merges,
    "bpe_encode": q_bpe_encode,
    "bpe_compression": q_bpe_compression,
    "length_percentiles": q_length_percentiles,
    "length_percentiles_approx": q_length_percentiles_approx,
    "cms_host_freq": q_cms_host_freq,
    "weighted_sample": q_weighted_sample,
    "language_id": q_language_id,
    "language_confusion": q_language_confusion,
    "nb_weights": q_nb_weights,
    "nb_classify": q_nb_classify,
    "nb_agreement": q_nb_agreement,
    "nb_calibration": q_nb_calibration,
    "tfidf_keywords": q_tfidf_keywords,
    "fingerprint": q_fingerprint,
    "media_features": q_media_features,
    "media_resize": q_media_resize,
    "events_windowed": q_events_windowed,
    "events_attribution": q_events_attribution,
    "events_sessionize": q_events_sessionize,
    "frontier_schedule": q_frontier_schedule,
    "schedule_politeness": q_schedule_politeness,
    "schedule_domain_politeness": q_schedule_domain_politeness,
    "fetcher_assignment": q_fetcher_assignment,
    "fair_budget": q_fair_budget,
    "round_makespan": q_round_makespan,
    "schedule_fairness": q_schedule_fairness,
    "leakage_split": q_leakage_split,
    "retry_backoff": q_retry_backoff,
    "dedup_kept": q_dedup_kept,
    "surt_hll": q_surt_hll,
    "outlinks": q_outlinks,
    "host_link_graph": q_host_link_graph,
    "host_rank": q_host_rank,
    "host_components": q_host_components,
    "meta_robots": q_meta_robots,
    "nofollow_graph": q_nofollow_graph,
    "canonical_dedup": q_canonical_dedup,
    "opic_priority": q_opic_priority,
    "revalidation_plan": q_revalidation_plan,
    "spam_mass": q_spam_mass,
    "refresh_schedule": q_refresh_schedule,
    "robots_cache": q_robots_cache,
    "politeness_backoff": q_politeness_backoff,
    "soft404": q_soft404,
    "hits_scores": q_hits,
    "url_normalize": q_url_normalize,
    "asof_capture": q_asof_capture,
    "token_bucket": q_token_bucket,
    "adaptive_token_bucket": q_adaptive_token_bucket,
    "stats_accumulate": q_stats_accumulate,
    "boilerplate_strip": q_boilerplate_strip,
    "url_templates": q_url_templates,
    "host_concentration": q_host_concentration,
    "host_outliers": q_host_outliers,
    "vocab_coverage": q_vocab_coverage,
    "bitext_pairs": q_bitext_pairs,
    "compression_ratios": q_compression_ratios,
    "host_fetch_gaps": q_host_fetch_gaps,
    "sitemap_stale": q_sitemap_stale,
    "concurrent_sessions": q_concurrent_sessions,
    "sitemap_sharded": q_sitemap_sharded,
    "warc_gzip_index": q_warc_gzip_index,
    "host_harmonic": q_host_harmonic,
    "host_hyperball": q_host_hyperball,
    "hyperball_registers_exact": q_hyperball_registers_exact,
    "redirect_resolve": q_redirect_resolve,
    "anchor_texts": q_anchor_texts,
    "host_degrees": q_host_degrees,
    "host_degree_histogram": q_host_degree_histogram,
    "robots_sitemap_seeds": q_robots_sitemap_seeds,
    "url_filters": q_url_filters,
    "host_quality": q_host_quality,
}

# ---------------------------------------------------------------------------
# link-graph oracles: arithmetic ground truth — DuckDB derives the expected
# edges from doc_id arithmetic (never parsing html), Spark parses the html
# bytes; hash equality proves parse + resolution end-to-end.
# ---------------------------------------------------------------------------

_LINKS_CTE = f"""
, nd AS (SELECT COUNT(*) AS n FROM documents),
base AS (SELECT DISTINCT doc_id, url, scheme, host FROM pages),
links AS (
  SELECT url, {child_url_sql('(doc_id*2+1) % n')} AS outlink FROM base, nd
  UNION ALL
  SELECT url, {child_url_sql('(doc_id*3+7) % n')} AS outlink FROM base, nd
  UNION ALL
  SELECT url, scheme || '://' || host || '/page/' ||
         CAST((doc_id*5+3) % n AS STRING) || '.html' AS outlink
  FROM base, nd
),
dlinks AS (SELECT DISTINCT url, outlink FROM links)
"""

_EDGES_CTE = _LINKS_CTE + """
, edges AS (
  SELECT split_part(split_part(url, '://', 2), '/', 1) AS src_host,
         split_part(split_part(outlink, '://', 2), '/', 1) AS dst_host
  FROM dlinks
),
egrp AS (
  SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
  FROM edges GROUP BY src_host, dst_host
)
"""

# rel-aware link CTE: the linked fixture's child formula with BOTH
# arithmetic nofollow rules applied — page-level meta nofollow drops the
# whole base row, per-anchor rel=nofollow drops its UNION branch.
_REP_EDGES_CTE = f"""
, nd AS (SELECT COUNT(*) AS n FROM documents),
base AS (SELECT DISTINCT doc_id, url, scheme, host FROM pages
         WHERE NOT {REP_NOFOLLOW_SQL}),
links AS (
  SELECT url, {child_url_sql('(doc_id*2+1) % n')} AS outlink FROM base, nd
  WHERE NOT {rep_anchor_nofollow_sql('doc_id', 0)}
  UNION ALL
  SELECT url, {child_url_sql('(doc_id*3+7) % n')} AS outlink FROM base, nd
  WHERE NOT {rep_anchor_nofollow_sql('doc_id', 1)}
  UNION ALL
  SELECT url, scheme || '://' || host || '/page/' ||
         CAST((doc_id*5+3) % n AS STRING) || '.html' AS outlink
  FROM base, nd WHERE NOT {rep_anchor_nofollow_sql('doc_id', 2)}
),
dlinks AS (SELECT DISTINCT url, outlink FROM links),
edges AS (
  SELECT split_part(split_part(url, '://', 2), '/', 1) AS src_host,
         split_part(split_part(outlink, '://', 2), '/', 1) AS dst_host
  FROM dlinks
),
egrp AS (
  SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
  FROM edges GROUP BY src_host, dst_host
)
"""

_REP_ORACLES: dict[str, str] = {
    "meta_robots": oracle_cte(
        f"""
, flags AS (
  SELECT url, {REP_NOINDEX_SQL} AS noindex, {REP_NOFOLLOW_SQL} AS nofollow
  FROM pages
)
SELECT noindex, nofollow, CAST(COUNT(*) AS BIGINT) AS pages,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS urls
FROM flags GROUP BY noindex, nofollow ORDER BY noindex, nofollow
"""
    ),
    "nofollow_graph": oracle_cte(
        _REP_EDGES_CTE
        + "SELECT src_host, dst_host, n_links FROM egrp "
        "ORDER BY src_host, dst_host"
    ),
    "canonical_dedup": oracle_cte(
        f"""
, base AS (SELECT DISTINCT doc_id, url FROM pages),
c AS (SELECT url, {rep_canonical_sql('doc_id')} AS canonical FROM base),
d AS (SELECT DISTINCT canonical AS canonical_url, url FROM c
      WHERE canonical IS NOT NULL)
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(SUM(CASE WHEN url <> canonical_url THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup
FROM d GROUP BY canonical_url ORDER BY canonical_url
"""
    ),
}

_LINK_PLOG_BIN = (
    "CAST((CASE WHEN CAST(FLOOR(v / p10) AS BIGINT) >= 5 THEN 5 "
    "WHEN CAST(FLOOR(v / p10) AS BIGINT) >= 2 THEN 2 "
    "ELSE 1 END) * p10 AS BIGINT)"
)

def _hyperball_registers_oracle() -> str:
    """Unrolled 2-iteration HyperBall register recurrence over the
    reversed host graph (q_hyperball_registers_exact): r0 = each node's
    own portable-hash register; r_{d} = max(r_{d-1}, in-neighbors'
    r_{d-1}) per bucket."""
    from ..functions.porthash import porthash_sql

    h = porthash_sql("node")
    step = """
r{d} AS (
  SELECT node, bucket, MAX(mr) AS mr FROM (
    SELECT node, bucket, mr FROM r{p}
    UNION ALL
    SELECT e.src AS node, r.bucket, r.mr
    FROM e JOIN r{p} r ON r.node = e.dst
  ) GROUP BY node, bucket
)"""
    return oracle_cte(
        _EDGES_CTE
        + f"""
, e AS (
  SELECT DISTINCT dst_host AS src, src_host AS dst FROM edges
  WHERE src_host <> dst_host
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, ({h}) AS h FROM nodes),
r0 AS (
  SELECT node, h % 64 AS bucket,
         CASE WHEN h // 64 = 0 THEN 25
              ELSE 25 - LENGTH(bin(h // 64)) END AS mr
  FROM h0
),{step.format(d=1, p=0)},{step.format(d=2, p=1)}
SELECT node, CAST(bucket AS BIGINT) AS bucket, CAST(mr AS BIGINT) AS max_rho
FROM r2 ORDER BY node, bucket
"""
    )


_LINKGRAPH_ORACLES: dict[str, str] = {
    "hyperball_registers_exact": _hyperball_registers_oracle(),
    "outlinks": oracle_cte(
        _LINKS_CTE + "SELECT url, outlink FROM dlinks ORDER BY url, outlink"
    ),
    "host_rank": oracle_cte(
        _EDGES_CTE
        + """
, gnodes AS (
  SELECT src_host AS node FROM egrp
  UNION SELECT dst_host FROM egrp
),
wout AS (SELECT src_host, SUM(n_links) AS wout FROM egrp
         GROUP BY src_host),
hr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_fp FROM gnodes),
hm1 AS (SELECT e.dst_host AS dst,
               SUM((r.rank_fp * e.n_links) // w.wout) AS mass
        FROM egrp e JOIN wout w ON e.src_host = w.src_host
        JOIN hr0 r ON r.node = e.src_host GROUP BY e.dst_host),
hr1 AS (SELECT n.node, CAST(150000 + (COALESCE(mass, 0) * 85) // 100
          AS BIGINT) AS rank_fp
        FROM gnodes n LEFT JOIN hm1 ON n.node = hm1.dst),
hm2 AS (SELECT e.dst_host AS dst,
               SUM((r.rank_fp * e.n_links) // w.wout) AS mass
        FROM egrp e JOIN wout w ON e.src_host = w.src_host
        JOIN hr1 r ON r.node = e.src_host GROUP BY e.dst_host),
hr2 AS (SELECT n.node, CAST(150000 + (COALESCE(mass, 0) * 85) // 100
          AS BIGINT) AS rank_fp
        FROM gnodes n LEFT JOIN hm2 ON n.node = hm2.dst),
hm3 AS (SELECT e.dst_host AS dst,
               SUM((r.rank_fp * e.n_links) // w.wout) AS mass
        FROM egrp e JOIN wout w ON e.src_host = w.src_host
        JOIN hr2 r ON r.node = e.src_host GROUP BY e.dst_host),
hr3 AS (SELECT n.node, CAST(150000 + (COALESCE(mass, 0) * 85) // 100
          AS BIGINT) AS rank_fp
        FROM gnodes n LEFT JOIN hm3 ON n.node = hm3.dst)
SELECT node, rank_fp FROM hr3 ORDER BY rank_fp DESC, node LIMIT 50
"""
    ),
    "host_link_graph": oracle_cte(
        _EDGES_CTE
        + "SELECT src_host, dst_host, n_links FROM egrp "
        "ORDER BY src_host, dst_host"
    ),
    "host_degrees": oracle_cte(
        _EDGES_CTE
        + """
, outd AS (
  SELECT src_host AS host, CAST(COUNT(*) AS BIGINT) AS out_degree,
         CAST(SUM(n_links) AS BIGINT) AS out_links
  FROM egrp GROUP BY src_host
),
ind AS (
  SELECT dst_host AS host, CAST(COUNT(*) AS BIGINT) AS in_degree
  FROM egrp GROUP BY dst_host
)
SELECT host,
       CAST(COALESCE(out_degree, 0) AS BIGINT) AS out_degree,
       CAST(COALESCE(out_links, 0) AS BIGINT) AS out_links,
       CAST(COALESCE(in_degree, 0) AS BIGINT) AS in_degree
FROM outd FULL OUTER JOIN ind USING (host) ORDER BY host
"""
    ),
    "anchor_texts": oracle_cte(
        f"""
, nd AS (SELECT COUNT(*) AS n FROM documents),
base AS (SELECT DISTINCT doc_id FROM pages),
an AS (
  SELECT {child_host_sql('(doc_id*2+1) % n')} AS dst_host,
         'nav-' || CAST((doc_id*2+1) % n AS STRING) AS anchor_text
  FROM base, nd
  UNION ALL
  SELECT {child_host_sql('(doc_id*3+7) % n')},
         'rec-' || CAST((doc_id*3+7) % n AS STRING)
  FROM base, nd
),
agg AS (
  SELECT dst_host, anchor_text, CAST(COUNT(*) AS BIGINT) AS n
  FROM an GROUP BY dst_host, anchor_text
)
SELECT dst_host, anchor_text, n, rank FROM (
  SELECT dst_host, anchor_text, n,
    CAST(ROW_NUMBER() OVER (PARTITION BY dst_host
         ORDER BY n DESC, anchor_text) AS BIGINT) AS rank
  FROM agg
) WHERE rank <= 2 ORDER BY dst_host, rank
"""
    ),
    # bounded-walk redirect resolution needs WITH RECURSIVE too
    "redirect_resolve": oracle_cte(
        f"""
, nd AS (SELECT COUNT(*) AS n FROM documents),
rsrc AS (
  SELECT DISTINCT url AS src, (doc_id*11+5) % n AS dst_doc
  FROM pages, nd WHERE status = 301
),
redges AS (SELECT src, {child_url_sql('dst_doc')} AS dst FROM rsrc),
rec AS (
  SELECT src AS url, dst AS final_url, 1 AS hops FROM redges
  UNION ALL
  SELECT w.url, e.dst, w.hops + 1
  FROM rec w JOIN redges e ON w.final_url = e.src
  WHERE w.hops < 8
)
SELECT url, final_url, CAST(hops AS BIGINT) AS hops,
  CAST(CASE WHEN final_url IN (SELECT src FROM redges) THEN 0 ELSE 1 END
       AS BIGINT) AS resolved
FROM rec r
QUALIFY hops = MAX(hops) OVER (PARTITION BY url)
ORDER BY url
"""
    ).replace("WITH pages", "WITH RECURSIVE pages", 1),
    # transitive closure needs WITH RECURSIVE; non-recursive CTEs coexist
    "host_components": oracle_cte(
        _EDGES_CTE
        + """
, nodes AS (
  SELECT src_host AS host FROM egrp UNION SELECT dst_host FROM egrp
),
und AS (
  SELECT src_host AS a, dst_host AS b FROM egrp
  UNION
  SELECT dst_host AS a, src_host AS b FROM egrp
),
rec AS (
  SELECT host, host AS label FROM nodes
  UNION
  SELECT u.b AS host, r.label FROM rec r JOIN und u ON u.a = r.host
)
SELECT host, MIN(label) AS component FROM rec GROUP BY host ORDER BY host
"""
    ).replace("WITH pages", "WITH RECURSIVE pages", 1),
    "media_resize": """
WITH m AS (
  SELECT doc_id,
    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
    END AS media_type,
    CAST(doc_id % 1920 + 1 AS BIGINT) AS w,
    CAST(doc_id % 1080 + 1 AS BIGINT) AS h
  FROM documents
),
f AS (
  SELECT doc_id, media_type, w, h,
    LEAST(1000000,
          CAST(FLOOR(224 * 1000000 / w) AS BIGINT),
          CAST(FLOOR(224 * 1000000 / h) AS BIGINT)) AS fit
  FROM m WHERE media_type IN ('image', 'video')
)
SELECT doc_id, media_type,
  CAST(GREATEST(1, CAST(FLOOR(w * fit / 1000000.0) AS BIGINT)) AS INT)
    AS width,
  CAST(GREATEST(1, CAST(FLOOR(h * fit / 1000000.0) AS BIGINT)) AS INT)
    AS height
FROM f ORDER BY doc_id
""",
    "sitemap_sharded": oracle_cte(
        """
, u AS (SELECT host, url, MAX(fetch_ts) AS lastmod FROM pages GROUP BY host, url),
h AS (
  SELECT host, COUNT(*) AS n_urls, MAX(lastmod) AS last_mod
  FROM u GROUP BY host
)
SELECT host,
       CAST(CEIL(n_urls / 10.0) AS BIGINT) AS n_shards,
       CAST(n_urls AS BIGINT) AS n_urls,
       CAST(last_mod AS BIGINT) AS last_mod
FROM h ORDER BY host
"""
    ),
    # concentration: grouped-rank Gini identity, integer floor division
    "host_concentration": oracle_cte(
        """
, per AS (SELECT crawl, host, COUNT(*) AS x FROM pages GROUP BY crawl, host),
hist AS (SELECT crawl, x, COUNT(*) AS f FROM per GROUP BY crawl, x),
cum AS (
  SELECT crawl, x, f,
         SUM(f) OVER (PARTITION BY crawl ORDER BY x) AS cf
  FROM hist
),
agg AS (
  SELECT crawl, SUM(f) AS n, SUM(x * f) AS s,
         SUM(x * f * (2 * cf - f + 1)) AS t2
  FROM cum GROUP BY crawl
),
top AS (
  SELECT c.crawl,
         SUM(c.x * GREATEST(0, LEAST(c.f,
             c.cf - (a.n - (a.n + 9) // 10)))) AS top_pages
  FROM cum c JOIN agg a USING (crawl) GROUP BY c.crawl
)
SELECT a.crawl,
       CAST(a.n AS BIGINT) AS n_hosts,
       CAST(a.s AS BIGINT) AS total_pages,
       CAST((a.t2 - (a.n + 1) * a.s) * 1000 // (a.n * a.s) AS BIGINT)
         AS gini_permille,
       CAST(t.top_pages * 1000 // a.s AS BIGINT)
         AS top_decile_share_permille
FROM agg a JOIN top t USING (crawl)
ORDER BY a.crawl
"""
    ),
    # bitext: same variant population + extract/collapse/self-join chain
    "bitext_pairs": oracle_cte(
        """
, base AS (SELECT DISTINCT scheme, host, doc_id,
                  string_split(languages, ',')[1] AS lang FROM pages),
pop AS (
  SELECT DISTINCT scheme || '://' || host || '/' || seg || '/page/'
         || CAST(doc_id AS STRING) || '.html' AS url
  FROM (
    SELECT scheme, host, doc_id, lang AS seg FROM base
    UNION ALL
    SELECT scheme, host, doc_id, 'en' AS seg FROM base
  )
),
t AS (
  SELECT DISTINCT
         regexp_extract(url, '/__LANGSEG__/', 1) AS lang,
         regexp_replace(url, '/__LANGSEG__/', '/<lang>/', 'g') AS key,
         url AS u
  FROM pop
  WHERE regexp_extract(url, '/__LANGSEG__/', 1) <> ''
)
SELECT a.key, a.lang AS lang_a, a.u AS url_a,
       b.lang AS lang_b, b.u AS url_b
FROM t a JOIN t b ON a.key = b.key AND a.lang < b.lang
"""
    ).replace("__LANGSEG__", BITEXT_LANG_SEG),
    # Good-Turing coverage: same whitespace tokenization as vocabulary
    "vocab_coverage": """
WITH toks AS (
  SELECT lang, doc_id, tok AS token
  FROM documents,
       LATERAL (SELECT unnest(list_filter(str_split(text, ' '),
                                          x -> x <> '')) AS tok) u
),
freq AS (
  SELECT lang, token, COUNT(*) AS c FROM toks GROUP BY lang, token
),
agg AS (
  SELECT lang,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
  FROM freq GROUP BY lang
)
SELECT lang, n_tokens, n_types, n_hapax, n_dis,
       CAST(n_hapax * 1000 // n_tokens AS BIGINT) AS missing_mass_permille,
       CAST(n_types * 1000 // n_tokens AS BIGINT) AS type_token_permille
FROM agg ORDER BY lang
""",
    # robust outliers: both medians off frequency-compressed histograms
    "host_outliers": oracle_cte(
        """
, per AS (SELECT crawl, host, COUNT(*) AS x FROM pages GROUP BY crawl, host),
hist AS (SELECT crawl, x, COUNT(*) AS f FROM per GROUP BY crawl, x),
cum AS (
  SELECT crawl, x, f,
         SUM(f) OVER (PARTITION BY crawl ORDER BY x) AS cf,
         SUM(f) OVER (PARTITION BY crawl) AS n
  FROM hist
),
med AS (
  SELECT crawl, CAST(MIN(x) AS BIGINT) AS med
  FROM cum WHERE 2 * cf >= n GROUP BY crawl
),
dev AS (
  SELECT h.crawl, ABS(h.x - m.med) AS d, SUM(h.f) AS f
  FROM hist h JOIN med m USING (crawl) GROUP BY 1, 2
),
dcum AS (
  SELECT crawl, d, f,
         SUM(f) OVER (PARTITION BY crawl ORDER BY d) AS cf,
         SUM(f) OVER (PARTITION BY crawl) AS n
  FROM dev
),
mad AS (
  SELECT crawl, CAST(MIN(d) AS BIGINT) AS mad
  FROM dcum WHERE 2 * cf >= n GROUP BY crawl
)
SELECT p.crawl, p.host, CAST(p.x AS BIGINT) AS x, m.med, a.mad
FROM per p JOIN med m USING (crawl) JOIN mad a USING (crawl)
WHERE ABS(p.x - m.med) > 3 * a.mad
ORDER BY p.crawl, p.host
"""
    ),
    # url templates: same trap population via UNNEST(range()); DuckDB
    # regexp_replace needs the 'g' flag for the global digit collapse
    "url_templates": oracle_cte(
        """
, pop AS (
  SELECT host, url FROM pages
  UNION ALL
  SELECT p.host,
         p.scheme || '://' || p.host || '/cal/'
           || CAST(2000 + r.i % 30 AS STRING) || '/'
           || CAST(r.i % 12 AS STRING) || '/'
           || CAST(p.doc_id * 16 + r.i AS STRING) AS url
  FROM pages p, UNNEST(range(16)) AS r(i)
  WHERE p.doc_id % 3 = 0
),
u AS (SELECT DISTINCT host, url FROM pop),
t AS (
  SELECT host,
         regexp_replace(
           regexp_replace(url, '^https?://[^/]+', ''),
           '[0-9]+', '<n>', 'g') AS template
  FROM u
),
per_t AS (
  SELECT host, template, COUNT(*) AS n_urls FROM t GROUP BY host, template
),
tot AS (SELECT host, SUM(n_urls) AS host_urls FROM per_t GROUP BY host)
SELECT p.host, p.template,
       CAST(p.n_urls AS BIGINT) AS n_urls,
       CAST(t.host_urls AS BIGINT) AS host_urls,
       CAST((length(p.template)
             - length(replace(p.template, '<n>', ''))) // 3 AS BIGINT)
         AS n_placeholders,
       ((length(p.template)
          - length(replace(p.template, '<n>', ''))) // 3 >= 2
        AND p.n_urls >= 10
        AND p.n_urls * 1000 >= 500 * t.host_urls) AS trap
FROM per_t p JOIN tot t USING (host)
"""
    ),
    # boilerplate: full frequency/threshold/reassembly chain recomputed
    "boilerplate_strip": f"""WITH corpus AS ({BOILER_CORPUS_SQL})
, docs AS (SELECT doc_id, source, string_split(text, ' ') AS words
           FROM corpus),
units AS (
  SELECT doc_id, source,
         CAST(ceil(len(words) / 8.0) AS BIGINT) AS n_units,
         CAST(i AS BIGINT) AS pos,
         array_to_string(words[i*8+1 : i*8+8], ' ') AS unit
  FROM docs,
       UNNEST(range(CAST(ceil(len(words) / 8.0) AS BIGINT))) AS t(i)
),
gsize AS (SELECT source, COUNT(*) AS g_docs FROM corpus GROUP BY source),
udocs AS (
  SELECT source, unit, COUNT(DISTINCT doc_id) AS u_docs
  FROM units GROUP BY source, unit
),
boiler AS (
  SELECT u.source, u.unit
  FROM udocs u JOIN gsize g USING (source)
  WHERE u.u_docs >= 2 AND u.u_docs * 1000 >= 600 * g.g_docs
),
kept AS (
  SELECT un.doc_id, un.pos, un.unit
  FROM units un
  LEFT JOIN boiler b ON un.source = b.source AND un.unit = b.unit
  WHERE b.unit IS NULL
),
rebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_units,
         string_agg(unit, ' ' ORDER BY pos) AS new_text
  FROM kept GROUP BY doc_id
),
base AS (SELECT doc_id, MAX(n_units) AS n_units FROM units GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n_units AS BIGINT) AS n_units,
       CAST(COALESCE(r.kept_units, 0) AS BIGINT) AS kept_units,
       COALESCE(r.new_text, '') AS new_text
FROM base b LEFT JOIN rebuilt r USING (doc_id)
""",
    # token bucket: recursive replay of the integer milli-token fold
    # (capacity 1800, refill 1/s, cost 1000; base case 1800-1000=800)
    "token_bucket": oracle_cte(
        """
, ordered AS (
  SELECT host, url, CAST(fetch_ts AS BIGINT) AS ts,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY fetch_ts, url) AS rn
  FROM pages
),
walk AS (
  SELECT host, rn, ts, TRUE AS admitted, CAST(800 AS BIGINT) AS tokens_after
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.host, o.rn, o.ts,
         LEAST(CAST(1800 AS BIGINT), w.tokens_after + (o.ts - w.ts) * 1)
           >= 1000 AS admitted,
         CASE WHEN LEAST(CAST(1800 AS BIGINT),
                         w.tokens_after + (o.ts - w.ts) * 1) >= 1000
              THEN LEAST(CAST(1800 AS BIGINT),
                         w.tokens_after + (o.ts - w.ts) * 1) - 1000
              ELSE LEAST(CAST(1800 AS BIGINT),
                         w.tokens_after + (o.ts - w.ts) * 1)
         END AS tokens_after
  FROM walk w JOIN ordered o ON o.host = w.host AND o.rn = w.rn + 1
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_requests,
       CAST(SUM(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_admitted,
       CAST(SUM(CASE WHEN admitted THEN 0 ELSE 1 END) AS BIGINT)
         AS n_denied,
       CAST(SUM(CASE WHEN admitted THEN ts END) AS BIGINT)
         AS admitted_ts_sum,
       CAST(MIN(CASE WHEN NOT admitted THEN ts END) AS BIGINT)
         AS first_denied_ts
FROM walk GROUP BY host
"""
    ).replace("WITH pages", "WITH RECURSIVE pages", 1),
    # sitemap staleness: advertised/captured recomputed arithmetically
    "sitemap_stale": oracle_cte(
        """
, cap AS (
  SELECT host, url, MAX(fetch_ts) AS last_fetch, MAX(doc_id) AS d
  FROM pages GROUP BY host, url
),
adv AS (
  SELECT host, url, last_fetch,
         last_fetch + CASE WHEN d % 3 = 1 THEN 3600 ELSE 0 END AS advertised
  FROM cap
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_advertised,
       CAST(SUM(CASE WHEN advertised - last_fetch >= 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_stale,
       CAST(MAX(advertised - last_fetch) AS BIGINT) AS max_lag_s
FROM adv GROUP BY host
"""
    ),
    # mergeable stats: direct melt over ALL pages — equality with the
    # per-crawl merge path proves the fold is lossless
    "stats_accumulate": oracle_cte(
        """
, melted AS (
  SELECT 'size' AS type, 'global' AS key, url FROM pages
  UNION ALL SELECT 'host', host, url FROM pages
  UNION ALL SELECT 'domain', domain, url FROM pages
  UNION ALL SELECT 'tld', tld, url FROM pages
  UNION ALL SELECT 'mimetype', mime_detected, url FROM pages
  UNION ALL
  SELECT 'primary_language', string_split(languages, ',')[1], url FROM pages
  UNION ALL SELECT 'http_status', CAST(status AS STRING), url FROM pages
)
SELECT type, key,
       CAST(COUNT(*) AS BIGINT) AS pages,
       CAST(COUNT(*) AS BIGINT) AS urls
FROM melted GROUP BY type, key
ORDER BY type, key
"""
    ),
    # adaptive token bucket: gaps-derived per-host refill; one recursive
    # walk carries BOTH bucket states (fixed rf=1 and adaptive rf)
    "adaptive_token_bucket": oracle_cte(
        """
, g AS (
  SELECT host,
         fetch_ts - lag(fetch_ts) OVER (
           PARTITION BY host ORDER BY fetch_ts, url
         ) AS gap_s
  FROM pages WHERE status = 200
),
r AS (
  SELECT host, gap_s,
         COUNT(*) OVER (PARTITION BY host) AS n
  FROM g WHERE gap_s IS NOT NULL
),
p AS (
  SELECT host,
         CAST(MAX(n) + 1 AS BIGINT) AS n_fetches,
         CAST(MIN(gap_s) AS BIGINT) AS min_gap_s
  FROM r GROUP BY host
),
params AS (
  SELECT host,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(1000 // GREATEST(1, min_gap_s) AS BIGINT)) AS rf
  FROM p WHERE n_fetches >= 3
),
ordered AS (
  SELECT pg.host, pg.url, CAST(pg.fetch_ts AS BIGINT) AS ts,
         ROW_NUMBER() OVER (
           PARTITION BY pg.host ORDER BY pg.fetch_ts, pg.url) AS rn,
         COALESCE(pa.rf, 1) AS rf
  FROM pages pg LEFT JOIN params pa ON pg.host = pa.host
),
walk AS (
  SELECT host, rn, ts, rf,
         CAST(800 AS BIGINT) AS tok_f, FALSE AS den_f,
         CAST(800 AS BIGINT) AS tok_a, FALSE AS den_a
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.host, o.rn, o.ts, o.rf,
         CASE WHEN LEAST(1800, w.tok_f + (o.ts - w.ts) * 1) >= 1000
              THEN LEAST(1800, w.tok_f + (o.ts - w.ts) * 1) - 1000
              ELSE LEAST(1800, w.tok_f + (o.ts - w.ts) * 1) END,
         LEAST(1800, w.tok_f + (o.ts - w.ts) * 1) < 1000,
         CASE WHEN LEAST(1800, w.tok_a + (o.ts - w.ts) * o.rf) >= 1000
              THEN LEAST(1800, w.tok_a + (o.ts - w.ts) * o.rf) - 1000
              ELSE LEAST(1800, w.tok_a + (o.ts - w.ts) * o.rf) END,
         LEAST(1800, w.tok_a + (o.ts - w.ts) * o.rf) < 1000
  FROM walk w JOIN ordered o ON o.host = w.host AND o.rn = w.rn + 1
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_requests,
       CAST(SUM(CASE WHEN den_f THEN 1 ELSE 0 END) AS BIGINT)
         AS denied_fixed,
       CAST(SUM(CASE WHEN den_a THEN 1 ELSE 0 END) AS BIGINT)
         AS denied_adaptive,
       CAST(MAX(rf) AS BIGINT) AS refill_mtok_per_s
FROM walk GROUP BY host
"""
    ).replace("WITH pages", "WITH RECURSIVE pages", 1),
    "host_fetch_gaps": oracle_cte(
        """
, g AS (
  SELECT host,
         fetch_ts - lag(fetch_ts) OVER (
           PARTITION BY host ORDER BY fetch_ts, url
         ) AS gap_s
  FROM pages WHERE status = 200
),
r AS (
  SELECT host, gap_s,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY gap_s) AS rnk,
         COUNT(*) OVER (PARTITION BY host) AS n
  FROM g WHERE gap_s IS NOT NULL
),
p AS (
  SELECT host,
         CAST(MAX(n) + 1 AS BIGINT) AS n_fetches,
         CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
         CAST(MAX(CASE WHEN rnk = FLOOR((n + 1) / 2) THEN gap_s END)
              AS BIGINT) AS median_gap_s
  FROM r GROUP BY host
)
SELECT host, n_fetches, min_gap_s, median_gap_s,
       CAST(GREATEST(1, min_gap_s) AS BIGINT) AS suggested_delay_s
FROM p WHERE n_fetches >= 3 ORDER BY host
"""
    ),
    "asof_capture": oracle_cte(
        """
, caps AS (SELECT url, fetch_ts, crawl, digest FROM pages),
u AS (SELECT DISTINCT url, doc_id FROM pages),
probes AS (
  SELECT doc_id * 2 + k AS probe_id, url, ts
  FROM u, (VALUES (0, 1711670400), (1, 1714089600)) AS t(k, ts)
)
SELECT CAST(p.probe_id AS BIGINT) AS probe_id, p.url,
       CAST(p.ts AS BIGINT) AS ts,
       CAST(c.fetch_ts AS BIGINT) AS capture_ts, c.crawl, c.digest
FROM probes p ASOF LEFT JOIN caps c
  ON p.url = c.url AND p.ts >= c.fetch_ts
ORDER BY probe_id
"""
    ),
    "language_diversity": oracle_cte(
        """
, per AS (
  SELECT domain,
         COALESCE(split_part(languages, ',', 1), '<none>') AS lang,
         COUNT(*) AS c
  FROM pages GROUP BY domain, lang
),
d AS (
  SELECT domain,
         CAST(SUM(c) AS BIGINT) AS n_pages,
         CAST(COUNT(*) AS BIGINT) AS n_langs,
         CAST(SUM(c * c) AS BIGINT) AS sq
  FROM per GROUP BY domain
)
SELECT domain, n_pages, n_langs,
       CAST(1000 - FLOOR(1000 * sq / (n_pages * n_pages)) AS BIGINT)
         AS simpson_permille
FROM d WHERE n_pages >= 10 ORDER BY domain
"""
    ),
    "host_harmonic": oracle_cte(
        _EDGES_CTE
        + """
, rev AS (
  SELECT DISTINCT dst_host AS a, src_host AS b FROM egrp
  WHERE src_host <> dst_host
),
rec AS (
  SELECT a AS node, b AS reached, 1 AS d FROM rev
  UNION
  SELECT r.node, v.b, r.d + 1 FROM rec r JOIN rev v ON v.a = r.reached
  WHERE r.d < 4 AND v.b <> r.node
),
md AS (SELECT node, reached, MIN(d) AS d FROM rec GROUP BY node, reached)
SELECT node AS host,
  CAST(COUNT(*) AS BIGINT) AS n_reached,
  CAST(SUM(CAST(FLOOR(1000000 / d) AS BIGINT)) AS BIGINT) AS harmonic_x1m
FROM md GROUP BY node ORDER BY host
"""
    ).replace("WITH pages", "WITH RECURSIVE pages", 1),
    "host_degree_histogram": oracle_cte(
        _EDGES_CTE
        + f"""
, indeg AS (SELECT dst_host, COUNT(*) AS v FROM egrp GROUP BY dst_host),
binned AS (
  SELECT CAST(v AS BIGINT) AS v,
         CAST(power(10, length(CAST(v AS STRING)) - 1) AS BIGINT) AS p10
  FROM indeg WHERE v > 0
)
SELECT {_LINK_PLOG_BIN} AS bin, CAST(COUNT(*) AS BIGINT) AS n
FROM binned GROUP BY bin ORDER BY bin
"""
    ),
}

_TOKEN_RE_SQL = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
_STOP_RE = r"(?i)\b(" + TX.STOPWORDS.replace(",", "|") + r")\b"

_SHINGLES = r"""
words AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM corpus
),
sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(greatest(len(w) - 2, 0)),
                          i -> array_to_string(w[i+1:i+3], ' '))
         ) AS s
  FROM words
),
ex AS (SELECT doc_id, unnest(s) AS s FROM sh)
"""

_LANG_ID_CTE = """
, scores AS (
  SELECT doc_id, 'de' AS lang,
         len(regexp_extract_all(lower(text),
             '\\b(der|die|und|das|ist|nicht)\\b')) AS score FROM corpus
  UNION ALL
  SELECT doc_id, 'en',
         len(regexp_extract_all(lower(text),
             '\\b(the|and|of|to|in|is)\\b')) FROM corpus
  UNION ALL
  SELECT doc_id, 'es',
         len(regexp_extract_all(lower(text),
             '\\b(el|la|de|que|los|es)\\b')) FROM corpus
  UNION ALL
  SELECT doc_id, 'fr',
         len(regexp_extract_all(lower(text),
             '\\b(le|la|et|les|des|est)\\b')) FROM corpus
),
best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang DESC) AS rn
  FROM scores
)
"""


# shared CTE for the Naive Bayes family: tokenize -> capped vocab -> dense
# integer fixed-point weight matrix + priors (mirrors textstats.nb_train;
# floor(1e6*ln(x)) measured bit-identical between Spark and DuckDB)
_NB_CTE = """
, toks AS (
  SELECT c.doc_id, c.lang AS label, u.t AS token
  FROM corpus c, unnest(string_split(c.text, ' ')) AS u(t)
  WHERE u.t <> ''
),
tc AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
vocab AS (SELECT token FROM tc ORDER BY n DESC, token LIMIT 50),
vsize AS (SELECT COUNT(*) AS v FROM vocab),
lab AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM corpus GROUP BY lang),
tot AS (SELECT COUNT(*) AS n_total FROM corpus),
cls AS (
  SELECT t.label, t.token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks t JOIN vocab v USING (token)
  GROUP BY t.label, t.token
),
nc AS (SELECT label, SUM(cnt) AS n_c FROM cls GROUP BY label),
wts AS (
  SELECT v.token, l.label,
         CAST(floor(1000000 * ln(
           (COALESCE(c.cnt, 0) + 1)::DOUBLE
           / (COALESCE(n.n_c, 0) + s.v)::DOUBLE)) AS BIGINT) AS weight_x1m
  FROM vocab v
  CROSS JOIN (SELECT label FROM lab) l
  LEFT JOIN cls c ON c.label = l.label AND c.token = v.token
  LEFT JOIN nc n ON n.label = l.label
  CROSS JOIN vsize s
),
pri AS (
  SELECT '<prior>' AS token, l.label,
         CAST(floor(1000000 * ln(l.n_docs::DOUBLE / t.n_total::DOUBLE))
              AS BIGINT) AS weight_x1m
  FROM lab l CROSS JOIN tot t
)
"""

# classification tail shared by nb_classify / nb_agreement
_NB_BEST_CTE = """
, dt AS (
  SELECT t.doc_id, t.token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks t JOIN vocab USING (token) GROUP BY t.doc_id, t.token
),
sc AS (
  SELECT d.doc_id, w.label, SUM(d.cnt * w.weight_x1m) AS s
  FROM dt d JOIN wts w USING (token) GROUP BY d.doc_id, w.label
),
base AS (
  SELECT c.doc_id, p.label, p.weight_x1m + COALESCE(sc.s, 0) AS score
  FROM corpus c CROSS JOIN pri p
  LEFT JOIN sc ON sc.doc_id = c.doc_id AND sc.label = p.label
),
best AS (
  SELECT doc_id, label, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label) AS rn
  FROM base
)
"""


# Shared CTE chain for the LM oracles: tokenize (filtered adjacency, like
# lm.py's _words), reference bigram/context/vocab counts, fixed-point model.
# Parameterized on the source relation so the standalone LM queries run on
# `documents` and the curation funnel reuses the chain over `corpus`.
def _lm_model_ctes(rel: str, lead: str = "WITH") -> str:
    return f"""
{lead} toks AS (
  SELECT doc_id, lang,
         list_filter(str_split(text, ' '), x -> x <> '') AS w
  FROM {rel}
),
ref AS (SELECT * FROM toks WHERE {_LM_REF_FILTER}),
rbg AS (
  SELECT w[i] AS w1, w[i+1] AS w2
  FROM ref, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
  WHERE len(w) >= 2
),
c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bigram FROM rbg GROUP BY 1, 2
),
c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_context FROM rbg GROUP BY 1),
voc AS (
  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
  FROM ref, LATERAL (SELECT unnest(w) AS tok) u
),
model AS (
  SELECT c2.w1, c2.w2, c_bigram, c_context, v,
    CAST(floor(1000000 * ln((c_bigram + 1)
        / CAST(c_context + v AS DOUBLE))) AS BIGINT) AS logp_x1m
  FROM c2 JOIN c1 USING (w1) CROSS JOIN voc
)
"""

# scoring chain on top of the model: per-doc bigram counts, smoothed
# log-prob per pair (one formula, unseen pairs/contexts included), sums
def _lm_score_ctes(rel: str, lead: str = "WITH") -> str:
    return (
        _lm_model_ctes(rel, lead)
        + f"""
, dbg AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
  WHERE len(w) >= 2
),
per AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM dbg GROUP BY 1, 2, 3
),
sc AS (
  SELECT p.doc_id, p.cnt,
    COALESCE(m.logp_x1m,
      CAST(floor(1000000 * ln(1.0
          / (COALESCE(c1.c_context, 0) + voc.v))) AS BIGINT)) AS lp
  FROM per p
  LEFT JOIN model m USING (w1, w2)
  LEFT JOIN c1 USING (w1)
  CROSS JOIN voc
),
sums AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         CAST(SUM(cnt * lp) AS BIGINT) AS s
  FROM sc GROUP BY 1
),
xent AS (
  SELECT d.doc_id,
    CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
    CASE WHEN COALESCE(n_bigrams, 0) > 0
         THEN CAST((-s) // (n_bigrams * 1000) AS BIGINT) END AS xent_mnat
  FROM {rel} d LEFT JOIN sums USING (doc_id)
)
"""
    )


# The funnel oracle stitches the three per-doc signal chains (curate
# verdict, LM cross-entropy over corpus, eval-shingle contamination) into
# one WITH block — CTE names are disjoint by construction — then emits the
# sequential survivor counts.
def _curation_funnel_oracle() -> str:
    return (
        _corpus_oracle("")
        + _lm_score_ctes("corpus", lead=",")
        + f"""
, m AS (
  SELECT doc_id, md5(text) AS digest,
         len(regexp_extract_all(text, '\\S+')) AS n_tok,
         length(text) AS n_chars,
         lower(text) AS lt
  FROM corpus
),
lscores AS (
  SELECT doc_id, 'de' AS lang,
         len(regexp_extract_all(lt,
             '\\b(der|die|und|das|ist|nicht)\\b')) AS score FROM m
  UNION ALL
  SELECT doc_id, 'en',
         len(regexp_extract_all(lt, '\\b(the|and|of|to|in|is)\\b')) FROM m
  UNION ALL
  SELECT doc_id, 'es',
         len(regexp_extract_all(lt, '\\b(el|la|de|que|los|es)\\b')) FROM m
  UNION ALL
  SELECT doc_id, 'fr',
         len(regexp_extract_all(lt, '\\b(le|la|et|les|des|est)\\b')) FROM m
),
best AS (
  SELECT doc_id,
         CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang DESC) AS lrn
  FROM lscores
),
ranked AS (
  SELECT doc_id, n_tok, n_chars,
         row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS drn
  FROM m
),
verdicts AS (
  SELECT r.doc_id,
    CASE WHEN r.drn > 1 THEN 'duplicate'
         WHEN NOT (r.n_tok >= 10
                   AND FLOOR(10 * r.n_chars / greatest(r.n_tok, 1)) >= 20
                   AND FLOOR(10 * r.n_chars / greatest(r.n_tok, 1)) <= 120)
           THEN 'quality'
         WHEN b.lang_pred <> 'en' THEN 'language'
         ELSE 'kept' END AS verdict
  FROM ranked r JOIN best b ON r.doc_id = b.doc_id AND b.lrn = 1
),
cw AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM corpus
),
csh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(greatest(len(w) - 7, 0)),
                          i -> array_to_string(w[i+1:i+8], ' '))
         ) AS s
  FROM cw
),
cex AS (SELECT doc_id, unnest(s) AS s FROM csh),
ew AS (
  SELECT string_split_regex(lower(text), '\\s+') AS w
  FROM documents WHERE doc_id % 31 = 0
),
esh AS (
  SELECT DISTINCT unnest(
           list_distinct(
             list_transform(range(greatest(len(w) - 7, 0)),
                            i -> array_to_string(w[i+1:i+8], ' '))
           )
         ) AS s
  FROM ew
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_shared FROM cex JOIN esh USING (s) GROUP BY 1
),
perdoc AS (
  SELECT v.doc_id, v.verdict, x.xent_mnat,
         COALESCE(h.n_shared, 0) > 0 AS contaminated
  FROM verdicts v
  JOIN xent x USING (doc_id)
  LEFT JOIN hits h USING (doc_id)
),
funnel AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS s0,
    CAST(SUM(CASE WHEN verdict <> 'duplicate' THEN 1 ELSE 0 END)
         AS BIGINT) AS s1,
    CAST(SUM(CASE WHEN verdict NOT IN ('duplicate', 'quality')
             THEN 1 ELSE 0 END) AS BIGINT) AS s2,
    CAST(SUM(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)
         AS BIGINT) AS s3,
    CAST(SUM(CASE WHEN verdict = 'kept'
                   AND (xent_mnat IS NULL
                        OR xent_mnat <= {_LM_THRESHOLD_MNAT})
             THEN 1 ELSE 0 END) AS BIGINT) AS s4,
    CAST(SUM(CASE WHEN verdict = 'kept'
                   AND (xent_mnat IS NULL
                        OR xent_mnat <= {_LM_THRESHOLD_MNAT})
                   AND NOT contaminated
             THEN 1 ELSE 0 END) AS BIGINT) AS s5
  FROM perdoc
)
SELECT 0 AS stage_id, 'total' AS stage, s0 AS survivors FROM funnel
UNION ALL SELECT 1, 'exact_dedup', s1 FROM funnel
UNION ALL SELECT 2, 'quality', s2 FROM funnel
UNION ALL SELECT 3, 'language', s3 FROM funnel
UNION ALL SELECT 4, 'perplexity', s4 FROM funnel
UNION ALL SELECT 5, 'decontamination', s5 FROM funnel
ORDER BY stage_id
"""
    )


# THE sessionize CTE, oracle side — the SQL twin of _session_flags above,
# shared by the events_sessionize and concurrent_sessions oracles. Epochs
# are FLOOR-truncated to whole seconds exactly like Spark's
# unix_timestamp, so sub-second gap boundaries can never diverge.
_SESSION_FLAGS_SQL = f"""gaps AS (
  SELECT user_id, ts, event_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS e,
         lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_e
  FROM events
),
f AS (
  SELECT user_id, ts, event_id, e,
         CASE WHEN prev_e IS NULL OR e - prev_e > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS ns
  FROM gaps
)"""

PIPELINE_ORACLES: dict[str, str] = {
    "curation_funnel": _curation_funnel_oracle(),
    "lm_bigram_weights": _lm_model_ctes("documents")
    + "SELECT * FROM model ORDER BY w1, w2",
    # DSIR: full chain — portable md5 bucket arithmetic, add-one
    # smoothing over B=1024, DOUBLE casts before every multiply so the
    # IEEE op order matches the Spark plan exactly
    "dsir_weights": f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(str_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
feats AS (
  SELECT doc_id, tok AS feat
  FROM toks, LATERAL (SELECT unnest(w) AS tok) u
  UNION ALL
  SELECT doc_id, w[i] || ' ' || w[i+1] AS feat
  FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
  WHERE len(w) >= 2
),
hx AS (
  SELECT doc_id,
         ascii(substring(md5(feat), 1, 1)) AS a1,
         ascii(substring(md5(feat), 2, 1)) AS a2,
         ascii(substring(md5(feat), 3, 1)) AS a3
  FROM feats
),
fb AS (
  SELECT doc_id,
         ((a1 - 48 - CASE WHEN a1 >= 97 THEN 39 ELSE 0 END) * 256
        + (a2 - 48 - CASE WHEN a2 >= 97 THEN 39 ELSE 0 END) * 16
        + (a3 - 48 - CASE WHEN a3 >= 97 THEN 39 ELSE 0 END)) % 1024
           AS bucket,
         COUNT(*) AS cnt
  FROM hx GROUP BY 1, 2
),
tgt AS (SELECT doc_id FROM documents WHERE {_LM_REF_FILTER}),
p AS (
  SELECT bucket, SUM(cnt) AS cp
  FROM fb JOIN tgt USING (doc_id) GROUP BY bucket
),
q AS (SELECT bucket, SUM(cnt) AS cq FROM fb GROUP BY bucket),
dist AS (
  SELECT bucket, COALESCE(cq, 0) AS cq, COALESCE(cp, 0) AS cp
  FROM q FULL JOIN p USING (bucket)
),
tot AS (SELECT SUM(cq) AS nq, SUM(cp) AS np FROM dist),
lw AS (
  SELECT bucket,
         CAST(floor(1000000 * ln(
           (CAST(cp + 1 AS DOUBLE) * CAST(nq + 1024 AS DOUBLE))
         / (CAST(cq + 1 AS DOUBLE) * CAST(np + 1024 AS DOUBLE))))
           AS BIGINT) AS lw_x1m
  FROM dist CROSS JOIN tot
),
per AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
         CAST(SUM(cnt * lw_x1m) AS BIGINT) AS logw_x1m
  FROM fb JOIN lw USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_feats, logw_x1m
FROM per ORDER BY doc_id
""",
    "lm_perplexity": _lm_score_ctes("documents")
    + "SELECT * FROM xent ORDER BY doc_id",
    "lm_quality_filter": _lm_score_ctes("documents")
    + f"""
SELECT d.lang AS grp,
  CAST(SUM(CASE WHEN x.xent_mnat IS NULL
                  OR x.xent_mnat <= {_LM_THRESHOLD_MNAT}
            THEN 1 ELSE 0 END) AS BIGINT) AS kept,
  CAST(SUM(CASE WHEN x.xent_mnat IS NOT NULL
                  AND x.xent_mnat > {_LM_THRESHOLD_MNAT}
            THEN 1 ELSE 0 END) AS BIGINT) AS dropped
FROM documents d JOIN xent x USING (doc_id)
GROUP BY 1 ORDER BY 1
""",
    "curate_corpus": _corpus_oracle(
        """
, m AS (
  SELECT doc_id, md5(text) AS digest,
         len(regexp_extract_all(text, '\\S+')) AS n_tok,
         length(text) AS n_chars,
         lower(text) AS lt
  FROM corpus
),
scores AS (
  SELECT doc_id, 'de' AS lang,
         len(regexp_extract_all(lt,
             '\\b(der|die|und|das|ist|nicht)\\b')) AS score FROM m
  UNION ALL
  SELECT doc_id, 'en',
         len(regexp_extract_all(lt, '\\b(the|and|of|to|in|is)\\b')) FROM m
  UNION ALL
  SELECT doc_id, 'es',
         len(regexp_extract_all(lt, '\\b(el|la|de|que|los|es)\\b')) FROM m
  UNION ALL
  SELECT doc_id, 'fr',
         len(regexp_extract_all(lt, '\\b(le|la|et|les|des|est)\\b')) FROM m
),
best AS (
  SELECT doc_id,
         CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang DESC) AS lrn
  FROM scores
),
ranked AS (
  SELECT doc_id, n_tok, n_chars,
         row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS drn
  FROM m
)
SELECT r.doc_id,
  CAST(r.n_tok AS BIGINT) AS n_tokens,
  b.lang_pred,
  CASE WHEN r.drn > 1 THEN 'duplicate'
       WHEN NOT (r.n_tok >= 10
                 AND FLOOR(10 * r.n_chars / greatest(r.n_tok, 1)) >= 20
                 AND FLOOR(10 * r.n_chars / greatest(r.n_tok, 1)) <= 120)
         THEN 'quality'
       WHEN b.lang_pred <> 'en' THEN 'language'
       ELSE 'kept' END AS verdict
FROM ranked r JOIN best b ON r.doc_id = b.doc_id AND b.lrn = 1
ORDER BY r.doc_id
"""
    ),
    "stratified_sample": _corpus_oracle(
        """
, h AS (
  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh FROM corpus
),
r AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY hh, doc_id)
           AS sample_rank
  FROM h
)
SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= 20 ORDER BY source, sample_rank
"""
    ),
    "domain_weights": _corpus_oracle(
        """
, g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
           AS n_tokens
  FROM corpus GROUP BY source
),
s AS (SELECT *, CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS isqrt FROM g),
t AS (SELECT CAST(SUM(isqrt) AS BIGINT) AS total FROM s),
b AS (
  SELECT source, n_docs, n_tokens,
         CAST((1000 * isqrt) // total AS BIGINT) AS base,
         CAST((1000 * isqrt) % total AS BIGINT) AS rem
  FROM s, t
),
d AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS deficit FROM b),
r AS (
  SELECT source,
         row_number() OVER (ORDER BY rem DESC, source) AS rk
  FROM b
)
SELECT b.source, b.n_docs, b.n_tokens,
       CAST(b.base + CASE WHEN r.rk <= d.deficit THEN 1 ELSE 0 END
            AS BIGINT) AS weight_permille
FROM b JOIN r ON b.source = r.source, d
ORDER BY b.source
"""
    ),
    "decontaminate": _corpus_oracle(
        """
, cw AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM corpus
),
csh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(greatest(len(w) - 7, 0)),
                          i -> array_to_string(w[i+1:i+8], ' '))
         ) AS s
  FROM cw
),
cex AS (SELECT doc_id, unnest(s) AS s FROM csh),
ew AS (
  SELECT string_split_regex(lower(text), '\\s+') AS w
  FROM documents WHERE doc_id % 31 = 0
),
esh AS (
  SELECT DISTINCT unnest(
           list_distinct(
             list_transform(range(greatest(len(w) - 7, 0)),
                            i -> array_to_string(w[i+1:i+8], ' '))
           )
         ) AS s
  FROM ew
),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM cex JOIN esh USING (s) GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(COALESCE(h.n_shared, 0) > 0 AS INT) AS contaminated
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
ORDER BY c.doc_id
"""
    ),
    "pii_counts": _corpus_oracle(
        """
, aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 23 = 0 THEN text ||
           ' contact bob@example.com via https://example.com/x id 12345678'
         ELSE text END AS text
  FROM corpus
),
m AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text,
      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT)
      AS n_emails,
    CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS BIGINT)
      AS n_urls,
    CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS BIGINT)
      AS n_long_digit_runs
  FROM aug
)
SELECT doc_id, n_emails, n_urls, n_long_digit_runs,
       CAST((n_emails + n_urls + n_long_digit_runs) > 0 AS INT)
         AS needs_scrub
FROM m ORDER BY doc_id
"""
    ),
    "pii_redact": _corpus_oracle(
        """
, aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 23 = 0 THEN text ||
           ' contact bob@example.com via https://example.com/x id 12345678'
         ELSE text END AS text
  FROM corpus
),
s1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text,
      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT)
      AS n1,
    regexp_replace(text,
      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g')
      AS t1
  FROM aug
),
s2 AS (
  SELECT doc_id, n1,
    CAST(len(regexp_extract_all(t1, 'https?://[^\\s]+')) AS BIGINT) AS n2,
    regexp_replace(t1, 'https?://[^\\s]+', '<URL>', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT doc_id, n1, n2,
    CAST(len(regexp_extract_all(t2, '[0-9]{7,}')) AS BIGINT) AS n3,
    regexp_replace(t2, '[0-9]{7,}', '<NUM>', 'g') AS t3
  FROM s2
)
SELECT doc_id, n1 + n2 + n3 AS n_redacted, t3 AS clean_text
FROM s3 ORDER BY doc_id
"""
    ),
    "repetition_scores": _corpus_oracle(
        """
, w AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM corpus
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(greatest(len(w) - 1, 0)),
                               i -> w[i+1] || ' ' || w[i+2])) AS g
  FROM w
),
cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
agg AS (SELECT doc_id, MAX(c) AS top, SUM(c) AS nb FROM cnt GROUP BY doc_id),
base AS (
  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct
  FROM w
)
SELECT b.doc_id,
  CAST(FLOOR(1000 * COALESCE(a.top, 0) / greatest(COALESCE(a.nb, 0), 1))
       AS BIGINT) AS top_bigram_permille,
  CAST(FLOOR(1000 * (b.n_words - b.n_distinct) / greatest(b.n_words, 1))
       AS BIGINT) AS dup_word_permille
FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
ORDER BY b.doc_id
"""
    ),
    "pack_sequences": _corpus_oracle(
        """
, m AS (
  SELECT source, doc_id,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
  FROM corpus
),
o AS (
  SELECT source, doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_offset
  FROM m
)
SELECT source, doc_id, n_tokens, start_offset,
       CAST(FLOOR(start_offset / 2048) AS BIGINT) AS shard_id
FROM o ORDER BY source, doc_id
"""
    ),
    "shard_summary": _corpus_oracle(
        """
, m AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
         doc_id % 4 AS salt
  FROM corpus
),
a AS (
  SELECT doc_id, n_tokens,
         (ROW_NUMBER() OVER (
            PARTITION BY salt ORDER BY n_tokens DESC, doc_id ASC
          ) - 1) % 8 AS shard_id
  FROM m
),
p AS (
  SELECT shard_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM a GROUP BY shard_id
),
t AS (SELECT SUM(n_tokens) AS total FROM p)
SELECT CAST(shard_id AS BIGINT) AS shard_id, n_docs, n_tokens,
       CAST(FLOOR(8000 * n_tokens / total) - 1000 AS BIGINT)
         AS dev_permille
FROM p, t ORDER BY shard_id
"""
    ),
    "dedup_exact": _corpus_oracle(
        """
SELECT md5(text) AS digest,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id
FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY digest
"""
    ),
    "unit_dedup": _corpus_oracle(
        """
, docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
units AS (
  SELECT doc_id,
         CAST(ceil(len(words) / 16.0) AS BIGINT) AS n_units,
         CAST(i AS BIGINT) AS pos,
         array_to_string(words[i*16+1 : i*16+16], ' ') AS unit
  FROM docs,
       UNNEST(range(CAST(ceil(len(words) / 16.0) AS BIGINT))) AS t(i)
),
ranked AS (
  SELECT doc_id, n_units, pos, unit,
         row_number() OVER (PARTITION BY unit
                            ORDER BY doc_id, pos) AS rn
  FROM units
),
rebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_units,
         string_agg(unit, ' ' ORDER BY pos) AS new_text
  FROM ranked WHERE rn = 1 GROUP BY doc_id
),
base AS (SELECT doc_id, MAX(n_units) AS n_units FROM units GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n_units AS BIGINT) AS n_units,
       CAST(COALESCE(r.kept_units, 0) AS BIGINT) AS kept_units,
       COALESCE(r.new_text, '') AS new_text
FROM base b LEFT JOIN rebuilt r USING (doc_id)
ORDER BY b.doc_id
"""
    ),
    "ngram_jaccard": _corpus_oracle(
        f""", {_SHINGLES},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
       CAST(sa.n + sb.n - inter AS BIGINT) AS uni
FROM inter JOIN sizes sa ON doc_a = sa.doc_id
           JOIN sizes sb ON doc_b = sb.doc_id
WHERE inter * 1000 >= 500 * (sa.n + sb.n - inter)
ORDER BY doc_a, doc_b
"""
    ),
    "token_stats": _corpus_oracle(
        f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_actual,
  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS BIGINT)
    AS n_bpe_tokens
FROM corpus ORDER BY doc_id
"""
    ),
    "vocabulary": _corpus_oracle(
        """
, toks AS (
  SELECT doc_id, t AS token
  FROM corpus, unnest(string_split(text, ' ')) AS u(t)
  WHERE t <> ''
),
tc AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM toks GROUP BY token
),
ranked AS (
  SELECT token, n_tokens, n_docs,
    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, token) AS BIGINT)
      AS rank,
    SUM(n_tokens) OVER (ORDER BY n_tokens DESC, token
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(n_tokens) OVER () AS total
  FROM tc
)
SELECT rank, token, n_tokens, n_docs,
  CAST((1000 * cum) // total AS BIGINT) AS cum_permille
FROM ranked WHERE rank <= 50 ORDER BY rank
"""
    ),
    "length_percentiles": """
WITH hist AS (
  SELECT lang AS grp, n_chars AS val, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, n_chars
),
cum AS (
  SELECT grp, val,
    SUM(n) OVER (PARTITION BY grp ORDER BY val
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(n) OVER (PARTITION BY grp) AS total
  FROM hist
)
SELECT grp,
  CAST(MAX(total) AS BIGINT) AS n_rows,
  CAST(MIN(CASE WHEN cum*1000 >= 500*total THEN val END) AS BIGINT)
    AS p500,
  CAST(MIN(CASE WHEN cum*1000 >= 900*total THEN val END) AS BIGINT)
    AS p900,
  CAST(MIN(CASE WHEN cum*1000 >= 990*total THEN val END) AS BIGINT)
    AS p990
FROM cum GROUP BY grp ORDER BY grp
""",
    "quality_scores": _corpus_oracle(
        f"""
, m AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '\\S+')) AS n_tok,
    len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{{}}]')) AS n_punct,
    len(regexp_extract_all(text, '{_STOP_RE}')) AS n_stop,
    length(text) AS n_chars
  FROM corpus
)
SELECT doc_id,
  CAST(n_tok AS BIGINT) AS n_tokens,
  CAST(FLOOR(1000 * n_punct / greatest(n_chars, 1)) AS BIGINT)
    AS punct_permille,
  CAST(FLOOR(1000 * n_stop / greatest(n_tok, 1)) AS BIGINT)
    AS stopword_permille,
  CAST(FLOOR(10 * n_chars / greatest(n_tok, 1)) AS BIGINT)
    AS mean_wordlen_x10,
  CAST(n_tok >= 10
       AND FLOOR(10 * n_chars / greatest(n_tok, 1)) >= 20
       AND FLOOR(10 * n_chars / greatest(n_tok, 1)) <= 120 AS INT) AS keep
FROM m ORDER BY doc_id
"""
    ),
    "language_id": _corpus_oracle(
        _LANG_ID_CTE
        + """SELECT doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
       CAST(score AS BIGINT) AS lang_score
FROM best WHERE rn = 1 ORDER BY doc_id
"""
    ),
    "tfidf_keywords": _corpus_oracle(
        """
, toks AS (
  SELECT c.doc_id, u.t AS token
  FROM corpus c, unnest(string_split(c.text, ' ')) AS u(t)
  WHERE u.t <> ''
),
dt AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, token
),
dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY token),
nd AS (SELECT COUNT(*) AS n_docs FROM corpus),
scored AS (
  SELECT d.doc_id, d.token,
         d.tf * CAST(floor(1000000 * ln(n.n_docs::DOUBLE / f.df::DOUBLE))
                     AS BIGINT) AS score_x1m
  FROM dt d JOIN dfq f USING (token) CROSS JOIN nd n
),
ranked AS (
  SELECT doc_id, token, score_x1m,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_x1m DESC, token) AS rn
  FROM scored
)
SELECT doc_id, CAST(rn AS BIGINT) AS rank, token,
       CAST(score_x1m AS BIGINT) AS score_x1m
FROM ranked WHERE rn <= 3 ORDER BY doc_id, rank
"""
    ),
    "nb_weights": _corpus_oracle(
        _NB_CTE
        + """
SELECT token, label, weight_x1m FROM wts
UNION ALL
SELECT token, label, weight_x1m FROM pri
ORDER BY token, label
"""
    ),
    "nb_classify": _corpus_oracle(
        _NB_CTE
        + _NB_BEST_CTE
        + """
SELECT doc_id, label AS label_pred, CAST(score AS BIGINT) AS score_x1m
FROM best WHERE rn = 1 ORDER BY doc_id
"""
    ),
    "nb_calibration": _corpus_oracle(
        _NB_CTE
        + _NB_BEST_CTE
        + """
, top2 AS (
  SELECT doc_id,
         MAX(CASE WHEN rn = 1 THEN label END) AS pred,
         MAX(CASE WHEN rn = 1 THEN score END) AS s1,
         MAX(CASE WHEN rn = 2 THEN score END) AS s2
  FROM best WHERE rn <= 2 GROUP BY doc_id
),
md AS (
  SELECT t.doc_id, t.pred, c.lang,
         CAST(t.s1 - COALESCE(t.s2, t.s1) AS BIGINT) AS m
  FROM top2 t JOIN corpus c ON c.doc_id = t.doc_id
),
withbin AS (
  SELECT CASE WHEN m <= 0 THEN 0 ELSE
    CAST((CASE WHEN CAST(FLOOR(m / p10) AS BIGINT) >= 5 THEN 5
          WHEN CAST(FLOOR(m / p10) AS BIGINT) >= 2 THEN 2
          ELSE 1 END) * p10 AS BIGINT) END AS margin_bin,
    CASE WHEN pred = lang THEN 1 ELSE 0 END AS ok
  FROM (SELECT *, CAST(power(10, length(CAST(m AS STRING)) - 1) AS BIGINT)
          AS p10 FROM md)
)
SELECT margin_bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ok) AS BIGINT) AS n_correct,
       CAST(floor(SUM(ok) * 1000 / COUNT(*)) AS BIGINT) AS acc_permille
FROM withbin GROUP BY margin_bin ORDER BY margin_bin
"""
    ),
    "nb_agreement": _corpus_oracle(
        _NB_CTE
        + _NB_BEST_CTE
        + """
SELECT c.doc_id, c.lang AS label_declared, b.label AS label_pred,
       CAST(CASE WHEN c.lang = b.label THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM corpus c JOIN best b ON b.doc_id = c.doc_id AND b.rn = 1
ORDER BY c.doc_id
"""
    ),
    "language_confusion": _corpus_oracle(
        _LANG_ID_CTE
        + """
SELECT c.lang AS lang_declared,
       CASE WHEN b.score > 0 THEN b.lang ELSE 'und' END AS lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b.score) AS BIGINT) AS score_sum
FROM best b JOIN corpus c USING (doc_id)
WHERE b.rn = 1
GROUP BY lang_declared, lang_pred
ORDER BY lang_declared, lang_pred
"""
    ),
    "embedding_near_dup": _emb_oracle(
        """
, n AS (
  SELECT vec_id, embedding AS v,
         sqrt(list_dot_product(embedding, embedding)) AS nn
  FROM emb
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  CAST(FLOOR(1000 * list_dot_product(a.v, b.v) / (a.nn * b.nn)) AS BIGINT)
    AS cos_permille
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE FLOOR(1000 * list_dot_product(a.v, b.v) / (a.nn * b.nn)) >= 990
ORDER BY vec_a, vec_b
"""
    ),
    "ann_topk": _emb_oracle(
        """
, n AS (
  SELECT vec_id, embedding AS v,
         sqrt(list_dot_product(embedding, embedding)) AS nn
  FROM emb
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) / (q.nn * c.nn) AS cos
  FROM n q JOIN n c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 5
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""
    ),
    "events_windowed": """
SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2 ORDER BY bucket, event_type
""",
    "events_attribution": """
SELECT v.user_id,
       v.event_id AS lhs_id,
       c.event_id AS rhs_id,
       CAST(FLOOR(epoch(c.ts)) - FLOOR(epoch(v.ts)) AS BIGINT)
         AS lag_seconds
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts > v.ts
 AND c.ts <= v.ts + INTERVAL 1800 SECOND
ORDER BY v.user_id, lhs_id, rhs_id
""",
    "events_sessionize": """
WITH """ + _SESSION_FLAGS_SQL + """
SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM f GROUP BY user_id ORDER BY user_id
""",
    "concurrent_sessions": """
WITH """ + _SESSION_FLAGS_SQL + """,
s2 AS (
  SELECT user_id, e,
         SUM(ns) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS sid
  FROM f
),
sess AS (
  SELECT user_id, sid, MIN(e) AS start_s, MAX(e) AS end_s
  FROM s2 GROUP BY user_id, sid
),
probes AS (
  SELECT CAST(1704067200 + k * 108000 AS BIGINT) AS t FROM range(24) r(k)
)
SELECT p.t, CAST(COUNT(s.start_s) AS BIGINT) AS n_active
FROM probes p LEFT JOIN sess s ON p.t BETWEEN s.start_s AND s.end_s
GROUP BY p.t ORDER BY p.t
""",
    "dedup_kept": _corpus_oracle(
        """
, groups AS (
  SELECT md5(text) AS digest, MIN(doc_id) AS canonical_doc_id
  FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
),
dropped AS (
  SELECT c.doc_id
  FROM corpus c JOIN groups g ON md5(c.text) = g.digest
  WHERE c.doc_id <> g.canonical_doc_id
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
GROUP BY source ORDER BY source
"""
    ),
    "sitemap_roundtrip": oracle_cte(
        """
, per_url AS (
  SELECT host, url, MAX(fetch_ts) AS lastmod,
         MIN((doc_id * 37) % 101) AS prio_pct
  FROM pages GROUP BY host, url
)
SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls,
  CAST(MAX(lastmod) AS BIGINT) AS max_lastmod,
  CAST(SUM(prio_pct * 10) AS BIGINT) AS sum_priority_permille
FROM per_url GROUP BY host ORDER BY host
"""
    ),
    "recrawl_tiers": oracle_cte(
        """
, drifted AS (
  SELECT url, crawl_id, fetch_ts,
         digest || ':' || CASE WHEN doc_id % 5 = 0
                               THEN CAST(crawl_id AS STRING)
                               ELSE '0' END AS digest
  FROM pages
),
obs AS (
  SELECT url, crawl_id, max_by(digest, fetch_ts) AS digest
  FROM drifted GROUP BY url, crawl_id
),
chg AS (
  SELECT url,
    CASE WHEN lag(digest) OVER w IS NULL THEN 0
         WHEN digest <> lag(digest) OVER w THEN 1 ELSE 0 END AS chg
  FROM obs WINDOW w AS (PARTITION BY url ORDER BY crawl_id)
),
rates AS (
  SELECT url, COUNT(*) AS n_obs, CAST(SUM(chg) AS BIGINT) AS n_changes,
    CASE WHEN COUNT(*) >= 2
         THEN (1000 * CAST(SUM(chg) AS BIGINT)) // (COUNT(*) - 1) END
      AS change_permille
  FROM chg GROUP BY url
)
SELECT CASE WHEN change_permille IS NULL THEN 'new'
            WHEN change_permille >= 500 THEN 'hot'
            WHEN change_permille >= 100 THEN 'warm'
            ELSE 'cold' END AS tier,
  CAST(COUNT(*) AS BIGINT) AS n_urls,
  CAST(SUM(COALESCE(change_permille, 0)) AS BIGINT) AS sum_change_permille,
  CAST(SUM(n_changes) AS BIGINT) AS sum_changes
FROM rates GROUP BY 1 ORDER BY 1
"""
    ),
    # exact unrolled 3-iteration integer PageRank (same recurrence as
    # operators/pagerank.py; // is DuckDB BIGINT division)
    "pagerank_priority": oracle_cte(
        """
, uni AS (SELECT MIN(doc_id) AS doc_id FROM pages GROUP BY url),
n AS (SELECT COUNT(*) AS n_docs FROM uni),
nodes AS (SELECT DISTINCT doc_id AS node FROM uni),
edges AS (
  SELECT doc_id AS src, (2 * doc_id + 1) % n_docs AS dst FROM uni, n
  UNION ALL
  SELECT doc_id AS src, (3 * doc_id + 7) % n_docs AS dst FROM uni, n
),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_fp FROM nodes),
m1 AS (SELECT dst, SUM(rank_fp // outdeg) AS mass
       FROM edges JOIN outdeg USING (src) JOIN r0 ON r0.node = edges.src
       GROUP BY dst),
r1 AS (SELECT node, CAST(150000 + (COALESCE(mass, 0) * 85) // 100 AS BIGINT)
         AS rank_fp FROM nodes LEFT JOIN m1 ON node = dst),
m2 AS (SELECT dst, SUM(rank_fp // outdeg) AS mass
       FROM edges JOIN outdeg USING (src) JOIN r1 ON r1.node = edges.src
       GROUP BY dst),
r2 AS (SELECT node, CAST(150000 + (COALESCE(mass, 0) * 85) // 100 AS BIGINT)
         AS rank_fp FROM nodes LEFT JOIN m2 ON node = dst),
m3 AS (SELECT dst, SUM(rank_fp // outdeg) AS mass
       FROM edges JOIN outdeg USING (src) JOIN r2 ON r2.node = edges.src
       GROUP BY dst),
r3 AS (SELECT node, CAST(150000 + (COALESCE(mass, 0) * 85) // 100 AS BIGINT)
         AS rank_fp FROM nodes LEFT JOIN m3 ON node = dst)
SELECT node, rank_fp FROM r3 ORDER BY rank_fp DESC, node LIMIT 50
"""
    ),
    "dup_spans_exact": _corpus_oracle(
        """
, pos AS (
  SELECT doc_id, source, text,
         UNNEST(range(1, GREATEST(length(text) - 28, 1))) AS i
  FROM corpus
),
grams AS (
  SELECT doc_id, source, i, substr(text, CAST(i AS INT), 30) AS g FROM pos
),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
marked AS (SELECT gr.doc_id, gr.source, gr.i FROM grams gr JOIN dup USING (g)),
isl AS (
  SELECT doc_id, source, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id, source, grp, MAX(i) - MIN(i) + 30 AS span_len
  FROM isl GROUP BY 1, 2, 3
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(span_len) AS BIGINT) AS dup_chars,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM spans GROUP BY source ORDER BY source
"""
    ),
    # expected robots decisions from the generative closed form (no parsing):
    # synth_robots gives site_id%3==0 hosts a CCBot group (Disallow /page/,
    # Allow /page/1 — longest match allows /page/1*), %3==2 hosts a wildcard
    # rule (Disallow /*9.html$), %3==1 hosts only the * group (/private/
    # matches nothing); fetch 403 when site_id%12==7; budget 1+site_id%4.
    "robots_decisions": oracle_cte(
        """
, hosts AS (
  SELECT host, CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) AS k
  FROM (SELECT DISTINCT host FROM pages)
),
paths AS (
  SELECT DISTINCT host,
         regexp_extract(url, '^[a-z]+://[^/]+(/.*)$', 1) AS path
  FROM pages
)
SELECT h.host,
  CASE WHEN k % 12 = 7 THEN 403 ELSE 200 END AS robots_status,
  CASE WHEN k % 12 = 7 THEN 1 ELSE 1 + k % 4 END AS max_per_round,
  CASE WHEN k % 12 = 7 THEN 'blocked'
       WHEN k % 3 = 0 THEN
         CASE WHEN p.path LIKE '/page/1%' THEN 'allow' ELSE 'disallow' END
       WHEN k % 3 = 2 THEN
         CASE WHEN p.path LIKE '%9.html' THEN 'disallow' ELSE 'allow' END
       ELSE 'allow' END AS decision,
  CAST(COUNT(*) AS BIGINT) AS n_paths
FROM hosts h JOIN paths p ON h.host = p.host
GROUP BY 1, 2, 3, 4
"""
    ),
    "robots_churn": oracle_cte(
        """
, hosts AS (
  SELECT host, CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) AS k
  FROM (SELECT DISTINCT host FROM pages)
),
paths AS (
  SELECT DISTINCT host,
         regexp_extract(url, '^[a-z]+://[^/]+(/.*)$', 1) AS path
  FROM pages
),
d AS (
  SELECT h.host, h.k, p.path,
    CASE WHEN k % 12 = 7 THEN 'blocked'
         WHEN k % 3 = 0 THEN
           CASE WHEN p.path LIKE '/page/1%' THEN 'allow' ELSE 'disallow' END
         WHEN k % 3 = 2 THEN
           CASE WHEN p.path LIKE '%9.html' THEN 'disallow' ELSE 'allow' END
         ELSE CASE WHEN p.path LIKE
                '/page/' || CAST((k + 0) % 10 AS VARCHAR) || '%'
              THEN 'disallow' ELSE 'allow' END
    END AS da,
    CASE WHEN k % 12 = 7 THEN 'blocked'
         WHEN k % 3 = 0 THEN
           CASE WHEN p.path LIKE '/page/1%' THEN 'allow' ELSE 'disallow' END
         WHEN k % 3 = 2 THEN
           CASE WHEN p.path LIKE '%9.html' THEN 'disallow' ELSE 'allow' END
         ELSE CASE WHEN p.path LIKE
                '/page/' || CAST((k + 1) % 10 AS VARCHAR) || '%'
              THEN 'disallow' ELSE 'allow' END
    END AS db
  FROM hosts h JOIN paths p ON h.host = p.host
)
SELECT host,
  CAST(CASE WHEN k % 12 = 7 THEN 403 ELSE 200 END AS BIGINT)
    AS robots_status,
  CAST(CASE WHEN k % 12 = 7 THEN 1 ELSE 1 + (k + 0) % 4 END AS BIGINT)
    AS budget_a,
  CAST(CASE WHEN k % 12 = 7 THEN 1 ELSE 1 + (k + 1) % 4 END AS BIGINT)
    AS budget_b,
  (CASE WHEN k % 12 = 7 THEN 1 ELSE 1 + (k + 0) % 4 END <>
   CASE WHEN k % 12 = 7 THEN 1 ELSE 1 + (k + 1) % 4 END)
    AS budget_changed,
  CAST(COUNT(*) AS BIGINT) AS n_paths,
  CAST(SUM(CASE WHEN da = 'allow' AND db = 'disallow' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_newly_blocked,
  CAST(SUM(CASE WHEN da = 'disallow' AND db = 'allow' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_unblocked
FROM d GROUP BY host, k ORDER BY host
"""
    ),
    "frontier_schedule": oracle_cte(
        """
, uni AS (
  SELECT url, MIN(host) AS host, MIN(doc_id) AS doc_id
  FROM pages GROUP BY url
),
seeds AS (
  SELECT url, host, 0 AS depth, (doc_id * 37) % 100 AS score
  FROM uni WHERE doc_id % 7 = 0
),
led AS (
  SELECT host,
    CASE WHEN CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 12 = 7
         THEN 403 ELSE 200 END AS robots,
    CASE WHEN CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 12 = 7
         THEN 1
         ELSE 1 + CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 4
    END AS budget
  FROM (SELECT DISTINCT host FROM uni)
),
ranked AS (
  SELECT s.url, s.host, s.depth, s.score, l.budget,
         row_number() OVER (PARTITION BY s.host
                            ORDER BY s.depth, s.score DESC, s.url) AS rank
  FROM seeds s JOIN led l ON s.host = l.host
  WHERE l.robots <> 403
)
SELECT url, host, CAST(depth AS BIGINT) AS depth,
       CAST(score AS BIGINT) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= budget ORDER BY host, rank
"""
    ),
    # politeness audit: the ledger's closed form (pinned == parsed robots
    # by test_robots) rolled up against the schedule's per-host counts
    "retry_backoff": oracle_cte(
        """
, o AS (
  SELECT url, fetch_ts, status >= 500 AS fail,
         MAX(CASE WHEN status < 500 THEN fetch_ts END)
           OVER (PARTITION BY url) AS last_ok
  FROM pages
),
p AS (
  SELECT url,
         CAST(COUNT(*) AS BIGINT) AS n_attempts,
         CAST(SUM(CASE WHEN fail AND (last_ok IS NULL OR fetch_ts > last_ok)
                       THEN 1 ELSE 0 END) AS BIGINT)
           AS consecutive_failures
  FROM o GROUP BY url
)
SELECT url, n_attempts, consecutive_failures,
  CAST(CASE WHEN consecutive_failures = 0 THEN 0
       ELSE LEAST(86400,
                  300 * (1 << CAST(LEAST(consecutive_failures - 1, 20)
                                   AS INT)))
       END AS BIGINT) AS retry_delay_s
FROM p ORDER BY url
"""
    ),
    "schedule_domain_politeness": oracle_cte(
        """
, uni AS (
  SELECT url, MIN(host) AS host, MIN(domain) AS domain,
         MIN(doc_id) AS doc_id
  FROM pages GROUP BY url
),
seeds AS (
  SELECT url, host, domain, 0 AS depth, (doc_id * 37) % 100 AS score
  FROM uni WHERE doc_id % 7 = 0
),
led AS (
  SELECT host,
    CASE WHEN CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 12 = 7
         THEN 403 ELSE 200 END AS robots,
    CASE WHEN CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 12 = 7
         THEN 1
         ELSE 1 + CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 4
    END AS budget
  FROM (SELECT DISTINCT host FROM uni)
),
elig AS (
  SELECT s.url, s.domain, s.depth, s.score, l.budget
  FROM seeds s JOIN led l ON s.host = l.host WHERE l.robots <> 403
),
db AS (SELECT domain, MAX(budget) AS budget FROM elig GROUP BY domain),
ranked AS (
  SELECT e.domain,
         row_number() OVER (PARTITION BY e.domain
                            ORDER BY e.depth, e.score DESC, e.url) AS rank
  FROM elig e
),
sched AS (
  SELECT r.domain, COUNT(*) AS scheduled, MAX(r.rank) AS max_rank
  FROM ranked r JOIN db ON r.domain = db.domain
  WHERE r.rank <= db.budget GROUP BY r.domain
)
SELECT d.domain,
  CAST(d.budget AS BIGINT) AS budget,
  CAST(s.scheduled AS BIGINT) AS scheduled,
  CAST(s.max_rank AS BIGINT) AS max_rank,
  (s.scheduled <= d.budget) AS compliant
FROM db d JOIN sched s ON d.domain = s.domain
ORDER BY d.domain
"""
    ),
    "schedule_politeness": oracle_cte(
        """
, uni AS (
  SELECT url, MIN(host) AS host, MIN(doc_id) AS doc_id
  FROM pages GROUP BY url
),
seeds AS (
  SELECT url, host, 0 AS depth, (doc_id * 37) % 100 AS score
  FROM uni WHERE doc_id % 7 = 0
),
led AS (
  SELECT host,
    CASE WHEN CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 12 = 7
         THEN 403 ELSE 200 END AS robots,
    CASE WHEN CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 12 = 7
         THEN 1
         ELSE 1 + CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 4
    END AS budget
  FROM (SELECT DISTINCT host FROM uni)
),
ranked AS (
  SELECT s.host, l.budget,
         row_number() OVER (PARTITION BY s.host
                            ORDER BY s.depth, s.score DESC, s.url) AS rank
  FROM seeds s JOIN led l ON s.host = l.host
  WHERE l.robots <> 403
),
sched AS (
  SELECT host, COUNT(*) AS scheduled, MAX(rank) AS max_rank
  FROM ranked WHERE rank <= budget GROUP BY host
)
SELECT l.host,
  CAST(l.robots AS BIGINT) AS robots_status,
  CAST(l.budget AS BIGINT) AS budget,
  CAST(COALESCE(s.scheduled, 0) AS BIGINT) AS scheduled,
  CAST(COALESCE(s.max_rank, 0) AS BIGINT) AS max_rank,
  (COALESCE(s.scheduled, 0) <= l.budget
   AND (l.robots <> 403 OR COALESCE(s.scheduled, 0) = 0)) AS compliant
FROM led l LEFT JOIN sched s ON l.host = s.host
ORDER BY l.host
"""
    ),
}

PIPELINE_ORACLES.update(_LINKGRAPH_ORACLES)
PIPELINE_ORACLES.update(_REP_ORACLES)

def _url_filters_oracle() -> str:
    from ..frontier.urlfilter import oracle_verdict_sql

    return oracle_cte(
        f"""
, urls AS (SELECT DISTINCT url FROM pages),
mutated AS (
  SELECT CASE ascii(substr(md5(url), 1, 1)) % 7
    WHEN 0 THEN url
    WHEN 1 THEN url || '.jpg'
    WHEN 2 THEN 'ftp://mirror.invalid/' || CAST(length(url) AS VARCHAR)
    WHEN 3 THEN url || '?phpsessid=deadbeef'
    WHEN 4 THEN url || repeat('/x', 25)
    WHEN 5 THEN url || repeat('a', 2100)
    ELSE url || '.tar.gz'
  END AS url FROM urls
),
dec AS (SELECT url, {oracle_verdict_sql('url')} AS verdict FROM mutated)
SELECT verdict,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       MIN(url) AS example_url
FROM dec GROUP BY verdict ORDER BY verdict
"""
    )


PIPELINE_ORACLES["url_filters"] = _url_filters_oracle()

PIPELINE_ORACLES["host_quality"] = oracle_cte(
    """
, m AS (
  SELECT p.host, p.digest,
    CASE WHEN len(regexp_extract_all(d.text, '\\S+')) >= 10
          AND FLOOR(10 * length(d.text)
                    / greatest(len(regexp_extract_all(d.text, '\\S+')), 1))
              BETWEEN 20 AND 120
    THEN 1 ELSE 0 END AS keep
  FROM pages p JOIN documents d USING (doc_id)
  WHERE p.status = 200
),
g AS (
  SELECT host, digest, COUNT(*) AS c, SUM(keep) AS k
  FROM m GROUP BY host, digest
),
h AS (
  SELECT host, SUM(c) AS n_pages, COUNT(*) AS n_digests, SUM(k) AS n_keep
  FROM g GROUP BY host
)
SELECT host,
  CAST(n_pages AS BIGINT) AS n_pages,
  CAST(n_digests AS BIGINT) AS n_digests,
  CAST(n_keep AS BIGINT) AS n_keep,
  CAST(1000 - FLOOR(1000 * n_digests / n_pages) AS BIGINT) AS dup_permille,
  CAST(FLOOR(1000 * n_keep / n_pages) AS BIGINT) AS keep_permille,
  CAST(n_pages >= 8
       AND (1000 - FLOOR(1000 * n_digests / n_pages) > 600
            OR FLOOR(1000 * n_keep / n_pages) < 500) AS INT) AS blocked
FROM h ORDER BY host
"""
)

PIPELINE_ORACLES["robots_sitemap_seeds"] = oracle_cte(
    """
, per AS (
  SELECT host, url,
         MIN((doc_id * 37) % 101) AS prio
  FROM pages
  WHERE CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 2 = 0
  GROUP BY host, url
)
SELECT url, host,
       0 AS depth,
       CAST(CASE WHEN prio = 100 THEN 1000 ELSE prio * 10 END AS BIGINT)
         AS score,
       'pending' AS state
FROM per ORDER BY url
"""
)

# Consistent-hash ring shared by the fetcher_assignment / round_makespan
# oracles: 4 fetchers × 16 vnodes, point = md5-prefix hash — the identical
# construct capacity.point32 computes in Spark, so the oracle replays the
# exact ring including 32-bit collision resolution (MIN fetcher per point)
# and wrap-around.
_RING_SQL = """
ring_raw AS (
  SELECT i % 4 AS fetcher,
         CAST('0x' || substr(md5('vn:' || CAST(i % 4 AS VARCHAR) || ':'
                                 || CAST(i // 4 AS VARCHAR)), 1, 8)
              AS BIGINT) AS point
  FROM range(64) t(i)
),
ring AS (SELECT point, MIN(fetcher) AS fetcher FROM ring_raw GROUP BY point),
wrap AS (SELECT MIN(point) AS wp FROM ring),
hostpt AS (
  SELECT host, CAST('0x' || substr(md5(host), 1, 8) AS BIGINT) AS hp
  FROM (SELECT DISTINCT host FROM schedrows)
),
succ AS (
  SELECT h.host, MIN(r.point) AS ap
  FROM hostpt h JOIN ring r ON r.point >= h.hp GROUP BY h.host
),
asg AS (
  SELECT h.host, r.fetcher
  FROM hostpt h LEFT JOIN succ s ON h.host = s.host
  CROSS JOIN wrap
  JOIN ring r ON r.point = COALESCE(s.ap, wrap.wp)
)
"""

# The round-1 schedule exactly as the frontier_schedule oracle derives it
# (seeds = every 7th distinct url, score (doc_id*37)%100, ledger closed
# form, per-host rank ≤ Crawl-delay budget).
_SCHEDROWS_SQL = """
uni AS (
  SELECT url, MIN(host) AS host, MIN(doc_id) AS doc_id
  FROM pages GROUP BY url
),
seeds AS (
  SELECT url, host, 0 AS depth, (doc_id * 37) % 100 AS score
  FROM uni WHERE doc_id % 7 = 0
),
led AS (
  SELECT host,
    CASE WHEN CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 12 = 7
         THEN 403 ELSE 200 END AS robots,
    CASE WHEN CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 12 = 7
         THEN 1
         ELSE 1 + CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) % 4
    END AS budget
  FROM (SELECT DISTINCT host FROM uni)
),
ranked AS (
  SELECT s.url, s.host, l.budget,
         row_number() OVER (PARTITION BY s.host
                            ORDER BY s.depth, s.score DESC, s.url) AS rank
  FROM seeds s JOIN led l ON s.host = l.host
  WHERE l.robots <> 403
),
schedrows AS (SELECT url, host FROM ranked WHERE rank <= budget)
"""

PIPELINE_ORACLES["fetcher_assignment"] = oracle_cte(
    f"""
, {_SCHEDROWS_SQL.strip()},
{_RING_SQL.strip()},
perhost AS (SELECT host, COUNT(*) AS n_urls FROM schedrows GROUP BY host),
perf AS (
  SELECT a.fetcher, COUNT(*) AS n_hosts, SUM(p.n_urls) AS n_urls
  FROM perhost p JOIN asg a ON p.host = a.host GROUP BY a.fetcher
),
tot AS (SELECT SUM(n_urls) AS t FROM perf)
SELECT CAST(fetcher AS BIGINT) AS fetcher,
       CAST(n_hosts AS BIGINT) AS n_hosts,
       CAST(n_urls AS BIGINT) AS n_urls,
       CAST(floor(n_urls * 1000 / t) AS BIGINT) AS load_permille
FROM perf CROSS JOIN tot ORDER BY fetcher
"""
)

PIPELINE_ORACLES["bpe_encode"] = _bpe_encode_oracle()
PIPELINE_ORACLES["bpe_compression"] = _bpe_compression_oracle()
PIPELINE_ORACLES["opic_priority"] = _opic_oracle()
PIPELINE_ORACLES["spam_mass"] = _spam_mass_oracle()
PIPELINE_ORACLES["hits_scores"] = _hits_oracle()
PIPELINE_ORACLES["url_normalize"] = _url_normalize_oracle()

# soft-404: injected error-page bodies + pattern flag + host rollup.
# The oracle runs the SAME regexp on the SAME injected text — Spark must
# reproduce the injection, the lower/rlike flag and the 200-gate exactly.
PIPELINE_ORACLES["soft404"] = oracle_cte(
    """
, pt AS (
  SELECT p.host, p.status,
         CASE WHEN p.doc_id % 31 = 0
              THEN 'Page not found - ' || d.text
              ELSE d.text END AS text
  FROM pages p JOIN documents d ON p.doc_id = d.doc_id
),
flagged AS (
  SELECT host,
    CASE WHEN status = 200 AND regexp_matches(lower(text),
      'page not found|404 not found|does not exist|no longer available')
    THEN 1 ELSE 0 END AS s404
  FROM pt WHERE status = 200
)
SELECT host, CAST(COUNT(*) AS BIGINT) AS n_200,
  CAST(SUM(s404) AS BIGINT) AS n_soft404,
  CAST(SUM(s404) * 1000 // COUNT(*) AS BIGINT) AS soft404_permille
FROM flagged GROUP BY host ORDER BY host
"""
)

# backoff tiers: overload model + pressure ratio + ledger closed form
PIPELINE_ORACLES["politeness_backoff"] = oracle_cte(
    """
, sid AS (
  SELECT host, doc_id, status,
         CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT) AS site_id
  FROM pages
),
stressed AS (
  SELECT host, site_id,
    CASE WHEN site_id % 5 = 3 AND doc_id % 3 = 0 THEN 429
         WHEN site_id % 5 = 1 AND doc_id % 6 = 0 THEN 503
         ELSE status END AS status
  FROM sid
),
ph AS (
  SELECT host, MIN(site_id) AS site_id,
         CAST(COUNT(*) AS BIGINT) AS n_fetches,
         CAST(SUM(CASE WHEN status IN (429, 500, 502, 503, 504)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_pressure
  FROM stressed GROUP BY host
),
led AS (
  SELECT host, site_id, n_fetches, n_pressure,
         (n_pressure * 1000) // n_fetches AS pressure_permille,
         CASE WHEN site_id % 12 = 7 THEN 1
              ELSE 1 + site_id % 4 END AS max_per_round
  FROM ph
)
SELECT host, n_fetches, n_pressure,
  CAST(pressure_permille AS BIGINT) AS pressure_permille,
  CAST(max_per_round AS BIGINT) AS max_per_round,
  CAST(CASE WHEN pressure_permille >= 600 THEN 1
            WHEN pressure_permille >= 300
              THEN GREATEST(1, max_per_round // 4)
            WHEN pressure_permille >= 100
              THEN GREATEST(1, max_per_round // 2)
            ELSE max_per_round END AS BIGINT) AS backoff_budget
FROM led ORDER BY host
"""
)

PIPELINE_ORACLES["robots_cache"] = oracle_cte(
    """
, r AS (
  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_robots_captures,
         CAST(MAX(fetch_ts) AS BIGINT) AS last_robots_ts
  FROM pages WHERE warc_filename LIKE '%/robotstxt/%' GROUP BY host
),
h AS (SELECT DISTINCT host FROM pages),
nw AS (SELECT MAX(fetch_ts) AS now_ts FROM pages)
SELECT h.host,
  COALESCE(r.n_robots_captures, 0) AS n_robots_captures,
  r.last_robots_ts,
  CASE WHEN r.last_robots_ts IS NULL THEN 'missing'
       WHEN nw.now_ts - r.last_robots_ts > 86400 THEN 'stale'
       ELSE 'fresh' END AS status,
  (r.last_robots_ts IS NULL
   OR nw.now_ts - r.last_robots_ts > 86400) AS due
FROM h LEFT JOIN r ON h.host = r.host, nw ORDER BY h.host
"""
)

# the drift-model + url-history + fetch-mode CTE chain shared by the
# revalidation_plan and refresh_schedule oracles (Spark twin:
# _drifted_pages + recrawl.url_change_rates/revalidation_classes)
_DRIFT_SQL = """drifted AS (
  SELECT url, host, crawl_id, fetch_ts, doc_id,
         digest || ':' || CASE WHEN doc_id % 5 = 0
                               THEN CAST(crawl_id AS STRING)
                               ELSE '0' END AS digest,
         doc_id % 4 <> 1 AS has_validator
  FROM pages
),
obs AS (
  SELECT url, crawl_id, max_by(digest, fetch_ts) AS digest
  FROM drifted GROUP BY url, crawl_id
),
chg AS (
  SELECT url,
    CASE WHEN lag(digest) OVER w IS NULL THEN 0
         WHEN digest <> lag(digest) OVER w THEN 1 ELSE 0 END AS chg
  FROM obs WINDOW w AS (PARTITION BY url ORDER BY crawl_id)
),
rates AS (
  SELECT url, COUNT(*) AS n_obs, CAST(SUM(chg) AS BIGINT) AS n_changes,
    CASE WHEN COUNT(*) >= 2
         THEN (1000 * CAST(SUM(chg) AS BIGINT)) // (COUNT(*) - 1) END
      AS change_permille
  FROM chg GROUP BY url
),
latest AS (
  SELECT url, max_by(has_validator, fetch_ts) AS validator,
         MIN(host) AS host
  FROM drifted GROUP BY url
),
cls AS (
  SELECT l.url, l.host,
    CASE WHEN NOT l.validator THEN 'unconditional'
         WHEN r.change_permille IS NULL THEN 'unconditional'
         WHEN r.n_changes = 0 THEN 'conditional'
         WHEN r.change_permille < 500 THEN 'risky'
         ELSE 'unconditional' END AS cls
  FROM latest l JOIN rates r ON l.url = r.url
)"""

# revalidation plan: recrawl drift model + arithmetic validator, the
# url-history window and host rollup replayed in SQL
PIPELINE_ORACLES["revalidation_plan"] = oracle_cte(
    f"""
, {_DRIFT_SQL}
SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls,
  CAST(SUM(CASE WHEN cls = 'conditional' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_conditional,
  CAST(SUM(CASE WHEN cls = 'risky' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_risky,
  CAST(SUM(CASE WHEN cls = 'unconditional' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unconditional,
  CAST((SUM(CASE WHEN cls = 'conditional' THEN 1 ELSE 0 END)
        + SUM(CASE WHEN cls = 'risky' THEN 1 ELSE 0 END)) * 1000
       // COUNT(*) AS BIGINT) AS conditional_permille
FROM cls GROUP BY host ORDER BY host
"""
)

def _waterfill_ctes(budget: int) -> str:
    """The closed-form max-min water-fill as CTE text over a ``dd(host,
    demand, fetcher)`` relation — shared by the fair_budget and
    refresh_schedule oracles so the predicate/remainder arithmetic
    cannot drift between them (Spark twin:
    capacity.maxmin_fair_allocation)."""
    return f"""st AS (
  SELECT host, demand, fetcher,
         row_number() OVER (PARTITION BY fetcher
                            ORDER BY demand, host) AS i,
         SUM(demand) OVER (PARTITION BY fetcher ORDER BY demand, host
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS s_i,
         COUNT(*) OVER (PARTITION BY fetcher) AS k
  FROM dd
),
fl AS (SELECT *, (s_i + demand * (k - i)) <= {budget} AS fullr FROM st),
agg AS (
  SELECT *,
    SUM(CASE WHEN fullr THEN 1 ELSE 0 END)
      OVER (PARTITION BY fetcher) AS j,
    COALESCE(MAX(CASE WHEN fullr THEN s_i END)
      OVER (PARTITION BY fetcher), 0) AS s_j
  FROM fl
),
alloc AS (
  SELECT host, fetcher, demand,
         CASE WHEN fullr THEN demand ELSE
           LEAST(demand,
                 ({budget} - s_j) // GREATEST(k - j, 1)
                 + CASE WHEN (i - j) <= ({budget} - s_j)
                          % GREATEST(k - j, 1)
                        THEN 1 ELSE 0 END)
         END AS alloc
  FROM agg
)"""


# max-min fair budget: the ring (verbatim) + the closed-form water-fill
# replayed with DuckDB window functions. budget per shard = 1000.
PIPELINE_ORACLES["fair_budget"] = oracle_cte(
    f"""
, schedrows AS (SELECT DISTINCT host, url FROM pages),
{_RING_SQL.strip()},
demands AS (
  SELECT host, CAST(COUNT(DISTINCT url) AS BIGINT) AS demand
  FROM schedrows GROUP BY host
),
dd AS (
  SELECT d.host, d.demand, a.fetcher
  FROM demands d JOIN asg a ON d.host = a.host
),
{_waterfill_ctes(1000)}
SELECT CAST(fetcher AS BIGINT) AS fetcher, host,
       CAST(demand AS BIGINT) AS demand, CAST(alloc AS BIGINT) AS alloc
FROM alloc ORDER BY fetcher, demand DESC, host
"""
)


# refresh round planner: drift + tiers + classes + ring + water-fill(25)
# + per-host selection rank, all in one replay
PIPELINE_ORACLES["refresh_schedule"] = oracle_cte(
    f"""
, {_DRIFT_SQL},
tiers AS (
  SELECT url,
    CASE WHEN change_permille IS NULL THEN 'new'
         WHEN change_permille >= 500 THEN 'hot'
         WHEN change_permille >= 100 THEN 'warm'
         ELSE 'cold' END AS tier
  FROM rates
),
due AS (
  SELECT t.url, c.host, c.cls,
         CASE WHEN t.tier = 'hot' THEN 0
              WHEN t.tier = 'new' THEN 1
              WHEN t.tier = 'warm' THEN 2 ELSE 3 END AS tier_rank
  FROM tiers t JOIN cls c ON t.url = c.url
),
demands AS (
  SELECT host, CAST(COUNT(*) AS BIGINT) AS demand
  FROM due GROUP BY host
),
schedrows AS (SELECT host FROM demands),
{_RING_SQL.strip()},
dd AS (
  SELECT d.host, d.demand, a.fetcher
  FROM demands d JOIN asg a ON d.host = a.host
),
{_waterfill_ctes(25)},
sel AS (
  SELECT d.host, d.cls, a.alloc,
         row_number() OVER (PARTITION BY d.host
                            ORDER BY d.tier_rank, d.url) AS rk
  FROM due d JOIN alloc a ON d.host = a.host
),
cnt AS (
  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_scheduled,
         CAST(SUM(CASE WHEN cls <> 'unconditional' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_conditional
  FROM sel WHERE rk <= alloc GROUP BY host
)
SELECT a.host, CAST(a.fetcher AS BIGINT) AS fetcher,
       CAST(a.demand AS BIGINT) AS n_due,
       CAST(a.alloc AS BIGINT) AS alloc,
       CAST(COALESCE(c.n_scheduled, 0) AS BIGINT) AS n_scheduled,
       CAST(COALESCE(c.n_conditional, 0) AS BIGINT) AS n_conditional
FROM alloc a LEFT JOIN cnt c ON a.host = c.host ORDER BY a.host
"""
)

PIPELINE_ORACLES["schedule_fairness"] = oracle_cte(
    f"""
, {_SCHEDROWS_SQL.strip()},
{_RING_SQL.strip()},
perhost AS (SELECT host, COUNT(*) AS x FROM schedrows GROUP BY host),
perf AS (
  SELECT a.fetcher, SUM(p.x) AS x
  FROM perhost p JOIN asg a ON p.host = a.host GROUP BY a.fetcher
),
jh AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
         CAST(floor(1000 * CAST(SUM(x) AS HUGEINT) * SUM(x)
              / (COUNT(*) * SUM(CAST(x AS HUGEINT) * x))) AS BIGINT)
           AS jain_host_x1000
  FROM perhost
),
jf AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_fetchers_used,
         CAST(floor(1000 * CAST(SUM(x) AS HUGEINT) * SUM(x)
              / (COUNT(*) * SUM(CAST(x AS HUGEINT) * x))) AS BIGINT)
           AS jain_fetcher_x1000
  FROM perf
)
SELECT n_hosts, jain_host_x1000, n_fetchers_used, jain_fetcher_x1000
FROM jh CROSS JOIN jf
"""
)

PIPELINE_ORACLES["round_makespan"] = oracle_cte(
    f"""
, {_SCHEDROWS_SQL.strip()},
{_RING_SQL.strip()},
perhost AS (
  SELECT s.host, COUNT(*) AS n_urls,
         COUNT(*) * CAST(floor(60000 / l.budget) AS BIGINT) AS chain_ms
  FROM schedrows s JOIN led l ON s.host = l.host
  GROUP BY s.host, l.budget
),
perf AS (
  SELECT a.fetcher, COUNT(*) AS n_hosts, SUM(p.n_urls) AS n_urls,
         SUM(p.chain_ms) AS busy_ms, MAX(p.chain_ms) AS max_chain_ms
  FROM perhost p JOIN asg a ON p.host = a.host GROUP BY a.fetcher
),
mb AS (SELECT MAX(busy_ms) AS m FROM perf)
SELECT CAST(fetcher AS BIGINT) AS fetcher,
       CAST(n_hosts AS BIGINT) AS n_hosts,
       CAST(n_urls AS BIGINT) AS n_urls,
       CAST(busy_ms AS BIGINT) AS busy_ms,
       CAST(max_chain_ms AS BIGINT) AS max_chain_ms,
       (busy_ms = m) AS critical
FROM perf CROSS JOIN mb ORDER BY fetcher
"""
)

PIPELINE_ORACLES["leakage_split"] = oracle_cte(
    """
, asg AS (
  SELECT domain,
         CAST('0x' || substr(md5(domain), 1, 8) AS BIGINT) % 1000 AS b
  FROM pages
),
rows_assigned AS (
  SELECT domain,
         CASE WHEN b < 800 THEN 'train'
              WHEN b < 900 THEN 'valid'
              ELSE 'test' END AS split
  FROM asg
),
per_unit AS (
  SELECT domain, COUNT(*) AS n_rows,
         COUNT(DISTINCT split) AS n_splits, MIN(split) AS split
  FROM rows_assigned GROUP BY domain
),
per_split AS (
  SELECT split, COUNT(*) AS n_units, SUM(n_rows) AS n_rows
  FROM per_unit GROUP BY split
),
corpus_totals AS (
  SELECT SUM(n_rows) AS tot, MAX(n_splits) AS max_splits FROM per_unit
)
SELECT split,
       CAST(n_units AS BIGINT) AS n_units,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(floor(n_rows * 1000 / tot) AS BIGINT) AS share_permille,
       CAST(max_splits AS BIGINT) AS max_splits_per_unit
FROM per_split CROSS JOIN corpus_totals ORDER BY split
"""
)
