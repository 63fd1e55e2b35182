"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting. All JVM-side (regexp/array built-ins); the only
candidates for pandas UDFs here would be real tokenizers — the BPE-ish
regex below stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.windows import dim_window

# BPE-ish pre-tokenizer: words, numbers, or single non-space symbols
TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
WS_TOKEN_RE = r"\S+"
PUNCT_RE = r"[.,;:!?'\"()\[\]{}]"

STOPWORDS = (
    "the,and,of,to,a,in,is,it,that,for,on,with,as,was,at,by,an,be,this,"
    "from,or,are,not,but,have,has,had"
)


def vocabulary(
    docs: DataFrame,
    top_k: int = 50,
    n_salts: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary: the top-k whitespace tokens by occurrence count,
    with document frequency and cumulative corpus-coverage permille —
    tokenizer/BPE-training prep over the documents table.

    Scale shape: counting is TWO-LEVEL — first a per-(doc_id, token)
    count whose map-side combine collapses within-document repeats before
    anything shuffles (each task holds whole documents, so the combine is
    total), then a token-keyed sum/count. This replaces the single
    count(*)+countDistinct(doc_id) aggregate, whose Catalyst Expand
    doubles every shuffle row to dedup doc_ids — measured 1.2-1.9x slower
    at 10^8 token occurrences with identical output. Selection is the
    salted two-phase top-k (same shape as timeseries.domain_coverage), so
    no window ever ranks the whole vocabulary in one task — phase 1 ranks
    within (salt), phase 2 sees <= n_salts*top_k survivors. Cumulative
    coverage windows over the k survivors only; the corpus token total
    joins in as a broadcast 1-row aggregate. Integer permille via `div`
    so values are engine-exact (no float summation)."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).filter(F.col("token") != "")
    per_doc = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("_c")
    )
    # counts feeds BOTH the top-k selection and the corpus-total branch —
    # the lazy localCheckpoint runs the corpus explode + two-level agg
    # once instead of once per branch (measured best-of-6 4.6 s → 2.7 s at
    # 10^8 token occurrences, identical output)
    counts = per_doc.groupBy("token").agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_docs"),
    ).localCheckpoint(eager=False)
    order = (F.desc("n_tokens"), F.asc("token"))
    w1 = Window.partitionBy("_salt").orderBy(*order)
    survivors = (
        counts.withColumn(
            "_salt", F.pmod(F.xxhash64("token"), F.lit(n_salts))
        )
        .withColumn("_sr", F.row_number().over(w1))
        .filter(F.col("_sr") <= top_k)
        .drop("_salt", "_sr")
    )
    w2 = dim_window(*order)
    wcum = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = counts.agg(F.sum("n_tokens").cast("long").alias("_total"))
    return (
        survivors.withColumn("rank", F.row_number().over(w2).cast("long"))
        .withColumn("_cum", F.sum("n_tokens").over(wcum))
        .filter(F.col("rank") <= top_k)
        .join(F.broadcast(total))
        .select(
            "rank",
            "token",
            "n_tokens",
            "n_docs",
            F.expr("(1000 * _cum) div _total").alias("cum_permille"),
        )
        .orderBy("rank")
    )


def exact_percentiles(
    docs: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "lang",
    permilles: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """Exact per-group percentiles of an integer metric (doc length
    distribution per language — the p50/p90/p99 a curation pipeline
    monitors), WITHOUT sorting the rows.

    Scale shape: rows collapse to a (group, value) histogram first — one
    map-side-combined groupBy; the cumulative window then runs over the
    bounded histogram (distinct metric values, ~10^3-10^5), never the
    ~10^10 rows, so no per-group row sort exists in the plan. The
    percentile is the smallest value whose cumulative count reaches
    ceil(p/1000 * total) — quantile_disc semantics — selected with a
    conditional min, all integer arithmetic (engine-exact)."""
    from pyspark.sql import Window

    v, g = F.col(value_col), F.col(group_col)
    hist = docs.groupBy(g.alias("grp"), v.alias("val")).agg(
        F.count("*").cast("long").alias("n")
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "grp",
        "val",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(Window.partitionBy("grp")).alias("total"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("cum") * 1000 >= F.lit(p) * F.col("total"),
                F.col("val"),
            )
        ).alias(f"p{p}")
        for p in permilles
    ]
    return (
        cum.groupBy("grp")
        .agg(F.max("total").alias("n_rows"), *aggs)
        .orderBy("grp")
    )


def approx_percentiles(
    docs: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "lang",
    permilles: tuple[int, ...] = (500, 900, 990),
    accuracy: int = 10000,
) -> DataFrame:
    """Sketch-mode counterpart of exact_percentiles: Spark's mergeable
    quantile summary (`percentile_approx`, the Greenwald–Khanna family)
    with rank error ≤ n/accuracy per group.

    Scale shape: where exact_percentiles' histogram is bounded by the
    number of DISTINCT metric values, the GK summary is bounded by
    ``accuracy`` alone — the right tool when the metric is continuous or
    high-cardinality (float scores, byte sizes at 10^10 rows): state is
    O(accuracy) per group, merged map-side like any partial aggregate,
    and nothing in the plan depends on value cardinality. Rows-only for
    the driver (sketch output); tests/test_sketches.py pins the rank-error
    bound against the exact path on the same input."""
    v = F.col(value_col).cast("long")
    qs = F.array(*[F.lit(p / 1000.0) for p in permilles])
    pa = F.percentile_approx(v, qs, F.lit(accuracy))
    return (
        docs.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            pa.alias("_ps"),
        )
        .select(
            "grp",
            "n_rows",
            *[
                F.element_at("_ps", i + 1).cast("long").alias(f"p{p}")
                for i, p in enumerate(permilles)
            ],
        )
        .orderBy("grp")
    )


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token counts: whitespace tokens and BPE-ish regex
    tokens, plus char length. regexp_count is whole-stage codegen."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_actual"),
        F.regexp_count(t, F.lit(WS_TOKEN_RE)).cast("long").alias("n_ws_tokens"),
        F.regexp_count(t, F.lit(TOKEN_RE)).cast("long").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


def c4_keep_gate(n_tok, mwl_x10):
    """THE C4/Gopher-style keep gate — single source of truth for the
    thresholds (≥10 whitespace tokens, mean word length in [2.0, 12.0],
    ×10 fixed point) shared by quality_scores, curate_corpus and
    host_quality_rollup so the per-doc report, the curation verdict and
    the host blocklist can never drift apart. Takes the already-computed
    token-count and mean-word-length columns (callers fold them into
    their own single projection; recomputing regexp_count here would
    duplicate the scan's most expensive expression)."""
    return (n_tok >= F.lit(10)) & (mwl_x10 >= 20) & (mwl_x10 <= 120)


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals (permille-scaled integers so results are
    float-exact across engines): punctuation ratio, stopword ratio, mean
    word length, and a composite keep/drop flag in the C4/Gopher style."""
    t = F.col(text_col)
    n_tok = F.regexp_count(t, F.lit(WS_TOKEN_RE))
    n_punct = F.regexp_count(t, F.lit(PUNCT_RE))
    n_stop = F.regexp_count(
        t, F.lit(r"(?i)\b(" + STOPWORDS.replace(",", "|") + r")\b")
    )
    n_chars = F.length(t)
    return (
        docs.select(
            "doc_id",
            n_tok.cast("long").alias("n_tokens"),
            F.floor(1000 * n_punct / F.greatest(n_chars, F.lit(1)))
            .cast("long")
            .alias("punct_permille"),
            F.floor(1000 * n_stop / F.greatest(n_tok, F.lit(1)))
            .cast("long")
            .alias("stopword_permille"),
            F.floor(10 * n_chars / F.greatest(n_tok, F.lit(1)))
            .cast("long")
            .alias("mean_wordlen_x10"),
        )
        .withColumn(
            "keep",
            c4_keep_gate(
                F.col("n_tokens"), F.col("mean_wordlen_x10")
            ).cast("int"),
        )
        .orderBy("doc_id")
    )


# tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic (deterministic, vendored — no external model)
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "la", "de", "que", "los", "es"],
}


def _lang_best(lowered_text):
    """(score, lang) struct of the winning stopword profile: highest hit
    count wins, ties broken deterministically by the highest language code
    (array_max compares struct fields in order)."""
    scores = [
        F.struct(
            F.regexp_count(
                lowered_text, F.lit(r"\b(" + "|".join(words) + r")\b")
            ).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(LANG_PROFILES.items())
    ]
    return F.array_max(F.array(*scores))


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID: count profile hits per language
    (codegen regexp_count), argmax with deterministic tie-break on the
    language code; 'und' (undetermined) when no profile hits."""
    best = _lang_best(F.lower(F.col(text_col)))
    return docs.select(
        "doc_id",
        F.when(best.getField("score") > 0, best.getField("lang"))
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
        best.getField("score").cast("long").alias("lang_score"),
    ).orderBy("doc_id")


def fingerprint(
    docs: DataFrame, text_col: str = "text", k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprint: k-gram token hashes → min hash per
    sliding window → distinct set, plus a single 64-bit rollup. Built from
    array higher-order functions (transform/slice/array_min) — one pass,
    no explode, no UDF.

    Each array stage is materialized behind its own projection: higher-order
    functions evaluate non-lambda-variable subexpressions PER ELEMENT, so
    inlining the k-gram array into the sliding-window transform re-derives
    the whole O(n·k) array for every window position — O(n²·k) per document
    (measured 94s for 569 sf0.01 docs vs ~1s staged). The intermediate
    aliases are referenced more than once and are non-cheap, which keeps
    CollapseProject from re-inlining them."""
    def positions(n):
        # sequence(0, -1) would DESCEND in Spark — guard the empty case
        return F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
            F.array().cast("array<int>")
        )

    words = F.col("_fp_words")
    kgrams = F.col("_fp_kgrams")
    mins = F.col("_fp_mins")
    staged = (
        docs.select(
            "doc_id",
            F.split(F.lower(F.col(text_col)), "\\s+").alias("_fp_words"),
        )
        .select(
            "doc_id",
            F.transform(
                positions(F.size(words) - (k - 1)),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(words, i + 1, k))
                ),
            ).alias("_fp_kgrams"),
        )
        .select(
            "doc_id",
            F.transform(
                positions(F.size(kgrams) - (window - 1)),
                lambda i: F.array_min(F.slice(kgrams, i + 1, window)),
            ).alias("_fp_mins"),
        )
        .select("doc_id", F.array_distinct(mins).alias("_fp_set"))
    )
    fp_set = F.col("_fp_set")
    return staged.select(
        "doc_id",
        F.size(fp_set).alias("n_fingerprints"),
        F.aggregate(
            fp_set,
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseXOR(x),
        ).alias("fingerprint64"),
    ).orderBy("doc_id")


def fingerprint_portable(
    docs: DataFrame, text_col: str = "text", k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing fingerprint, portable-hash verification flavor: the SAME
    staged construction as ``fingerprint`` (k-gram hashes → sliding-window
    min → distinct → count + XOR rollup) with the cross-engine hash
    (functions/porthash) instead of xxhash64, so a DuckDB oracle replays
    it bit-for-bit (fingerprint_exact) — upgrading the winnowing class
    from rows-only to exact hash-match. Input is trimmed before the
    whitespace split: Java's split drops trailing empty fragments where
    other engines keep them, and trimming removes the divergence at the
    definition instead of in every oracle."""
    from ..functions.porthash import porthash

    def positions(n):
        return F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
            F.array().cast("array<int>")
        )

    words = F.col("_fp_words")
    kgrams = F.col("_fp_kgrams")
    mins = F.col("_fp_mins")
    staged = (
        docs.select(
            "doc_id",
            F.split(F.trim(F.lower(F.col(text_col))), "\\s+").alias(
                "_fp_words"
            ),
        )
        .select(
            "doc_id",
            F.transform(
                positions(F.size(words) - (k - 1)),
                lambda i: porthash(
                    F.concat_ws(" ", F.slice(words, i + 1, k))
                ),
            ).alias("_fp_kgrams"),
        )
        .select(
            "doc_id",
            F.transform(
                positions(F.size(kgrams) - (window - 1)),
                lambda i: F.array_min(F.slice(kgrams, i + 1, window)),
            ).alias("_fp_mins"),
        )
        .select("doc_id", F.array_distinct(mins).alias("_fp_set"))
    )
    fp_set = F.col("_fp_set")
    return staged.select(
        "doc_id",
        F.size(fp_set).cast("long").alias("n_fingerprints"),
        F.aggregate(
            fp_set,
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseXOR(x),
        ).alias("fingerprint64"),
    ).orderBy("doc_id")


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    lang_keep: tuple[str, ...] = ("en",),
) -> DataFrame:
    """End-to-end training-data curation verdict per document, combining
    the pipeline's three row filters in reference-pipeline precedence:

      1. exact duplicate (md5 digest; the lowest doc_id of a group is
         canonical and survives, the rest are 'duplicate')
      2. quality gate (same C4/Gopher-style thresholds as quality_scores)
      3. language filter (stopword-profile argmax not in ``lang_keep``)

    Scale shape: ONE row-wise projection computes every signal (digest,
    token count, mean word length, language argmax — all codegen), then
    ONE shuffle (the digest-partitioned row_number window) resolves
    duplicates. The signals never re-join on doc_id, so the plan is a
    scan + single hash-partition exchange regardless of corpus size."""
    t = F.col(text_col)
    n_tok = F.regexp_count(t, F.lit(WS_TOKEN_RE))
    base = docs.select(
        "doc_id",
        F.md5(t).alias("_digest"),
        n_tok.cast("long").alias("n_tokens"),
        F.floor(
            10 * F.length(t) / F.greatest(n_tok, F.lit(1))
        ).alias("_mwl_x10"),
        _lang_best(F.lower(t)).alias("_best"),
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("_digest").orderBy("doc_id")
    )
    lang_pred = F.when(
        F.col("_best").getField("score") > 0, F.col("_best").getField("lang")
    ).otherwise(F.lit("und"))
    quality_ok = c4_keep_gate(F.col("n_tokens"), F.col("_mwl_x10"))
    return (
        base.withColumn("_rn", rn)
        .select(
            "doc_id",
            "n_tokens",
            lang_pred.alias("lang_pred"),
            F.when(F.col("_rn") > 1, F.lit("duplicate"))
            .when(~quality_ok, F.lit("quality"))
            .when(~lang_pred.isin(*lang_keep), F.lit("language"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# deliberately simple, fully portable regexes (no lookaround — DuckDB RE2
# lacks it): enough to demonstrate the codegen scrub-counting shape
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
URL_RE = r"https?://[^\s]+"
LONG_DIGITS_RE = r"[0-9]{7,}"


def pii_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document counts of scrub-target spans (emails, URLs, long digit
    runs) and a needs_scrub flag — the inventory pass a redaction pipeline
    runs before rewriting text. Pure regexp_count: whole-stage codegen,
    one scan, no shuffle."""
    t = F.col(text_col)
    n_email = F.regexp_count(t, F.lit(EMAIL_RE)).cast("long")
    n_url = F.regexp_count(t, F.lit(URL_RE)).cast("long")
    n_digits = F.regexp_count(t, F.lit(LONG_DIGITS_RE)).cast("long")
    return docs.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_url.alias("n_urls"),
        n_digits.alias("n_long_digit_runs"),
        ((n_email + n_url + n_digits) > 0).cast("int").alias("needs_scrub"),
    ).orderBy("doc_id")


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Typed-placeholder redaction — the rewrite step after the
    pii_counts inventory: emails → ``<EMAIL>``, then URLs → ``<URL>``,
    then 7+-digit runs → ``<NUM>``, each pass applied to the PREVIOUS
    pass's output in that fixed order (placeholders contain none of the
    later patterns' alphabets, so the sequence is confluent and the
    DuckDB oracle replays it with 'g'-flag regexp_replace).
    ``n_redacted`` counts actual replacements — each pattern is counted
    on the text the pass really sees, so an email's digit run is not
    double-counted the way counting everything on the original would.
    One codegen projection per row: no shuffle, no UDF, no explode."""
    t0 = F.col(text_col)
    n1 = F.regexp_count(t0, F.lit(EMAIL_RE)).cast("long")
    t1 = F.regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    n2 = F.regexp_count(t1, F.lit(URL_RE)).cast("long")
    t2 = F.regexp_replace(t1, URL_RE, "<URL>")
    n3 = F.regexp_count(t2, F.lit(LONG_DIGITS_RE)).cast("long")
    t3 = F.regexp_replace(t2, LONG_DIGITS_RE, "<NUM>")
    return docs.select(
        "doc_id",
        (n1 + n2 + n3).alias("n_redacted"),
        t3.alias("clean_text"),
    ).orderBy("doc_id")


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters, integer permille: the share of the
    document's word bigrams taken by its single most frequent bigram, and
    the share of word occurrences that are repeats of an earlier word.

    The duplicate-word share is pure higher-order-function arithmetic (no
    shuffle); the top-bigram share explodes bigrams and aggregates per
    (doc_id, bigram) then per doc_id — the same bounded two-level shape as
    the shingle operators, partial-aggregated map-side. The words array is
    staged behind its own projection (HOF lambdas re-evaluate non-lambda
    subexpressions per element — see fingerprint)."""
    words = F.col("_rep_words")
    k = F.size(words) - 1
    positions = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
        F.array().cast("array<int>")
    )
    staged = docs.withColumn(
        "_rep_words", F.split(F.lower(F.col(text_col)), "\\s+")
    ).select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
        F.transform(
            positions,
            lambda i: F.concat_ws(
                " ", F.element_at(words, i + 1), F.element_at(words, i + 2)
            ),
        ).alias("_bigrams"),
    )
    per_bigram = staged.select(
        "doc_id", F.explode_outer("_bigrams").alias("_g")
    ).groupBy("doc_id", "_g").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = per_bigram.groupBy("doc_id").agg(
        F.max(F.when(F.col("_g").isNotNull(), F.col("_c")).otherwise(0))
        .cast("long")
        .alias("_top"),
        F.sum(F.when(F.col("_g").isNotNull(), F.col("_c")).otherwise(0))
        .cast("long")
        .alias("_n_bigrams"),
    )
    return (
        staged.select("doc_id", "n_words", "n_distinct")
        .join(per_doc, "doc_id")
        .select(
            "doc_id",
            F.floor(
                1000 * F.col("_top") / F.greatest(F.col("_n_bigrams"), F.lit(1))
            )
            .cast("long")
            .alias("top_bigram_permille"),
            F.floor(
                1000
                * (F.col("n_words") - F.col("n_distinct"))
                / F.greatest(F.col("n_words"), F.lit(1))
            )
            .cast("long")
            .alias("dup_word_permille"),
        )
        .orderBy("doc_id")
    )


def word_frequency_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) — the Zipf-compressed table BPE training actually
    iterates over. ONE map-side-combined shuffle reduces the corpus to its
    distinct words; every training iteration afterwards touches only this
    table, never the corpus again."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


# merge count above which bpe_merges warns about sequential-job latency
# (see its docstring); far below a production tokenizer's 30k+ merges,
# far above anything a Spark-side trainer should run un-batched
_BPE_MERGE_WARN = 256


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 12,
    text_col: str = "text",
    min_pair_freq: int = 2,
) -> DataFrame:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
    tokenizer-training step downstream of `vocabulary`: learn the top
    ``n_merges`` adjacent-symbol merges by corpus frequency, deterministic
    tie-break (freq desc, left asc, right asc). Returns one row per merge:
    (rank, left, right, merged, pair_freq).

    Scale design — the iteration state is the WORD-FREQUENCY table, not
    the corpus: classic BPE trains on (word, freq) because the distinct
    words are Zipf-small relative to the token stream (one corpus-sized
    shuffle total, in word_frequency_table). Each of the K iterations is
    then (a) one explode of adjacent symbol pairs + a map-side-combined
    sum — selecting the argmax pair is a 1-row driver scalar, the same
    bounded per-iteration control decision the PageRank loop makes — and
    (b) one higher-order `aggregate` fold (JVM-side, no Python, but
    interpreted: `ArrayAggregate` is `CodegenFallback`) that applies the
    merge greedily left-to-right per word (accumulator carries a pending
    symbol, so "aaa" under (a,a) merges positions 0-1 only).
    localCheckpoint per iteration cuts the K-deep lineage exactly like
    operators/pagerank.py. For a trillion-token corpus, cap the state
    with the salted top-K of `vocabulary` first (coverage loss is the
    standard BPE-trainer truncation); the fold itself never touches the
    driver.

    **Job-count cost**: merge learning is inherently sequential — each
    merge changes the pair statistics the next argmax needs — so this
    runs TWO Spark jobs per merge (pair-count argmax + the fold's
    checkpoint), i.e. ~2·n_merges jobs total. Over the Zipf-small word
    table each job is seconds, but at production vocab targets
    (n_merges ≈ 30k-50k for a 32k-64k tokenizer) the driver-side job
    *scheduling* latency dominates: at even 2 jobs/sec that is hours of
    fixed cost regardless of cluster size. A large-vocab trainer should
    batch non-overlapping merges per sweep or train on a driver-local
    sample of the word table (both standard BPE-trainer shortcuts);
    this operator warns above ``_BPE_MERGE_WARN`` merges rather than
    silently queueing tens of thousands of jobs."""
    if n_merges > _BPE_MERGE_WARN:
        import warnings

        warnings.warn(
            f"bpe_merges(n_merges={n_merges}) schedules ~{2 * n_merges} "
            "sequential Spark jobs (two per merge); above "
            f"{_BPE_MERGE_WARN} merges driver scheduling latency "
            "dominates — batch merges per sweep or train on a sampled "
            "word table instead",
            stacklevel=2,
        )
    # word -> character symbols: split only BETWEEN two chars (lookbehind
    # + lookahead), so no leading/trailing empty elements
    syms = F.split(F.col("word"), "(?<=.)(?=.)")
    state = word_frequency_table(docs, text_col).select(
        syms.alias("syms"), "freq"
    )
    state = state.localCheckpoint()
    out_rows = []
    for rank in range(n_merges):
        pairs = state.select(
            F.explode(
                F.zip_with(
                    F.expr("slice(syms, 1, size(syms) - 1)"),
                    F.expr("slice(syms, 2, size(syms) - 1)"),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").cast("long").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0].pair_freq < min_pair_freq:
            break
        l, r, pf = top[0].l, top[0].r, top[0].pair_freq
        out_rows.append((rank, l, r, l + r, pf))
        merged = F.lit(l + r)
        nul = F.lit(None).cast("string")

        def make_step(_l: str, _r: str, _m, _n):
            def step(acc, s):
                return (
                    F.when(
                        acc.pend.isNull(),
                        F.struct(acc.out.alias("out"), s.alias("pend")),
                    )
                    .when(
                        (acc.pend == F.lit(_l)) & (s == F.lit(_r)),
                        F.struct(
                            F.concat(acc.out, F.array(_m)).alias("out"),
                            _n.alias("pend"),
                        ),
                    )
                    .otherwise(
                        F.struct(
                            F.concat(acc.out, F.array(acc.pend)).alias(
                                "out"
                            ),
                            s.alias("pend"),
                        )
                    )
                )

            return step

        step = make_step(l, r, merged, nul)

        state = state.select(
            F.aggregate(
                "syms",
                F.struct(
                    F.array().cast("array<string>").alias("out"),
                    nul.alias("pend"),
                ),
                step,
                lambda acc: F.when(acc.pend.isNull(), acc.out).otherwise(
                    F.concat(acc.out, F.array(acc.pend))
                ),
            ).alias("syms"),
            "freq",
        ).localCheckpoint()
    spark = docs.sparkSession
    return spark.createDataFrame(
        out_rows,
        "rank int, left string, right string, merged string, pair_freq long",
    )


# default separator for bpe_apply_col: U+001F (unit separator) — a control
# byte that never occurs in crawl-extracted text (the WET extraction chain
# collapses whitespace/control runs; functions/extract.py)
BPE_SEP = "\x1f"


def bpe_apply_col(word: F.Column, merges: list[tuple[str, str]],
                  sep: str = BPE_SEP) -> F.Column:
    """array<string> of BPE tokens for a word column, applying ``merges``
    in rank order — no Python, no iteration state. The replace chain is
    generated code; the closing empty-token ``filter`` is a lambda and runs
    interpreted (``CodegenFallback``).

    The trick that makes greedy BPE application a plain expression chain:
    represent the symbol sequence PREFIX-separated (``\\x1fw\\x1fo\\x1fr``…,
    one regexp_replace), then merge rank k is exactly
    ``replace(s, sep+l+sep+r, sep+l+r)`` — SQL replace scans left to
    right and resumes after each non-overlapping match, which IS the BPE
    greedy rule ('aaa' under (a,a) merges positions 0-1 only), and the
    prefix separator blocks false matches across symbol boundaries
    ('xa'+'b' never matches merge (a,b) because 'a' is not
    separator-preceded). Identical semantics are expressible verbatim in
    DuckDB (chr(31) + replace), giving the registry query an EXACT
    full-token-sequence oracle — and tests pin equivalence against the
    independent fold-based applier inside bpe_merges.

    K merges = K nested replace calls in one projection; fine into the
    thousands of merges of a practical tokenizer (expression depth, not
    plan depth). The separator must not occur in the text (true for
    extracted webtext; see BPE_SEP)."""
    return F.filter(
        F.split(_bpe_encoded_str(word, merges, sep), sep),
        lambda t: t != F.lit(""),
    )


def bpe_token_frequencies(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    top_k: int = 30,
) -> DataFrame:
    """Corpus token-frequency table under a learned/pinned merge list —
    the tokenizer-evaluation readout (what fraction of the stream the
    merged symbols cover). Encodes the Zipf-compressed (word, freq)
    table, not the corpus: one corpus-sized shuffle total, then the
    replace-chain projection and a bounded (token) aggregation. Returns
    the top ``top_k`` (token, freq), deterministic tie-break."""
    wf = word_frequency_table(docs, text_col)
    toks = wf.select(
        F.explode(bpe_apply_col(F.col("word"), merges)).alias("token"),
        "freq",
    )
    return (
        toks.groupBy("token")
        .agg(F.sum("freq").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(top_k)
    )


def bpe_compression(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language tokenizer compression — tokens per 1000 words under a
    merge list (the fertility metric that tells you which languages a
    tokenizer serves badly; multilingual-corpus curation rebalances on
    it). Token counting never materializes token arrays: each token is
    exactly one separator char in the encoded representation, so
    ``n_tokens = length(enc) - length(replace(enc, sep, ''))`` — pure
    codegen arithmetic, replayed identically in DuckDB. Aggregates the
    Zipf-compressed (lang, word, freq) table, not the corpus."""
    wf = (
        docs.select(
            F.col(lang_col).alias("lang"),
            F.explode(F.split(F.col(text_col), " ")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    enc = F.col("_enc")
    per_word = wf.withColumn(
        "_enc",
        _bpe_encoded_str(F.col("word"), merges),
    ).select(
        "lang",
        "freq",
        (F.length(enc) - F.length(F.replace(enc, F.lit(BPE_SEP), F.lit(""))))
        .cast("long")
        .alias("n_tokens_word"),
    )
    return (
        per_word.groupBy("lang")
        .agg(
            F.sum("freq").cast("long").alias("n_words"),
            F.sum(F.col("n_tokens_word") * F.col("freq"))
            .cast("long")
            .alias("n_tokens"),
        )
        .withColumn(
            "tokens_per_1000_words",
            # BIGINT div end to end (matches the oracle's //); the double
            # detour of floor(x*1000/y) is exact only below 2^53
            F.expr("(n_tokens * 1000) div n_words"),
        )
        .orderBy("lang")
    )


def _bpe_encoded_str(word: F.Column, merges: list[tuple[str, str]],
                     sep: str = BPE_SEP) -> F.Column:
    """The prefix-separated encoded representation (see bpe_apply_col) —
    shared by the token-array and token-count paths."""
    s = F.regexp_replace(word, "(.)", sep + "$1")
    for left, right in merges:
        s = F.replace(
            s, F.lit(sep + left + sep + right), F.lit(sep + left + right)
        )
    return s


def bpe_encode_docs(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Document-grain encode: adds ``tokens`` (array<string>) — the shape
    sequence-packing consumes (operators/sampling.pack_sequences counts
    these instead of whitespace words when a tokenizer is pinned). The
    per-word replace chain runs inside a higher-order transform over the
    word array: still zero Python."""
    words = F.filter(
        F.split(F.col(text_col), " "), lambda w: w != F.lit("")
    )
    return docs.withColumn(
        "tokens",
        F.flatten(F.transform(words, lambda w: bpe_apply_col(w, merges))),
    )


# ---------------------------------------------------------------------------
# In-engine Naive Bayes text classifier (train + infer as pure aggregations)
# ---------------------------------------------------------------------------
#
# The quality/language filtering stage of a webtext curation pipeline is a
# cheap linear text classifier (fastText-style) applied to every document.
# Training one does not need an ML runtime: multinomial Naive Bayes is
# exactly a pair of grouped counts plus a log transform, so both training
# and inference stay whole-stage-codegen DataFrame plans. Weights are
# integer fixed-point (floor(1e6*ln(p))) so every score is an integer sum —
# order-independent, engine-exact (measured: floor(1e6*ln(x)) is
# bit-identical between Spark's java.lang.Math.log and DuckDB's libm over
# 3M integer and rational inputs; see tests/test_nb_classifier.py).
#
# Extends the reference's per-page language *counting*
# (/root/reference/crawlstats.py primary-language fields) with the
# train-a-model-and-filter step downstream pipelines bolt on.

NB_PRIOR_TOKEN = "<prior>"


def nb_train(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    vocab_size: int = 50,
    n_salts: int = 8,
) -> DataFrame:
    """Train a multinomial Naive Bayes classifier; returns the DENSE
    (vocab x label) weight table plus one ``<prior>`` row per label:

      weight_x1m = floor(1e6 * ln((n(token,label)+1) / (N_label + V)))
      prior_x1m  = floor(1e6 * ln(docs_label / docs_total))

    with add-one smoothing over the capped vocabulary (V = actual vocab
    rows; N_label = vocab-token occurrences in the label's docs).

    Scale shape: ONE map-side-combined token shuffle for the counts (the
    corpus is never shuffled again); vocab selection is the salted
    two-phase top-K (no single-task vocabulary sort); the dense matrix is
    built label x vocab (K*C rows, broadcast-sized by construction) with
    the observed counts LEFT-joined in, so the model ships to inference as
    one broadcast. No driver loop, no MLlib, no UDF."""
    toks = docs.select(
        F.col(label_col).alias("label"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).filter(F.col("token") != "")
    # the ONE corpus-scale shuffle: (label, token) counts. Everything
    # below re-aggregates / joins this bounded (≤ tokens × C rows) table;
    # the lazy localCheckpoint cuts its lineage because it feeds several
    # branches (token totals for vocab selection, class counts, dense
    # join) — without it each branch re-executes the corpus explode,
    # silently breaking the one-shuffle contract.
    lt = (
        toks.groupBy("label", "token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tc = lt.groupBy("token").agg(F.sum("cnt").cast("long").alias("n"))
    order = (F.desc("n"), F.asc("token"))
    w1 = Window.partitionBy("_salt").orderBy(*order)
    w2 = dim_window(*order)
    vocab = (
        tc.withColumn("_salt", F.pmod(F.xxhash64("token"), F.lit(n_salts)))
        .withColumn("_sr", F.row_number().over(w1))
        .filter(F.col("_sr") <= vocab_size)
        .withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") <= vocab_size)
        .select("token")
        .localCheckpoint(eager=False)  # feeds 3 branches, ≤K rows
    )
    cls = lt.join(F.broadcast(vocab), "token").select(
        "label", "token", "cnt"
    )
    nc = cls.groupBy("label").agg(F.sum("cnt").alias("n_c"))
    lab = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    vsize = vocab.agg(F.count("*").alias("v"))
    total = docs.agg(F.count("*").alias("n_total"))
    dense = (
        vocab.crossJoin(F.broadcast(lab.select("label")))
        .join(cls, ["label", "token"], "left")
        .join(F.broadcast(nc), "label", "left")
        .join(F.broadcast(vsize))
        .select(
            "token",
            "label",
            F.floor(
                F.lit(1_000_000)
                * F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("n_c"), F.lit(0)) + F.col("v")).cast(
                        "double"
                    )
                )
            )
            .cast("long")
            .alias("weight_x1m"),
        )
    )
    priors = (
        lab.join(F.broadcast(total))
        .select(
            F.lit(NB_PRIOR_TOKEN).alias("token"),
            "label",
            F.floor(
                F.lit(1_000_000)
                * F.log(
                    F.col("n_docs").cast("double")
                    / F.col("n_total").cast("double")
                )
            )
            .cast("long")
            .alias("weight_x1m"),
        )
    )
    return dense.unionByName(priors).orderBy("token", "label")


def _nb_scored(
    docs: DataFrame, weights: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, label, score) for every (document, class): prior +
    Σ count·weight over the broadcast model — the shared scoring subplan
    of nb_classify and nb_calibration (shape documented on nb_classify)."""
    mat = weights.filter(F.col("token") != NB_PRIOR_TOKEN)
    priors = weights.filter(F.col("token") == NB_PRIOR_TOKEN).select(
        "label", F.col("weight_x1m").alias("prior_x1m")
    )
    dt = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    sc = (
        dt.join(F.broadcast(mat), "token")
        .groupBy("doc_id", "label")
        .agg(F.sum(F.col("cnt") * F.col("weight_x1m")).alias("s"))
    )
    base = docs.select("doc_id").crossJoin(F.broadcast(priors))
    return base.join(sc, ["doc_id", "label"], "left").select(
        "doc_id",
        "label",
        (F.col("prior_x1m") + F.coalesce(F.col("s"), F.lit(0))).alias(
            "score"
        ),
    )


def nb_classify(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Score every document against an `nb_train` model and emit the argmax
    label: (doc_id, label_pred, score_x1m). Deterministic tie-break on the
    ascending label code; docs with zero vocab tokens fall back to priors.

    Scale shape: the model is broadcast (K*C + C rows by construction);
    per-doc token counts pre-aggregate before the join so each (doc,
    vocab-token) pair crosses the wire once; the per-(doc,label) score sum
    is map-side combinable integers; argmax is a window over the
    high-cardinality doc_id partition (C rows per partition)."""
    scored = _nb_scored(docs, weights, text_col)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("label")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            F.col("label").alias("label_pred"),
            F.col("score").cast("long").alias("score_x1m"),
        )
        .orderBy("doc_id")
    )


def nb_calibration(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Reliability table for the NB classifier: per confidence bin, how
    often the argmax label matches the declared one. Confidence is the
    integer score MARGIN (argmax minus runner-up, x1m log units) — the
    scale-free confidence proxy for an unnormalized log-joint model —
    binned on the reference's integer-exact pseudo-log edges (1, 2, 5 per
    decade, timeseries.pseudo_log_histogram; margin 0 = tie keeps bin 0).
    The curation question this answers: above which margin can the
    cheap classifier's call be trusted, below which should a document
    fall through to the expensive path.

    Deliberately FIXED bins, not ntile deciles: a decile window is an
    unpartitioned global sort at corpus scale, while data-independent
    edges keep the whole table one doc_id window + one bin aggregation.
    Returns (margin_bin, n_docs, n_correct, acc_permille)."""
    scored = _nb_scored(docs, weights, text_col)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("label")
    )
    rn = F.col("_rn")
    per_doc = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(rn <= 2)
        .groupBy("doc_id")
        .agg(
            F.max(F.when(rn == 1, F.col("label"))).alias("label_pred"),
            F.max(F.when(rn == 1, F.col("score"))).alias("_s1"),
            F.max(F.when(rn == 2, F.col("score"))).alias("_s2"),
        )
        .withColumn(
            "_margin", (F.col("_s1") - F.coalesce("_s2", "_s1")).cast("long")
        )
    )
    m = F.col("_margin")
    p10 = F.expr(
        "CAST(power(10, length(CAST(_margin AS STRING)) - 1) AS BIGINT)"
    )
    mant = F.floor(m / p10).cast("long")
    edge = (
        F.when(mant >= 5, 5).when(mant >= 2, 2).otherwise(1) * p10
    ).cast("long")
    binned = per_doc.join(
        docs.select("doc_id", F.col(label_col).alias("_truth")), "doc_id"
    ).select(
        F.when(m <= 0, F.lit(0).cast("long")).otherwise(edge).alias(
            "margin_bin"
        ),
        (F.col("label_pred") == F.col("_truth")).cast("long").alias("_ok"),
    )
    return (
        binned.groupBy("margin_bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_ok").cast("long").alias("n_correct"),
        )
        .select(
            "margin_bin",
            "n_docs",
            "n_correct",
            F.floor(F.col("n_correct") * 1000 / F.col("n_docs")).alias(
                "acc_permille"
            ),
        )
        .orderBy("margin_bin")
    )


def nb_self_agreement(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    vocab_size: int = 50,
) -> DataFrame:
    """CCNet-style self-agreement filter: train on the declared labels,
    re-classify the same corpus, keep documents where the model agrees
    with the declaration (keep=1). The disagreement set is exactly the
    suspicious-metadata inventory a curation run reviews."""
    weights = nb_train(
        docs, label_col=label_col, text_col=text_col, vocab_size=vocab_size
    )
    pred = nb_classify(docs, weights, text_col=text_col)
    return (
        docs.select("doc_id", F.col(label_col).alias("label_declared"))
        .join(pred, "doc_id")
        .select(
            "doc_id",
            "label_declared",
            "label_pred",
            (F.col("label_declared") == F.col("label_pred"))
            .cast("int")
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


def tfidf_keywords(
    docs: DataFrame,
    top_k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Per-document keyword extraction: top-k tokens by integer TF-IDF —
    score_x1m = tf(doc, token) * floor(1e6 * ln(N_docs / df(token))) —
    the keyword/tagging signal curation pipelines attach to every page.
    Deterministic tie-break (score desc, token asc); rank is 1-based.

    Scale shape: the document-frequency table is ONE map-side-combined
    groupBy over (token) (df fits the vocabulary dimension, Zipf-small
    relative to the token stream); attaching df back to the per-(doc,
    token) counts is a token-keyed shuffle join whose hot keys (stopwords)
    carry the LOWEST idf — AQE skew-join splits them at runtime. The
    top-k window partitions by doc_id (high cardinality, bounded rows per
    partition). Integer fixed-point throughout (floor(1e6*ln) is
    engine-exact; see nb_train)."""
    dt = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"))
        # dt feeds BOTH the df table and the idf join-back; Catalyst does
        # not reuse the exchange across the two branches (plan-checked:
        # 0 ReusedExchange), so without a lineage cut the corpus explode
        # and (doc, token) shuffle run twice. Storing dt once costs what
        # one shuffle write already costs.
        .localCheckpoint(eager=False)
    )
    df_tab = dt.groupBy("token").agg(
        F.count("*").cast("long").alias("df")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        dt.join(df_tab, "token")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf")
                * F.floor(
                    F.lit(1_000_000)
                    * F.log(
                        F.col("n_docs").cast("double")
                        / F.col("df").cast("double")
                    )
                ).cast("long")
            ).alias("score_x1m"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_x1m"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "token",
            F.col("score_x1m").cast("long").alias("score_x1m"),
        )
        .orderBy("doc_id", "rank")
    )


def host_quality_rollup(
    pages_text: DataFrame,
    min_pages: int = 8,
    max_dup_permille: int = 600,
    min_keep_permille: int = 500,
    host_col: str = "host",
    digest_col: str = "digest",
    text_col: str = "text",
) -> DataFrame:
    """Host-level quality rollup → crawl blocklist derivation: the bridge
    from the curation layer back to the frontier.

    Production crawls maintain host reputation from what they already
    fetched (the reference's per-host/domain count tables,
    crawlstats.py host/domain aggregations, are exactly this signal
    surface): a host whose pages are mostly near-empty boilerplate or
    mostly byte-duplicates of each other (mirror farms, calendar traps,
    soft-404 templates) should stop receiving fetch budget. This rollup
    scores every host from the fetched-pages table and derives the
    blocklist the frontier's admission chain consumes
    (frontier/urlfilter.py:apply_host_blocklist).

    Per-host signals, all integer-exact:

    - ``n_pages``       successful fetches (callers pre-filter status)
    - ``n_digests``     distinct content digests
    - ``n_keep``        pages passing the C4/Gopher-style text gate
                        (same thresholds as quality_scores: ≥10 tokens,
                        mean word length in [2.0, 12.0])
    - ``dup_permille``  1000 - ⌊1000·n_digests/n_pages⌋ — content
                        duplication rate (mirror/trap signature)
    - ``keep_permille`` ⌊1000·n_keep/n_pages⌋
    - ``blocked``       1 when the host has enough support
                        (n_pages ≥ min_pages) and is dup-heavy
                        (dup_permille > max_dup_permille) or
                        low-quality (keep_permille < min_keep_permille)

    Scale shape: the text gate is a codegen projection in the scan (no
    UDF, no join at production scale — the input_hint pages table carries
    text inline; the fixture joins documents on doc_id upstream). The
    distinct-digest count is TWO-LEVEL — groupBy(host, digest) partials
    collapse same-content fetches map-side, then the host-level agg sums
    them — instead of countDistinct, whose Catalyst Expand would double
    every shuffle row. Keys shrink monotonically (pages → host×digest →
    host); no window, no driver collect. If the source lacks a digest
    column, pass ``F.md5(text)`` projected upstream.
    """
    t = F.col(text_col)
    n_tok = F.regexp_count(t, F.lit(WS_TOKEN_RE))
    mwl = F.floor(10 * F.length(t) / F.greatest(n_tok, F.lit(1)))
    keep = c4_keep_gate(n_tok, mwl).cast("long")
    per_digest = (
        pages_text.select(
            F.col(host_col).alias("host"),
            F.col(digest_col).alias("_digest"),
            keep.alias("_keep"),
        )
        .groupBy("host", "_digest")
        .agg(F.count("*").alias("_c"), F.sum("_keep").alias("_k"))
    )
    per_host = per_digest.groupBy("host").agg(
        F.sum("_c").cast("long").alias("n_pages"),
        F.count("*").cast("long").alias("n_digests"),
        F.sum("_k").cast("long").alias("n_keep"),
    )
    dup_pm = (
        1000 - F.floor(1000 * F.col("n_digests") / F.col("n_pages"))
    ).cast("long")
    keep_pm = F.floor(
        1000 * F.col("n_keep") / F.col("n_pages")
    ).cast("long")
    return (
        per_host.select(
            "host",
            "n_pages",
            "n_digests",
            "n_keep",
            dup_pm.alias("dup_permille"),
            keep_pm.alias("keep_permille"),
        )
        .withColumn(
            "blocked",
            (
                (F.col("n_pages") >= min_pages)
                & (
                    (F.col("dup_permille") > max_dup_permille)
                    | (F.col("keep_permille") < min_keep_permille)
                )
            ).cast("int"),
        )
        .orderBy("host")
    )


def vocab_coverage(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Good–Turing vocabulary-coverage statistics per language — the
    corpus-sufficiency read a curation pipeline takes before deciding
    whether a language slice is big enough to train on: the missing mass
    (probability the NEXT token is unseen) is estimated by N1/N (Good
    1953), with the hapax/doubleton counts that drive smoothing.

    Output per lang: (lang, n_tokens, n_types, n_hapax, n_dis,
    missing_mass_permille, type_token_permille) — all integer-exact
    (permille via `div`).

    Scale shape: the same two-level count as `vocabulary` — per
    (lang, doc, token) map-side combine, then a (lang, token) frequency
    table, then one bounded per-lang rollup. Nothing driver-side, no
    windows."""
    toks = docs.select(
        "lang",
        "doc_id",
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).filter(F.col("token") != "")
    per_doc = toks.groupBy("lang", "doc_id", "token").agg(
        F.count("*").cast("long").alias("_c")
    )
    freq = per_doc.groupBy("lang", "token").agg(
        F.sum("_c").cast("long").alias("c")
    )
    return (
        freq.groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dis"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_types",
            "n_hapax",
            "n_dis",
            F.expr("CAST(n_hapax * 1000 DIV n_tokens AS BIGINT)").alias(
                "missing_mass_permille"
            ),
            F.expr("CAST(n_types * 1000 DIV n_tokens AS BIGINT)").alias(
                "type_token_permille"
            ),
        )
        .orderBy("lang")
    )


def compression_ratios(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """zlib compression ratio per document — the classic redundancy
    quality signal (template/boilerplate/spam text compresses far better
    than natural prose; used alongside Gopher-style repetition filters).
    ratio_permille = 1000 * compressed_len / raw_len (lower = more
    redundant), 0-length docs excluded.

    This is the documented boundary case for the no-UDF rule: DEFLATE is
    not expressible in built-in SQL functions, so it runs as an
    Arrow-batched pandas UDF (zlib releases the GIL; one C call per doc,
    no per-row Python logic beyond the loop). Deterministic: zlib level 6
    output length is stable for a given input across platforms/runs, so
    the output is exact-comparable (rows-only for the driver — DuckDB has
    no zlib — with exactness pinned against direct zlib in pytest)."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    def _zlib_len(s):
        import zlib  # noqa: PLC0415

        return pd.Series(
            [len(zlib.compress(t.encode("utf-8"), 6)) if t else 0 for t in s]
        )

    _clen = pandas_udf(_zlib_len, "long")

    raw_len = F.length(F.encode(F.col(text_col), "utf-8"))
    return (
        docs.select(
            "doc_id",
            raw_len.cast("long").alias("raw_bytes"),
            _clen(F.col(text_col)).alias("zlib_bytes"),
        )
        .filter(F.col("raw_bytes") > 0)
        .select(
            "doc_id",
            "raw_bytes",
            "zlib_bytes",
            F.expr("CAST(zlib_bytes * 1000 DIV raw_bytes AS BIGINT)").alias(
                "ratio_permille"
            ),
        )
        .orderBy("doc_id")
    )


# error-page phrases a soft-404 body carries despite its 200 status —
# deliberately a small, fully-specified pattern set so both engines
# evaluate the identical regexp (production deployments extend the list
# or swap in a trained classifier behind the same column contract)
SOFT404_PATTERN = (
    "page not found|404 not found|does not exist|no longer available"
)


def soft404_flags(
    pages_text: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Adds ``is_soft404``: the capture returned HTTP 200 but its body is
    an error page (Bar-Yossef et al., WWW 2004 — 'soft 404s' break both
    index quality and dead-link detection, and a crawler that trusts the
    status code keeps recrawling and even expanding them). Pure codegen
    (lower + rlike) in whatever stage already carries the text."""
    return pages_text.withColumn(
        "is_soft404",
        (F.col("status") == 200)
        & F.lower(F.col(text_col)).rlike(SOFT404_PATTERN),
    )


def soft404_host_rates(
    pages_text: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-host soft-404 exposure: 200-status fetches, how many are
    error-page bodies, integer permille — the screen that demotes a host
    in the frontier (a high rate means its 200s can't be trusted) and
    drops the pages from the training corpus. One host-grain
    aggregation."""
    flagged = soft404_flags(pages_text, text_col)
    return (
        flagged.filter(F.col("status") == 200)
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_200"),
            F.sum(F.when(F.col("is_soft404"), 1).otherwise(0))
            .cast("long")
            .alias("n_soft404"),
        )
        .withColumn(
            "soft404_permille",
            # BIGINT div end to end (matches the oracle's //); the double
            # detour of floor(x*1000/y) is exact only below 2^53
            F.expr("(n_soft404 * 1000) div n_200"),
        )
        .orderBy("host")
    )
