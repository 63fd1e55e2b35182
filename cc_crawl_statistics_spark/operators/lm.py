"""CCNet-style n-gram language-model perplexity filtering.

The canonical webtext curation step downstream of the reference's
language counting (/root/reference/crawlstats.py primary-language fields):
train a smoothed bigram LM on a trusted reference slice of the corpus,
score every document's cross-entropy under it, and drop the
high-perplexity tail (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data" — there a KenLM 5-gram; here an
add-one-smoothed bigram model whose training AND scoring are pure
DataFrame aggregations, no ML runtime).

Everything is integer fixed-point: conditional log-probabilities are
``floor(1e6 * ln((c(w1,w2)+1) / (c(w1)+V)))`` (the same construction as
the Naive Bayes weights in textstats.py, measured bit-identical between
Spark's Math.log and DuckDB's libm), per-document scores are integer sums
of those, and the per-token cross-entropy is an integer ``div`` — so
every output is engine-exact and order-independent.

Scale shape: training is one map-side-combined aggregation over the
reference slice's bigrams, the context counts summed from it (the slice
is a small fraction of the corpus by construction); scoring streams each
document's bigrams straight into joins on those counts and sums per
doc_id (see lm_cross_entropy). Tokens and pairs are generated-code array
expressions — ``array_remove(split)`` and ``explode(arrays_zip(slice,
slice))`` — not higher-order lambdas, which Spark runs interpreted
(BENCH.md design decision "codegen text kernels"). The count tables are
vocabulary-sized, not corpus-sized — broadcast them when the reference
slice is small, let AQE pick the strategy otherwise (no hint pinned
here). The unseen-bigram / unseen-context penalties fall out of the same
smoothing formula with c2=0 / c1=0, so scoring is ONE formula over a
left join, not a backoff cascade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000


def _words(text_col: str) -> Column:
    """Whitespace tokens with empties removed (adjacency is defined over
    the FILTERED sequence, matching the DuckDB oracle's list_filter)."""
    return F.array_remove(F.split(F.col(text_col), " "), "")


def adjacent_pairs(w: Column) -> tuple[Column, Column]:
    """(first, second) token of every adjacent pair of the token array
    ``w``, as two aligned arrays — empty for fewer than two tokens (the
    length is clamped at 0: ``slice`` refuses a negative one)."""
    m = F.greatest(F.size(w) - 1, F.lit(0))
    return F.slice(w, 1, m), F.slice(w, 2, m)


def _bigram_structs(docs: DataFrame, text_col: str, generator) -> DataFrame:
    """(doc_id, p: struct<w1, w2>) with ``generator`` (explode or
    explode_outer) over the zipped pair arrays. The token array is staged
    behind its own projection, so each text is split once, not once per
    reference in the generator."""
    w = F.col("_lm_w")
    first, second = adjacent_pairs(w)
    return docs.select("doc_id", _words(text_col).alias("_lm_w")).select(
        "doc_id",
        generator(
            F.arrays_zip(first.alias("w1"), second.alias("w2"))
        ).alias("p"),
    )


def bigrams(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent token pair. Documents with
    fewer than two tokens contribute nothing. The pairing is
    ``explode(arrays_zip(slice, slice))`` — array expressions with
    generated code, no lambda (a ``zip_with`` would be interpreted:
    higher-order functions are ``CodegenFallback``), no self-join."""
    return _bigram_structs(docs, text_col, F.explode).select(
        "doc_id", "p.w1", "p.w2"
    )


def lm_train_bigram(ref_docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Train the smoothed bigram model on the reference slice; returns
    (w1, w2, c_bigram, c_context, v, logp_x1m) where

      logp_x1m = floor(1e6 * ln((c_bigram + 1) / (c_context + V)))

    with V = distinct token count of the slice (all positions). The table
    has one row per OBSERVED bigram; unseen pairs score through the same
    formula with c_bigram=0 (and c_context=0 for unseen contexts), so no
    dense materialization is ever needed."""
    c2, c1, vocab = _counts(ref_docs, text_col)
    return (
        c2.join(c1, "w1")
        .join(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            "c_bigram",
            "c_context",
            "v",
            _logp(F.col("c_bigram"), F.col("c_context"), F.col("v")).alias(
                "logp_x1m"
            ),
        )
    )


def _logp(c_bigram: Column, c_context: Column, v: Column) -> Column:
    """floor(1e6 * ln((c_bigram + 1) / (c_context + V))), the one
    smoothing formula of training and scoring."""
    return F.floor(
        F.lit(SCALE)
        * F.log((c_bigram + 1).cast("double") / (c_context + v).cast("double"))
    ).cast("long")


def _counts(
    ref_docs: DataFrame, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The reference slice's (w1, w2, c_bigram), (w1, c_context) and the
    one-row (v): c_context sums c_bigram per w1, so both counts share one
    bigram aggregation (and its exchange). v is NULL when no reference
    document has two tokens — an empty model scores nothing."""
    c2 = bigrams(ref_docs, text_col).groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c_bigram")
    )
    c1 = c2.groupBy("w1").agg(F.sum("c_bigram").cast("long").alias("c_context"))
    w = F.col("_lm_w")
    vocab = (
        ref_docs.select(_words(text_col).alias("_lm_w"))
        .select(F.explode(w).alias("w"), F.size(w).alias("n"))
        .groupBy("w")
        .agg(F.max("n").alias("n"))
        .agg(
            F.when(F.max("n") >= 2, F.count("*")).cast("long").alias("v")
        )
    )
    return c2, c1, vocab


def lm_cross_entropy(
    docs: DataFrame,
    ref_docs: DataFrame,
    text_col: str = "text",
    broadcast_model: bool = False,
) -> DataFrame:
    """Score every document under the reference-slice bigram LM:
    (doc_id, n_bigrams, xent_mnat) with

      xent_mnat = (-sum_i ln P(w_i | w_{i-1})) / n_bigrams

    in integer milli-nats (floor). Documents with < 2 tokens carry
    n_bigrams = 0 and NULL xent_mnat (no evidence either way — the filter
    keeps them). Unseen bigrams/contexts go through the shared smoothing
    formula, not a separate penalty path: the bigram stream joins the
    counts — (w1, w2) → c_bigram and w1 → c_context, which sums c_bigram
    per w1 and so shares its aggregation — and the formula runs on the
    joined row; no model table is materialized. Every documents row comes
    back without a join to ``docs``: ``explode_outer`` keeps a document
    with fewer than two tokens as one NULL pair, which ``count(lp)``
    skips. A reference slice with no two-token document (an empty model)
    leaves every document unscored rather than dropped: the V row is a
    one-row aggregate, NULL then.

    Join shape (measured at 1.3e8 bigram occurrences): the bigram stream
    joins the model DIRECTLY — no (doc_id, w1, w2) pre-aggregation. The
    pre-agg looked like map-side thrift but within-document bigram repeats
    are rare (~1.1x), so it was a full stream shuffle bought for nothing:
    dropping it measured 1.55x faster with identical output, and the
    per-doc sums still collapse map-side because a document's bigrams
    never leave their input partition until AFTER they are reduced to one
    partial row per doc. With ``broadcast_model=True`` (callers who KNOW
    the reference slice is small — e.g. the capped trusted slice) the
    stream is never shuffled at all: measured a further 1.8x (2.8x total).
    Default False: AQE picks broadcast vs shuffle from the model's runtime
    size, which is the right call for open-vocabulary reference slices
    whose bigram table can exceed broadcast limits."""
    c2, c1, vocab = _counts(ref_docs, text_col)
    if broadcast_model:
        c2, c1 = F.broadcast(c2), F.broadcast(c1)
    # lp is NULL on the NULL pair of a < 2-token document, and everywhere
    # when the model is empty (v NULL)
    scored = (
        _bigram_structs(docs, text_col, F.explode_outer)
        .select("doc_id", "p.w1", "p.w2")
        .join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            F.when(
                F.col("w1").isNotNull(),
                _logp(
                    F.coalesce(F.col("c_bigram"), F.lit(0)),
                    F.coalesce(F.col("c_context"), F.lit(0)),
                    F.col("v"),
                ),
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("lp").cast("long").alias("n_bigrams"),
        # NULL when no pair scored: sum(lp) is NULL, and so is the quotient
        F.expr("(-sum(lp)) div (count(lp) * 1000)")
        .cast("long")
        .alias("xent_mnat"),
    )


def lm_quality_partition(
    docs: DataFrame,
    ref_docs: DataFrame,
    threshold_mnat: int,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """The CCNet head/tail split as per-group counts: documents at or
    under the cross-entropy threshold are kept (plus the no-evidence
    n_bigrams=0 docs), the rest dropped. Returns (group, kept, dropped)
    — the aggregate view a 100-TB run reports per language/bucket."""
    xent = lm_cross_entropy(docs, ref_docs, text_col)
    keep = F.col("xent_mnat").isNull() | (
        F.col("xent_mnat") <= threshold_mnat
    )
    return (
        docs.select("doc_id", F.col(group_col).alias("grp"))
        .join(xent, "doc_id")
        .groupBy("grp")
        .agg(
            F.sum(keep.cast("long")).alias("kept"),
            F.sum((~keep).cast("long")).alias("dropped"),
        )
        .orderBy("grp")
    )
