"""DSIR-style hashed n-gram importance weighting for data selection.

Xie et al. 2023 ("Data Selection for Language Models via Importance
Resampling", NeurIPS 2023) select pretraining documents by the importance
weight p_target(x)/q_raw(x) under bag-of-hashed-n-gram models: unigrams +
bigrams hashed into a fixed bucket space, per-bucket probabilities
estimated on a trusted target slice (p) and on the raw corpus (q), and
each document scored by Σ count_b · (ln p_b − ln q_b). It is the
importance-weighting complement to the CCNet perplexity filter in
operators/lm.py (which scores only against the target model; DSIR scores
the CONTRAST between target and raw, so features merely common in the
raw crawl don't inflate a document).

Exactness conventions follow lm.py: per-bucket log weights are
``floor(1e6 · ln(((cp+1)(Nq+B)) / ((cq+1)(Np+B))))`` — add-one smoothing
over B buckets, with every factor cast to DOUBLE before multiplying so
Spark and DuckDB run the identical IEEE op sequence; per-document scores
are integer sums of those. Bucket hashing is the portable md5 arithmetic
(first 3 hex chars → 0..4095 → mod B), reproducible in both engines
without engine-specific hash functions.

Scale shape: each document's unigram and bigram features are exploded
to rows and hashed to int buckets in the same whole-stage-generated
stage that splits the text (array expressions only — see
``bucket_rows``), so only (doc_id, bucket-int) pairs ever cross an
exchange; the two distributions are B-row tables (B = 1024 default —
kilobytes) built by ONE aggregation over both feature streams, each row
tagged raw or target, with the corpus totals from a window over those B
rows (no join of q and p, no totals cross join), so the weight table
broadcasts and scoring is one broadcast-hash join plus a doc_id
aggregation. There is deliberately NO
per-(doc, bucket) pre-aggregation: the weight join is broadcast (no
shuffle to shrink), and the doc×bucket hash-aggregate it would insert
keeps ~|docs in partition|×|buckets touched| live keys per task — the
one memory shape here that does NOT scale (measured: 1.14M-doc bench
OOMs the execution pool through it, while the per-feature form's maps
are bounded at B keys for q and |docs per partition| keys for scoring).
The raw corpus's feature rows are derived twice, once for the q pass
and once for scoring, with no lineage cut between: re-splitting the
text costs less than storing the rows (BENCH.md design decision
"codegen text kernels").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.windows import dim_window
from .lm import SCALE, _words, adjacent_pairs

__all__ = ["feature_bucket", "bucket_rows", "dsir_weights"]


def _hexval(h: Column, i: int) -> Column:
    """Value 0..15 of the i-th (1-based) hex char of ``h`` — ascii
    arithmetic only, so the same expression exists in DuckDB."""
    a = F.ascii(F.substring(h, i, 1))
    return a - 48 - F.when(a >= 97, F.lit(39)).otherwise(F.lit(0))


def feature_bucket(
    feat: Column, n_buckets: int = 1024, hasher: str = "md5"
) -> Column:
    """Hash a feature string into 0..n_buckets-1.

    Two flavors, same bucket-space contract:
      md5       (default) first 3 hex chars of md5 — PORTABLE: the
                identical arithmetic exists in DuckDB, so the oracle
                replays it; this is the exactness flavor.
      xxhash64  Spark's codegen 64-bit hash — the SCALE flavor: ~5x
                cheaper than md5 over the same feature stream (BENCH.md
                design decision "DSIR xxhash64 flavor") with the same
                uniformity, but engine-specific, so it is benchmarked
                rather than oracle-compared. DSIR's semantics are
                hash-agnostic (any uniform bucket hash estimates the
                same distributions), so production runs xxhash64 and
                correctness is proven on the md5 flavor.
    """
    if hasher == "xxhash64":
        return F.pmod(F.xxhash64(feat), F.lit(n_buckets)).cast("int")
    if hasher != "md5":
        # a typo must not silently buy the 5x-slower portable flavor
        raise ValueError(f"unknown hasher {hasher!r} (md5 | xxhash64)")
    h = F.md5(feat)
    raw = _hexval(h, 1) * 256 + _hexval(h, 2) * 16 + _hexval(h, 3)
    return F.pmod(raw, F.lit(n_buckets))


def bucket_rows(
    docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = 1024,
    hasher: str = "md5",
) -> DataFrame:
    """(doc_id, bucket): one row per unigram and bigram feature of each
    document, hashed into its bucket. One ``explode(arrays_zip(...))``
    pairs every token with NULL (unigrams) and every adjacent pair with
    its second token (bigrams, lm.adjacent_pairs); ``concat_ws`` skips
    the NULL, so the feature string is built and hashed on the exploded
    row. Array expressions only: a ``transform``/``zip_with`` lambda
    would run interpreted (``CodegenFallback``)."""
    w = F.col("_ds_w")
    first, second = adjacent_pairs(w)
    feats = F.arrays_zip(
        F.concat(w, first).alias("a"),
        F.concat(
            F.array_repeat(F.lit(None).cast("string"), F.size(w)), second
        ).alias("b"),
    )
    return (
        docs.select("doc_id", _words(text_col).alias("_ds_w"))
        .select("doc_id", F.explode(feats).alias("f"))
        .select(
            "doc_id",
            feature_bucket(
                F.concat_ws(" ", "f.a", "f.b"), n_buckets, hasher
            )
            .cast("int")
            .alias("bucket"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 1024,
    hasher: str = "md5",
) -> DataFrame:
    """Per-document integer log importance weight under the hashed
    n-gram target/raw contrast.

    Returns (doc_id, n_feats, logw_x1m) for every doc with at least one
    feature. There is deliberately NO absolute selection threshold: the
    expectation of the weight under the raw distribution is −KL(q‖p) ≤ 0,
    so "logw ≥ 0" would select almost nothing from a broad crawl — DSIR
    selects by RANK (top fraction, or Gumbel-perturbed sampling). Compose
    with sampling.weighted_sample / stratified top-k for the selection
    step."""
    fx = bucket_rows(docs, text_col, n_buckets, hasher)
    # both distributions in one B-row aggregation over the tagged union
    raw = F.col("_raw")
    dist = (
        fx.select("bucket", F.lit(True).alias("_raw"))
        .unionByName(
            bucket_rows(target, text_col, n_buckets, hasher).select(
                "bucket", F.lit(False).alias("_raw")
            )
        )
        .groupBy("bucket")
        .agg(
            F.count(F.when(raw, 1)).cast("long").alias("cq"),
            F.count(F.when(~raw, 1)).cast("long").alias("cp"),
        )
    )
    # corpus totals over the B-row table (a dimension-sized frame)
    everything = dim_window("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nq = F.sum("cq").over(everything)
    np_ = F.sum("cp").over(everything)
    b = F.lit(n_buckets)
    lw = dist.select(
        "bucket",
        F.floor(
            F.lit(SCALE)
            * F.log(
                ((F.col("cp") + 1).cast("double") * (nq + b).cast("double"))
                / ((F.col("cq") + 1).cast("double") * (np_ + b).cast("double"))
            )
        )
        .cast("long")
        .alias("lw_x1m"),
    )
    per = (
        fx.join(F.broadcast(lw), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum("lw_x1m").cast("long").alias("logw_x1m"),
        )
    )
    return per.select("doc_id", "n_feats", "logw_x1m").orderBy("doc_id")
