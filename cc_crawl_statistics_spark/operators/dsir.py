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

Scale shape: feature strings are hashed to int buckets INSIDE the
per-row array transform, so only (doc_id, bucket-int) pairs ever cross
an exchange; the two distributions are B-row tables (B = 1024 default —
kilobytes), so the weight table broadcasts and scoring is one
broadcast-hash join plus a doc_id aggregation. There is deliberately NO
per-(doc, bucket) pre-aggregation: the weight join is broadcast (no
shuffle to shrink), and the doc×bucket hash-aggregate it would insert
keeps ~|docs in partition|×|buckets touched| live keys per task — the
one memory shape here that does NOT scale (measured: 1.14M-doc bench
OOMs the execution pool through it, while the per-feature form's maps
are bounded at B keys for q and |docs per partition| keys for scoring).
The raw corpus's bucket arrays are materialized once (lazy
localCheckpoint) and reused by the q pass and the scoring pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lm import SCALE, _words

__all__ = ["feature_bucket", "dsir_weights"]


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


def bucket_arrays(
    docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = 1024,
    hasher: str = "md5",
) -> DataFrame:
    """(doc_id, buckets: array<int>): each document's unigram + bigram
    features hashed in place — the md5 runs inside the array transform,
    one row per document, so no feature STRING is ever exploded or
    shuffled. The bigram pairing is the same codegen zip_with as
    lm.bigrams."""
    w = _words(text_col)
    n = F.size(w)
    bg = F.when(
        n >= 2,
        F.zip_with(
            F.slice(w, 1, n - 1),
            F.slice(w, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id",
        F.transform(
            F.concat(w, bg),
            lambda f: feature_bucket(f, n_buckets, hasher).cast("int"),
        ).alias("buckets"),
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
    fa = bucket_arrays(docs, text_col, n_buckets, hasher).localCheckpoint(
        eager=False
    )
    fx = fa.select("doc_id", F.explode("buckets").alias("bucket"))
    q = fx.groupBy("bucket").agg(F.count("*").cast("long").alias("cq"))
    p = (
        bucket_arrays(target, text_col, n_buckets, hasher)
        .select(F.explode("buckets").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("cp"))
    )
    zero = F.lit(0).cast("long")
    dist = q.join(p, "bucket", "full").select(
        "bucket",
        F.coalesce("cq", zero).alias("cq"),
        F.coalesce("cp", zero).alias("cp"),
    )
    tot = dist.agg(
        F.sum("cq").cast("long").alias("nq"),
        F.sum("cp").cast("long").alias("np"),
    )
    b = F.lit(n_buckets)
    lw = dist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            F.lit(SCALE)
            * F.log(
                (
                    (F.col("cp") + 1).cast("double")
                    * (F.col("nq") + b).cast("double")
                )
                / (
                    (F.col("cq") + 1).cast("double")
                    * (F.col("np") + b).cast("double")
                )
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
