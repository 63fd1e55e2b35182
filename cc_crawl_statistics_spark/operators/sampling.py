"""Corpus sampling and mixture-weighting operators for training-data
pipelines.

``stratified_sample`` — deterministic hash-ordered K-per-stratum document
sample: the distributed analogue of a seeded reservoir sample. The
"random" order is ``md5(key)``, reproducible across engines, runs and
cluster sizes, so train/eval splits are stable under re-execution and the
same rows are chosen on a laptop and on a 1000-executor cluster. Two-phase
salted ranking: top-K under a total order is distributive, so
phase 1 keeps K per (stratum, salt) and only ≤ n_salts·K rows per stratum
reach the final per-stratum window — a 10⁸-document stratum never lands in
a single window task.

``domain_mixture_weights`` — temperature-scaled mixing weights over a
grouping column: w_d ∝ tokens_d^0.5, the standard recipe for flattening a
web crawl's power-law domain distribution before sampling training
batches. Integer sqrt and integer permille division keep the output
bit-exact across engines (no float accumulation anywhere). The global
normalizer is a broadcast one-row aggregate, not an unpartitioned window,
so the plan stays shuffle-bounded at any number of domains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.windows import dim_window

from .textstats import WS_TOKEN_RE


def stratified_sample(
    docs: DataFrame,
    stratum_col: str = "source",
    k: int = 20,
    key_col: str = "doc_id",
    n_salts: int = 8,
) -> DataFrame:
    """K lowest-md5 documents per stratum, rank included.

    Equivalent to ``row_number() OVER (PARTITION BY stratum ORDER BY
    md5(key), key) <= k`` but evaluated in two phases so no stratum is a
    single task. md5 over the decimal string of the key is portable
    (DuckDB and Spark both emit lowercase hex) and collision-free in
    practice; ``key`` itself breaks any residual tie deterministically.
    """
    h = F.md5(F.col(key_col).cast("string")).alias("_h")
    salted = docs.select(stratum_col, key_col, h).withColumn(
        "_salt", F.pmod(F.xxhash64(key_col), F.lit(n_salts))
    )
    w1 = Window.partitionBy(stratum_col, "_salt").orderBy("_h", key_col)
    survivors = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy(stratum_col).orderBy("_h", key_col)
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w2))
        .where(F.col("sample_rank") <= k)
        .select(
            stratum_col,
            key_col,
            F.col("sample_rank").cast("long").alias("sample_rank"),
        )
        .orderBy(stratum_col, "sample_rank")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    doc_id order within each group and split into fixed ``budget``-token
    context windows; each document reports the window (shard) its first
    token lands in and its token offset within the group's stream.

    shard_id = floor(start_offset / budget) with start_offset the
    exclusive running token sum — all integer arithmetic, so the oracle is
    bit-exact. The running sum is windowed per group (same bounded-stratum
    shape as the per-host frontier queue); packing across groups would
    serialize the whole corpus through one task, which is exactly what a
    100-TB packer must not do — real pipelines pack per shard/source and
    so does this.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = F.regexp_count(F.col(text_col), F.lit(WS_TOKEN_RE)).cast("long")
    return (
        docs.select(group_col, "doc_id", n_tok.alias("n_tokens"))
        .withColumn(
            "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .withColumn(
            "shard_id",
            F.floor(F.col("start_offset") / F.lit(budget)).cast("long"),
        )
        .orderBy(group_col, "doc_id")
    )


def domain_mixture_weights(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group document/token totals and a √tokens-proportional mixing
    weight in integer permille.

    isqrt = floor(sqrt(tokens)) is exact for tokens < 2⁵² (IEEE sqrt of an
    exactly-representable integer; perfect squares are exact); shares use
    BIGINT division only, so Spark and DuckDB agree bit-for-bit.

    Weights sum to exactly 1000 by largest-remainder (Hamilton)
    apportionment: each group gets floor((1000·isqrt)/total) and the
    deficit units go to the largest division remainders (ties broken by
    group name). The deficit is < 1000 by construction, so only a
    bounded top-1000-by-remainder set — obtained with a salted two-phase
    top-K, never a global sort of all groups — is ever ranked in one
    window task; with 10⁸ domains the plan is one groupBy shuffle, two
    broadcast scalars and a constant-size rank.
    """
    # per_group / base each feed several branches (totals, deficit,
    # top-ups, the final join); Catalyst does not reuse the exchange
    # across them, so without lineage cuts the corpus-scale
    # regexp_count scan re-executes once per branch. Both tables are
    # group-dimension-bounded — the cuts cost nothing at any scale.
    per_group = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.regexp_count(F.col(text_col), F.lit(WS_TOKEN_RE)))
        .cast("long")
        .alias("n_tokens"),
    ).localCheckpoint(eager=False)
    total = (
        per_group.select(
            F.floor(F.sqrt(F.col("n_tokens"))).cast("long").alias("i")
        )
        .agg(F.sum("i").cast("long").alias("_total"))
    )
    base = (
        per_group.crossJoin(broadcast(total))
        .withColumn("_isqrt", F.floor(F.sqrt(F.col("n_tokens"))).cast("long"))
        .withColumn("_base", F.expr("CAST((1000 * _isqrt) DIV _total AS BIGINT)"))
        .withColumn("_rem", F.expr("CAST((1000 * _isqrt) % _total AS BIGINT)"))
        .localCheckpoint(eager=False)
    )
    deficit = base.agg(
        (F.lit(1000) - F.sum("_base")).cast("long").alias("_deficit")
    )
    # bounded candidate set: the deficit is < 1000, so units can only land
    # in the top-1000 remainders; phase 1 keeps 1000 per salt bucket
    w1 = Window.partitionBy("_salt").orderBy(
        F.col("_rem").desc(), F.col(group_col)
    )
    w2 = dim_window(F.col("_rem").desc(), F.col(group_col))
    topups = (
        base.withColumn(
            "_salt", F.pmod(F.xxhash64(group_col), F.lit(8))
        )
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= 1000)
        .withColumn("_rank", F.row_number().over(w2))
        .crossJoin(broadcast(deficit))
        .where(F.col("_rank") <= F.col("_deficit"))
        .select(group_col, F.lit(1).cast("long").alias("_topup"))
    )
    return (
        base.join(broadcast(topups), group_col, "left")
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            (F.col("_base") + F.coalesce(F.col("_topup"), F.lit(0)))
            .cast("long")
            .alias("weight_permille"),
        )
        .orderBy(group_col)
    )


def shard_assignment(
    docs: DataFrame,
    n_shards: int = 16,
    n_salts: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Token-balanced training-shard assignment — the step between
    curation and the training loader: every document gets a shard id such
    that per-shard token totals come out near-equal, deterministically.

    Assignment is LPT-flavored round-robin: within each salt stripe,
    documents are ranked by token count descending (ties by doc_id) and
    dealt ``rank mod n_shards``. Dealing a descending sequence bounds the
    within-stripe shard imbalance by one maximum document; summing over
    stripes bounds total imbalance by ``n_salts × max_doc_tokens`` —
    tight in practice and pinned by
    tests/test_dedup_similarity.py::test_shard_assignment_balance_bound.

    Scale shape: the ranking window partitions by the salt stripe
    (``doc_id % n_salts`` — cross-engine-reproducible, unlike a hash
    salt), so no task ever sorts the whole corpus — the same two-phase
    discipline as stratified_sample above. All integer arithmetic; the
    DuckDB oracle replays the identical window.
    """
    n_tok = F.regexp_count(F.col(text_col), F.lit(WS_TOKEN_RE)).cast("long")
    w = Window.partitionBy("_salt").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            n_tok.alias("n_tokens"),
            F.pmod(F.col("doc_id"), F.lit(n_salts)).alias("_salt"),
        )
        .withColumn(
            "shard_id",
            F.pmod(F.row_number().over(w) - 1, F.lit(n_shards)).cast(
                "long"
            ),
        )
        .select("doc_id", "n_tokens", "shard_id")
    )


def shard_summary(
    docs: DataFrame,
    n_shards: int = 16,
    n_salts: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Per-shard totals over shard_assignment — the balance report a
    pipeline operator reads before kicking off training: docs, tokens,
    and each shard's deviation from the mean in permille (integer-exact:
    dev = ⌊1000·n_tokens·n_shards/total⌋ − 1000)."""
    assign = shard_assignment(docs, n_shards, n_salts, text_col)
    # per feeds both the total scalar and the final select — cut lineage
    # so the corpus-scale assignment runs once (per is ≤ n_shards rows)
    per = assign.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=False)
    total = per.agg(F.sum("n_tokens").cast("long").alias("_total"))
    return (
        per.join(F.broadcast(total))
        .select(
            "shard_id",
            "n_docs",
            "n_tokens",
            (
                F.floor(
                    F.lit(1000 * n_shards)
                    * F.col("n_tokens")
                    / F.col("_total")
                )
                - 1000
            )
            .cast("long")
            .alias("dev_permille"),
        )
        .orderBy("shard_id")
    )


def weighted_sample(
    docs: DataFrame,
    k: int = 100,
    weight_col: str = "n_chars",
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling without replacement — Efraimidis–Spirakis A-ES
    (IPL 2006): each row draws u ∈ (0, 1] from a seeded hash of its key
    and competes with key u^(1/w); the k largest keys ARE a weighted
    sample without replacement. The log-space form ln(u)/w avoids pow
    underflow for large weights.

    The quality-weighted corpus subsample a training pipeline draws
    (heavier = more tokens / higher quality score), with the properties
    batch jobs need: deterministic for a (seed, key) pair — reproducible
    across runs, partitionings and cluster sizes (unlike rand(), whose
    draw depends on partition assignment) — and one-pass distributed:
    orderBy(limit) compiles to TakeOrderedAndProject (per-partition
    top-k, merge of k·partitions rows), never a global sort.

    Rows with weight ≤ 0 or NULL cannot be sampled (dropped, matching
    w → 0 ⇒ key → 0). Registered rows-only (seeded xxhash64 has no DuckDB
    equivalent); tests pin set-identity vs an independent Python model of
    the same recurrence, partition invariance, and weight monotonicity."""
    m = F.lit(float(2**63))
    u = (
        (F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), m) + 1) / m
    )  # (0, 1], deterministic per (seed, key)
    w = F.col(weight_col).cast("double")
    logkey = F.log(u) / w  # ln(u^(1/w)) — maximize
    return (
        docs.filter(w > 0)
        .withColumn("_aes", logkey)
        .orderBy(F.desc("_aes"), F.col(key_col))
        .limit(k)
        .drop("_aes")
    )


def leakage_safe_split(
    df: DataFrame,
    unit_col: str = "domain",
    train_permille: int = 800,
    valid_permille: int = 100,
) -> DataFrame:
    """Train/valid/test assignment that can never leak near-duplicates
    across splits: the split is a pure function of the GROUP unit (the
    registrable domain by default), not of the document, so boilerplate,
    templated pages and same-site near-copies — which concentrate within a
    site — all land on the same side. Splitting web corpora at document
    grain is the classic eval-contamination bug; domain-grain hashing is
    the standard fix (C4/mC4 and The Pile hold out by URL/domain hash for
    exactly this reason).

    The bucket is the cross-engine md5-prefix hash mod 1000
    (frontier/capacity.py:point32): deterministic across engines, runs,
    partitionings and cluster sizes, so re-running curation never shuffles
    a domain between splits. Buckets < train_permille → 'train', next
    valid_permille → 'valid', rest → 'test'. Adds ``split`` (string) and
    ``unit_bucket`` (long); one codegen projection, no shuffle, no UDF."""
    from ..frontier.capacity import point32

    bucket = F.pmod(point32(F.col(unit_col)), F.lit(1000))
    split = (
        F.when(bucket < train_permille, F.lit("train"))
        .when(bucket < train_permille + valid_permille, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("unit_bucket", bucket).withColumn("split", split)


def split_summary(
    df: DataFrame,
    unit_col: str = "domain",
    train_permille: int = 800,
    valid_permille: int = 100,
) -> DataFrame:
    """Split rollup + the leakage invariant, as one driver-checkable
    table: per split, its distinct units, rows, integer-permille row
    share, and ``max_splits_per_unit`` — the count of splits touched by
    the worst unit, which the construction forces to 1 (a unit's split is
    a function of the unit alone). The invariant is COMPUTED from the
    assigned rows, not assumed, so any regression in the hash or the
    bucketing (e.g. a non-deterministic rewrite) flips it to 2 and
    hash-mismatches the oracle. Shuffles at unit grain, then fleet-sized
    rollups."""
    assigned = leakage_safe_split(
        df, unit_col, train_permille, valid_permille
    )
    per_unit = assigned.groupBy(unit_col).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("split").alias("n_splits"),
        F.min("split").alias("split"),
    )
    # per_unit feeds the per-split rollup and the global invariant/total —
    # cut lineage so the corpus-scale scan runs once (unit cardinality)
    per_unit = per_unit.localCheckpoint(eager=False)
    per_split = per_unit.groupBy("split").agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("n_rows").cast("long").alias("n_rows"),
    )
    glob = per_unit.agg(
        F.sum("n_rows").alias("_tot"),
        F.max("n_splits").cast("long").alias("max_splits_per_unit"),
    )
    return (
        per_split.crossJoin(broadcast(glob))
        .select(
            "split",
            "n_units",
            "n_rows",
            F.floor(F.col("n_rows") * 1000 / F.col("_tot")).alias(
                "share_permille"
            ),
            "max_splits_per_unit",
        )
        .orderBy("split")
    )
