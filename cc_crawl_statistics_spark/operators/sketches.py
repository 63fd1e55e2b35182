"""Mergeable frequency sketches: top-k-of-local-counts heavy hitters + count-min.

The engine's exact top-K (counts.top_k, host_bucketed_topk) ranks every
distinct key after a key-partitioned aggregation. The heavy hitters here
keep a summary of at most ``k`` rows per input partition instead
(TPUT-style top-k of local counts, Cao & Wang PODC'04; the merge is that
of Agarwal et al. "Mergeable Summaries", PODS'12): each partition sums
its keys' weights exactly, keeps its ``k`` heaviest keys and records the
largest weight it dropped, and merging the summaries brackets every kept
key's true weight between exact integer bounds. Building a summary
shuffles each partition's distinct keys (a (partition, key)
aggregation), so what stays k × partitions-sized is the merge and the
rank, not that first shuffle.

Complements the HLL sketches (distinct counts, counts.size_estimate) with
the frequency-sketch class the reference family of crawl dashboards needs
for "top hosts this crawl" at index scale.

Guarantees (and what the tests pin):
  - every emitted key carries exact integer bounds
    ``est_lo ≤ true ≤ est_hi``, ``est_lo`` the sum of the key's exact
    partition-local weights where it was kept;
  - any key whose true weight exceeds the summed per-partition dropped
    maxima is guaranteed present in the merged sketch;
  - the summary is a function of the input partitioning only, not of the
    row order within a partition; with ``k`` ≥ the distinct keys of every
    partition it is exact (est_lo == est_hi == true);
  - the whole plan is Catalyst operators (aggregates and windows): no row
    crosses Arrow into a Python worker.

The heavy-hitters output depends on the input partitioning, so queries
over it are registered rows-only — the error-bound tests, not a SQL
oracle, are the correctness evidence. The hash-based sketches
(CMS, KMV, MinHash, SimHash, HLL registers) are partitioning-invariant,
and each also ships a *portable-hash verification flavor*
(functions/porthash) whose construction is replayed bit-for-bit by a
DuckDB oracle — the xxhash64 production flavors stay rows-only, the
portable flavors are exact hash-match queries (cms_host_freq_exact,
kmv_overlap_exact, minhash_exact, simhash_exact, hll_registers_exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.windows import dim_window


def partition_topk_partials(
    df: DataFrame, key_col, k: int = 1024, weight_col=None
) -> DataFrame:
    """Each input partition's ``k`` heaviest keys by exact local weight:
    rows (key, est, part_id, part_min, local_rank), the map-side half of
    the mergeable sketch. ``est`` is the key's exact weight within
    partition ``part_id`` and ``local_rank`` its 1-based rank there by
    (est desc, key asc), so ties at the k boundary go to the smaller key;
    ``part_min`` is the largest weight the partition dropped — the upper
    bound on the local weight of ANY key it did not keep (0 when it kept
    every key).

    Plan: a (part_id, key) aggregation — partial-aggregated on the map
    side — then one window per part_id that ranks and reads the
    (k+1)-th weight. The shuffle carries each partition's distinct keys,
    not ≤ k rows per partition; in exchange no row goes through Python
    and no key costs more than a hash-aggregate update and a sort."""
    w = (
        F.col(weight_col).cast("long")
        if isinstance(weight_col, str)
        else (weight_col.cast("long") if weight_col is not None else F.lit(1).cast("long"))
    )
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    local = (
        df.select(
            key.cast("string").alias("key"),
            w.alias("w"),
            F.spark_partition_id().cast("long").alias("part_id"),
        )
        .groupBy("part_id", "key")
        .agg(F.sum("w").alias("est"))
    )
    by_weight = Window.partitionBy("part_id").orderBy(F.desc("est"), F.asc("key"))
    whole = by_weight.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return local.select(
        "key",
        "est",
        "part_id",
        F.coalesce(F.nth_value("est", k + 1).over(whole), F.lit(0).cast("long"))
        .alias("part_min"),
        F.row_number().over(by_weight).alias("local_rank"),
    ).filter(F.col("local_rank") <= k)


def heavy_hitters(
    df: DataFrame,
    key_col,
    k: int = 1024,
    top: int = 100,
    weight_col=None,
) -> DataFrame:
    """Merged heavy-hitters sketch: top ``top`` keys by upper-bound weight
    with exact integer bounds (est_lo ≤ true ≤ est_hi).

    Merge over the partition_topk_partials rows, per key:
      est_lo = Σ present est_i                   (exact local weights)
      est_hi = Σ present est_i  +  Σ absent part_min_i
             = est_lo + (total_min − Σ present part_min_i)
    A key absent from partition i weighs at most part_min_i there, so
    est_hi bounds it; a key absent everywhere weighs at most total_min.
    total_min counts each partition once, through its local_rank-1 row,
    and is summed by the same single-partition window pass that ranks
    the merged keys — the partials hold ≤ k rows per partition, so that
    pass is k × partitions-sized. Trade-off: the partials' own shuffle
    carries each partition's distinct keys, where a per-partition counter
    summary would ship ≤ k rows; in exchange the plan starts no Python
    worker and keeps no per-row sequential state."""
    merged = partition_topk_partials(df, key_col, k, weight_col).groupBy("key").agg(
        F.sum("est").alias("est_lo"),
        F.sum("part_min").alias("covered_min"),
        F.sum(F.when(F.col("local_rank") == 1, F.col("part_min"))).alias("first_min"),
    )
    # bounded single-partition windows: merged has ≤ k × partitions rows
    all_keys = dim_window(F.asc("key")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bounded = merged.select(
        "key",
        "est_lo",
        (
            F.col("est_lo") + F.sum("first_min").over(all_keys) - F.col("covered_min")
        ).alias("est_hi"),
    )
    w_rank = dim_window(F.desc("est_hi"), F.desc("est_lo"), F.asc("key"))
    return (
        bounded.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= top)
        .select("key", "est_lo", "est_hi", F.col("rank").cast("long").alias("rank"))
        .orderBy("rank")
    )


def _cms_cells(key, depth: int, width: int, hash_fn=None):
    """The d (seed, bucket) cells a key hashes to — one projection, no UDF
    (generated code for xxhash64; the porthash flavor's ``aggregate`` fold
    runs interpreted): bucket_i = pmod(hash_i(key), width).
    ``hash_fn(key, seed)`` defaults to xxhash64 (production); passing
    functions.porthash.porthash_seeded yields the cross-engine
    verification flavor (same cell layout, exact DuckDB oracle)."""
    if hash_fn is None:
        def hash_fn(k, i):
            return F.xxhash64(k, F.lit(i))
    return F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("seed"),
                F.pmod(hash_fn(key, i), F.lit(width))
                .cast("int")
                .alias("bucket"),
            )
            for i in range(depth)
        ]
    )


def cms_build(
    df: DataFrame,
    key_col,
    depth: int = 4,
    width: int = 8192,
    weight_col=None,
    hash_fn=None,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) as a plain bounded
    DataFrame: rows (seed, bucket, weight), ≤ depth × width of them no
    matter the key cardinality.

    Scale shape: the ×depth explode happens INSIDE the scan stage and is
    immediately absorbed by the map-side partial aggregate on the bounded
    (seed, bucket) grid — each partition ships ≤ depth × width partial
    rows, so the shuffle is sketch-sized, not corpus-sized (same property
    as the HLL paths). Unlike heavy_hitters the table is
    partitioning-independent: pure integer sums, deterministic across
    any repartitioning (pinned by tests/test_sketches.py)."""
    w = (
        F.col(weight_col).cast("long")
        if isinstance(weight_col, str)
        else (
            weight_col.cast("long")
            if weight_col is not None
            else F.lit(1).cast("long")
        )
    )
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return (
        df.select(
            F.explode(
                _cms_cells(key.cast("string"), depth, width, hash_fn)
            ).alias("h"),
            w.alias("w"),
        )
        .groupBy(F.col("h.seed").alias("seed"), F.col("h.bucket").alias("bucket"))
        .agg(F.sum("w").alias("weight"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Mergeable-summaries property: element-wise sum of the bounded cell
    tables — cms_build(A ∪ B) ≡ cms_merge(cms_build(A), cms_build(B))
    exactly (integer cells; pinned by test)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("seed", "bucket").agg(
        F.sum("weight").alias("weight")
    )


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    key_col,
    depth: int = 4,
    width: int = 8192,
    hash_fn=None,
) -> DataFrame:
    """Point-frequency estimates for the probe keys: est = min over the
    key's d cells. Guarantees est ≥ true weight always; est ≤ true +
    (N − true)·collision term w.h.p. (tests pin the lower bound and the
    planted-heavy-key exactness).

    The sketch side is bounded (≤ depth × width rows) → broadcast hash
    join; a missing cell means nothing ever hashed there, i.e. count 0."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    cells = probes.select(
        key.cast("string").alias("key"),
        F.explode(
            _cms_cells(key.cast("string"), depth, width, hash_fn)
        ).alias("h"),
    ).select("key", F.col("h.seed").alias("seed"), F.col("h.bucket").alias("bucket"))
    return (
        cells.join(F.broadcast(sketch), ["seed", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("weight"), F.lit(0))).alias("est"))
        .orderBy(F.desc("est"), "key")
    )


def kmv_sketch(
    df: DataFrame,
    item_col: str = "url",
    group_cols: tuple[str, ...] = ("crawl",),
    k: int = 256,
    n_salts: int = 8,
    hash_fn=None,
) -> DataFrame:
    """KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002; Beyer et
    al. SIGMOD'07) per group: the ``k`` smallest xxhash64 values of the
    group's distinct items, as one sorted array column ``kmv``.

    This is the set-operation member of the sketch family: HLL gives
    distinct counts (counts.size_estimate) but intersections only by
    inclusion–exclusion — |A∩B| = |A|+|B|−|A∪B| — whose error scales with
    the UNION size, terrible for small overlaps between big crawls. A KMV
    synopsis is a uniform sample of the hashed universe, so Jaccard /
    containment / difference are estimated DIRECTLY with error ~1/√k
    regardless of how small the intersection is relative to the sets
    (the reference computes its overlap matrix via inclusion–exclusion,
    overlap.py:47-68 — crawl_overlap_sketch mirrors that; this is the
    better-conditioned alternative).

    Scale shape: distinct is ONE map-side-combined shuffle on the hash
    itself; bottom-k uses a salted two-phase rank — both windows compile
    to WindowGroupLimit, so each map task ships at most k rows per
    (group, salt) and no task ever sorts a whole group. Output: ≤ one
    k-long array per group.

    Ordering note: bottom-k is by SIGNED hash value — the map
    u = h + 2⁶³ to the unsigned estimator domain is order-preserving, so
    signed order needs no conversion until estimation time.
    """
    h = (
        hash_fn(F.col(item_col).cast("string"))
        if hash_fn is not None
        else F.xxhash64(F.col(item_col).cast("string"))
    ).alias("h")
    sel = df.select(*group_cols, h).distinct()
    # decorrelate the salt from the rank order (low bits of h are fine,
    # but re-hashing makes the independence explicit)
    sel = sel.withColumn("salt", F.pmod(F.xxhash64("h"), F.lit(n_salts)))
    w1 = Window.partitionBy(*group_cols, "salt").orderBy("h")
    w2 = Window.partitionBy(*group_cols).orderBy("h")
    return (
        sel.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= k)
        .withColumn("r", F.row_number().over(w2))
        .filter(F.col("r") <= k)
        .groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list("h")).alias("kmv"))
    )


def _kmv_distinct_est(kmv, k: int, domain: int | None = None):
    """Distinct-count estimate off one sorted bottom-k array: exact size
    when the sketch is under-full (it IS the distinct hash set), else the
    classic (k−1)·D / u_(k). Default D = 2⁶⁴ over signed xxhash64 values
    with the order-preserving unsigned map u = h + 2⁶³ (float arithmetic
    — the product exceeds int64). An explicit ``domain`` D means hash
    values live in [0, D) as non-negative integers (the portable
    verification hash), and the estimate becomes a pure BIGINT div —
    bit-reproducible in any engine. Either way the kth value is an exact
    integer, so the estimate is a deterministic function of the sketch —
    partitioning-invariant."""
    if domain is not None:
        # exact integer floor-div as (n - n%d)/d: n = (k−1)·D must stay
        # below 2^53 so the final (exactly divisible) double division is
        # exact — enforced here, not assumed
        assert (k - 1) * domain < 2**53, "k·domain too large for exact div"
        num = F.lit(k - 1).cast("long") * F.lit(domain).cast("long")
        kth = F.element_at(kmv, k)
        return F.when(F.size(kmv) < k, F.size(kmv).cast("long")).otherwise(
            ((num - num % kth) / kth).cast("long")
        )
    kth_u = (
        F.element_at(kmv, k).cast("double") + F.lit(2.0**63)
    )
    return F.when(F.size(kmv) < k, F.size(kmv).cast("long")).otherwise(
        F.floor(F.lit(float(k - 1) * 2.0**64) / kth_u).cast("long")
    )


def kmv_distinct_estimates(
    sketch: DataFrame, k: int = 256, group_cols: tuple[str, ...] = ("crawl",)
) -> DataFrame:
    """(group, est_distinct, is_exact) off a kmv_sketch output."""
    return sketch.select(
        *group_cols,
        _kmv_distinct_est(F.col("kmv"), k).alias("est_distinct"),
        (F.size("kmv") < k).alias("is_exact"),
    )


def kmv_overlap(
    sketch: DataFrame,
    k: int = 256,
    group_col: str = "crawl",
    domain: int | None = None,
) -> DataFrame:
    """Pairwise set-operation estimates between group sketches.

    bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) exactly
    (every global bottom-k element is in its own set's bottom-k — the
    mergeable-summaries property, pinned by test), so the merged synopsis
    M is a true uniform sample of A ∪ B. For every x ∈ M, membership in
    the A/B sketches equals membership in A/B (x is below both sketch
    thresholds by construction), giving exact per-element indicator
    columns and hence direct estimators:

        jaccard     = |{x ∈ M : x ∈ A ∧ x ∈ B}| / |M|
        containment = |{x ∈ M : x ∈ A ∧ x ∈ B}| / |{x ∈ M : x ∈ B}|
        only2-share = |{x ∈ M : x ∈ B ∧ x ∉ A}| / |M|   (new-items)

    scaled by the union estimate for absolute counts. Error ~1/√k per
    pair, independent of |A∩B|/|A∪B| conditioning (vs HLL
    inclusion–exclusion whose absolute error is ~|A∪B|/√m). When every
    input sketch is under-full the arrays are the exact hash sets and
    every output column is exact (degenerate-exactness test).

    Scale: the sketch table is ≤ groups × (k+1) values — the pair join
    and all array work run on that tiny dimension, broadcast-sized for
    the ≤126-crawl registry; the corpus is never touched here."""
    a = sketch.select(
        F.col(group_col).alias("c1"), F.col("kmv").alias("kmv1")
    )
    b = sketch.select(
        F.col(group_col).alias("c2"), F.col("kmv").alias("kmv2")
    )
    merged = F.slice(F.array_sort(F.array_union("kmv1", "kmv2")), 1, k)
    both = F.size(
        F.array_intersect(
            F.col("m"), F.array_intersect("kmv1", "kmv2")
        )
    )
    in2 = F.size(F.array_intersect(F.col("m"), F.col("kmv2")))
    in1 = F.size(F.array_intersect(F.col("m"), F.col("kmv1")))
    m_sz = F.size("m")
    uni = _kmv_distinct_est(F.col("m"), k, domain)

    if domain is not None:
        # integer-exact scaling (portable verification flavor): every
        # numerator ≤ max(k, 1000) · (k−1) · domain, so the exactly-
        # divisible double division below is exact only under THIS
        # bound — enforce it here (it is k·1000 times stronger than
        # _kmv_distinct_est's own guard); the DuckDB oracle replays
        # `//` verbatim
        assert max(k, 1000) * (k - 1) * domain < 2**53, (
            "k·domain too large for exact integer scaling"
        )

        def scaled(cnt, den):
            n = cnt.cast("long") * F.col("_uni") if den is None else cnt
            d = m_sz if den is None else den
            n = n.cast("long")
            return ((n - n % d) / d).cast("long")
    else:
        def scaled(cnt, den):
            n = cnt * F.col("_uni") if den is None else cnt
            d = m_sz if den is None else den
            return F.floor(n / d).cast("long")

    return (
        a.join(b, F.col("c1") < F.col("c2"))
        .withColumn("m", merged)
        .withColumn("_uni", uni)
        .select(
            "c1",
            "c2",
            F.col("_uni").alias("uni_est"),
            scaled(both, None).alias("inter_est"),
            scaled(in1 - both, None).alias("only1_est"),
            scaled(in2 - both, None).alias("only2_est"),
            scaled(F.lit(1000) * both, m_sz).alias("jaccard_permille"),
            scaled(
                F.lit(1000) * both, F.greatest(in2, F.lit(1))
            ).alias("containment_permille"),
        )
        .orderBy("c1", "c2")
    )


def crawl_overlap_kmv(
    pages: DataFrame, k: int = 256, item_col: str = "url"
) -> DataFrame:
    """W7, KMV flavor: the reference's pairwise overlap matrix
    (overlap.py:47-68) with direct intersection/difference estimators
    instead of HLL inclusion–exclusion — including the ``only2_est``
    column, the sketch-mode analog of new-items detection
    (crawlstats.py:841-863) that the HLL flavor cannot express."""
    from .counts import page_rows

    return kmv_overlap(
        kmv_sketch(page_rows(pages), item_col=item_col, k=k), k=k
    )


# --------------------------------------------------------------------------
# portable verification flavors (VERDICT r3 #5): the same sketch
# constructions driven by the cross-engine hash (functions/porthash), so
# the driver's DuckDB oracle can replay them bit-for-bit. Production
# paths keep xxhash64; these exist to upgrade the sketch class from
# rows-only to exact hash-match verification.
# --------------------------------------------------------------------------


def minhash_signatures_portable(
    docs: DataFrame, n_hashes: int = 8, text_col: str = "text"
) -> DataFrame:
    """Per-document minhash signature over DISTINCT whitespace tokens:
    sig_i = min over tokens of h_i(token), one row per (doc_id, seed).
    Same min-per-hash-row construction as the production MinHash+LSH
    (dedup.py minhash_lsh_pairs), portable-hash flavor — the shuffle is
    the (doc, token) explode absorbed by a map-side min, exactly the
    production shape."""
    from ..functions.porthash import porthash_seeded

    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("seed"),
                            porthash_seeded(F.col("tok"), i).alias("h"),
                        )
                        for i in range(n_hashes)
                    ]
                )
            ).alias("s"),
        )
        .groupBy("doc_id", F.col("s.seed").alias("seed"))
        .agg(F.min("s.h").alias("minhash"))
        .orderBy("doc_id", "seed")
    )


def simhash_portable(
    docs: DataFrame, n_bits: int = 30, text_col: str = "text"
) -> DataFrame:
    """Per-document SimHash signature (Charikar 2002) over distinct
    whitespace tokens, portable-hash flavor: bit j of the signature is 1
    iff Σ_tokens (2·bit_j(h(token)) − 1) ≥ 0. 30 bits because the
    portable hash's domain is ~2^30. Same bit-vote construction as the
    production simhash (dedup.py), exactly SQL-expressible: the ×n_bits
    explode lands on the (doc, bit) grid and is absorbed by the map-side
    sum — sketch-sized shuffle, like the CMS build."""
    from ..functions.porthash import porthash

    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    h = porthash(F.col("tok"))
    votes = (
        toks.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("bit"),
                            (
                                F.shiftright(h, j).bitwiseAND(F.lit(1))
                                * F.lit(2)
                                - F.lit(1)
                            ).cast("long").alias("vote"),
                        )
                        for j in range(n_bits)
                    ]
                )
            ).alias("b"),
        )
        .groupBy("doc_id", F.col("b.bit").alias("bit"))
        .agg(F.sum("b.vote").alias("votes"))
    )
    return (
        votes.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("votes") >= 0,
                    # shiftleft with a *column* shift amount needs the
                    # SQL form (the Python helper takes only int bits)
                    F.expr("shiftleft(1L, CAST(bit AS INT))"),
                )
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("simhash")
        )
        .orderBy("doc_id")
    )


def lsh_band_pairs_portable(
    docs: DataFrame,
    n_hashes: int = 8,
    band_rows: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Banded-LSH candidate pairs over portable MinHash signatures — the
    SAME band→bucket→within-bucket-pair shape as the production
    MinHash+LSH dedup (dedup.py minhash_lsh_pairs), exactly verifiable:
    band key = the signature rows of the band folded mod P, pairs =
    equi-join on (band, key) with doc_a < doc_b, output the shared-band
    count per candidate pair. The shuffle is (doc, band) keyed — no
    all-pairs stage, the scale property the production operator owns."""
    from ..functions.porthash import P

    assert n_hashes % band_rows == 0
    sigs = minhash_signatures_portable(docs, n_hashes, text_col)
    band = (F.col("seed") / band_rows).cast("int")
    # fold the band's rows in seed order: acc*31 + mh (mod P); exactly
    # one signature row exists per (doc, seed), so conditional-max
    # selects it (band_rows is small and fixed — codegen per row)
    bk = sigs.groupBy("doc_id", band.alias("band")).agg(
        *[
            F.max(
                F.when(F.col("seed") % band_rows == r, F.col("minhash"))
            ).alias(f"_r{r}")
            for r in range(band_rows)
        ]
    )
    key = F.lit(0).cast("long")
    for r in range(band_rows):
        key = (key * 31 + F.col(f"_r{r}")) % F.lit(P)
    bk = bk.select("doc_id", "band", key.alias("band_key"))
    a = bk.select(
        F.col("doc_id").alias("doc_a"), "band", "band_key"
    )
    b = bk.select(
        F.col("doc_id").alias("doc_b"), "band", "band_key"
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
        .orderBy("doc_a", "doc_b")
    )


def hll_registers_portable(
    pages: DataFrame,
    n_buckets: int = 64,
    item_col: str = "url",
    group_cols: tuple[str, ...] = ("crawl",),
) -> DataFrame:
    """The HLL register table (bucket → max rho) per group, portable-hash
    flavor — the integer half of HyperLogLog, verified exactly; only the
    final harmonic-mean estimate (float, separately unit-tested against
    Spark's hll_sketch_estimate) is left out. bucket = h mod m; rho =
    position of the highest set bit gap: with h < 2^30 and m = 64, the
    value part v = h div 64 has ≤ 24 bits and rho = 25 − bitlength(v)
    (rho = 25 for v = 0) — bitlength via the base-2 string, integer-only
    in both engines. Same one-scan, map-side-combined register build as
    counts.size_estimate's sketches."""
    from ..functions.porthash import porthash

    h = porthash(F.col(item_col).cast("string"))
    v = (h - h % n_buckets) / n_buckets
    v = v.cast("long")
    rho = F.when(v == 0, F.lit(25)).otherwise(
        F.lit(25) - F.length(F.bin(v))
    ).cast("long")
    return (
        pages.select(
            *group_cols,
            (h % n_buckets).cast("long").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
        .orderBy(*group_cols, "bucket")
    )


__all__ = [
    "partition_topk_partials",
    "heavy_hitters",
    "cms_build",
    "cms_merge",
    "cms_lookup",
    "kmv_sketch",
    "kmv_distinct_estimates",
    "kmv_overlap",
    "crawl_overlap_kmv",
    "minhash_signatures_portable",
    "simhash_portable",
    "hll_registers_portable",
]

# referenced semantics: the reference's bounded top-K with tie-break
# (/root/reference/crawlstats.py:909-935 frequent-item emission) is the
# exact-mode ancestor; this is its sketch-mode counterpart for dimensions
# too wide to shuffle per-key partials.
