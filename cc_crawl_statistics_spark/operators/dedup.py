"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side built-ins (xxhash64, array/higher-order
functions) — no Python in the per-row loop. The higher-order functions
(``transform``, ``zip_with``, ``aggregate``, ``filter``, ``array_sort``)
run interpreted: they are ``CodegenFallback`` expressions, evaluated
row by row outside the generated code of their stage. The unit kernels
(split_units, unit_dedup, boilerplate_strip) use generated-code array
expressions only (``explode``, ``slice``, ``concat_ws``,
``sort_array``).

Scale notes per operator below; the common theme is: never materialize
O(n²) pairs — candidates come from hash buckets (exact digest, LSH band,
simhash prefix), and only bucket-local pairs are verified.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content digest. One shuffle on the digest;
    group count is bounded by distinct contents. The canonical doc of each
    group is the lowest doc_id (deterministic)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("digest")
    )


def with_word_shingles(
    docs: DataFrame, text_col: str, n: int = 3, out: str = "sh"
) -> DataFrame:
    """``docs`` plus a distinct n-word-shingle array column (JVM-side:
    split + transform over a position sequence; the ``transform`` lambda
    runs interpreted — ``CodegenFallback``).

    The words array is staged behind its own projection: higher-order
    functions evaluate non-lambda subexpressions per element, so inlining
    the split into the transform lambda would re-split the full text for
    every shingle position — O(words·chars) per document. The staged alias
    is referenced more than once and is non-cheap, so CollapseProject keeps
    the boundary (same pathology + fix as textstats.fingerprint)."""
    words = F.col("_ws_words")
    k = F.size(words) - (n - 1)
    # sequence(0, -1) would DESCEND in Spark — guard the empty case
    positions = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return (
        docs.withColumn(
            "_ws_words", F.split(F.lower(F.col(text_col)), "\\s+")
        )
        .withColumn(
            out,
            F.array_distinct(
                F.transform(
                    positions,
                    lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
                )
            ),
        )
        .drop("_ws_words")
    )


def minhash_signature(shingles_col, n_hashes: int = 64):
    """MinHash signature as an array<long>: for seed s, min over shingles of
    xxhash64(shingle, s). JVM-side — one pass over the shingle array per
    seed, no UDF, no explode — but each seed's ``transform`` runs
    interpreted (``CodegenFallback``), not in generated code."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    shingles_col, lambda sh: F.xxhash64(sh, F.lit(seed))
                )
            )
            for seed in range(n_hashes)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs: shingle → signature → band
    buckets → bucket-local candidate pairs → exact shingle-Jaccard verify.

    Scale: the only shuffle of document data is the band-bucket groupBy;
    candidate generation is a self-join *within* band buckets (bucket sizes
    are small for honest thresholds; a hot bucket is capped upstream by
    salting or bucket-size limits). Verification re-joins the two shingle
    sets only for candidate pairs — O(candidates), not O(n²).
    """
    rows = n_hashes // bands
    # sig feeds the band explode AND both shingle-set join-backs; banded
    # feeds both sides of the bucket self-join. Lineage cuts run the
    # shingling + 64-hash signature pass ONCE (it re-executed up to 4×
    # otherwise — no exchange reuse across branches); what the checkpoint
    # stores is exactly the (doc_id, sh, sig) relation every branch needs.
    sig = (
        with_word_shingles(docs, text_col, shingle_n)
        .select("doc_id", "sh")
        .filter(F.size("sh") > 0)
        .withColumn("sig", minhash_signature(F.col("sh"), n_hashes))
        .localCheckpoint(eager=False)
    )
    # the band explode and the bucket self-join carry ONLY (doc_id, band,
    # bucket) — never the shingle arrays. Shuffling the arrays through the
    # ×bands explode would multiply document bytes by the band count; the
    # arrays are joined back exactly once per side, per *candidate pair*.
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig").getItem(b * rows + r)
                                    for r in range(rows)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket").localCheckpoint(eager=False)

    left = banded.select("band", "bucket", F.col("doc_id").alias("doc_a"))
    right = banded.select("band", "bucket", F.col("doc_id").alias("doc_b"))
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    shingle_sets = sig.select("doc_id", "sh")
    verified = cand.join(
        shingle_sets.select(
            F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
        ),
        "doc_a",
    ).join(
        shingle_sets.select(
            F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
        ),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        verified.select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            union.alias("uni"),
        )
        .filter(F.col("inter") >= F.lit(jaccard_threshold) * F.col("uni"))
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_permille: int = 500,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard duplicate pairs via an inverted shingle index:
    explode shingles → self-join for candidate pairs → exact
    intersection/union re-computed from the full shingle arrays per
    candidate pair. Integer-only output.

    ``max_doc_freq`` (default None = exact) optionally drops shingles
    appearing in more than that many docs from CANDIDATE GENERATION only —
    inter/uni still come from array_intersect over the complete shingle
    sets, so emitted values are identical to the uncapped plan, but a true
    ≥threshold pair whose shared shingles ALL exceed the cap is never
    emitted. That false-negative class is why the cap is opt-in: callers
    at corpus scale MUST set it (one stopword trigram in 10⁶ docs creates
    a 10¹²-row join bucket; with the cap the worst bucket is
    max_doc_freq²) and accept the documented approximation, while the
    default stays exact."""
    # sh_arrays feeds the inverted index AND both per-candidate join-backs,
    # and sh_cold both sides of the candidate self-join — lineage cuts run
    # the shingling pass once (it re-executed up to 5× otherwise; no
    # exchange reuse across branches)
    sh_arrays = (
        with_word_shingles(docs, text_col, shingle_n)
        .select("doc_id", "sh")
        .filter(F.size("sh") > 0)
        .localCheckpoint(eager=False)
    )
    sh = sh_arrays.select("doc_id", F.explode("sh").alias("s"))
    if max_doc_freq is None:
        sh_cold = sh  # exact: every shingle generates candidates
    else:
        cold = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("s")
        )
        # the semi-join result feeds both self-join sides; cut it so the
        # df-table shuffle runs once (the exact branch needs no cut — its
        # sh_cold is a plain explode over the checkpointed arrays)
        sh_cold = sh.join(cold, "s", "left_semi").localCheckpoint(
            eager=False
        )
    a = sh_cold.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh_cold.select(F.col("doc_id").alias("doc_b"), "s")
    cand = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = cand.join(
        sh_arrays.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
    ).join(
        sh_arrays.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        verified.select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            union.alias("uni"),
        )
        .filter(
            F.col("inter") * 1000 >= F.lit(threshold_permille) * F.col("uni")
        )
        .orderBy("doc_a", "doc_b")
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 64) -> DataFrame:
    """SimHash fingerprint: explode tokens → per-bit signed counts → sign
    bits reassembled into one long. All built-in aggregates (64 sums), one
    shuffle on doc_id; at scale the explode is map-local and the partial
    aggregation collapses tokens before the shuffle."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col(text_col)), "\\s+")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {j}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    fingerprint = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.expr(f"shiftleft(1L, {j})")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return bit_sums.select("doc_id", fingerprint.alias("simhash")).orderBy(
        "doc_id"
    )


def simhash_near_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate pairs by SimHash: candidates share one of 4 16-bit
    chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk equal), verified by exact
    popcount of the XOR. Bucket-join, never O(n²)."""
    # both self-join sides derive from the signature table; cut it (two
    # longs per doc) so the corpus-pass simhash computation runs once
    sh = simhash(docs, text_col).localCheckpoint(eager=False)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.expr(f"(simhash >> {c * 16}) & 65535").alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select("doc_id", "simhash", "cv.chunk", "cv.val")
    a = chunks.select(
        "chunk", "val", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha")
    )
    b = chunks.select(
        "chunk", "val", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb")
    )
    return (
        a.join(b, ["chunk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.expr("ha ^ hb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def embedding_near_dup(
    emb: DataFrame,
    threshold_permille: int = 990,
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    planes_per_table: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed — never O(n²).

    Candidate generation: ``n_tables`` independent random-hyperplane hash
    tables of ``planes_per_table`` sign bits each (similarity._hyperplanes,
    seeded per table); a pair is a candidate if it collides in ANY table.
    For cos ≥ 0.99 (angle ≤ 8.1°) the per-plane split probability is
    θ/π ≈ 0.045, so the miss probability per pair is
    (1 − 0.955⁴)⁸ ≈ 6·10⁻⁷ — and exact duplicates (angle 0) can never be
    split, so recall on planted exact copies is deterministic 1.0.
    Verification: exact cosine (zip_with + aggregate, JVM-side but
    interpreted — ``CodegenFallback``) on the candidate pairs only.

    Scale: the table explode and bucket self-join carry only
    (vec_id, table, bucket); vectors are joined back once per candidate
    side. Worst-case bucket is load-balanced by AQE skew splitting; there
    is no cross join anywhere in the plan (asserted by test)."""
    from .similarity import _hyperplanes, hyperplane_bucket

    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            F.zip_with(v, v, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # e feeds the bucket explode and both vector join-backs; buckets both
    # self-join sides — cuts run the norm pass and the n_tables×planes
    # hyperplane projections once each (no exchange reuse across branches)
    e = emb.select(
        F.col("vec_id"), v.alias("v"), norm.alias("n")
    ).localCheckpoint(eager=False)

    buckets = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        hyperplane_bucket(
                            "v", _hyperplanes(dim, planes_per_table, seed=101 + t)
                        ).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "tb.tbl", "tb.bucket").localCheckpoint(eager=False)

    left = buckets.select("tbl", "bucket", F.col("vec_id").alias("vec_a"))
    right = buckets.select("tbl", "bucket", F.col("vec_id").alias("vec_b"))
    cand = (
        left.join(right, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    verified = cand.join(
        e.select(
            F.col("vec_id").alias("vec_a"),
            F.col("v").alias("va"),
            F.col("n").alias("na"),
        ),
        "vec_a",
    ).join(
        e.select(
            F.col("vec_id").alias("vec_b"),
            F.col("v").alias("vb"),
            F.col("n").alias("nb"),
        ),
        "vec_b",
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        verified.withColumn(
            "cos_permille", F.floor(1000 * dot / (F.col("na") * F.col("nb")))
        )
        .filter(F.col("cos_permille") >= threshold_permille)
        .select("vec_a", "vec_b", "cos_permille")
        .orderBy("vec_a", "vec_b")
    )


def embedding_near_dup_exact(
    emb: DataFrame, threshold_permille: int = 990, vec_col: str = "embedding"
) -> DataFrame:
    """All-pairs exact flavor — the small-data VERIFIER for
    embedding_near_dup's LSH recall (tests only; O(n²), never the scale
    path)."""
    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            F.zip_with(v, v, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    e = emb.select(F.col("vec_id"), v.alias("v"), norm.alias("n"))
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_permille", F.floor(1000 * dot / (F.col("na") * F.col("nb"))))
        .filter(F.col("cos_permille") >= threshold_permille)
        .select("vec_a", "vec_b", "cos_permille")
        .orderBy("vec_a", "vec_b")
    )


def connected_components(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components over an undirected pair list by iterative
    min-label propagation to fixpoint: every node's label becomes the
    minimum of its own and its neighbors', repeated until no label changes.
    Returns (doc_id, component) with component = min doc_id in the group.

    Scale: each iteration is one join (labels ⨝ edges) + one min-aggregate,
    both keyed on doc_id; the iteration count is the graph diameter in
    hops (log-ish for star/chain dedup graphs, which are shallow).
    localCheckpoint cuts lineage per iteration so the plan doesn't grow
    exponentially — the standard Spark iterative-graph pattern."""
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
    )
    labels = (
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("b"), F.col("component").alias("nc")
                ),
                "b",
            )
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("nc").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    "component", F.coalesce("nmin", F.col("component"))
                ).alias("component"),
                (F.coalesce("nmin", F.col("component")) < F.col("component"))
                .cast("long")
                .alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = updated.agg(F.sum("changed")).first()[0] or 0
        labels = updated.select("doc_id", "component")
        if n_changed == 0:
            break
    else:
        # partially propagated labels are silently WRONG components —
        # dedup_keep_canonical would keep non-canonical duplicates
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({n_changed} labels still changing); the graph "
            "diameter exceeds max_iter — raise it"
        )
    return labels


def dedup_keep_canonical(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Resolve near-dup pairs into kept/dropped via true connected
    components (min-id propagation to fixpoint): within each component the
    lowest doc_id is canonical and kept, every other member is dropped —
    a chain A~B~C keeps only A. Returns the surviving docs."""
    comp = connected_components(pairs)
    drop = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti")


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the number of
    distinct n-word shingles it shares with the eval set, plus a
    contaminated flag (any hit).

    Scale shape: eval sets are tiny next to the corpus (MBs vs TBs), so
    the distinct eval shingles are BROADCAST and the corpus side is a
    scan + explode + broadcast-hash semi-join — the corpus never shuffles
    on shingles. Only the (rare) hits shuffle, keyed by doc_id, for the
    per-document count. Reuses the staged shingle derivation of
    with_word_shingles (O(n) per document, not O(n²)).
    """
    from pyspark.sql.functions import broadcast

    eval_sh = (
        with_word_shingles(eval_set, text_col, n=n, out="_sh")
        .select(F.explode("_sh").alias("_s"))
        .distinct()
    )
    corpus_sh = with_word_shingles(corpus, text_col, n=n, out="_sh").select(
        "doc_id", F.explode("_sh").alias("_s")
    )
    hits = (
        corpus_sh.join(broadcast(eval_sh), "_s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0))
            .cast("long")
            .alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Exact-substring (span-level) deduplication — Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better". The reference
# repo deduplicates at URL/digest granularity only (crawlstats.py digest
# counts); span-level dedup is the training-pipeline extension: find the
# duplicated *regions* inside documents, not just identical documents.
#
# Two flavors, same output shape, mirroring the repo's exact-verifier +
# scale-path pattern (crawl_overlap vs crawl_overlap_hll):
#   - duplicated_kgram_spans: exact. Every k-char gram at every position;
#     a position is duplicated iff its gram occurs ≥ 2 times in the corpus;
#     maximal runs of duplicated positions merge into spans. O(n·k) shuffle
#     bytes — the small-scale verifier, oracle-checked in SQL.
#   - cdc_duplicate_spans: the scale path. Content-defined chunking via a
#     Karp–Rabin rolling hash (numpy uint64, Arrow-batched mapInPandas —
#     no per-row Python): identical substrings chunk identically regardless
#     of their alignment inside the document, so duplicated regions surface
#     as equal (chunk_hash, chunk_len) keys. Shuffle volume is
#     O(n / avg_chunk) fixed-width rows — ~64× less than the exact flavor —
#     and the chunk content hash is read off the prefix-hash array for free.
# ---------------------------------------------------------------------------


def duplicated_kgram_spans(
    docs: DataFrame, k: int = 30, text_col: str = "text"
) -> DataFrame:
    """Exact duplicated spans: (doc_id, source, span_start, span_len) of
    every maximal region whose every k-gram occurs ≥ 2 times corpus-wide
    (1-based character offsets). Verifier flavor — see module note."""
    n_pos = F.length(text_col) - (k - 1)
    positions = F.when(n_pos > 0, F.sequence(F.lit(1), n_pos)).otherwise(
        F.array().cast("array<int>")
    )
    grams = docs.select(
        "doc_id", "source", text_col, F.explode(positions).alias("i")
    ).select(
        "doc_id",
        "source",
        "i",
        F.expr(f"substring({text_col}, i, {k})").alias("g"),
    )
    dup = grams.groupBy("g").agg(F.count("*").alias("c")).filter(F.col("c") >= 2)
    marked = grams.join(dup.select("g"), "g")
    # gaps-and-islands: consecutive duplicated positions share one span.
    # Window is per-document (bounded by doc length — no unbounded key).
    w = Window.partitionBy("doc_id").orderBy("i")
    return (
        marked.withColumn("grp", F.col("i") - F.row_number().over(w))
        .groupBy("doc_id", "source", "grp")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") - F.min("i") + k).alias("span_len"),
        )
        .drop("grp")
    )


def cdc_chunks(
    docs: DataFrame,
    text_col: str = "text",
    avg_chunk: int = 64,
    hash_window: int = 16,
) -> DataFrame:
    """Content-defined chunks: (doc_id, source, off, clen, chash) with
    1-based byte offsets. A chunk boundary falls after byte i when the
    mixed Karp–Rabin hash of the trailing ``hash_window`` bytes has its
    low log2(avg_chunk) bits zero — a property of the *content*, not the
    position, so equal substrings produce equal interior chunks wherever
    they sit. chash is the alignment-independent 64-bit content hash of
    the chunk (derived from the same prefix-hash array; collision 2^-64 —
    this flavor trades that for the 64× shuffle cut, like the HLL paths).

    All math is vectorized numpy uint64 (wrapping mod 2^64) over Arrow
    batches; the per-document python loop only slices arrays.
    """
    import numpy as np
    import pandas as pd

    assert avg_chunk & (avg_chunk - 1) == 0, "avg_chunk must be a power of 2"
    B = np.uint64(0x9E3779B97F4A7C15)  # odd → invertible mod 2^64
    BINV = np.uint64(pow(0x9E3779B97F4A7C15, -1, 1 << 64))
    MIX = np.uint64(0xFF51AFD7ED558CCD)
    mask = np.uint64(avg_chunk - 1)
    win = hash_window

    def chunk_batch(batches):
        for pdf in batches:
            out = {"doc_id": [], "source": [], "off": [], "clen": [], "chash": []}
            for doc_id, source, text in zip(
                pdf["doc_id"], pdf["source"], pdf[text_col]
            ):
                c = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8)
                n = len(c)
                if n == 0:
                    continue
                pw = np.empty(n, dtype=np.uint64)
                pw[0] = np.uint64(1)
                if n > 1:
                    pw[1:] = np.multiply.accumulate(
                        np.full(n - 1, B, dtype=np.uint64)
                    )
                # P[j] = sum_{t<j} c[t]·B^t  (mod 2^64);  P has n+1 entries
                P = np.zeros(n + 1, dtype=np.uint64)
                np.cumsum(c.astype(np.uint64) * pw, out=P[1:])
                pinv = np.empty(n + 1, dtype=np.uint64)
                pinv[0] = np.uint64(1)
                pinv[1:] = np.multiply.accumulate(
                    np.full(n, BINV, dtype=np.uint64)
                )
                # canonical hash of window ending at i (bytes [i-win, i)):
                # (P[i] - P[i-win]) · B^{-(i-win)}
                if n >= win:
                    idx = np.arange(win, n + 1)
                    h = (P[idx] - P[idx - win]) * pinv[idx - win]
                    h = (h ^ (h >> np.uint64(33))) * MIX
                    h ^= h >> np.uint64(29)
                    cuts = idx[(h & mask) == 0]  # boundary AFTER byte i
                else:
                    cuts = np.empty(0, dtype=np.int64)
                bounds = np.concatenate(([0], cuts[cuts < n], [n]))
                starts = bounds[:-1].astype(np.int64)
                ends = bounds[1:].astype(np.int64)
                keep = ends > starts
                starts, ends = starts[keep], ends[keep]
                # content hash of [s, e): (P[e] - P[s]) · B^{-s}
                ch = (P[ends] - P[starts]) * pinv[starts]
                out["doc_id"].extend([doc_id] * len(starts))
                out["source"].extend([source] * len(starts))
                out["off"].extend((starts + 1).tolist())
                out["clen"].extend((ends - starts).tolist())
                out["chash"].extend(ch.astype(np.int64).tolist())
            yield pd.DataFrame(out)

    return docs.select("doc_id", "source", text_col).mapInPandas(
        chunk_batch,
        "doc_id long, source string, off long, clen long, chash long",
    )


def cdc_duplicate_spans(
    docs: DataFrame,
    min_len: int = 30,
    text_col: str = "text",
    avg_chunk: int = 64,
    hash_window: int = 16,
) -> DataFrame:
    """Scale-path duplicated spans: maximal runs of adjacent chunks whose
    (chash, clen) occurs ≥ 2 times corpus-wide, filtered to span_len ≥
    min_len. Same output shape as duplicated_kgram_spans (byte offsets).

    Detection guarantee: a duplicated region of length L ≥ 2·avg_chunk +
    min_len contains matching interior chunks in expectation; only the cut
    chunks at the region's edges differ (tested against the exact flavor
    on planted duplicates). One shuffle on (chash, clen), one bounded
    per-document window — no pair explosion anywhere."""
    ch = cdc_chunks(docs, text_col, avg_chunk, hash_window)
    dup = (
        ch.groupBy("chash", "clen")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("chash", "clen")
    )
    marked = ch.join(dup, ["chash", "clen"])
    w = Window.partitionBy("doc_id").orderBy("off")
    adjacent = F.col("off") == F.lag(F.col("off") + F.col("clen")).over(w)
    return (
        marked.withColumn(
            "grp",
            F.sum(F.when(adjacent, 0).otherwise(1)).over(w),
        )
        .groupBy("doc_id", "source", "grp")
        .agg(
            F.min("off").alias("span_start"),
            F.sum("clen").cast("int").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .drop("grp")
    )


def split_units(
    docs: DataFrame,
    text_col: str = "text",
    unit_words: int = 16,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, *carry, n_units, pos, unit): tumbling ``unit_words``-word
    windows of each document — the deterministic segmenter stand-in for
    the sentence/paragraph units C4 (Raffel et al. 2020, "three-sentence
    span") and RefinedWeb dedup at. Real corpora would split on sentence
    boundaries; the unit-dedup semantics downstream are
    segmenter-agnostic.

    Array expressions only, no lambda: one row per unit position from
    ``explode(sequence(...))``, then ``slice`` + ``concat_ws`` on that row
    (a ``transform`` over the positions would run interpreted —
    higher-order functions are ``CodegenFallback``). The words array is
    staged behind its own projection below the generator, so each text
    is split once, not once per unit."""
    words = F.col("_ud_words")
    n_units = F.ceil(F.size(words) / F.lit(unit_words)).cast("long")
    positions = F.when(n_units > 0, F.sequence(F.lit(0), n_units - 1)).otherwise(
        F.array().cast("array<bigint>")
    )
    pos = F.col("pos")
    return (
        docs.withColumn("_ud_words", F.split(F.col(text_col), " "))
        .select(
            "doc_id",
            *carry,
            n_units.alias("n_units"),
            words,
            F.explode(positions).alias("pos"),
        )
        .select(
            "doc_id",
            *carry,
            "n_units",
            "pos",
            F.concat_ws(
                " ",
                F.slice(words, (pos * unit_words + 1).cast("int"), unit_words),
            ).alias("unit"),
        )
    )


def _in_position_order(pos_unit: Column) -> Column:
    """Aggregate: the units of the collected (pos, unit) structs joined by
    spaces in position order (NULL structs skipped; no unit gives "").
    ``sort_array`` + the ``.unit`` field, not an ``array_sort``/
    ``transform`` lambda."""
    return F.array_join(F.sort_array(F.collect_list(pos_unit))["unit"], " ")


def unit_dedup(
    docs: DataFrame, text_col: str = "text", unit_words: int = 16
) -> DataFrame:
    """Unit-level exact dedup with document reassembly — the C4/RefinedWeb
    curation step our doc-level exact_dedup and span-level
    duplicated_kgram_spans don't cover: every unit (tumbling word window,
    see split_units) is kept only at its globally FIRST occurrence
    (ordered by doc_id, then position); each document is rewritten with
    its duplicated units removed. An exact copy of an earlier document
    loses every unit (kept_units = 0, empty new_text); a doc that shares
    only a prefix keeps its novel tail.

    Returns one row per input doc:
      (doc_id, n_units, kept_units, new_text).

    Scale shape (100 TB corpus): one shuffle keyed on the unit text,
    ranked by a window rather than a groupBy+self-join so the keeper
    decision needs no second pass; then one doc_id-keyed reassembly
    aggregation. The row_number()==1 filter compiles to WindowGroupLimit
    with a PARTIAL pass below the exchange (verified in the physical
    plan), i.e. each map partition pre-selects its own first occurrence
    per unit — the shuffle carries at most one candidate row per (map
    partition, distinct unit), not the corpus, and a Zipf-hot boilerplate
    unit costs one row per upstream partition instead of its full
    frequency. Grouping by a 128-bit digest instead of the unit text
    would cut the remaining bytes at the price of hash-collision
    exactness."""
    units = split_units(docs, text_col, unit_words)
    w = Window.partitionBy("unit").orderBy("doc_id", "pos")
    kept = (
        units.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("kept_units"),
        _in_position_order(F.struct("pos", "unit")).alias("new_text"),
    )
    base = units.groupBy("doc_id").agg(F.max("n_units").alias("n_units"))
    zero = F.lit(0).cast("long")
    return (
        base.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_units",
            F.coalesce(F.col("kept_units"), zero).alias("kept_units"),
            F.coalesce(F.col("new_text"), F.lit("")).alias("new_text"),
        )
        .orderBy("doc_id")
    )


def boilerplate_strip(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    unit_words: int = 8,
    min_docs: int = 2,
    min_share_permille: int = 600,
) -> DataFrame:
    """Per-group boilerplate removal — the CCNet-adjacent curation stage
    unit_dedup does NOT cover: a unit is boilerplate when it appears in at
    least ``min_share_permille``/1000 of the group's documents (and in at
    least ``min_docs`` of them), and boilerplate units are stripped from
    EVERY document of that group. Contrast with unit_dedup's global
    first-occurrence rule, which keeps a nav header in the first page that
    carries it; a site-scoped template should vanish from all of them.
    (CCNet removes repeated paragraphs by shard-level hash count, Wenzek
    et al. 2020 §3.1; group_col generalizes the scope to host/source.)

    Returns one row per input doc: (doc_id, n_units, kept_units,
    new_text).

    Scale shape: the units feed two consumers (the frequency table and
    the rebuild) with no lineage cut: each re-splits the text in
    generated code, which costs less than storing the exploded unit rows
    (BENCH.md design decision "codegen text kernels"). The frequency pass
    is a two-level (group, unit, doc) -> (group, unit) aggregation —
    map-side partial distinct, no countDistinct Expand. The boilerplate
    table is tiny relative to the corpus (groups x the few over-threshold
    units), so the LEFT join that flags boilerplate units keeps a small
    build side; group totals are a broadcast-sized dimension. One doc_id
    aggregation over the flagged units yields n_units, kept_units and the
    rebuilt text together, so every document with a unit comes back
    without a second aggregation or a join."""
    units = split_units(docs, text_col, unit_words, carry=(group_col,))
    group_sizes = docs.groupBy(group_col).agg(
        F.count("*").cast("long").alias("_g_docs")
    )
    unit_docs = (
        units.select(group_col, "unit", "doc_id")
        .distinct()
        .groupBy(group_col, "unit")
        .agg(F.count("*").cast("long").alias("_u_docs"))
    )
    boiler = (
        unit_docs.join(group_sizes, group_col)
        .filter(
            (F.col("_u_docs") >= min_docs)
            & (
                F.col("_u_docs") * 1000
                >= min_share_permille * F.col("_g_docs")
            )
        )
        .select(group_col, "unit", F.lit(True).alias("_boiler"))
    )
    kept = F.col("_boiler").isNull()
    return (
        units.join(boiler, [group_col, "unit"], "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_units").alias("n_units"),
            F.count(F.when(kept, 1)).cast("long").alias("kept_units"),
            _in_position_order(F.when(kept, F.struct("pos", "unit"))).alias(
                "new_text"
            ),
        )
        .orderBy("doc_id")
    )
