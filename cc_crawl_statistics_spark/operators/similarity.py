"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, one broadcast of the query set,
cosine JVM-side (zip_with + aggregate, no UDF; both are interpreted
``CodegenFallback`` expressions). Scale path:
random-hyperplane LSH bucketing so each query only scores its bucket's
candidates (probing multiple buckets for recall).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.windows import dim_window


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v):
    return F.sqrt(_dot(v, v))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Plan: broadcast(queries) ⨯ emb →
    cosine (zip_with + aggregate, interpreted) → per-query row_number ≤ k
    (TakeOrdered shape).

    Scale: cost is |queries|·|corpus| — right when queries are a small batch
    (broadcast side). For corpus-×-corpus use the LSH path."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (driver-side constants,
    broadcast as literals into the plan)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def hyperplane_bucket(vec_col, planes: list[list[float]]):
    """LSH bucket id = sign bits of the vector against each plane."""
    bucket = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bit = F.when(_dot(F.col(vec_col), plane) > 0, F.expr(f"shiftleft(1L, {j})"))
        bucket = bucket + F.coalesce(bit, F.lit(0).cast("long"))
    return bucket


def ivf_centroids(
    emb: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    iters: int = 3,
) -> DataFrame:
    """IVF coarse quantizer: k centroids via Lloyd iterations, fully
    deterministic — seeds are the k vectors with the smallest
    xxhash64(vec_id) (a seeded pseudo-random sample independent of
    partitioning), each assignment step is one broadcast join + min_by,
    each update step one groupBy mean. Returns (centroid_id, centroid).

    Scale: k is small (≤ thousands); every iteration is one scan of the
    corpus with a broadcast of k centroids — no shuffle of the embedding
    table beyond the k-way mean aggregation."""
    seeds = (
        emb.select("vec_id", vec_col)
        .orderBy(F.xxhash64(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
    )
    cents = seeds.select(
        F.row_number()
        .over(dim_window(F.xxhash64(F.col("vec_id").cast("string")), "vec_id"))
        .alias("centroid_id"),
        F.col(vec_col).alias("centroid"),
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        assigned = _assign(emb, cents, vec_col)
        exploded = assigned.select(
            "centroid_id", F.posexplode(F.col(vec_col)).alias("i", "x")
        )
        means = (
            exploded.groupBy("centroid_id", "i")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("im"))
            .select(
                "centroid_id",
                F.transform(F.col("im"), lambda s: s.getField("m")).alias(
                    "centroid"
                ),
            )
        )
        # empty clusters keep their previous centroid
        cents = (
            cents.select("centroid_id", F.col("centroid").alias("prev"))
            .join(means, "centroid_id", "left")
            .select(
                "centroid_id", F.coalesce("centroid", "prev").alias("centroid")
            )
            .localCheckpoint(eager=True)
        )
    return cents


def _assign(emb: DataFrame, cents: DataFrame, vec_col: str) -> DataFrame:
    """Nearest centroid per vector (cosine): broadcast the k centroids,
    min_by over the per-centroid distance — one corpus scan."""
    scored = emb.join(F.broadcast(cents)).withColumn(
        "cos",
        _dot(F.col(vec_col), F.col("centroid"))
        / (_norm(F.col(vec_col)) * _norm(F.col("centroid")) + F.lit(1e-12)),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .drop("r", "cos", "centroid")
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid (the inverted file); each query scores only the buckets of
    its ``n_probe`` nearest centroids. Recall is tuned by n_probe
    (n_probe == n_centroids degenerates to exact brute force).

    Scale: the index assignment is one corpus scan against k broadcast
    centroids; the query join is an equi-join on centroid_id — shuffle
    keyed on bucket like lsh_topk, but with data-adaptive buckets (learned
    centroids follow the embedding distribution, where hyperplane buckets
    are data-oblivious)."""
    cents = ivf_centroids(emb, k=n_centroids, vec_col=vec_col)
    indexed = _assign(emb, cents, vec_col).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
        "centroid_id",
    )
    q_scored = queries.join(F.broadcast(cents)).withColumn(
        "qcos",
        _dot(F.col(vec_col), F.col("centroid"))
        / (_norm(F.col(vec_col)) * _norm(F.col("centroid")) + F.lit(1e-12)),
    )
    wq = Window.partitionBy("vec_id").orderBy(
        F.desc("qcos"), F.asc("centroid_id")
    )
    probes = (
        q_scored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col(vec_col).alias("qv"),
            _norm(F.col(vec_col)).alias("qn"),
            "centroid_id",
        )
    )
    scored = (
        probes.join(indexed, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "centroid_id")
        .orderBy("query_id", "rank")
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's
    hyperplane bucket. Recall is tuned by n_planes (fewer planes → bigger
    buckets → higher recall & cost). Scale: the bucket equi-join replaces
    the cross join — shuffle keyed on bucket, AQE handles bucket skew.
    ``dim`` is passed explicitly (a driver-side ``.first()`` probe during
    plan build would trigger a job per plan construction)."""
    planes = _hyperplanes(dim, n_planes)
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
        hyperplane_bucket(vec_col, planes).alias("bucket"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        hyperplane_bucket(vec_col, planes).alias("bucket"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "bucket")
        .orderBy("query_id", "rank")
    )


def semdedup_verdicts(
    emb: DataFrame,
    k: int = 16,
    eps_x1m: int = 950_000,
    vec_col: str = "embedding",
    iters: int = 3,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and comparing pairs only
    WITHIN a cluster. Returns (vec_id, centroid_id, kept) — a document is
    dropped when some cluster-mate with a LOWER vec_id has cosine
    similarity >= eps (the deterministic greedy: survivors are exactly
    the docs with no earlier in-cluster near-neighbor; the paper keeps
    one exemplar per within-cluster duplicate group, this rule picks the
    smallest-id one without needing connected components).

    Scale shape: clustering reuses the IVF quantizer (ivf_centroids —
    broadcast-assign + mean per iteration, no corpus shuffle beyond the
    k-way mean); the pair stage self-joins slim (centroid_id, vec_id,
    vec) projections on centroid_id, so the cost is sum(cluster_size^2)
    rather than corpus^2 — the whole point of the method. A hot cluster
    is a skewed join key: AQE skew-join splits it at runtime (pinned by
    tests/test_skew_aqe.py for this join shape). Similarity is compared
    in integer fixed-point (floor(1e6*cos)) so the verdict is stable
    across partitionings.
    """
    cents = ivf_centroids(emb, k=k, vec_col=vec_col, iters=iters)
    # assigned feeds both pair-join sides and the final verdict join —
    # cut it so the broadcast-assign corpus pass runs once, not thrice
    assigned = _assign(emb, cents, vec_col).select(
        "centroid_id", "vec_id", F.col(vec_col).alias("_v")
    ).localCheckpoint(eager=False)
    a = assigned.select(
        "centroid_id",
        F.col("vec_id").alias("a_id"),
        F.col("_v").alias("av"),
        _norm(F.col("_v")).alias("an"),
    )
    b = assigned.select(
        "centroid_id",
        F.col("vec_id").alias("b_id"),
        F.col("_v").alias("bv"),
        _norm(F.col("_v")).alias("bn"),
    )
    dropped = (
        a.join(b, "centroid_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cos_x1m",
            F.floor(
                F.lit(1_000_000)
                * _dot(F.col("av"), F.col("bv"))
                / (F.col("an") * F.col("bn") + F.lit(1e-12))
            ),
        )
        .filter(F.col("cos_x1m") >= eps_x1m)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.select("vec_id", "centroid_id")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): the compressed-domain ANN path.
# IVF narrows WHERE to scan; PQ shrinks WHAT is scanned — each vector is m
# small codes, and query distances are table lookups (ADC), so the scan
# touches bytes-per-vector instead of floats-per-vector. At 10^10 vectors
# the code table is ~100x smaller than the raw embeddings.
# ---------------------------------------------------------------------------


def _l2(a, b):
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _subvec(vec_col, sub_id_col, sub_dim: int):
    """slice(vec, sub_id*sub_dim+1, sub_dim) — 1-based SQL slicing."""
    return F.slice(
        vec_col, (sub_id_col * sub_dim + 1).cast("int"), sub_dim
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the m per-subspace codebooks (ks codewords each) with the
    same deterministic Lloyd recipe as ivf_centroids, under L2 (the PQ
    convention). One frame out: (sub_id, code, codeword).

    Scale: each iteration is ONE corpus scan — the m subspaces train
    together (explode to (vec_id, sub_id, subvec), broadcast all m*ks
    codewords, min_by within sub_id, per-(sub_id, code, i) mean). m*ks
    codewords = kilobytes, always broadcast."""
    dim = len(emb.select(vec_col).first()[0])
    sub_dim = dim // m
    subs = emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub_id"),
        F.col(vec_col).alias("_v"),
    ).select(
        "vec_id",
        "sub_id",
        F.transform(
            _subvec(F.col("_v"), F.col("sub_id"), sub_dim),
            lambda x: x.cast("double"),
        ).alias("sv"),
    )
    seeds = (
        subs.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("sub_id").orderBy(
                    F.xxhash64(F.col("vec_id").cast("string")), "vec_id"
                )
            ),
        )
        .filter(F.col("r") <= ks)
        .select("sub_id", F.col("r").alias("code"), F.col("sv").alias("codeword"))
        .localCheckpoint(eager=True)
    )
    books = seeds
    w = Window.partitionBy("vec_id", "sub_id").orderBy("d", "code")
    for _ in range(iters):
        scored = subs.join(F.broadcast(books), "sub_id").withColumn(
            "d", _l2(F.col("sv"), F.col("codeword"))
        )
        assigned = (
            scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("sub_id", "code", "sv")
        )
        means = (
            assigned.select(
                "sub_id", "code", F.posexplode("sv").alias("i", "x")
            )
            .groupBy("sub_id", "code", "i")
            .agg(F.avg("x").alias("mn"))
            .groupBy("sub_id", "code")
            .agg(F.array_sort(F.collect_list(F.struct("i", "mn"))).alias("im"))
            .select(
                "sub_id",
                "code",
                F.transform(F.col("im"), lambda s: s.getField("mn")).alias(
                    "codeword"
                ),
            )
        )
        books = (
            books.select("sub_id", "code", F.col("codeword").alias("prev"))
            .join(means, ["sub_id", "code"], "left")
            .select(
                "sub_id",
                "code",
                F.coalesce("codeword", "prev").alias("codeword"),
            )
            .localCheckpoint(eager=True)
        )
    return books


def pq_encode(
    emb: DataFrame, books: DataFrame, m: int = 8, vec_col: str = "embedding"
) -> DataFrame:
    """Encode every vector as its m nearest codewords:
    (vec_id, codes array<int>, ordered by sub_id). One corpus scan +
    broadcast codebooks + one vec_id reassembly aggregation."""
    dim = len(emb.select(vec_col).first()[0])
    sub_dim = dim // m
    subs = emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub_id"),
        F.col(vec_col).alias("_v"),
    ).select(
        "vec_id",
        "sub_id",
        F.transform(
            _subvec(F.col("_v"), F.col("sub_id"), sub_dim),
            lambda x: x.cast("double"),
        ).alias("sv"),
    )
    w = Window.partitionBy("vec_id", "sub_id").orderBy("d", "code")
    best = (
        subs.join(F.broadcast(books), "sub_id")
        .withColumn("d", _l2(F.col("sv"), F.col("codeword")))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("vec_id", "sub_id", "code")
    )
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "code"))),
            lambda s: s.getField("code"),
        ).alias("codes")
    )


def pq_topk(
    codes: DataFrame,
    books: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: per query, the k nearest vectors by summed per-subspace
    lookup distances. Output (query_id, vec_id, rank, adist_x1m) —
    distance in integer micro-units for deterministic display; ranking
    happens on the double (ties broken by vec_id).

    Scale shape: the lookup table (query_id, sub_id, code, d) is
    |queries|*m*ks rows — broadcast; the scan explodes codes to
    (vec_id, sub_id, code) and hash-joins the table, so cost is one pass
    over the code table per query batch, never touching raw embeddings."""
    dim = len(queries.select(vec_col).first()[0])
    sub_dim = dim // m
    qsubs = queries.select(
        "query_id",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub_id"),
        F.col(vec_col).alias("_q"),
    ).select(
        "query_id",
        "sub_id",
        F.transform(
            _subvec(F.col("_q"), F.col("sub_id"), sub_dim),
            lambda x: x.cast("double"),
        ).alias("qv"),
    )
    qtable = qsubs.join(books, "sub_id").select(
        "query_id", "sub_id", "code", _l2(F.col("qv"), F.col("codeword")).alias("d")
    )
    exploded = codes.select(
        "vec_id", F.posexplode("codes").alias("sub_id", "code")
    )
    scored = (
        exploded.join(F.broadcast(qtable), ["sub_id", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            F.col("rank").cast("long").alias("rank"),
            F.floor(F.col("adist") * 1_000_000).cast("long").alias("adist_x1m"),
        )
    )


def pq_topk_rerank(
    codes: DataFrame,
    books: DataFrame,
    queries: DataFrame,
    emb: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    m: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ shape: ADC shortlist (cheap, compressed-domain)
    then EXACT L2 re-ranking of only the shortlist against the raw
    vectors. Output (query_id, vec_id, rank, dist_x1m).

    Scale: the expensive exact distance touches |queries| × shortlist
    raw vectors instead of the corpus — the re-rank join's left side is
    shortlist-bounded, so raw embeddings stream through a hash join
    probe, never a full scan per query."""
    sl = pq_topk(codes, books, queries, k=shortlist, m=m).select(
        "query_id", "vec_id"
    )
    qv = queries.select(
        "query_id",
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    cand = (
        sl.join(emb.select("vec_id", vec_col), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            _l2(F.col(vec_col), F.col("qv")).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            F.col("rank").cast("long").alias("rank"),
            F.floor(F.col("dist") * 1_000_000).cast("long").alias("dist_x1m"),
        )
    )
