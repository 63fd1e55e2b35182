"""Top-k-of-local-counts heavy-hitters sketch: bound and guarantee properties.

No SQL oracle (the sketch depends on the input partitioning); instead the
tests pin the two theorems the implementation claims:
  1. every emitted key's exact bounds bracket its true count;
  2. any key heavier than the summed per-partition dropped maxima is
     present.
Plus the degenerate-exactness case (k >= distinct keys => est_lo ==
est_hi == true), row-order independence, and the per-partition summary
itself (part_min, key-ascending ties at the k boundary).
"""

import random

from pyspark.sql import functions as F

from cc_crawl_statistics_spark.operators.sketches import (
    heavy_hitters,
    partition_topk_partials,
)


def _skewed_df(spark, n_keys=200, seed=7, parts=8):
    rng = random.Random(seed)
    rows = []
    for i in range(n_keys):
        true = max(1, 2000 // (i + 1))  # Zipf-ish: key000 hot, tail flat
        rows += [(f"key{i:03d}",)] * true
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "key string").repartition(parts)


def test_bounds_bracket_true_counts(spark):
    df = _skewed_df(spark)
    true = {
        r["key"]: r["cnt"]
        for r in df.groupBy("key").agg(F.count("*").alias("cnt")).collect()
    }
    out = heavy_hitters(df, "key", k=32, top=25).collect()
    assert len(out) == 25
    assert out[0]["rank"] == 1
    for r in out:
        assert r["est_lo"] <= true[r["key"]] <= r["est_hi"], r


def test_heavy_keys_guaranteed_present(spark):
    df = _skewed_df(spark)
    partials = partition_topk_partials(df, "key", k=32)
    mins = (
        partials.select("part_id", "part_min").distinct()
        .agg(F.sum("part_min").alias("m"))
        .first()["m"]
    )
    true = {
        r["key"]: r["cnt"]
        for r in df.groupBy("key").agg(F.count("*").alias("cnt")).collect()
    }
    # any key heavier than the summed minima cannot have been evicted
    # from every partition summary
    present = {r["key"] for r in heavy_hitters(df, "key", k=32, top=10**6).collect()}
    for key, cnt in true.items():
        if cnt > mins:
            assert key in present, (key, cnt, mins)


def test_exact_when_k_covers_all_keys(spark):
    df = _skewed_df(spark, n_keys=40)
    true = {
        r["key"]: r["cnt"]
        for r in df.groupBy("key").agg(F.count("*").alias("cnt")).collect()
    }
    out = heavy_hitters(df, "key", k=1000, top=40).collect()
    assert len(out) == 40
    for r in out:
        assert r["est_lo"] == r["est_hi"] == true[r["key"]], r
    # exact mode must reproduce the true descending order
    ordered = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [r["key"] for r in out] == [k for k, _ in ordered]


def test_weighted_counts(spark):
    rows = [("a", 5), ("b", 1), ("a", 7), ("c", 2), ("b", 1)]
    df = spark.createDataFrame(rows, "key string, w long").repartition(2)
    out = {r["key"]: r for r in heavy_hitters(df, "key", k=10, top=10, weight_col="w").collect()}
    assert out["a"]["est_lo"] == out["a"]["est_hi"] == 12
    assert out["b"]["est_lo"] == out["b"]["est_hi"] == 2
    assert out["c"]["est_lo"] == out["c"]["est_hi"] == 2
    # tie between b and c at weight 2 -> key-ascending tiebreak
    assert out["b"]["rank"] < out["c"]["rank"]


def test_row_order_within_partitions_does_not_matter(spark):
    df = _skewed_df(spark)
    base = heavy_hitters(df, "key", k=16, top=10**6).collect()
    for seed in (1, 2):
        shuffled = df.sortWithinPartitions(F.rand(seed))
        assert heavy_hitters(shuffled, "key", k=16, top=10**6).collect() == base


def _partitioned(spark, parts):
    """One DataFrame partition per list of key rows in ``parts``, in
    that order."""
    # parallelize slices a list evenly, so the partitions must be of one
    # length
    assert len({len(p) for p in parts}) == 1
    rdd = spark.sparkContext.parallelize(
        [r for p in parts for r in p], len(parts)
    )
    return spark.createDataFrame(rdd, "key string")


def test_part_min_is_largest_dropped_local_weight(spark):
    # partition 0: a×4 b×3 c×2 d×1 (k=2 drops c, d -> part_min 2);
    # partition 1: a×5 e×5 (2 keys, nothing dropped -> part_min 0)
    p0 = [("a",)] * 4 + [("b",)] * 3 + [("c",)] * 2 + [("d",)]
    p1 = [("a",)] * 5 + [("e",)] * 5
    partials = partition_topk_partials(_partitioned(spark, [p0, p1]), "key", k=2)
    rows = sorted(tuple(r) for r in partials.collect())
    assert rows == [
        ("a", 4, 0, 2, 1), ("a", 5, 1, 0, 1), ("b", 3, 0, 2, 2),
        ("e", 5, 1, 0, 2),
    ]
    out = {r["key"]: r for r in heavy_hitters(_partitioned(spark, [p0, p1]), "key", k=2).collect()}
    # b is absent from partition 1, which dropped nothing: exact
    assert out["b"]["est_lo"] == out["b"]["est_hi"] == 3
    # e is absent from partition 0, which dropped weights up to 2
    assert (out["e"]["est_lo"], out["e"]["est_hi"]) == (5, 7)
    assert set(out) == {"a", "b", "e"}


def test_k_boundary_ties_go_to_smaller_key(spark):
    # four keys of equal weight, k=2: the two smallest keys are kept and
    # the dropped maximum is that same weight
    p0 = [("d",), ("c",), ("b",), ("a",)] * 2
    partials = partition_topk_partials(_partitioned(spark, [p0]), "key", k=2)
    assert sorted(tuple(r) for r in partials.collect()) == [
        ("a", 2, 0, 2, 1), ("b", 2, 0, 2, 2),
    ]


def test_weighted_bounds_bracket_when_k_drops_keys(spark):
    rng = random.Random(3)
    rows = [
        (f"k{rng.randrange(30):02d}", rng.randrange(1, 50)) for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "key string, w long").repartition(6)
    true = {}
    for key, w in rows:
        true[key] = true.get(key, 0) + w
    partials = partition_topk_partials(df, "key", k=5, weight_col="w")
    assert partials.filter("part_min > 0").count() > 0  # k really drops keys
    out = heavy_hitters(df, "key", k=5, top=10**6, weight_col="w").collect()
    assert out
    for r in out:
        assert r["est_lo"] <= true[r["key"]] <= r["est_hi"], r


# --- count-min sketch -------------------------------------------------------

from cc_crawl_statistics_spark.operators.sketches import (  # noqa: E402
    cms_build,
    cms_lookup,
    cms_merge,
)


def _cms_true(df):
    return {
        r["key"]: r["cnt"]
        for r in df.groupBy("key").agg(F.count("*").alias("cnt")).collect()
    }


def test_cms_never_underestimates(spark):
    df = _skewed_df(spark, n_keys=300)
    sketch = cms_build(df, "key", depth=4, width=256)  # narrow: collisions
    probes = df.select("key").distinct()
    est = {r["key"]: r["est"] for r in cms_lookup(sketch, probes, "key", depth=4, width=256).collect()}
    true = _cms_true(df)
    assert set(est) == set(true)
    for k, t in true.items():
        assert est[k] >= t, (k, est[k], t)


def test_cms_exact_when_wide(spark):
    # width >> distinct keys and 4 independent rows: planted counts come
    # back exact (no collision survives the min across 4 seeds)
    df = _skewed_df(spark, n_keys=50)
    sketch = cms_build(df, "key", depth=4, width=8192)
    probes = df.select("key").distinct()
    est = {r["key"]: r["est"] for r in cms_lookup(sketch, probes, "key", depth=4, width=8192).collect()}
    assert est == _cms_true(df)


def test_cms_absent_key_zero_when_no_collision(spark):
    df = _skewed_df(spark, n_keys=20)
    sketch = cms_build(df, "key", depth=4, width=8192)
    probes = spark.createDataFrame([("neverseen",)], "key string")
    est = cms_lookup(sketch, probes, "key", depth=4, width=8192).first()
    assert est["est"] == 0


def test_cms_merge_identity_and_partition_determinism(spark):
    df = _skewed_df(spark, n_keys=120)
    a, b = df.randomSplit([0.5, 0.5], seed=11)
    whole = cms_build(df, "key", depth=4, width=512)
    merged = cms_merge(
        cms_build(a, "key", depth=4, width=512),
        cms_build(b, "key", depth=4, width=512),
    )
    assert (
        sorted(map(tuple, whole.collect()))
        == sorted(map(tuple, merged.collect()))
    )
    # cell table is partition-independent (pure integer sums)
    again = cms_build(df.repartition(13), "key", depth=4, width=512)
    assert (
        sorted(map(tuple, whole.collect()))
        == sorted(map(tuple, again.collect()))
    )


def test_cms_table_bounded(spark):
    df = _skewed_df(spark, n_keys=300)
    sketch = cms_build(df, "key", depth=3, width=64)
    assert sketch.count() <= 3 * 64
    total = sketch.groupBy("seed").agg(F.sum("weight").alias("n")).collect()
    n_rows = df.count()
    for r in total:  # every row lands in exactly one bucket per seed
        assert r["n"] == n_rows


def test_cms_weighted(spark):
    rows = [("a", 5), ("b", 1), ("a", 7), ("c", 2)]
    df = spark.createDataFrame(rows, "key string, w long")
    sketch = cms_build(df, "key", depth=4, width=4096, weight_col="w")
    probes = df.select("key").distinct()
    est = {r["key"]: r["est"] for r in cms_lookup(sketch, probes, "key", depth=4, width=4096).collect()}
    assert est == {"a": 12, "b": 1, "c": 2}


# --- GK approx quantiles vs the exact histogram path ------------------------


def test_approx_percentiles_rank_error_bound(spark):
    from cc_crawl_statistics_spark.operators.textstats import (
        approx_percentiles,
        exact_percentiles,
    )

    rng = random.Random(3)
    rows = [
        (f"lang{i % 3}", int(rng.lognormvariate(6, 1.2)))
        for i in range(6000)
    ]
    df = spark.createDataFrame(rows, "lang string, n_chars long")
    acc = 1000
    approx = {
        r["grp"]: r
        for r in approx_percentiles(df, accuracy=acc).collect()
    }
    values = {}
    for lang, v in rows:
        values.setdefault(lang, []).append(v)
    for lang, vs in values.items():
        vs.sort()
        n = len(vs)
        got = approx[lang]
        assert got["n_rows"] == n
        for p in (500, 900, 990):
            v = got[f"p{p}"]
            # rank of the returned value must be within n/accuracy of the
            # target rank (GK guarantee)
            import bisect

            lo = bisect.bisect_left(vs, v)
            hi = bisect.bisect_right(vs, v) - 1
            target = p / 1000 * n
            tol = n / acc + 1
            assert lo - tol <= target <= hi + tol + 1, (lang, p, v, lo, hi, target)


# --------------------------- KMV bottom-k ---------------------------
# Set-operation sketch: the tests pin (1) the mergeable-summaries
# identity bottom-k(A∪B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) as exact
# array equality, (2) degenerate exactness when the sketches are
# under-full, (3) partition invariance of the sketch itself, and (4) the
# ~1/sqrt(k) error envelope of the direct Jaccard/difference estimators.

from cc_crawl_statistics_spark.operators.sketches import (  # noqa: E402
    kmv_distinct_estimates,
    kmv_overlap,
    kmv_sketch,
)


def _two_crawls(spark, n_a=3000, n_b=3000, shared=1000, parts=8):
    rows = [("A", f"item{i:06d}") for i in range(n_a)]
    rows += [
        ("B", f"item{i:06d}")
        for i in range(n_a - shared, n_a - shared + n_b)
    ]
    rows += rows[:400]  # duplicate fetches: KMV must distinct first
    return spark.createDataFrame(
        rows, "crawl string, url string"
    ).repartition(parts)


def test_kmv_merge_identity(spark):
    df = _two_crawls(spark, 500, 500, 150)
    k = 64
    per_crawl = {
        r["crawl"]: list(r["kmv"])
        for r in kmv_sketch(df, "url", ("crawl",), k=k).collect()
    }
    union_sketch = list(
        kmv_sketch(
            df.withColumn("crawl", F.lit("all")), "url", ("crawl",), k=k
        )
        .first()["kmv"]
    )
    merged = sorted(set(per_crawl["A"]) | set(per_crawl["B"]))[:k]
    assert merged == union_sketch


def test_kmv_exact_when_underfull(spark):
    n_a, n_b, shared = 300, 400, 120
    df = _two_crawls(spark, n_a, n_b, shared)
    k = 2048  # > every distinct size: sketches are the exact hash sets
    sk = kmv_sketch(df, "url", ("crawl",), k=k)
    ests = {
        r["crawl"]: r
        for r in kmv_distinct_estimates(sk, k=k).collect()
    }
    assert ests["A"]["est_distinct"] == n_a and ests["A"]["is_exact"]
    assert ests["B"]["est_distinct"] == n_b and ests["B"]["is_exact"]
    out = kmv_overlap(sk, k=k).first()
    uni = n_a + n_b - shared
    assert out["uni_est"] == uni
    assert out["inter_est"] == shared
    assert out["only1_est"] == n_a - shared
    assert out["only2_est"] == n_b - shared
    assert out["jaccard_permille"] == 1000 * shared // uni


def test_kmv_partition_invariance(spark):
    base = _two_crawls(spark, 800, 800, 200)
    k = 128
    a = {
        r["crawl"]: list(r["kmv"])
        for r in kmv_sketch(
            base.repartition(3), "url", ("crawl",), k=k, n_salts=4
        ).collect()
    }
    b = {
        r["crawl"]: list(r["kmv"])
        for r in kmv_sketch(
            base.repartition(11), "url", ("crawl",), k=k, n_salts=16
        ).collect()
    }
    assert a == b


def test_kmv_estimator_error_envelope(spark):
    n_a, n_b, shared = 3000, 3000, 1000
    df = _two_crawls(spark, n_a, n_b, shared)
    k = 256
    sk = kmv_sketch(df, "url", ("crawl",), k=k)
    for r in kmv_distinct_estimates(sk, k=k).collect():
        true = n_a if r["crawl"] == "A" else n_b
        assert not r["is_exact"]
        # SE = 1/sqrt(k-2) ~ 6.3%; 4 sigma envelope on fixed seedless data
        assert abs(r["est_distinct"] - true) <= 0.25 * true, r
    out = kmv_overlap(sk, k=k).first()
    uni = n_a + n_b - shared
    assert abs(out["uni_est"] - uni) <= 0.25 * uni
    # direct Jaccard: SE = sqrt(J(1-J)/k) ~ 0.025 at J=0.2; 4 sigma
    assert abs(out["jaccard_permille"] - 1000 * shared // uni) <= 100
    assert abs(out["inter_est"] - shared) <= 0.45 * shared
    assert abs(out["only2_est"] - (n_b - shared)) <= 0.35 * (n_b - shared)


def test_kmv_bottom_k_pushdown_plan(spark):
    # the salted two-phase rank must compile to WindowGroupLimit (partial
    # per-map-task limits below the exchange), not a full-group sort
    df = _two_crawls(spark, 500, 500, 150)
    plan = kmv_sketch(df, "url", ("crawl",), k=32)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "WindowGroupLimit" in plan
