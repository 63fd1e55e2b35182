"""AQE skew-join evidence: the session config (session.py — skewJoin on)
actually splits a Zipf-hot partition at runtime, with unchanged results.

At 100 TB the host/domain dimensions are Zipf-distributed; the engine's
posture (SURVEY §4) is a map-side cut for the *known* hot keys (the
frontier's host-bucketed top-k: a partial WindowGroupLimit below its
shuffle) plus AQE skew-join for the *unknown* ones. This
test pins the second half: a key carrying half the left relation is
detected from runtime shuffle stats and split — SortMergeJoin(skew=true)
in the final adaptive plan — while the join result stays exact.
Thresholds are lowered only because the fixture is tiny; production
defaults engage at 256 MB partitions."""

from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401  (fixture)

_SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
}


def test_aqe_splits_zipf_hot_key_with_exact_results(spark):  # noqa: F811
    old = {k: spark.conf.get(k) for k in _SKEW_CONFS}
    for k, v in _SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        n = 2_000_000
        # every even id collapses onto key 0 -> one partition holds half
        # the relation; odd ids are unique keys
        left = spark.range(n).select(
            F.when(F.col("id") % 2 == 0, 0)
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        cnt = left.join(right, "k").groupBy().count()
        got = cnt.collect()[0][0]
        # exact expectation: n/2 rows with k=0 match right's k=0, plus
        # the 500 odd ids below 1000 that match their own key
        assert got == n // 2 + 500
        plan = cnt._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


_BLOOM_CONFS = {
    # force a shuffle join (the runtime filter targets non-broadcast joins)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # production defaults gate injection on a 10 GB application-side scan;
    # the fixture is tiny, so lower the gates — the PLAN SHAPE is what we
    # pin, the thresholds are deployment tuning
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
}


def test_runtime_bloom_filter_prunes_probe_side_with_exact_results(
    spark, tmp_path
):  # noqa: F811
    """The session enables runtime Bloom-filter joins (session.py): a
    selective dimension filter is converted into a bloom_filter_might_contain
    prefilter on the fact side's SCAN, so at scale only candidate rows
    shuffle — the optimizer-injected counterpart of the frontier's
    materialized seen-set Bloom. Pins injection (plan contains the filter),
    the off-switch control, and exact result parity between both plans."""
    fact_p = str(tmp_path / "fact")
    dim_p = str(tmp_path / "dim")
    n = 200_000
    spark.range(n).select(
        (F.col("id") % 10_000).alias("k"), F.col("id").alias("v")
    ).write.parquet(fact_p)
    # dimension restricted to 1% of keys by a selective predicate
    spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("grp")
    ).write.parquet(dim_p)

    def q():
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("grp") == 7)
        return fact.join(dim, "k").groupBy().agg(
            F.count("*").alias("n"), F.sum("v").alias("sv")
        )

    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        with_filter = q()
        rows_on = with_filter.collect()
        # the injected filter lives in the optimized logical plan (a bloom
        # aggregate subquery over the dim side + might_contain on the fact
        # side); the AQE physical rendering elides subquery bodies
        plan_on = with_filter._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan_on.lower(), plan_on
        assert "might_contain" in plan_on.lower(), plan_on
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        without = q()
        rows_off = without.collect()
        plan_off = without._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" not in plan_off.lower()
        assert rows_on == rows_off
        # exact expectation: keys k with k%100==7 are 100 of 10k keys,
        # each matching n/10k fact rows
        assert rows_on[0]["n"] == (n // 10_000) * 100
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
