"""Sharded URL-seen Bloom prefilter (frontier/shardedfilter.py):
executor-built shard files, no driver-assembled filter object, lazy
per-shard membership, deterministic builds, and the scheduler-seam
bit-identity contract. At the 10^10-key frame a single filter blob would
be ~12.5 GB; here the largest object anywhere is one shard."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from cc_crawl_statistics_spark.frontier import shardedfilter as SH
from tests.conftest import spark  # noqa: F401  (fixture)

N_KEYS = 20_000


def _seen_df(spark, n=N_KEYS):  # noqa: F811
    return spark.range(n).select(F.xxhash64("id").alias("seen_key"))


def _keys(spark, n=N_KEYS):  # noqa: F811
    return np.array(
        [r.seen_key for r in _seen_df(spark, n).collect()], dtype=np.int64
    )


@pytest.fixture(scope="module")
def bloom_dir(spark, tmp_path_factory):  # noqa: F811
    d = str(tmp_path_factory.mktemp("f") / "bloom.d")
    header = SH.build_sharded_bloom(_seen_df(spark), d, n_shards=8)
    return d, header


def test_bloom_no_false_negatives_and_fpr(spark, bloom_dir):  # noqa: F811
    d, header = bloom_dir
    keys = _keys(spark)
    assert SH.contains_shards(d, keys).all()
    other = np.array(
        [
            r.k
            for r in spark.range(10**6, 10**6 + 10_000)
            .select(F.xxhash64("id").alias("k"))
            .collect()
        ],
        dtype=np.int64,
    )
    fp = SH.contains_shards(d, other).mean()
    assert fp < 0.05  # ~1% expected at 10 bits/key


def test_no_object_exceeds_shard_size(spark, bloom_dir):  # noqa: F811
    """The scale contract: the filter is only ever materialized as
    per-shard files; every file (and therefore every loaded/cached
    object) is bounded by the header's shard_bytes — there is no merged
    full-filter array anywhere in the sharded API."""
    d, header = bloom_dir
    shard_files = [f for f in os.listdir(d) if f.startswith("shard=")]
    assert len(shard_files) > 1  # genuinely sharded
    assert header["n_shards"] >= 4
    for f in shard_files:
        sz = os.path.getsize(os.path.join(d, f))
        # + small npy header allowance
        assert sz <= header["shard_bytes"] + 256
    # shards together cover the whole key budget — nothing was
    # silently routed to a driver-side residual
    assert header["nonempty_shards"] == len(shard_files)


def test_sharded_build_deterministic(spark, tmp_path):  # noqa: F811
    """Rebuilding from the same input produces byte-identical shard
    files — the property spark-submit bit-identity and a compaction
    re-run after a crash rest on."""
    seen = _seen_df(spark, 8000)
    d1, d2 = str(tmp_path / "a.d"), str(tmp_path / "b.d")
    h1 = SH.build_sharded_bloom(seen, d1, n_shards=4)
    h2 = SH.build_sharded_bloom(seen, d2, n_shards=4)
    assert h1 == h2
    shards = sorted(f for f in os.listdir(d1) if f.startswith("shard="))
    assert shards == sorted(
        f for f in os.listdir(d2) if f.startswith("shard=")
    )
    for f in shards:
        with open(os.path.join(d1, f), "rb") as a, open(
            os.path.join(d2, f), "rb"
        ) as b:
            assert a.read() == b.read(), f


def test_missing_shard_means_absent(spark, bloom_dir):  # noqa: F811
    """Keys routing to a shard with no file are definitely-absent (an
    empty shard writes no file)."""
    d, header = bloom_dir
    # craft keys for a shard id, then remove that shard's file copy in a
    # scratch clone of the dir
    import shutil

    clone = d + ".clone"
    if os.path.exists(clone):
        shutil.rmtree(clone)
    shutil.copytree(d, clone)
    keys = _keys(spark)
    shard = SH._route(keys, header["n_shards"])
    victim = int(shard[0])
    os.remove(SH._shard_file(clone, victim))
    got = SH.contains_shards(clone, keys)
    assert not got[shard == victim].any()
    assert got[shard != victim].all()
    shutil.rmtree(clone)


def test_uncommitted_build_is_invisible(spark, bloom_dir):  # noqa: F811
    """Header is the commit point: a crashed build (shards, no header)
    is not a valid filter (is_committed False) and prefilter_path skips
    it — same protocol as the store's _MANIFEST.json."""
    d, _ = bloom_dir
    import shutil

    clone = d + ".crash"
    if os.path.exists(clone):
        shutil.rmtree(clone)
    shutil.copytree(d, clone)
    os.remove(os.path.join(clone, SH.HEADER))
    assert SH.is_committed(d)
    assert not SH.is_committed(clone)
    shutil.rmtree(clone)


def test_sharded_udf_seam_bit_identity(spark, bloom_dir):  # noqa: F811
    """Same anti-join result with and without the sharded Bloom — the
    scheduler-seam correctness contract (candidates the filter rejects
    skip the base anti-join; maybes take the exact path)."""
    seen = _seen_df(spark)
    cand = spark.range(15_000, 45_000).select(
        F.xxhash64("id").alias("seen_key")
    )
    exact = sorted(
        r.seen_key for r in cand.join(seen, "seen_key", "left_anti").collect()
    )
    might = SH.might_contain_udf(spark, bloom_dir[0])
    flagged = cand.withColumn("_maybe", might(F.col("seen_key")))
    clean = flagged.filter(~F.col("_maybe")).drop("_maybe")
    maybe = (
        flagged.filter(F.col("_maybe"))
        .drop("_maybe")
        .join(seen, "seen_key", "left_anti")
    )
    got = sorted(r.seen_key for r in clean.unionByName(maybe).collect())
    assert got == exact


def test_shard_route_udf_matches_numpy_and_clusters(spark):  # noqa: F811
    """The Arrow route column equals the build-side numpy routing, and
    repartitioning on it puts each shard's keys in exactly one partition
    (the property the scheduler's prefilter seam relies on to keep one
    shard per executor cache)."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    keys = _keys(spark, 5000)
    df = spark.createDataFrame(
        pd.DataFrame({"seen_key": keys})
    )
    route = SH.shard_route_udf(8)
    got = (
        df.withColumn("shard", route(F.col("seen_key")))
        .toPandas()
        .set_index("seen_key")["shard"]
    )
    want = SH._route(keys, 8)
    assert (got.loc[keys].to_numpy() == want).all()
    parts = (
        df.repartition(8, route(F.col("seen_key")))
        .withColumn("shard", route(F.col("seen_key")))
        .withColumn("pid", F.spark_partition_id())
        .select("shard", "pid")
        .distinct()
        .groupBy("shard")
        .count()
        .toPandas()
    )
    assert (parts["count"] == 1).all()  # one partition per shard


def test_shard_cache_cap_bounds_resident_entries(
    spark, bloom_dir, monkeypatch  # noqa: F811
):
    """SPARK_GRAFT_SHARD_CACHE (default 8) caps the per-process shard
    cache: touching more shards than the cap evicts FIFO instead of
    accumulating every shard ever read (ADVICE r4: a long-lived executor
    at 10^10 keys must stay ~cap × shard_bytes, not filter-sized)."""
    d, header = bloom_dir
    assert header["n_shards"] == 8
    monkeypatch.setenv("SPARK_GRAFT_SHARD_CACHE", "2")
    SH._SHARD_CACHE.clear()
    keys = _keys(spark)  # spread over all 8 shards
    assert SH.contains_shards(d, keys).all()  # correctness unaffected
    assert len(SH._SHARD_CACHE) <= 2
    monkeypatch.setenv("SPARK_GRAFT_SHARD_CACHE", "0")  # unbounded opt-in
    SH._SHARD_CACHE.clear()
    assert SH.contains_shards(d, keys).all()
    assert len(SH._SHARD_CACHE) == 8
    SH._SHARD_CACHE.clear()
