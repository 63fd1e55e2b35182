"""Sharded URL-seen Bloom prefilter (frontier/shardedfilter.py): a
(shard, words) parquet table built by one aggregation, one row per shard
id, probed by the DataFrame join the scheduler uses; deterministic
builds, the header commit point, and the scheduler-seam bit-identity
contract. At the 10^10-key frame a single filter blob would be
~12.5 GB; here the largest object anywhere is one shard's words row."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cc_crawl_statistics_spark.frontier import shardedfilter as SH
from tests.conftest import spark  # noqa: F401  (fixture)

N_KEYS = 20_000


def _seen_df(spark, n=N_KEYS):  # noqa: F811
    return spark.range(n).select(F.xxhash64("id").alias("seen_key"))


def _flags(df, dir_):
    """seen_key -> maybe-present flag for every row of ``df``."""
    return {
        r.seen_key: r._maybe
        for r in SH.probe(df, F.col("seen_key"), dir_).collect()
    }


def _table(spark, dir_):  # noqa: F811
    rows = spark.read.schema(SH.SCHEMA).parquet(dir_).collect()
    return sorted((r.shard, tuple(r.words)) for r in rows)


@pytest.fixture(scope="module")
def bloom_dir(spark, tmp_path_factory):  # noqa: F811
    d = str(tmp_path_factory.mktemp("f") / "bloom.d")
    header = SH.build_sharded_bloom(_seen_df(spark), d, N_KEYS, n_shards=8)
    return d, header


def test_bloom_no_false_negatives_and_fpr(spark, bloom_dir):  # noqa: F811
    d, header = bloom_dir
    present = _flags(_seen_df(spark), d)
    assert len(present) == N_KEYS and all(present.values())
    other = _flags(
        spark.range(10**6, 10**6 + 10_000).select(
            F.xxhash64("id").alias("seen_key")
        ),
        d,
    )
    assert len(other) == 10_000
    fp = sum(other.values()) / len(other)
    assert fp < 0.05  # ~1% expected at 10 bits/key


def test_no_object_exceeds_shard_size(spark, bloom_dir):  # noqa: F811
    """The scale contract: the filter only ever exists as per-shard rows;
    every words array holds exactly the header's shard_bytes — there is
    no merged full-filter array anywhere, and nothing was routed to a
    driver-side residual."""
    d, header = bloom_dir
    table = _table(spark, d)
    assert header["n_shards"] >= 4
    assert [s for s, _ in table] == list(range(header["n_shards"]))
    for _, words in table:
        assert 8 * len(words) == header["shard_bytes"]
        assert any(words)  # 20k keys over 8 shards: none empty


def test_sharded_build_deterministic(spark, tmp_path):  # noqa: F811
    """Rebuilding from the same input produces a bit-identical shard
    table and header — the property spark-submit bit-identity and a
    compaction re-run after a crash rest on."""
    seen = _seen_df(spark, 8000)
    d1, d2 = str(tmp_path / "a.d"), str(tmp_path / "b.d")
    h1 = SH.build_sharded_bloom(seen, d1, 8000, n_shards=4)
    h2 = SH.build_sharded_bloom(
        seen.repartition(3), d2, 8000, n_shards=4
    )
    assert h1 == h2
    assert _table(spark, d1) == _table(spark, d2)


def test_every_shard_id_has_a_row(spark, tmp_path):  # noqa: F811
    """More shards than keys: the build still writes one row per shard
    id (the probe's inner join would otherwise drop candidates routed to
    an empty shard). Empty shards hold all-zero words, so keys routed
    there are definitely absent."""
    d = str(tmp_path / "sparse.d")
    seen = _seen_df(spark, 10)
    header = SH.build_sharded_bloom(seen, d, 10, n_shards=64)
    table = _table(spark, d)
    assert [s for s, _ in table] == list(range(64))
    assert sum(1 for _, w in table if any(w)) <= 10
    assert all(_flags(seen, d).values())
    probes = spark.range(100, 5100).select(
        F.xxhash64("id").alias("seen_key"),
        SH.shard_of(F.xxhash64("id"), 64).alias("shard"),
    )
    empty = {s for s, w in table if not any(w)}
    got = {
        r.seen_key: (r.shard, r._maybe)
        for r in SH.probe(probes, F.col("seen_key"), d).collect()
    }
    assert len(got) == 5000  # no candidate lost to the join
    assert not any(m for s, m in got.values() if s in empty)
    assert header["n_keys"] == 10


def test_uncommitted_build_is_invisible(spark, bloom_dir):  # noqa: F811
    """Header is the commit point: a crashed build (shard table, no
    header) is not a valid filter (is_committed False) and
    prefilter_path skips it — same protocol as the store's
    _MANIFEST.json."""
    d, _ = bloom_dir
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
    scheduler-seam correctness contract: one probe, then an anti-join
    against the seen set conditioned on the flag (candidates the filter
    rejects skip it; maybes take the exact path)."""
    seen = _seen_df(spark)
    cand = spark.range(15_000, 45_000).select(
        F.xxhash64("id").alias("seen_key")
    )
    exact = sorted(
        r.seen_key for r in cand.join(seen, "seen_key", "left_anti").collect()
    )
    flagged = SH.probe(cand, F.col("seen_key"), bloom_dir[0])
    got = flagged.join(
        seen,
        (flagged.seen_key == seen.seen_key) & flagged._maybe,
        "left_anti",
    )
    assert sorted(r.seen_key for r in got.collect()) == exact
