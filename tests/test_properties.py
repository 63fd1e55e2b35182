"""Property-based tests (hypothesis) for the pure-Python compat codecs —
the reference's MultiCount run-length compression semantics
(/root/reference/crawlstats.py:388-435) and the HLL union algebra. These
pin the algebraic laws the distributed merges rely on: any partitioning of
the inputs must merge to the same result."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from cc_crawl_statistics_spark.sources.compat import (
    compress_counts,
    expand_counts,
    merge_compressed,
)
from cc_crawl_statistics_spark.sources.hll_compat import RefHLL

counts_vec = st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=6)


@given(counts_vec)
def test_compress_expand_roundtrip(v):
    assert expand_counts(compress_counts(v), len(v)) == v


@given(counts_vec)
def test_compress_idempotent_shape(v):
    c = compress_counts(v)
    if isinstance(c, list):
        # compressed lists never end with a repeated trailing value
        assert len(c) >= 2 and c[-1] != c[-2]
    else:
        assert all(x == v[0] for x in v)


@given(st.lists(counts_vec, min_size=2, max_size=5))
def test_merge_equals_elementwise_sum(vs):
    width = max(len(v) for v in vs)
    expected = [
        sum(expand_counts(compress_counts(v), width)[i] for v in vs)
        for i in range(width)
    ]
    got = merge_compressed([compress_counts(v) for v in vs])
    assert expand_counts(got, width) == expected


@given(st.lists(counts_vec, min_size=2, max_size=5))
def test_merge_associative_any_split(vs):
    """Merging in two stages (any split point) equals one-shot merge —
    the map-side-combine law."""
    comp = [compress_counts(v) for v in vs]
    one_shot = merge_compressed(comp)
    for k in range(1, len(comp)):
        left = merge_compressed(comp[:k]) if k > 1 else comp[0]
        right = merge_compressed(comp[k:]) if len(comp) - k > 1 else comp[k]
        assert merge_compressed([left, right]) == one_shot


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.text(min_size=1, max_size=20), min_size=1, max_size=300),
    st.integers(min_value=1, max_value=4),
)
def test_hll_union_partition_invariant(values, n_parts):
    """Union of per-partition sketches equals the single-sketch build for
    ANY partitioning of the input — the property that makes the sketch safe
    to compute distributed."""
    whole = RefHLL(0.05)
    parts = [RefHLL(0.05) for _ in range(n_parts)]
    for i, v in enumerate(values):
        whole.add(v)
        parts[i % n_parts].add(v)
    merged = parts[0]
    for p in parts[1:]:
        merged.update(p)
    assert merged.M == whole.M


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=20), max_size=200))
def test_hll_insensitive_to_duplicates_and_order(values):
    a, b = RefHLL(0.05), RefHLL(0.05)
    for v in values:
        a.add(v)
    for v in reversed(values + values):
        b.add(v)
    assert a.M == b.M


# ---------------------------------------------------------------------------
# sharded prefilter routing (pure numpy, no Spark)
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=300,
        unique=True,
    ),
    st.integers(min_value=2, max_value=16),
)
def test_shard_route_total_and_stable(spark, keys, n_shards):
    """The shard router is a total function onto [0, n_shards) and
    deterministic — the property both the build (each key written to
    exactly one shard) and the probe (the same shard consulted) rest
    on; the build writes a row for every shard id in that range."""
    from pyspark.sql import functions as F

    from cc_crawl_statistics_spark.frontier import shardedfilter as SH

    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    route = SH.shard_of(F.col("k"), n_shards)
    rows = df.select("k", route.alias("r1"), route.alias("r2")).collect()
    assert len(rows) == len(keys)
    assert all(r.r1 == r.r2 and 0 <= r.r1 < n_shards for r in rows)
