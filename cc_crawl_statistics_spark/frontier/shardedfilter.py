"""Key-range-sharded URL-seen Bloom prefilter, built and probed as
Catalyst expressions.

At the north-rule 10^10-key frame a whole filter is ~12.5 GB (SURVEY §7
hard part 6), so here the filter never exists as one object anywhere. It
is a parquet table with one row per shard id::

    <dir>/
      _FILTER.json      # params, written last (commit point)
      part-*.parquet    # (shard int, words array<bigint>), one row for
                        # EVERY shard id in [0, n_shards), empty or not

  * **Hashing** is Spark's seeded ``xxhash64``: the shard id is
    ``pmod(xxhash64(key, 0), n_shards)`` and the k bit indices of a key
    are the double hash ``(h1 + i*h2) mod m`` with
    ``h1 = pmod(xxhash64(key, 1), m)`` and
    ``h2 = pmod(xxhash64(key, 2), m - 1) + 1``. Every term stays below
    k·m, so nothing overflows under ANSI arithmetic.
  * **Build** is one aggregation over keys range-partitioned by shard id
    (one task owns a shard whole): explode the indices, ``bit_or`` the
    set bits per (shard, word) together with an all-zero word grid so
    every word of every shard exists, and collect each shard's words in
    index order into one dense array. The driver only counts the keys
    and writes the ``_FILTER.json`` header last, the same protocol as
    the store's ``_MANIFEST.json``.
  * **Probe** (``probe``) is an inner equi-join on shard id with the
    bounded candidate side broadcast: the shard table is only scanned,
    never shuffled or broadcast, and each candidate's bit test is k
    ``element_at`` + ``bit_get`` expressions over its shard's words. No
    Python worker runs in either direction.

The exact seen anti-join stays the source of truth, the prefilter only
short-circuits definitely-absent keys (bit-identity pinned in
tests/test_frontier.py and tests/test_sharded_filter.py). The filter is
never edited in place: keys re-opened for recrawl leave the exact seen
set (state.reopen_seen) and stay "maybe" here until the next compaction
rebuilds the filter.

Reference frame: the reference repo has no frontier (crawlstats.py is a
counting job); this implements SURVEY §7's partitioned URL-seen design.
"""

from __future__ import annotations

import json
import math
import os
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

HEADER = "_FILTER.json"
SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("words", ArrayType(LongType())),
    ]
)
# one shard row's words array: ~64 MiB at the sizing target
TARGET_SHARD_BYTES = 64 << 20


def shard_of(key: Column, n_shards: int) -> Column:
    """Shard id of a key column — one definition shared by build and
    probe. Wrapped in coalesce only to make the column non-nullable
    (pmod never returns null here): a nullable join key would let
    Catalyst infer an ``isnotnull(pmod(xxhash64(...)))`` filter and push
    it through the discovery join into the universe scan."""
    return F.coalesce(
        F.pmod(F.xxhash64(key, F.lit(0)), F.lit(n_shards)).cast("int"),
        F.lit(0),
    )


def _bit_indices(key: Column, m: int, k: int) -> list[Column]:
    """The k bit indices in [0, m) of a key column (double hashing)."""
    h1 = F.pmod(F.xxhash64(key, F.lit(1)), F.lit(m))
    h2 = F.pmod(F.xxhash64(key, F.lit(2)), F.lit(m - 1)) + 1
    return [F.pmod(h1 + i * h2, F.lit(m)) for i in range(k)]


def _word(idx: Column) -> Column:
    return F.call_function("shiftright", idx, F.lit(6)).cast("int")


def _bit(idx: Column) -> Column:
    return (idx % 64).cast("int")


def _padded_per_shard(n_keys: int, n_shards: int) -> int:
    """Upper bound on keys routed to one shard: Binomial(n, 1/n_shards)
    mean + 6σ + slack, so the busiest shards are not sized off the mean."""
    mean = max(1, (n_keys + n_shards - 1) // n_shards)
    return mean + int(math.ceil(6 * math.sqrt(mean))) + 16


def default_n_shards(n_keys: int, bits_per_key: int = 10) -> int:
    """Shard count so one shard's words array ≈ ``TARGET_SHARD_BYTES``
    (10^10 keys × 10 bits → ~196 shards), floored at 4 so the sharded
    code path is always exercised."""
    total_bytes = max(1, n_keys * bits_per_key // 8)
    return max(4, int(math.ceil(total_bytes / TARGET_SHARD_BYTES)))


def is_committed(dir_: str) -> bool:
    """A sharded filter exists only once its header does (written last)."""
    return os.path.exists(os.path.join(dir_, HEADER))


def load_header(dir_: str) -> dict:
    with open(os.path.join(dir_, HEADER)) as f:
        return json.load(f)


def _write_header(dir_: str, header: dict) -> None:
    tmp = os.path.join(dir_, HEADER + ".tmp")
    with open(tmp, "w") as f:
        json.dump(header, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(dir_, HEADER))


def build_sharded_bloom(
    seen: DataFrame,
    out_dir: str,
    key_col: str = "seen_key",
    bits_per_key: int = 10,
    n_shards: int | None = None,
) -> dict:
    """Build the sharded Bloom under ``out_dir`` and return its header.
    Overwriting the directory removes any earlier header first, so a
    crashed rebuild is invisible until the new header lands."""
    spark = seen.sparkSession
    n_keys = seen.count()
    if n_shards is None:
        n_shards = default_n_shards(n_keys, bits_per_key)
    per_shard = _padded_per_shard(n_keys, n_shards)
    n_words = max(1, -(-per_shard * bits_per_key // 64))
    m = 64 * n_words  # bits per shard, uniform
    k = max(1, round(bits_per_key * math.log(2)))

    # One relation of key rows plus one grid row per shard id,
    # range-partitioned on shard so a task owns its shards whole: the
    # partial bit_or already yields one row per (shard, word), both
    # aggregations run without another exchange, and only keys move.
    # Twice as many ranges as shard ids puts every shard id in a range of
    # its own (with n ranges the sampled bounds can merge two ids). A
    # grid row carries the last word's bit index in ``k`` and explodes
    # into bit 0 of every word with a zero word, so every word of every
    # shard exists, including empty shards (a column bound, unlike a
    # literal one, keeps the word list out of the serialized plan).
    key = F.col(key_col)
    rows = (
        seen.select(
            shard_of(key, n_shards).alias("shard"),
            key.alias("k"),
            F.lit(False).alias("grid"),
        )
        .unionByName(
            spark.range(n_shards).select(
                F.col("id").cast("int").alias("shard"),
                F.lit(m - 64).cast("long").alias("k"),
                F.lit(True).alias("grid"),
            )
        )
        .repartitionByRange(2 * n_shards, "shard")
    )
    grid_bits = F.sequence(F.lit(0).cast("long"), "k", F.lit(64).cast("long"))
    idx = F.explode(
        F.when(F.col("grid"), grid_bits).otherwise(
            F.array(*_bit_indices(F.col("k"), m, k))
        )
    ).alias("idx")
    table = (
        rows.select("shard", "grid", idx)
        .select(
            "shard",
            _word(F.col("idx")).alias("w"),
            F.when(F.col("grid"), F.lit(0).cast("long"))
            .otherwise(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), _bit(F.col("idx"))
                )
            )
            .alias("word"),
        )
        .groupBy("shard", "w")
        .agg(F.bit_or("word").alias("word"))
        .groupBy("shard")
        .agg(F.sort_array(F.collect_list(F.struct("w", "word"))).alias("ws"))
        .select("shard", F.col("ws.word").alias("words"))
    )
    table.write.mode("overwrite").parquet(out_dir)
    header = {
        "n_shards": n_shards,
        "n_keys": n_keys,
        "m": m,
        "k": k,
        "bits_per_key": bits_per_key,
        "shard_bytes": 8 * n_words,
    }
    _write_header(out_dir, header)
    return header


def probe(cand: DataFrame, key: Column, dir_: str) -> DataFrame:
    """``cand`` plus a boolean ``_maybe`` column: True = the key may be in
    the filter, False = definitely absent. An inner equi-join on shard id
    that broadcasts the (bounded) candidate side, so the shard table is
    scanned once and never moves; every candidate finds its shard's row
    because the build writes one for every shard id."""
    h = load_header(dir_)
    n_shards, m, k = h["n_shards"], h["m"], h["k"]
    shards = cand.sparkSession.read.schema(SCHEMA).parquet(dir_)
    c = cand.select(
        *cand.columns,
        shard_of(key, n_shards).alias("_pf_shard"),
        F.array(*_bit_indices(key, m, k)).alias("_pf_idx"),
    )
    joined = shards.join(F.broadcast(c), shards.shard == c._pf_shard)
    hit = reduce(
        lambda a, b: a & b,
        (
            F.bit_get(
                F.element_at(shards.words, _word(c._pf_idx[i]) + 1),
                _bit(c._pf_idx[i]),
            )
            == 1
            for i in range(k)
        ),
    )
    return joined.select(*[c[x] for x in cand.columns], hit.alias("_maybe"))
