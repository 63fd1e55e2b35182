"""Key-range-sharded URL-seen Bloom prefilter.

At the north-rule 10^10-key frame a whole filter is ~12.5 GB (SURVEY §7
hard part 6), so here the filter never exists as one object anywhere:

  * **Build** routes keys to ``n_shards`` independent shards by a
    splitmix64 mix of the 64-bit seen key, repartitions so each shard's
    keys land in exactly one Spark partition, and each task builds and
    writes ITS shard file directly into the (shared-storage) store
    directory via tmp+rename. The driver only collects one tiny stats
    row per shard and writes the ``_FILTER.json`` header last — the
    commit point, same protocol as the store's ``_MANIFEST.json``.
  * **Membership** is an Arrow-batched pandas UDF: instead of a
    broadcast bit array the executor process lazily loads the shard
    files a batch actually touches, into a bounded process-level cache —
    so an executor whose tasks only ever see a key subrange only ever
    holds those shards (at 10^10 keys: ~12 MiB/shard at 1024 shards, not
    12.5 GB).

Wire layout::

    <dir>/
      _FILTER.json            # params, written last (commit point)
      shard=00000.npy ...     # one packed bit array per non-empty shard

A missing shard file means "no keys routed there" → definitely-absent,
which keeps the no-false-negative contract exact. The exact seen
anti-join stays the source of truth, the prefilter only short-circuits
definitely-absent keys (bit-identity pinned in tests/test_frontier.py and
tests/test_sharded_filter.py). The filter is never edited in place:
keys re-opened for recrawl leave the exact seen set (state.reopen_seen)
and stay "maybe" here until the next compaction rebuilds the filter.

Reference frame: the reference repo has no frontier (crawlstats.py is a
counting job); this implements SURVEY §7's partitioned URL-seen design.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .bloom import _C3, _indices, _mix

HEADER = "_FILTER.json"

# Per-executor-process shard cache: (file path, mtime_ns) -> ndarray.
# mtime in the key makes a rebuilt shard self-invalidating: a compaction
# re-run after a crash rebuilds the same directory, so the path alone
# would serve the old epoch's bits.
# Bounded via SPARK_GRAFT_SHARD_CACHE (entries; default 8 — at the
# 64 MiB shard-sizing target that caps a long-lived executor at ~512 MiB
# resident even when its tasks touch many shards over the process
# lifetime; 0 is the explicit unbounded opt-in). FIFO eviction is
# enough: the scheduler clusters a task's candidates by shard id, so its
# batches touch ~one shard and the working set stays far below the cap.
_SHARD_CACHE: dict = {}
_SHARD_CACHE_DEFAULT = 8


def _route(keys: np.ndarray, n_shards: int) -> np.ndarray:
    """Shard id per key — one definition shared by build and lookup."""
    u = keys.astype(np.int64).view(np.uint64)
    return (_mix(u, _C3) % np.uint64(n_shards)).astype(np.int64)


def _padded_per_shard(n_keys: int, n_shards: int) -> int:
    """Upper bound on keys routed to one shard: Binomial(n, 1/n_shards)
    mean + 6σ + slack, so the busiest shards are not sized off the mean."""
    mean = max(1, (n_keys + n_shards - 1) // n_shards)
    return mean + int(math.ceil(6 * math.sqrt(mean))) + 16


def default_n_shards(n_keys: int, bits_per_key: int = 10,
                     target_bytes: int = 64 << 20) -> int:
    """Shard count so one shard's array ≈ ``target_bytes`` (64 MiB — an
    executor-cache-friendly unit; 10^10 keys × 10 bits → ~196 shards),
    floored at 4 so the sharded code path is always exercised."""
    total_bytes = max(1, n_keys * bits_per_key // 8)
    return max(4, int(math.ceil(total_bytes / target_bytes)))


def _shard_file(dir_: str, shard: int) -> str:
    return os.path.join(dir_, f"shard={shard:05d}.npy")


def _fresh_dir(dir_: str) -> None:
    """Start a build from an empty directory: a crashed earlier attempt
    may have left shard files (valid only with a header, which is written
    last) — rebuilding over them must not mix epochs."""
    import shutil

    if os.path.exists(dir_):
        shutil.rmtree(dir_)
    os.makedirs(dir_)


def is_committed(dir_: str) -> bool:
    """A sharded filter exists only once its header does (written last)."""
    return os.path.exists(os.path.join(dir_, HEADER))


def _atomic_save(path: str, arr: np.ndarray) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        np.save(f, arr)
    os.replace(tmp, path)


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
    """Build the sharded Bloom under ``out_dir``. Executor tasks write
    their shard files directly (the store root is shared storage — it is
    the Iceberg-warehouse stand-in); the driver writes the header last.
    Returns the header dict (plus per-shard build stats)."""
    n_keys = seen.count()
    if n_shards is None:
        n_shards = default_n_shards(n_keys, bits_per_key)
    per_shard = _padded_per_shard(n_keys, n_shards)
    m = max(64, per_shard * bits_per_key)  # bits per shard, uniform
    k = max(1, round(bits_per_key * math.log(2)))
    n_bytes = (m + 7) // 8
    _fresh_dir(out_dir)

    route_udf = shard_route_udf(n_shards)
    routed = seen.select(F.col(key_col).alias("k")).withColumn(
        "_shard", route_udf(F.col("k"))
    )

    def per_partition(batches):
        # accumulate per shard across the task's Arrow batches, write
        # each shard once at the end (this task owns its shards whole —
        # repartition(_shard) hash-clusters a shard into one partition)
        acc: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for shard, grp in pdf.groupby("_shard"):
                bits = acc.setdefault(
                    int(shard), np.zeros(n_bytes, dtype=np.uint8)
                )
                keys = grp["k"].to_numpy(dtype=np.int64)
                idx = _indices(keys, m, k).ravel()
                np.bitwise_or.at(
                    bits, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8)
                )
                counts[int(shard)] = counts.get(int(shard), 0) + len(keys)
        for shard, bits in acc.items():
            _atomic_save(_shard_file(out_dir, shard), bits)
        if acc:
            yield pd.DataFrame(
                {"shard": list(acc), "n": [counts[s] for s in acc]}
            )

    stats = (
        routed.repartition(n_shards, "_shard")
        .mapInPandas(per_partition, "shard long, n long")
        .collect()  # ≤ n_shards tiny rows — the only driver-side data
    )
    header = {
        "kind": "bloom",
        "n_shards": n_shards,
        "n_keys": n_keys,
        "m": m,
        "k": k,
        "bits_per_key": bits_per_key,
        "shard_bytes": n_bytes,
        "nonempty_shards": len(stats),
    }
    _write_header(out_dir, header)
    return header


def _load_shard(dir_: str, shard: int) -> np.ndarray | None:
    """Load one shard array through the process cache (mtime-keyed, so a
    rewritten shard self-invalidates). None = empty shard (no file)."""
    path = _shard_file(dir_, shard)
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    key = (path, st.st_mtime_ns)
    hit = _SHARD_CACHE.get(key)
    if hit is None:
        cap = int(
            os.environ.get("SPARK_GRAFT_SHARD_CACHE", _SHARD_CACHE_DEFAULT)
        )
        if cap and len(_SHARD_CACHE) >= cap:
            # FIFO evict, and drop stale versions of this path as we go
            for k in list(_SHARD_CACHE)[: max(1, len(_SHARD_CACHE) - cap + 1)]:
                del _SHARD_CACHE[k]
        for k in [k for k in _SHARD_CACHE if k[0] == path]:
            del _SHARD_CACHE[k]  # stale mtime version
        with open(path, "rb") as f:
            hit = np.load(f)
        _SHARD_CACHE[key] = hit
    return hit


def _bloom_hits(bits: np.ndarray, keys: np.ndarray, m: int, k: int
                ) -> np.ndarray:
    idx = _indices(keys, m, k)
    hit = (bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
    return hit.all(axis=1)


def contains_shards(dir_: str, keys: np.ndarray) -> np.ndarray:
    """Driver/test-side membership over a sharded filter, one shard
    resident at a time (True = maybe present)."""
    h = load_header(dir_)
    keys = keys.astype(np.int64)
    shard = _route(keys, h["n_shards"])
    out = np.zeros(len(keys), dtype=bool)
    for s in np.unique(shard):
        arr = _load_shard(dir_, int(s))
        if arr is None:
            continue
        msk = shard == s
        out[msk] = _bloom_hits(arr, keys[msk], h["m"], h["k"])
    return out


def shard_route_udf(n_shards: int):
    """Arrow-batched shard-id column for a seen-key column — the same
    routing mix the filter uses. The scheduler clusters prefilter
    candidates by this before the membership UDF, so each task (and so
    each executor's shard cache) touches ~one shard instead of all of
    them — the difference between ~64 MiB and the full filter footprint
    per executor at 10^10 keys."""
    return pandas_udf(
        lambda s: pd.Series(_route(s.to_numpy(dtype=np.int64), n_shards)),
        "long",
    )


def might_contain_udf(spark: SparkSession, dir_: str):
    """Arrow-batched membership test over a sharded filter directory
    (True = maybe present). No broadcast: each executor process lazily
    caches only the shard files its batches touch (the whole point at
    10^10 keys)."""
    h = load_header(dir_)
    n_shards, m, k = h["n_shards"], h["m"], h["k"]

    @pandas_udf("boolean")
    def _might(keys: pd.Series) -> pd.Series:
        arr = keys.to_numpy(dtype=np.int64)
        if len(arr) == 0:
            return pd.Series([], dtype=bool)
        shard = _route(arr, n_shards)
        out = np.zeros(len(arr), dtype=bool)
        for s in np.unique(shard):
            bits = _load_shard(dir_, int(s))
            if bits is None:
                continue
            msk = shard == s
            out[msk] = _bloom_hits(bits, arr[msk], m, k)
        return pd.Series(out)

    return _might
