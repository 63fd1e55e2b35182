"""Bloom-filter hash kernels for the sharded URL-seen prefilter.

The exact seen anti-join stays the source of truth; the Bloom only
PREFILTERS: a candidate key the Bloom rejects is *definitely not* in the
compacted base, so it can skip the base anti-join entirely (it still
anti-joins the small post-compaction deltas). A "maybe" key goes through
the full exact anti-join — results are bit-identical with or without the
Bloom (tested). Keys re-opened for recrawl stay in the Bloom until the
next compaction rebuilds it; they take the "maybe" path, and the exact
anti-join consults the reopen-adjusted seen set, so they come out unseen.

This module holds only the vectorized per-array math: the splitmix64
mixes (``_C3`` is the shard-routing constant) and k bit indices via
double hashing over two of them. Everything stateful — build, storage,
membership UDF, sizing — lives in frontier/shardedfilter.py, where the
filter exists ONLY as independent key-range shard files: no code builds,
loads, or broadcasts a whole filter as one object (at 10^10 keys x 10
bits that object would be ~12.5 GB)."""

from __future__ import annotations

import numpy as np

_C1 = np.uint64(0xBF58476D1CE4E5B9)
_C2 = np.uint64(0x94D049BB133111EB)
_C3 = np.uint64(0xD6E8FEB86659FD93)


def _mix(x: np.ndarray, c: np.uint64) -> np.ndarray:
    """splitmix64-style avalanche over uint64 (vectorized, wrap-around)."""
    with np.errstate(over="ignore"):
        x = x ^ (x >> np.uint64(30))
        x = x * c
        x = x ^ (x >> np.uint64(27))
        x = x * _C2
        return x ^ (x >> np.uint64(31))


def _indices(keys: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(keys), k) bit indices by double hashing h1 + i*h2 mod m."""
    u = keys.astype(np.int64).view(np.uint64)
    h1 = _mix(u, _C1)
    h2 = _mix(u ^ _C2, _C1) | np.uint64(1)  # odd → full period
    i = np.arange(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)).astype(
            np.int64
        )
