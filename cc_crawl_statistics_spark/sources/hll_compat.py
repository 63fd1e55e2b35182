"""Reference-format HyperLogLog compatibility (SURVEY.md §7 hard part 1).

The reference serializes per-crawl URL/digest sketches as
``{'__type__': 'HyperLogLog', 'card': ..., 'p': ..., 'M': [...], 'm': ...,
'alpha': ...}`` (/root/reference/crawlstats.py:447-479, codec around the
``hyperloglog`` pip library, not installed here). Internally this engine
uses Spark's Datasketches ``hll_sketch_agg`` (mergeable binary columns);
this module exists only at the export edge, emitting/reading the
reference's JSON shape so downstream consumers of its stats files keep
working.

``RefHLL`` is a from-scratch implementation of the published HyperLogLog
algorithm (Flajolet, Fusy, Gandouet, Meunier 2007; 64-bit-hash variant per
Heule et al.'s observation that the large-range correction is unnecessary):
p = ceil(log2((1.04/err)^2)) registers of leading-zero ranks over a 64-bit
sha1-derived hash, bias-corrected harmonic-mean estimate with the
small-range linear-counting correction. Structure-compatible with the
reference codec (same keys, p=14 at the reference's 1% error setting);
sketch *registers* are only interchangeable with sketches built by the same
hash function — cross-merging with sketches produced by the pip library
would additionally require its exact hash, which is out of scope for a
format codec.

At fixture scale the emitter feeds exact distinct sets through RefHLL
(SURVEY decision), so emitted ``card`` values are reproducible bit-for-bit
run to run.
"""

from __future__ import annotations

import hashlib
import json
import math


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def _hash64(value: str) -> int:
    return int.from_bytes(
        hashlib.sha1(value.encode("utf-8")).digest()[:8], "big"
    )


class RefHLL:
    """Minimal HyperLogLog with the reference codec's attribute names
    (p, m, alpha, M; card())."""

    def __init__(self, error_rate: float = 0.01):
        if not 0 < error_rate < 1:
            raise ValueError("error_rate must be in (0, 1)")
        self.p = int(math.ceil(math.log2((1.04 / error_rate) ** 2)))
        self.m = 1 << self.p
        self.alpha = _alpha(self.m)
        self.M = [0] * self.m

    def add(self, value: str) -> None:
        x = _hash64(value)
        j = x & (self.m - 1)  # register index: low p bits
        w = x >> self.p  # remaining 64-p bits
        rank = (64 - self.p) - w.bit_length() + 1
        if rank > self.M[j]:
            self.M[j] = rank

    def update(self, other: "RefHLL") -> None:
        """Register-wise max — the HLL union (mergeable across partitions,
        crawls, scheduling rounds)."""
        if other.m != self.m:
            raise ValueError("incompatible precision")
        self.M = [max(a, b) for a, b in zip(self.M, other.M, strict=True)]

    def card(self) -> float:
        est = self.alpha * self.m * self.m / sum(2.0**-r for r in self.M)
        if est <= 2.5 * self.m:  # small-range: linear counting
            zeros = self.M.count(0)
            if zeros:
                return self.m * math.log(self.m / zeros)
        return est

    def __len__(self) -> int:
        return int(round(self.card()))

    # --- reference JSON codec (crawlstats.py:447-479 key shape) ---

    def to_json_dict(self) -> dict:
        return {
            "__type__": "HyperLogLog",
            "card": self.card(),
            "p": self.p,
            "M": list(self.M),
            "m": self.m,
            "alpha": self.alpha,
        }

    @classmethod
    def from_json_dict(cls, dic: dict) -> "RefHLL":
        if dic.get("__type__") != "HyperLogLog":
            raise ValueError("not a HyperLogLog dict")
        hll = cls.__new__(cls)
        hll.p = dic["p"]
        hll.m = dic["m"]
        hll.alpha = dic["alpha"]
        hll.M = list(dic["M"])
        return hll


def encode_size_estimate_line(item_type: str, crawl: str, hll: RefHLL) -> str:
    """One reference wire-format line:
    ``["size_estimate", "<item_type>", "<crawl>"]\\t{HLL json}``
    (count-job output shape, crawlstats.py:825-828)."""
    key = json.dumps(["size_estimate", item_type, crawl])
    return f"{key}\t{json.dumps(hll.to_json_dict())}"


def decode_size_estimate_line(line: str) -> tuple[str, str, RefHLL]:
    key, val = line.split("\t", 1)
    _typ, item_type, crawl = json.loads(key)
    return item_type, crawl, RefHLL.from_json_dict(json.loads(val))
