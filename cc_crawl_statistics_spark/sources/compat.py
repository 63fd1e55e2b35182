"""Reference wire-format compatibility: the ``JSON_KEY\\tJSON_VALUE`` lines
the reference's stats job emits and its plot layer consumes
(/root/reference/crawlstats.py:663; crawlplot.py:290-304).

Count vectors use the reference's trailing-equal compression (MultiCount,
crawlstats.py:388-397): a vector whose trailing elements all equal the
preceding value is truncated, and a fully-uniform vector collapses to a
bare int — e.g. [5,5] → 5, [5,4,4] → [5,4]. Parquet encodes this better
(SURVEY.md §1), so internally counts are plain struct columns; compression
exists only at this export edge.

The emitters run as Arrow-batched pandas UDFs over the final (small,
already-aggregated) stats frame; ``json.dumps`` formatting matches the
reference's JSONProtocol output (list separator ", ").
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# count-vector codec (pure functions; unit-tested against the reference's
# documented examples)
# ---------------------------------------------------------------------------


def compress_counts(counts: list[int]) -> int | list[int]:
    """Trailing-equal compression. [5,5,5] → 5; [5,4,4] → [5,4]; [5] → 5."""
    keep = len(counts)
    while keep > 1 and counts[keep - 1] == counts[keep - 2]:
        keep -= 1
    return counts[0] if keep == 1 else counts[:keep]


def expand_counts(value: int | list[int], size: int) -> list[int]:
    """Inverse of compress: pad by repeating the last element."""
    if isinstance(value, int):
        return [value] * size
    return list(value) + [value[-1]] * (size - len(value))


def merge_compressed(values: list[int | list[int]]) -> int | list[int]:
    """Element-wise sum of compressed vectors of possibly ragged widths
    (the reference reducer's merge, crawlstats.py:410-435 semantics)."""
    width = max(
        (len(v) if isinstance(v, list) else 1) for v in values
    )
    acc = [0] * width
    for v in values:
        ex = expand_counts(v, width)
        for i in range(width):
            acc[i] += ex[i]
    return compress_counts(acc)


# ---------------------------------------------------------------------------
# emitters
# ---------------------------------------------------------------------------

STATS_COLS = ("type", "key", "crawl", "pages", "urls")


def emit_stats_lines(stats: DataFrame) -> DataFrame:
    """Long-format stats (type, key, crawl, pages, urls) → one string column
    ``line`` in the reference wire format, deterministically sorted by key.
    Output shape: ["<type>", "<key>", "<crawl>"]\\t<compressed counts>."""

    def fmt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            lines = []
            for t, k, c, p, u in zip(
                pdf["type"], pdf["key"], pdf["crawl"], pdf["pages"], pdf["urls"],
                strict=True,
            ):
                key = json.dumps([t, k, c])
                val = json.dumps(compress_counts([int(p), int(u)]))
                lines.append(f"{key}\t{val}")
            yield pd.DataFrame({"line": lines})

    return (
        stats.select(*STATS_COLS)
        .repartitionByRange(1, "type", "key", "crawl")
        .sortWithinPartitions("type", "key", "crawl")
        .mapInPandas(fmt, "line string")
    )


def read_stats_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse wire-format lines back to (type, key, crawl, pages, urls) —
    the plot layer's reader (crawlplot.py:272-304)."""

    def parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for line in pdf[value_col]:
                k, v = line.split("\t", 1)
                t, key, crawl = json.loads(k)
                counts = expand_counts(json.loads(v), 2)
                rows.append((t, key, crawl, counts[0], counts[1]))
            yield pd.DataFrame(
                rows, columns=["type", "key", "crawl", "pages", "urls"]
            )

    return lines.mapInPandas(
        parse, "type string, key string, crawl string, pages long, urls long"
    )
