"""Seeded input generation for the benchmark.

The program under test only ever sees the generated tables: a base
``documents`` table made here from the seed (doc_id, text, lang, source,
n_chars — the shape of the sf testdata's documents), widened with the
engine's own ``synth.scaled_documents_sql`` and turned into the
Common-Crawl-style pages table with ``synth.pages_view_sql``. The same
seed gives the same bytes; every seed gives the same row counts and the
same text-length distribution, so the amount of work does not depend on
the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
_SYLLABLES = (
    "ka lo mi ne su ta ri po va de gu hi jo ke ma nu "
    "pe qi ro sa te vu wi xa ye zo ba ce di fo"
).split()


def vocabulary(n_words: int = 4096) -> list[str]:
    """Fixed word list: two- and three-syllable words, seed-independent."""
    words = [a + b for a in _SYLLABLES for b in _SYLLABLES]
    words += [a + b + c for a in _SYLLABLES[:8] for b in _SYLLABLES
              for c in _SYLLABLES]
    return words[:n_words]


def make_documents(seed: int, n_docs: int) -> pa.Table:
    """The seed's transform of the documents table: which words carry the
    Zipf ranks, each document's word sequence and length, and its
    language all come from the seed; doc_id and source are positional."""
    rng = np.random.default_rng(seed)
    words = np.array(vocabulary())
    ranked = words[rng.permutation(len(words))]
    p = 1.0 / np.arange(1, len(words) + 1) ** 1.1
    p /= p.sum()
    lengths = rng.integers(8, 90, n_docs)
    ids = rng.choice(len(words), size=int(lengths.sum()), p=p)
    ends = np.cumsum(lengths)
    starts = ends - lengths
    text = [" ".join(ranked[ids[s:e]]) for s, e in zip(starts, ends)]
    lang = rng.choice(LANGS, size=n_docs, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array(
                [f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def write_documents(seed: int, n_docs: int, sf_dir: str) -> str:
    """Write the seed's documents as ``<sf_dir>/documents.parquet`` — the
    layout ``sources.tables.load_table`` and the oracle SQL read."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(make_documents(seed, n_docs), path)
    return path
