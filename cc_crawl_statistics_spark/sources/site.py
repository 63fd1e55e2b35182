"""One-command stats-site build — the reference's end artifact.

The reference repo's deliverable is its plots site: ``plot.sh`` filters
the per-crawl stats files into excerpts, runs every ``plot/*.py`` class,
and leaves ``data/*.csv`` + ``plots/*.html`` (+ PNGs) for the Jekyll
site (plot.sh:56-100; plot/crawl_size.py:162-165 ``to_csv``;
plot/table.py:121-160 CSV/HTML tables). This module composes the
already-tested pieces — the 14 figure specs (sources/figures.py), the
CSV/HTML presentation sinks (sources/presentation.py) — into that same
bundle in one call::

    site/
      data/<figure>.csv            # one per FigureSpec, canonical order
      data/<dim>s-percentage.csv   # percent-of-crawl pivots (table.py)
      plots/<dim>s.html            # tablesorter HTML tables
      plots/<figure>.png           # only when matplotlib is installed
      _site_manifest.json          # every artifact + rows + sha256

Scale shape: ONE corpus pass. The pages projection is cached once and
all 14 figure aggregates plus the 3 percentage tables read the cached
copy — the role plot.sh's stats *excerpts* play for the reference
(each aggregate's result is dimension-sized, ≤ crawls × top-N rows, so
the driver-side CSV/HTML render is presentation, not data movement).
At the 100 TB frame the same call points at the materialized stats
table instead of raw pages; the figure builders only ever see
dimension-sized frames either way.

The manifest is the bundle's golden contract
(tests/test_site_build.py): artifact set, row counts, and content
hashes are pinned against a committed manifest at sf0.001, so any
drift in any figure's data fails one test. Frames are written in
canonical order (sorted by every column) to keep the hashes
partition-layout-independent.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .figures import ALL_FIGURES, render_figure
from .presentation import write_csv, write_percentage_html
from .tables import pages_df

#: the reference's percentage-table dimensions (plot/mimetype.py,
#: plot/charset.py, plot/language.py → mimetypes/charsets/languages.html):
#: table name -> the pages column (primary language = first of the
#: CLD2-style comma list, the reference's ``languages.split(',')[0]``)
#: (SQL expression strings: building Columns needs an active session)
PERCENTAGE_TABLES = {
    "mimetypes": "mime",
    "charsets": "charset",
    "languages": "split(languages, ',')[0]",
}


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _canonical(pdf):
    """Deterministic row order regardless of partition layout: sort by
    every column, stringify-stable."""
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def build_site(
    spark: SparkSession, sf_dir: str, out_dir: str,
    pages: DataFrame | None = None,
) -> dict:
    """Build the full stats-site bundle under ``out_dir``; returns (and
    writes) the manifest. ``pages`` overrides the corpus (e.g. a
    pre-aggregated stats projection at production scale)."""
    data_dir = os.path.join(out_dir, "data")
    plots_dir = os.path.join(out_dir, "plots")
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(plots_dir, exist_ok=True)

    src = pages if pages is not None else pages_df(spark, sf_dir)
    # the one corpus materialization — every figure/table below reads it
    src = src.persist()
    files: dict[str, dict] = {}
    rendered: list[str] = []
    try:
        for fn in ALL_FIGURES:
            spec = fn(src)
            frame = _canonical(spec.frame)
            rel = f"data/{spec.name}.csv"
            path = os.path.join(out_dir, rel)
            # figure names mirror the reference's plots tree
            # (crawlsize/monthly, tld/continents, ...): nested dirs
            os.makedirs(os.path.dirname(path), exist_ok=True)
            frame.to_csv(path, float_format="%.4f", index=False)
            files[rel] = {"rows": int(len(frame)), "sha256": _sha256(path)}
            try:
                png = os.path.join(plots_dir, spec.name + ".png")
                os.makedirs(os.path.dirname(png), exist_ok=True)
                render_figure(spec, png)
                rendered.append(f"plots/{spec.name}.png")
            except NotImplementedError:
                pass  # no matplotlib in this environment — data only

        # percent-of-crawl tables (plot/table.py): page counts per
        # (crawl, dim) — aggregated in Spark, pivoted in Spark, only the
        # crawls-wide result reaches the driver
        from ..operators.counts import page_rows
        from .presentation import percentage_pivot

        for name, expr in PERCENTAGE_TABLES.items():
            counts = (
                page_rows(src)
                .groupBy("crawl", F.expr(expr).alias(name))
                .agg(F.count("*").alias("pages"))
            )
            rel_html = f"plots/{name}.html"
            write_percentage_html(
                counts, os.path.join(out_dir, rel_html), name
            )
            files[rel_html] = {
                "rows": int(counts.select(name).distinct().count()),
                "sha256": _sha256(os.path.join(out_dir, rel_html)),
            }
            rel_csv = f"data/{name}-percentage.csv"
            write_csv(
                percentage_pivot(counts, name),
                os.path.join(out_dir, rel_csv),
            )
            files[rel_csv] = {
                "rows": files[rel_html]["rows"],
                "sha256": _sha256(os.path.join(out_dir, rel_csv)),
            }
    finally:
        src.unpersist()

    manifest = {
        "sf_dir": os.path.basename(os.path.normpath(sf_dir)),
        "n_figures": len(ALL_FIGURES),
        "rendered": sorted(rendered),
        "files": dict(sorted(files.items())),
    }
    with open(os.path.join(out_dir, "_site_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
