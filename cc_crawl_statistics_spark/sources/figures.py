"""Figure layer: the reference's plot outputs as data frames + renders.

The reference renders its site charts with a matplotlib/ggplot2 harness
(crawlplot.py:408-516 ``line_plot_with_matplotlib``/``plot_image``; one
subclass per chart under plot/*.py). This module closes that surface
Spark-first, split into the two halves the reference conflates:

  1. **Figure specs** — every chart is first a small, fully-aggregated
     data frame plus axis/series/label metadata (``FigureSpec``). The
     aggregation runs IN SPARK (the same plot-feed operators the query
     registry exposes); only the final dimension-sized frame crosses to
     pandas, through the same bounded collect the CSV/HTML sinks use
     (presentation.py — refuses unaggregated tables). Specs are pure
     data, so they are golden-testable without any plotting library,
     which is also how this sandbox verifies them (no matplotlib in the
     image).
  2. **Renders** — ``render_figure`` draws a spec with matplotlib when
     it is importable (ggplot2-ish styling, the reference's colors and
     1/2/5 tick ladder), and raises a clear ``NotImplementedError``
     otherwise. Figure *data* is pinned by tests; pixels are not (the
     reference's own tests don't pin pixels either).

Chart inventory (reference file → spec builder here):
  plot/crawl_size.py:178-201  monthly size, cumulative     → crawl_size_figure,
                                                             cumulative_size_figure
  plot/crawl_size.py:196-199  new URLs per crawl           → new_urls_figure
  plot/crawl_size.py:201-233  URLs over last N crawls      → trailing_figure
  plot/crawl_size.py:250-277  url/host/domain/tld (e+XX)   → domain_counts_figure
  plot/crawl_size.py:278-298  URL status by year           → url_status_figure
  plot/mimetype.py, table.py  percent-of-crawl shares      → mime_share_figure
  plot/histogram.py:29-61     pseudo-log histograms        → histogram_figure
  plot/overlap.py:150-281     Jaccard similarity heatmap   → overlap_matrix_figure
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .presentation import _bounded_pandas

#: ggplot2's default 3-hue categorical palette, as hard-coded by the
#: reference for ≤3 series (crawlplot.py:449 ``colors = ["#F8766D", ...]``)
GGPLOT2_COLORS_3 = ["#F8766D", "#00BA38", "#619CFF"]


def nice_tick_step(vmin: float, vmax: float, n: int = 5) -> float:
    """The reference's 1/2/5×10^k axis-tick ladder (crawlplot.py:372-396
    ``nice_tick_step``) — public 'nice numbers' math, reimplemented as a
    pure function so the golden tests pin it without matplotlib."""
    span = abs(vmax - vmin)
    if span == 0:
        return 1.0
    raw = span / n
    exp = math.floor(math.log10(raw))
    frac = raw / (10**exp)
    nice_frac = 1 if frac <= 1 else 2 if frac <= 2 else 5 if frac <= 5 else 10
    return nice_frac * 10**exp


@dataclass
class FigureSpec:
    """One chart, fully determined: a tiny long-form frame + metadata.
    ``kind`` is 'line' (x vs y per series), 'bar' (grouped/stacked), or
    'heatmap' (x × y matrix with cell values + text annotations)."""

    name: str
    title: str
    kind: str
    frame: pd.DataFrame
    x: str
    y: str
    series: str | None = None
    ylabel: str = ""
    clabel: str = ""
    annotations: str | None = None  # heatmap cell-text column
    meta: dict = field(default_factory=dict)

    def colors(self) -> list[str] | None:
        """Reference color policy: ggplot2's fixed 3-hue palette when the
        chart has ≤3 series, matplotlib defaults otherwise
        (crawlplot.py:448-450)."""
        if self.series is None:
            return None
        n = self.frame[self.series].nunique()
        return GGPLOT2_COLORS_3[:n] if n <= 3 else None

    def y_tick_step(self) -> float:
        vals = self.frame[self.y]
        return nice_tick_step(float(vals.min()), float(vals.max()))


def _melt(pdf: pd.DataFrame, id_col: str, value_cols: dict[str, str],
          var_name: str = "type", value_name: str = "size") -> pd.DataFrame:
    """Wide → long with series renames (the reference's size_by_type
    long form, crawl_size.py:61-88), deterministic row order."""
    out = pdf[[id_col, *value_cols]].melt(
        id_vars=[id_col], var_name=var_name, value_name=value_name
    )
    out[var_name] = out[var_name].map(value_cols)
    return out.sort_values([var_name, id_col], ignore_index=True)


# --------------------------------------------------------------------------
# spec builders — aggregation in Spark, bounded dimension-sized collect
# --------------------------------------------------------------------------


def crawl_size_figure(pages: DataFrame) -> FigureSpec:
    """'Crawl Size' — pages / unique URLs / unique digests per crawl
    (plot/crawl_size.py:180-186; series names match its row_types,
    exact counts where the reference plots HLL estimates)."""
    from ..operators.counts import crawl_size

    pdf = _bounded_pandas(crawl_size(pages), 100_000)
    frame = _melt(
        pdf, "crawl", {"pages": "page", "urls": "url", "digests": "digest"}
    )
    return FigureSpec(
        name="crawlsize/monthly",
        title="Crawl Size",
        kind="line",
        frame=frame,
        x="crawl",
        y="size",
        series="type",
        ylabel="Pages / Unique Items",
    )


def cumulative_size_figure(pages: DataFrame) -> FigureSpec:
    """'Crawl Size Cumulative' (plot/crawl_size.py:187-195)."""
    from ..operators.counts import crawl_size
    from ..operators.timeseries import cumulative_size

    pdf = _bounded_pandas(cumulative_size(crawl_size(pages)), 100_000)
    frame = _melt(
        pdf,
        "crawl",
        {"cum_pages": "page cumul.", "cum_fetches": "fetch cumul."},
    )
    return FigureSpec(
        name="crawlsize/cumulative",
        title="Crawl Size Cumulative",
        kind="line",
        frame=frame,
        x="crawl",
        y="size",
        series="type",
        ylabel="Pages / Unique Items Cumulative",
    )


def new_urls_figure(pages: DataFrame) -> FigureSpec:
    """'New URLs per Crawl' (plot/crawl_size.py:196-199)."""
    from ..operators.counts import new_items_per_crawl

    pdf = _bounded_pandas(new_items_per_crawl(pages), 100_000)
    frame = _melt(pdf, "crawl", {"new_urls": "url new"})
    return FigureSpec(
        name="crawlsize/monthly_new",
        title="New URLs per Crawl (not observed in prior crawls)",
        kind="line",
        frame=frame,
        x="crawl",
        y="size",
        series="type",
        ylabel="New URLs",
    )


def trailing_figure(pages: DataFrame, ns: tuple[int, ...] = (2, 3)) -> FigureSpec:
    """'URLs Cumulative Over Last N Crawls' — one series per window N,
    legend titled 'n crawls' (plot/crawl_size.py:201-216). Exact flavor
    of the reference's sliding HLL unions; under-full windows are 0."""
    from ..operators.counts import crawl_size
    from ..operators.timeseries import trailing_union

    size = crawl_size(pages).localCheckpoint(eager=False)
    frames = []
    for n in ns:
        pdf = _bounded_pandas(trailing_union(size, n), 100_000)
        frames.append(
            _melt(pdf, "crawl", {f"urls_last_{n}": f"{n} crawls"})
        )
    frame = pd.concat(frames, ignore_index=True)
    return FigureSpec(
        name="crawlsize/url_last_n_crawls",
        title="URLs Cumulative Over Last N Crawls",
        kind="line",
        frame=frame,
        x="crawl",
        y="size",
        series="type",
        ylabel="Unique URLs cumulative",
        clabel="n crawls",
    )


def domain_counts_figure(pages: DataFrame) -> FigureSpec:
    """'URLs / Hosts / Domains / TLDs per Crawl' with the reference's
    exponent normalization so all series share one axis — tld/1e3 as
    'tld e+04'-style labels (plot/crawl_size.py:250-277). The divisor
    scheme is data-independent here (fixed per series, documented in
    meta) rather than the reference's chained in-place mutation."""
    from ..operators.counts import crawl_size

    from ..operators.counts import page_rows

    # crawl_size carries url/host/domain distincts; the tld series the
    # reference chart also plots is one extra dimension-sized aggregate
    size = crawl_size(pages)
    tlds = (
        page_rows(pages)
        .groupBy("crawl")
        .agg(F.countDistinct("tld").alias("tlds"))
    )
    pdf = _bounded_pandas(size.join(tlds, "crawl"), 100_000)
    # fixture-scale counts fit one axis unscaled; at site scale the
    # reference divides each series by a power of ten and carries the
    # exponent in the label ('host e+07') — record the divisors in meta
    # so a renderer can apply them without mutating the frame
    scales = {"url": 1.0, "host": 1.0, "domain": 1.0, "tld": 1.0}
    frame = _melt(
        pdf,
        "crawl",
        {"urls": "url", "hosts": "host", "domains": "domain", "tlds": "tld"},
    )
    return FigureSpec(
        name="crawlsize/domain",
        title="URLs / Hosts / Domains / TLDs per Crawl",
        kind="line",
        frame=frame,
        x="crawl",
        y="size",
        series="type",
        ylabel="Unique Items",
        meta={"scales": scales},
    )


def url_status_figure(pages: DataFrame) -> FigureSpec:
    """'URL status by crawl' — new / revisit / duplicate stacked bars
    (plot/crawl_size.py:278-298, by crawl at fixture scale where the
    reference rolls up to years; same melt)."""
    from ..operators.timeseries import url_status_by_crawl

    pdf = _bounded_pandas(url_status_by_crawl(pages), 100_000)
    frame = pdf.rename(columns={"url_status": "type", "n": "size"})
    frame = frame.sort_values(["type", "crawl"], ignore_index=True)
    return FigureSpec(
        name="crawlsize/url_status",
        title="URL Status per Crawl",
        kind="bar",
        frame=frame,
        x="crawl",
        y="size",
        series="type",
        ylabel="URLs",
    )


def mime_share_figure(pages: DataFrame, top_n: int = 5) -> FigureSpec:
    """Percent-of-crawl MIME shares for the top-N types (plot/mimetype.py
    via table.py:121-160 save_data_percentage). Share is the operators'
    integer permille, displayed as permille (float-free end to end)."""
    from ..operators.counts import mimetype_counts
    from ..operators.timeseries import share_of_total

    counts = mimetype_counts(pages)
    shares = share_of_total(counts, "mimetype")
    top = (
        counts.groupBy("mimetype")
        .agg(F.sum("pages").alias("p"))
        .orderBy(F.desc("p"), "mimetype")
        .limit(top_n)
        .select("mimetype")
    )
    pdf = _bounded_pandas(
        shares.join(F.broadcast(top), "mimetype").select(
            "crawl", "mimetype", "share_permille"
        ),
        100_000,
    )
    frame = pdf.rename(
        columns={"mimetype": "type", "share_permille": "size"}
    ).sort_values(["type", "crawl"], ignore_index=True)
    return FigureSpec(
        name="mimetypes",
        title="MIME Types (share of pages, permille)",
        kind="line",
        frame=frame,
        x="crawl",
        y="size",
        series="type",
        ylabel="permille of crawled pages",
    )


def histogram_figure(pages: DataFrame) -> FigureSpec:
    """Pseudo-log frequency histogram — pages per domain in 1/2/5 bins
    (plot/histogram.py:29-61 over the reference's frequency counts)."""
    from ..operators.counts import dim_counts
    from ..operators.timeseries import pseudo_log_histogram

    per_domain = dim_counts(pages, "domain")
    hist = pseudo_log_histogram(per_domain, "pages", per=("crawl",))
    pdf = _bounded_pandas(hist, 100_000)
    frame = pdf.rename(columns={"bin": "x", "n": "size"}).sort_values(
        ["crawl", "x"], ignore_index=True
    )
    return FigureSpec(
        name="crawler/histogram_domain_pages",
        title="Pages per Domain (pseudo-log bins)",
        kind="bar",
        frame=frame,
        x="x",
        y="size",
        series="crawl",
        ylabel="Number of domains",
    )


def mime_detected_figure(pages: DataFrame) -> FigureSpec:
    """Declared-vs-detected media-type heatmap (plot/mimetype_detected.py
    — the comparison the reference invites by publishing both columns):
    pages per (declared, detected) pair summed over crawls, annotated
    with the exact counts."""
    from ..operators.counts import mime_agreement_matrix

    pdf = _bounded_pandas(
        mime_agreement_matrix(pages)
        .groupBy("mimetype", "mimetype_detected")
        .agg(F.sum("pages").cast("long").alias("pages")),
        100_000,
    ).fillna({"mimetype": "(none)", "mimetype_detected": "(none)"})
    frame = pd.DataFrame(
        {
            "declared": pdf["mimetype"],
            "detected": pdf["mimetype_detected"],
            "similarity_permille": pdf["pages"],  # heatmap cell value
            "cell_text": pdf["pages"].astype(str),
        }
    ).sort_values(["declared", "detected"], ignore_index=True)
    return FigureSpec(
        name="mimetypes_detected",
        title="Declared vs Detected Media Type (pages)",
        kind="heatmap",
        frame=frame,
        x="detected",
        y="declared",
        series=None,
        annotations="cell_text",
        meta={"colorbar": "pages"},
    )


def overlap_matrix_figure(pages: DataFrame) -> FigureSpec:
    """Crawl-overlap Jaccard heatmap (plot/overlap.py:150-281): pivot of
    pairwise similarity with the reference's cell-text rounding — spread
    > .2 → 2 decimals / minshown .005, else 3 decimals / minshown .0005;
    leading zero stripped; sub-threshold shown as '0'; scale midpoint =
    median similarity (overlap.py:233-250). Similarity itself stays the
    operators' integer permille; the text formatting converts at the
    edge."""
    from ..operators.timeseries import crawl_overlap

    pdf = _bounded_pandas(crawl_overlap(pages), 100_000)
    sim = pdf["jaccard_permille"] / 1000.0
    spread = float(sim.max() - sim.min()) if len(sim) else 0.0
    decimals, minshown = (2, 0.005) if spread > 0.2 else (3, 0.0005)
    rounded = sim.apply(
        lambda x: ("{0:.%df}" % decimals).format(x).lstrip("0")
        if x >= minshown
        else "0"
    )
    frame = pd.DataFrame(
        {
            "crawl1": pdf["c1"],
            "crawl2": pdf["c2"],
            "similarity_permille": pdf["jaccard_permille"],
            "sim_rounded": rounded,
        }
    ).sort_values(["crawl1", "crawl2"], ignore_index=True)
    return FigureSpec(
        name="crawloverlap/crawlsimilarity_matrix_url",
        title="URL overlap between crawls (Jaccard similarity)",
        kind="heatmap",
        frame=frame,
        x="crawl2",
        y="crawl1",
        series=None,
        annotations="sim_rounded",
        meta={
            "midpoint_permille": int(sim.median() * 1000) if len(sim) else 0,
            "decimals": decimals,
            "colorbar": "similarity",
        },
    )


def _share_figure(
    pages: DataFrame, key: str, counts_fn, name: str, title: str,
    top_n: int = 5,
) -> FigureSpec:
    """Shared percent-of-crawl share chart builder (table.py:121-160
    save_data_percentage — the shape behind the mimetype/charset/language
    plots). Integer permille end to end."""
    from ..operators.timeseries import share_of_total

    counts = counts_fn(pages)
    shares = share_of_total(counts, key)
    top = (
        counts.groupBy(key)
        .agg(F.sum("pages").alias("p"))
        .orderBy(F.desc("p"), key)
        .limit(top_n)
        .select(key)
    )
    pdf = _bounded_pandas(
        shares.join(F.broadcast(top), key).select(
            "crawl", key, "share_permille"
        ),
        100_000,
    )
    frame = pdf.rename(
        columns={key: "type", "share_permille": "size"}
    ).sort_values(["type", "crawl"], ignore_index=True)
    return FigureSpec(
        name=name,
        title=title,
        kind="line",
        frame=frame,
        x="crawl",
        y="size",
        series="type",
        ylabel="permille of crawled pages",
    )


def charset_share_figure(pages: DataFrame, top_n: int = 5) -> FigureSpec:
    """Charset shares (plot/charset.py — same save_data_percentage
    shape)."""
    from ..operators.counts import dim_counts

    return _share_figure(
        pages,
        "charset",
        lambda p: dim_counts(p.filter(F.col("charset").isNotNull()),
                             "charset"),
        "charsets",
        "Character Sets (share of pages, permille)",
        top_n,
    )


def language_share_figure(pages: DataFrame, top_n: int = 5) -> FigureSpec:
    """Primary-language shares (plot/language.py)."""
    from ..operators.counts import primary_language_counts

    return _share_figure(
        pages,
        "primary_language",
        primary_language_counts,
        "languages",
        "Languages (share of pages, permille)",
        top_n,
    )


def fetch_status_figure(pages: DataFrame) -> FigureSpec:
    """Fetcher outcome counts per crawl (plot/crawler_metrics.py's
    fetcher-counter charts): the same success/temp_moved/notfound/
    exception classification the S5 side-input roundtrip renders,
    charted as stacked bars."""
    from ..operators.counts import with_flags

    p = with_flags(pages).filter(~F.col("is_robotstxt"))
    ctr = (
        p.groupBy(
            "crawl",
            F.when(F.col("status") == 200, "success")
            .when(F.col("status") == 301, "temp_moved")
            .when(F.col("status") == 404, "notfound")
            .otherwise("exception")
            .alias("type"),
        )
        .agg(F.count("*").cast("long").alias("size"))
    )
    frame = _bounded_pandas(ctr, 100_000).sort_values(
        ["type", "crawl"], ignore_index=True
    )
    return FigureSpec(
        name="crawler/fetch_status",
        title="Fetcher Outcomes per Crawl",
        kind="bar",
        frame=frame,
        x="crawl",
        y="size",
        series="type",
        ylabel="Fetches",
    )


def tld_continent_figure(pages: DataFrame) -> FigureSpec:
    """Pages per continent per crawl (plot/tld_by_continent.py — the
    cc-TLD → continent rollup, stacked)."""
    from ..dims import tld_continent_dim
    from ..operators.counts import tld_counts
    from ..operators.timeseries import continent_rollup
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    pdf = _bounded_pandas(
        continent_rollup(tld_counts(pages), tld_continent_dim(spark)),
        100_000,
    )
    frame = (
        pdf.rename(columns={"continent": "type", "pages": "size"})
        .loc[:, ["crawl", "type", "size"]]
        .sort_values(["type", "crawl"], ignore_index=True)
    )
    return FigureSpec(
        name="tld/continents",
        title="Pages per Continent (cc-TLD rollup)",
        kind="bar",
        frame=frame,
        x="crawl",
        y="size",
        series="type",
        ylabel="Pages",
    )


ALL_FIGURES = (
    crawl_size_figure,
    cumulative_size_figure,
    new_urls_figure,
    trailing_figure,
    domain_counts_figure,
    url_status_figure,
    mime_share_figure,
    charset_share_figure,
    language_share_figure,
    fetch_status_figure,
    tld_continent_figure,
    histogram_figure,
    mime_detected_figure,
    overlap_matrix_figure,
)


def build_figures(spark: SparkSession, sf_dir: str) -> list[FigureSpec]:
    """All figure specs for one corpus directory (one pages scan per
    figure; each result is dimension-sized)."""
    from .tables import pages_df

    pages = pages_df(spark, sf_dir)
    return [fn(pages) for fn in ALL_FIGURES]


# --------------------------------------------------------------------------
# rendering — matplotlib behind an import-try (absent in this sandbox)
# --------------------------------------------------------------------------


def render_figure(spec: FigureSpec, img_path: str, dpi: int = 120):
    """Draw one spec to ``img_path`` with matplotlib, ggplot2-ish styling
    per the reference harness (crawlplot.py:408-516): fixed 3-hue palette
    for ≤3 series, no spines, major/minor grid, legend below the axes,
    1/2/5 y-tick ladder; heatmaps as imshow + cell text + colorbar
    (overlap.py:150-210). Raises NotImplementedError when matplotlib is
    not installed (this sandbox) — the figure DATA path above stays fully
    functional and tested either way."""
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError as e:  # pragma: no cover - exercised only w/o lib
        raise NotImplementedError(
            "render_figure needs matplotlib, which this environment does "
            "not provide; build_figures/FigureSpec carry the full figure "
            "data and are tested without it"
        ) from e

    fig, ax = plt.subplots(figsize=(8, 5))
    if spec.kind in ("line", "bar"):
        colors = spec.colors()
        groups = list(spec.frame.groupby(spec.series))
        # stacked bars need one shared category axis: sparse groups
        # (pseudo-log histogram bins differ per crawl) reindex onto the
        # union with 0-fill, else the bottom accumulation would add
        # arrays of different lengths / misaligned categories
        all_x = sorted(spec.frame[spec.x].unique())
        bottom = None
        for i, (name, g) in enumerate(groups):
            color = colors[i] if colors else None
            if spec.kind == "line":
                ax.plot(g[spec.x], g[spec.y], "o-", label=str(name),
                        color=color, linewidth=1.5, markersize=4)
            else:
                vals = (
                    g.set_index(spec.x)[spec.y]
                    .reindex(all_x, fill_value=0)
                )
                ax.bar(
                    [str(x) for x in all_x], vals.values, label=str(name),
                    color=color, bottom=bottom,
                )
                bottom = vals.values if bottom is None else bottom + vals.values
        step = spec.y_tick_step()
        ax.yaxis.set_major_locator(plt.MultipleLocator(step))
        ax.legend(loc="upper center", bbox_to_anchor=(0.5, -0.1),
                  ncol=min(4, len(groups)), frameon=False, title=spec.clabel)
        ax.grid(True, which="major", linewidth=0.8, color="#E6E6E6")
        ax.set_axisbelow(True)
        for s in ax.spines.values():
            s.set_visible(False)
    elif spec.kind == "heatmap":
        pivot = spec.frame.pivot(
            index=spec.y, columns=spec.x, values="similarity_permille"
        )
        im = ax.imshow(pivot.values, cmap="RdBu", origin="lower",
                       aspect="equal")
        ann = spec.frame.pivot(
            index=spec.y, columns=spec.x, values=spec.annotations
        )
        for i in range(ann.shape[0]):
            for j in range(ann.shape[1]):
                v = ann.iloc[i, j]
                if pd.notna(v):
                    ax.text(j, i, v, ha="center", va="center", fontsize=7)
        ax.set_xticks(range(len(pivot.columns)))
        ax.set_xticklabels(pivot.columns, rotation=45, ha="right")
        ax.set_yticks(range(len(pivot.index)))
        ax.set_yticklabels(pivot.index)
        cbar = fig.colorbar(im, ax=ax, shrink=0.3)
        cbar.ax.set_title(spec.meta.get("colorbar", ""), fontsize=9)
    ax.set_title(spec.title)
    ax.set_ylabel(spec.ylabel)
    ax.set_xlabel("")
    os.makedirs(os.path.dirname(img_path) or ".", exist_ok=True)
    fig.savefig(img_path, dpi=dpi, bbox_inches="tight")
    plt.close(fig)
    return img_path
