"""HTML outlink extraction + URL resolution — the discovery front of a real
crawler (the reference repo consumes CDX metadata only; outlink parsing is
what feeds its upstream crawler's frontier, and what
frontier/scheduler.expand_links stands in for arithmetically).

Three layers, fastest first:

1. ``parse_outlinks_col`` — all-codegen href extraction: ``decode`` the
   html binary to UTF-8 and ``regexp_extract_all`` anchor hrefs. No Python
   in the plan; at 100 TB this is the only stage that touches the html
   blob, and it stays inside WholeStageCodegen (plan-asserted in
   tests/test_linkgraph.py).
2. ``resolve_href_col`` — codegen RFC 3986 resolution for the three href
   classes that cover crawl corpora almost entirely: absolute
   (``http(s)://…``), protocol-relative (``//host/…``) and root-relative
   (``/path``). Document-relative hrefs (``a/b``, ``../x``) resolve against
   the base directory without ``.``/``..`` normalization — callers that
   need full dot-segment handling use layer 3.
3. ``resolve_href_udf`` — Arrow-batched urljoin (the full RFC 3986
   algorithm, stdlib). The production fallback for the long tail;
   tests pin that it agrees with layer 2 on layer-2's classes.

``synth_linked_html_bytes`` is the fixture generator's html-with-anchors
flavor: it appends empty-bodied ``<a href="…"></a>`` anchors to
extract.synth_html_bytes output, so the byte-identical extraction
invariant ``extract_text(html) == text`` keeps holding on linked pages
(anchors carry no text; tests pin this).
"""

from __future__ import annotations

from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StringType

from .extract import synth_html_bytes

_HREF_PATTERN = r'<a href="([^"]*)"'


def synth_linked_html_bytes(text: str, hrefs: list[str]) -> bytes:
    """Deterministic page with outlinks: synth_html body + one empty-text
    anchor per href, inserted before ``</body>``. Hrefs must not contain
    ``"`` (fixture URLs never do)."""
    base = synth_html_bytes(text)
    anchors = b"".join(
        b'<a href="' + h.encode("utf-8") + b'"></a>' for h in hrefs
    )
    return base.replace(b"</body>", anchors + b"</body>")


@pandas_udf(BinaryType())
def synth_linked_html(text: pd.Series, hrefs: pd.Series) -> pd.Series:
    """Arrow-batched fixture generator for linked pages (html column)."""
    return pd.Series(
        [
            synth_linked_html_bytes(t, list(h))
            for t, h in zip(text, hrefs)
        ],
        dtype=object,
    )


def parse_outlinks_col(html: Column) -> Column:
    """array<string> of raw anchor hrefs, extracted entirely in codegen:
    UTF-8 decode + regexp_extract_all. No Python, no explode — callers
    explode so the fan-out shuffle (if any) happens after column pruning
    dropped the blob."""
    return parse_outlinks_str_col(F.decode(html, "UTF-8"))


def parse_outlinks_str_col(html_str: Column) -> Column:
    """Same extraction over an already-decoded string column (e.g. a WARC
    record's payload block, sources/warc.py)."""
    return F.regexp_extract_all(html_str, F.lit(_HREF_PATTERN), F.lit(1))


_ANCHOR_PATTERN = r'<a href="[^"]*"[^>]*>[^<]*</a>'


def parse_anchors_col(html: Column) -> Column:
    """array<struct<href,text>> of anchors WITH their anchor text — the
    web-graph signal ranking/training pipelines aggregate per target.
    regexp_extract_all (generated code) pulls whole ``<a …>text</a>``
    spans (one capture group per call is the engine limit), then a
    higher-order transform re-extracts the two fields per element — it
    runs interpreted (``CodegenFallback``); no Python, no explode here
    (callers explode after pruning the blob)."""
    page = F.decode(html, "UTF-8")
    anchors = F.regexp_extract_all(page, F.lit(_ANCHOR_PATTERN), F.lit(0))
    return F.transform(
        anchors,
        lambda a: F.struct(
            F.regexp_extract(a, r'href="([^"]*)"', 1).alias("href"),
            F.regexp_extract(a, r">([^<]*)</a>", 1).alias("text"),
        ),
    )


def resolve_href_col(scheme: Column, host: Column, base_path: Column,
                     href: Column) -> Column:
    """Codegen href resolution against (scheme, host, base_path).

    Classes (first match wins):
      absolute            http://x or https://x  -> href
      protocol-relative   //host/path            -> scheme || ':' || href
      root-relative       /path                  -> scheme://host/path
      fragment/empty      '' or '#…'             -> NULL (self-reference)
      other scheme        mailto:/javascript:/…  -> NULL (non-hierarchical:
                          not a fetchable web URL — resolving it as a
                          relative path would mint phantom same-host edges)
      document-relative   a/b                    -> scheme://host/dir(base)/a/b
                          (no dot-segment normalization — UDF tier handles
                          ../; fixture pages never emit them)
    """
    origin = F.concat(scheme, F.lit("://"), host)
    # directory of the base path: everything up to and incl. the last '/'
    base_dir = F.regexp_replace(base_path, "[^/]*$", "")
    return (
        F.when(href.rlike("^https?://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .when((href == "") | href.startswith("#"), F.lit(None))
        .when(href.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"), F.lit(None))
        .otherwise(F.concat(origin, base_dir, href))
    )


@pandas_udf(StringType())
def resolve_href_udf(base_url: pd.Series, href: pd.Series) -> pd.Series:
    """Full RFC 3986 resolution (stdlib urljoin), Arrow-batched — the
    long-tail tier for dot-segments and queries. Empty and fragment-only
    hrefs resolve to NULL like the codegen tier, and so does any result
    that is not an http(s) URL (mailto:/javascript:/tel:/data: links are
    not fetchable web URLs)."""
    out = []
    for b, h in zip(base_url, href):
        if h is None or h == "" or h.startswith("#"):
            out.append(None)
        else:
            r = urljoin(b, h)
            out.append(
                r if r.startswith("http://") or r.startswith("https://")
                else None
            )
    return pd.Series(out, dtype=object)
