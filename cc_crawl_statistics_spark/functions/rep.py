"""Page-level Robots Exclusion Protocol directives + canonical links —
the in-HTML half of REP that frontier/robots.py's robots.txt parser does
not cover (Google's REP spec §meta: <meta name="robots">, rel="nofollow",
and the rel="canonical" hint of RFC 6596).

A real crawler must honor these at fetch time: ``noindex`` excludes the
page from derived text/index products (WET, cc-index), ``nofollow``
(page-level or per-anchor) removes its outlinks from frontier discovery,
and ``rel=canonical`` redirects dedup credit to the canonical capture
(the reference's upstream crawler, Nutch, implements all three; the
reference repo itself only sees their downstream effect in CDX counts).

Parsing is regexp over the decoded html, same tier as functions/links.py:
at 100 TB these run inside WholeStageCodegen in the single stage that
touches the html blob (the directive-token split and the per-anchor field
re-extraction are higher-order ``transform``s, which run interpreted
there — ``CodegenFallback``), and everything downstream
carries only slim booleans/strings. The recognized shape is the fixture
generator's canonical serialization (attribute order as emitted by
``synth_rep_html_bytes``); a production deployment widens the regexps to
attribute-order/quote variants without changing the plan shape.

Directive semantics (meta content is a comma-separated token list,
case-insensitive, whitespace-tolerant):
  noindex  := token 'noindex' or 'none' present
  nofollow := token 'nofollow' or 'none' present
('none' == 'noindex, nofollow' per the REP meta spec; 'all'/'index'/
'follow' are no-ops.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from .extract import synth_html_bytes

_META_ROBOTS_PATTERN = r'<meta name="robots" content="([^"]*)"/?>'
_CANONICAL_PATTERN = r'<link rel="canonical" href="([^"]*)"/?>'
_ANCHOR_TAG_PATTERN = r'<a href="[^"]*"[^>]*>'


def parse_meta_robots_col(html: Column) -> Column:
    """Raw content of the page's ``<meta name="robots">`` tag, NULL when
    the tag is absent (no directive == index,follow per spec)."""
    return F.nullif(
        F.regexp_extract(
            F.decode(html, "UTF-8"), _META_ROBOTS_PATTERN, 1
        ),
        F.lit(""),
    )


def _has_token(content: Column, token: str) -> Column:
    toks = F.transform(
        F.split(F.lower(F.coalesce(content, F.lit(""))), ","),
        lambda t: F.trim(t),
    )
    return F.array_contains(toks, token) | F.array_contains(toks, "none")


def robots_noindex_col(content: Column) -> Column:
    """True when the directive list excludes the page from indexing."""
    return _has_token(content, "noindex")


def robots_nofollow_col(content: Column) -> Column:
    """True when the directive list suppresses outlink discovery."""
    return _has_token(content, "nofollow")


def parse_rel_canonical_col(html: Column) -> Column:
    """Href of the page's ``<link rel="canonical">``, NULL when absent.
    Callers resolve it like any href (functions/links.resolve_href_col)
    and treat it as a dedup hint, never an access directive (RFC 6596)."""
    return F.nullif(
        F.regexp_extract(F.decode(html, "UTF-8"), _CANONICAL_PATTERN, 1),
        F.lit(""),
    )


def parse_outlinks_rel_col(html: Column) -> Column:
    """array<struct<href string, nofollow boolean>> — anchors with their
    per-link rel="nofollow" microformat flag. One regexp_extract_all pulls
    whole ``<a …>`` open tags (engine limit: one capture group per call);
    a higher-order transform re-extracts the two fields per element. No
    Python, no explode here — callers explode after the blob is pruned."""
    tags = F.regexp_extract_all(
        F.decode(html, "UTF-8"), F.lit(_ANCHOR_TAG_PATTERN), F.lit(0)
    )
    return F.transform(
        tags,
        lambda t: F.struct(
            F.regexp_extract(t, r'href="([^"]*)"', 1).alias("href"),
            t.rlike(r'rel="nofollow"').alias("nofollow"),
        ),
    )


def synth_rep_html_bytes(
    text: str,
    hrefs: list[str],
    nofollow: list[bool],
    robots_content: str | None,
    canonical_href: str | None,
) -> bytes:
    """Deterministic fixture page carrying REP directives: synth_html base
    + head-level meta robots / link canonical + per-anchor rel=nofollow.
    All inserted markup is tags-only (head is dropped whole, anchors carry
    no text), so the byte-identity invariant ``extract_text(html) == text``
    keeps holding (pinned in tests/test_rep.py)."""
    base = synth_html_bytes(text)
    head = b""
    if robots_content is not None:
        head += (
            b'<meta name="robots" content="'
            + robots_content.encode("utf-8")
            + b'"/>'
        )
    if canonical_href is not None:
        head += (
            b'<link rel="canonical" href="'
            + canonical_href.encode("utf-8")
            + b'"/>'
        )
    if head:
        base = base.replace(b"</head>", head + b"</head>")
    anchors = b"".join(
        b'<a href="'
        + h.encode("utf-8")
        + (b'" rel="nofollow">' if nf else b'">')
        + b"</a>"
        for h, nf in zip(hrefs, nofollow)
    )
    return base.replace(b"</body>", anchors + b"</body>")


@pandas_udf(BinaryType())
def synth_rep_html(
    text: pd.Series,
    hrefs: pd.Series,
    nofollow: pd.Series,
    robots_content: pd.Series,
    canonical_href: pd.Series,
) -> pd.Series:
    """Arrow-batched fixture generator for REP-annotated pages."""
    return pd.Series(
        [
            synth_rep_html_bytes(
                t,
                list(h),
                [bool(x) for x in nf],
                None if rc is None else str(rc),
                None if ch is None else str(ch),
            )
            for t, h, nf, rc, ch in zip(
                text, hrefs, nofollow, robots_content, canonical_href
            )
        ],
        dtype=object,
    )
