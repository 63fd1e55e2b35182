"""URL functions: urlparse-compatible host/scheme extraction, SURT
canonicalization, public-suffix split, seen-key hashing.

Two tiers, chosen per call site:
  - JVM built-ins (``parse_url``, ``substring_index``) for the hot
    analytical path — whole-stage codegen, no Python;
  - Arrow-vectorized pandas UDFs wrapping ``urllib.parse`` for the
    byte-compat tier, where outputs must match Python ``urlparse`` edge
    cases exactly (reference behavior at crawlstats.py:493-499). Per
    BASELINE.json input_hint these are pandas/Arrow UDFs — never
    row-at-a-time Python.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# JVM tier (codegen; default for aggregations)
# ---------------------------------------------------------------------------


def host_of(url):
    """Host via built-in parse_url, lowercased, trailing dots stripped —
    mirrors crawlstats.py:497-498."""
    return F.regexp_replace(
        F.lower(F.parse_url(url, F.lit("HOST"))), r"\.+$", ""
    )


def scheme_of(url):
    return F.lower(F.parse_url(url, F.lit("PROTOCOL")))


IP_RE = r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"  # reference-lax (crawlstats.py:487)


# ---------------------------------------------------------------------------
# Arrow tier (urlparse byte-compat + SURT)
# ---------------------------------------------------------------------------


# pandas_udf construction needs an active SparkSession (DDL type parsing),
# so the UDFs are built lazily and memoized


@functools.lru_cache(maxsize=None)
def urlparse_host():
    @pandas_udf("string")
    def _host(urls: pd.Series) -> pd.Series:
        from urllib.parse import urlparse

        def one(u):
            if u is None:
                return None
            try:
                h = urlparse(u).hostname
            except ValueError:
                return None
            return h.rstrip(".") if h else None

        return urls.map(one)

    return _host


@functools.lru_cache(maxsize=None)
def surt_key():
    """SURT (Sort-friendly URI Reordering Transform) canonical key:
    'tld,domain,...,sub)path?query' — host labels reversed, scheme and
    leading www. dropped, default ports removed, case folded. Format per
    the public SURT convention the reference's CDX input uses
    (crawlstats.py:303-306, 776-777)."""

    @pandas_udf("string")
    def _surt(urls: pd.Series) -> pd.Series:
        from urllib.parse import urlparse

        def one(u):
            if u is None:
                return None
            try:
                p = urlparse(u)
            except ValueError:
                return None
            host = (p.hostname or "").rstrip(".").lower()
            if host.startswith("www."):
                host = host[4:]
            rev = ",".join(reversed(host.split(".")))
            path = p.path or "/"
            q = f"?{p.query}" if p.query else ""
            return f"{rev}){path}{q}"

        return urls.map(one)

    return _surt


# the URL-seen key (xxhash64 over the canonical form) lives with its
# consumer: frontier/scheduler.py::seen_key

# public-suffix split lives in functions/psl.py (full vendored PSL rules,
# arbitrary-depth longest match incl. wildcard/exception rules, applied as
# broadcast joins via psl.split_host)


# a path segment that is anything but '..' itself — RE2-safe (no
# lookaround): starts with a non-dot, or one dot + non-dot, or '..' with
# at least one more char. Shared verbatim with the DuckDB oracle.
NOT_DOTDOT_SEG = r"(?:[^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)"


def normalize_url(url, max_dot_segments: int = 8):
    """RFC 3986 §6 syntax-based URL normalization as a pure codegen
    expression chain — the alias-collapse a frontier applies BEFORE the
    seen-set so `http://Host.example:80//a/./b/../c.html` and
    `http://host.example/a/c.html` claim one slot, not two. Steps (each
    a replace/regexp over the string, identical in DuckDB for the
    oracle):

      1. lowercase the scheme and host (path stays case-sensitive)
      2. drop the default port (:80 for http, :443 for https)
      3. drop the fragment
      4. collapse duplicate slashes in the path
      5. remove `/./` segments
      6. resolve `/seg/../` pairs — BOUNDED unroll (``max_dot_segments``
         passes): dot-segment removal is inherently iterative, and a
         fixed unroll keeps the whole thing one codegen projection; 8
         levels covers any real URL (deeper ones are trap-shaped and
         die in the URL filter chain first), and a leftover `../` after
         the unroll is left as-is rather than silently mis-resolved.

    Percent-encoding normalization (uppercase hex, decode unreserved)
    is deliberately out of scope here: it needs per-match callbacks that
    leave codegen; the fixture generator never emits percent escapes.
    Compose ``normalize_percent_encoding()`` (the Arrow tier, below)
    after this chain for the full RFC 3986 §6 normalization."""
    u = F.col(url) if isinstance(url, str) else url
    # 1. fragment first (so a trailing '#…' can't shield ':80' below)
    u = F.regexp_replace(u, r"#.*$", "")
    # 2. scheme://host[:port] lowercased — the authority ends at '/',
    #    '?' or '#' (RFC 3986 §3.2), NEVER at end-of-query, so query
    #    bytes stay case-sensitive
    head = F.regexp_extract(u, r"^([^:]+://[^/?#]*)", 1)
    tail = F.substring(u, F.length(head) + F.lit(1), F.lit(1 << 20))
    u = F.concat(F.lower(head), tail)
    # 3. default ports (before a path, a query, or end-of-string)
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80([/?#]|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443([/?#]|$)", r"$1$2")
    # steps 4-6 operate on the PATH only — dot-segment and slash rules
    # must never reach across the authority NOR into the query (both
    # are opaque to §5.2.4 path merging). Patterns are RE2-safe (no
    # lookaround) so the DuckDB oracle runs the IDENTICAL chain.
    origin = F.regexp_extract(u, r"^([^:]+://[^/?#]*)", 1)
    rest = F.substring(u, F.length(origin) + F.lit(1), F.lit(1 << 20))
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.substring(rest, F.length(path) + F.lit(1), F.lit(1 << 20))
    # 4. duplicate slashes
    path = F.regexp_replace(path, r"//+", "/")
    # 5. /./ segments — '/./'→'/' global passes; two passes resolve the
    #    adjacent-overlap chain ('/././' leaves one behind per pass)
    for _ in range(2):
        path = F.regexp_replace(path, r"/\./", "/")
    path = F.regexp_replace(path, r"/\.$", "/")
    # 6. bounded /seg/../ resolution — the segment alternation matches
    #    any segment EXCEPT '..' itself without negative lookahead;
    #    leading /../ clamps to / (RFC: '..' above root is removed)
    seg = NOT_DOTDOT_SEG
    for _ in range(max_dot_segments):
        path = F.regexp_replace(path, rf"/{seg}/\.\./", "/")
        path = F.regexp_replace(path, r"^/\.\./", "/")
    path = F.regexp_replace(path, rf"/{seg}/\.\.$", "/")
    path = F.regexp_replace(path, r"^/\.\.$", "/")
    return F.concat(origin, path, query)


@functools.lru_cache(maxsize=None)
def normalize_percent_encoding():
    """Arrow-batched percent-encoding normalization (RFC 3986 §6.2.2.1-2)
    — the tier normalize_url's codegen chain documents as out of scope:
    uppercase the hex digits of retained escapes and DECODE escapes of
    unreserved characters (ALPHA / DIGIT / '-' / '.' / '_' / '~'), which
    are equivalent to their literals and a classic source of URL aliases
    (%7Euser vs ~user). Reserved/other escapes are kept (decoding them
    would CHANGE the URL). Compose after normalize_url:
    ``normalize_percent_encoding()(normalize_url(u))`` is the full
    syntax-based normalization. Invalid escapes (truncated / non-hex)
    pass through untouched — a crawler must not corrupt what it cannot
    interpret."""
    import re

    _esc = re.compile(r"%([0-9A-Fa-f]{2})")
    _unreserved = (
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
        "0123456789-._~"
    )

    @pandas_udf("string")
    def _norm(urls: pd.Series) -> pd.Series:
        def one(u):
            if u is None:
                return None

            def sub(m):
                ch = chr(int(m.group(1), 16))
                return ch if ch in _unreserved else "%" + m.group(1).upper()

            return _esc.sub(sub, u)

        return urls.map(one)

    return _norm
