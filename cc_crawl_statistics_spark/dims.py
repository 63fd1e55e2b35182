"""Dimension tables: crawl name ↔ id ↔ date, TLD classification, continent.

The reference embeds these as Python dicts (MonthlyCrawl at
/root/reference/crawlstats.py:35-202; top_level_domain.py; tld_by_continent
.py). Engine-side they are broadcast dimension DataFrames built at plan
time — every lookup is a broadcast hash join, never a UDF. The full
vendored fact tables (1769 IANA TLD classifications, 464 continent
mappings, 126-crawl registry) live in dims_data.py.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from .dims_data import (
    monthly_crawl_registry,
    tld_continent_rows,
    tld_first_level_rows,
    tld_type_rows,
)

# the three pre-weekly-naming crawls have fixed dates (crawlstats.py:182-190)
_HISTORICAL_DATES = {
    "CC-MAIN-2008-2009": dt.date(2009, 1, 12),
    "CC-MAIN-2009-2010": dt.date(2010, 9, 25),
    "CC-MAIN-2012": dt.date(2012, 11, 2),
}


def crawl_date(crawl_name: str) -> dt.date:
    """'CC-MAIN-YYYY-WW' → Monday of ISO week WW; the three historical
    crawls get their fixed archive dates (crawlstats.py date_of,
    :182-190)."""
    if crawl_name in _HISTORICAL_DATES:
        return _HISTORICAL_DATES[crawl_name]
    _, _, year, week = crawl_name.split("-")
    return dt.date.fromisocalendar(int(year), int(week), 1)


def monthly_crawl_dim(spark: SparkSession) -> DataFrame:
    """The reference's MonthlyCrawl registry (crawlstats.py:35-167) as a
    broadcast dim: (crawl, crawl_id, date). Ids are REGISTRATION order —
    0-87 chronological from CC-MAIN-2014-52, 88-99 the historical crawls,
    100+ resuming — because the bitmask semantics (is_new/is_newest,
    crawlstats.py:249-270) key on bit positions, not dates."""
    rows = [
        (name, cid, crawl_date(name))
        for name, cid in sorted(monthly_crawl_registry().items())
    ]
    return spark.createDataFrame(rows, "crawl string, crawl_id int, date date")


def tld_continent_dim(spark: SparkSession) -> DataFrame:
    """The reference's tld_continent lookup (plot/tld_by_continent.py:
    104-133) as its own broadcast dim: (tld, continent) — includes
    mappings for TLDs outside the IANA registry snapshot (removed ccTLDs
    etc.), exactly as the reference dict does."""
    return spark.createDataFrame(
        tld_continent_rows(), "tld string, continent string"
    )


def tld_dim(spark: SparkSession) -> DataFrame:
    """Full IANA TLD classification joined with the continent map and the
    IDN first-level rollup: (tld, tld_type, continent, first_level).
    Registered-but-unmapped TLDs get '(other)' continent — the reference's
    tld2continent fallback (plot/tld_by_continent.py:127-133).
    ``first_level`` rolls an IDN ccTLD (either form: 'xn--p1ai' or 'рф')
    up to its country code ('ru'), mirroring TopLevelDomain.first_level
    (top_level_domain.py:24-42); for every other TLD it is the TLD
    itself."""
    continents = dict(tld_continent_rows())
    first_levels = dict(tld_first_level_rows())
    rows = [
        (tld, typ, continents.get(tld, "(other)"), first_levels.get(tld, tld))
        for tld, typ in tld_type_rows()
    ]
    return spark.createDataFrame(
        rows, "tld string, tld_type string, continent string, "
        "first_level string"
    )
