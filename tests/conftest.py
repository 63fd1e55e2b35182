from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pytest

# this checkout's package, whichever copy of the repository runs the suite
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cc_crawl_statistics_spark.session import get_spark  # noqa: E402
from cc_crawl_statistics_spark.sources.tables import TABLES  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"

# physical-plan nodes that start Python workers (Arrow or pickled batches)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")


@pytest.fixture(scope="session")
def spark():
    # 8 local threads: the fixtures are tiny, so beyond ~8 the per-test
    # fixed costs dominate; shuffle_partitions stays pinned at 8 so plans
    # (and any partitioning-sensitive goldens) are unchanged
    cores = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    s = get_spark(app_name="tests", cores=cores, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


def value_hash(df) -> str:
    """Order-insensitive value hash matching tools/check_parity.py."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(repr)
    rows = sorted("|".join(r) for r in df.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()
