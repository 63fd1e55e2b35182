"""Output checks: DuckDB oracle pairs, and result digests that must repeat.

Every check is one attempted step; a step that raises or whose output is
wrong is one failed step. Nothing here reads Spark's logs, so benign log
noise (for example the "non-existent accumulator" warnings a stopped
query leaves behind) never counts as a failure.
"""

from __future__ import annotations

import json
import os
import traceback

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tools.check_parity import value_hash


class Ledger:
    """Attempted and failed step counts, with the reason for each failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def run(self, label: str, fn):
        """Call ``fn``; a raise or a False result counts as a failure.
        Returns fn's result, or None when it raised."""
        self.attempted += 1
        try:
            out = fn()
        except Exception:
            self.failures.append(f"{label}: {traceback.format_exc(limit=3)}")
            return None
        if out is False:
            self.failures.append(f"{label}: check failed")
        return out

    def expect(self, label: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{label}: {detail}")


def digest(df: DataFrame) -> str:
    """Order-insensitive digest of a result: row count and the exact sum
    of per-row 64-bit hashes, computed by one Spark job that executes the
    whole plan."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"


def oracle_pairs(spark, ledger: Ledger, sf_dir: str, names) -> None:
    """Run each named query of the driver contract on Spark and its DuckDB
    oracle over ``sf_dir``; rows, columns and values must agree."""
    import duckdb

    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(sf_dir, 'documents.parquet')}')"
        )

        def pair(name):
            got = queries[name](spark, sf_dir).toPandas()
            want = con.execute(oracles[name]).fetchdf()
            return (
                sorted(got.columns) == sorted(want.columns)
                and len(got) == len(want)
                and value_hash(got) == value_hash(want)
            )

        for name in names:
            ledger.run(f"oracle {name}", lambda: pair(name))
    finally:
        con.close()


class DigestBook:
    """Digests per step of one workload, seed and input size (``key``).
    Every later pass must reproduce the first pass's digests. They must also
    match the committed reference digests, when ``reference_path`` holds
    this key, and those of earlier runs in this checkout, kept in
    ``local_dir``."""

    def __init__(self, key: str, reference_path: str, local_dir: str) -> None:
        self.path = os.path.join(local_dir, f"{key}.json")
        self.known: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.known["earlier run"] = json.load(f)
        if os.path.exists(reference_path):
            with open(reference_path) as f:
                self.known["reference"] = json.load(f).get(key, {})
        self.current: dict = {}

    def check(self, ledger: Ledger, step: str, value) -> None:
        value = json.loads(json.dumps(value))  # the form the files hold
        if step in self.current:
            first = self.current[step]
            ledger.expect(f"repeat {step}", value == first,
                          f"{value} != {first}")
        else:
            self.current[step] = value
        for label, known in self.known.items():
            if step in known:
                ledger.expect(
                    f"{label} {step}", value == known[step],
                    f"{value} != {known[step]} ({label})",
                )

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({**self.known.get("earlier run", {}), **self.current},
                      f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)
