"""Bloom prefilter scale ladder past the bloom_min_seen gate: build the
sharded (shard, words) table over a large seen set and probe it with a
bounded candidate set, the way a scheduling round does. Reports:

  * build time (one aggregation + the table write),
  * bytes per shard row (header and largest on-disk file) against the
    64 MiB sizing target (shardedfilter.TARGET_SHARD_BYTES),
  * candidate-probe throughput of shardedfilter.probe (broadcast
    candidates joined to the scanned shard table), with the measured
    false-negative count (must be 0) and false-positive rate.

Prints one JSON line. Run on an idle box:

    python tools/prefilter_ladder.py [n_keys] [n_probe]

Defaults 10^8 / 10^6; half the probes are present keys, half absent.
The build materializes the key table to parquet first so build timings
measure the filter, not xxhash64.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from cc_crawl_statistics_spark.session import get_spark  # noqa: E402


def main() -> None:
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    n_probe = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark(app_name="prefilter-ladder")
    from cc_crawl_statistics_spark.frontier import shardedfilter as SH

    scratch = tempfile.mkdtemp()
    seen_path = os.path.join(scratch, "seen")
    spark.range(n_keys).select(
        F.xxhash64(F.col("id").cast("string")).alias("seen_key")
    ).repartition(64).write.mode("overwrite").parquet(seen_path)
    seen = spark.read.schema("seen_key bigint").parquet(seen_path)
    # ids below n_keys are present, the rest absent
    probes = spark.range(
        n_keys - n_probe // 2, n_keys + n_probe // 2
    ).select(
        F.xxhash64(F.col("id").cast("string")).alias("seen_key"),
        (F.col("id") < n_keys).alias("present"),
    )

    d = os.path.join(scratch, "bloom.d")
    t0 = time.time()
    header = SH.build_sharded_bloom(seen, d, n_keys)
    build_sec = time.time() - t0
    sizes = [
        os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
        if f.endswith(".parquet")
    ]
    t0 = time.time()
    got = (
        SH.probe(probes, F.col("seen_key"), d)
        .groupBy("present")
        .agg(F.count("*").alias("n"), F.sum(F.col("_maybe").cast("long"))
             .alias("maybe"))
        .collect()
    )
    probe_sec = time.time() - t0
    by = {r.present: r for r in got}
    out = {
        "n_keys": n_keys,
        "n_shards": header["n_shards"],
        "build_sec": round(build_sec, 2),
        "shard_row_bytes": header["shard_bytes"],
        "max_file_bytes": max(sizes),
        "n_files": len(sizes),
        "total_filter_mib": round(sum(sizes) / (1 << 20), 1),
        "shard_row_vs_target": round(
            header["shard_bytes"] / SH.TARGET_SHARD_BYTES, 3
        ),
        "n_probe": sum(r.n for r in got),
        "probe_sec": round(probe_sec, 2),
        "probe_keys_per_sec": int(n_probe / probe_sec),
        "false_negatives": by[True].n - by[True].maybe,
        "fpr": round(by[False].maybe / by[False].n, 5),
    }
    print(json.dumps(out))
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
