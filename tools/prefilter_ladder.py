"""Bloom prefilter scale ladder past the bloom_min_seen gate: drive a
10^8-key seen set through the sharded build and shard-clustered
membership, and report the measured evidence that the 64 MiB/shard
arithmetic holds:

  * per-shard file bytes vs the sizing target (header + on-disk stat),
  * membership throughput with candidates clustered by shard id,
  * per-WORKER shard-cache residency (entries × bytes actually held by
    each Python worker process after the probe — the number that must
    stay ~cap × shard_bytes instead of the whole filter).

Prints one JSON line. Run on an idle box:

    python tools/prefilter_ladder.py [n_keys] [n_probe]

Defaults 10^8 / 10^7. The build materializes the key table to parquet
first so build timings measure the filter, not xxhash64.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from cc_crawl_statistics_spark.session import get_spark  # noqa: E402


def worker_cache_stats(spark, probes, dir_, n_shards):
    """Run the clustered membership probe, then ask every Python worker
    that served it what its shard cache actually holds."""
    from cc_crawl_statistics_spark.frontier import shardedfilter as SH

    might = SH.might_contain_udf(spark, dir_)
    route = SH.shard_route_udf(n_shards)
    clustered = probes.repartition(
        min(n_shards, 128), route(F.col("seen_key"))
    )
    t0 = time.time()
    n_maybe = clustered.filter(might(F.col("seen_key"))).count()
    probe_sec = time.time() - t0

    def cache_report(batches):
        import pandas as pd

        for _ in batches:
            pass
        from cc_crawl_statistics_spark.frontier import shardedfilter as S

        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "entries": [len(S._SHARD_CACHE)],
                "bytes": [
                    int(sum(a.nbytes for a in S._SHARD_CACHE.values()))
                ],
            }
        )

    rows = (
        clustered.mapInPandas(cache_report, "pid long, entries long, bytes long")
        .groupBy("pid")
        .agg(F.max("entries").alias("entries"), F.max("bytes").alias("bytes"))
        .collect()
    )
    return {
        "probe_sec": round(probe_sec, 2),
        "n_maybe": int(n_maybe),
        "n_workers": len(rows),
        "max_worker_cache_entries": max((r.entries for r in rows), default=0),
        "max_worker_cache_bytes": max((r.bytes for r in rows), default=0),
    }


def main() -> None:
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    n_probe = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
    spark = get_spark(app_name="prefilter-ladder")
    from cc_crawl_statistics_spark.frontier import shardedfilter as SH

    scratch = tempfile.mkdtemp(
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    seen_path = os.path.join(scratch, "seen")
    spark.range(n_keys).select(
        F.xxhash64(F.col("id").cast("string")).alias("seen_key")
    ).repartition(64).write.mode("overwrite").parquet(seen_path)
    seen = spark.read.parquet(seen_path)
    probes = spark.range(
        n_keys - n_probe // 2, n_keys + n_probe // 2
    ).select(F.xxhash64(F.col("id").cast("string")).alias("seen_key"))

    d = os.path.join(scratch, "bloom.d")
    t0 = time.time()
    header = SH.build_sharded_bloom(seen, d)
    build_sec = time.time() - t0
    sizes = [
        os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
        if f.startswith("shard=")
    ]
    out = {
        "kind": "bloom",
        "n_keys": n_keys,
        "n_shards": header["n_shards"],
        "build_sec": round(build_sec, 2),
        "header_shard_bytes": header["shard_bytes"],
        "max_file_bytes": max(sizes),
        "total_filter_mib": round(sum(sizes) / (1 << 20), 1),
        "shard_vs_64mib_target": round(max(sizes) / (64 << 20), 3),
    }
    out.update(worker_cache_stats(spark, probes, d, header["n_shards"]))
    out["probe_keys_per_sec"] = int(n_probe / out["probe_sec"])
    print(json.dumps(out))
    import shutil

    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
