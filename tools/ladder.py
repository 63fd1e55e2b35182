"""Pinned-level scaling ladder: the same job at several core counts.

    python tools/ladder.py [factor] [levels-csv]     # defaults: 16000 2,8,32

Set-up, once and untimed: ``bench.materialize_scaled_pages`` writes the
pages table scaled ×factor from $SPARK_GRAFT_SF_DIR, then a seed round
plus round 1 bootstrap one snapshot store, both at the highest level.

Each level N then runs in a fresh JVM, under ``taskset -c 0-(N-1)`` when
taskset exists, so level N really has N CPUs (JVM GC and IO threads
included). Every level uses one fixed conf: 64 shuffle partitions, 16m
``maxPartitionBytes``, adaptive coalescing off and 600 s network/RPC
timeouts, so the plan is identical across levels and the only variable
is the core count. The timed phases are:

  scan            noop write of the pages table (the parallel-scan ceiling)
  crawl_size ..   the five crawl-statistics ``counts`` phases
  frontier_round  round 2 on a fresh copy of the bootstrap store, so every
                  rep does identical work
  calibration     a pure-compute, shuffle-free ``spark.range`` loop (the
                  platform's own scaling ceiling: on SMT hosts the vCPUs
                  past the physical cores add little for high-IPC code)

Set-up, the ``counts`` and frontier phases and the timing protocol
(``bench.time_phases``: one warm-up rep, then the min of three, phases
interleaved) are bench.py's. Prints one JSON line: per-level phase seconds,
rows/s over the counts phases, frontier URLs/s, and for each pair of
consecutive levels the speedup and efficiency (speedup ÷ level ratio) of
every phase and rate. A level above the host's CPU count is refused
before set-up starts.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

COUNTS = ("crawl_size", "host_counts", "url_fetch_histogram",
          "url_crawl_set", "mimetype")
# sized with the data so the loop, not job scheduling, sets its time:
# factor 200 takes seconds at one core, factor 16000 seconds at 32
CALIBRATION_ROWS_PER_FACTOR = 500_000
CONF = {
    "spark.ui.showConsoleProgress": "false",
    # split the scan finely enough that every level parallelizes fully
    "spark.sql.files.maxPartitionBytes": "16m",
    # identical plan at every level: fixed partition counts, no coalescing
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    # large-factor rounds can hit multi-minute full-GC pauses
    "spark.network.timeout": "600s",
    "spark.rpc.askTimeout": "600s",
}


def parse_args(argv: list[str]) -> tuple[int, list[int]]:
    factor = int(argv[0]) if argv else 16000
    levels = [int(x) for x in argv[1].split(",")] if len(argv) > 1 else [2, 8, 32]
    if factor < 1 or not levels or min(levels) < 1:
        raise SystemExit("ladder: factor and levels must be positive")
    return factor, levels


def check_levels(levels: list[int], cpus: set[int]) -> None:
    """Refuse a level whose ``taskset -c 0-(N-1)`` pin is not a subset of
    the CPUs this process may run on."""
    over = [n for n in levels if not set(range(n)) <= cpus]
    if over:
        raise SystemExit(
            f"ladder: level(s) {over} exceed the {len(cpus)} CPUs available "
            f"(nproc); run at most {len(cpus)}"
        )


def spans(levels: list[int], results: dict[int, dict]) -> dict:
    """Speedup and efficiency between each pair of consecutive levels.

    A phase is a time, so its speedup is lo_seconds / hi_seconds; a rate
    is a throughput, so its speedup is hi_rate / lo_rate. Efficiency is the
    speedup divided by the level ratio hi / lo."""
    out = {}
    for lo, hi in zip(levels, levels[1:]):
        a, b = results[lo], results[hi]
        speedup = {k: a["phases"][k] / b["phases"][k] for k in a["phases"]}
        speedup.update({k: b["rates"][k] / a["rates"][k] for k in a["rates"]})
        out[f"{lo}->{hi}"] = {
            k: {"speedup": round(v, 3), "efficiency": round(v * lo / hi, 3)}
            for k, v in speedup.items()
        }
    return out


def _session(app_name: str, cores: int, scratch: str):
    from cc_crawl_statistics_spark.session import get_spark

    return get_spark(
        app_name=app_name, cores=cores, shuffle_partitions=64,
        extra_conf={**CONF, "spark.local.dir": os.path.join(scratch, "local")},
    )


def setup(factor: int, cores: int, root: str) -> None:
    """Write ``root/pages`` and the bootstrap store ``root/store``."""
    from bench import SF_DIR, bootstrap_store, materialize_scaled_pages

    spark = _session("ladder-setup", cores, root)
    try:
        pages = materialize_scaled_pages(
            spark, SF_DIR, factor, os.path.join(root, "pages"), cores
        )
        bootstrap_store(spark, os.path.join(root, "store"), pages, cores)
    finally:
        spark.stop()


def worker(cpus: int, factor: int, root: str) -> dict:
    """Time every phase at ``cpus`` cores; returns this level's record."""
    from bench import force, fresh_round, query_phases, time_phases

    spark = _session(f"ladder-{cpus}", cpus, tempfile.mkdtemp(dir=root))
    pages = spark.read.parquet(os.path.join(root, "pages"))
    n_rows = pages.count()
    ids = spark.range(
        factor * CALIBRATION_ROWS_PER_FACTOR, numPartitions=max(cpus * 8, 64)
    )
    store_dir = os.path.join(root, f"store_{cpus}")
    phases = {
        "scan": lambda: lambda: force(pages),
        **query_phases(pages, COUNTS),
        "frontier_round": fresh_round(
            spark, os.path.join(root, "store"), store_dir, cpus
        ),
        # a new DataFrame per rep: collecting the same one again reuses
        # its materialized shuffle stage and times nothing
        "calibration": lambda: ids.selectExpr(
            "sum(((id % 100000) * 26543 % 97) * ((id % 9999991) * 31 % 89)"
            " + shiftright(id, 7)) s"
        ).collect,
    }
    best, last = time_phases(phases)
    spark.stop()
    shutil.rmtree(store_dir, ignore_errors=True)
    n_sched = last["frontier_round"]["n_scheduled"]
    counts_s = sum(best[n] for n in COUNTS)
    return {
        "rows": n_rows,
        "urls_scheduled": n_sched,
        "phases": {k: round(v, 3) for k, v in best.items()},
        "rates": {
            "rows_per_s": round(n_rows * len(COUNTS) / counts_s),
            "urls_per_s": round(n_sched / best["frontier_round"]),
        },
    }


def run_level(cpus: int, factor: int, root: str) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "worker",
           str(cpus), str(factor), root]
    pinned = bool(shutil.which("taskset"))
    if pinned:
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True)
    if out.returncode:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"ladder: level {cpus} failed ({out.returncode})")
    return {**json.loads(out.stdout.strip().splitlines()[-1]), "pinned": pinned}


def main(argv: list[str]) -> None:
    factor, levels = parse_args(argv)
    check_levels(levels, os.sched_getaffinity(0))
    from bench import SCRATCH, SF_DIR

    root = tempfile.mkdtemp(prefix="ladder_", dir=SCRATCH)
    try:
        t0 = time.time()
        setup(factor, max(levels), root)
        setup_s = time.time() - t0
        results = {n: run_level(n, factor, root) for n in levels}
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "factor": factor,
        "sf_dir": SF_DIR,
        "setup_s": round(setup_s, 1),
        "levels": results,
        "spans": spans(levels, results),
    }))


if __name__ == "__main__":
    if sys.argv[1:2] == ["worker"]:
        cpus, factor, root = sys.argv[2:5]
        print(json.dumps(worker(int(cpus), int(factor), root)))
    else:
        main(sys.argv[1:])
