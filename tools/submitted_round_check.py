"""Round-close spark-submit check (VERDICT r3 #6): package the engine,
run scheduling rounds through ``spark-submit --py-files`` in a FRESH
JVM/Python process, run the same rounds in-process, and assert the two
stores are bit-identical — proving the deployment path (the north rule's
"submitted via spark-submit --py-files on a multi-executor cluster")
executes the exact same engine, not a lucky import path.

    python tools/submitted_round_check.py [--rounds 2] [--sf DIR]

Prints one JSON line: {"submitted_sec": ..., "inprocess_sec": ...,
"rounds": N, "bit_identical": true} and exits nonzero on any mismatch.
The last result is kept in BENCH.md ("Current state").
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _schedule_rows(spark, store, rnd):
    df = store.read(spark, rnd, "schedule")
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--partitions", type=int, default=4)
    args = ap.parse_args()

    from tools.package import build

    zip_path = build()
    scratch = tempfile.mkdtemp(
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
        prefix="submitcheck_",
    )
    store_sub = os.path.join(scratch, "submitted")
    store_inp = os.path.join(scratch, "inprocess")
    try:
        spark_submit = shutil.which("spark-submit") or "spark-submit"
        t0 = time.time()
        proc = subprocess.run(
            [
                spark_submit,
                "--master", args.master,
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.sql.session.timeZone=UTC",
                "--py-files", zip_path,
                os.path.join(REPO, "tools", "submit_round.py"),
                "--sf", args.sf,
                "--store", store_sub,
                "--rounds", str(args.rounds),
                "--partitions", str(args.partitions),
            ],
            capture_output=True,
            text=True,
            timeout=600,
        )
        submitted_sec = round(time.time() - t0, 2)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
            raise SystemExit("spark-submit round failed")

        # in-process twin on the same fixture
        from cc_crawl_statistics_spark.frontier import scheduler
        from cc_crawl_statistics_spark.frontier.state import SnapshotStore
        from cc_crawl_statistics_spark.session import get_spark

        # local[N] → N in-process cores; any other master shape (bare
        # 'local', a cluster URL) just uses the default-core session for
        # the in-process twin — the comparison is value-, not time-based
        cores = None
        if "[" in args.master:
            n = args.master.split("[", 1)[1].rstrip("]")
            if n.isdigit():
                cores = int(n)
        spark = get_spark(
            app_name="submitcheck",
            cores=cores,
            shuffle_partitions=8,
        )
        t1 = time.time()
        inp = SnapshotStore(store_inp)
        for _ in range(args.rounds):
            scheduler.run_round(
                spark, inp, args.sf, n_partitions=args.partitions
            )
        inprocess_sec = round(time.time() - t1, 2)

        sub = SnapshotStore(store_sub)
        assert sub.latest_round() == inp.latest_round() == args.rounds, (
            sub.latest_round(), inp.latest_round())
        identical = True
        for rnd in range(1, args.rounds + 1):
            a = _schedule_rows(spark, sub, rnd)
            b = _schedule_rows(spark, inp, rnd)
            if a != b:
                identical = False
                sys.stderr.write(f"round {rnd}: schedule mismatch\n")
        sa = sorted(
            r.seen_key
            for r in sub.read_seen(spark, args.rounds).collect()
        )
        sb = sorted(
            r.seen_key
            for r in inp.read_seen(spark, args.rounds).collect()
        )
        if sa != sb:
            identical = False
            sys.stderr.write("seen-set mismatch\n")
        print(
            json.dumps(
                {
                    "submitted_sec": submitted_sec,
                    "inprocess_sec": inprocess_sec,
                    "rounds": args.rounds,
                    "master": args.master,
                    "bit_identical": identical,
                }
            )
        )
        if not identical:
            raise SystemExit(1)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
