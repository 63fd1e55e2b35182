"""Closed-loop benchmark of the crawl-analytics engine.

    python3 perfbench/run.py --workload crawl_stats --seed 1 --seconds 5 --trace 0

One process, one Spark session on local[4], one client: each step starts
when the previous one returns. A run sets up its inputs, runs its
workload's untimed warm-up passes, times passes until ``--seconds`` have
passed (at least one), then checks the DuckDB oracle pair its seed picks.

With ``--trace 0`` the last line of standard output is a JSON object with
the end-to-end metrics. With ``--trace 1`` the run has Spark's event log
on and reports the per-layer metrics instead, the tracing overhead among
them. Spans go to .perfbench_work/traces/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CORES = 4
MIN_PASSES = 1  # timed passes per run, however long they take
ORACLE_DOCS = 500  # documents in the oracle inputs, as in sf0.001

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs, for the smoke test")
    return p.parse_args(argv)


def configure_process(work: str) -> None:
    """Keep the files the run writes inside ``work``, and make the Python
    workers Spark starts find the program and stay single-threaded (the
    four task threads already fill the four cores)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    # every JVM the launch starts: no hsperfdata files, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )


def start_session(work: str, event_log: str | None = None):
    from cc_crawl_statistics_spark.session import get_spark

    from spans import event_log_conf

    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update(event_log_conf(event_log))
    return get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Python driver plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (vm_hwm_kb(os.getpid()) + vm_hwm_kb(int(jvm_pid))) / 1024


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM to exit: the gateway JVM ends when
    its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def run_passes(run, one_pass, warmups: int, seconds: float) -> list[int]:
    """``warmups`` untimed passes, which pay for the class loading, code
    generation and JIT compilation of a fresh process, then timed passes
    until ``seconds`` have passed and at least MIN_PASSES ran. Every pass
    checks its results; the pass numbers of the timed ones are returned.
    The Python workers a warm-up pass starts outlive the gap to the timed
    pass (Spark keeps idle ones for a minute)."""
    for n in range(warmups):
        one_pass(run, n)
    timed, start = [], time.time()
    while len(timed) < MIN_PASSES or time.time() - start < seconds:
        n = warmups + len(timed)
        one_pass(run, n)
        timed.append(n)
    return timed


def untraced_pass_s(workload: str, size_name: str) -> float | None:
    """Median pass_s of the untraced runs of this workload and size kept
    in .perfbench_work/traces/, any seed: the work of a pass does not
    depend on the seed. None when there are none yet."""
    values = []
    pattern = os.path.join(
        WORK_ROOT, "traces", f"{workload}-{size_name}-*-trace0.json"
    )
    for path in glob.glob(pattern):
        with open(path) as f:
            values.append(json.load(f)["metrics"]["pass_s"])
    return statistics.median(values) if values else None


def end_to_end(tracer, passes, rss_mb: float) -> dict:
    from spans import duration

    spans = [s for s in tracer.named("pass") if s["n"] in passes]
    pass_s = statistics.median(map(duration, spans))
    return {
        "setup_s": sum(
            duration(s) for s in tracer.spans
            if s["name"] in ("session.start", "synth.generate", "frontier.seed")
        ),
        "pass_s": pass_s,
        "rows_per_s": statistics.median(s["rows"] for s in spans) / pass_s,
        "peak_rss_mb": rss_mb,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(1, ROOT)
    # imports the program: outside a checkout of it the run fails here,
    # before it writes anything
    import workloads as W
    from checks import DigestBook, Ledger, oracle_pairs
    from inputs import write_documents
    from spans import Tracer

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    size_name = "tiny" if args.tiny else "full"
    size = W.SIZES[size_name][args.workload]
    tag = f"{args.workload}-{size_name}-{args.seed}"
    work = os.path.join(WORK_ROOT, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_process(work)
    tracer, ledger = Tracer(), Ledger()
    # digests of other runs count only for the same inputs
    inputs_id = hashlib.sha1(json.dumps(size, sort_keys=True).encode())
    book = DigestBook(
        f"{tag}-{inputs_id.hexdigest()[:12]}",
        os.path.join(HERE, "reference_digests.json"),
        os.path.join(WORK_ROOT, "digests"),
    )
    run = W.Run(None, tracer, ledger, book, work, args.seed, size)
    seed_once, one_pass, warmups = W.WORKLOADS[args.workload]
    try:
        with tracer.span("session.start"):
            run.spark = start_session(
                work, os.path.join(work, "eventlog") if args.trace else None
            )
        with tracer.span("synth.generate"):
            W.generate(run)
        if seed_once:
            seed_once(run)
        passes = run_passes(run, one_pass, warmups, args.seconds)
        rss_mb = peak_rss_mb(run.spark)
        # after timing: the passes have compiled most of what the pair
        # runs, so it costs less here than before them
        pairs = W.ORACLES[args.workload]
        pair = pairs[args.seed % len(pairs)]
        if pair is not None:
            oracle_dir = os.path.join(work, "oracle")
            write_documents(args.seed, ORACLE_DOCS, oracle_dir)
            with tracer.span("oracle"):
                oracle_pairs(run.spark, ledger, oracle_dir, [pair])
    finally:
        if run.spark is not None:
            stop_jvm(run.spark)

    if args.trace:
        import layers

        metrics, units = layers.per_layer(
            tracer, os.path.join(work, "eventlog"), passes,
            untraced_pass_s(args.workload, size_name),
        )
    else:
        metrics, units = end_to_end(tracer, passes, rss_mb), END_TO_END
    tracer.write(
        os.path.join(WORK_ROOT, "traces", f"{tag}-trace{args.trace}.json"),
        {"workload": args.workload, "seed": args.seed, "size": size,
         "passes": passes, "metrics": metrics, "failures": ledger.failures},
    )
    book.save()
    shutil.rmtree(work, ignore_errors=True)
    for f in ledger.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(
        f"perfbench workload={args.workload} seed={args.seed} "
        f"size={size_name} passes={len(passes)}"
    )
    print(json.dumps({
        "correct": not ledger.failures,
        "attempted": ledger.attempted,
        "failed": len(ledger.failures),
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
