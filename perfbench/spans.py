"""Spans kept in memory, and Spark stage metrics attributed to them.

A span is one call the benchmark makes into a layer: a pass, a step, a
scheduling round, a commit, a compaction. Spans are plain dicts held in a
list and written out once, when the run ends.

Stage metrics come from Spark's own event log, written uncompressed and
unrolled so it can be read line by line after the session stops. Each job
is attributed to the innermost span whose interval contains the job's
submission time. Job groups are not used, because they do not reach the
writer threads ``SnapshotStore.commit`` submits its table writes from.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# per-layer measures, in the order they are reported, with their units
MEASURES = {
    "wall_s": "s",
    "self_s": "s",
    "cpu_s": "s",
    "gc_s": "s",
    "python_s": "s",
    "python_mb": "MB",
    "shuffle_write_mb": "MB",
    "fetch_wait_s": "s",
    "spill_mb": "MB",
    "jobs": "count",
    "task_skew": "ratio",
}
_MB = 1 << 20
# SQL metrics of the Python-worker operators (mapInPandas, Arrow UDFs),
# as task accumulator updates; the times are in milliseconds
_PY_TIME = "time to run Python workers"
_PY_START = "time to start Python workers"
_PY_SENT = "data sent to Python workers"


class Tracer:
    """Records spans on the calling thread's stack. Always on: a span costs
    two clock reads, so untraced runs keep them for their own timings."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "t0": time.time(),
            "t1": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            s["t1"] = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, header: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**header, "spans": self.spans}, f, indent=1)


def duration(s: dict) -> float:
    return s["t1"] - s["t0"]


def self_time(tracer: Tracer, s: dict) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = sorted(
        (c["t0"], c["t1"]) for c in tracer.spans if c["parent"] == s["id"]
    )
    covered, end = 0.0, s["t0"]
    for t0, t1 in kids:
        t0 = max(t0, end)
        if t1 > t0:
            covered += t1 - t0
            end = t1
    return duration(s) - covered


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _new_stage() -> dict:
    return {
        "cpu_s": 0.0, "gc_s": 0.0, "python_s": 0.0, "python_mb": 0.0,
        "shuffle_write_mb": 0.0, "fetch_wait_s": 0.0, "spill_mb": 0.0,
        "python_start_s": 0.0, "records_read": 0, "run_ms": [],
    }


def read_event_log(log_dir: str) -> tuple[list[tuple[float, list[int]]], dict]:
    """(jobs, stages) from the single event log file in ``log_dir``: each
    job as (submission time in seconds, stage ids), each stage's summed
    task metrics plus its task run times."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    jobs: list[tuple[float, list[int]]] = []
    stages: dict[int, dict] = defaultdict(_new_stage)
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line[:40]:
                e = json.loads(line)
                jobs.append((e["Submission Time"] / 1000.0, e["Stage IDs"]))
            elif '"SparkListenerTaskEnd"' in line[:40]:
                e = json.loads(line)
                m = e.get("Task Metrics")
                if not m:
                    continue
                st = stages[e["Stage ID"]]
                st["cpu_s"] += m["Executor CPU Time"] / 1e9
                st["gc_s"] += m["JVM GC Time"] / 1e3
                st["shuffle_write_mb"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
                )
                st["fetch_wait_s"] += (
                    m["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
                )
                st["spill_mb"] += m["Disk Bytes Spilled"] / _MB
                st["records_read"] += m["Input Metrics"]["Records Read"]
                st["run_ms"].append(m["Executor Run Time"])
                for acc in e["Task Info"].get("Accumulables", ()):
                    if acc.get("Name") == _PY_TIME:
                        st["python_s"] += int(acc["Update"]) / 1e3
                    elif acc.get("Name") == _PY_START:
                        st["python_start_s"] += int(acc["Update"]) / 1e3
                    elif acc.get("Name") == _PY_SENT:
                        st["python_mb"] += int(acc["Update"]) / _MB
    return jobs, dict(stages)


def attribute(tracer: Tracer, jobs, stages) -> dict[int, dict]:
    """Per span: the jobs and stage metrics that belong to it directly
    (not through a child span). A stage listed by several jobs belongs to
    the first, the one that ran it."""
    owner: dict[int, int] = {}
    direct: dict[int, dict] = defaultdict(lambda: {"jobs": 0, "stages": []})
    for t, stage_ids in jobs:
        best = None
        for s in tracer.spans:
            if s["t0"] <= t <= s["t1"] and (
                best is None or s["t0"] >= best["t0"]
            ):
                best = s
        if best is None:
            continue
        direct[best["id"]]["jobs"] += 1
        for sid in stage_ids:
            if sid not in owner and sid in stages:
                owner[sid] = best["id"]
                direct[best["id"]]["stages"].append(stages[sid])
    return direct
