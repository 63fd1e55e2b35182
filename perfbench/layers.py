"""Per-layer metrics of a traced run.

Layer metrics are named ``<module>.<function|module>.<measure>``. Step
layers report every measure of spans.MEASURES as the total over one pass,
the median over the traced passes. Round-phase metrics of the frontier are
per-round medians. A layer the workload does not call reads 0.
"""

from __future__ import annotations

import statistics

from spans import MEASURES, attribute, duration, read_event_log, self_time

_MB = 1 << 20
STEP_LAYERS = (
    "sources.scan",
    "operators.counts",
    "operators.timeseries",
    "operators.sketches",
    "operators.dsir.dsir_weights",
    "operators.dedup.boilerplate_strip",
    "operators.lm.lm_cross_entropy",
    "operators.textstats.vocabulary",
    "frontier.scheduler.run_round",
)
COMMIT_WRITES = (
    "schedule", "blocked", "frontier_delta", "url_seen_delta", "round_stats"
)
OTHER = {
    "pass.wall_s": "s",
    "pass.self_s": "s",
    "trace.overhead_s": "s",
    "session.start_s": "s",
    "synth.generate_s": "s",
    "frontier.seed_s": "s",
    "frontier.scheduler.plan_s": "s",
    **{f"frontier.state.commit.write_{t}_s": "s" for t in COMMIT_WRITES},
    "frontier.state.commit.write_frontier_delta_s.prefilter": "s",
    "frontier.state.commit.write_frontier_delta_s.plain": "s",
    "frontier.state.compact_seen.wall_s": "s",
    "frontier.state.compact_frontier.wall_s": "s",
    "frontier.state.compact_rewrite_mb": "MB",
    "frontier.rows_read_per_scheduled": "ratio",
    "frontier.round_p50_s": "s",
    "frontier.compact_round_s": "s",
    "frontier.disk_mb": "MB",
}


def units() -> dict[str, str]:
    out = {
        f"{layer}.{m}": u for layer in STEP_LAYERS for m, u in MEASURES.items()
    }
    out.update(OTHER)
    return out


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _measures(tracer, spans, direct) -> dict:
    """MEASURES summed over ``spans`` and their descendants; task_skew is
    that of the stage holding the most task time among all of them."""
    out = {k: 0.0 for k in MEASURES}
    out["records_read"] = 0
    stages = []
    for s in spans:
        out["wall_s"] += duration(s)
        out["self_s"] += self_time(tracer, s)
        todo = [s["id"]]
        while todo:
            cur = todo.pop()
            out["jobs"] += direct.get(cur, {}).get("jobs", 0)
            stages += direct.get(cur, {}).get("stages", [])
            todo += [c["id"] for c in tracer.spans if c["parent"] == cur]
    for st in stages:
        for k in ("cpu_s", "gc_s", "python_s", "python_mb",
                  "shuffle_write_mb", "fetch_wait_s", "spill_mb"):
            out[k] += st[k]
        out["records_read"] += st["records_read"]
    busiest = max(stages, key=lambda st: sum(st["run_ms"]), default=None)
    if busiest and busiest["run_ms"]:
        med = statistics.median(busiest["run_ms"])
        out["task_skew"] = max(busiest["run_ms"]) / med if med else 1.0
    return out


def per_layer(tracer, log_dir, traced, untraced_pass_s):
    """(metrics, units) for a run whose passes ``traced`` ran with the
    event log in ``log_dir``. ``untraced_pass_s`` is the median pass_s of
    untraced runs of the same workload; the tracing overhead reads 0 when
    there are none."""
    jobs, stages = read_event_log(log_dir)
    direct = attribute(tracer, jobs, stages)
    for s in tracer.spans:  # for the trace file: each span's own work
        d = direct.get(s["id"], {"jobs": 0, "stages": []})
        s["direct"] = {"jobs": d["jobs"], **{
            k: sum(st[k] for st in d["stages"])
            for k in ("cpu_s", "gc_s", "python_s", "python_start_s",
                      "shuffle_write_mb", "records_read")
        }}
    m = {k: 0.0 for k in units()}

    def in_passes(name, passes):
        return [s for s in tracer.named(name) if s.get("n") in passes]

    per_pass = {
        layer: [
            _measures(tracer, in_passes(layer, {n}), direct) for n in traced
        ]
        for layer in STEP_LAYERS + ("pass",)
    }
    for layer in STEP_LAYERS:
        for k in MEASURES:
            m[f"{layer}.{k}"] = _median(p[k] for p in per_pass[layer])
    m["pass.wall_s"] = _median(p["wall_s"] for p in per_pass["pass"])
    m["pass.self_s"] = _median(p["self_s"] for p in per_pass["pass"])
    if untraced_pass_s is not None:
        m["trace.overhead_s"] = m["pass.wall_s"] - untraced_pass_s
    m["session.start_s"] = duration(tracer.named("session.start")[0])
    m["synth.generate_s"] = duration(tracer.named("synth.generate")[0])
    m["frontier.seed_s"] = _median(map(duration, tracer.named("frontier.seed")))

    rounds = in_passes("frontier.scheduler.run_round", set(traced))
    if rounds:
        m.update(_frontier(tracer, rounds, in_passes, traced, per_pass))
    return m, units()


def _frontier(tracer, rounds, in_passes, traced, per_pass) -> dict:
    m = {}
    passes = in_passes("pass", set(traced))
    steady = [s for s in rounds if not _compacts(tracer, s)]
    m["frontier.round_p50_s"] = _median(map(duration, steady))
    m["frontier.scheduler.plan_s"] = _median(
        self_time(tracer, s) for s in steady
    )
    for t in COMMIT_WRITES:
        m[f"frontier.state.commit.write_{t}_s"] = _median(
            s["commit"][f"write_{t}"] for s in steady
        )
    for label, pf in (("prefilter", True), ("plain", False)):
        m[f"frontier.state.commit.write_frontier_delta_s.{label}"] = _median(
            s["commit"]["write_frontier_delta"]
            for s in rounds if s["prefilter"] is pf
        )
    for name in ("compact_seen", "compact_frontier"):
        m[f"frontier.state.{name}.wall_s"] = _median(
            map(duration, in_passes(f"frontier.state.{name}", set(traced)))
        )
    m["frontier.compact_round_s"] = _median(
        duration(s) + sum(duration(c) for c in _compacts(tracer, s))
        for s in rounds if _compacts(tracer, s)
    )
    m["frontier.state.compact_rewrite_mb"] = _median(
        p.get("compact_rewrite_bytes", 0) / _MB for p in passes
    )
    m["frontier.disk_mb"] = _median(p["disk_bytes"] / _MB for p in passes)
    m["frontier.rows_read_per_scheduled"] = _median(
        r["records_read"] / p["rows"]
        for r, p in zip(per_pass["frontier.scheduler.run_round"], passes)
        if p["rows"]
    )
    return m


def _compacts(tracer, round_span) -> list:
    """The compaction spans that follow ``round_span`` in its pass, if the
    pass compacts right after this round."""
    if not round_span.get("compact"):
        return []
    return [
        s for s in tracer.spans
        if s["name"].startswith("frontier.state.compact_")
        and s.get("n") == round_span["n"]
    ]
