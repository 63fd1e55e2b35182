"""tools/ladder.py and bench.py's shared timing protocol without a Spark
session: span arithmetic, the level check and ``bench.time_phases`` over
fake phases on a fake clock."""

import pytest

import bench
from tools import ladder


def _level(phases, rates):
    return {"phases": phases, "rates": rates}


def test_spans_between_consecutive_levels_only():
    results = {
        2: _level({"scan": 8.0}, {"urls_per_s": 100}),
        8: _level({"scan": 2.5}, {"urls_per_s": 300}),
        32: _level({"scan": 1.0}, {"urls_per_s": 600}),
    }
    out = ladder.spans([2, 8, 32], results)
    assert list(out) == ["2->8", "8->32"]
    # efficiency = speedup / level ratio (4 for both spans)
    assert out["2->8"]["scan"] == {"speedup": 3.2, "efficiency": 0.8}
    assert out["8->32"]["scan"] == {"speedup": 2.5, "efficiency": 0.625}


def test_span_ratio_follows_the_given_levels():
    results = {1: _level({"scan": 6.0}, {}), 2: _level({"scan": 4.0}, {}),
               4: _level({"scan": 2.0}, {})}
    out = ladder.spans([1, 2, 4], results)
    assert out["1->2"]["scan"] == {"speedup": 1.5, "efficiency": 0.75}
    assert out["2->4"]["scan"] == {"speedup": 2.0, "efficiency": 1.0}
    assert ladder.spans([4], {4: results[4]}) == {}


def test_speedup_direction_seconds_vs_throughput():
    """Fewer seconds and more rows/s at the higher level are both a
    speedup above 1."""
    results = {
        2: _level({"frontier_round": 10.0}, {"rows_per_s": 1000}),
        8: _level({"frontier_round": 4.0}, {"rows_per_s": 2500}),
    }
    span = ladder.spans([2, 8], results)["2->8"]
    assert span["frontier_round"]["speedup"] == 2.5
    assert span["rows_per_s"]["speedup"] == 2.5


def test_level_above_nproc_refused_before_any_session(monkeypatch):
    started = []
    monkeypatch.setattr(ladder, "setup", lambda *a: started.append(a))
    monkeypatch.setattr(ladder.os, "sched_getaffinity", lambda pid: {0, 1, 2, 3})
    with pytest.raises(SystemExit) as exc:
        ladder.main(["200", "2,8"])
    assert "[8]" in str(exc.value) and "4 CPUs" in str(exc.value)
    assert started == []


def test_levels_within_nproc_accepted():
    ladder.check_levels([1, 2, 4], {0, 1, 2, 3})
    with pytest.raises(SystemExit):
        ladder.check_levels([2], {1, 2, 3})  # taskset -c 0-1 needs CPU 0


def test_args_defaults_and_validation():
    assert ladder.parse_args([]) == (16000, [2, 8, 32])
    assert ladder.parse_args(["200", "1,2,4"]) == (200, [1, 2, 4])
    with pytest.raises(SystemExit):
        ladder.parse_args(["200", "0,2"])


class _Clock:
    """Stands in for the ``time`` module inside ``bench.time_phases``."""

    def __init__(self):
        self.t = 0.0

    def perf_counter(self):
        return self.t


def _fake_phases(clock, log, secs):
    """Phase ``name`` takes ``secs[name][i]`` seconds on its i-th run; its
    prepare() takes 1000 s, which the timer must not see."""

    def phase(name):
        runs = iter(secs[name])

        def prepare():
            log.append(f"prepare {name}")
            clock.t += 1000.0
            n = next(runs)

            def thunk():
                log.append(f"run {name}")
                clock.t += n
                return n

            return thunk

        return prepare

    return {name: phase(name) for name in secs}


def test_time_phases_excludes_warmup_and_takes_min_of_three(monkeypatch):
    clock, log = _Clock(), []
    monkeypatch.setattr(bench, "time", clock)
    assert (bench.WARMUP, bench.REPS) == (1, 3)
    # the warm-up rep is the fastest run of A and the slowest of B
    best, last = bench.time_phases(
        _fake_phases(clock, log, {"A": [1, 5, 3, 4], "B": [90, 7, 8, 6]})
    )
    assert best == {"A": 3, "B": 6}
    assert last == {"A": 4, "B": 6}


def test_time_phases_interleaves_and_prepares_outside_the_span(monkeypatch):
    clock, log = _Clock(), []
    monkeypatch.setattr(bench, "time", clock)
    best, _ = bench.time_phases(
        _fake_phases(clock, log, {"A": [2] * 4, "B": [3] * 4})
    )
    assert log == [
        "prepare A", "run A", "prepare B", "run B",
    ] * (bench.WARMUP + bench.REPS)
    # each prepare() advanced the clock by 1000 s before its timed span
    assert best == {"A": 2, "B": 3}


def test_ladder_counts_phases_come_from_the_headline_table():
    assert len(ladder.COUNTS) == 5
    assert set(ladder.COUNTS) <= set(bench.HEADLINE)
    assert list(bench.query_phases(None, ladder.COUNTS)) == list(ladder.COUNTS)
