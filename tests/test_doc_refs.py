"""Every ``tools/<file>`` path the docs and the package name must exist,
and every ``BENCH_*`` / ``SPARK_GRAFT_*`` environment knob the docs name
must be read by some code in the repository.

History files (CHANGES, ROADMAP, VERDICT, ADVICE) record what was, so
they are not checked; neither is a git-object path ``<sha>:tools/...``,
which names a file as of that commit."""

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ("README.md", "COVERAGE.md", "BENCH.md", "ICEBERG.md", "bench.py")
PACKAGE = "cc_crawl_statistics_spark"
# not part of a longer path (x/tools/...) or a git object (<sha>:tools/...)
TOOLS_REF = re.compile(r"(?<![\w/.:-])tools/[\w./-]*\w")
KNOB_DOCS = ("README.md", "BENCH.md", "COVERAGE.md", "bench.py",
             os.path.join(".claude", "skills", "verify", "SKILL.md"))
KNOB = re.compile(r"\b(?:BENCH|SPARK_GRAFT)_[A-Z0-9_]*[A-Z0-9]\b")
ENV_READ = re.compile(
    r"""(?:environ(?:\.get)?\s*[(\[]|getenv\s*\()\s*["']([A-Z0-9_]+)["']"""
)


def _checked_files():
    yield from DOCS
    for d, _, names in os.walk(os.path.join(REPO, PACKAGE)):
        for n in names:
            if n.endswith((".py", ".md")):
                yield os.path.relpath(os.path.join(d, n), REPO)


def test_tools_references_exist():
    missing = []
    for rel in _checked_files():
        with open(os.path.join(REPO, rel), encoding="utf-8") as f:
            for i, line in enumerate(f, 1):
                for ref in TOOLS_REF.findall(line):
                    if not os.path.exists(os.path.join(REPO, ref)):
                        missing.append(f"{rel}:{i}: {ref}")
    assert not missing, "\n".join(missing)


def test_pattern_skips_git_objects_and_longer_paths():
    line = "see git show 16c37f4:tools/x.py, a/tools/y.py and tools/z.py."
    assert TOOLS_REF.findall(line) == ["tools/z.py"]


def _env_reads() -> set[str]:
    """Names any ``.py`` file in the repository reads from the environment."""
    names = set()
    for d, dirs, files in os.walk(REPO):
        dirs[:] = [x for x in dirs if not x.startswith(".")]
        for n in files:
            if n.endswith(".py"):
                with open(os.path.join(d, n), encoding="utf-8") as f:
                    names |= set(ENV_READ.findall(f.read()))
    return names


def test_documented_env_knobs_are_read():
    read = _env_reads()
    unread = []
    for rel in KNOB_DOCS:
        with open(os.path.join(REPO, rel), encoding="utf-8") as f:
            for i, line in enumerate(f, 1):
                unread += [f"{rel}:{i}: {k}" for k in KNOB.findall(line)
                           if k not in read]
    assert not unread, "\n".join(unread)


def test_knob_patterns():
    line = "BENCH_FACTOR, BENCH_r05.json, BENCHMARK.json and SPARK_GRAFT_*"
    assert KNOB.findall(line) == ["BENCH_FACTOR"]
    code = 'os.environ.get("BENCH_FACTOR", "200"); os.getenv( "SPARK_GRAFT_X")'
    assert ENV_READ.findall(code) == ["BENCH_FACTOR", "SPARK_GRAFT_X"]
    assert ENV_READ.findall('os.environ["SPARK_GRAFT_Y"]') == ["SPARK_GRAFT_Y"]
