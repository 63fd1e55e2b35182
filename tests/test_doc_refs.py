"""Every ``tools/<file>`` path the docs and the package name must exist.

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
