"""One-command site build (sources/site.py, tools/build_site.py): the
whole bundle — all 14 figure data CSVs, the three percentage tables
(CSV + tablesorter HTML), and the manifest — pinned as ONE golden
contract at sf0.001, so any drift in any figure's data, file set, or
row count fails here.

Regenerate after an intentional figure change:
    python tools/build_site.py /root/testdata/sf0.001 /tmp/site \
      && cp /tmp/site/_site_manifest.json tests/golden/site_manifest_sf0.001.json
"""

import json
import os

import pytest

from cc_crawl_statistics_spark.sources.site import build_site
from tests.conftest import spark  # noqa: F401  (fixture)

SF = "/root/testdata/sf0.001"
GOLDEN = os.path.join(os.path.dirname(__file__), "golden",
                      "site_manifest_sf0.001.json")


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):  # noqa: F811
    out = str(tmp_path_factory.mktemp("site"))
    return out, build_site(spark, SF, out)


def test_bundle_matches_golden_manifest(built):
    """File set, per-file row counts, AND content hashes are
    byte-for-byte reproducible (canonical row order makes the hashes
    partition-layout-independent)."""
    _, manifest = built
    with open(GOLDEN) as f:
        golden = json.load(f)
    assert manifest["files"].keys() == golden["files"].keys()
    for rel, meta in golden["files"].items():
        assert manifest["files"][rel] == meta, rel


def test_manifest_written_and_files_exist(built):
    out, manifest = built
    with open(os.path.join(out, "_site_manifest.json")) as f:
        on_disk = json.load(f)
    assert on_disk == manifest
    for rel in manifest["files"]:
        assert os.path.exists(os.path.join(out, rel)), rel
    # no matplotlib in this environment: data bundle only, renders
    # engage automatically when the lib exists (figures.render_figure)
    assert manifest["rendered"] == []
    assert manifest["n_figures"] == 14


def test_percentage_html_is_tablesorter(built):
    """The HTML tables carry the reference's tablesorter CSS classes and
    4-decimal percent cells (table.py:154-160)."""
    out, manifest = built
    html = open(os.path.join(out, "plots", "mimetypes.html")).read()
    assert 'class="dataframe tablesorter tablepercentage"' in html
    import re

    cells = re.findall(r"<td>([\d.,]+)</td>", html)
    assert cells and all("." in c and len(c.split(".")[1]) == 4
                         for c in cells)


def test_percentage_csv_in_percent(built):
    """The percentage CSVs hold percent of the crawl's pages at %.4f, as
    the reference's save_data_percentage writes them: each crawl column
    sums to 100 less at most the flooring (1e-4 per row)."""
    import pandas as pd

    out, _ = built
    for name in ("mimetypes", "charsets", "languages"):
        path = os.path.join(out, "data", f"{name}-percentage.csv")
        df = pd.read_csv(path).set_index(name)
        for crawl, col in df.items():
            total = col.fillna(0).sum()
            assert 100 - 1e-4 * len(col) - 1e-9 <= total <= 100 + 1e-9, (
                name, crawl, total)
        with open(path) as f:
            first = f.read().splitlines()[1]
        assert all(len(v.split(".")[1]) == 4 for v in first.split(",")[1:]
                   if v), first
