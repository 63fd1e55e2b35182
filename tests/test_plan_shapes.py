"""Physical-plan regression tests: pushdown, pruning, join strategy.

The 100-TB contract is that the declarative plans keep their scale-critical
physical properties: parquet scans receive pushed filters and pruned
schemas (a scan reading `text` for a host-count query would multiply scan
bytes ~30x), dimension joins broadcast instead of shuffling the fact side,
and no registered query silently degrades to a cartesian product. These
asserts pin the properties so a refactor that loses them fails fast —
mirroring the reference's reliance on mrjob's per-record streaming never
materializing unused CDX fields (crawlstats.py:371-430 reads only the
fields each counter consumes).
"""

from __future__ import annotations

import pytest

from cc_crawl_statistics_spark.plans import queries as Q
from cc_crawl_statistics_spark.sources.tables import load_table, pages_df
from tests.conftest import PYTHON_NODES

SF = "/root/testdata/sf0.001"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_filter_pushdown_reaches_scan(spark):
    """A predicate on a stored column must appear in PushedFilters, not
    survive only as a post-scan Filter."""
    df = load_table(spark, SF, "documents").filter("lang = 'en'").select(
        "doc_id", "lang"
    )
    plan = _executed(df)
    assert "PushedFilters" in plan
    # both the null guard and the equality push down
    assert "IsNotNull(lang)" in plan
    assert "EqualTo(lang,en)" in plan


def test_column_pruning_host_counts_drops_text(spark):
    """host_counts never touches document text; the documents scan under
    the derived pages view must not read the `text` column (the dominant
    byte fraction at 100 TB)."""
    plan = _executed(Q.QUERIES["host_counts"](spark, SF))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans, "no FileScan with ReadSchema in plan"
    for ln in scans:
        assert "text" not in ln.split("ReadSchema")[-1], ln


def test_column_pruning_token_stats_keeps_text(spark):
    """Sanity inverse: a text-statistics query genuinely needs `text`."""
    plan = _executed(Q.QUERIES["token_stats"](spark, SF))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert any("text" in ln.split("ReadSchema")[-1] for ln in scans)


def test_tld_dim_join_broadcasts(spark):
    """The ~1.8k-row TLD classification dim must broadcast; shuffling the
    pages side on tld would be a full-fact-table shuffle for a lookup."""
    plan = _executed(Q.QUERIES["tld_classified"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_crawl_size_expand_not_per_distinct_scans(spark):
    """A8's four countDistincts ride ONE aggregate via Catalyst Expand
    (BENCH.md design decision "single-scan crawl_size") instead of four
    per-column scan branches. The synthetic pages view itself is a
    3-branch union, so the total scan count must be exactly 2 view-reads
    (totals + distincts), not 5."""
    base = pages_df(spark, SF)._jdf.queryExecution().executedPlan()
    base_scans = base.toString().count("FileScan parquet")
    plan = _executed(Q.QUERIES["crawl_size"](spark, SF))
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 2 * base_scans, plan


# Queries whose plans legitimately contain a BroadcastNestedLoopJoin.
# Every entry broadcasts a side whose cardinality is bounded by
# construction — a 1-row scalar aggregate (corpus totals, class priors)
# or the ≤126-row crawl dimension — so the "nested loop" is O(n·1):
# fine at any fact-table scale. CartesianProduct is never tolerated.
_BOUNDED_BNLJ_OK = {
    "crawl_overlap",  # exact pairwise verifier (timeseries.py:60-106)
    "ann_topk",  # brute-force baseline: broadcast query batch by design
    "crawl_overlap_hll",  # crawl-pair a<b non-equi join, ≤126-row dim
    "crawl_overlap_hll_digest",  # same shape, digest sketches
    "crawl_overlap_kmv",  # same crawl-pair a<b shape, bottom-k arrays
    "kmv_overlap_exact",  # same crawl-pair a<b shape, portable hash
    "ann_ivf_topk",  # probe joins the ≤n_centroids broadcast table
    "vocabulary",  # token share vs 1-row corpus-total aggregate
    "domain_weights",  # per-domain share vs 1-row total
    "tfidf_keywords",  # idf vs 1-row document-count aggregate
    "nb_weights",  # class priors vs 1-row corpus total
    "nb_classify",  # same training CTE inside
    "nb_agreement",  # same training CTE inside
    "nb_calibration",  # same scored subplan: docs x broadcast C-row priors
    "lm_bigram_weights",  # smoothing vs 1-row vocab-size aggregate
    "lm_perplexity",  # same 1-row vocab join in the scoring chain
    "lm_quality_filter",  # same scoring chain inside
    "curation_funnel",  # composes the LM scoring chain
    "semdedup",  # broadcast k-centroid assignment join
    "shard_summary",  # per-shard deviation vs 1-row token-total aggregate
    "asof_capture",  # probe build: urls x broadcast 2-row instant frame
    "fetcher_assignment",  # fleet rollup vs 1-row schedule total
    "round_makespan",  # fleet rollup vs 1-row fleet-max aggregate
    "schedule_fairness",  # two 1-row Jain aggregates crossed
    "leakage_split",  # split shares vs 1-row corpus total/invariant
    "robots_cache",  # host dim x 1-row corpus-clock aggregate
}


@pytest.mark.parametrize("name", sorted(Q.QUERIES))
def test_no_cartesian_product_in_any_registered_query(spark, name):
    """Sweep: no registered query may plan a CartesianProduct. Broadcast
    nested-loop joins are tolerated only for the documented
    bounded-broadcast cases in _BOUNDED_BNLJ_OK."""
    df = Q.QUERIES[name](spark, SF)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, name
    if name not in _BOUNDED_BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, name


def _dsir_xxhash64(spark, sf):
    from cc_crawl_statistics_spark.operators.dsir import dsir_weights

    d = load_table(spark, sf, "documents")
    return dsir_weights(
        d, d.filter("lang = 'en' AND doc_id % 5 = 0"), hasher="xxhash64"
    )


# the per-row text kernels: dsir_weights (both hashers), lm_cross_entropy
# (lm_perplexity), lm_train_bigram, boilerplate_strip, and unit_dedup
# (split_units + reassembly)
_TEXT_KERNEL_PLANS = {
    "dsir_weights": Q.QUERIES["dsir_weights"],
    "dsir_weights_xxhash64": _dsir_xxhash64,
    "lm_perplexity": Q.QUERIES["lm_perplexity"],
    "lm_bigram_weights": Q.QUERIES["lm_bigram_weights"],
    "boilerplate_strip": Q.QUERIES["boilerplate_strip"],
    "unit_dedup": Q.QUERIES["unit_dedup"],
}


@pytest.mark.parametrize("name", sorted(_TEXT_KERNEL_PLANS))
def test_text_kernels_have_no_lambda(spark, name):
    """The text kernels are generated-code array expressions (explode,
    arrays_zip, slice, concat_ws, sort_array): a higher-order function
    (transform, zip_with, filter, aggregate, array_sort) shows up as a
    lambdafunction and runs interpreted, as a CodegenFallback (BENCH.md
    design decision "codegen text kernels"). The formatted explain of the
    executed plan lists every operator's expressions, the aggregates'
    result expressions included (the plain tree string omits those)."""
    df = _TEXT_KERNEL_PLANS[name](spark, SF)
    formatted = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(formatted)
    assert "lambdafunction" not in plan, plan


def _crawl_stats_steps():
    """The step functions of a perfbench ``crawl_stats`` pass, called as
    the pass calls them (perfbench/workloads.py CRAWL_STEPS, minus the
    scan): (pages, documents) -> DataFrame."""
    from pyspark.sql import functions as F

    from cc_crawl_statistics_spark.operators import counts as C
    from cc_crawl_statistics_spark.operators import sketches as SK
    from cc_crawl_statistics_spark.operators import timeseries as TS
    from cc_crawl_statistics_spark.operators.dedup import boilerplate_strip
    from cc_crawl_statistics_spark.operators.dsir import dsir_weights
    from cc_crawl_statistics_spark.operators.lm import lm_cross_entropy
    from cc_crawl_statistics_spark.operators.textstats import vocabulary

    def lm_reference(d):
        return d.filter(
            (F.col("lang") == "en")
            & (F.pmod(F.xxhash64("doc_id"), F.lit(50)) == 0)
        )

    return {
        "crawl_size": lambda p, d: C.crawl_size(p),
        "tld_counts": lambda p, d: C.tld_counts(p),
        "new_items_per_crawl": lambda p, d: C.new_items_per_crawl(p),
        "crawl_overlap": lambda p, d: TS.crawl_overlap(p),
        "trailing_distinct_union": lambda p, d: TS.trailing_distinct_union(p, 2),
        "crawl_overlap_sketch": lambda p, d: TS.crawl_overlap_sketch(p),
        "heavy_hitters": lambda p, d: SK.heavy_hitters(p, "domain", k=2048),
        "dsir_weights": lambda p, d: dsir_weights(
            d, d.filter("lang = 'en' AND doc_id % 5 = 0"), hasher="xxhash64"
        ),
        "boilerplate_strip": lambda p, d: boilerplate_strip(
            d, group_col="source", unit_words=8
        ),
        "lm_cross_entropy": lambda p, d: lm_cross_entropy(
            d, lm_reference(d), broadcast_model=True
        ),
        "vocabulary": lambda p, d: vocabulary(d, top_k=1000, n_salts=32),
    }


@pytest.mark.parametrize("name", sorted(_crawl_stats_steps()))
def test_crawl_stats_steps_start_no_python_worker(spark, name, monkeypatch):
    """Every step of a crawl_stats pass is Catalyst operators only: no
    Arrow/pickled Python UDF and no mapInPandas in its executed plan
    (BENCH.md design decisions "heavy hitters in Catalyst" and "codegen
    text kernels"). A localCheckpoint leaves a ``Scan ExistingRDD`` leaf
    that hides the plan beneath it, so the plans are built with
    localCheckpoint as the identity; heavy_hitters must have no lineage
    cut at all."""
    pages = pages_df(spark, SF)
    docs = load_table(spark, SF, "documents")
    step = _crawl_stats_steps()[name]
    if name == "heavy_hitters":
        assert "ExistingRDD" not in _executed(step(pages, docs))
    monkeypatch.setattr(
        type(docs), "localCheckpoint", lambda self, *a, **k: self
    )
    plan = _executed(step(pages, docs))
    for node in PYTHON_NODES:
        assert node not in plan, (node, plan)


def test_host_quality_two_level_agg_no_expand(spark):
    """host_quality's distinct-digest count must stay the two-level
    (host, digest) -> host aggregation: a countDistinct refactor would
    reintroduce a Catalyst Expand that doubles every shuffle row."""
    plan = _executed(Q.QUERIES["host_quality"](spark, SF))
    assert "Expand" not in plan
    assert plan.count("Exchange hashpartitioning") >= 2  # doc_id join + aggs


def test_total_order_windows_are_declared():
    """Source lint replacing the silenced WindowExec warning
    (session._silence_benign_window_warning): a total-order window is
    legitimate in this repo ONLY over a dimension-sized frame, and must
    say so by using functions/windows.dim_window instead of a bare
    Window.orderBy — so a future genuinely-unbounded window can't slip
    in silently now that the log noise is gone. Windows with a real
    partitionBy are unaffected."""
    import os
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..",
                       "cc_crawl_statistics_spark")
    offenders = []
    for root, _, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            if fname == "windows.py":
                continue  # the helper's own definition
            src = open(path).read()
            # every name the Window class is bound to in this file —
            # plain import, aliased import, or local rebinding — so an
            # alias can't slip a total-order window past the lint
            names = {"Window"}
            names |= set(re.findall(r"\bWindow\s+as\s+(\w+)", src))
            names |= set(re.findall(r"\b(\w+)\s*=\s*Window\s*$", src,
                                    re.MULTILINE))
            alt = "|".join(sorted(names))
            # total-order spellings: bare .orderBy, an EMPTY
            # .partitionBy() (Catalyst folds it to no partition), and
            # frame-first composition (.rowsBetween/.rangeBetween on the
            # class starts an unpartitioned spec)
            pat = (
                rf"\b({alt})\s*\.\s*(orderBy|partitionBy\(\s*\)"
                r"|rowsBetween|rangeBetween)"
            )
            for m in re.finditer(pat, src):
                line = src.count("\n", 0, m.start()) + 1
                offenders.append(f"{os.path.relpath(path, pkg)}:{line}")
    assert not offenders, (
        "total-order window without the dim_window dimension-size "
        f"declaration (bare orderBy / empty partitionBy / frame-first "
        f"spec, incl. aliased Window imports): {offenders}"
    )
