"""The two workloads: what set-up builds and what one timed pass runs.

Each step is a direct call into one layer's public functions; a span named
after that layer surrounds it, and its result is reduced to a digest that
every pass must reproduce.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pyarrow.dataset as pads

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cc_crawl_statistics_spark.frontier import scheduler
from cc_crawl_statistics_spark.frontier.state import SnapshotStore
from cc_crawl_statistics_spark.operators import counts as C
from cc_crawl_statistics_spark.operators import sketches as SK
from cc_crawl_statistics_spark.operators import timeseries as TS
from cc_crawl_statistics_spark.operators.dedup import boilerplate_strip
from cc_crawl_statistics_spark.operators.dsir import dsir_weights
from cc_crawl_statistics_spark.operators.lm import lm_cross_entropy
from cc_crawl_statistics_spark.operators.textstats import vocabulary
from cc_crawl_statistics_spark.sources.tables import load_table
from cc_crawl_statistics_spark.synth import pages_view_sql, scaled_documents_sql

from checks import DigestBook, Ledger, digest
from inputs import write_documents
from spans import Tracer

# Input sizes. ``base_docs`` documents come from the seed and are widened
# ``factor`` times by synth.scaled_documents_sql; the pages table has
# ~1.45 rows per document. ``host_pool`` sets the host count of the pages
# table, and with it how many URLs a scheduling round may fetch.
SIZES = {
    "full": {
        "crawl_stats": dict(base_docs=3000, factor=2, host_pool=400),
        "frontier_rounds": dict(
            base_docs=5000, factor=4, host_pool=100, rounds=2, compact_at=1
        ),
    },
    "tiny": {
        "crawl_stats": dict(base_docs=300, factor=2, host_pool=40),
        "frontier_rounds": dict(
            base_docs=300, factor=2, host_pool=40, rounds=2, compact_at=1
        ),
    },
}

# the driver contract's DuckDB oracle pairs of each workload; a run checks
# the one its seed picks. None picks no pair: frontier_schedule costs ~5 s
# of Spark work even on 500 documents, so one seed in four checks it.
ORACLES = {
    "crawl_stats": (
        "crawl_size", "host_counts", "tld_counts", "crawl_overlap",
        "dsir_weights", "boilerplate_strip", "lm_perplexity", "vocabulary",
    ),
    "frontier_rounds": ("frontier_schedule", None, None, None),
}
N_PARTITIONS = 4


@dataclass
class Run:
    spark: SparkSession | None
    tracer: Tracer
    ledger: Ledger
    book: DigestBook
    work: str
    seed: int
    size: dict
    pages: DataFrame | None = None
    docs: DataFrame | None = None

    @property
    def data_dir(self) -> str:
        return os.path.join(self.work, "data")


def generate(run: Run) -> None:
    """Seeded documents -> scaled documents -> pages, both written as
    parquet so the passes measure real scans, not re-derivation."""
    spark, d = run.spark, run.data_dir
    write_documents(run.seed, run.size["base_docs"], os.path.join(d, "base"))
    # the base file is one split: spread it before the widening explode
    spark.read.parquet(os.path.join(d, "base", "documents.parquet")).repartition(
        2 * N_PARTITIONS
    ).createOrReplaceTempView("documents_raw")
    docs_dir = os.path.join(d, "documents.parquet")
    spark.sql(
        scaled_documents_sql(run.size["factor"], "documents_raw")
    ).write.mode("overwrite").parquet(docs_dir)
    spark.read.parquet(docs_dir).createOrReplaceTempView("documents")
    hp = run.size["host_pool"]
    spark.sql(
        pages_view_sql(host_pool=hp, site_pool=max(12, (hp * 3) // 10))
    ).write.mode("overwrite").parquet(os.path.join(d, "pages.parquet"))
    run.docs = load_table(spark, d, "documents")
    run.pages = load_table(spark, d, "pages")


# ---------------------------------------------------------------- crawl_stats


def _lm_reference(docs: DataFrame) -> DataFrame:
    # the scaled corpus gives replicas consecutive doc_ids, so a hash-mod
    # slice keeps the trusted set a uniform ~1/50 sample
    return docs.filter(
        (F.col("lang") == "en")
        & (F.pmod(F.xxhash64("doc_id"), F.lit(50)) == 0)
    )


# (layer, step, plan builder): counting and sketch steps read the pages
# table, curation steps the scaled documents
CRAWL_STEPS = (
    ("sources.scan", "load_table",
     lambda r: load_table(r.spark, r.data_dir, "pages")),
    ("operators.counts", "crawl_size", lambda r: C.crawl_size(r.pages)),
    # the per-URL -> host -> domain -> tld rollup cascade, whose first
    # levels are also those of host_counts and domain_counts
    ("operators.counts", "tld_counts", lambda r: C.tld_counts(r.pages)),
    # per-URL first crawl, broadcast-joined to the crawl dimension
    ("operators.counts", "new_items",
     lambda r: C.new_items_per_crawl(r.pages)),
    ("operators.timeseries", "crawl_overlap",
     lambda r: TS.crawl_overlap(r.pages)),
    # per-crawl HLL sketches unioned over a sliding window of crawls
    ("operators.timeseries", "trailing_distinct_union",
     lambda r: TS.trailing_distinct_union(r.pages, 2)),
    # per-crawl HLL sketches and their pairwise unions
    ("operators.sketches", "crawl_overlap_sketch",
     lambda r: TS.crawl_overlap_sketch(r.pages)),
    # space-saving summaries run in Python workers (mapInPandas); k above
    # the domain count keeps every partition summary exact
    ("operators.sketches", "heavy_hitters",
     lambda r: SK.heavy_hitters(r.pages, "domain", k=2048)),
    ("operators.dsir", "dsir_weights",
     lambda r: dsir_weights(
         r.docs, r.docs.filter("lang = 'en' AND doc_id % 5 = 0"),
         hasher="xxhash64")),
    ("operators.dedup", "boilerplate_strip",
     lambda r: boilerplate_strip(r.docs, group_col="source", unit_words=8)),
    ("operators.lm", "lm_cross_entropy",
     lambda r: lm_cross_entropy(
         r.docs, _lm_reference(r.docs), broadcast_model=True)),
    ("operators.textstats", "vocabulary",
     lambda r: vocabulary(r.docs, top_k=1000, n_salts=32)),
)
# layers reported per step, not per module (the curation operators)
FUNCTION_LAYERS = (
    "operators.dsir", "operators.dedup", "operators.lm", "operators.textstats"
)


def step_layer(layer: str, step: str) -> str:
    return f"{layer}.{step}" if layer in FUNCTION_LAYERS else layer


def _parquet_rows(path: str) -> int:
    return pads.dataset(path, format="parquet").count_rows()


def crawl_pass(run: Run, n: int) -> None:
    # page rows and document rows: every row the pass reads
    rows = sum(
        _parquet_rows(os.path.join(run.data_dir, t))
        for t in ("pages.parquet", "documents.parquet")
    )
    with run.tracer.span("pass", n=n, rows=rows):
        for layer, step, plan in CRAWL_STEPS:
            with run.tracer.span(step_layer(layer, step), n=n):
                d = run.ledger.run(step, lambda: digest(plan(run)))
            if d is not None:
                run.book.check(run.ledger, step, d)


# ------------------------------------------------------------ frontier_rounds


def _seeded_dir(run: Run) -> str:
    return os.path.join(run.work, "store-seeded")


def frontier_seed(run: Run) -> None:
    root = _seeded_dir(run)
    shutil.rmtree(root, ignore_errors=True)
    with run.tracer.span("frontier.seed"):
        # an empty store's first run_round commits the seed (round 0) and
        # the first scheduling round
        scheduler.run_round(
            run.spark, SnapshotStore(root), run.data_dir,
            n_partitions=N_PARTITIONS, pages=run.pages,
            compact_every=0, bloom_min_seen=0,
        )


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def frontier_pass(run: Run, n: int) -> None:
    """Copy the seeded store and run ``rounds`` scheduling rounds on it,
    compacting the seen set and the frontier once, after round
    ``compact_at``. Rounds before the compaction take the plain seen
    anti-join; rounds after it probe the sharded Bloom prefilter
    (bloom_min_seen=0 engages it as soon as it exists)."""
    spark, tracer, size = run.spark, run.tracer, run.size
    root = os.path.join(run.work, f"store-{n}")
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(_seeded_dir(run), root)
    store = SnapshotStore(root)
    commit = store.commit

    def traced_commit(*a, **k):
        with tracer.span("frontier.state.commit", n=n):
            return commit(*a, **k)

    store.commit = traced_commit
    before = _du(root)
    scheduled = 0
    with tracer.span("pass", n=n) as p:
        for i in range(1, size["rounds"] + 1):
            with tracer.span(
                "frontier.scheduler.run_round", n=n, i=i,
                prefilter=i > size["compact_at"],
                compact=i == size["compact_at"],
            ) as s:
                m = run.ledger.run(
                    f"round {i}",
                    lambda: scheduler.run_round(
                        spark, store, run.data_dir,
                        n_partitions=N_PARTITIONS,
                        compact_every=0, bloom_min_seen=0,
                    ),
                )
            if m is None:
                break
            s["commit"] = dict(store.last_commit_timings)
            s["metrics"] = m
            scheduled += m["n_scheduled"]
            if i == size["compact_at"]:
                with tracer.span("frontier.state.compact_seen", n=n):
                    run.ledger.run("compact_seen", lambda: store.compact_seen(
                        spark, m["round"], N_PARTITIONS))
                with tracer.span("frontier.state.compact_frontier", n=n):
                    run.ledger.run(
                        "compact_frontier",
                        lambda: store.compact_frontier(
                            spark, m["round"], N_PARTITIONS),
                    )
                rdir = store._round_dir(m["round"])
                p["compact_rewrite_bytes"] = sum(
                    _du(os.path.join(rdir, t))
                    for t in ("url_seen_base", "url_seen_bloom.d", "frontier")
                )
    p["disk_bytes"] = _du(root) - before
    p["rows"] = scheduled  # URLs scheduled
    _check_store(run, store)
    shutil.rmtree(root, ignore_errors=True)


def _check_store(run: Run, store: SnapshotStore) -> None:
    """Counters the rounds report must match the store's contents."""
    spark, ledger = run.spark, run.ledger
    last = store.latest_round()
    rounds = [store.manifest(r)["metrics"] for r in range(1, last + 1)]
    run.book.check(ledger, "round_metrics", rounds)
    for prev, cur in zip(rounds, rounds[1:]):
        ledger.expect(
            f"pending conservation round {cur['round']}",
            cur["n_frontier_pending"]
            == prev["n_frontier_pending"] - cur["n_scheduled"]
            - cur["n_blocked"] + cur["n_discovered_new"],
        )
    n_seen = sum(store.table_rows(r, "url_seen_delta") for r in range(last + 1))
    ledger.expect(
        "n_seen = sum of url_seen_delta rows",
        rounds[-1]["n_seen"] == n_seen,
        f"{rounds[-1]['n_seen']} != {n_seen}",
    )
    pending = ledger.run(
        "pending rows",
        lambda: store.read_frontier(spark, last)
        .filter(F.col("state") == "pending").count(),
    )
    ledger.expect(
        "n_frontier_pending = pending rows in the store",
        pending == rounds[-1]["n_frontier_pending"],
        f"{rounds[-1]['n_frontier_pending']} != {pending}",
    )


# workload -> (one-time step after the set-up, one pass, untimed warm-up
# passes). Only frontier_rounds has a warm-up pass: its first pass is the
# first compaction and the first prefiltered round of the process, and it
# spread twice as much from run to run as a crawl_stats first pass.
WORKLOADS = {
    "crawl_stats": (None, crawl_pass, 0),
    "frontier_rounds": (frontier_seed, frontier_pass, 1),
}
