"""Headline benchmark, and the one home of the timing protocol.
Prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Workload: the crawl-statistics headline queries (``HEADLINE``) plus one
frontier scheduling round, over a deterministically scaled pages universe
derived from $SPARK_GRAFT_SF_DIR/documents.parquet (default
/root/testdata/sf0.1, scaled ×BENCH_FACTOR to ~1.5M fetch rows — the
sandbox stand-in for the 100 TB table; all plans are the same shape
they'd have at scale).

Set-up, untimed but for ``generate_pages``: the scaled pages table, then
a seed round plus round 1 into one bootstrap snapshot store. The frontier
phase is round 2 on a fresh copy of that store, so every rep does
identical work.

One timing protocol (``time_phases``, shared with tools/ladder.py): one
untimed warm-up rep, then ``REPS`` timed reps, with the phase loop inside
the rep loop so phases interleave; each phase reports its minimum.

Runs on local[$SPARK_GRAFT_CPUS] (default 32). Scaling-efficiency evidence
(the same job at pinned CPU levels) comes from tools/ladder.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from cc_crawl_statistics_spark.frontier import scheduler
from cc_crawl_statistics_spark.frontier.state import SnapshotStore
from cc_crawl_statistics_spark.operators import counts as C
from cc_crawl_statistics_spark.operators import timeseries as TS
from cc_crawl_statistics_spark.session import get_spark
from cc_crawl_statistics_spark.synth import pages_view_sql, scaled_documents_sql

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
FACTOR = int(os.environ.get("BENCH_FACTOR", "200"))
# one shot on a shared VM mixes machine noise into the number (three reps
# of one pure-compute loop once took 64.5 s / 2.5 s / 10.2 s) and the
# first rep pays compilation and cold caches (4.4 s against a 1.17 s
# floor): min of REPS after WARMUP reports the plan's cost
WARMUP = 1
REPS = 3

# Scratch for the generated pages table, the frontier snapshot store and
# Spark's shuffle/local dirs: tmpfs when available. The bench measures plan
# cost, not the sandbox's ~190 MB/s virtual disk; on the shared VM the disk
# adds multi-second noise per write-heavy stage (measured: identical plans
# 4.4s vs 10.7s back-to-back).
SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else None
HOST_POOL = 40000


def materialize_scaled_pages(
    spark: SparkSession, sf_dir: str, factor: int, out_dir: str, cpus: int
):
    """Generate the scaled pages universe and write it as a parquet table —
    the bench then measures real scans (column pruning, predicate pushdown,
    parallel splits), not re-derivation. The source documents parquet is a
    single file (one split), so the generator explicitly repartitions before
    the explode to parallelize generation."""
    (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .repartition(cpus * 2)
        .createOrReplaceTempView("documents_raw")
    )
    # materialize the scaled documents once so document-side queries
    # (vocabulary_topk) measure the operator, not corpus re-derivation —
    # and the pages generation below reads the parquet instead of
    # re-exploding
    docs_out = out_dir + "_documents"
    spark.sql(scaled_documents_sql(factor, "documents_raw")).write.mode(
        "overwrite"
    ).parquet(docs_out)
    spark.read.parquet(docs_out).createOrReplaceTempView("documents")
    pages = spark.sql(
        pages_view_sql(host_pool=HOST_POOL, site_pool=(HOST_POOL * 3) // 10)
    )
    pages.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)


def force(df) -> int:
    """Execute the full plan without driver-side materialization."""
    return df.write.format("noop").mode("overwrite").save() or 0


HEADLINE = {
    "crawl_size": lambda p: C.crawl_size(p),
    "host_counts": lambda p: C.host_counts(p),
    "domain_counts": lambda p: C.domain_counts(p),
    "tld_counts": lambda p: C.tld_counts(p),
    "mimetype": lambda p: C.mimetype_counts(p),
    "http_status": lambda p: C.http_status_histogram(p),
    "url_fetch_histogram": lambda p: C.url_fetch_histogram(p),
    "url_crawl_set": lambda p: C.url_crawl_set(p),
    "new_items": lambda p: C.new_items_per_crawl(p),
    "top_hosts": lambda p: C.top_k(C.host_counts(p), "host", k=500),
    "crawl_overlap": lambda p: TS.crawl_overlap(p),
    "crawl_overlap_hll": lambda p: TS.crawl_overlap_sketch(p),
    "trailing_hll_3": lambda p: TS.trailing_distinct_union(p, n=3),
    "size_estimate": lambda p: C.size_estimate(p),
    # outlink parse throughput: synthesize the anchored html body with a
    # codegen concat (cheap vs the regexp) and run the engine's real
    # parse -> resolve -> host-graph chain over it — the blob-scan-heavy
    # operator class (functions/links.py, operators/linkgraph.py)
    "outlink_host_graph": lambda p: _outlink_host_graph(p),
    # temporal-join class: as-of (point-in-time) capture lookup — union-tag
    # + one url-keyed ordered window over captures ∪ probes (~2M rows at
    # factor 200), the shape that replaces the quadratic probe×capture join
    "asof_capture": lambda p: _asof_bench(p),
    # graph-analytics sketch class: HyperBall harmonic centrality over the
    # ~36k-host graph — 4 HLL-ball union iterations (edge join +
    # hll_union_agg per level); edges derived arithmetically so this times
    # the iteration, not the blob parse already measured above
    "hyperball_centrality": lambda p: _hyperball_bench(p),
    # LLM-pipeline class: token explode -> map-side-combined vocab count ->
    # salted two-phase top-k over the scaled documents view (~10^8 token
    # occurrences at factor 200)
    "vocabulary_topk": lambda p: _vocabulary_bench(p),
    # CCNet perplexity class: bigram explode -> pre-agg pairs -> model
    # left-join -> per-doc integer cross-entropy, LM trained on the
    # trusted slice of the same scaled corpus inside the plan
    "lm_perplexity": lambda p: _lm_perplexity_bench(p),
    # cc-index build step: record-length arithmetic + per-file running-sum
    # window (bounded partitions = warc files)
    "warc_cdx_index": lambda p: _warc_cdx_index(p),
    # fetch-time dedup: row_number/first over the high-cardinality
    # (crawl, digest) key — the sort-window class
    "warc_revisit": lambda p: _warc_revisit(p),
    # politeness fold class: per-host sorted-array aggregate fold over
    # the full fetch log (~1.45M events at factor 200), host-parallel
    "token_bucket": lambda p: _token_bucket_bench(p),
    # DSIR importance weights: two hashed-feature corpus passes + the
    # broadcast 1024-bucket weight join over the scaled documents view
    "dsir_weights": lambda p: _dsir_bench(p),
    # per-group boilerplate strip: unit explode -> (group, unit) frequency
    # -> anti-join -> per-doc reassembly over the scaled corpus
    "boilerplate_strip": lambda p: _boilerplate_bench(p),
}


def _token_bucket_bench(pages):
    from pyspark.sql import functions as F

    from cc_crawl_statistics_spark.frontier.politeness import (
        token_bucket_gate,
    )

    return token_bucket_gate(pages).groupBy("host").agg(
        F.count("*").alias("n"),
        F.sum(F.col("admitted").cast("long")).alias("adm"),
    )


def _dsir_bench(pages):
    # scale flavor: xxhash64 buckets (codegen, ~5x cheaper than the
    # portable-md5 exactness flavor the oracle replays — semantics are
    # hash-agnostic, see operators/dsir.feature_bucket)
    from cc_crawl_statistics_spark.operators.dsir import dsir_weights

    d = pages.sparkSession.table("documents")
    return dsir_weights(
        d, d.filter("lang = 'en' AND doc_id % 5 = 0"), hasher="xxhash64"
    )


def _boilerplate_bench(pages):
    from cc_crawl_statistics_spark.operators.dedup import boilerplate_strip

    return boilerplate_strip(
        pages.sparkSession.table("documents"), group_col="source",
        unit_words=8,
    )


def _asof_bench(pages):
    from pyspark.sql import functions as F

    from cc_crawl_statistics_spark.operators.asof import asof_latest_capture

    caps = pages.select("url", "fetch_ts", "crawl", "digest")
    urls = pages.select("url", "doc_id").dropDuplicates(["url"])
    t = pages.sparkSession.createDataFrame(
        [(0, 1711670400), (1, 1714089600)], "k long, ts long"
    )
    probes = urls.join(F.broadcast(t)).select(
        (F.col("doc_id") * 2 + F.col("k")).alias("probe_id"), "url", "ts"
    )
    return asof_latest_capture(caps, probes)


def _hyperball_bench(pages):
    from pyspark.sql import functions as F

    from cc_crawl_statistics_spark.operators import linkgraph as LG
    from cc_crawl_statistics_spark.synth import child_host_sql

    n = 1_000_000
    edges = (
        pages.select(
            F.col("host").alias("src_host"),
            F.expr(child_host_sql(f"(doc_id * 2 + 1) % {n}")).alias(
                "dst_host"
            ),
        )
        .groupBy("src_host", "dst_host")
        .count()
        .drop("count")
    )
    return LG.hyperball_harmonic(
        edges, radius=4, lgk=12, src_col="dst_host", dst_col="src_host"
    )


def _warc_cdx_index(pages):
    from cc_crawl_statistics_spark.sources.warc import cdx_index_from_pages

    return cdx_index_from_pages(pages)


def _warc_revisit(pages):
    from cc_crawl_statistics_spark.sources.warc import revisit_records

    return revisit_records(pages)


def _lm_perplexity_bench(pages):
    from pyspark.sql import functions as F

    from cc_crawl_statistics_spark.operators.lm import lm_cross_entropy

    docs = pages.sparkSession.table("documents")
    # the scaled corpus multiplies doc_ids by the factor, so %5 over raw
    # ids would select whole replica blocks; hash-mod keeps the trusted
    # slice a uniform ~1/50 sample at any factor
    ref = docs.filter(
        (F.col("lang") == "en") & (F.pmod(F.xxhash64("doc_id"), F.lit(50)) == 0)
    )
    # the trusted slice is a capped 1/50 sample, so its bigram table is
    # broadcast-sized by construction — take the measured 2.8x fast path
    return lm_cross_entropy(docs, ref, broadcast_model=True)


def _vocabulary_bench(pages):
    from cc_crawl_statistics_spark.operators.textstats import vocabulary

    return vocabulary(
        pages.sparkSession.table("documents"), top_k=1000, n_salts=32
    )


def _outlink_host_graph(pages):
    from pyspark.sql import functions as F

    from cc_crawl_statistics_spark.operators import linkgraph as LG
    from cc_crawl_statistics_spark.synth import child_url_sql

    n = 1_000_000  # child-id modulus; value is irrelevant to plan cost
    c1 = f"(doc_id * 2 + 1) % {n}"
    body = F.concat(
        F.lit("<!doctype html><title>"), F.col("url"),
        F.lit("</title><p>"), F.col("digest"), F.lit("</p>"),
        F.lit('<a href="'), F.expr(child_url_sql(c1)), F.lit('"></a>'),
        F.lit('<a href="/page/'),
        F.expr(f"CAST((doc_id * 5 + 3) % {n} AS STRING)"),
        F.lit('.html"></a>'),
    )
    linked = pages.select("url", F.encode(body, "UTF-8").alias("html"))
    return LG.host_link_graph(LG.page_outlinks(linked))


def query_phases(pages, names=tuple(HEADLINE)) -> dict:
    """``time_phases`` phases for the named ``HEADLINE`` queries."""
    return {
        n: (lambda q=HEADLINE[n]: lambda: force(q(pages))) for n in names
    }


def bootstrap_store(spark: SparkSession, store_dir: str, pages, cores: int):
    """Seed + round 1 into a new store at ``store_dir`` (set-up, untimed)."""
    scheduler.run_round(
        spark, SnapshotStore(store_dir), SF_DIR, n_partitions=cores,
        pages=pages,
    )


def fresh_round(spark: SparkSession, bootstrap: str, work: str, cores: int):
    """The frontier phase: each ``prepare()`` copies the bootstrap store to
    ``work`` (outside the timed span) and returns the thunk that runs
    round 2 on the copy, so every rep schedules the same URLs."""

    def prepare():
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(bootstrap, work)
        return lambda: scheduler.run_round(
            spark, SnapshotStore(work), SF_DIR, n_partitions=cores
        )

    return prepare


def time_phases(phases: dict) -> tuple[dict, dict]:
    """The timing protocol. ``phases`` maps a name to ``prepare()``, which
    does the untimed set-up and returns the thunk to time. Runs WARMUP
    untimed reps then REPS timed ones, every phase once per rep (phases
    interleave). Returns (min seconds per phase, last result per phase)."""
    best = dict.fromkeys(phases, float("inf"))
    last = {}
    for rep in range(WARMUP + REPS):
        for name, prepare in phases.items():
            thunk = prepare()
            t0 = time.perf_counter()
            last[name] = thunk()
            if rep >= WARMUP:
                best[name] = min(best[name], time.perf_counter() - t0)
    return best, last


def main() -> None:
    tmp = tempfile.mkdtemp(prefix="bench_", dir=SCRATCH)
    extra_conf = {"spark.ui.showConsoleProgress": "false"}
    if SCRATCH:
        extra_conf["spark.local.dir"] = os.path.join(tmp, "local")
    spark = get_spark(
        app_name="bench",
        cores=CPUS,
        shuffle_partitions=CPUS,
        extra_conf=extra_conf,
    )
    times: dict[str, float] = {}
    t0 = time.time()
    pages = materialize_scaled_pages(
        spark, SF_DIR, FACTOR, os.path.join(tmp, "pages"), CPUS
    )
    times["generate_pages"] = round(time.time() - t0, 3)
    n_rows = pages.count()
    store = os.path.join(tmp, "store")
    bootstrap_store(spark, store, pages, CPUS)
    best, last = time_phases({
        **query_phases(pages),
        "frontier_round": fresh_round(spark, store, store + "_rep", CPUS),
    })
    times.update({k: round(v, 3) for k, v in best.items()})
    n_sched = last["frontier_round"]["n_scheduled"]

    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        # the suite minus one-shot data synthesis (generate_pages is setup,
        # not a query, and is the one component that can't be best-of-N)
        "suite_sans_setup_sec": round(total - times["generate_pages"], 3),
        "queries": times,
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "rows": n_rows,
        "bench_factor": FACTOR,
        "cpus": CPUS,
        "frontier_urls_scheduled": n_sched,
        "frontier_urls_per_sec": round(n_sched / best["frontier_round"], 1),
    }
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
