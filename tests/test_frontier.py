"""Frontier scheduler: bit-for-bit parity with the pure-Python model
(BASELINE.json: same seed list + politeness budget ⇒ identical crawl
ordering and URL-seen set), plus checkpoint/resume semantics."""

from __future__ import annotations

import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

from cc_crawl_statistics_spark.frontier import model, scheduler
from cc_crawl_statistics_spark.frontier.state import MANIFEST, SnapshotStore
from tests.conftest import PYTHON_NODES, SF_SMOKE

N_DOCS = 500  # documents rows at sf0.001


def schedule_rows(spark, store, rnd):
    df = store.read(spark, rnd, "schedule").toPandas()
    return sorted(
        map(
            tuple,
            df[["round", "url", "host", "depth", "score", "rank"]].itertuples(
                index=False, name=None
            ),
        )
    )


def model_rows(sched):
    return sorted(
        (x["round"], x["url"], x["host"], x["depth"], x["score"], x["rank"])
        for x in sched
    )


def bloom_flags(spark, path, keys):
    """Prefilter flag per key (True = maybe seen) from the shared
    DataFrame probe the scheduler uses."""
    from cc_crawl_statistics_spark.frontier.shardedfilter import probe

    df = spark.createDataFrame([(int(k),) for k in keys], "seen_key bigint")
    return {
        r.seen_key: r._maybe
        for r in probe(df, F.col("seen_key"), path).collect()
    }


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "frontier"))


@pytest.fixture(scope="module")
def seeded_root(spark, tmp_path_factory):
    """One store after ``run_round(spark, store, SF_SMOKE)`` on default
    arguments — the seed (round 0) and round 1 — and that call's metrics.
    Tests that would begin with that call copy this store instead."""
    root = str(tmp_path_factory.mktemp("seeded") / "frontier")
    return root, scheduler.run_round(spark, SnapshotStore(root), SF_SMOKE)


@pytest.fixture()
def seeded(seeded_root, tmp_path):
    """(store, round-1 metrics): a private copy of the seeded store."""
    root, metrics = seeded_root
    dst = str(tmp_path / "frontier")
    shutil.copytree(root, dst)
    return SnapshotStore(dst), dict(metrics)


def test_three_rounds_bit_for_bit(spark, seeded):
    store, metrics = seeded
    st = model.seed(N_DOCS)
    for rnd in range(1, 4):
        if rnd > 1:
            metrics = scheduler.run_round(spark, store, SF_SMOKE)
        msched = model.run_round(st)
        assert metrics["n_scheduled"] == len(msched)
        assert schedule_rows(spark, store, rnd) == model_rows(msched)
    # URL-seen set identical (compared in the hashed key domain)
    spark_seen = {
        r.seen_key for r in store.read_seen(spark, 3).collect()
    }
    model_seen = {
        r.k
        for r in spark.createDataFrame(
            [(u,) for u in st.seen], "url string"
        )
        .select(F.xxhash64("url").alias("k"))
        .collect()
    }
    assert spark_seen == model_seen


def test_resume_from_snapshot(spark, seeded):
    """Kill after round 2, reopen the store, round 3 must equal the
    uninterrupted model run (SURVEY.md §5 resume test)."""
    store, _ = seeded
    st = model.seed(N_DOCS)
    model.run_round(st)  # round 1 is in the seeded store
    scheduler.run_round(spark, store, SF_SMOKE)
    model.run_round(st)
    reopened = SnapshotStore(store.root)  # fresh handle = restart
    assert reopened.latest_round() == 2
    scheduler.run_round(spark, reopened, SF_SMOKE)
    msched = model.run_round(st)
    assert schedule_rows(spark, reopened, 3) == model_rows(msched)


def test_crashed_round_is_ignored_and_redone(spark, seeded):
    store, _ = seeded
    st = model.seed(N_DOCS)
    model.run_round(st)
    # simulate a crash mid-round-2: data written but no manifest
    rdir = os.path.join(store.root, "round=0002")
    os.makedirs(os.path.join(rdir, "schedule"))
    assert store.latest_round() == 1  # uncommitted round invisible
    scheduler.run_round(spark, store, SF_SMOKE)  # must redo round 2 cleanly
    msched = model.run_round(st)
    assert schedule_rows(spark, store, 2) == model_rows(msched)
    assert os.path.exists(os.path.join(rdir, MANIFEST))


def test_politeness_gate(spark, seeded):
    """Hosts with robots 403 never appear in any schedule; per-host budget
    respected; priority is (depth asc, score desc, url asc)."""
    store, _ = seeded
    st = model.seed(N_DOCS)
    model.run_round(st)
    sched = store.read(spark, 1, "schedule").toPandas()
    for host, grp in sched.groupby("host"):
        site_id = int(host.split("site")[1].split(".")[0])
        robots, budget = model.ledger_for(site_id)
        assert robots != 403
        assert len(grp) <= budget
        ordered = grp.sort_values("rank")
        keys = list(
            zip(ordered.depth, -ordered.score, ordered.url, strict=True)
        )
        assert keys == sorted(keys)


def test_round_stats_semantics(spark, seeded):
    """Pins the documented one-fetch-per-URL-per-round stats semantics:
    pages == urls on EVERY row (a deduplicating frontier fetches each
    scheduled URL exactly once per round), the size row equals the
    schedule count, each histogram's pages sum to the schedule count, and
    the http_status histogram reflects the scheduled URLs' earliest-fetch
    attributes (url_universe min_by) exactly."""
    store, _ = seeded
    stats = store.read(spark, 1, "round_stats").toPandas()
    sched = store.read(spark, 1, "schedule").toPandas()
    types = set(stats.type)
    assert {
        "size",
        "host",
        "domain",
        "tld",
        "mimetype",
        "primary_language",
        "http_status",
    } <= types
    # one fetch per scheduled URL per round
    assert (stats.pages == stats.urls).all()
    g = stats[stats.type == "size"]
    assert len(g) == 1 and int(g.pages.iloc[0]) == len(sched)
    for typ in ("host", "tld", "http_status"):
        hist = stats[stats.type == typ]
        assert int(hist.pages.sum()) == len(sched), typ
    # attribute fidelity: the status histogram equals the earliest-fetch
    # status of each scheduled URL, recomputed independently from pages
    from cc_crawl_statistics_spark.sources.tables import pages_df

    expected = (
        scheduler.url_universe(pages_df(spark, SF_SMOKE))
        .join(
            spark.createDataFrame(sched[["url"]]), "url", "left_semi"
        )
        .groupBy("status")
        .count()
        .toPandas()
        .set_index("status")["count"]
        .to_dict()
    )
    got = (
        stats[stats.type == "http_status"]
        .assign(key=lambda d: d.key.astype(int))
        .set_index("key")["pages"]
        .to_dict()
    )
    assert got == expected


def test_compaction_and_bloom_bit_identical(spark, tmp_path):
    """Seen-set compaction + the materialized Bloom prefilter change the
    physical plan, never the results: running with compact_every=1 (a
    compacted base + Bloom from round 1 on) produces bit-identical
    schedules and seen sets to the uncompacted store, and round dirs hold
    the base/bloom artifacts."""
    import os

    a = SnapshotStore(str(tmp_path / "plain"))
    b = SnapshotStore(str(tmp_path / "compacted"))
    for rnd in range(1, 4):
        scheduler.run_round(spark, a, SF_SMOKE, compact_every=0)
        # bloom_min_seen=0 forces the prefilter path at fixture scale
        # (the default engages it only past 10^7 seen keys)
        scheduler.run_round(
            spark, b, SF_SMOKE, compact_every=1, bloom_min_seen=0
        )
        assert schedule_rows(spark, a, rnd) == schedule_rows(spark, b, rnd)
    assert b.seen_base_round(3) == 3
    assert b.prefilter_path(3) == os.path.join(
        b.root, "round=0003", "url_seen_bloom.d"
    )
    assert os.path.exists(os.path.join(b.root, "round=0002", "url_seen_base"))
    seen_a = {r.seen_key for r in a.read_seen(spark, 3).collect()}
    seen_b = {r.seen_key for r in b.read_seen(spark, 3).collect()}
    assert seen_a == seen_b
    # no false negatives: the probe flags every compacted key "maybe"
    flags = bloom_flags(spark, b.prefilter_path(3), seen_b)
    assert len(flags) == len(seen_b) and all(flags.values())


def test_reopen_seen_for_recrawl(spark, tmp_path):
    """reopen_seen subtracts re-opened keys from the seen set (until a
    later delta re-adds them) and leaves the materialized Bloom untouched:
    every base key, reopened or not, stays "maybe present" — the recrawl
    re-open path."""
    store = SnapshotStore(str(tmp_path / "s"))
    scheduler.run_round(
        spark, store, SF_SMOKE, compact_every=1, bloom_min_seen=0
    )
    scheduler.run_round(spark, store, SF_SMOKE, compact_every=0)
    base_keys = sorted(
        r.seen_key for r in store.read_seen(spark, 1).collect()
    )
    victims = base_keys[:5]
    seen_before = {r.seen_key for r in store.read_seen(spark, 2).collect()}
    store.reopen_seen(
        spark, 2,
        spark.createDataFrame([(k,) for k in victims], "seen_key bigint"),
    )
    seen_after = {r.seen_key for r in store.read_seen(spark, 2).collect()}
    assert seen_after == seen_before - set(victims)
    # the Bloom is never edited: reopened keys stay "maybe" and take the
    # exact anti-join, which consults the reopen-adjusted seen set
    flags = bloom_flags(spark, store.prefilter_path(2), base_keys)
    assert len(flags) == len(base_keys) and all(flags.values())
    # a later delta re-adding a reopened key wins over the reopen
    import os as _os

    d3 = _os.path.join(store.root, "round=0003")
    _os.makedirs(d3, exist_ok=True)
    spark.createDataFrame(
        [(victims[0],)], "seen_key bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(d3, "url_seen_delta")
    )
    seen3 = {r.seen_key for r in store.read_seen(spark, 3).collect()}
    assert victims[0] in seen3
    assert not any(v in seen3 for v in victims[1:])


def test_reopen_for_recrawl_glue(spark, tmp_path):
    """The adaptive-recrawl glue re-opens exactly the due-tier URLs that
    are in the seen set (canonical seen keys, deduplicated)."""
    from cc_crawl_statistics_spark.frontier.scheduler import (
        reopen_for_recrawl,
        seen_key,
    )
    from cc_crawl_statistics_spark.operators.recrawl import recrawl_tiers
    from cc_crawl_statistics_spark.sources.tables import pages_df

    store = SnapshotStore(str(tmp_path / "s"))
    scheduler.run_round(
        spark, store, SF_SMOKE, compact_every=1, bloom_min_seen=0
    )
    pages = pages_df(spark, SF_SMOKE)
    before = {r.seen_key for r in store.read_seen(spark, 1).collect()}
    n = reopen_for_recrawl(spark, store, 1, pages, tiers=("cold",))
    after = {r.seen_key for r in store.read_seen(spark, 1).collect()}
    due_keys = {
        r.k
        for r in recrawl_tiers(pages)
        .filter(F.col("tier") == "cold")
        .select(seen_key(F.col("url")).alias("k"))
        .distinct()
        .collect()
    }
    assert n == len(due_keys)
    assert after == before - due_keys
    assert len(after) < len(before)


def test_reopen_under_bloom_prefilter_bit_identical(spark, tmp_path):
    """No false negatives after a reopen: keys re-opened after a
    compaction stay set in the Bloom, so the round that rediscovers them
    sends them down the prefilter's maybe-path. That round must produce
    the same schedule and discovery delta as the plain anti-join
    (bloom_min_seen above any seen-set size), and the delta must
    re-admit every reopened URL."""
    seeded = SnapshotStore(str(tmp_path / "seeded"))
    for _ in range(2):
        scheduler.run_round(
            spark, seeded, SF_SMOKE, compact_every=1, bloom_min_seen=0
        )
    # which already-seen URLs does round 3 rediscover? Reopening does not
    # change round 3's schedule, so a throwaway run answers it.
    shutil.copytree(seeded.root, str(tmp_path / "probe"))
    probe = SnapshotStore(str(tmp_path / "probe"))
    scheduler.run_round(spark, probe, SF_SMOKE, compact_every=0)
    m0 = probe.manifest(0)["metrics"]
    rediscovered = (
        scheduler.expand_links(
            probe.read(spark, 3, "schedule"),
            probe.read(spark, 0, "universe"),
            m0["n_docs"],
        )
        .select("url", scheduler.seen_key(F.col("url")).alias("seen_key"))
        .join(probe.read_seen(spark, 2), "seen_key", "left_semi")
        .distinct()
        .toPandas()
    )
    assert len(rediscovered) > 0
    reopened = set(rediscovered["url"])
    keys = rediscovered["seen_key"].tolist()
    assert all(bloom_flags(spark, seeded.prefilter_path(2), keys).values())

    out = {}
    for name, gate in (("prefilter", 0), ("plain", 10**12)):
        root = str(tmp_path / name)
        shutil.copytree(seeded.root, root)
        st = SnapshotStore(root)
        st.reopen_seen(
            spark, 2,
            spark.createDataFrame(
                [(int(k),) for k in keys], "seen_key bigint"
            ),
        )
        scheduler.run_round(
            spark, st, SF_SMOKE, compact_every=1, bloom_min_seen=gate
        )
        delta = sorted(
            map(tuple, st.read(spark, 3, "frontier_delta")
                .select(*scheduler.FRONTIER_COLS).toPandas()
                .itertuples(index=False, name=None))
        )
        out[name] = (schedule_rows(spark, st, 3), delta)
    assert out["prefilter"] == out["plain"]
    # FRONTIER_COLS leads with url
    assert reopened <= {row[0] for row in out["prefilter"][1]}


def test_unknown_store_format_refused(spark, seeded):
    """A store whose round-0 manifest lacks format_version, or names
    another one (the v1 layout included), is refused at open with a
    ValueError, so no round is ever scheduled on it. A fresh store
    records the version and the table schemas at the manifest's top
    level, outside the metrics."""
    import json

    from cc_crawl_statistics_spark.frontier.state import FORMAT_VERSION

    store, _ = seeded
    root = store.root
    for rnd in (0, 1):
        man = store.manifest(rnd)
        assert man["format_version"] == FORMAT_VERSION == 2
        assert "format_version" not in man["metrics"]
        assert "url_seen_delta" in man["schemas"]
        assert "schemas" not in man["metrics"]

    mpath = os.path.join(root, "round=0000", MANIFEST)
    with open(mpath) as f:
        good = json.load(f)
    rounds = sorted(os.listdir(root))
    for bad in ({k: v for k, v in good.items() if k != "format_version"},
                {**good, "format_version": 0},
                # a v1 manifest: no recorded schemas
                {**{k: v for k, v in good.items() if k != "schemas"},
                 "format_version": 1}):
        with open(mpath, "w") as f:
            json.dump(bad, f)
        with pytest.raises(ValueError, match="re-seed"):
            SnapshotStore(root)
        with pytest.raises(ValueError):
            scheduler.run_round(spark, SnapshotStore(root), SF_SMOKE)
        assert sorted(os.listdir(root)) == rounds


def _record_write_plans(monkeypatch) -> dict:
    """Physical plan of every parquet write from here on, keyed by the
    written directory's name."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans: dict = {}
    write = DataFrameWriter.parquet

    def spy(self, path, *a, **k):
        plans[os.path.basename(path)] = (
            self._df._jdf.queryExecution().executedPlan().toString()
        )
        return write(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return plans


def test_prefiltered_round_plan_probes_candidates_once(
    spark, tmp_path, monkeypatch
):
    """The Bloom probe of a prefiltered round runs once, in Catalyst, on
    the candidates: the frontier_delta plan has no Python node and no
    Union, no Filter or scan evaluates a hash of the URL (so nothing was
    pushed into the universe scan), and the shard table is scanned by
    exactly one join. Compaction starts no Python worker either."""
    store = SnapshotStore(str(tmp_path / "s"))
    scheduler.run_round(spark, store, SF_SMOKE, compact_every=0)
    plans = _record_write_plans(monkeypatch)
    store.compact_seen(spark, 1)
    assert {"url_seen_base.tmp", "url_seen_bloom.d"} <= set(plans)
    for name, plan in plans.items():
        assert not any(n in plan for n in PYTHON_NODES), (name, plan)
    plans.clear()
    # scan locations untruncated in the plan string
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        scheduler.run_round(
            spark, store, SF_SMOKE, compact_every=0, bloom_min_seen=0
        )
    finally:
        spark.conf.set(key, old)
    plan = plans["frontier_delta"]
    for node in (*PYTHON_NODES, "Union"):
        assert node not in plan, (node, plan)
    universe = [ln for ln in plan.splitlines() if "round=0000/universe" in ln]
    assert len(universe) == 1 and "xxhash64" not in universe[0], plan
    for ln in plan.splitlines():
        node = ln.lstrip(" :+-")
        if node.startswith(("Filter", "FileScan")):
            assert "xxhash64" not in node, (ln, plan)
    assert plan.count("url_seen_bloom.d") == 1, plan


def test_post_compaction_round_plans_drop_removed_jobs(
    spark, seeded, monkeypatch
):
    """The jobs a frontier pass no longer runs stay gone: compact_seen
    sizes the Bloom from the base's parquet footers (no DataFrame.count);
    the schedule ranks behind one hash exchange; url_seen_delta is a
    plain projection (no exchange); and right after a compaction the
    empty "recent deltas" relation folds away, leaving one LeftAnti and
    no RDD scan in the frontier_delta plan."""
    import json

    from cc_crawl_statistics_spark.frontier.shardedfilter import HEADER

    store, _ = seeded
    DataFrame = type(spark.range(0))  # the concrete (classic) class
    counted = []
    count = DataFrame.count

    def counting(self):
        counted.append(self)
        # off by one, so a header sized from a Spark count shows below
        return count(self) + 1

    monkeypatch.setattr(DataFrame, "count", counting)
    store.compact_seen(spark, 1)
    assert counted == []
    with open(os.path.join(store.prefilter_path(1), HEADER)) as f:
        n_keys = json.load(f)["n_keys"]
    assert n_keys == store.table_rows(1, "url_seen_base")
    monkeypatch.setattr(DataFrame, "count", count)

    plans = _record_write_plans(monkeypatch)
    scheduler.run_round(
        spark, store, SF_SMOKE, compact_every=0, bloom_min_seen=0
    )
    assert plans["schedule"].count("Exchange hashpartitioning") == 1, (
        plans["schedule"]
    )
    assert "Exchange" not in plans["url_seen_delta"], plans["url_seen_delta"]
    delta = plans["frontier_delta"]
    assert delta.count("LeftAnti") == 1 and "ExistingRDD" not in delta, delta


def test_store_reads_run_no_schema_inference(spark, tmp_path, monkeypatch):
    """Every store read binds a recorded schema: a prefiltered round,
    both compactions and a resume through a fresh handle never call
    DataFrameReader.parquet without .schema() first (each such call is
    a footer-reading Spark job)."""
    from pyspark.sql.readwriter import DataFrameReader

    root = str(tmp_path / "s")
    seeded = SnapshotStore(root)
    scheduler.run_round(spark, seeded, SF_SMOKE, compact_every=0)

    bind, parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, *a, **k):
        self._bound = True
        return bind(self, *a, **k)

    def checked_parquet(self, *paths, **k):
        if not getattr(self, "_bound", False):
            raise AssertionError(f"schema inference for {paths}")
        return parquet(self, *paths, **k)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", checked_parquet)
    seeded.compact_seen(spark, 1)
    seeded.compact_frontier(spark, 1)
    m2 = scheduler.run_round(
        spark, seeded, SF_SMOKE, compact_every=0, bloom_min_seen=0
    )
    m3 = scheduler.run_round(
        spark, SnapshotStore(root), SF_SMOKE, compact_every=0,
        bloom_min_seen=0,
    )
    assert (m2["round"], m3["round"]) == (2, 3)
    assert m3["n_scheduled"] > 0


def test_fetch_extract_invariant(spark, store):
    """A round run with document payloads writes a fetched table whose
    extracted text is byte-identical to the source text on every row
    (north-rule invariant), and the metrics surface the check."""
    from cc_crawl_statistics_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    scheduler.run_round(spark, store, SF_SMOKE, docs=docs)
    m = scheduler.run_round(spark, store, SF_SMOKE, docs=docs)
    assert m["n_extracted"] == m["n_scheduled"]
    assert m["n_extract_mismatch"] == 0
    fetched = store.read(spark, m["round"], "fetched")
    assert set(fetched.columns) >= {
        "round", "url", "doc_id", "html", "extracted_text", "extract_ok"
    }


def test_topk_window_group_limit_bounds_hot_host(spark):
    """Skew safety of the per-host priority queue: the executed plan has
    a Partial WindowGroupLimit below its only hash exchange, so a host
    with 100x the pending URLs ships at most the rank bound (the static
    max budget 4, or a literal budget below it) rows per map partition
    into the ranking, and the selected set is the true top-B for that
    host."""
    rows = [("http://hot.example/p%04d" % i, "hot.example", i % 5, (i * 7) % 100)
            for i in range(2000)]
    rows += [("http://cold%d.example/p0" % i, "cold%d.example" % i, 0, 50)
             for i in range(20)]
    cand = spark.createDataFrame(
        rows, "url string, host string, depth int, score int"
    ).withColumn("max_per_round", F.lit(3))

    top = scheduler.host_bucketed_topk(cand)
    plan = top._jdf.queryExecution().executedPlan().toString().splitlines()
    exchanges = [
        i for i, ln in enumerate(plan) if "Exchange hashpartitioning" in ln
    ]
    partial = [
        i for i, ln in enumerate(plan)
        if "WindowGroupLimit" in ln and ln.rstrip().endswith(", Partial")
    ]
    assert len(exchanges) == 1 and partial, "\n".join(plan)
    assert partial[0] > exchanges[0], "\n".join(plan)

    out = top.toPandas()
    hot = out[out.host == "hot.example"]
    assert len(hot) == 3  # budget respected
    # correctness vs a direct global ranking of the hot host
    direct = (
        cand.filter(F.col("host") == "hot.example")
        .orderBy(F.col("depth").asc(), F.col("score").desc(), F.col("url").asc())
        .limit(3).select("url").toPandas()["url"].tolist()
    )
    assert sorted(hot.sort_values("rank")["url"].tolist()) == sorted(direct)


def test_commit_resolves_multi_level_derived_tables(spark, tmp_path):
    """state.commit derived tables: a chain listed in dependency order
    resolves, each level reading the previous level's written parquet,
    with more writer threads than cores switching often. A read of a
    table listed later or of no table of the commit, and a callable that
    raises, fail the commit before the manifest; a retry of the same
    round then commits."""
    def plus_one(prev):
        return lambda read: read(prev).withColumn("x", F.col("x") + 1)

    base = spark.range(10).toDF("x")
    chain = {"t0": base}
    for i in range(1, 8):
        chain[f"t{i}"] = plus_one(f"t{i - 1}")
    store = SnapshotStore(str(tmp_path / "s"))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        store.commit(0, chain, {"round": 0})
    finally:
        sys.setswitchinterval(interval)
    for i in range(8):
        got = {r.x for r in store.read(spark, 0, f"t{i}").collect()}
        assert got == set(range(i, 10 + i)), (i, got)

    def boom(read):
        raise RuntimeError("plan failed")

    bad = SnapshotStore(str(tmp_path / "bad"))
    for tables, err in (
        # b reads c, which is listed after it
        ({"a": base, "b": lambda read: read("c"), "c": lambda read: read("a")},
         ValueError),
        ({"a": base, "b": lambda read: read("nope")}, ValueError),
        ({"a": base, "b": boom}, RuntimeError),
    ):
        with pytest.raises(err):
            bad.commit(1, tables, {"round": 1})
        assert not os.path.exists(os.path.join(bad._round_dir(1), MANIFEST))
        assert bad.latest_round() is None
    bad.commit(1, chain, {"round": 1})
    assert bad.latest_round() == 1
    assert {r.x for r in bad.read(spark, 1, "t7").collect()} == set(
        range(7, 17)
    )


def test_seed_round_is_one_commit(spark, store, monkeypatch):
    """The seed round goes through the same commit path as every round:
    it caches, persists and counts no DataFrame, records n_docs from the
    written universe's footers, and writes its url_seen_delta as a plain
    projection of the written frontier (no exchange)."""
    DataFrame = type(spark.range(0))  # the concrete (classic) class
    calls = []
    for name in ("count", "cache", "persist"):
        def spy(self, *a, _f=getattr(DataFrame, name), _n=name, **k):
            calls.append(_n)
            return _f(self, *a, **k)

        monkeypatch.setattr(DataFrame, name, spy)
    plans = _record_write_plans(monkeypatch)
    commit = store.commit
    at_seed = {}

    def seed_spy(rnd, *a, **k):
        out = commit(rnd, *a, **k)
        if rnd == 0:
            at_seed.update(calls=list(calls), plans=dict(plans))
        return out

    monkeypatch.setattr(store, "commit", seed_spy)
    scheduler.run_round(spark, store, SF_SMOKE)
    assert at_seed["calls"] == []
    n_docs = store.manifest(0)["metrics"]["n_docs"]
    assert n_docs == N_DOCS == store.table_rows(0, "universe")
    delta = at_seed["plans"]["url_seen_delta"]
    assert "Exchange" not in delta, delta


def test_rediscovery_after_reopen_survives_old_retire(spark, tmp_path):
    """A URL scheduled at round r, re-opened for recrawl, then
    RE-DISCOVERED at round d > r must not be swallowed by round r's
    schedule retire list when read_frontier reconstructs base+deltas
    (retires are round-aware: a retire list only applies to pending rows
    discovered before it was written)."""
    store = SnapshotStore(str(tmp_path / "s"))

    def write(rnd, table, df):
        # through commit, so the manifest records the table's schema
        store.commit(rnd, {table: df}, {"round": rnd})

    write(
        0,
        "frontier",
        spark.createDataFrame(
            [("http://h/a", "h/a"), ("http://h/b", "h/b")],
            "url string, surt_key string",
        ),
    )
    write(
        1,
        "schedule",
        spark.createDataFrame([("http://h/a",)], "url string"),
    )
    assert {r.url for r in store.read_frontier(spark, 1).collect()} == {
        "http://h/b"
    }
    # round 2: a reopened+re-discovered → fresh pending delta
    write(
        2,
        "frontier_delta",
        spark.createDataFrame([("http://h/a", "h/a")], "url string, surt_key string"),
    )
    got = store.read_frontier(spark, 2)
    assert set(got.columns) == {"url", "surt_key"}  # no helper-column leak
    assert {r.url for r in got.collect()} == {"http://h/a", "http://h/b"}
    # a LATER schedule does retire the re-discovered row
    write(
        3,
        "schedule",
        spark.createDataFrame([("http://h/a",)], "url string"),
    )
    assert {r.url for r in store.read_frontier(spark, 3).collect()} == {
        "http://h/b"
    }
    # compaction bakes the same answer into a new base
    store.compact_frontier(spark, 3)
    assert {r.url for r in store.read_frontier(spark, 3).collect()} == {
        "http://h/b"
    }


def test_blocklist_gated_discovery(spark, store):
    """The quality feedback loop closed at the scheduler seam: with one
    host blocklisted, rounds run unchanged except that NO discovered URL
    on that host ever enters the frontier — seeds on the host still
    retire normally (blocking is an admission rule, not retroactive)."""
    from cc_crawl_statistics_spark.sources.tables import pages_df

    # pick a host that the arithmetic expansion definitely discovers
    victim = "www.site1.org"
    blocklist = spark.createDataFrame([(victim,)], "host string")
    gated = scheduler.blocklist_gated_discovery(
        scheduler.expand_links, blocklist
    )
    for _ in range(3):
        scheduler.run_round(spark, store, SF_SMOKE, expand_fn=gated)
    latest = store.latest_round()
    frontier = store.read_frontier(spark, latest).toPandas()
    seeds = (
        pages_df(spark, SF_SMOKE)
        .select("url", "host")
        .distinct()
        .filter(F.col("host") == victim)
        .toPandas()
    )
    on_victim = frontier[frontier.host == victim]
    # every victim-host row in the frontier must be a seed URL (round-0
    # seeding bypasses discovery by design); nothing NEW was admitted
    assert set(on_victim.url) <= set(seeds.url)
    # control: the ungated run does admit... (same store shape, new store)
    # — covered implicitly: with gating removed the same rounds schedule
    # the victim's children; assert the gate actually dropped something
    ungated = scheduler.expand_links
    st2 = SnapshotStore(store.root + "_ctl")
    for _ in range(3):
        scheduler.run_round(spark, st2, SF_SMOKE, expand_fn=ungated)
    f2 = st2.read_frontier(spark, st2.latest_round()).toPandas()
    assert len(f2[f2.host == victim]) > len(on_victim)


def test_expire_rounds_bit_identical_and_unreachable_removed(spark, tmp_path):
    """state.expire_rounds (the Iceberg expire_snapshots analog): after
    compaction, dropping the pre-cutoff state tables changes NOTHING a
    read at rounds >= the bases can see — the next scheduled round, the
    reconstructed frontier and the seen set are bit-identical to an
    unexpired copy of the same store — while the dead tables are gone,
    manifests/corpus dimensions survive, and time travel before the
    cutoff now fails loudly."""
    a = SnapshotStore(str(tmp_path / "keep"))
    for _ in range(1, 5):
        scheduler.run_round(
            spark, a, SF_SMOKE, compact_every=2, bloom_min_seen=0
        )
    # identical store copy, then expire one of them
    shutil.copytree(a.root, str(tmp_path / "expired"))
    b = SnapshotStore(str(tmp_path / "expired"))
    removed = b.expire_rounds(4)
    cutoff = min(a.frontier_base_round(4), a.seen_base_round(4))
    assert cutoff >= 2  # compaction ran, so the test exercises deletion
    assert removed, "expected pre-cutoff state tables to be removed"
    for p in removed:
        assert not os.path.exists(p)
        assert int(p.split("round=")[1][:4]) < cutoff
    # idempotent
    assert b.expire_rounds(4) == []
    # manifests + corpus dimensions survive at every round
    for r in range(0, 5):
        assert os.path.exists(os.path.join(b._round_dir(r), MANIFEST))
    assert os.path.exists(os.path.join(b._round_dir(0), "universe"))
    assert os.path.exists(os.path.join(b._round_dir(0), "host_ledger"))
    # reads at the head are bit-identical to the unexpired store
    assert (
        sorted(map(tuple, a.read_seen(spark, 4).collect()))
        == sorted(map(tuple, b.read_seen(spark, 4).collect()))
    )
    fa = a.read_frontier(spark, 4).drop("doc_id")
    fb = b.read_frontier(spark, 4).drop("doc_id")
    assert (
        sorted(map(tuple, fa.collect())) == sorted(map(tuple, fb.collect()))
    )
    # the NEXT round schedules identically on both stores
    scheduler.run_round(spark, a, SF_SMOKE, compact_every=2, bloom_min_seen=0)
    scheduler.run_round(spark, b, SF_SMOKE, compact_every=2, bloom_min_seen=0)
    assert schedule_rows(spark, a, 5) == schedule_rows(spark, b, 5)
    # time travel before the cutoff is gone, and fails loudly
    with pytest.raises(FileNotFoundError):
        b.read_frontier(spark, cutoff - 1)


def test_stats_merge_is_lossless_and_associative(spark):
    """Mergeable statistics: folding per-crawl sketched stats equals the
    direct single pass on the exact columns (lossless), and EVERY merge
    shape's estimate lands within the HLL error envelope of the true
    distinct count. Estimates are not bit-invariant across assembly
    paths (HIP vs composite estimator, mode-promotion points — see
    merge_round_statistics docstring), which is exactly why the driver
    oracle compares only the exact columns."""
    from pyspark.sql import functions as F

    from cc_crawl_statistics_spark.frontier.scheduler import (
        merge_round_statistics,
        sketched_round_statistics,
    )
    from cc_crawl_statistics_spark.sources.tables import pages_df
    from tests.conftest import SF_SMOKE

    pages = pages_df(spark, SF_SMOKE)
    parts = [
        sketched_round_statistics(pages.filter(F.col("crawl_id") == i))
        for i in range(3)
    ]

    def snap(df):
        return {
            (r.type, r.key): (r.pages, r.urls, r.est)
            for r in df.select(
                "type", "key", "pages", "urls",
                F.hll_sketch_estimate("url_hll").cast("long").alias("est"),
            ).collect()
        }

    direct = snap(sketched_round_statistics(pages))
    merged = snap(merge_round_statistics(*parts))
    # exact columns: lossless
    assert {k: v[:2] for k, v in merged.items()} == {
        k: v[:2] for k, v in direct.items()
    }
    # reordered/nested fold: exact columns identical, estimates within
    # envelope (not bit-equal — assembly-path-dependent estimator)
    nested = snap(
        merge_round_statistics(
            merge_round_statistics(parts[2], parts[0]), parts[1]
        )
    )
    assert {k: v[:2] for k, v in nested.items()} == {
        k: v[:2] for k, v in merged.items()
    }
    g = ("size", "global")
    exact = pages.agg(F.count_distinct("url")).first()[0]
    for est in (merged[g][2], nested[g][2], direct[g][2]):
        assert abs(est - exact) <= max(2, exact // 50)  # ≤2%
    # the distinct estimate is genuinely per-key: the global row's
    # distinct urls exceed any single host's
    assert merged[g][2] == max(v[2] for v in merged.values())


def test_priority_aging_bit_for_bit(spark, tmp_path):
    """Starvation-free aging (age_boost): under a flat-depth expansion
    and a budget-1 ledger — the contention shape where same-depth
    competitors carry different discovery rounds — the Spark engine
    matches the model bit-for-bit over 6 rounds with aging ON, and the
    aged schedule provably diverges from the static one (so the
    _src_rnd age wiring is load-bearing, not vacuous)."""
    import os
    import shutil

    from cc_crawl_statistics_spark.frontier.scheduler import expand_links

    def flat_expand(sched_m, universe, n_docs):
        out = expand_links(sched_m, universe, n_docs)
        t = dict(out.dtypes)["depth"]
        return out.withColumn("depth", F.lit(1).cast(t))

    def cap_ledger(st_store):
        """Rewrite the seeded store's ledger to budget 1 everywhere,
        preserving the original column types."""
        path = os.path.join(st_store.root, "round=0000", "host_ledger")
        df = spark.read.parquet(path)
        t = dict(df.dtypes)["max_per_round"]
        tmp = path + ".tmp"
        df.withColumn("max_per_round", F.lit(1).cast(t)).write.mode(
            "overwrite"
        ).parquet(tmp)
        shutil.rmtree(path)
        os.replace(tmp, path)

    def run(boost, root):
        sp_store = SnapshotStore(str(tmp_path / root))
        st = model.seed(N_DOCS, age_boost=boost, flat_depth=True)
        out = []
        for rnd in range(1, 7):
            scheduler.run_round(
                spark, sp_store, SF_SMOKE,
                age_boost=boost, expand_fn=flat_expand,
            )
            msched = model.run_round(st)
            got = schedule_rows(spark, sp_store, rnd)
            assert got == model_rows(msched), (boost, rnd)
            out.append(got)
            if rnd == 1:  # cap budgets from round 2 on, both engines
                cap_ledger(sp_store)
                st.budget_cap = 1
        return out

    aged = run(40, "aged")
    static = run(0, "static")
    assert aged != static  # aging visibly reorders under contention


def test_reopen_for_policy_change_glue(spark, seeded):
    """Robots-drift reopen: exactly the disallowed→allowed flip set's
    canonical seen keys leave the seen set; a host-level no-op epoch pair
    reopens nothing."""
    from cc_crawl_statistics_spark.frontier.robots import unblocked_urls
    from cc_crawl_statistics_spark.frontier.scheduler import (
        reopen_for_policy_change,
        seen_key,
    )
    from cc_crawl_statistics_spark.sources.tables import pages_df

    store, _ = seeded
    pages = pages_df(spark, SF_SMOKE)
    before = {r.seen_key for r in store.read_seen(spark, 1).collect()}
    n = reopen_for_policy_change(spark, store, 1, pages, 0, 1)
    after = {r.seen_key for r in store.read_seen(spark, 1).collect()}
    due_keys = {
        r.k
        for r in unblocked_urls(pages, 0, 1)
        .select(seen_key(F.col("url")).alias("k"))
        .distinct()
        .collect()
    }
    assert n == len(due_keys) > 0
    assert after == before - due_keys
    # identical epochs -> no flips -> no seen-set edit
    n0 = reopen_for_policy_change(spark, store, 1, pages, 1, 1)
    assert n0 == 0
    again = {r.seen_key for r in store.read_seen(spark, 1).collect()}
    assert again == after


def test_run_round_fetcher_sharding(spark, tmp_path):
    """n_fetchers stamps a host-affine fetcher column on the schedule
    (matching the capacity module's ring exactly), leaves everything else
    bit-identical to the unsharded round, and records the fleet balance
    metric."""
    import hashlib

    from cc_crawl_statistics_spark.frontier import capacity as C

    plain = SnapshotStore(str(tmp_path / "plain"))
    sharded = SnapshotStore(str(tmp_path / "sharded"))
    scheduler.run_round(spark, plain, SF_SMOKE)
    m = scheduler.run_round(spark, sharded, SF_SMOKE, n_fetchers=4)
    assert schedule_rows(spark, plain, 1) == schedule_rows(spark, sharded, 1)
    rows = sharded.read(spark, 1, "schedule").collect()
    ring = C.ring_points(4, 16)

    def fetcher_of(h: str) -> int:
        hp = int(hashlib.md5(h.encode()).hexdigest()[:8], 16)
        for p, f in ring:
            if p >= hp:
                return f
        return ring[0][1]

    per_host: dict[str, set] = {}
    for r in rows:
        per_host.setdefault(r.host, set()).add(r.fetcher)
        assert r.fetcher == fetcher_of(r.host)
    assert all(len(s) == 1 for s in per_host.values())
    assert 0 < m["fetcher_max_load_permille"] <= 1000


def test_round_trajectory_matches_manifests(spark, seeded):
    """Trajectory rows come straight from the committed manifests; the
    discovery ratio is the integer permille of new/scheduled."""
    from cc_crawl_statistics_spark.frontier.state import round_trajectory

    store, _ = seeded
    for _ in range(2):
        scheduler.run_round(spark, store, SF_SMOKE)
    rows = {r.round: r for r in round_trajectory(spark, store).collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert rows[0].n_seeded == rows[0].n_seen > 0
    for rnd in (1, 2, 3):
        m = store.manifest(rnd)["metrics"]
        r = rows[rnd]
        assert r.n_scheduled == m["n_scheduled"]
        assert r.n_discovered_new == m["n_discovered_new"]
        assert r.n_seen == m["n_seen"]
        assert r.n_frontier_pending == m["n_frontier_pending"]
        assert r.discovery_permille == (
            m["n_discovered_new"] * 1000 // m["n_scheduled"]
        )
    # expire_rounds never deletes a manifest, so a round below the latest
    # without one is a damaged store: the trajectory raises, not skips
    os.remove(os.path.join(store.root, "round=0002", MANIFEST))
    assert store.latest_round() == 3
    with pytest.raises(FileNotFoundError):
        round_trajectory(spark, store)


def test_bench_frontier_phase_repeats_round_2(spark, tmp_path):
    """bench.fresh_round copies the bootstrap store per rep, so every run
    of its thunk is round 2 with identical metrics."""
    import bench
    from cc_crawl_statistics_spark.sources.tables import pages_df

    boot = str(tmp_path / "boot")
    bench.bootstrap_store(spark, boot, pages_df(spark, SF_SMOKE), 4)
    prepare = bench.fresh_round(spark, boot, str(tmp_path / "rep"), 4)
    runs = [prepare()() for _ in range(3)]
    assert runs[0]["round"] == 2 and runs[0]["n_scheduled"] > 0
    assert runs[1] == runs[0] and runs[2] == runs[0]
    assert SnapshotStore(boot).latest_round() == 1


def test_enforce_robots_paths_bit_for_bit(spark, store):
    """Fetch-time per-path robots gate: three rounds Spark == model with
    enforce_paths — allowed rows, denied rows (with pre-gate ranks), the
    n_robots_denied metric, and the expansion-from-allowed-only frontier
    all line up; denied rows never reappear in later schedules."""
    st = model.seed(N_DOCS)
    st.enforce_paths = True
    seen_urls: set[str] = set()
    for rnd in range(1, 4):
        metrics = scheduler.run_round(
            spark, store, SF_SMOKE, enforce_robots_paths=True
        )
        msched = model.run_round(st)
        tbl = store.read(spark, rnd, "schedule").toPandas()
        got = sorted(
            map(
                tuple,
                tbl[
                    ["round", "url", "host", "depth", "score", "rank",
                     "allowed"]
                ].itertuples(index=False, name=None),
            )
        )
        exp = sorted(
            (x["round"], x["url"], x["host"], x["depth"], x["score"],
             x["rank"], x["allowed"])
            for x in msched
        )
        assert got == exp
        n_denied = sum(1 for x in msched if not x["allowed"])
        assert metrics["n_robots_denied"] == n_denied
        assert n_denied > 0  # the gate actually fires on this fixture
        dup = seen_urls & set(tbl.url)
        assert not dup  # retirement covers denied rows too
        seen_urls |= set(tbl.url)


def test_mid_store_flag_enable_widens_schedule_schema(spark, seeded):
    """Turning enforcement/sharding ON for a store whose earlier rounds
    wrote the narrow schedule schema must not bind an earlier round's
    narrow schema to the new round's tables (regression: the
    commit-internal and metrics reads dropped the new columns)."""
    store, _ = seeded
    m2 = scheduler.run_round(
        spark, store, SF_SMOKE, enforce_robots_paths=True, n_fetchers=4
    )
    assert m2["n_robots_denied"] > 0
    assert 0 < m2["fetcher_max_load_permille"] <= 1000
    cols = set(store.read(spark, 2, "schedule").columns)
    assert {"allowed", "fetcher"} <= cols


def test_opic_and_backoff_drive_the_priority_queue(spark):
    """Glue: the session's scoring/budget operators plug into the REAL
    selection operator — OPIC importance as host_bucketed_topk's
    score_col, server-pressure backoff budgets as its budget_col — and
    the selected set matches an independent per-host recompute."""
    from pyspark.sql import functions as F

    from cc_crawl_statistics_spark.frontier.politeness import (
        server_pressure_backoff,
    )
    from cc_crawl_statistics_spark.frontier.scheduler import (
        host_bucketed_topk,
    )
    from cc_crawl_statistics_spark.operators.opic import opic

    # two hosts x five pages; host B is under pressure (budget shrinks)
    nodes = list(range(10))
    edges = [(i, (i * 3 + 1) % 10) for i in nodes] + [(0, 5), (1, 5)]
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    imp = opic(
        edf, ndf, n_rounds=3, fetched_sql=lambda r: f"node % 3 = {r % 3}"
    ).select("node", "importance_fp")

    cand = (
        imp.withColumn(
            "host",
            F.when(F.col("node") < 5, "a.example").otherwise("b.example"),
        )
        .withColumn(
            "url",
            F.concat(
                F.lit("https://"), F.col("host"), F.lit("/p/"),
                F.col("node"),
            ),
        )
        .withColumn("depth", F.lit(0))
        .withColumn("score", F.col("importance_fp"))
    )
    fetches = [("a.example", 200)] * 10 + [
        ("b.example", 503)
    ] * 4 + [("b.example", 200)] * 6
    ledger = spark.createDataFrame(
        [("a.example", 3), ("b.example", 3)],
        "host string, max_per_round int",
    )
    budgets = server_pressure_backoff(
        spark.createDataFrame(fetches, "host string, status int"), ledger
    ).select("host", F.col("backoff_budget").alias("max_per_round"))

    sel = host_bucketed_topk(cand.join(budgets, "host"))
    got = sorted(
        (r["host"], r["url"]) for r in sel.select("host", "url").collect()
    )

    rows = cand.select("host", "url", "score").collect()
    buds = {r["host"]: r["max_per_round"] for r in budgets.collect()}
    want = []
    for host in ("a.example", "b.example"):
        hs = sorted(
            (r for r in rows if r["host"] == host),
            key=lambda r: (-r["score"], r["url"]),
        )
        want += [(host, r["url"]) for r in hs[: buds[host]]]
    assert got == sorted(want)
    # pressure host got fewer slots than its ledger budget
    assert buds["b.example"] == 1 and buds["a.example"] == 3
