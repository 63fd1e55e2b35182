"""Snapshot-versioned frontier state store.

Production target is Iceberg (snapshot commits ARE the checkpoints); the
sandbox image has no Iceberg runtime jar, so the same semantics are provided
by a directory-per-snapshot parquet layout behind one small interface:

    root/
      round=0000/  _MANIFEST.json  frontier/  url_seen/  host_ledger/ schedule/
      round=0001/  ...

A snapshot is visible only once ``_MANIFEST.json`` exists (written last,
atomically via tmp+rename) — the same commit-protocol property an Iceberg
snapshot gives. Resume = open the highest round with a manifest; a crashed
round leaves no manifest and is ignored, so re-running it is idempotent
(north_rule: resumable from checkpoint with per-partition lineage+metrics).

There is one store format. Every manifest carries ``format_version``
(``FORMAT_VERSION``) at its top level, and opening a store whose round-0
manifest names another version (or none) fails loudly: the engine reads
no other layout, so such a store must be re-seeded.

Every manifest also records, under its top-level ``schemas`` key, the
schema of every table kind as of that snapshot: the tables the round
wrote, plus the kinds it inherits from the previous manifest (the
Iceberg table-metadata pattern). Every read binds a recorded schema, so
no read launches a parquet schema-inference job:
  - a single-round read binds that round's recorded schema;
  - a derived read inside ``commit`` binds the schema of the DataFrame
    it just wrote;
  - a multi-path read binds the newest recorded schema of its kind;
  - compaction outputs reuse the schema of the kind they compact
    (``url_seen_base`` and reopen lists are read as ``url_seen_delta``,
    a compacted ``frontier`` as ``frontier``).
A table whose schema widens mid-store (``schedule`` gains
``allowed``/``fetcher`` when enforcement or fetcher sharding is turned
on) is read with each round's own schema, and multi-path readers project
only columns present in every round.

Scale notes:
  - the frontier is written ``repartitionByRange(N, "surt_key")`` so each
    partition owns a contiguous SURT range — the next round's scan is
    partition-aligned and hot SURT prefixes split by raising N (salting
    handled in scheduler.py);
  - url_seen is APPEND-ONLY: the seed delta is range-partitioned on
    seen_key, every later round's delta is HASH-partitioned (seen keys
    are uniform 64-bit hashes, so hash partitioning clusters identically
    to range without the range partitioner's extra sampling pass). The
    full set as of round R = compacted base (if any) + subsequent deltas;
  - ``compact_seen`` merges the deltas into one hash-partitioned base
    every K rounds, bounding the file/listing count read_seen unions (at
    thousands of rounds an uncompacted store is a file-listing problem,
    ~64 bits/key ≈ 80 GiB at 10^10 URLs) and materializes the sharded
    Bloom prefilter (frontier/shardedfilter.py) the anti-join consults:
    candidates the Bloom rejects as definitely-unseen skip the exact
    anti-join against the base; "maybe seen" rows still go through it,
    so results stay exact.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST.json"
FORMAT_VERSION = 2
PREFILTER = "url_seen_bloom.d"


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        m0 = os.path.join(self._round_dir(0), MANIFEST)
        if os.path.exists(m0):
            with open(m0) as f:
                found = json.load(f).get("format_version")
            if found != FORMAT_VERSION:
                raise ValueError(
                    f"snapshot store {root} has format_version {found!r}, "
                    f"this engine reads only {FORMAT_VERSION}; re-seed the "
                    "store (run_round on an empty root)"
                )

    def _round_dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"round={rnd:04d}")

    def _schemas(self, rnd: int) -> dict:
        """The ``schemas`` entry of the newest committed manifest at or
        below round ``rnd`` ({} when there is none)."""
        for r in range(rnd, -1, -1):
            path = os.path.join(self._round_dir(r), MANIFEST)
            if os.path.exists(path):
                with open(path) as f:
                    return json.load(f)["schemas"]
        return {}

    def _schema(self, kind: str, rnd: int) -> StructType:
        schemas = self._schemas(rnd)
        if kind not in schemas:
            raise KeyError(
                f"no schema recorded for table kind {kind!r} as of round "
                f"{rnd} in {self.root}"
            )
        return StructType.fromJson(schemas[kind])

    def _read(
        self, spark: SparkSession, kind: str, rnd: int, *paths: str
    ) -> DataFrame:
        """Read parquet path(s) of one table kind, bound to the kind's
        schema as recorded at round ``rnd``."""
        return spark.read.schema(self._schema(kind, rnd)).parquet(*paths)

    def table_rows(self, rnd: int, table: str) -> int:
        """Exact row count of a written table from parquet footer metadata —
        driver-side file reads, no Spark job (the Iceberg-manifest
        row-count pattern: snapshot metadata answers COUNT(*) without
        touching data). File count per table is bounded by n_partitions."""
        import pyarrow.parquet as pq

        d = os.path.join(self._round_dir(rnd), table)
        return sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    def latest_round(self) -> int | None:
        """Highest round with a committed manifest, or None."""
        best = None
        for name in os.listdir(self.root):
            if not name.startswith("round="):
                continue
            rnd = int(name.split("=", 1)[1])
            if os.path.exists(os.path.join(self.root, name, MANIFEST)):
                best = rnd if best is None else max(best, rnd)
        return best

    def read(self, spark: SparkSession, rnd: int, table: str) -> DataFrame:
        """One table of one round, bound to that round's recorded schema
        (so a widened table reads with its new columns)."""
        return self._read(
            spark, table, rnd, os.path.join(self._round_dir(rnd), table)
        )

    def seen_base_round(self, upto_rnd: int) -> int | None:
        """Highest round ≤ upto_rnd holding a compacted url_seen_base."""
        for r in range(upto_rnd, -1, -1):
            if os.path.exists(
                os.path.join(self._round_dir(r), "url_seen_base")
            ):
                return r
        return None

    def read_seen(self, spark: SparkSession, upto_rnd: int) -> DataFrame:
        """The URL-seen set as of a round: the latest compacted base (if
        any) plus the per-round append-only deltas after it (the
        Iceberg-append + periodic-rewrite pattern — each round adds one
        delta instead of rewriting the 10^10-key set; compaction bounds
        the delta-file count), minus any re-opened keys (reopen_seen)
        not re-added by a later delta."""
        from pyspark.sql import functions as F

        base = self.seen_base_round(upto_rnd)
        paths = []
        if base is not None:
            paths.append(os.path.join(self._round_dir(base), "url_seen_base"))
        start = 0 if base is None else base + 1
        paths += [
            os.path.join(self._round_dir(r), "url_seen_delta")
            for r in range(start, upto_rnd + 1)
        ]
        seen = self._read(
            spark, "url_seen_delta", upto_rnd,
            *[p for p in paths if os.path.exists(p)],
        )
        # reopen lists: bounded per round (recrawl tiers), retired by the
        # next compaction (the rewritten base already excludes them).
        # Range starts AT the base round: a reopen filed after that
        # round's compaction must still apply; one filed before was
        # folded in, and re-applying is a no-op thanks to the
        # re-add guard below.
        for r0 in range(max(start - 1, 0), upto_rnd + 1):
            p = os.path.join(self._round_dir(r0), "url_seen_reopen")
            if not os.path.exists(p):
                continue
            rk = self._read(spark, "url_seen_delta", upto_rnd, p)
            # a key re-seen AFTER its reopen is seen again — keep it
            readd = self.read_seen_deltas(spark, r0 + 1, upto_rnd)
            eff = rk.join(readd, "seen_key", "left_anti")
            seen = seen.join(F.broadcast(eff), "seen_key", "left_anti")
        return seen

    def reopen_seen(
        self, spark: SparkSession, rnd: int, keys: DataFrame
    ) -> None:
        """Re-open previously-seen URLs for refetch (adaptive recrawl,
        operators/recrawl.py decides which): file a bounded reopen list
        under ``rnd``. read_seen subtracts these keys until a later delta
        re-adds them. The Bloom prefilter needs no change: it only
        over-approximates, so a reopened key takes the maybe-path until
        the next compaction rebuilds the filter, and the exact anti-join
        there consults the reopen-adjusted seen set. The next discovery
        of a reopened URL schedules it again."""
        out = os.path.join(self._round_dir(rnd), "url_seen_reopen")
        keys.select("seen_key").coalesce(1).write.mode("overwrite").parquet(
            out
        )

    def read_seen_deltas(
        self, spark: SparkSession, from_rnd: int, upto_rnd: int
    ) -> DataFrame:
        """Just the per-round deltas in [from_rnd, upto_rnd] (used as the
        small anti-join side for Bloom-rejected candidates). Returns an
        empty seen-key relation when no deltas exist in the range."""
        paths = [
            os.path.join(self._round_dir(r), "url_seen_delta")
            for r in range(from_rnd, upto_rnd + 1)
        ]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            return spark.createDataFrame([], "seen_key bigint")
        return self._read(spark, "url_seen_delta", upto_rnd, *paths)

    def frontier_base_round(self, upto_rnd: int) -> int | None:
        """Highest round ≤ upto_rnd holding a materialized full frontier
        (the seed round or a compaction rewrite)."""
        for r in range(upto_rnd, -1, -1):
            if os.path.exists(os.path.join(self._round_dir(r), "frontier")):
                return r
        return None

    def read_frontier(
        self,
        spark: SparkSession,
        upto_rnd: int,
        keep_src_rnd: bool = False,
    ) -> DataFrame:
        """The pending frontier as of a round — same append-only +
        periodic-rewrite pattern as read_seen, because at 10¹⁰ URLs the
        frontier must not be rewritten per round any more than the seen
        set: latest materialized base, plus the per-round discovery deltas
        after it, minus the per-round retire lists. The retire lists are
        the ALREADY-PERSISTED schedule and blocked tables (scheduled rows
        retire by url; blocked rows are by construction exactly the
        pending rows on robots-403 hosts that round), budget-bounded per
        round (hosts × budget, plus newly-discovered blocked-host rows),
        so the anti-join side broadcasts. Compaction bounds the chain
        length. Bit-identical to the full-rewrite layout
        (test_frontier.py::test_three_rounds_bit_for_bit)."""
        from pyspark.sql import functions as F

        base = self.frontier_base_round(upto_rnd)
        if base is None:
            raise FileNotFoundError(f"no frontier base ≤ round {upto_rnd}")
        # Retires are ROUND-AWARE: a schedule/blocked list written at round
        # r can only retire pending rows discovered at a round < r (a row
        # discovered at round d first appears in schedule at some round
        # > d). Without this, a URL re-opened for recrawl and then
        # re-discovered at round d would be silently swallowed by its own
        # pre-reopen schedule entry whenever that entry is younger than the
        # last frontier compaction. The round of every row is recovered
        # from its snapshot path (round=NNNN), so the retire sides stay
        # one multi-path read each (not one reader per round: each
        # spark.read.parquet call pays a serial driver-side listing pass).
        rnd_of_path = F.regexp_extract(
            F.input_file_name(), r"round=(\d+)", 1
        ).cast("int")
        cur = self.read(spark, base, "frontier").withColumn(
            "_src_rnd", F.lit(base)
        )
        deltas = [
            os.path.join(self._round_dir(r), "frontier_delta")
            for r in range(base + 1, upto_rnd + 1)
        ]
        deltas = [p for p in deltas if os.path.exists(p)]
        if deltas:
            cur = cur.unionByName(
                self._read(
                    spark, "frontier_delta", upto_rnd, *deltas
                ).withColumn("_src_rnd", rnd_of_path)
            )
        retired = []
        for t in ("schedule", "blocked"):
            paths = [
                os.path.join(self._round_dir(r), t)
                for r in range(base + 1, upto_rnd + 1)
            ]
            paths = [p for p in paths if os.path.exists(p)]
            if paths:
                retired.append(
                    self._read(spark, t, upto_rnd, *paths).select(
                        "url", rnd_of_path.alias("_ret_rnd")
                    )
                )
        if retired:
            ret = retired[0]
            for x in retired[1:]:
                ret = ret.unionByName(x)
            # broadcast hash anti-join on url; the round inequality rides
            # along as an extra join condition (still a BHJ, no loop join)
            cur = cur.alias("f").join(
                F.broadcast(ret).alias("r"),
                (F.col("f.url") == F.col("r.url"))
                & (F.col("r._ret_rnd") > F.col("f._src_rnd")),
                "left_anti",
            )
        # _src_rnd = the round each pending row was discovered (recovered
        # from its snapshot path; floored to the base round after a
        # frontier compaction rewrite). keep_src_rnd exposes it for
        # priority aging (scheduler.run_round age_boost).
        return cur if keep_src_rnd else cur.drop("_src_rnd")

    def compact_frontier(
        self, spark: SparkSession, upto_rnd: int, n_partitions: int = 4
    ) -> None:
        """Materialize the reconstructed frontier as the new base under
        ``upto_rnd`` (tmp + rename — idempotent post-commit maintenance; a
        crash loses nothing, read_frontier keeps using the older
        base+deltas). repartitionByRange restores the contiguous-SURT
        clustering the hash-partitioned deltas don't maintain."""
        out = os.path.join(self._round_dir(upto_rnd), "frontier")
        if os.path.exists(out):
            return
        tmp = out + ".tmp"
        self.read_frontier(spark, upto_rnd).repartitionByRange(
            n_partitions, "surt_key"
        ).write.mode("overwrite").parquet(tmp)
        os.replace(tmp, out)

    def compact_seen(
        self,
        spark: SparkSession,
        upto_rnd: int,
        n_partitions: int = 4,
        bloom_bits_per_key: int = 10,
    ) -> None:
        """Merge base + deltas up to ``upto_rnd`` into a single
        hash-partitioned ``url_seen_base`` under that round's directory,
        and materialize the Bloom prefilter beside it. Idempotent: safe to
        re-run after a crash (tmp + rename into place); read_seen prefers
        the newest base, so an interrupted compaction never loses keys —
        the old deltas remain until the new base is in place."""
        seen = self.read_seen(spark, upto_rnd)
        rdir = self._round_dir(upto_rnd)
        tmp = os.path.join(rdir, "url_seen_base.tmp")
        final = os.path.join(rdir, "url_seen_base")
        seen.repartition(n_partitions, "seen_key").write.mode(
            "overwrite"
        ).parquet(tmp)
        # the prefilter is a SHARDED table (frontier/shardedfilter.py): one
        # words row per key-range shard; the filter never exists as one
        # driver/broadcast object (the 10^10-key frame makes a single blob
        # ~12.5 GB — SURVEY §7 hard part 6)
        from .shardedfilter import build_sharded_bloom

        build_sharded_bloom(
            self._read(spark, "url_seen_delta", upto_rnd, tmp),
            os.path.join(rdir, PREFILTER),
            bits_per_key=bloom_bits_per_key,
        )
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(tmp, final)

    # per-round state tables an expiration may remove (never the round-0
    # corpus dimensions universe/host_ledger, never manifests)
    _STATE_TABLES = (
        "frontier",
        "frontier_delta",
        "url_seen_base",
        "url_seen_delta",
        "url_seen_reopen",
        "schedule",
        "blocked",
        PREFILTER,
    )
    _OUTPUT_TABLES = ("round_stats", "fetched")

    def expire_rounds(
        self, upto_rnd: int, include_outputs: bool = False
    ) -> list[str]:
        """Iceberg ``expire_snapshots`` analog: drop per-round state tables
        that no read at rounds ≥ the newest bases can ever touch, bounding
        store growth over thousands of rounds (at 10¹⁰ URLs the dead
        pre-compaction deltas/bases dominate the footprint).

        Safe-set derivation (mirrors read_frontier/read_seen exactly):
        with fb = frontier_base_round(upto) and sb = seen_base_round(upto),
        any read at rounds ≥ cutoff = min(fb, sb) touches only (a) the
        bases themselves, (b) deltas/retire lists/reopens at rounds ≥ the
        respective base, and (c) the round-0 corpus dimensions + manifests
        — so every state table at rounds < cutoff is unreachable. Those
        are removed; manifests (metrics / partition-lineage history) and
        ``universe``/``host_ledger`` are always kept, and the analytics
        outputs (round_stats, fetched) only go with ``include_outputs``.

        The trade-off is Iceberg's: time travel BEFORE the cutoff is gone
        (read_frontier raises FileNotFoundError for expired rounds —
        pinned by test); resume from any round ≥ cutoff is bit-identical
        (pinned by test). Idempotent and crash-safe: deletion order
        doesn't matter because nothing reachable is ever deleted."""
        fb = self.frontier_base_round(upto_rnd)
        sb = self.seen_base_round(upto_rnd)
        if fb is None or sb is None:
            return []
        cutoff = min(fb, sb)
        removed: list[str] = []
        tables = self._STATE_TABLES + (
            self._OUTPUT_TABLES if include_outputs else ()
        )
        for r in range(0, cutoff):
            rdir = self._round_dir(r)
            if not os.path.isdir(rdir):
                continue
            for t in tables:
                p = os.path.join(rdir, t)
                if os.path.exists(p):
                    shutil.rmtree(p)
                    removed.append(p)
        return removed

    def prefilter_path(self, upto_rnd: int) -> str | None:
        """Directory of the newest committed Bloom prefilter ≤ upto_rnd
        (frontier/shardedfilter.py), or None before the first
        compaction."""
        base = self.seen_base_round(upto_rnd)
        if base is None:
            return None
        from .shardedfilter import is_committed

        p = os.path.join(self._round_dir(base), PREFILTER)
        return p if is_committed(p) else None

    def manifest(self, rnd: int) -> dict:
        with open(os.path.join(self._round_dir(rnd), MANIFEST)) as f:
            return json.load(f)

    def commit(self, rnd: int, tables: dict, metrics) -> dict:
        """Write all tables, then the manifest last (atomic rename) — the
        snapshot-commit point. ``metrics`` may be a dict or a callable
        ``(read: table_name -> DataFrame) -> dict`` evaluated *after* the
        data is on disk, so metric counts scan written parquet instead of
        re-executing the round's whole lineage.

        A table value may be a DataFrame or a CALLABLE ``read -> DataFrame``
        evaluated after the tables it reads are on disk (``read``
        resolves already-written tables of this round). Callables express
        derived tables (e.g. the seen-key projection of the discovery
        delta): the heavy lineage executes exactly once, inside the write
        of the table it derives from, and the derived write re-reads that
        bounded parquet instead of forcing an eager checkpoint upstream —
        so the expensive write overlaps the other concurrent writes
        instead of serializing before them. Derivation chains any depth:
        callables are resolved in waves — each wave evaluates every
        remaining callable whose inputs exist (``read`` of an unwritten
        table defers the callable to a later wave) and writes the wave
        concurrently."""
        rdir = self._round_dir(rnd)
        if os.path.exists(rdir):  # crashed, uncommitted attempt: redo
            if os.path.exists(os.path.join(rdir, MANIFEST)):
                raise ValueError(f"round {rnd} already committed")
            shutil.rmtree(rdir)
        os.makedirs(rdir)
        import time as _time
        from concurrent.futures import ThreadPoolExecutor

        self.last_commit_timings = {}

        # The table writes are independent jobs over already-materialized
        # inputs (checkpointed/persisted upstream), so each wave submits
        # them CONCURRENTLY, one driver thread per table: py4j releases the
        # GIL during JVM work and Spark schedules the jobs side by side,
        # overlapping the per-job fixed latency (driver scheduling + output
        # commit) that otherwise serializes — measured as the largest slice
        # of the round's constant cost (BENCH.md Amdahl fit). A failed
        # write raises before the manifest is written, so crash semantics
        # are unchanged (no manifest = round never happened).
        written: dict[str, StructType] = {}

        def _write(item):
            name, df = item
            path = os.path.join(rdir, name)
            t0 = _time.time()
            df.write.mode("overwrite").parquet(path)
            self.last_commit_timings[f"write_{name}"] = round(
                _time.time() - t0, 3
            )
            written[name] = df.schema

        def _write_wave(items):
            with ThreadPoolExecutor(max_workers=max(len(items), 1)) as pool:
                list(pool.map(_write, items))

        class _NotYetWritten(Exception):
            pass

        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()

        def _read(name):
            # a derived read binds the schema of the DataFrame just
            # written, so a round that widens a table reads its own columns
            if name not in written:
                raise _NotYetWritten(name)
            return spark.read.schema(written[name]).parquet(
                os.path.join(rdir, name)
            )

        t0 = _time.time()
        _write_wave([(n, df) for n, df in tables.items() if not callable(df)])
        remaining = {n: fn for n, fn in tables.items() if callable(fn)}
        while remaining:
            wave = []
            for n, fn in list(remaining.items()):
                try:
                    wave.append((n, fn(_read)))
                except _NotYetWritten:
                    continue
            if not wave:
                raise ValueError(
                    "circular derived-table dependencies: "
                    f"{sorted(remaining)}"
                )
            _write_wave(wave)
            for n, _ in wave:
                del remaining[n]
        self.last_commit_timings["writes_wall"] = round(_time.time() - t0, 3)
        lineage = {
            name: sorted(
                f
                for f in os.listdir(os.path.join(rdir, name))
                if f.endswith(".parquet")
            )
            for name in tables
        }
        if callable(metrics):
            t0 = _time.time()
            metrics = metrics(_read)
            self.last_commit_timings["metrics"] = round(_time.time() - t0, 3)
        tmp = os.path.join(rdir, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "format_version": FORMAT_VERSION,
                    "round": rnd,
                    "metrics": metrics,
                    "partition_lineage": lineage,
                    # every kind as of this snapshot: inherited, then this
                    # round's writes (outside metrics, which stay digestable)
                    "schemas": {
                        **self._schemas(rnd - 1),
                        **{n: s.jsonValue() for n, s in written.items()},
                    },
                },
                f,
                indent=1,
                sort_keys=True,
            )
        os.replace(tmp, os.path.join(rdir, MANIFEST))
        return metrics


def round_trajectory(spark: SparkSession, store: "SnapshotStore") -> DataFrame:
    """Per-round engine telemetry as a DataFrame, read purely from the
    committed manifests (driver-side JSON, zero data scans — the Iceberg
    snapshot-summary pattern): one row per committed round with the
    scheduling/discovery/seen counters plus the round-over-round discovery
    ratio (new URLs this round per URL scheduled, permille) — the decay
    curve an operator watches to decide when a crawl has converged or a
    compaction/expiration policy should kick in. Dimension-sized by
    construction (#rounds), so building it driver-side is the right
    shape; schema is stable across engine versions (absent counters
    surface as NULL, never KeyError)."""
    latest = store.latest_round()
    rows = []
    for rnd in range(0, (latest or 0) + 1):
        try:
            m = dict(store.manifest(rnd).get("metrics", {}))
        except FileNotFoundError:
            continue  # expired round: manifest retained normally, but be lenient
        sched = m.get("n_scheduled")
        new = m.get("n_discovered_new")
        rows.append(
            (
                rnd,
                m.get("n_seeded"),
                sched,
                m.get("n_blocked"),
                new,
                m.get("n_frontier_pending"),
                m.get("n_seen"),
                (new * 1000 // sched)
                if (new is not None and sched)
                else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "round long, n_seeded long, n_scheduled long, n_blocked long, "
        "n_discovered_new long, n_frontier_pending long, n_seen long, "
        "discovery_permille long",
    )
