"""Token-bucket politeness gate: per-host request admission under a
refill budget.

The reference schedules fetches with a fixed per-host delay (the Nutch
`fetcher.server.delay` model behind the crawler metrics it plots,
crawler_metrics.py:75–91); production crawlers generalize that to a token
bucket — a host may burst up to ``capacity`` and sustain ``refill``/s —
which subsumes the fixed-delay rule (capacity == cost reduces to it).
This module provides both execution shapes over the same integer
semantics:

  - :func:`token_bucket_gate` — batch: one `groupBy(host)` + a JVM
    ``aggregate`` fold over the time-ordered per-host event array. No
    Python in the plan; the fold runs interpreted (``aggregate`` is a
    ``CodegenFallback`` expression inside the generated stage).
  - :func:`token_bucket_stream` — streaming: ``applyInPandasWithState``
    keyed by host, the bucket (tokens, last_ts) as group state.

Exactness: all arithmetic is integer milli-tokens (mtok) over epoch
seconds, so batch, stream, the pure-Python model in tests, and the DuckDB
recursive-CTE oracle agree bit-for-bit.

Semantics (per host, events in (ts, url) order — a total order on the
fixture; ties on ts are broken by url so parallel runs are deterministic):

  tokens starts at ``capacity_mtok``;
  on each event: tokens = min(capacity, tokens + (ts - last_ts) * refill)
  (no refill on the first event), then admitted = tokens >= cost and, if
  admitted, tokens -= cost. Denied requests consume nothing (the caller
  re-queues them into a later round).

Scale shape: per-host event counts are politeness-budget-bounded by
construction of any real crawl (same argument as
operators/recrawl.py:observed_host_gaps), so the per-host array fold is
one comfortable task and the unbounded dimension — hosts — is the
parallel/partition key. The sequential dependency is inherent to the
operator (admission depends on prior admissions through the clamp at
``capacity``), so a window cannot express it; the fold is the minimal
shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["token_bucket_gate", "token_bucket_stream"]


def _fold_expr(
    capacity_mtok: int | str, refill_mtok_per_s: int | str, cost_mtok: int
) -> str:
    """SQL ``aggregate`` fold over the sorted per-host event array.

    Accumulator: (tokens, last_ts, rows[]); SQL lambdas have no `let`, so
    the refilled-tokens expression is templated twice (admission test and
    new-balance arms share it). ``capacity_mtok``/``refill_mtok_per_s``
    may be integer literals or SQL column references (the per-host
    adaptive path) — lambdas capture outer row columns.
    """
    refilled = (
        f"IF(acc.last_ts < 0, acc.tokens, "
        f"LEAST(CAST({capacity_mtok} AS BIGINT), "
        f"acc.tokens + (e.ts - acc.last_ts) * {refill_mtok_per_s}))"
    )
    admitted = f"({refilled}) >= {cost_mtok}"
    after = f"IF({admitted}, ({refilled}) - {cost_mtok}, {refilled})"
    return f"""
    aggregate(
      evs,
      named_struct(
        'tokens', CAST({capacity_mtok} AS BIGINT),
        'last_ts', CAST(-1 AS BIGINT),
        'rows', CAST(array() AS
          array<struct<ts:bigint,url:string,admitted:boolean,tokens_after:bigint>>)),
      (acc, e) -> named_struct(
        'tokens', CAST({after} AS BIGINT),
        'last_ts', e.ts,
        'rows', acc.rows || array(named_struct(
          'ts', e.ts, 'url', e.url,
          'admitted', {admitted},
          'tokens_after', CAST({after} AS BIGINT)))),
      acc -> acc.rows)
    """


def token_bucket_gate(
    fetches: DataFrame,
    capacity_mtok: int = 1800,
    refill_mtok_per_s: int = 1,
    cost_mtok: int = 1000,
    host_col: str = "host",
    ts_col: str = "fetch_ts",
    url_col: str = "url",
    impl: str = "fold",
    params: DataFrame | None = None,
) -> DataFrame:
    """Batch token-bucket admission: one row per request with its
    admission verdict and the bucket balance after it.

    Output: (host, url, fetch_ts, admitted, tokens_after) — all
    integer/bool, oracle-safe.

    ``params`` (optional, fold impl): a (host, refill_mtok_per_s) frame —
    e.g. derived from operators/recrawl.py:observed_host_gaps'
    suggested_delay_s — overriding the global refill rate per host
    (missing hosts fall back to ``refill_mtok_per_s``). This closes the
    adaptive-politeness loop: the pace a host demonstrably sustained
    becomes its bucket's refill. The params frame is host-dimension-sized
    (broadcast-joined onto the per-host fold input).

    Two physical shapes, same verdicts (equality pinned in
    tests/test_politeness.py):

    - ``impl="fold"`` (default): JVM ``aggregate`` over the sorted
      per-host array — zero Python, the fold interpreted
      (``CodegenFallback``). The array
      append inside the fold copies the accumulator, so work per host is
      O(n²) in its event count: right for politeness-bounded hosts
      (n ≲ 10⁴), wrong for pathological ones.
    - ``impl="pandas"``: Arrow-batched ``applyInPandas`` per host —
      linear time/memory, the big-host path (a month of 1 req/s is
      ~2.6M events: linear scan, one task). Same single host-hash
      shuffle either way.
    """
    evs = fetches.select(
        F.col(host_col).alias("host"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(url_col).alias("url"),
    )
    if impl == "pandas":
        return _gate_pandas(evs, capacity_mtok, refill_mtok_per_s, cost_mtok)
    per_host = evs.groupBy("host").agg(
        F.array_sort(F.collect_list(F.struct("ts", "url"))).alias("evs")
    )
    refill: int | str = refill_mtok_per_s
    if params is not None:
        per_host = per_host.join(
            F.broadcast(
                params.select(
                    "host",
                    F.col("refill_mtok_per_s")
                    .cast("long")
                    .alias("_rf_override"),
                )
            ),
            "host",
            "left",
        ).withColumn(
            "_rf",
            F.coalesce(
                F.col("_rf_override"), F.lit(refill_mtok_per_s).cast("long")
            ),
        )
        refill = "_rf"
    folded = per_host.select(
        "host",
        F.explode(
            F.expr(_fold_expr(capacity_mtok, refill, cost_mtok))
        ).alias("e"),
    )
    return folded.select(
        "host",
        F.col("e.url").alias("url"),
        F.col("e.ts").alias("fetch_ts"),
        F.col("e.admitted").alias("admitted"),
        F.col("e.tokens_after").alias("tokens_after"),
    )


def _gate_pandas(
    evs: DataFrame, capacity: int, refill: int, cost: int
) -> DataFrame:
    """Linear-scan per-host fold as an Arrow-batched grouped map."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "url"], kind="mergesort")
        ts = pdf["ts"].to_numpy()
        admitted = [False] * len(ts)
        after = [0] * len(ts)
        tokens, last = capacity, None
        # inherently sequential scan (admission feeds back through the
        # capacity clamp); one pass, no quadratic copying
        for i, t in enumerate(ts.tolist()):
            if last is not None:
                tokens = min(capacity, tokens + (t - last) * refill)
            last = t
            if tokens >= cost:
                tokens -= cost
                admitted[i] = True
            after[i] = tokens
        return pd.DataFrame(
            {
                "host": pdf["host"].values,
                "url": pdf["url"].values,
                "fetch_ts": ts,
                "admitted": admitted,
                "tokens_after": after,
            }
        )

    return evs.groupBy("host").applyInPandas(
        fold, schema=TOKEN_BUCKET_OUTPUT_SCHEMA
    )


TOKEN_BUCKET_STATE_SCHEMA = "tokens BIGINT, last_ts BIGINT"
TOKEN_BUCKET_OUTPUT_SCHEMA = (
    "host STRING, url STRING, fetch_ts BIGINT, admitted BOOLEAN, "
    "tokens_after BIGINT"
)


def token_bucket_stream(
    fetches: DataFrame,
    capacity_mtok: int = 1800,
    refill_mtok_per_s: int = 1,
    cost_mtok: int = 1000,
) -> DataFrame:
    """Streaming token-bucket admission via ``applyInPandasWithState``:
    the bucket lives as per-host group state across micro-batches, same
    integer arithmetic as the batch fold (bit-for-bit equivalence pinned
    in tests/test_politeness.py).

    Expects columns (host, fetch_ts, url). Within a micro-batch the
    group's rows are processed in (fetch_ts, url) order; across batches
    the state (tokens, last_ts) carries, so an in-order source replays to
    exactly the batch verdicts.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            tokens, last_ts = state.get
        else:
            tokens, last_ts = capacity_mtok, None
        rows: list[tuple[str, int, bool, int]] = []
        events: list[tuple[int, str]] = []
        for pdf in pdfs:
            events.extend(
                zip(pdf["fetch_ts"].astype("int64").tolist(), pdf["url"])
            )
        events.sort()
        for ts, url in events:
            if last_ts is not None:
                tokens = min(
                    capacity_mtok, tokens + (ts - last_ts) * refill_mtok_per_s
                )
            last_ts = ts
            admitted = tokens >= cost_mtok
            if admitted:
                tokens -= cost_mtok
            rows.append((url, ts, admitted, tokens))
        state.update((tokens, last_ts if last_ts is not None else -1))
        if rows:
            yield pd.DataFrame(
                {
                    "host": [key[0]] * len(rows),
                    "url": [r[0] for r in rows],
                    "fetch_ts": [r[1] for r in rows],
                    "admitted": [r[2] for r in rows],
                    "tokens_after": [r[3] for r in rows],
                }
            )

    return (
        fetches.selectExpr("host", "CAST(fetch_ts AS BIGINT) AS fetch_ts", "url")
        .groupBy("host")
        .applyInPandasWithState(
            update,
            outputStructType=TOKEN_BUCKET_OUTPUT_SCHEMA,
            stateStructType=TOKEN_BUCKET_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def server_pressure_backoff(
    pages: DataFrame, ledger: DataFrame
) -> DataFrame:
    """Server-pressure politeness backoff — the reactive half of the
    politeness contract (the proactive half is the robots Crawl-delay
    ledger): when a host answers with overload statuses (HTTP 429 / 5xx),
    a polite crawler cuts its per-round budget before the site operator
    does it for us. Nutch's exponential fetch backoff and the Retry-After
    convention are the production analogs; here the signal is the
    capture-table status histogram the reference already counts (A7).

    Integer tiers over the pressure ratio (permille of fetches answered
    429/5xx): < 100‰ keep the ledger budget; ≥ 100‰ halve; ≥ 300‰
    quarter; ≥ 600‰ floor to 1 — always at least 1 so the host can
    recover (the signal refreshes every round).

    One host-grain aggregation over the capture table + a broadcast join
    to the host-dimension ledger. Returns (host, n_fetches, n_pressure,
    pressure_permille, max_per_round, backoff_budget)."""
    pressure = F.col("status").isin(429, 500, 502, 503, 504)
    per_host = pages.groupBy("host").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.sum(F.when(pressure, 1).otherwise(0))
        .cast("long")
        .alias("n_pressure"),
    )
    joined = per_host.join(
        F.broadcast(ledger.select("host", "max_per_round")), "host"
    ).withColumn(
        "pressure_permille",
        # BIGINT div end to end (like the oracle's //): floor(x*1000/y)
        # detours through double and is exact only below 2^53
        F.expr("(n_pressure * 1000) div n_fetches"),
    )
    p = F.col("pressure_permille")
    return joined.select(
        "host",
        "n_fetches",
        "n_pressure",
        "pressure_permille",
        F.col("max_per_round").cast("long").alias("max_per_round"),
        F.when(p >= 600, F.lit(1))
        .when(p >= 300, F.greatest(F.lit(1), F.expr("max_per_round div 4")))
        .when(p >= 100, F.greatest(F.lit(1), F.expr("max_per_round div 2")))
        .otherwise(F.col("max_per_round"))
        .cast("long")
        .alias("backoff_budget"),
    ).orderBy("host")
