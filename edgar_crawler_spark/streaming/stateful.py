"""Custom stateful streaming operators on applyInPandasWithState.

Each operator keeps a small per-key state in the STATE STORE, which
rides the streaming checkpoint, so a restarted query resumes with its
state intact — the streaming version of snapshot exact-resume:

- per-host frontier top-k: a dispatcher's bounded per-host queue;
- re-crawl change-rate estimator: per-URL fetch history folded into
  a Poisson change-rate estimate and a next-fetch time;
- content drift: per-URL SimHash Hamming statistics.

The crawl's URL-seen set is not one of them: it is the committed
`seen` table of the snapshot store (frontier/seen.py), and the
streaming crawl admits discovered URLs into it through foreachBatch
(streaming/jobs.py:stream_frontier_foreachbatch). Its state is
unbounded; every operator here keeps state bounded per key.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


# ---------------------------------------------------------------------------
# Streaming per-host frontier top-k
# ---------------------------------------------------------------------------

TOPK_OUTPUT_SCHEMA = "host string, url string, prio double, rank int"
_TOPK_STATE_SCHEMA = "urls array<string>, prios array<double>"


def _topk_merge(
    pairs: list, k: int
) -> list:
    """Keep-best-per-url top-k: priority desc, url asc (the
    frontier_fair_topk order). A URL rediscovered at a new priority
    keeps its best rank."""
    pairs.sort(key=lambda t: (-t[1], t[0]))
    seen: set = set()
    best: list = []
    for u, p in pairs:
        if u not in seen:
            seen.add(u)
            best.append((u, p))
        if len(best) == k:
            break
    return best


def _make_topk_fn(k: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cur = state.get if state.exists else (None, None)
        pairs = list(zip(cur[0], cur[1])) if cur[0] is not None else []
        for pdf in pdfs:
            pairs.extend(
                zip(pdf["url"].astype(str), pdf["prio"].astype(float))
            )
        best = _topk_merge(pairs, k)
        state.update(([u for u, _ in best], [p for _, p in best]))
        yield pd.DataFrame(
            {
                "host": pd.Series([key[0]] * len(best), dtype="object"),
                "url": pd.Series([u for u, _ in best], dtype="object"),
                "prio": pd.Series([p for _, p in best], dtype="float64"),
                "rank": pd.Series(range(1, len(best) + 1), dtype="int32"),
            }
        )

    return fn


def streaming_frontier_topk(urls: DataFrame, k: int = 5) -> DataFrame:
    """urls: STREAMING DataFrame with (host, url, prio). Emits each
    host's refreshed top-k after every micro-batch the host appears
    in; per-host state-store payload is exactly k (url, prio) pairs.

    The streaming dual of frontier_fair_topk's per-host rank window:
    a dispatcher never needs the full frontier — per-host state is
    BOUNDED at k no matter how many discoveries stream in, where the
    crawl's seen set grows with every URL fetched. State rides the
    streaming checkpoint, so a restarted dispatcher resumes with each
    host's queue intact. NoTimeout: a pending queue never expires."""
    return urls.groupBy("host").applyInPandasWithState(
        _make_topk_fn(k),
        outputStructType=TOPK_OUTPUT_SCHEMA,
        stateStructType=_TOPK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_frontier_topk_stream(
    spark: Any,
    urls_path: str,
    out_path: str,
    checkpoint: str,
    k: int = 5,
) -> Any:
    """File-source stream -> per-host top-k -> parquet sink
    (availableNow, one micro-batch per input file)."""
    urls = (
        spark.readStream.schema("host string, url string, prio double")
        .option("maxFilesPerTrigger", 1)
        .parquet(urls_path)
    )
    topk = streaming_frontier_topk(urls, k=k)
    return (
        topk.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Streaming re-crawl change-rate estimator
# ---------------------------------------------------------------------------

RECRAWL_OUTPUT_SCHEMA = (
    "url_id bigint, n_checks bigint, n_changes bigint, "
    "sum_gap_sec bigint, lambda_day double, revisit_days double"
)
_RECRAWL_STATE_SCHEMA = (
    "n bigint, x bigint, last_v bigint, last_sec bigint, sum_gap bigint"
)


def _recrawl_fold(
    obs: list, st: tuple
) -> tuple:
    """Left-fold time-ordered (sec,) observations into the sufficient
    statistics (n checks, x changes, last version, last sec, gap sum).
    The content version is the UTC day (sec // 86400) — the same
    deterministic fingerprint stand-in as the batch query. Pure and
    associative-by-construction over an ordered stream: folding
    micro-batches one at a time equals one global pass, which is what
    makes the streaming twin emit the batch answer (pinned in
    tests/test_consolidate_stateful.py)."""
    n, x, last_v, last_sec, sum_gap = st
    for sec in obs:
        v = sec // 86400
        if last_v is not None:
            n += 1
            sum_gap += sec - last_sec
            if v != last_v:
                x += 1
        last_v, last_sec = v, sec
    return n, x, last_v, last_sec, sum_gap


def _recrawl_estimate(n: int, x: int, sum_gap: int):
    """Cho & Garcia-Molina bias-corrected Poisson rate from the
    sufficient statistics; (None, None) until a change is observed
    (the batch query's NULL contract)."""
    import math  # noqa: PLC0415 — worker-side import

    if n <= 0 or x <= 0 or sum_gap <= 0:
        return None, None
    ibar = sum_gap / n / 86400.0
    lam = -math.log((n - x + 0.5) / (n + 0.5)) / ibar
    return round(lam, 6), round(ibar / -math.log((n - x + 0.5) / (n + 0.5)), 6)


def _recrawl_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    st = state.get if state.exists else (0, 0, None, None, 0)
    rows: list = []
    for pdf in pdfs:
        rows.extend(
            zip(pdf["sec"].astype(int), pdf["event_id"].astype(int))
        )
    rows.sort()  # (sec, event_id) — the batch query's lag-window order
    n, x, last_v, last_sec, sum_gap = _recrawl_fold(
        [sec for sec, _ in rows], st
    )
    state.update((n, x, last_v, last_sec, sum_gap))
    lam, revisit = _recrawl_estimate(n, x, sum_gap)
    yield pd.DataFrame(
        {
            "url_id": pd.Series([key[0]], dtype="int64"),
            "n_checks": pd.Series([n], dtype="int64"),
            "n_changes": pd.Series([x], dtype="int64"),
            "sum_gap_sec": pd.Series([sum_gap], dtype="int64"),
            "lambda_day": pd.Series([lam], dtype="float64"),
            "revisit_days": pd.Series([revisit], dtype="float64"),
        }
    )


def streaming_recrawl_schedule(fetches: DataFrame) -> DataFrame:
    """fetches: STREAMING DataFrame with (url_id, sec, event_id) —
    the live fetch log. After every micro-batch a URL appears in, its
    refreshed Cho & Garcia-Molina change-rate estimate is emitted —
    the streaming twin of the batch `recrawl_schedule` query
    (queries.py), letting the frontier adapt revisit intervals
    WITHOUT a nightly batch pass.

    Ordering precondition: per-URL delivery must be time-ordered
    ACROSS micro-batches (each batch is sorted internally; the fold
    trusts last_sec <= every incoming sec). A file-source crawl log
    appended in fetch order satisfies this; with an out-of-order
    transport, put an event-time watermark + sort in front, exactly
    as the batch query's lag window orders by (sec, event_id).

    Scale notes: per-URL state is FIVE integers regardless of fetch
    history length (contrast the seen-set's linear state), keyed on
    the high-cardinality url id so the state store spreads evenly;
    state rides the streaming checkpoint, so a restarted scheduler
    resumes every URL's statistics exactly. NoTimeout: change-rate
    knowledge never expires."""
    return fetches.groupBy("url_id").applyInPandasWithState(
        _recrawl_fn,
        outputStructType=RECRAWL_OUTPUT_SCHEMA,
        stateStructType=_RECRAWL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_recrawl_stream(
    spark: Any,
    fetches_path: str,
    out_path: str,
    checkpoint: str,
) -> Any:
    """File-source fetch log -> stateful estimator -> parquet sink
    (availableNow, one micro-batch per input file)."""
    fetches = (
        spark.readStream.schema("url_id bigint, sec bigint, event_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(fetches_path)
    )
    est = streaming_recrawl_schedule(fetches)
    return (
        est.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Streaming content-drift: per-URL SimHash Hamming statistics
# ---------------------------------------------------------------------------

DRIFT_OUTPUT_SCHEMA = (
    "url_id bigint, n_snapshots bigint, drift_total bigint, "
    "drift_max bigint, n_big_changes bigint"
)
_DRIFT_STATE_SCHEMA = (
    "n bigint, total bigint, mx bigint, big bigint, last_h bigint"
)
_DRIFT_BIG_BITS = 4  # must match queries._DRIFT_BIG


def _drift_fold(hashes: list, st: tuple) -> tuple:
    """Left-fold snapshot-ordered simhashes into (n snapshots, total
    hamming drift, max hamming, big-change count, last simhash).
    mx is None until a second snapshot arrives (the batch query's
    NULL drift_max contract for single-snapshot URLs). Pure; folding
    micro-batches one at a time equals one global pass (pinned in
    tests/test_round4d_ops.py)."""
    n, total, mx, big, last = st
    for h in hashes:
        if last is not None:
            ham = bin(h ^ last).count("1")
            total += ham
            mx = ham if mx is None else max(mx, ham)
            if ham >= _DRIFT_BIG_BITS:
                big += 1
        n += 1
        last = h
    return n, total, mx, big, last


def _drift_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    st = state.get if state.exists else (0, 0, None, 0, None)
    rows: list = []
    for pdf in pdfs:
        rows.extend(
            zip(pdf["doc_id"].astype(int), pdf["simhash"].astype(int))
        )
    rows.sort()  # doc_id = snapshot order, the batch lag-window order
    n, total, mx, big, last = _drift_fold([h for _, h in rows], st)
    state.update((n, total, mx, big, last))
    yield pd.DataFrame(
        {
            "url_id": pd.Series([key[0]], dtype="int64"),
            "n_snapshots": pd.Series([n], dtype="int64"),
            "drift_total": pd.Series([total], dtype="int64"),
            "drift_max": pd.Series([mx], dtype="object"),
            "n_big_changes": pd.Series([big], dtype="int64"),
        }
    )


def streaming_content_drift(snapshots: DataFrame) -> DataFrame:
    """snapshots: STREAMING DataFrame with (url_id, doc_id, simhash)
    — each row one fetched snapshot, simhash computed at ingest (the
    batch contract: operators/dedup.py:simhash16's md5-nibble vote).
    After every micro-batch a URL appears in, its refreshed drift
    statistics are emitted — the streaming twin of the batch
    `content_drift_simhash` query, grading HOW MUCH each page changes
    while the crawl is still running (feeds the re-crawl scheduler
    alongside streaming_recrawl_schedule).

    Same ordering precondition and scale shape as the recrawl
    estimator: per-URL delivery time-ordered across micro-batches;
    state is FIVE integers per URL regardless of snapshot count,
    keyed on the high-cardinality url id; NoTimeout (drift knowledge
    never expires); checkpoint-resumable."""
    return snapshots.groupBy("url_id").applyInPandasWithState(
        _drift_fn,
        outputStructType=DRIFT_OUTPUT_SCHEMA,
        stateStructType=_DRIFT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_content_drift_stream(
    spark: Any,
    snapshots_path: str,
    out_path: str,
    checkpoint: str,
) -> Any:
    """File-source snapshot log -> stateful drift -> parquet sink."""
    snaps = (
        spark.readStream.schema(
            "url_id bigint, doc_id bigint, simhash bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(snapshots_path)
    )
    drift = streaming_content_drift(snaps)
    return (
        drift.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
