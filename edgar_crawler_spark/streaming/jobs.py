"""Structured Streaming jobs.

The reference has NO streaming runtime (SURVEY.md §2.9) — its
incrementality is "skip what's on disk" resume batching, which the
crawl keeps as committed snapshots (frontier/state.py). Two streaming
duals remain:

1. `stream_fetch_rate` — operational metrics: windowed fetch
   throughput with a watermark bounding state for late fetch-log rows
   (the streaming dual of the batch `sliding_event_rate` query).

2. `stream_sessionize` — session windows over an event stream, the
   watermarked dual of the batch `sessionize` and `session_window_agg`
   queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_fetch_rate(fetch_log: DataFrame) -> DataFrame:
    """10-second windowed fetch throughput over a streaming fetch log
    (warc_ts, status, fetched_bytes). A 30-second watermark bounds the
    state store: windows older than the watermark are finalized and
    evicted — late rows beyond it are dropped, which is the correct
    trade for an operational metric."""
    return (
        fetch_log.withWatermark("warc_ts", "30 seconds")
        .groupBy(F.window("warc_ts", "10 seconds").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_fetched"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("n_failed"),
            F.sum("fetched_bytes").alias("sum_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_fetched",
            "n_failed",
            "sum_bytes",
        )
    )


def stream_sessionize(
    events: DataFrame,
    gap: str = "30 seconds",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming sessionization with dynamic-gap session windows.

    The streaming dual of the batch `sessionize` query
    (queries.py): per-user sessions close after `gap` of
    inactivity, aggregated incrementally in the state store via
    `F.session_window` — Spark merges overlapping window fragments
    across micro-batches and EMITS a session only once the event-time
    watermark passes its close (append mode), which is how a
    production clickstream/crawl-log pipeline materializes sessions
    exactly once without reprocessing.

    State is bounded by the watermark horizon: a session older than
    `watermark` can no longer absorb late events, so its state is
    evicted on emission. At 100 TB of events the state store holds
    only the OPEN sessions inside the horizon — shuffle and state key
    on user_id, never on raw events.

    `events` is a streaming DataFrame with (user_id, ts, event_type).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "first_ts",
            "last_ts",
        )
    )
