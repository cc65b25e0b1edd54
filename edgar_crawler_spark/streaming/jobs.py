"""Structured Streaming jobs.

The reference has NO streaming runtime (SURVEY.md §2.9) — its
incrementality is "skip what's on disk" resume batching. Four
streaming duals remain:

1. `stream_extract` — incremental extraction: pages land in the pages
   table (a file/Iceberg stream source); the SAME `extract_items_job`
   stage runs per micro-batch; the sink checkpoint gives exactly-once.
   Each run drains the backlog with `Trigger.AvailableNow` and stops;
   running it again processes only the pages that landed since.
   Because extraction is stateless map-side work, a micro-batch never
   shuffles.

2. `stream_fetch_rate` — operational metrics: windowed fetch
   throughput with a watermark bounding state for late fetch-log rows
   (the streaming dual of the batch `sliding_event_rate` query).

3. `stream_frontier_foreachbatch` — the crawl loop as a stream: each
   micro-batch of newly-discovered URLs is admitted into the frontier
   (canonical form → URL-seen filter → priority ranking, one snapshot
   commit) and then crawled by the SAME wave loop via foreachBatch, so
   batch and streaming share every operator and every test. Like
   `stream_extract`, a run drains the available files and stops; the
   streaming checkpoint tracks source offsets while the SnapshotStore
   remains the source of truth for crawl state (idempotent commits →
   exactly-once effects even on micro-batch replay).

4. `stream_sessionize` — session windows over an event stream, the
   watermarked dual of the batch `sessionize` and `session_window_agg`
   queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..extraction import ExtractionOptions
from ..operators.extract_job import extract_items_job
from ..synth import PAGES_SCHEMA


def stream_extract(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint: str,
    options: ExtractionOptions | None = None,
) -> StreamingQuery:
    """File-stream the pages table → extraction → parquet sink.
    Incremental + exactly-once: the checkpoint remembers which page
    files were processed; appending new files and re-running processes
    only the delta (the streaming replacement for the reference's
    skip-if-output-exists resume, extract_items.py:1484-1486)."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        # bound micro-batch size so executor memory is driven by
        # config, not by however many files landed since last run
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_path)
    )
    return (
        extract_items_job(pages, options)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


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


def stream_frontier_foreachbatch(
    spark: SparkSession,
    urls_path: str,
    checkpoint: str,
    crawl_job,
) -> StreamingQuery:
    """Discovered-URL stream → admission, then waves to exhaustion,
    per micro-batch.

    `crawl_job` is a frontier.CrawlJob whose SnapshotStore carries the
    real state; foreachBatch only *feeds* it. Replayed micro-batches
    are harmless: `CrawlJob.merge` admits a batch in canonical form
    and drops URLs already in the committed seen set, so re-delivered
    URLs are never fetched again (idempotent effects = streaming
    exactly-once)."""
    urls = (
        spark.readStream.schema(
            "url string, cik string, company string, form_type string, "
            "filing_date string, accession string"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(urls_path)
    )

    def admit_and_crawl(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        crawl_job.merge(batch_df, stage="stream_merge", batch_id=batch_id)
        crawl_job.run(max_waves=None)

    return (
        urls.writeStream.foreachBatch(admit_and_crawl)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
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
