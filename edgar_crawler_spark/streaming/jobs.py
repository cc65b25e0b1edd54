"""Structured Streaming jobs.

The reference has NO streaming runtime (SURVEY.md §2.9) — its
incrementality is "skip what's on disk" resume batching. Three
streaming duals close that gap:

1. `stream_extract` — continuous extraction: pages land in the pages
   table (a file/Iceberg stream source); the SAME mapInPandas
   extraction stage runs per micro-batch; the sink checkpoint gives
   exactly-once. `Trigger.AvailableNow` drains the backlog and stops,
   which is also how tests and backfills run it. Because extraction is
   stateless map-side work, a micro-batch never shuffles.

2. `stream_fetch_rate` — operational metrics: windowed fetch
   throughput with a watermark bounding state for late fetch-log rows.

3. `stream_frontier_foreachbatch` — the crawl loop as a stream: each
   micro-batch of newly-discovered URLs is admitted into the frontier
   (canonical form → URL-seen filter → priority ranking, one snapshot
   commit) and then crawled by the SAME wave loop via foreachBatch, so
   batch and streaming share every operator and every test; the
   streaming checkpoint tracks source offsets while the SnapshotStore
   remains the source of truth for crawl state (idempotent commits →
   exactly-once effects even on micro-batch replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..extraction import ExtractionOptions
from ..operators.extract_job import RESULT_SCHEMA, make_extractor
from ..synth import PAGES_SCHEMA


def stream_extract(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    checkpoint: str,
    options: ExtractionOptions | None = None,
    available_now: bool = True,
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
    extracted = pages.mapInPandas(make_extractor(options), schema=RESULT_SCHEMA)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_fetch_rate(
    fetch_log: DataFrame,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Windowed fetch throughput over a streaming fetch log
    (warc_ts, status, fetched_bytes). Watermark bounds the state store:
    windows older than the watermark are finalized and evicted — late
    rows beyond it are dropped, which is the correct trade for an
    operational metric."""
    return (
        fetch_log.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"))
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
    available_now: bool = True,
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

    writer = (
        urls.writeStream.foreachBatch(admit_and_crawl)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_docs(
    docs: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: first occurrence of
    each content hash passes; duplicates arriving within the watermark
    horizon are dropped; dedup state older than the watermark is
    EVICTED from the state store (dropDuplicatesWithinWatermark).

    This is the streaming dual of the batch dedup_exact query — and
    the difference that matters at web scale: a crawl stream cannot
    hold every content hash ever seen in the state store, so the
    watermark bounds state to the late-data horizon, exactly how a
    production ingest dedupes near-simultaneous refetches while the
    durable exact-dedup runs in batch downstream.

    `docs` is a streaming DataFrame with (doc_id, text, event_ts).
    """
    return (
        docs.withColumn("text_hash", F.md5("text"))
        .withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
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


def stream_attribution(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 seconds",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to every
    view by the same user within `horizon` BEFORE it.

    The streaming counterpart of the batch as-of join
    (queries.py:q_asof_last_view) when BOTH sides arrive as streams: a
    view is buffered in the join state store only until the watermark
    passes `ts + horizon` — the event-time range condition is what
    lets Spark bound and evict state, which is the difference between
    a stream-stream join that runs forever at web scale and one whose
    state grows without bound. Shuffle/state key is user_id on both
    sides; late events inside the watermark still match.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", watermark)
    return p.join(
        v,
        F.expr(
            "v_user = p_user AND "
            "view_ts <= purchase_ts AND "
            f"view_ts >= purchase_ts - INTERVAL {horizon}"
        ),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id", "purchase_ts", "view_id", "view_ts",
    )


def stream_hll_registers(
    docs: DataFrame,
    *,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    ts_col: str = "event_ts",
    text_col: str = "text",
) -> DataFrame:
    """Windowed approximate-distinct over a token stream: per
    event-time window, the 512 HyperLogLog registers of the tokens
    seen — the streaming dual of the batch hll_distinct /
    hll_by_source queries, with the SAME md5/bucket/rho contract, so
    a window's streaming registers are bit-identical to running the
    batch sketch over that window's rows (asserted in
    tests/test_streaming_multimodal.py).

    Why this shape at web scale: a distinct-count over a crawl stream
    cannot keep the distinct SET in the state store; here state per
    open window is at most HLL_M register rows (max-merged
    incrementally across micro-batches), each window emits exactly
    once when the watermark passes its close (append mode), and the
    emitted register tables stay MERGEABLE — downstream can max-merge
    windows into hours/days without revisiting the stream.
    """
    from ..operators.sketch import HLL_M, HLL_P

    toks = (
        docs.withWatermark(ts_col, watermark)
        .select(
            ts_col,
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("t"),
        )
    )
    h = F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
    hashed = toks.select(ts_col, h.alias("_h"))
    w = F.shiftright(F.col("_h"), HLL_P)
    bitlen = F.length(F.conv(w.cast("string"), 10, 2))
    rho = F.when(w == 0, F.lit(52)).otherwise(F.lit(52) - bitlen)
    return (
        hashed.select(
            ts_col, (F.col("_h") % HLL_M).alias("bucket"), rho.alias("rho")
        )
        .groupBy(F.window(ts_col, window).alias("win"), F.col("bucket"))
        .agg(F.max("rho").alias("reg"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "bucket",
            "reg",
        )
    )


def stream_cms_counters(
    docs: DataFrame,
    *,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    ts_col: str = "event_ts",
    text_col: str = "text",
) -> DataFrame:
    """Windowed Count-Min counters over a token stream: per event-time
    window, the CMS_D x CMS_W frequency counters of the tokens seen —
    the streaming dual of the batch cms_heavy_hitters query, with the
    SAME Kirsch-Mitzenmacher md5 contract, so a window's streaming counters are
    bit-identical to running operators/sketch.cms_counters over that
    window's rows (asserted in tests/test_streaming_multimodal.py).

    The streaming-merge law is the sum (not max as for HLL): counts
    ADD across micro-batches, which is exactly what a partial hash
    aggregate does incrementally — state per open window is at most
    CMS_D*CMS_W = 1024 counter rows regardless of stream rate, each
    window emits once at watermark close (append mode), and emitted
    windows stay mergeable downstream (hour = sum of minutes) without
    revisiting the stream. This is how per-token / per-host hit
    frequencies are tracked live on a crawl frontier whose exact
    count table would be unbounded state.
    """
    toks = (
        docs.withWatermark(ts_col, watermark)
        .select(
            ts_col,
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("t"),
        )
    )
    from ..operators.sketch import _cms_buckets

    occ = toks.select(
        ts_col,
        F.posexplode(_cms_buckets(F.col("t"))).alias("row", "bucket"),
    )
    return (
        occ.groupBy(F.window(ts_col, window).alias("win"), "row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "row", "bucket", "cnt",
        )
    )


def stream_moment_sums(
    docs: DataFrame,
    *,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    ts_col: str = "event_ts",
    val_col: str = "n_chars",
) -> DataFrame:
    """Windowed moments sketch over a value stream: per event-time
    window, the power sums (n, s1, s2, s3) of ln(1+value) — the
    streaming dual of the batch moments_quantiles sketch, merged
    across micro-batches by SUM like the CMS twin (the mergeable-sum
    family), with per-open-window state of exactly four doubles +
    one count. Emitted windows stay mergeable downstream (hour =
    elementwise sum of minutes); quantiles are recovered from any
    merge level with operators/sketch.moment_quantile_cols."""
    x = F.log(F.lit(1.0) + F.col(val_col))
    return (
        docs.withWatermark(ts_col, watermark)
        .select(ts_col, x.alias("_x"))
        .groupBy(F.window(ts_col, window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_x").alias("s1"),
            F.sum(F.col("_x") * F.col("_x")).alias("s2"),
            F.sum(F.col("_x") * F.col("_x") * F.col("_x")).alias("s3"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n", "s1", "s2", "s3",
        )
    )
