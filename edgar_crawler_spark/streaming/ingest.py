"""Incremental streaming corpus ingest: raw documents → training
corpus, exactly-once, one atomic snapshot per micro-batch.

The streaming form of jobs/corpus_pipeline.py's batch assembly: each
micro-batch of raw docs is

  1. exact-deduped WITHIN the batch (first doc_id per content hash),
  2. anti-joined against the ACCUMULATED hash set from all previous
     committed snapshots (cross-batch dedup, unbounded history — the
     durable complement of stream_dedup_docs' watermark-bounded
     state),
  3. quality-filtered (min tokens) and split-assigned (consistent md5
     hash split — a doc's split never changes however late it
     arrives),
  4. committed atomically: {doc_hashes: old ∪ new, corpus: new rows}
     via the manifest-last SnapshotStore protocol.

Exactly-once without distributed transactions: if the process dies
after commit but before the checkpoint records the batch, the REPLAYED
batch's hashes are already in doc_hashes, the anti-join drains it, and
the re-commit appends zero rows — idempotent by construction, the same
argument as the crawl frontier's replayed-discovery path
(streaming/jobs.py:stream_frontier_foreachbatch).

At scale the hash set is (md5, ) — 16 bytes/doc, bucketable by hash
prefix; `store.read` returns the latest version's set (each commit
writes the whole grow-only set, so no commit inherits it), and the
corpus is the append-only log across versions (like pages).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..frontier.state import SnapshotStore
from ..operators.dedup import tokens_col

CORPUS_COLS = ["doc_id", "text", "lang", "split"]


def _split_col() -> F.Column:
    pct = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 100
    )
    return (
        F.when(pct < 90, F.lit("train"))
        .when(pct < 95, F.lit("validation"))
        .otherwise(F.lit("test"))
    )


def ingest_batch(
    spark: SparkSession,
    store: SnapshotStore,
    batch_df: DataFrame,
    min_tokens: int = 1,
) -> int:
    """Process one batch (the foreachBatch body, callable directly in
    tests). Returns the number of corpus rows appended."""
    hashed = (
        batch_df.withColumn("_h", F.md5("text"))
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_h").orderBy("doc_id")),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    seen = store.read(spark, "doc_hashes")
    if seen is None:
        seen = spark.createDataFrame([], "_h string")
    fresh = hashed.join(seen, "_h", "left_anti")
    fresh = fresh.filter(F.size(tokens_col("text")) >= min_tokens)
    out = fresh.select(*CORPUS_COLS[:3], _split_col().alias("split"), "_h")
    out = out.localCheckpoint()  # one computation; commit writes twice below
    n = out.count()
    store.commit(
        {
            "doc_hashes": seen.unionByName(out.select("_h")).distinct(),
            "corpus": out.drop("_h"),
        },
        summary={"stage": "ingest", "n_new": n},
    )
    return n


def stream_corpus_ingest(
    spark: SparkSession,
    docs_dir: str,
    store: SnapshotStore,
    checkpoint: str,
    schema: str = "doc_id long, text string, lang string",
    min_tokens: int = 1,
):
    """Start the incremental ingest over a file-source directory of
    raw document parquet. availableNow semantics: drain what exists,
    then stop (rerun to pick up new files — the reference's rerun
    idiom)."""
    stream = spark.readStream.schema(schema).parquet(docs_dir)

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(spark, store, batch_df, min_tokens=min_tokens)

    return (
        stream.writeStream.foreachBatch(one_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_corpus(spark: SparkSession, store: SnapshotStore) -> DataFrame:
    """The accumulated corpus: union of every committed snapshot's
    appended rows (the append-log read, like CrawlJob.pages)."""
    dfs = [
        d for v in store.versions()
        if (d := store.read(spark, "corpus", v)) is not None
    ]
    if not dfs:
        raise RuntimeError("no corpus committed yet")
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
