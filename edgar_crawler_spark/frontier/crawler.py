"""Wave-loop crawl driver: schedule → fetch → commit, resumable.

One `run()` reproduces the reference's crawl entry point
(/root/reference/download_filings.py:54-224) as an iterative batch
loop — the Structured-Streaming dual is foreachBatch over the frontier
table, but an explicit loop keeps each wave = one atomic snapshot,
which is the exact-resume contract of the north rule.

Per wave, every computation runs once and every table is written once
(state.py has the store layout):
 1. read frontier and seen from the last committed snapshot (lineage
    stays one wave deep — iterative Spark jobs must cut lineage or
    plans grow unboundedly); the manifest's row counts answer "is the
    frontier empty" and size the bloom without a counting job,
 2. schedule: URL-seen (sharded bloom pre-filter + exact anti-join,
    seen.py) then priority + politeness waves (priority.py), written
    once as the version's scratch `schedule` table,
 3. fetch the `wave == 0` rows via applyInPandas (fetch.py), written
    once as the version's `pages` — nothing re-runs the fetch,
 4. one aggregate over that parquet gives n_ok, n_failed and the
    per-bucket lineage metrics,
 5. commit: frontier = the scratch rows with `wave > 0` (every wave-0
    row produced exactly one page row, so that is unseen minus this
    wave's fetches, with no join), seen += the wave's urls,
    company_info += the wave's new CIKs, plus pages and metrics. Kill
    the process anywhere; rerun resumes from the last commit with no
    double-fetch and no missed URL.

Failed-after-retries URLs are committed to `seen` with status=failed
in the pages table (so a bounded run terminates); the reference's
"rerun to retry failures" idiom is `requeue_failed()`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canon import canonicalize_url
from .company import enrich_pages, merge_company_info
from .fetch import RobotsPolicy, SimulatedTransport, fetch_wave
from .priority import assign_waves, bucket_partitioned
from .seen import build_sharded_bloom, filter_unseen
from .state import SnapshotStore, split_files

FRONTIER_COLS = ["url", "cik", "company", "form_type", "filing_date", "accession"]

METRICS_SCHEMA = (
    "wave long, host_bucket int, partition_id int, n_urls long, n_ok long, "
    "n_failed long, sum_attempts long, sum_bytes long, t_first double, "
    "t_last double, urls_per_sec double"
)


@dataclass
class CrawlResult:
    waves_run: int
    n_fetched: int
    n_failed: int
    versions: list[int] = field(default_factory=list)


def wave_metrics(pages: DataFrame) -> list:
    """Per-(wave, host_bucket) lineage rows of a written pages table.
    `partition_id` is the fetch task that wrote the rows, read from
    its part-file name."""
    pid = F.regexp_extract(F.col("_metadata.file_name"), r"^part-(\d+)", 1)
    return (
        pages.withColumn("_pid", pid.cast("int"))
        .groupBy("wave", "host_bucket")
        .agg(
            F.min("_pid").alias("partition_id"),
            F.count(F.lit(1)).alias("n_urls"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias(
                "n_failed"
            ),
            F.sum("attempts").alias("sum_attempts"),
            F.sum("fetched_bytes").alias("sum_bytes"),
            F.min("sched_ts").alias("t_first"),
            F.max("sched_ts").alias("t_last"),
        )
        .withColumn(
            "urls_per_sec",
            F.col("n_urls")
            / F.greatest(F.col("t_last") - F.col("t_first"), F.lit(1e-9)),
        )
        .collect()
    )


class CrawlJob:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        n_buckets: int = 8,
        wave_size: int = 64,
        host_budget_per_sec: float = 10.0,
        bloom_shards: int = 16,
        bloom_fpp: float = 0.01,
        transport_factory: Callable[[], SimulatedTransport] | None = None,
        robots: RobotsPolicy | None = None,
        company_transport_factory: Callable[[], object] | None = None,
    ):
        self.spark = spark
        self.store = store
        self.n_buckets = n_buckets
        self.wave_size = wave_size
        self.host_budget_per_sec = host_budget_per_sec
        self.bloom_shards = bloom_shards
        self.bloom_fpp = bloom_fpp
        self.transport_factory = transport_factory
        self.robots = robots
        self.company_transport_factory = company_transport_factory

    # -- state ---------------------------------------------------------

    def seed(self, frontier: DataFrame) -> int:
        """Snapshot v1: canonicalized deduped frontier, empty seen."""
        canon = (
            frontier.withColumn("url", canonicalize_url("url"))
            .dropDuplicates(["url"])
            .select(*FRONTIER_COLS)
        )
        empty_seen = self.spark.createDataFrame([], "url string")
        return self.store.commit(
            {"frontier": canon, "seen": empty_seen},
            summary={"stage": "seed"},
        )

    # -- one wave ------------------------------------------------------

    def run_wave(self) -> tuple[int, int, int] | None:
        """Run exactly one wave. Returns (n_ok, n_failed, version) or
        None if the frontier is exhausted."""
        store, spark = self.store, self.spark
        if store.latest() is None:
            raise RuntimeError("no snapshot; call seed(frontier) first")
        if not store.rows("frontier"):
            return None
        frontier = store.read(spark, "frontier")
        seen = store.read(spark, "seen")

        bloom = build_sharded_bloom(
            seen, n_shards=self.bloom_shards, fpp=self.bloom_fpp,
            n=store.rows("seen"),
        )
        version = store.begin()
        sched, sched_entry = store.write(
            version, "schedule",
            assign_waves(
                filter_unseen(frontier, seen, bloom), self.n_buckets, self.wave_size
            ),
            scratch=True,
        )
        # A merged/replayed frontier can consist ENTIRELY of already-seen
        # urls; without this check run() would loop forever committing
        # empty waves (frontier non-empty but no fetchable work).
        if sched_entry["rows"] == 0:
            store.abort(version)
            return None

        # reading the scratch back drops assign_waves' partitioning:
        # restore one host bucket per fetch task
        front = bucket_partitioned(sched.filter(F.col("wave") == 0), self.n_buckets)
        pages, pages_entry = store.write(
            version, "pages",
            fetch_wave(
                front,
                host_budget_per_sec=self.host_budget_per_sec,
                n_buckets=self.n_buckets,
                transport_factory=self.transport_factory,
                robots=self.robots,
            ),
        )
        stats = wave_metrics(pages)
        n_ok = sum(r.n_ok for r in stats)
        n_failed = sum(r.n_failed for r in stats)

        # lazy company-info dim upsert (download_filings.py:572-646):
        # only ciks NOT already in the dim are "fetched", and only they
        # are appended, in the same atomic commit as the rest.
        new_ciks = merge_company_info(
            store.read(spark, "company_info"), pages.select("cik"), version,
            self.company_transport_factory,
        )
        # every wave-0 row became exactly one page row, so the rows
        # left for later waves are the next frontier — no join needed.
        # The frontier gets the files Spark's read-split rule asks for;
        # the tables bounded by the wave are one file each, except
        # company_info, whose fetch keeps the (AQE-sized) parallelism
        # of the shuffle before it.
        left = 1 - pages_entry["rows"] / sched_entry["rows"]
        store.commit(
            {
                "frontier": sched.filter(F.col("wave") > 0)
                .select(*FRONTIER_COLS)
                .coalesce(split_files(spark, int(sched_entry["bytes"] * left))),
                "metrics": spark.createDataFrame(stats, METRICS_SCHEMA).coalesce(1),
            },
            append={
                "seen": pages.select("url").coalesce(1),
                "company_info": new_ciks,
            },
            summary={
                "stage": "wave",
                "n_ok": n_ok,
                "n_failed": n_failed,
                "n_buckets": self.n_buckets,
                "wave_size": self.wave_size,
                "host_budget_per_sec": self.host_budget_per_sec,
            },
            version=version,
            written={"pages": pages_entry},
        )
        return n_ok, n_failed, version

    # -- full run ------------------------------------------------------

    def run(self, frontier: DataFrame | None = None, max_waves: int | None = None) -> CrawlResult:
        """Crawl to exhaustion (or `max_waves`). If the store already
        has snapshots, `frontier` is ignored and the run RESUMES."""
        if self.store.latest() is None:
            if frontier is None:
                raise ValueError("fresh store needs a frontier")
            self.seed(frontier)
        result = CrawlResult(waves_run=0, n_fetched=0, n_failed=0)
        while max_waves is None or result.waves_run < max_waves:
            out = self.run_wave()
            if out is None:
                break
            n_ok, n_failed, version = out
            result.waves_run += 1
            result.n_fetched += n_ok
            result.n_failed += n_failed
            result.versions.append(version)
        return result

    # -- outputs -------------------------------------------------------

    def pages(self) -> DataFrame:
        """Union of all committed wave pages (all snapshots)."""
        dfs = [
            self.store.read(self.spark, "pages", v)
            for v in self.store.versions()
        ]
        dfs = [d for d in dfs if d is not None]
        if not dfs:
            raise RuntimeError("no pages committed yet")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def metrics(self) -> DataFrame:
        dfs = [
            self.store.read(self.spark, "metrics", v)
            for v in self.store.versions()
        ]
        dfs = [d for d in dfs if d is not None]
        if not dfs:
            raise RuntimeError("no metrics committed yet")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def company_info(self) -> DataFrame:
        """The company-info dim from the newest snapshot carrying it
        (grow-only across waves; survives kill/resume)."""
        dim = self.store.read(self.spark, "company_info")
        if dim is None:
            raise RuntimeError("no company_info committed yet")
        return dim

    def enriched_pages(self) -> DataFrame:
        """pages with missing company fields filled from the dim
        (download_filings.py:648-656)."""
        return enrich_pages(self.pages(), self.company_info())

    def requeue_failed(self) -> int:
        """Reference 'rerun to retry failed' idiom: move failed URLs
        from seen back into the frontier in a new snapshot."""
        if self.store.latest() is None:
            return 0
        pages = self.pages()
        # pages() is the all-versions union: a url that failed once and
        # succeeded after an earlier requeue has BOTH rows. Only urls
        # with no 'ok' row anywhere may be requeued (no-double-fetch).
        ever_ok = pages.filter(F.col("status") == "ok").select("url")
        failed = (
            pages.filter(F.col("status") != "ok")
            .select(*FRONTIER_COLS)
            .dropDuplicates(["url"])
            .join(ever_ok, on="url", how="left_anti")
        )
        n = failed.count()
        if n == 0:
            return 0
        frontier = self.store.read(self.spark, "frontier")
        seen = self.store.read(self.spark, "seen")
        self.store.commit(
            {
                "frontier": frontier.unionByName(failed).dropDuplicates(["url"]),
                "seen": seen.join(failed.select("url"), "url", "left_anti"),
            },
            summary={"stage": "requeue_failed", "n": n},
        )
        return n
