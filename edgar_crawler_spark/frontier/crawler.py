"""Wave-loop crawl driver: admit → (read wave → fetch → commit)*, resumable.

One `run()` reproduces the reference's crawl entry point
(/root/reference/download_filings.py:54-224) as an iterative batch
loop; each wave is one atomic snapshot, which is the exact-resume
contract of the north rule.

URLs enter the frontier only through an admission commit: `seed()`,
`requeue_failed()` and `merge()` (newly discovered urls). Admission ranks
the whole frontier once — priority + politeness waves, priority.py —
and writes it segmented by wave (state.py), with a cursor at wave 0.
A merge also drops already-seen URLs there (URL-seen, seen.py), so
frontier ∩ seen = ∅ after every commit. A job whose n_buckets or
wave_size differ from the recorded ones re-ranks the remaining
frontier once, as an admission commit.

A wave reads only its own rows and runs every computation once:
 1. read the cursor's wave segment and seen from the last committed
    snapshot (lineage stays one wave deep — iterative Spark jobs must
    cut lineage or plans grow unboundedly); the manifest's row counts
    answer "is the frontier empty" and size the bloom without a
    counting job,
 2. check the segment against seen (sharded bloom pre-filter + exact
    anti-join, seen.py) — a guard: admission already keeps the
    frontier unseen,
 3. fetch via applyInPandas (fetch.py), written once as the version's
    `pages` — nothing re-runs the fetch,
 4. concurrently: one aggregate over that parquet gives n_ok and
    n_failed, seen += the wave's urls, company_info += the wave's new
    CIKs,
 5. commit those with the frontier's entry, its cursor one wave on;
    no frontier data is written. Kill the process anywhere; rerun
    resumes from the last commit with no double-fetch and no missed
    URL.

A commit stores only state that is new and cannot be derived: the
per-bucket lineage rows (`CrawlJob.metrics()`) are an aggregate over
each version's pages, computed when read, and a merge admits URLs
without rewriting seen. Every manifest lists the whole crawl state
(state.py), so each operation resolves the latest version once and
reads everything at it.

Failed-after-retries URLs are committed to `seen` with status=failed
in the pages table (so a bounded run terminates); the reference's
"rerun to retry failures" idiom is `requeue_failed()`.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canon import canonicalize_url
from .company import enrich_pages, merge_company_info
from .fetch import RobotsPolicy, SimulatedTransport, fetch_wave
from .priority import assign_waves, bucket_key, bucket_partitioned
from .seen import build_sharded_bloom, filter_unseen
from .state import SnapshotStore

FRONTIER_COLS = ["url", "cik", "company", "form_type", "filing_date", "accession"]


@dataclass
class CrawlResult:
    waves_run: int
    n_fetched: int
    n_failed: int
    versions: list[int] = field(default_factory=list)


def wave_metrics(pages: DataFrame) -> DataFrame:
    """Per-(wave, host_bucket) lineage rows of one version's written
    pages. `partition_id` is the fetch task that wrote the rows, read
    from its part-file name."""
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
    )


def concurrently(spark: SparkSession, fns: list[Callable]) -> list:
    """Run `fns` in threads that inherit the caller's Spark job group
    and tags, wait for all of them, and return their results in order.
    The first error raised is re-raised only after every thread has
    finished, so no write outlives the caller."""
    with ThreadPoolExecutor(len(fns)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn)) for fn in fns]
        errors = [f.exception() for f in as_completed(futures)]
    for error in errors:
        if error is not None:
            raise error
    return [f.result() for f in futures]


def _canonical(urls: DataFrame) -> DataFrame:
    return (
        urls.withColumn("url", canonicalize_url("url"))
        .dropDuplicates(["url"])
        .select(*FRONTIER_COLS)
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
        transport_factory: Callable[[], SimulatedTransport] | None = None,
        robots: RobotsPolicy | None = None,
    ):
        self.spark = spark
        self.store = store
        self.n_buckets = n_buckets
        self.wave_size = wave_size
        self.host_budget_per_sec = host_budget_per_sec
        self.bloom_shards = bloom_shards
        self.transport_factory = transport_factory
        self.robots = robots

    # -- admission -----------------------------------------------------

    def _admit(self, frontier: DataFrame, tables: dict[str, DataFrame], summary: dict) -> int:
        """Admission commit: rank `frontier` (unseen rows only) into
        waves once and commit it segmented by wave, cursor at 0, with
        `tables`. The entry records the n_buckets/wave_size it was
        ranked with."""
        ranked = assign_waves(
            frontier.select(*FRONTIER_COLS), self.n_buckets, self.wave_size
        ).drop("form_weight")
        # A task writes one file per wave it holds. Keyed on (wave, host
        # bucket), a large wave is written by up to n_buckets tasks; AQE
        # coalesces a small frontier into one task, one file per wave.
        ranked = ranked.repartition(F.col("wave"), F.col(bucket_key(ranked)))
        version = self.store.begin()
        _, entry = self.store.write(version, "frontier", ranked, segmented=True)
        entry.update(n_buckets=self.n_buckets, wave_size=self.wave_size)
        return self.store.commit(
            tables, summary=summary, version=version, written={"frontier": entry}
        )

    def _frontier(self, version: int) -> dict:
        """The frontier's entry at committed `version`; a frontier
        committed without a cursor (before admission ranking) cannot be
        resumed."""
        entry = self.store.entry("frontier", version)
        if entry is None or "cursor" not in entry:
            raise ValueError(
                f"{self.store.root} has no ranked frontier with a wave cursor; "
                "seed a new store"
            )
        return entry

    def _remaining(self, version: int) -> DataFrame:
        """The frontier rows not yet fetched at committed `version`,
        without their ranking."""
        self._frontier(version)
        return self.store.read(self.spark, "frontier", version).select(*FRONTIER_COLS)

    def seed(self, frontier: DataFrame) -> int:
        """Snapshot v1: canonicalized deduped frontier, ranked, empty seen."""
        empty_seen = self.spark.createDataFrame([], "url string")
        return self._admit(_canonical(frontier), {"seen": empty_seen}, {"stage": "seed"})

    def merge(self, urls: DataFrame, **summary) -> int:
        """Admit discovered URLs into the committed frontier (or seed an
        empty store with them): canonical form (so a /ix?doc=/ variant
        of a fetched url is recognised), already-seen ones dropped, the
        rest re-ranked with the remaining frontier. seen is inherited
        unchanged: a merge fetches nothing."""
        store, spark = self.store, self.spark
        v = store.latest()
        if v is None:
            return self.seed(urls)
        seen = store.read(spark, "seen", v)
        bloom = build_sharded_bloom(seen, n_shards=self.bloom_shards, n=store.rows("seen", v))
        new = filter_unseen(_canonical(urls), seen, bloom)
        return self._admit(
            self._remaining(v).unionByName(new).dropDuplicates(["url"]),
            {},
            {"stage": "merge", **summary},
        )

    # -- one wave ------------------------------------------------------

    def run_wave(self) -> tuple[int, int, int] | None:
        """Run exactly one wave. Returns (n_ok, n_failed, version) or
        None if the frontier is exhausted."""
        store, spark = self.store, self.spark
        v = store.latest()
        if v is None:
            raise RuntimeError("no snapshot; call seed(frontier) first")
        entry = self._frontier(v)
        if not store.rows("frontier", v):
            return None
        if (entry["n_buckets"], entry["wave_size"]) != (self.n_buckets, self.wave_size):
            v = self._admit(self._remaining(v), {}, {"stage": "rerank"})
            entry = self._frontier(v)
        wave = entry["cursor"]
        seen = store.read(spark, "seen", v)
        bloom = build_sharded_bloom(seen, n_shards=self.bloom_shards, n=store.rows("seen", v))
        version = store.begin()
        # The segment was unseen when admitted; the check guards it. The
        # bloom flag is evaluated below the exchange the fetch needs
        # anyway, so it runs once per row. A wave whose rows all turn
        # out seen fetches nothing and still moves the cursor on.
        front = filter_unseen(
            store.read(spark, "frontier", v, segment=wave), seen, bloom,
            exchange=lambda df: bucket_partitioned(df, self.n_buckets),
        )
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
        # lazy company-info dim upsert (download_filings.py:572-646):
        # only ciks NOT already in the dim are "fetched", and only they
        # are appended, in the same atomic commit as the rest.
        new_ciks = merge_company_info(
            store.read(spark, "company_info", v), pages.select("cik"), version
        )

        # The wave's counts and two appends, independent reads of the
        # written pages. The seen delta is one file; company_info keeps
        # the (AQE-sized) parallelism of the shuffle before it.
        stats, seen_entry, company_entry = concurrently(spark, [
            lambda: wave_metrics(pages).collect(),
            lambda: store.append(version, "seen", pages.select("url").coalesce(1)),
            lambda: store.append(version, "company_info", new_ciks),
        ])
        n_ok = sum(r.n_ok for r in stats)
        n_failed = sum(r.n_failed for r in stats)
        store.commit(
            summary={
                "stage": "wave",
                "wave": wave,
                "n_ok": n_ok,
                "n_failed": n_failed,
                "n_buckets": self.n_buckets,
                "wave_size": self.wave_size,
                "host_budget_per_sec": self.host_budget_per_sec,
            },
            version=version,
            written={
                "frontier": {**entry, "cursor": wave + 1},
                "pages": pages_entry,
                "seen": seen_entry,
                "company_info": company_entry,
            },
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

    def _per_version_pages(self, fn: Callable[[DataFrame], DataFrame]) -> DataFrame:
        """Union of `fn` over the pages of every committed snapshot
        that wrote them, one version at a time."""
        dfs = [self.store.read(self.spark, "pages", v) for v in self.store.versions()]
        dfs = [fn(d) for d in dfs if d is not None]
        if not dfs:
            raise RuntimeError("no pages committed yet")
        return reduce(DataFrame.unionByName, dfs)

    def pages(self) -> DataFrame:
        """Union of all committed wave pages (all snapshots)."""
        return self._per_version_pages(lambda pages: pages)

    def metrics(self) -> DataFrame:
        """Per-(wave, host_bucket) lineage rows of every committed wave
        (`wave_metrics`). Each version is aggregated on its own: wave
        numbers restart at every admission."""
        return self._per_version_pages(wave_metrics)

    def company_info(self) -> DataFrame:
        """The company-info dim at the latest snapshot (grow-only
        across waves; survives kill/resume)."""
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
        from seen back into the frontier, re-ranked with the remaining
        rows, in one admission commit."""
        v = self.store.latest()
        if v is None:
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
        seen = self.store.read(self.spark, "seen", v)
        self._admit(
            self._remaining(v).unionByName(failed).dropDuplicates(["url"]),
            {"seen": seen.join(failed.select("url"), "url", "left_anti")},
            {"stage": "requeue_failed", "n": n},
        )
        return n
