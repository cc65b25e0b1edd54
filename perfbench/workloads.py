"""The four crawl-frontier workloads.

Each workload owns its inputs: `prepare` generates them with
`edgar_crawler_spark.synth` from the seed (cached on disk per
workload, seed and size), after which the engine only ever sees the
generated parquet. `rep` is one closed-loop repetition — the timed
part — and `verify` checks its output against an independent
computation, untimed. A repetition's `units` is the work it completed
in the workload's own unit (see `UNIT`).

With an enabled tracer, `rep` records spans around the engine's
public functions and forces lazy layers separately, so that per-layer
times measure execution rather than plan building.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
from dataclasses import dataclass, field
from datetime import date, timedelta

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from edgar_crawler_spark.extraction import ExtractionOptions, extract_filing
from edgar_crawler_spark.frontier import crawler as crawler_mod
from edgar_crawler_spark.frontier.crawler import CrawlJob
from edgar_crawler_spark.frontier.fetch import (
    MAX_RETRIES,
    SimulatedTransport,
    fetch_extract_wave,
)
from edgar_crawler_spark.frontier.priority import assign_waves
from edgar_crawler_spark.frontier.seen import build_sharded_bloom, filter_unseen
from edgar_crawler_spark.frontier.state import SnapshotStore
from edgar_crawler_spark.operators.extract_job import extract_items_job
from edgar_crawler_spark.synth import (
    FORM_TYPES,
    accession_number,
    filing_url,
    make_filing_body,
)

from tracing import Tracer

# Per-workload input size: frontier URLs, URLs per fetch, stored pages,
# URLs per crawl wave. "tiny" is the smoke-test size.
SIZES = {
    "frontier_schedule": {"full": 10000, "tiny": 400},
    "fetch_extract": {"full": 640, "tiny": 32},
    "extract_stored": {"full": 960, "tiny": 24},
    "crawl_waves": {"full": 2000, "tiny": 16},
}
SAMPLE = 16  # outputs per repetition checked against the in-process oracle


@dataclass
class Outcome:
    """What one repetition produced, as `verify` saw it."""

    units: int
    problems: list[str] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)


def _digest(df, cols: list[str], by: str):
    """Per-`by` (rows, order-free hash sum) of `cols`: forces every
    listed column, so no part of the plan can be pruned away."""
    h = F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    rows = df.groupBy(by).agg(F.count(F.lit(1)).alias("n"), h.alias("h")).collect()
    return {r[by]: (r["n"], str(r["h"])) for r in rows}


def _items_digest(result: dict | None) -> tuple[int, str | None]:
    items = sorted(
        (k, v) for k, v in (result or {}).items()
        if (k.startswith(("item_", "part_")) or k == "SIGNATURE")
        and isinstance(v, str) and v
    )
    joined = "\x00".join(f"{k}\x01{v}" for k, v in items)
    return len(items), hashlib.md5(joined.encode("utf-8")).hexdigest()


def _ledger_metadata(row: dict) -> dict:
    """The ledger row the extract job hands `extract_filing`, built
    here from the page columns (reference key order)."""
    md = {
        "CIK": row["cik"], "Company": row["company"], "Type": row["form_type"],
        "Date": row["filing_date"], "filename": row["filename"],
    }
    for k in (
        "Period of Report", "SIC", "State of Inc", "State location",
        "Fiscal Year End", "html_index", "htm_file_link",
        "complete_text_file_link",
    ):
        md[k] = None
    return md


def frontier_rows(seed: int, n: int) -> list[dict]:
    """n frontier rows (synth's URL and accession scheme, no bodies).
    Form types cycle, so every seed has the same form mix — and the same
    amount of extraction work — while URLs, dates and bodies differ."""
    rng = random.Random(seed)
    day0 = date(2015, 1, 1)
    rows = []
    for i in range(n):
        cik = str(rng.randint(1000, 9999999))
        acc = accession_number(seed, i)
        rows.append({
            "url": filing_url(cik, acc), "cik": cik, "company": f"SYNTH CORP {i}",
            "form_type": FORM_TYPES[i % len(FORM_TYPES)],
            "filing_date": (day0 + timedelta(days=rng.randrange(3651))).isoformat(),
            "accession": acc,
        })
    return rows


def _write_parquet(rows: list[dict], path: str, files: int = 8) -> None:
    """Write rows as `files` parquet files, so scans split into tasks."""
    os.makedirs(path)
    for k in range(files):
        part = rows[k * len(rows) // files:(k + 1) * len(rows) // files]
        pq.write_table(pa.Table.from_pylist(part), f"{path}/part-{k:05d}.parquet")


class Workload:
    NAME = ""
    UNIT = ""

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, size: str):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.n = SIZES[self.NAME][size]
        self.tracer = Tracer(enabled=False)
        self.layer: dict[str, float] = {}  # per-layer values set in prepare

    # -- inputs ----------------------------------------------------------

    def _inputs(self) -> str:
        """Directory of this (workload, seed, size)'s generated parquet,
        generating it on first use."""
        path = os.path.join(self.data_dir, f"{self.NAME}-seed{self.seed}-n{self.n}")
        if not os.path.exists(os.path.join(path, "_READY")):
            tmp = f"{path}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(path, ignore_errors=True)
            self._generate(tmp)
            open(os.path.join(tmp, "_READY"), "w").close()
            os.replace(tmp, path)
        return path

    def _generate(self, out: str) -> None:
        _write_parquet(frontier_rows(self.seed, self.n), f"{out}/frontier")

    def prepare(self) -> None:
        with self.tracer.span("synth.generate"):
            self.inputs = self._inputs()
        self._prepare()

    def _prepare(self) -> None:
        raise NotImplementedError

    def rep(self):
        raise NotImplementedError

    def verify(self, out) -> Outcome:
        raise NotImplementedError

    def traced_layers(self, tracer: Tracer, outcomes: list[Outcome]) -> dict[str, float]:
        """Per-layer values from the spans and counts of traced reps."""
        return {}


class FrontierSchedule(Workload):
    """URL-seen (sharded bloom + exact anti-join) and priority waves
    over a frontier of which a seeded 20 % is already seen."""

    NAME, UNIT = "frontier_schedule", "urls scheduled"
    BUCKETS, WAVE_SIZE, SHARDS = 32, 64, 32
    COLS = ["url", "host_bucket", "bucket_rank"]

    def _generate(self, out: str) -> None:
        rows = frontier_rows(self.seed, self.n)
        _write_parquet(rows, f"{out}/frontier")
        rng = random.Random(self.seed + 1)
        seen = [{"url": r["url"]} for r in rows if rng.random() < 0.2]
        _write_parquet(seen, f"{out}/seen")

    def _prepare(self) -> None:
        self.frontier = self.spark.read.parquet(f"{self.inputs}/frontier")
        self.seen = self.spark.read.parquet(f"{self.inputs}/seen")
        plain = filter_unseen(self.frontier, self.seen, bloom=None)
        waved = assign_waves(plain, self.BUCKETS, self.WAVE_SIZE)
        self.expected = _digest(waved, self.COLS, "host_bucket")
        rows = [n for n, _ in self.expected.values()]
        self.layer["priority.bucket_skew"] = max(rows) / statistics.mean(rows)

    def rep(self):
        t = self.tracer
        with t.span("seen.bloom_build"):
            bloom = build_sharded_bloom(self.seen, n_shards=self.SHARDS)
        unseen = filter_unseen(self.frontier, self.seen, bloom)
        if t.enabled:  # execute the filter on its own, not inside assign
            with t.span("seen.filter"):
                unseen = unseen.localCheckpoint(eager=True)
        with t.span("priority.assign"):
            waved = assign_waves(unseen, self.BUCKETS, self.WAVE_SIZE)
            got = _digest(waved, self.COLS, "host_bucket")
        return got, bloom

    def verify(self, out) -> Outcome:
        got, bloom = out
        units = sum(n for n, _ in got.values())
        o = Outcome(units, counts={"priority.urls_scheduled": units})
        if got != self.expected:
            o.problems.append("scheduled set differs from the plain anti-join path")
        if self.tracer.enabled:
            o.counts.update(self._bloom_stats(bloom))
        return o

    def _bloom_stats(self, bloom) -> dict[str, float]:
        if not hasattr(self, "_urls"):
            self._urls = [r.url for r in self.frontier.select("url").collect()]
            self._n_seen = self.seen.count()
        suspect = int(bloom.might_contain_many(self._urls).sum())
        return {
            "seen.suspect_share": suspect / len(self._urls),
            "seen.bloom_precision": self._n_seen / suspect if suspect else 1.0,
            "seen.bloom_mb": sum(len(b) for _, b in bloom.to_rows()) / 1e6,
        }

    def traced_layers(self, tracer, outcomes):
        t = tracer
        out = {
            "seen.bloom_build_s": t.median("seen.bloom_build"),
            "seen.filter_s": t.median("seen.filter"),
            "priority.assign_s": t.median("priority.assign"),
        }
        for k in ("seen.suspect_share", "seen.bloom_precision", "seen.bloom_mb",
                  "priority.urls_scheduled"):
            out[k] = statistics.median(o.counts[k] for o in outcomes)
        return out


class FetchExtract(Workload):
    """Fused fetch + extract of a scheduled wave: retries on a
    simulated transport, the extraction kernel in the same worker."""

    NAME, UNIT = "fetch_extract", "urls fetched"
    BUCKETS = 32

    def _prepare(self) -> None:
        self.transport = SimulatedTransport(seed=self.seed, transient_pct=10)
        frontier = self.spark.read.parquet(f"{self.inputs}/frontier")
        with self.tracer.span("priority.assign"):
            self.waved = assign_waves(frontier, self.BUCKETS, 10**9).cache()
            rows = self.waved.select(
                "url", "cik", "company", "form_type", "filing_date", "host_bucket"
            ).collect()
        per_bucket: dict[int, int] = {}
        for r in rows:
            per_bucket[r.host_bucket] = per_bucket.get(r.host_bucket, 0) + 1
        self.layer["priority.bucket_skew"] = (
            max(per_bucket.values()) / statistics.mean(per_bucket.values())
        )
        self.layer["priority.urls_scheduled"] = len(rows)
        # oracle: the transport's retry loop and the kernel, called in
        # this process for every URL (untimed set-up of a ~6 s workload)
        self.expected_attempts = 0
        self.expected_digest = {}
        for r in rows:
            attempts, body = 0, None
            while body is None and attempts <= MAX_RETRIES:
                attempts += 1
                body = self.transport.get(r.url, r.form_type, attempts)
            self.expected_attempts += attempts
            md = {"CIK": r.cik, "Company": r.company, "Type": r.form_type,
                  "Date": r.filing_date, "filename": None}
            self.expected_digest[r.url] = _items_digest(
                extract_filing(body, md, ExtractionOptions())
            )
        self.expected_items = sum(n for n, _ in self.expected_digest.values())

    def rep(self):
        with self.tracer.span("fetch.wave"):
            return fetch_extract_wave(
                self.waved, n_buckets=self.BUCKETS, transport_factory=self.transport
            ).select("url", "status", "attempts", "n_items", "items_digest").collect()

    def verify(self, rows) -> Outcome:
        ok = [r for r in rows if r.status == "ok"]
        attempts = sum(r.attempts for r in rows)
        items = sum(r.n_items for r in rows)
        o = Outcome(len(ok), counts={
            "fetch.urls": len(rows),
            "fetch.attempts": attempts,
            "fetch.retry_share": sum(r.attempts > 1 for r in rows) / max(1, len(rows)),
            "extraction.items": items,
        })
        n_urls = len(self.expected_digest)
        if len(ok) != n_urls or len({r.url for r in rows}) != len(rows):
            o.problems.append(f"{len(ok)} of {n_urls} urls fetched once")
        if attempts != self.expected_attempts:
            o.problems.append(f"attempts {attempts} != {self.expected_attempts}")
        if items != self.expected_items:
            o.problems.append(f"items {items} != {self.expected_items}")
        got = {r.url: (r.n_items, r.items_digest) for r in rows}
        bad = [u for u, d in self.expected_digest.items() if got.get(u) != d]
        if bad:
            o.problems.append(f"{len(bad)} items_digest mismatches")
        return o

    def traced_layers(self, tracer, outcomes):
        med = lambda k: statistics.median(o.counts[k] for o in outcomes)  # noqa: E731
        urls = med("fetch.urls")
        return {
            "priority.assign_s": tracer.median("priority.assign"),
            "fetch.wave_s": tracer.median("fetch.wave"),
            "fetch.urls": urls,
            "fetch.attempts": med("fetch.attempts"),
            "fetch.attempts_per_url": med("fetch.attempts") / urls,
            "fetch.retry_share": med("fetch.retry_share"),
            "extraction.items": med("extraction.items"),
            "extraction.items_per_filing": med("extraction.items") / urls,
        }


class ExtractStored(Workload):
    """ExtractItems over stored pages: bodies cross Arrow and the
    reference JSON payload is rendered per filing."""

    NAME, UNIT = "extract_stored", "items extracted"
    PAGE_COLS = ["url", "html", "cik", "company", "form_type", "filing_date", "filename"]

    def _generate(self, out: str) -> None:
        pages = []
        for i, r in enumerate(frontier_rows(self.seed, self.n)):
            form, year = r["form_type"], r["filing_date"][:4]
            pages.append({
                **r,
                "html": make_filing_body(self.seed, i, form).encode("utf-8"),
                "filename": f"{r['cik']}_{form.replace('-', '')}_{year}_{r['accession']}.htm",
            })
        _write_parquet(pages, f"{out}/pages")

    def _prepare(self) -> None:
        self.pages = self.spark.read.parquet(f"{self.inputs}/pages")
        # the oracle reads the generated files itself, not through Spark
        table = pq.read_table(f"{self.inputs}/pages", columns=self.PAGE_COLS)
        self.n_pages = table.num_rows
        self.layer["extract_job.arrow_mb_in"] = sum(
            pc.sum(pc.binary_length(table[c])).as_py() or 0 for c in self.PAGE_COLS
        ) / 1e6
        rows = table.to_pylist()
        self.expected_md5 = {}
        for r in random.Random(self.seed).sample(rows, min(SAMPLE, len(rows))):
            result = extract_filing(r["html"], _ledger_metadata(r), ExtractionOptions())
            payload = json.dumps(result, indent=4, ensure_ascii=False)
            self.expected_md5[r["url"]] = hashlib.md5(payload.encode("utf-8")).hexdigest()
        self.items_total = None

    def rep(self):
        # hash-balanced partitions: the scan's own split count depends on
        # file sizes, which sit near a split boundary and vary by seed
        parts = 4 * self.spark.sparkContext.defaultParallelism
        with self.tracer.span("extract_job"):
            return extract_items_job(self.pages, partitions=parts).select(
                "url", "n_items", F.md5("payload_json").alias("h")
            ).collect()

    def verify(self, rows) -> Outcome:
        items = sum(r.n_items for r in rows)
        o = Outcome(items, counts={"extraction.items": items})
        if len(rows) != self.n_pages or any(r.h is None for r in rows):
            o.problems.append(f"{len(rows)} results for {self.n_pages} pages")
        got = {r.url: r.h for r in rows}
        bad = [u for u, h in self.expected_md5.items() if got.get(u) != h]
        if bad:
            o.problems.append(f"{len(bad)} sampled payload_json mismatches")
        if self.items_total is None:
            self.items_total = items
        elif items != self.items_total:
            o.problems.append(f"items {items} != {self.items_total} of the first rep")
        return o

    def traced_layers(self, tracer, outcomes):
        items = statistics.median(o.counts["extraction.items"] for o in outcomes)
        return {
            "extract_job.s": tracer.median("extract_job"),
            "extraction.items": items,
            "extraction.items_per_filing": items / max(1, self.n_pages),
        }


class CrawlWaves(Workload):
    """The resumable wave loop: one repetition is one `run_wave`, from
    the call to the committed manifest. A crawl is reseeded into a
    fresh snapshot store after `WAVES_PER_CRAWL` waves (untimed)."""

    NAME, UNIT = "crawl_waves", "urls fetched"
    BUCKETS, WAVES_PER_CRAWL, FRONTIER_WAVES = 8, 6, 10
    CRAWLER_NAMES = {
        "build_sharded_bloom": "seen.bloom_build",
        "filter_unseen": "seen.filter",
        "assign_waves": "priority.assign",
        "fetch_wave": "fetch.wave",
        "merge_company_info": "company.merge",
    }

    def _generate(self, out: str) -> None:
        rows = frontier_rows(self.seed, self.n * self.FRONTIER_WAVES)
        _write_parquet(rows, f"{out}/frontier")

    def _prepare(self) -> None:
        self.frontier = self.spark.read.parquet(f"{self.inputs}/frontier")
        self.crawls = 0
        self._start_crawl()

    def _start_crawl(self) -> None:
        self.crawls += 1
        root = os.path.join(self.work_dir, f"crawl{self.crawls}")
        if self.crawls > 1:
            shutil.rmtree(os.path.join(self.work_dir, f"crawl{self.crawls - 1}"))
        self.store = SnapshotStore(root)
        self.job = CrawlJob(
            self.spark, self.store, n_buckets=self.BUCKETS,
            wave_size=self.n // self.BUCKETS,
        )
        with self.tracer.span("crawler.seed"):
            v = self.job.seed(self.frontier)
        frontier = self.store.read(self.spark, "frontier", v)
        self.left = {r.url for r in frontier.select("url").collect()}
        self.fetched: set[str] = set()
        self.waves = 0

    def rep(self):
        t = self.tracer
        if not t.enabled:
            return self.job.run_wave()
        with t.span("crawler.wave"), t.patched(crawler_mod, self.CRAWLER_NAMES), \
                t.patched(self.store, {"commit": "state.commit"}):
            build = crawler_mod.build_sharded_bloom

            def keep_bloom(*args, **kwargs):
                self.bloom = build(*args, **kwargs)
                return self.bloom

            crawler_mod.build_sharded_bloom = keep_bloom  # restored by patched()
            return self.job.run_wave()

    def verify(self, out) -> Outcome:
        if out is None:
            return Outcome(0, ["frontier exhausted before the crawl was reseeded"])
        n_ok, n_failed, v = out
        read = lambda table: self.store.read(self.spark, table, v)  # noqa: E731
        pages = read("pages").select("url", "attempts").collect()
        urls = {r.url for r in pages}
        seen = {r.url for r in read("seen").collect()}
        left = {r.url for r in read("frontier").select("url").collect()}
        files, nbytes = 0, 0
        for d, _dirs, names in os.walk(os.path.join(self.store.root, f"v{v}")):
            files += len(names)
            nbytes += sum(os.path.getsize(os.path.join(d, n)) for n in names)
        o = Outcome(len(urls), counts={
            "fetch.urls": len(pages),
            "fetch.attempts": sum(r.attempts for r in pages),
            "fetch.retry_share": sum(r.attempts > 1 for r in pages) / max(1, len(pages)),
            "state.files_written": files,
            "state.mb_written": nbytes / 1e6,
        })
        if len(urls) != len(pages) or urls & self.fetched:
            o.problems.append("a url was fetched twice")
        if n_ok + n_failed != len(pages) or not urls <= self.left:
            o.problems.append("wave fetched urls outside its frontier")
        if self.tracer.enabled:
            # the wave's frontier never holds a seen url, so every
            # maybe-seen flag is a false positive
            suspect = int(self.bloom.might_contain_many(sorted(self.left)).sum())
            o.counts.update({
                "seen.suspect_share": suspect / max(1, len(self.left)),
                "seen.bloom_precision": 0.0 if suspect else 1.0,
                "seen.bloom_mb": sum(len(b) for _, b in self.bloom.to_rows()) / 1e6,
            })
        self.fetched |= urls
        if seen != self.fetched:
            o.problems.append("seen differs from the fetched urls")
        if left & seen:
            o.problems.append("frontier and seen overlap")
        if left != self.left - urls:
            o.problems.append("frontier did not shrink by exactly the wave")
        self.left = left
        self.waves += 1
        if self.waves == self.WAVES_PER_CRAWL:
            self._start_crawl()
        return o

    def traced_layers(self, tracer, outcomes):
        """Times are medians over traced waves; per-wave counts come
        from the first traced wave (always the crawl's third), so they
        repeat exactly however many waves fit in the run."""
        t = tracer
        c = outcomes[0].counts
        return {
            "crawler.seed_s": t.median("crawler.seed"),
            "crawler.wave_s": t.median("crawler.wave"),
            "crawler.self_s": statistics.median(t.self_times("crawler.wave")),
            "seen.bloom_build_s": t.median("seen.bloom_build"),
            "seen.filter_s": t.median("seen.filter"),
            "seen.suspect_share": c["seen.suspect_share"],
            "seen.bloom_precision": c["seen.bloom_precision"],
            "seen.bloom_mb": c["seen.bloom_mb"],
            "priority.assign_s": t.median("priority.assign"),
            "priority.urls_scheduled": c["fetch.urls"],
            "fetch.wave_s": t.median("fetch.wave"),
            "fetch.urls": c["fetch.urls"],
            "fetch.attempts": c["fetch.attempts"],
            "fetch.attempts_per_url": c["fetch.attempts"] / c["fetch.urls"],
            "fetch.retry_share": c["fetch.retry_share"],
            "state.commit_s": t.median("state.commit"),
            "state.files_written": c["state.files_written"],
            "state.mb_written": c["state.mb_written"],
        }


WORKLOADS = {w.NAME: w for w in (FrontierSchedule, FetchExtract, ExtractStored, CrawlWaves)}
