"""Frontier semantics tests (SURVEY.md §5 item 3).

- canonicalization: Spark expression ≡ pure-Python mirror
- bloom: zero false negatives, bounded fpp, roundtrip
- URL-seen: bloom-prefiltered path ≡ exact anti-join
- ordering: reference_order ≡ single-process oracle
- politeness: per-bucket pacing + total host budget never exceeded
- end-to-end crawl: every URL fetched exactly once; kill+resume from
  snapshot refetches nothing and misses nothing; retries recover
  transient failures; requeue_failed re-enqueues permanent ones.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from edgar_crawler_spark.frontier import (
    BloomFilter,
    CrawlJob,
    ShardedBloom,
    SnapshotStore,
    TokenBucket,
    assign_waves,
    canonicalize_url,
    canonicalize_url_py,
    filter_unseen,
    reference_order,
)
from edgar_crawler_spark.frontier.bloom import shard_of
from edgar_crawler_spark.frontier.fetch import MAX_RETRIES, SimulatedTransport
from edgar_crawler_spark.frontier.seen import build_sharded_bloom
from edgar_crawler_spark.synth import accession_number, filing_url

CANON_CASES = [
    # iXBRL rewrite (download_filings.py:703-705)
    ("https://www.sec.gov/ix?doc=/Archives/edgar/data/320193/a.htm",
     "https://www.sec.gov/Archives/edgar/data/320193/a.htm"),
    # bare 18-digit accession -> dashed normal form
    ("https://www.sec.gov/Archives/edgar/data/320193/000032019324000123.txt",
     "https://www.sec.gov/Archives/edgar/data/320193/0000320193-24-000123.txt"),
    # host case + default port + fragment
    ("HTTPS://WWW.SEC.GOV:443/Archives/x.htm#item7",
     "https://www.sec.gov/Archives/x.htm"),
    ("http://www.sec.gov:80/", "http://www.sec.gov/"),
    # NON-default ports for the scheme are kept: these fetch different bytes
    ("http://www.sec.gov:443/x.htm", "http://www.sec.gov:443/x.htm"),
    ("https://www.sec.gov:80/x.htm", "https://www.sec.gov:80/x.htm"),
    # already canonical: unchanged
    ("https://www.sec.gov/Archives/edgar/data/1/0000000001-20-000001-index.html",
     "https://www.sec.gov/Archives/edgar/data/1/0000000001-20-000001-index.html"),
]


def _frontier_rows(n: int, seed: int = 3):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        cik = str(rng.randint(1000, 99999))
        acc = accession_number(seed, i)
        rows.append(
            (
                filing_url(cik, acc),
                cik,
                f"CO {i}",
                rng.choice(["8-K", "10-K", "10-Q"]),
                f"{rng.randint(2015, 2024)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                acc,
            )
        )
    return rows


FRONTIER_SCHEMA = (
    "url string, cik string, company string, form_type string, "
    "filing_date string, accession string"
)


def _frontier_df(spark, n: int, seed: int = 3):
    return spark.createDataFrame(_frontier_rows(n, seed), FRONTIER_SCHEMA)


class TestCanon:
    def test_pure_cases(self):
        for raw, want in CANON_CASES:
            assert canonicalize_url_py(raw) == want, raw

    def test_spark_matches_python(self, spark):
        raws = [c[0] for c in CANON_CASES] + [r[0] for r in _frontier_rows(50)]
        df = spark.createDataFrame([(u,) for u in raws], "url string")
        got = [r[0] for r in df.select(canonicalize_url("url")).collect()]
        assert got == [canonicalize_url_py(u) for u in raws]


class TestBloom:
    def test_no_false_negatives_and_fpp(self):
        keys = [f"https://www.sec.gov/Archives/{i}.txt" for i in range(5000)]
        bf = BloomFilter.empty(len(keys), fpp=0.01)
        bf.add_many(keys)
        assert all(bf.might_contain(k) for k in keys)
        probes = [f"https://other/{i}" for i in range(5000)]
        fp = sum(bf.might_contain(p) for p in probes) / len(probes)
        assert fp < 0.03

    def test_sharded_roundtrip(self):
        keys = [f"u{i}" for i in range(2000)]
        shards: dict[int, BloomFilter] = {}
        for k in keys:
            s = shard_of(k, 8)
            shards.setdefault(s, BloomFilter.empty(300, 0.01)).add(k)
        sb = ShardedBloom(8, shards)
        sb2 = ShardedBloom.from_rows(8, sb.to_rows())
        assert all(sb2.might_contain(k) for k in keys)
        assert len(set(shard_of(k, 8) for k in keys)) == 8  # all shards used

    def test_vectorized_paths_bit_identical(self):
        """add_many / might_contain_many are vectorized; they must be
        BIT-identical to the per-key add / might_contain loops —
        including absent shards (answer False) and shards with
        different geometry."""
        import numpy as np

        keys = [f"https://host{i % 7}.example/p/{i}" for i in range(3000)]
        keys += ["", "é∆-unicode", "a" * 500]
        bf_loop = BloomFilter.empty(1000, 0.01)
        bf_vec = BloomFilter.empty(1000, 0.01)
        for k in keys:
            bf_loop.add(k)
        bf_vec.add_many(keys)
        assert np.array_equal(bf_loop.bits, bf_vec.bits)

        shards: dict[int, BloomFilter] = {}
        for k in keys:
            shards.setdefault(shard_of(k, 16), BloomFilter.empty(300, 0.01)).add(k)
        del shards[sorted(shards)[3]]  # absent-shard path
        sb = ShardedBloom(16, shards)
        probe = keys + [f"unseen-{i}" for i in range(3000)]
        per_key = [sb.might_contain(k) for k in probe]
        assert sb.might_contain_many(probe).tolist() == per_key
        assert sb.might_contain_many([]).shape == (0,)

        het = ShardedBloom(
            4, {0: BloomFilter.empty(100, 0.01), 1: BloomFilter.empty(9999, 0.001)}
        )
        het.shards[0].add("x")
        het.shards[1].add("y")
        pr = ["x", "y", "z", "w"]
        assert het.might_contain_many(pr).tolist() == [het.might_contain(k) for k in pr]

    def test_distributed_build_matches(self, spark):
        df = _frontier_df(spark, 400).repartition(7)
        sb = build_sharded_bloom(df, n_shards=4)
        urls = [r.url for r in df.select("url").collect()]
        assert all(sb.might_contain(u) for u in urls)


class TestUrlSeen:
    def test_prefiltered_equals_exact(self, spark):
        frontier = _frontier_df(spark, 300, seed=1)
        # seen = half of frontier + some foreign urls
        seen = (
            frontier.sample(0.5, seed=42)
            .select("url")
            .unionByName(
                spark.createDataFrame(
                    [(f"https://elsewhere/{i}",) for i in range(100)], "url string"
                )
            )
        ).cache()
        # a NULL url equals nothing, so left-anti semantics keep it
        frontier = frontier.unionByName(
            spark.createDataFrame(
                [(None, "0", "CO null", "8-K", "2020-01-01", None)], FRONTIER_SCHEMA
            )
        )
        bloom = build_sharded_bloom(seen, n_shards=4)

        def urls(df):  # NULL first
            got = [r.url for r in df.select("url").collect()]
            return sorted(got, key=lambda u: (u is not None, u))

        got = urls(filter_unseen(frontier, seen, bloom))
        assert got == urls(frontier.join(seen, "url", "left_anti"))
        assert got[0] is None and None not in got[1:]
        assert 1 < len(got) < 301

    def test_probe_runs_once_below_the_callers_exchange(self, spark):
        """With `exchange`, both legs read one (reused) exchange, so the
        bloom probe is evaluated once per row, never on the seen side,
        and a consumer grouped on the same key adds no exchange."""
        from edgar_crawler_spark.frontier.canon import host_bucket_col
        from edgar_crawler_spark.frontier.priority import bucket_partitioned

        rows = _frontier_rows(200, seed=2)
        frontier = spark.createDataFrame(rows, FRONTIER_SCHEMA).withColumn(
            "host_bucket", host_bucket_col("url", 4)
        )
        seen = spark.createDataFrame([(r[0],) for r in rows[::3]], "url string")
        bloom = build_sharded_bloom(seen, n_shards=4)
        seen = F.broadcast(seen)  # as a crawl's small seen parquet is
        unseen = filter_unseen(
            frontier, seen, bloom, exchange=lambda df: bucket_partitioned(df, 4)
        )
        grouped = unseen.groupBy("host_bucket").applyInPandas(lambda p: p, unseen.schema)
        got = sorted(r.url for r in grouped.collect())
        want = sorted(r.url for r in frontier.join(seen, "url", "left_anti").collect())
        assert got == want
        plan = grouped._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("ArrowEvalPython") == 1
        assert final.count("ReusedExchange") == 1
        assert final.count("+- Exchange hashpartitioning") == 1


class TestOrdering:
    def test_reference_order_matches_oracle(self, spark):
        rng = random.Random(9)
        seq: dict[tuple[int, int], int] = {}
        rows = []
        for i in range(500):
            yq = (rng.randint(2018, 2021), rng.randint(1, 4))
            rows.append((yq[0], yq[1], seq.get(yq, 0), f"acc{i}"))
            seq[yq] = seq.get(yq, 0) + 1
        df = spark.createDataFrame(
            rows, "year int, quarter int, row_seq long, accession string"
        ).repartition(8)
        got = [
            r.accession
            for r in reference_order(df).orderBy("visit_seq").collect()
        ]
        want = [a for _, _, _, a in sorted(rows, key=lambda r: (r[0], r[1], r[2]))]
        assert got == want

    def test_assign_waves(self, spark):
        df = assign_waves(_frontier_df(spark, 400), n_buckets=4, wave_size=25)
        pdf = df.toPandas()
        assert set(pdf.host_bucket.unique()) <= set(range(4))
        # wave sizes bounded; within-bucket priority is monotone
        for (_, w), grp in pdf.groupby(["host_bucket", "wave"]):
            assert len(grp) <= 25
        for _, grp in pdf.groupby("host_bucket"):
            g = grp.sort_values("bucket_rank")
            keys = list(
                zip(-g.form_weight, [tuple(-ord(c) for c in d) for d in g.filing_date], g.accession)
            )
            assert keys == sorted(keys)

    def test_murmur_mirror_matches_spark_hash(self, spark):
        """partition_slots inverts HashPartitioning with a pure-Python
        Murmur3; it is only sound if the mirror is EXACT (incl. sign
        and int32 overflow semantics)."""
        from edgar_crawler_spark.frontier.priority import _murmur3_int32

        vals = list(range(-5, 40)) + [2**31 - 1, -(2**31), 123456789, -987654321]
        df = spark.createDataFrame([(v,) for v in vals], "v int")
        got = {r.v: r.h for r in df.select("v", F.hash("v").alias("h")).collect()}
        assert got == {v: _murmur3_int32(v) for v in vals}

    def test_slots_cover_all_residues(self):
        from edgar_crawler_spark.frontier.priority import (
            _murmur3_int32, partition_slots,
        )

        for n in (*range(1, 257), 1024):
            s = partition_slots(n)
            assert len({_murmur3_int32(v) % n for v in s}) == n

    def test_one_bucket_per_partition(self, spark):
        """Murmur3 collides on raw bucket ids (0 and 1 of 2 share a
        partition), which would stack two politeness-paced buckets
        behind one task; the _pslot mapping must place every bucket on
        its OWN partition."""
        for n in (2, 4, 8):
            w = assign_waves(_frontier_df(spark, 300), n_buckets=n, wave_size=300)
            got = (
                w.select("host_bucket", F.spark_partition_id().alias("p"))
                .distinct()
                .collect()
            )
            parts: dict[int, set] = {}
            for r in got:
                parts.setdefault(r.host_bucket, set()).add(r.p)
            assert all(len(v) == 1 for v in parts.values())
            flat = [next(iter(v)) for v in parts.values()]
            assert len(set(flat)) == len(parts)

    def test_single_exchange_reused_by_fetch(self, spark):
        """The _pslot repartition must remain the ONLY exchange: the
        window and the fetch groupBy reuse its clustering."""
        from edgar_crawler_spark.frontier.fetch import fetch_wave

        w = assign_waves(_frontier_df(spark, 100), n_buckets=4, wave_size=100)
        plan = fetch_wave(
            w, transport_factory=lambda: SimulatedTransport(transient_pct=0)
        )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1


class TestPoliteness:
    def test_token_bucket_rate(self):
        tb = TokenBucket(rate=2.0)
        times = [tb.acquire(0.0) for _ in range(21)]
        assert times == sorted(times)
        # after the first token, steady state is 1/rate gaps
        gaps = [b - a for a, b in zip(times[1:], times[2:])]
        assert all(g >= 0.5 - 1e-9 for g in gaps)
        assert times[-1] >= 19 * 0.5 - 1e-9

    def test_token_bucket_credits_time_spent_waiting(self):
        """A send that becomes ready after the next token is due goes
        out when it is ready, not one token interval later."""
        tb = TokenBucket(rate=2.0)
        assert [tb.acquire(0.0), tb.acquire(0.0)] == [0.0, 0.5]
        assert tb.acquire(0.5 + 5.0) == 5.5
        # ready before the next token: the token decides
        assert tb.acquire(5.6) == 6.0

    def test_retry_leaves_after_backoff_or_token(self, spark):
        """In one bucket, a url whose first attempt fails is retried
        max(backoff, 1/rate) after that attempt: the backoff and the
        token interval overlap instead of adding up."""
        from edgar_crawler_spark.frontier.fetch import BACKOFF_FACTOR, fetch_wave

        wave = assign_waves(_frontier_df(spark, 6), n_buckets=1, wave_size=6)
        urls = [r.url for r in wave.orderBy("bucket_rank").select("url").collect()]
        flaky = urls[2]

        class FlakyOnce:
            def get(self, url, form_type, attempt):
                return None if url == flaky and attempt == 1 else b"<html>ok</html>"

        # token interval 1 s (longer than the first backoff) and 0.05 s
        for budget in (1.0, 20.0):
            rows = fetch_wave(
                wave, host_budget_per_sec=budget, n_buckets=1,
                transport_factory=FlakyOnce,
            ).collect()
            sched = {r.url: r.sched_ts for r in rows}
            attempts = {r.url: r.attempts for r in rows}
            assert attempts[flaky] == 2 and sum(attempts.values()) == 7
            gap = 1.0 / budget
            first_try = sched[urls[1]] + gap
            assert sched[flaky] == pytest.approx(
                first_try + max(BACKOFF_FACTOR, gap))
            assert sched[urls[3]] == pytest.approx(sched[flaky] + gap)

    def test_crawl_respects_host_budget(self, spark, tmp_path):
        job = CrawlJob(
            spark,
            SnapshotStore(str(tmp_path / "store")),
            n_buckets=4,
            wave_size=50,
            host_budget_per_sec=10.0,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job.run(_frontier_df(spark, 200), max_waves=1)
        log = job.pages().select("host_bucket", "sched_ts").toPandas()
        rate = 10.0 / 4
        for _, grp in log.groupby("host_bucket"):
            ts = sorted(grp.sched_ts)
            gaps = [b - a for a, b in zip(ts, ts[1:])]
            # one token: beyond the first send every send is paced
            assert all(g >= 1 / rate - 1e-6 for g in gaps[1:] + gaps[:1] if g > 0) or all(
                g >= 1 / rate - 1e-6 for g in gaps[1:]
            )
        # total host throughput over the wave ≤ budget (+ first-token slack)
        ts_all = sorted(log.sched_ts)
        span = max(ts_all[-1] - ts_all[0], 1e-9)
        assert (len(ts_all) - 4) / span <= 10.0 + 1e-6


class TestCrawlEndToEnd:
    def test_exactly_once_and_metrics(self, spark, tmp_path):
        n = 150
        job = CrawlJob(
            spark,
            SnapshotStore(str(tmp_path / "s1")),
            n_buckets=4,
            wave_size=20,
            transport_factory=lambda: SimulatedTransport(transient_pct=20),
        )
        res = job.run(_frontier_df(spark, n))
        pages = job.pages().cache()
        assert res.n_fetched == n and res.n_failed == 0
        assert pages.count() == n
        assert pages.select("url").distinct().count() == n
        # retries actually happened and recovered
        assert pages.filter(F.col("attempts") > 1).count() > 0
        assert pages.filter(F.col("status") != "ok").count() == 0
        # bodies are real filings (non-empty, deterministic)
        assert pages.filter(F.length("html") > 100).count() == n
        # lineage metrics exist for every wave×bucket that fetched
        m = job.metrics().toPandas()
        assert m.n_urls.sum() == n
        assert (m.urls_per_sec > 0).all()
        assert set(m.columns) >= {
            "wave", "host_bucket", "partition_id", "n_urls", "n_ok",
            "n_failed", "sum_attempts", "sum_bytes", "t_first", "t_last",
            "urls_per_sec",
        }

    def test_kill_and_resume_exactness(self, spark, tmp_path):
        n = 120
        root = str(tmp_path / "s2")
        job1 = CrawlJob(
            spark, SnapshotStore(root), n_buckets=4, wave_size=10,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        r1 = job1.run(_frontier_df(spark, n), max_waves=2)
        assert 0 < r1.n_fetched < n  # mid-crawl "kill"

        # fresh objects = restarted process; frontier arg ignored on resume
        job2 = CrawlJob(
            spark, SnapshotStore(root), n_buckets=4, wave_size=10,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        r2 = job2.run(_frontier_df(spark, n))
        pages = job2.pages()
        assert r1.n_fetched + r2.n_fetched == n
        assert pages.count() == n  # no double fetch ...
        assert pages.select("url").distinct().count() == n  # ... no miss
        # and byte-determinism across the kill boundary: same url -> same body
        want = {r.url: bytes(r.html) for r in _rerun_reference(spark, tmp_path, n)}
        got = {r.url: bytes(r.html) for r in pages.select("url", "html").collect()}
        assert got == want

    def test_permanent_failures_requeue(self, spark, tmp_path):
        job = CrawlJob(
            spark, SnapshotStore(str(tmp_path / "s3")), n_buckets=2, wave_size=40,
            transport_factory=lambda: SimulatedTransport(
                transient_pct=0, permanent_pct=10
            ),
        )
        res = job.run(_frontier_df(spark, 80))
        assert res.n_failed > 0
        pages = job.pages()
        failed = pages.filter(F.col("status") != "ok")
        assert failed.filter(F.col("attempts") != MAX_RETRIES + 1).count() == 0
        n_req = job.requeue_failed()
        assert n_req == failed.select("url").distinct().count()
        # after requeue the frontier holds exactly the failed urls
        frontier = job.store.read(spark, "frontier")
        assert frontier.count() == n_req

    def test_requeue_skips_recovered_urls(self, spark, tmp_path):
        """A url that failed, was requeued, and then SUCCEEDED must not
        be requeued again by a later requeue_failed call (the pages
        union holds both its failed and ok rows)."""
        root = str(tmp_path / "s4")
        job = CrawlJob(
            spark, SnapshotStore(root), n_buckets=2, wave_size=40,
            transport_factory=lambda: SimulatedTransport(
                transient_pct=0, permanent_pct=10
            ),
        )
        job.run(_frontier_df(spark, 80))
        n_req = job.requeue_failed()
        assert n_req > 0
        # "network recovers": same store, transport that never fails
        job2 = CrawlJob(
            spark, SnapshotStore(root), n_buckets=2, wave_size=40,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job2.run(_frontier_df(spark, 80))
        assert job2.requeue_failed() == 0  # recovered urls stay fetched
        pages = job2.pages()
        ok = pages.filter(F.col("status") == "ok")
        assert ok.select("url").distinct().count() == 80
        # wave numbers restart at the requeue's admission: metrics()
        # still has one row per (wave version, wave, host_bucket)
        store = job2.store
        keys = sorted(
            (v, r.wave, r.host_bucket)
            for v in store.versions()
            if (p := store.read(spark, "pages", v)) is not None
            for r in p.select("wave", "host_bucket").distinct().collect()
        )
        m = job2.metrics().collect()
        assert sum(r.n_urls for r in m) == pages.count()
        assert len(m) == len(keys)
        assert len({(k[1], k[2]) for k in keys}) < len(keys)

    def test_seen_frontier_drains_and_terminates(self, spark, tmp_path):
        """Replayed/overlapping discovery never double-fetches and run()
        terminates instead of looping forever committing empty waves
        (ADVICE r01, high): a merge of already-fetched urls admits only
        the new ones, and a wave whose rows are ALL in seen (seen grown
        outside the crawl) fetches nothing and moves the cursor on."""
        root = str(tmp_path / "s5")
        job = CrawlJob(
            spark, SnapshotStore(root), n_buckets=2, wave_size=50,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job.run(_frontier_df(spark, 40))
        assert job.pages().count() == 40
        # replay: merge the SAME 40 urls plus 20 new ones into the frontier
        job.merge(_frontier_df(spark, 60))  # superset (same seed)
        assert job.store.rows("frontier") == 20
        res = job.run(max_waves=5)  # bounded: must NOT hit the bound
        assert res.waves_run < 5
        pages = job.pages()
        assert pages.count() == 60  # only the 20 new urls fetched
        assert pages.select("url").distinct().count() == 60
        # pure-replay case: run again with zero new work -> 0 waves
        res2 = job.run(max_waves=5)
        assert res2.waves_run == 0 and res2.n_fetched == 0
        # 10 new urls admitted, then committed to seen behind the
        # frontier's back: their wave fetches nothing and run() ends
        job.merge(_frontier_df(spark, 70))
        v = job.store.begin()
        entry = job.store.append(
            v, "seen", job.store.read(spark, "frontier").select("url")
        )
        job.store.commit(
            summary={"stage": "replay"}, version=v, written={"seen": entry}
        )
        res3 = job.run(max_waves=5)
        assert res3.waves_run == 1 and res3.n_fetched == 0
        assert job.store.rows("frontier") == 0
        assert job.pages().count() == 60


class TestCompanyInfoDim:
    def test_dim_grows_lazily_and_survives_resume(self, spark, tmp_path):
        """Reference lazy cache semantics (download_filings.py:572-646):
        the dim grows per wave with only NEW ciks fetched; rows for
        already-known ciks are never rewritten (their
        fetched_at_version is immutable); the dim survives
        kill/resume via the snapshot store."""
        from edgar_crawler_spark.frontier.company import (
            make_company_info_html,
            parse_company_info_html,
        )

        root = str(tmp_path / "ci")
        n = 120
        job1 = CrawlJob(
            spark, SnapshotStore(root), n_buckets=4, wave_size=30,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job1.run(_frontier_df(spark, n), max_waves=2)
        dim1 = {r.cik: r for r in job1.company_info().collect()}
        assert len(dim1) > 0
        # dim holds exactly the ciks fetched so far
        fetched_ciks = {
            r.cik for r in job1.pages().select("cik").distinct().collect()
        }
        assert set(dim1) == fetched_ciks
        # parsed fields round-trip the deterministic company page
        for cik, row in list(dim1.items())[:5]:
            want = parse_company_info_html(make_company_info_html(cik))
            assert row.company_name == want["company_name"]
            assert row.sic == want["sic"]
            assert row.state_of_inc == want["state_of_inc"]
            assert row.fiscal_year_end == want["fiscal_year_end"]

        # "restart the process" and crawl to exhaustion
        job2 = CrawlJob(
            spark, SnapshotStore(root), n_buckets=4, wave_size=30,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job2.run(_frontier_df(spark, n))
        dim2 = {r.cik: r for r in job2.company_info().collect()}
        all_ciks = {
            r.cik for r in job2.pages().select("cik").distinct().collect()
        }
        assert set(dim2) == all_ciks
        assert len(dim2) >= len(dim1)
        # grow-only: pre-resume rows kept their original fetch version
        for cik, row in dim1.items():
            assert dim2[cik].fetched_at_version == row.fetched_at_version
        # exactly one row per cik ever (no refetch, no duplicates)
        counts = (
            job2.company_info().groupBy("cik").count()
            .filter(F.col("count") > 1).count()
        )
        assert counts == 0

    def test_enriched_pages_fill_missing_company(self, spark, tmp_path):
        job = CrawlJob(
            spark, SnapshotStore(str(tmp_path / "ci2")), n_buckets=2,
            wave_size=40,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        job.run(_frontier_df(spark, 40))
        pages = job.pages()
        enriched = job.enriched_pages()
        assert enriched.count() == pages.count()
        # company column filled from dim wherever the fact had null
        assert enriched.filter(F.col("company").isNull()).count() == 0
        # dim attributes joined in
        assert "sic" in enriched.columns
        assert enriched.filter(F.col("sic").isNull()).count() == 0


class TestFusedCrawl:
    def test_fused_equals_two_stage(self, spark):
        """fetch_extract_wave (single python pass) must produce the
        same per-url item sets as fetch_wave -> extract_items_job."""
        import hashlib

        from edgar_crawler_spark.frontier.fetch import (
            fetch_extract_wave,
            fetch_wave,
        )
        from edgar_crawler_spark.frontier.priority import assign_waves
        from edgar_crawler_spark.operators.extract_job import extract_items_job

        waved = assign_waves(_frontier_df(spark, 80, seed=31), 4, wave_size=1000)
        tf = lambda: SimulatedTransport(transient_pct=0)  # noqa: E731
        fused = {
            r.url: (r.n_items, r.items_digest)
            for r in fetch_extract_wave(
                waved, host_budget_per_sec=1e9, n_buckets=4, transport_factory=tf
            ).collect()
        }
        pages = fetch_wave(
            waved, host_budget_per_sec=1e9, n_buckets=4, transport_factory=tf
        )
        two_stage = {}
        for r in extract_items_job(pages).collect():
            items = sorted((k, v) for k, v in (r.items or {}).items() if v)
            digest = hashlib.md5(
                "\x00".join(f"{k}\x01{v}" for k, v in items).encode("utf-8")
            ).hexdigest()
            two_stage[r.url] = (len(items), digest)
        assert fused == two_stage
        assert sum(n for n, _ in fused.values()) > 0


def _rerun_reference(spark, tmp_path, n):
    """Uninterrupted oracle crawl over the same frontier."""
    job = CrawlJob(
        spark, SnapshotStore(str(tmp_path / "oracle")), n_buckets=4, wave_size=1000,
        transport_factory=lambda: SimulatedTransport(transient_pct=0),
    )
    job.run(_frontier_df(spark, n))
    return job.pages().select("url", "html").collect()


class TestRobots:
    def test_robots_denied_urls_never_fetch(self, spark, tmp_path):
        from edgar_crawler_spark.frontier.fetch import RobotsPolicy

        robots_txt = "User-agent: *\nDisallow: /Archives/edgar/data/1\n"
        policy = RobotsPolicy(robots_txt)
        frontier = _frontier_df(spark, 120, seed=41)
        denied_urls = {
            r.url for r in frontier.collect()
            if not policy.allows(r.url)
        }
        assert 0 < len(denied_urls) < 120

        job = CrawlJob(
            spark, SnapshotStore(str(tmp_path / "sr")), n_buckets=4, wave_size=200,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
            robots=policy,
        )
        job.run(frontier)
        pages = job.pages()
        denied_rows = pages.filter(F.col("status") == "robots_denied")
        assert {r.url for r in denied_rows.collect()} == denied_urls
        # denied rows consumed no attempts and carry no body
        assert denied_rows.filter(
            (F.col("attempts") != 0) | F.col("html").isNotNull()
        ).count() == 0
        # everything else fetched normally
        assert pages.filter(F.col("status") == "ok").count() == 120 - len(denied_urls)


class TestSkewBalance:
    def test_single_host_salting_is_balanced(self, spark):
        """The whole frontier is one host (sec.gov) — the crc32 salt
        must spread it near-uniformly across buckets or one fetch task
        inherits the skew."""
        df = assign_waves(_frontier_df(spark, 2000, seed=51), n_buckets=16,
                          wave_size=10**9)
        counts = {
            r.host_bucket: r["count"]
            for r in df.groupBy("host_bucket").count().collect()
        }
        assert len(counts) == 16
        mean = 2000 / 16
        for b, c in counts.items():
            assert 0.6 * mean <= c <= 1.4 * mean, (b, c)


class TestSnapshotExpiry:
    def test_expire_state_keeps_pages_and_resume(self, spark, tmp_path):
        """expire_state drops superseded frontier/seen copies from old
        snapshots but (a) the pages log stays complete, (b) the crawl
        resumes exactly, (c) a table the latest snapshot inherits
        (company_info) never vanishes."""
        store = SnapshotStore(str(tmp_path / "sx"))
        job = CrawlJob(
            spark, store, n_buckets=4, wave_size=10,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        n = 120
        job.run(_frontier_df(spark, n), max_waves=2)  # seed + 2 waves
        mid_pages = job.pages().count()
        assert mid_pages == 80  # 2 waves x (10 per bucket x 4 buckets)
        expired = store.expire_state(keep_last=1)
        assert expired  # something actually expired
        # newest state survives; resume finishes the crawl exactly
        job2 = CrawlJob(
            spark, store, n_buckets=4, wave_size=10,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        res = job2.run()
        pages = job2.pages()
        assert pages.count() == n
        assert pages.select("url").distinct().count() == n
        # company_info still readable (listed by the kept snapshot)
        assert job2.company_info() is not None
        # expired versions: state gone, pages (append log) intact
        v0 = expired[0]
        assert store.read(spark, "seen", v0) is None
        if store.read(spark, "pages", v0) is not None:
            assert store.read(spark, "pages", v0).count() > 0

    def test_expire_respects_sparse_carriers(self, spark, tmp_path):
        """A table written only by an OLD version is inherited by every
        later one, so its directory survives even when that version's
        other state expires."""
        store = SnapshotStore(str(tmp_path / "sy"))
        df = spark.range(3).selectExpr("cast(id as string) AS url")
        dim = spark.range(2).selectExpr("id AS cik", "'x' AS name")
        store.commit({"seen": df, "company_info": dim})   # v1
        store.commit({"seen": df})                        # v2
        store.commit({"seen": df})                        # v3
        expired = store.expire_state(keep_last=1)
        assert sorted(expired) == [1, 2]
        # v1's seen expired, but v1's company_info is listed by v3 and
        # MUST survive
        assert store.read(spark, "seen", 1) is None
        assert store.read(spark, "company_info").count() == 2


class TestCrawlDelay:
    def test_robots_crawl_delay_caps_rate(self, spark, tmp_path):
        """robots.txt Crawl-delay overrides a looser operator budget:
        delay=1s -> 1 req/s across the host, split over buckets."""
        from edgar_crawler_spark.frontier.fetch import (
            RobotsPolicy, effective_budget,
        )

        robots = RobotsPolicy("User-agent: *\nCrawl-delay: 1\n")
        assert robots.crawl_delay() == 1.0
        assert effective_budget(10.0, robots) == 1.0
        # stricter operator budget wins the other way
        assert effective_budget(0.5, robots) == 0.5
        assert effective_budget(10.0, None) == 10.0
        assert effective_budget(10.0, RobotsPolicy("User-agent: *\n")) == 10.0

        job = CrawlJob(
            spark,
            SnapshotStore(str(tmp_path / "cd")),
            n_buckets=2,
            wave_size=10,
            host_budget_per_sec=10.0,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
            robots=robots,
        )
        job.run(_frontier_df(spark, 12), max_waves=1)
        log = job.pages().select("host_bucket", "sched_ts").toPandas()
        # 1 req/s over 2 buckets -> 0.5 req/s per bucket -> >= 2s gaps
        for _, grp in log.groupby("host_bucket"):
            ts = sorted(grp.sched_ts)
            gaps = [b - a for a, b in zip(ts, ts[1:])]
            assert all(g >= 2.0 - 1e-6 for g in gaps[1:] + ([gaps[0]] if len(gaps) > 1 else gaps[:1]))

    def test_request_rate_fallback(self):
        from edgar_crawler_spark.frontier.fetch import RobotsPolicy

        r = RobotsPolicy("User-agent: *\nRequest-rate: 2/10\n")
        assert r.crawl_delay() == 5.0


class TestRealPaceEndToEnd:
    def test_wall_time_matches_host_budget(self, spark):
        """VERDICT r02 #7: end-to-end rate-cap equality. With
        real_pace=True the fetch stage SLEEPS to its politeness
        schedule, so the wave's wall-clock time must equal
        ~n_urls/host_budget (the north-rule politeness story), and
        the buckets must run CONCURRENTLY (sequential buckets would
        double it). Budget math itself is covered elsewhere; this
        asserts the wall clock.

        n=30 urls, budget 10/s over 2 buckets (5/s each, burst 1):
        perfectly balanced -> (15-1)/5 = 2.8 s = ~n/budget. The
        bucket split is hash-determined, so bounds derive from the
        ACTUAL max bucket size; sequential execution would take the
        SUM over buckets — the upper bound excludes it.
        """
        import time

        from edgar_crawler_spark.frontier.fetch import fetch_wave

        n, budget, buckets = 30, 10.0, 2
        wave = assign_waves(_frontier_df(spark, n), n_buckets=buckets,
                            wave_size=n).cache()
        sizes = {r.host_bucket: r.cnt
                 for r in wave.groupBy("host_bucket").count()
                 .withColumnRenamed("count", "cnt").collect()}
        rate = budget / buckets
        expect = (max(sizes.values()) - 1) / rate       # paced, parallel
        sequential = sum((c - 1) / rate for c in sizes.values())
        assert expect < sequential  # the test can tell the two apart

        t0 = time.monotonic()
        rows = fetch_wave(
            wave, host_budget_per_sec=budget, n_buckets=buckets,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
            real_pace=True,
        ).collect()
        wall = time.monotonic() - t0
        wave.unpersist()

        assert len(rows) == n and all(r.status == "ok" for r in rows)
        # paced: wall >= schedule of the largest bucket
        assert wall >= expect - 0.05
        # concurrent + no stragglers: well under the sequential sum,
        # with slack for task launch + python-worker spin-up
        assert wall < min(sequential, expect + 2.5)
        # and ~n/budget when balanced (schedule says so too)
        sched = max(r.sched_ts for r in rows)
        assert abs(sched - expect) < 1e-6


class TestWriteOnceWave:
    """A wave schedules once, fetches once and commits only new data:
    seen and company_info grow by one delta directory per wave, an
    overwrite commit resets a table's list, and a crash anywhere before
    the manifest rename leaves nothing visible."""

    @staticmethod
    def _job(spark, store, **kw):
        kw.setdefault("transport_factory", lambda: SimulatedTransport(transient_pct=0))
        return CrawlJob(spark, store, n_buckets=2, wave_size=10, **kw)

    @staticmethod
    def _urls(df):
        return sorted(r.url for r in df.select("url").collect())

    def test_old_manifest_format_fails_loudly(self, tmp_path):
        import json
        import os

        store = SnapshotStore(str(tmp_path / "old"))
        os.makedirs(store._vdir(1))
        with open(os.path.join(store._vdir(1), "MANIFEST.json"), "w") as f:
            json.dump({"version": 1, "tables": ["frontier", "seen"]}, f)
        with pytest.raises(ValueError, match="seed a new store"):
            store.rows("frontier")

    def test_frontier_without_cursor_fails_loudly(self, spark, tmp_path):
        """A frontier committed without a wave cursor (a store written
        before admission ranking) is not resumed."""
        store = SnapshotStore(str(tmp_path / "nocursor"))
        store.commit({
            "frontier": _frontier_df(spark, 5),
            "seen": spark.createDataFrame([], "url string"),
        })
        with pytest.raises(ValueError, match="seed a new store"):
            self._job(spark, store).run_wave()

    def test_commit_fails_when_a_written_table_is_gone(self, spark, tmp_path):
        """A table `write` put into the version is committed from the
        entry it returned; if another writer's `begin` removed it, the
        commit fails instead of publishing a missing directory."""
        import shutil

        store = SnapshotStore(str(tmp_path / "gone"))
        df = spark.range(3).selectExpr("cast(id as string) AS url")
        store.commit({"seen": df})
        v = store.begin()
        _, entry = store.write(v, "pages", df)
        assert entry["dirs"] == [f"v{v}/pages"] and entry["rows"] == 3
        shutil.rmtree(store._vdir(v))
        with pytest.raises(RuntimeError, match="another writer"):
            store.commit({"seen": df}, version=v, written={"pages": entry})
        assert store.latest() == 1

    def test_same_commit_writes_the_same_manifest(self, spark, tmp_path):
        """A manifest is a function of what was committed: two stores
        given the same tables and summary write the same bytes, so the
        bytes a commit writes are an exact count."""
        import os

        df = spark.range(5).selectExpr("cast(id as string) AS url")
        manifests = []
        for name in ("a", "b"):
            store = SnapshotStore(str(tmp_path / name))
            v = store.commit({"seen": df}, summary={"stage": "seed", "n_ok": 5})
            with open(os.path.join(store._vdir(v), "MANIFEST.json"), "rb") as f:
                manifests.append(f.read())
        assert manifests[0] == manifests[1]

    def test_split_files_follows_the_read_split_rule(self, spark):
        from edgar_crawler_spark.frontier.state import split_files

        conf = {
            "spark.sql.files.maxPartitionBytes": "1m",
            "spark.sql.files.openCostInBytes": "64k",
        }
        old = {k: spark.conf.get(k) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            cores = spark.sparkContext.defaultParallelism
            assert split_files(spark, 0) == 1
            assert split_files(spark, 32 << 10) == 1  # below openCost
            assert split_files(spark, cores * (256 << 10)) == cores
            assert split_files(spark, 64 << 20) == 64  # 1 MB per file
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)

    def test_jobs_and_files_per_wave(self, spark, tmp_path):
        """Regression guard: a steady-state wave (seen and company_info
        already non-empty) runs exactly this many Spark jobs, all of
        them in the caller's job group (the concurrent writes inherit
        it), and commits exactly this many files. The counts only move
        if the wave gains or loses work — update them deliberately."""
        import os

        store = SnapshotStore(str(tmp_path / "guard"))
        job = CrawlJob(
            spark, store, n_buckets=4, wave_size=10,
            transport_factory=lambda: SimulatedTransport(transient_pct=10),
        )
        job.run(_frontier_df(spark, 160), max_waves=1)
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup("wave-guard", "one crawl wave")
        try:
            _, _, v = job.run_wave()
        finally:
            sc.setJobGroup("", "")
        jobs = len(tracker.getJobIdsForGroup("wave-guard"))
        files = sum(len(names) for _, _, names in os.walk(store._vdir(v)))
        # bloom 2, pages 3 (seen broadcast, bucket exchange, write),
        # the n_ok/n_failed aggregate 2, seen 1, company_info 3
        assert jobs == 11
        assert set(tracker.getJobIdsForGroup(None)) == ungrouped
        # 4 fetch partitions of pages + 2 one-file tables (seen,
        # company_info), each parquet with its .crc, + MANIFEST.json;
        # the frontier only moves its cursor
        assert files == 2 * 4 + 2 * 2 + 1

    def test_pages_lists_versions_once(self, spark, tmp_path, monkeypatch):
        """Reading the pages log lists the committed versions once; each
        version's pages are then looked up by its own manifest."""
        store = SnapshotStore(str(tmp_path / "log"))
        res = self._job(spark, store).run(_frontier_df(spark, 40))
        assert res.waves_run >= 3
        calls = []
        versions = SnapshotStore.versions

        def counted(self):
            calls.append(1)
            return versions(self)

        monkeypatch.setattr(SnapshotStore, "versions", counted)
        assert self._job(spark, store).pages().count() == 40
        assert len(calls) == 1

    def test_wave_and_merge_list_versions_twice(self, spark, tmp_path, monkeypatch):
        """Every manifest is the whole crawl state, so a wave and a
        merge each list the store twice, whatever its length: once to
        resolve the latest version, which every read then uses, and
        once to claim the next one."""
        store = SnapshotStore(str(tmp_path / "lists"))
        job = self._job(spark, store)
        job.run(_frontier_df(spark, 60), max_waves=3)
        calls = []
        versions = SnapshotStore.versions

        def counted(self):
            calls.append(1)
            return versions(self)

        monkeypatch.setattr(SnapshotStore, "versions", counted)
        assert job.run_wave() is not None
        assert len(calls) <= 2
        calls.clear()
        job.merge(_frontier_df(spark, 80))
        assert len(calls) <= 2

    def test_merge_version_reads_the_whole_state(self, spark, tmp_path):
        """A merge writes only the frontier, yet its version lists seen
        and company_info: reading them there equals reading them at the
        version before, seen's changelog across the merge is empty, and
        the next wave appends to the inherited seen list."""
        from edgar_crawler_spark.frontier.state import snapshot_diff

        store = SnapshotStore(str(tmp_path / "whole"))
        job = self._job(spark, store)
        job.run(_frontier_df(spark, 60), max_waves=2)
        v = job.merge(_frontier_df(spark, 80))
        assert store.manifest(v)["summary"]["stage"] == "merge"
        for t in ("seen", "company_info"):
            assert store.entry(t, v) == store.entry(t, v - 1)
            assert sorted(store.read(spark, t, v).collect()) == sorted(
                store.read(spark, t, v - 1).collect()
            )
        assert snapshot_diff(spark, store, "seen", v - 1, v, ["url"]).count() == 0
        assert store.read(spark, "pages", v) is None
        # the wave after it appends to the list the merge inherited
        job.run_wave()
        assert store.entry("seen", v + 1)["dirs"] == (
            store.entry("seen", v)["dirs"] + [f"v{v + 1}/seen"])
        # a rerank and a compaction version read the whole state too
        CrawlJob(
            spark, store, n_buckets=2, wave_size=7,
            transport_factory=lambda: SimulatedTransport(transient_pct=0),
        ).run_wave()
        store.compact()
        stages = [store.manifest(u)["summary"]["stage"] for u in store.versions()]
        assert stages[-3:] == ["rerank", "wave", "compact"]
        for u in store.versions()[1:]:
            for t in store.STATE_TABLES:
                assert store.read(spark, t, u) is not None, (u, t)

    def test_fetch_once_under_cache_eviction(self, spark, tmp_path, monkeypatch):
        """Against a transport whose every answer is fresh (random
        failures, a unique body per call) and with the cache cleared
        around every write, the transport sees exactly the attempts
        the pages record, and pages, the manifest counts and seen
        agree."""
        import collections
        import random
        import uuid

        from edgar_crawler_spark.frontier import state as state_mod

        log = str(tmp_path / "calls.log")

        class FreshTransport:
            def get(self, url, form_type, attempt):
                with open(log, "a") as f:
                    f.write(url + "\n")
                if random.SystemRandom().random() < 0.5:
                    return None
                return f"<html>{url} {uuid.uuid4().hex}</html>".encode()

        write = state_mod._write

        def evicting_write(df, path):
            spark.catalog.clearCache()
            rows = write(df, path)
            spark.catalog.clearCache()
            return rows

        monkeypatch.setattr(state_mod, "_write", evicting_write)
        store = SnapshotStore(str(tmp_path / "once"))
        job = self._job(spark, store, transport_factory=FreshTransport)
        res = job.run(_frontier_df(spark, 60))
        pages = job.pages().select("url", "status", "attempts").collect()
        with open(log) as f:
            calls = collections.Counter(f.read().split())
        assert calls == {r.url: r.attempts for r in pages}
        assert len(pages) == 60 and res.n_fetched + res.n_failed == 60
        for v in store.versions():
            m = store.manifest(v)
            if m["summary"].get("stage") != "wave":
                continue
            status = [r.status for r in store.read(spark, "pages", v).collect()]
            assert m["summary"]["n_ok"] == status.count("ok")
            assert m["summary"]["n_failed"] == len(status) - status.count("ok")
        assert self._urls(store.read(spark, "seen")) == sorted(r.url for r in pages)
        assert store.rows("seen") == 60 and store.rows("frontier") == 0

    def test_crash_anywhere_in_a_wave_is_invisible(self, spark, tmp_path, monkeypatch):
        """Kill the wave after pages and after each of the two
        concurrent writes: the committed snapshot never changes, a
        crash surfaces only once the concurrent writes still running
        have finished, and the resumed crawl fetches every url exactly
        once."""
        import os
        import time

        from edgar_crawler_spark.frontier import state as state_mod

        class Crash(Exception):
            pass

        n = 60
        store = SnapshotStore(str(tmp_path / "crash"))
        self._job(spark, store).run(_frontier_df(spark, n), max_waves=1)
        committed = store.latest()
        state = {t: self._urls(store.read(spark, t)) for t in ("frontier", "seen")}
        write = state_mod._write
        for point in ("pages", "seen", "company_info"):
            def crash_after(df, path, point=point):
                name = os.path.basename(path)
                if point == "seen" and name == "company_info":
                    time.sleep(2)  # still writing when seen crashes
                rows = write(df, path)
                if name == point:
                    raise Crash(point)
                return rows

            monkeypatch.setattr(state_mod, "_write", crash_after)
            with pytest.raises(Crash):
                self._job(spark, store).run_wave()
            vdir = store._vdir(committed + 1)
            assert os.path.isdir(vdir)
            if point == "seen":
                assert any(
                    f.endswith(".parquet")
                    for f in os.listdir(os.path.join(vdir, "company_info"))
                )
            assert store.latest() == committed
            assert {
                t: self._urls(store.read(spark, t)) for t in ("frontier", "seen")
            } == state
        monkeypatch.setattr(state_mod, "_write", write)
        job = self._job(spark, store)
        job.run()
        urls = [r.url for r in job.pages().select("url").collect()]
        assert len(urls) == n and len(set(urls)) == n
        assert self._urls(store.read(spark, "seen")) == sorted(urls)
        assert store.rows("frontier") == 0

    def test_requeue_resets_the_seen_list(self, spark, tmp_path):
        """requeue_failed after several waves overwrites seen: its
        version lists one base directory, and the recovered crawl
        fetches each failed url once more and nothing else twice."""
        root = str(tmp_path / "rq")
        store = SnapshotStore(root)
        self._job(
            spark, store,
            transport_factory=lambda: SimulatedTransport(transient_pct=0, permanent_pct=10),
        ).run(_frontier_df(spark, 80))
        assert len(store.manifest(store.latest())["tables"]["seen"]["dirs"]) > 2
        job = self._job(spark, SnapshotStore(root))
        n_req = job.requeue_failed()
        assert n_req > 0
        v = store.latest()
        seen = store.manifest(v)["tables"]["seen"]
        assert seen["dirs"] == [f"v{v}/seen"] and seen["rows"] == 80 - n_req
        job.run()
        pages = job.pages()
        ok = [r.url for r in pages.filter(F.col("status") == "ok").collect()]
        assert len(ok) == 80 and len(set(ok)) == 80
        assert pages.count() == 80 + n_req
        assert store.rows("seen") == 80
        assert self._urls(store.read(spark, "seen")) == sorted(ok)

    def test_compaction_bounds_the_delta_list(self, spark, tmp_path, monkeypatch):
        from edgar_crawler_spark.frontier import state as state_mod
        from edgar_crawler_spark.frontier.state import snapshot_diff

        monkeypatch.setattr(state_mod, "MAX_DELTAS", 2)
        store = SnapshotStore(str(tmp_path / "cmp"))
        job = self._job(spark, store)
        res = job.run(_frontier_df(spark, 60))
        assert res.waves_run >= 3  # enough appends to fold at least once
        for v in store.versions():
            for entry in store.manifest(v)["tables"].values():
                assert len(entry["dirs"]) <= 2
        urls = self._urls(job.pages())
        assert self._urls(store.read(spark, "seen")) == urls
        # the changelog of an appended table is the later waves' urls
        waves = res.versions
        inserted = snapshot_diff(
            spark, store, "seen", waves[0], waves[-1], ["url"]
        ).collect()
        want = sorted(u for v in waves[1:] for u in self._urls(store.read(spark, "pages", v)))
        assert sorted(r.url for r in inserted) == want
        assert {r._change for r in inserted} == {"insert"}
        # a compaction commit folds every multi-directory list into one
        # base (seen and company_info alternate between one and two) and
        # inherits the rest of the state unchanged
        before = store.manifest(store.latest())["tables"]
        multi = {t for t, e in before.items() if len(e["dirs"]) > 1}
        assert multi
        v = store.compact()
        tables = store.manifest(v)["tables"]
        assert set(tables) == set(store.STATE_TABLES)
        for t, entry in tables.items():
            if t in multi:
                assert entry["dirs"] == [f"v{v}/{t}"]
            else:
                assert entry == before[t]
        assert store.rows("seen") == 60
        assert self._urls(store.read(spark, "seen")) == urls
        assert store.compact() is None

    def test_expire_keeps_every_listed_directory(self, spark, tmp_path):
        """Expiry never deletes a directory that a kept snapshot lists,
        so every kept version stays readable."""
        store = SnapshotStore(str(tmp_path / "exp"))
        # the frontier is written once per admission, so only a table
        # rewritten by a compaction is superseded: expire after each of
        # two waves, and the second finds the first compaction's inputs
        self._job(spark, store).run(_frontier_df(spark, 60), max_waves=1)
        store.expire_state(keep_last=2)
        self._job(spark, store).run(max_waves=1)
        assert store.expire_state(keep_last=2)
        for v in store.versions()[-2:]:
            for t in store.STATE_TABLES:
                assert store.read(spark, t, v) is not None
        job = self._job(spark, store)
        job.run()
        urls = self._urls(job.pages())
        assert len(urls) == 60 and len(set(urls)) == 60
        assert self._urls(store.read(spark, "seen")) == urls


def _oracle_waves(rows, n_buckets: int, wave_size: int) -> dict[str, int]:
    """Pure-Python twin of assign_waves: url -> wave after ranking
    `rows` (FRONTIER_SCHEMA tuples, canonical urls) by form weight
    desc, filing date desc, accession asc within crc32 host buckets."""
    import zlib

    weight = {"8-K": 10, "10-K": 8, "10-Q": 6}
    buckets: dict[int, list] = {}
    for r in rows:
        buckets.setdefault(zlib.crc32(r[0].encode()) % n_buckets, []).append(r)
    out = {}
    for rs in buckets.values():
        rs = sorted(rs, key=lambda r: r[5])
        rs = sorted(rs, key=lambda r: (weight.get(r[3], 1), r[4]), reverse=True)
        out.update({r[0]: i // wave_size for i, r in enumerate(rs)})
    return out


def _tied_rows(n: int, seed: int = 5, forms=("8-K", "10-K", "10-Q", "S-1"),
               dates=("2020-03-31", "2021-06-30", "2022-09-30")):
    """Frontier rows whose form types and dates tie often; accessions
    are unique, so the priority order is total."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        cik = str(rng.randint(1000, 99999))
        acc = accession_number(seed, i)
        rows.append((filing_url(cik, acc), cik, f"CO {i}", rng.choice(forms),
                     rng.choice(dates), acc))
    return rows


class TestAdmissionOrder:
    """The frontier is ranked once per admission and consumed by a
    cursor; every wave still fetches what the per-wave rule (re-rank
    the remaining unseen frontier, take wave 0) would fetch."""

    @staticmethod
    def _job(spark, root, **kw):
        kw.setdefault("n_buckets", 4)
        kw.setdefault("wave_size", 7)
        kw.setdefault("transport_factory", lambda: SimulatedTransport(transient_pct=10))
        return CrawlJob(spark, SnapshotStore(root), **kw)

    @staticmethod
    def _wave_urls(store, spark, v):
        return {r.url for r in store.read(spark, "pages", v).select("url").collect()}

    @staticmethod
    def _disjoint_after_every_commit(store, spark):
        """frontier ∩ seen = ∅ at every committed version."""
        for v in store.versions():
            f = {r.url for r in store.read(spark, "frontier", v).collect()}
            s = {r.url for r in store.read(spark, "seen", v).collect()}
            assert not f & s, v

    def _crawl_like_the_oracle(self, job, spark, left: dict, n_buckets, wave_size):
        """Run waves to exhaustion, each checked against the oracle over
        the rows `left`; returns the number of waves."""
        waves = 0
        while (out := job.run_wave()) is not None:
            want = _oracle_waves(left.values(), n_buckets, wave_size)
            got = self._wave_urls(job.store, spark, out[2])
            assert got == {u for u, w in want.items() if w == 0}, waves
            for u in got:
                del left[u]
            waves += 1
        assert not left
        return waves

    def test_waves_follow_the_per_wave_rule(self, spark, tmp_path):
        rows = _tied_rows(150)
        job = self._job(spark, str(tmp_path / "a"))
        job.seed(spark.createDataFrame(rows, FRONTIER_SCHEMA))
        waves = self._crawl_like_the_oracle(job, spark, {r[0]: r for r in rows}, 4, 7)
        assert waves == max(_oracle_waves(rows, 4, 7).values()) + 1
        urls = [r.url for r in job.pages().select("url").collect()]
        assert len(urls) == len(set(urls)) == 150
        # the waves wrote no frontier data: one admission directory
        dirs = {tuple(job.store.manifest(v)["tables"]["frontier"]["dirs"])
                for v in job.store.versions()}
        assert dirs == {("v1/frontier",)}

    def test_a_large_wave_has_several_writers(self, spark, tmp_path):
        """Admission writes a wave from its host buckets' tasks, not from
        one task per wave. With AQE coalescing off (a frontier too large
        to coalesce) the one wave of 4 buckets spans several files."""
        import os

        job = self._job(spark, str(tmp_path / "w"), wave_size=100)
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        spark.conf.set(key, "false")
        try:
            job.seed(_frontier_df(spark, 200))
        finally:
            spark.conf.set(key, "true")
        assert job.store.entry("frontier")["segments"] == [200]
        seg = os.path.join(job.store.root, "v1", "frontier", "wave=0")
        files = [f for f in os.listdir(seg) if f.endswith(".parquet")]
        assert 1 < len(files) <= 4
        n_ok, n_failed, _ = job.run_wave()
        assert n_ok + n_failed == 200
        assert job.run_wave() is None

    def test_stream_merge_mid_crawl(self, spark, tmp_path):
        """Already-fetched urls (verbatim and as /ix?doc=/ variants) and
        unfetched ones merged mid-crawl are never fetched twice, run()
        terminates, frontier ∩ seen = ∅ after every commit, and an
        admitted 8-K that outranks the rest goes out in the next wave."""
        rows = _tied_rows(80, forms=("10-K", "10-Q"), dates=("2016-01-29", "2017-02-28"))
        job = self._job(spark, str(tmp_path / "b"), wave_size=5)
        job.run(spark.createDataFrame(rows, FRONTIER_SCHEMA), max_waves=2)
        fetched = {r.url for r in job.pages().select("url").collect()}
        assert len(fetched) == 40
        old = [r for r in rows if r[0] in fetched][:6]
        unfetched = [r for r in rows if r[0] not in fetched][:3]
        ix = [(r[0].replace("sec.gov/", "sec.gov/ix?doc=/"),) + r[1:] for r in old[:3]]
        urgent = (filing_url("4242", accession_number(99, 0)), "4242", "URGENT",
                  "8-K", "2024-12-31", accession_number(99, 0))
        batch = spark.createDataFrame(old + ix + unfetched + [urgent], FRONTIER_SCHEMA)
        job.merge(batch, stage="stream_merge", batch_id=0)
        assert job.store.rows("frontier") == 80 - 40 + 1
        self._disjoint_after_every_commit(job.store, spark)
        _, _, v = job.run_wave()
        assert urgent[0] in self._wave_urls(job.store, spark, v)
        res = job.run(max_waves=50)
        assert res.waves_run < 50
        urls = [r.url for r in job.pages().select("url").collect()]
        assert len(urls) == len(set(urls)) == 81
        self._disjoint_after_every_commit(job.store, spark)

    def test_requeue_failed_reranks(self, spark, tmp_path):
        """requeue_failed ranks the failed urls together with the
        remaining frontier; the recovered crawl follows the per-wave
        rule over that union and fetches each failed url once more."""
        rows = _tied_rows(120, seed=8)
        root = str(tmp_path / "c")
        job = self._job(
            spark, root,
            transport_factory=lambda: SimulatedTransport(transient_pct=0, permanent_pct=15),
        )
        job.run(spark.createDataFrame(rows, FRONTIER_SCHEMA), max_waves=3)
        pages = job.pages().select("url", "status").collect()
        failed = {r.url for r in pages if r.status != "ok"}
        assert failed
        left_before = {r.url for r in job.store.read(spark, "frontier").collect()}
        assert job.requeue_failed() == len(failed)
        entry = job.store.entry("frontier")
        assert entry["cursor"] == 0
        left = {r[0]: r for r in rows if r[0] in failed | left_before}
        ranked = {r.url: r.wave for r in job.store.read(spark, "frontier").collect()}
        assert ranked == _oracle_waves(left.values(), 4, 7)
        job2 = self._job(
            spark, root, transport_factory=lambda: SimulatedTransport(transient_pct=0),
        )
        self._crawl_like_the_oracle(job2, spark, left, 4, 7)
        ok = [r.url for r in job2.pages().filter(F.col("status") == "ok").collect()]
        assert len(ok) == len(set(ok)) == 120

    def test_resume_with_other_wave_size_fetches_once(self, spark, tmp_path):
        """A job whose wave_size (and n_buckets) differ from the
        recorded ones re-ranks the remaining frontier once, then
        follows the per-wave rule with its own sizes."""
        rows = _tied_rows(100, seed=9)
        root = str(tmp_path / "d")
        self._job(spark, root, wave_size=10).run(
            spark.createDataFrame(rows, FRONTIER_SCHEMA), max_waves=2
        )
        job = self._job(spark, root, n_buckets=3, wave_size=6)
        store = job.store
        fetched = {r.url for r in job.pages().select("url").collect()}
        left = {r[0]: r for r in rows if r[0] not in fetched}
        self._crawl_like_the_oracle(job, spark, left, 3, 6)
        stages = [store.manifest(v)["summary"].get("stage") for v in store.versions()]
        assert stages.count("rerank") == 1
        entry = store.entry("frontier")
        assert (entry["n_buckets"], entry["wave_size"]) == (3, 6)
        urls = [r.url for r in job.pages().select("url").collect()]
        assert len(urls) == len(set(urls)) == 100
