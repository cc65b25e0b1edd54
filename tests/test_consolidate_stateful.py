"""Consolidate stage + stateful streaming operator tests."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from edgar_crawler_spark.operators.consolidate import (
    consolidate,
    summary_stats,
    write_analysis_csv,
)
from edgar_crawler_spark.operators.extract_job import extract_items_job
from edgar_crawler_spark.streaming.stateful import run_frontier_topk_stream
from edgar_crawler_spark.synth import pages_df


class TestConsolidate:
    def test_consolidate_matches_payload(self, spark, tmp_path):
        pages = pages_df(spark, seed=17, n=30)
        extracted = extract_items_job(pages).cache()
        items = ["item_2.02", "item_9.01", "item_7"]
        cons = consolidate(extracted, items).cache()
        assert cons.count() == 30
        # lengths agree with the byte-identical JSON payload
        for r in cons.join(extracted.select("url", "payload_json"), "url").collect():
            payload = json.loads(r.payload_json)
            for it in items:
                want = payload.get(it) or ""
                assert r[it] == want
                assert r[f"{it}_length"] == len(want)
            assert r.filing_year == int(r.filing_date[:4])

        stats = {r.item: r for r in summary_stats(cons, items).collect()}
        for it in items:
            n_nonempty = cons.filter(F.col(f"`{it}_length`") > 0).count()
            assert stats[it].n_nonempty == n_nonempty
            assert abs(stats[it].coverage_pct - n_nonempty * 100.0 / 30) < 0.01

        out = str(tmp_path / "analysis_csv")
        write_analysis_csv(cons.drop(*items), out)
        back = spark.read.option("header", True).csv(out)
        assert back.count() == 30


class TestStreamingFrontierTopK:
    """applyInPandasWithState per-host top-k: state bounded at k, carried
    across checkpoint restarts, keep-best on URL rediscovery."""

    def test_state_carries_and_stays_bounded(self, spark, tmp_path):
        urls_dir = str(tmp_path / "urls")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        schema = "host string, url string, prio double"

        batch1 = [
            ("h1", "https://h1/u1", 1.0),
            ("h1", "https://h1/u2", 5.0),
            ("h1", "https://h1/u3", 3.0),
        ]
        spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
            "append"
        ).parquet(urls_dir)
        q = run_frontier_topk_stream(spark, urls_dir, out_dir, ckpt, k=2)
        q.awaitTermination(120)
        got1 = sorted(
            spark.read.parquet(out_dir).collect(), key=lambda r: r.rank
        )
        # top-2 of batch 1, priority desc — u1 cut by the k bound
        assert [(r.url, r.prio, r.rank) for r in got1] == [
            ("https://h1/u2", 5.0, 1),
            ("https://h1/u3", 3.0, 2),
        ]

        # restart from checkpoint: u4 arrives, u2 is REdiscovered at a
        # lower prio (keep-best), and a brand-new host h2 appears
        batch2 = [
            ("h1", "https://h1/u4", 4.0),
            ("h1", "https://h1/u2", 0.5),
            ("h2", "https://h2/v1", 9.0),
        ]
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(urls_dir)
        q = run_frontier_topk_stream(spark, urls_dir, out_dir, ckpt, k=2)
        q.awaitTermination(120)
        from collections import Counter  # noqa: PLC0415

        rows = spark.read.parquet(out_dir).collect()
        got = Counter((r.host, r.url, r.prio, r.rank) for r in rows)
        # batch-1 emission (u2,u3) + batch-2's refreshed top-2 — which
        # proves batch-1 state survived the restart (u2 keeps its
        # ORIGINAL prio 5.0 at rank 1, so it repeats), stays bounded
        # at k (u3 evicted, u1 never enters), and h2 is independent
        # per-key state
        assert got == Counter(
            {
                ("h1", "https://h1/u2", 5.0, 1): 2,
                ("h1", "https://h1/u3", 3.0, 2): 1,
                ("h1", "https://h1/u4", 4.0, 2): 1,
                ("h2", "https://h2/v1", 9.0, 1): 1,
            }
        )


class TestStreamingRecrawl:
    """Streaming change-rate estimator: fold-equals-batch law against
    the oracled batch query, five-integer state per URL."""

    def test_final_emission_matches_batch_query(self, spark, tmp_path):
        import time as _time

        from edgar_crawler_spark.queries import QUERIES
        from edgar_crawler_spark.streaming.stateful import (
            run_recrawl_stream,
        )

        sf = "/root/testdata/sf0.001"
        fetch_dir = str(tmp_path / "fetches")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        log = spark.read.parquet(f"{sf}/events.parquet").select(
            F.col("user_id").alias("url_id"),
            F.floor(F.unix_timestamp("ts")).cast("long").alias("sec"),
            "event_id",
        )
        mid = log.agg(F.expr("percentile(sec, 0.5)")).collect()[0][0]
        # two time-ordered deliveries; distinct mtimes pin batch order
        log.filter(F.col("sec") <= mid).coalesce(1).write.mode(
            "append"
        ).parquet(fetch_dir)
        _time.sleep(2)
        log.filter(F.col("sec") > mid).coalesce(1).write.mode(
            "append"
        ).parquet(fetch_dir)

        q = run_recrawl_stream(spark, fetch_dir, out_dir, ckpt)
        q.awaitTermination(120)

        # last emission per url = full-history statistics
        out = spark.read.parquet(out_dir).collect()
        last: dict[int, tuple] = {}
        for r in out:
            cur = last.get(r.url_id)
            if cur is None or r.n_checks > cur[0]:
                last[r.url_id] = (
                    r.n_checks, r.n_changes, r.lambda_day, r.revisit_days
                )
        batch = {
            r.url_id: (r.n_checks, r.n_changes, r.lambda_day, r.revisit_days)
            for r in QUERIES["recrawl_schedule"].fn(spark, sf).collect()
        }
        assert set(last) == set(batch)
        for u, (n, x, lam, rev) in batch.items():
            sn, sx, slam, srev = last[u]
            assert (sn, sx) == (n, x), u  # integer stats: exact
            if lam is None:
                assert slam is None or slam != slam, u  # NULL/NaN
            else:
                # python libm vs JVM StrictMath may differ 1 ulp
                assert abs(slam - lam) <= 2e-6, (u, slam, lam)
                assert abs(srev - rev) <= 2e-6, (u, srev, rev)

    def test_fold_is_incremental(self):
        """Folding observations batch-by-batch equals one global
        fold — the law that makes micro-batch slicing invisible."""
        from edgar_crawler_spark.streaming.stateful import _recrawl_fold

        obs = [0, 3600, 90000, 90060, 200000, 250000, 260000]
        whole = _recrawl_fold(obs, (0, 0, None, None, 0))
        for cut in range(len(obs) + 1):
            st = _recrawl_fold(obs[:cut], (0, 0, None, None, 0))
            st = _recrawl_fold(obs[cut:], st)
            assert st == whole, cut
