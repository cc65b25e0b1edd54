"""Consolidate stage tests."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from edgar_crawler_spark.operators.consolidate import (
    consolidate,
    summary_stats,
    write_analysis_csv,
)
from edgar_crawler_spark.operators.extract_job import extract_items_job
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

