"""Partitioned layout: a filter on the partition column prunes whole
directories at planning time."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from edgar_crawler_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestPartitionPruning:
    def test_partitioned_write_prunes_on_read(self, spark, tmp_path):
        """Hive-style partitioned layout (the corpus pipeline's
        partitionBy('split') write): a filter on the partition column
        must become a PartitionFilter — whole directories skipped at
        planning, zero data files of other partitions touched."""
        out = str(tmp_path / "part_docs")
        docs = load_table(spark, SF, "documents")
        docs.write.partitionBy("lang").mode("overwrite").parquet(out)

        df = spark.read.parquet(out).filter(F.col("lang") == "en")
        plan = _plan(df)
        assert re.search(r"PartitionFilters: \[.*lang.*\]", plan), plan
        # rows match a non-partitioned filter exactly
        want = docs.filter(F.col("lang") == "en").count()
        assert df.count() == want
        # and the filter is gone from the post-scan Filter node — it
        # was consumed entirely by partition pruning, so no per-row
        # lang comparison survives in the physical plan
        post_scan_filters = re.findall(r"\(\d+\) Filter\n.*?\nCondition : (.*)", plan)
        assert not any("lang" in c for c in post_scan_filters), post_scan_filters
