"""The north rule's deployment shape, executed literally: package the
engine as a zip and launch the crawl through `spark-submit --py-files`
in a separate JVM, then resume it the same way and extract every page
it crawled."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _package(tmp_path) -> str:
    zpath = str(tmp_path / "edgar_crawler_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "edgar_crawler_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit(zpath: str, *job_args: str) -> dict:
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", zpath,
        os.path.join(REPO, "jobs", "crawl_job.py"),
        *job_args,
    ]
    r = subprocess.run(
        cmd, capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": ""},  # only the zip provides the pkg
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
class TestSparkSubmitLaunch:
    def test_crawl_and_resume_via_spark_submit(self, spark, tmp_path):
        from tests.test_frontier import _frontier_df

        zpath = _package(tmp_path)
        frontier_path = str(tmp_path / "frontier.parquet")
        store = str(tmp_path / "store")
        # the driver session only PREPARES input; the job runs in its
        # own spark-submit JVM with the package coming from --py-files
        _frontier_df(spark, 60, seed=31).write.parquet(frontier_path)

        s1 = _submit(
            zpath,
            "--frontier", frontier_path, "--store", store,
            "--n-buckets", "4", "--wave-size", "5", "--max-waves", "2",
        )
        assert s1["waves_run"] == 2 and s1["n_fetched"] == 40

        extracted = str(tmp_path / "extracted")
        s2 = _submit(zpath, "--store", store, "--resume", "--extract-out", extracted)
        assert s2["n_fetched"] == 20  # exactly the remainder, no refetch
        assert s1["n_failed"] == s2["n_failed"] == 0
        # --extract-out extracts every page of both runs
        assert s2["extracted_rows"] == 60
        payloads = spark.read.parquet(extracted).select("url", "payload_json").collect()
        assert len({r.url for r in payloads}) == 60
        assert all(r.payload_json for r in payloads)
