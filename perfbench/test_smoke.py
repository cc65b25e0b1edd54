"""Tests of the benchmark itself (not part of the engine's test suite).

Run from the repository root:  python3 -m pytest perfbench/test_smoke.py -q
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_smoke_prints_every_metric_and_verifies():
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    report = json.loads(p.stdout.strip().splitlines()[-1])
    assert report["smoke_ok"]
    assert set(report["workloads"]) == {
        "frontier_schedule", "fetch_extract", "extract_stored", "crawl_waves"
    }
    for name, w in report["workloads"].items():
        assert w["failed"] == 0, name
        assert all(isinstance(m["value"], float) for m in w["metrics"].values())
        # a workload's own unit of work was done
        assert w["metrics"]["throughput_per_s"]["value"] > 0, name


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_waves",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout == ""
