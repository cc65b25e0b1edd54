"""Time what a Python task costs before any UDF work: trivial
`mapInPandas` jobs of 4, 16 and 64 tasks in one session.

    python tools/task_overhead.py

`tools/kernel_ab.py` times the extraction kernel in-process, so it
cannot show a change to how Python workers start, import or clean up
between tasks (`pydaemon.py`). This tool runs through the session the
engine builds (`session.get_spark` with its default cores), warms the
workers up with one job, then alternates the task counts `TASKS`
`REPS` times. Each job is
`spark.range(n, numPartitions=n).mapInPandas(<pass batches through>)`.
It prints each count's median wall time with its quartiles, and the
cost per task: the slope between the smallest and largest count's
medians. To compare two checkouts, run each checkout's copy of this
tool one after the other, from that checkout's root (the workers put
the working directory first on their path); the host drifts, so repeat
the pair.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from edgar_crawler_spark.session import get_spark  # noqa: E402

TASKS = (4, 16, 64)
REPS = 7


def _passthrough(batches):
    yield from batches


def _job(spark, n: int) -> float:
    t0 = time.perf_counter()
    spark.range(n, numPartitions=n).mapInPandas(_passthrough, "id long").collect()
    return time.perf_counter() - t0


def main() -> None:
    spark = get_spark("task_overhead")
    cores = spark.sparkContext.defaultParallelism
    _job(spark, max(TASKS))  # start the daemon and every worker
    times: dict[int, list[float]] = {n: [] for n in TASKS}
    for _ in range(REPS):
        for n in TASKS:
            times[n].append(_job(spark, n))
    spark.stop()

    print(f"{cores} cores, {REPS} reps")
    medians = {}
    for n in TASKS:
        q1, medians[n], q3 = statistics.quantiles(times[n], n=4)
        print(f"{n:4d} tasks: median {medians[n]:.3f} s (quartiles {q1:.3f}-{q3:.3f})")
    lo, hi = min(TASKS), max(TASKS)
    per_task = (medians[hi] - medians[lo]) / (hi - lo)
    print(f"per task: {per_task * 1e3:.1f} ms ({lo} -> {hi} tasks)")


if __name__ == "__main__":
    main()
