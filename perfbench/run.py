"""Crawl-frontier benchmark for edgar_crawler_spark.

Run from the repository root:

  python3 perfbench/run.py --workload frontier_schedule --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --smoke     # every workload at tiny size

One process, one SparkSession at local[<cores>]. After set-up (session
start, seeded inputs, one verified warm repetition) a single client
repeats the workload — each repetition starts only after the previous
one finished and was verified — until `--seconds` have passed, and at
least once. The last stdout line is one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end set (tracing off).
With `--trace 1` the session writes a Spark event log, repetitions
alternate untraced and traced, and the metrics are the per-layer set,
including `trace.overhead_share`. README.md maps layers to end-to-end
metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from tracing import SparkActivity, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_REPS = 1  # plain repetitions per run; more as `--seconds` allows
MIN_TRACED = 2  # of each kind in a traced run, in ABBA order

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "rep_p50_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "memory.peak_rss_mb": "MB",
    "synth.generate_s": "s",
    "seen.bloom_build_s": "s",
    "seen.filter_s": "s",
    "seen.suspect_share": "share",
    "seen.bloom_precision": "share",
    "seen.bloom_mb": "MB",
    "priority.assign_s": "s",
    "priority.bucket_skew": "ratio",
    "priority.urls_scheduled": "count",
    "fetch.wave_s": "s",
    "fetch.urls": "count",
    "fetch.attempts": "count",
    "fetch.attempts_per_url": "ratio",
    "fetch.retry_share": "share",
    "fetch.task_skew": "ratio",
    "extraction.kernel_ms_per_filing": "ms",
    "extraction.items": "count",
    "extraction.items_per_filing": "ratio",
    "extract_job.s": "s",
    "extract_job.arrow_mb_in": "MB",
    "extract_job.overhead_share": "share",
    "state.commit_s": "s",
    "state.mb_written": "MB",
    "state.files_written": "count",
    "crawler.seed_s": "s",
    "crawler.wave_s": "s",
    "crawler.self_s": "s",
    "crawler.spark_jobs_per_wave": "count",
    "spark.jobs": "count",
    "spark.shuffle_mb": "MB",
    "trace.overhead_share": "share",
}


# -- session lifetime ----------------------------------------------------


def open_session(work_dir: str, event_log: bool):
    """Start the session; the JVMs, python workers and every temp file
    they write stay under `work_dir`."""
    from edgar_crawler_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the environment variable would override spark.local.dir below
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    # the launcher JVM spark-submit starts first would write under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # python workers import the engine, so they need the checkout too
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # many small parquet files: split scans so each core gets tasks
        "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
        "spark.sql.files.openCostInBytes": str(64 * 1024),
    }
    if event_log:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.range(cores).count()  # first job: executor and codegen warm
    return spark, cores


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def close_session(spark) -> None:
    """Stop Spark, end the JVM, and wait until the JVM and every
    process it started (python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    kids, family, todo = _children(), [], [proc.pid]
    while todo:
        pid = todo.pop()
        family.append(pid)
        todo += kids.get(pid, [])
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in family):
        if time.monotonic() > deadline:
            for p in family:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.05)


def peak_rss_mb() -> float:
    """This process's peak RSS plus the JVM's peak RSS (VmHWM)."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    with open(f"/proc/{_jvm_pid()}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                mb += int(line.split()[1]) / 1024.0
    return mb


# -- measurement ---------------------------------------------------------


def kernel_ms_per_filing(passes: int = 3, n: int = 24) -> float:
    """`extract_filing` in this process, no Spark, on a fixed body sample
    (independent of the workload seed): median pass mean, ms/filing."""
    from edgar_crawler_spark.extraction import extract_filing
    from edgar_crawler_spark.synth import FORM_TYPES, make_filing_body

    bodies = []
    for i in range(n):
        form = FORM_TYPES[i % len(FORM_TYPES)]
        md = {"CIK": "1", "Company": "K", "Type": form, "Date": "2020-01-01",
              "filename": None}
        bodies.append((make_filing_body(0, i, form).encode("utf-8"), md))
    means = []
    for _ in range(passes):
        t0 = time.perf_counter()
        for body, md in bodies:
            extract_filing(body, md)
        means.append((time.perf_counter() - t0) * 1000.0 / n)
    return statistics.median(means)


class Loop:
    """The closed loop: repetitions and their verification."""

    def __init__(self, wl, tracer):
        self.wl = wl
        self.tracer = tracer  # None: tracing off for the whole run
        self.attempted = self.failed = 0
        self.plain: list[tuple[float, int]] = []  # (seconds, units)
        self.traced: list[tuple[float, int]] = []
        self.traced_outcomes = []

    def once(self, traced: bool) -> None:
        self.wl.tracer = self.tracer if traced else Tracer(enabled=False)
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.wl.tracer.span("rep"):
                out = self.wl.rep()
            dt = time.perf_counter() - t0
            outcome = self.wl.verify(out)
            vt = time.perf_counter() - t0 - dt
            problems = outcome.problems
        except Exception:  # noqa: BLE001 - a failed repetition is counted
            traceback.print_exc()
            dt, vt, outcome, problems = 0.0, 0.0, None, ["repetition raised"]
        units = outcome.units if outcome else 0
        print(f"perfbench: rep {self.attempted} traced={traced} {dt:.3f}s"
              f" {units} {self.wl.UNIT}, verified in {vt:.1f}s", file=sys.stderr)
        if problems:
            self.failed += 1
            print(f"perfbench: rep {self.attempted} failed: {problems}",
                  file=sys.stderr)
        elif traced:
            self.traced.append((dt, outcome.units))
            self.traced_outcomes.append(outcome)
        else:
            self.plain.append((dt, outcome.units))

    def run(self, seconds: float, min_reps: int) -> None:
        """Repeat until `seconds` passed and `min_reps` reps of each kind
        ran. A traced run mixes plain and traced reps in ABBA order, so
        warm-up drift does not bias the tracing overhead."""
        deadline = time.perf_counter() + seconds
        kinds = [self.plain, self.traced] if self.tracer else [self.plain]
        done = lambda: min(map(len, kinds))  # noqa: E731
        k = 0
        while done() < min_reps or time.perf_counter() < deadline:
            self.once(traced=self.tracer is not None and k % 4 in (1, 2))
            k += 1
            if k > 4 * min_reps and not done():
                break  # every rep fails: stop, the failures are reported


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(loop: Loop, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "throughput_per_s": _median(u / t for t, u in loop.plain if t > 0),
        "rep_p50_s": _median(t for t, _ in loop.plain),
    }


def per_layer(loop: Loop, session_s: float, cores: int) -> dict[str, float]:
    """Span- and count-based layer values; Spark activity is added by
    `add_spark_activity` once the event log is closed."""
    wl, tracer = loop.wl, loop.tracer
    layer = dict.fromkeys(LAYER_UNITS, 0.0)
    layer["session.start_s"] = session_s
    layer["memory.peak_rss_mb"] = peak_rss_mb()
    layer["synth.generate_s"] = tracer.median("synth.generate")
    layer.update(wl.layer)
    kernel = kernel_ms_per_filing()
    layer["extraction.kernel_ms_per_filing"] = kernel
    if loop.traced_outcomes:
        layer.update(wl.traced_layers(tracer, loop.traced_outcomes))
    if layer["extract_job.s"] > 0:
        filings = layer["extraction.items"] / layer["extraction.items_per_filing"]
        busy = filings * kernel / 1000.0
        layer["extract_job.overhead_share"] = 1 - busy / (layer["extract_job.s"] * cores)
    plain = _median(t for t, _ in loop.plain)
    if plain > 0:
        layer["trace.overhead_share"] = _median(t for t, _ in loop.traced) / plain - 1
    return layer


def add_spark_activity(layer: dict, tracer, activity) -> None:
    """Per traced repetition (`rep` span): jobs and shuffle; per wave:
    jobs; task skew of the longest stage inside the fetch (or wave)."""

    def med(span_name: str, key: str) -> float:
        return _median(
            activity.window(s.start, s.end)[key]
            for s in tracer.spans if s.name == span_name
        )

    layer["spark.jobs"] = med("rep", "jobs")
    layer["spark.shuffle_mb"] = med("rep", "shuffle_mb")
    if tracer.durations("crawler.wave"):
        layer["crawler.spark_jobs_per_wave"] = med("crawler.wave", "jobs")
        layer["fetch.task_skew"] = med("crawler.wave", "task_skew")
    elif tracer.durations("fetch.wave"):
        layer["fetch.task_skew"] = med("fetch.wave", "task_skew")


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


# -- entry points --------------------------------------------------------


def run_one(args, t_start: float) -> dict:
    state_dir = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(state_dir, f"run-{os.getpid()}")
    try:
        return _run_one(args, t_start, state_dir, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run_one(args, t_start: float, state_dir: str, work_dir: str) -> dict:
    from workloads import WORKLOADS

    tracer = Tracer() if args.trace else None
    spark, cores = open_session(work_dir, event_log=bool(args.trace))
    try:
        session_s = time.perf_counter() - t_start
        wl = WORKLOADS[args.workload](
            spark, os.path.join(state_dir, "inputs"), work_dir, args.seed, "full"
        )
        wl.tracer = tracer or Tracer(enabled=False)
        wl.prepare()
        prepared_s = time.perf_counter() - t_start
        loop = Loop(wl, tracer)
        loop.once(traced=False)  # the warm repetition, part of set-up
        loop.plain.clear()
        setup_s = time.perf_counter() - t_start
        print(f"perfbench: session {session_s:.1f}s, inputs ready {prepared_s:.1f}s,"
              f" warm {setup_s:.1f}s", file=sys.stderr)
        loop.run(args.seconds, MIN_TRACED if tracer else MIN_REPS)
        layer = per_layer(loop, session_s, cores) if tracer else None
    finally:
        close_session(spark)
    if tracer:
        add_spark_activity(layer, tracer, SparkActivity.read(os.path.join(work_dir, "eventlog")))
    metrics = (
        _metrics(layer, LAYER_UNITS) if tracer
        else _metrics(end_to_end(loop, setup_s), E2E_UNITS)
    )
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }


def run_smoke(t_start: float) -> int:
    """Every workload at tiny size in one traced session: one plain and
    one traced repetition each; every metric must be printed and every
    verification must pass."""
    from workloads import WORKLOADS

    state_dir = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(state_dir, f"smoke-{os.getpid()}")
    spark, cores = open_session(work_dir, event_log=True)
    session_s = time.perf_counter() - t_start
    loops = {}
    try:
        for name, cls in WORKLOADS.items():
            t0 = time.perf_counter()
            wl = cls(spark, os.path.join(work_dir, "inputs"),
                     os.path.join(work_dir, name), seed=1, size="tiny")
            wl.tracer = Tracer()
            wl.prepare()
            loop = Loop(wl, wl.tracer)
            loop.run(0, 1)
            e2e = end_to_end(loop, time.perf_counter() - t0)
            loops[name] = (loop, e2e, per_layer(loop, session_s, cores))
    finally:
        close_session(spark)
    activity = SparkActivity.read(os.path.join(work_dir, "eventlog"))
    shutil.rmtree(work_dir, ignore_errors=True)
    report, ok = {}, True
    for name, (loop, e2e, layer) in loops.items():
        add_spark_activity(layer, loop.tracer, activity)
        m = {**_metrics(e2e, E2E_UNITS), **_metrics(layer, LAYER_UNITS)}
        good = (
            loop.failed == 0 and loop.plain and loop.traced
            and set(m) == set(E2E_UNITS) | set(LAYER_UNITS)
        )
        ok = ok and bool(good)
        report[name] = {"ok": bool(good), "attempted": loop.attempted,
                        "failed": loop.failed, "metrics": m}
    print(json.dumps({"smoke_ok": ok, "workloads": report}))
    return 0 if ok else 1


def main(argv=None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=[
        "frontier_schedule", "fetch_extract", "extract_stored", "crawl_waves"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)
    if not args.smoke and not args.workload:
        p.error("--workload is required unless --smoke")
    sys.path.insert(1, ROOT)
    try:
        import edgar_crawler_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.smoke:
        return run_smoke(t_start)
    print(json.dumps(run_one(args, t_start)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
