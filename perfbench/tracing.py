"""Spans for the traced run, and Spark event-log attribution.

Spans are recorded by the benchmark around the public functions it
calls (and, for the crawl loop, around the names `frontier.crawler`
imported). They stay in memory until the run ends. Spark job counts,
task times and shuffle bytes come from the uncompressed event log the
traced session writes; jobs and tasks are attributed to spans by time
interval, because parquet writes and counts carry no Python call site.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from functools import wraps


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the event log uses too
    end: float
    parent: int | None


@dataclass
class Tracer:
    """In-memory span recorder. `enabled=False` records nothing."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def _record(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.time(), 0.0, parent)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()

    def span(self, name: str):
        return self._record(name) if self.enabled else nullcontext()

    def wrap(self, fn, name: str):
        @wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self, target, names: dict[str, str]):
        """Replace `target.<attr>` with a span wrapper for each
        attr -> span name, restoring the originals on exit."""
        saved = {attr: getattr(target, attr) for attr in names}
        try:
            for attr, span_name in names.items():
                setattr(target, attr, self.wrap(saved[attr], span_name))
            yield
        finally:
            for attr, fn in saved.items():
                setattr(target, attr, fn)

    # -- queries over recorded spans -----------------------------------

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def self_times(self, name: str) -> list[float]:
        """Duration of each `name` span minus the part of its interval
        its direct children cover."""
        out = []
        for i, s in enumerate(self.spans):
            if s.name != name:
                continue
            kids = sorted(
                (c.start, c.end) for c in self.spans if c.parent == i
            )
            covered, hi = 0.0, s.start
            for a, b in kids:
                a, b = max(a, hi), min(b, s.end)
                if b > a:
                    covered += b - a
                    hi = b
            out.append(s.end - s.start - covered)
        return out


@dataclass
class SparkActivity:
    """Jobs and tasks read back from a Spark event log."""

    job_submit_ms: list[int]
    # (stage id, launch ms, finish ms, shuffle bytes written)
    tasks: list[tuple[int, int, int, int]]

    @classmethod
    def read(cls, log_dir: str) -> "SparkActivity":
        jobs, tasks = [], []
        files = []
        for root, _dirs, names in os.walk(log_dir):
            files += [os.path.join(root, n) for n in names if n.startswith("events_")]
        # rolling logs are events_<index>_<app>; replay in index order
        files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        jobs.append(e["Submission Time"])
                    elif kind == "SparkListenerTaskEnd":
                        info = e["Task Info"]
                        written = (
                            e.get("Task Metrics", {})
                            .get("Shuffle Write Metrics", {})
                            .get("Shuffle Bytes Written", 0)
                        )
                        tasks.append(
                            (e["Stage ID"], info["Launch Time"],
                             info["Finish Time"], written)
                        )
        return cls(sorted(jobs), tasks)

    def window(self, start: float, end: float) -> dict:
        """Jobs submitted and tasks launched inside [start, end] (epoch
        seconds): job count, shuffle MB written, and the max/median
        task time of the stage that ran longest in the window."""
        lo, hi = start * 1000.0, end * 1000.0
        n_jobs = sum(1 for t in self.job_submit_ms if lo <= t <= hi)
        by_stage: dict[int, list[int]] = {}
        shuffle = 0
        for stage, launch, finish, written in self.tasks:
            if lo <= launch <= hi:
                by_stage.setdefault(stage, []).append(finish - launch)
                shuffle += written
        skew = 0.0
        if by_stage:
            longest = max(by_stage.values(), key=sum)
            med = statistics.median(longest)
            skew = max(longest) / med if med > 0 else 1.0
        return {"jobs": n_jobs, "shuffle_mb": shuffle / 1e6, "task_skew": skew}
