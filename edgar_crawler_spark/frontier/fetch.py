"""Fetch stage: applyInPandas over host buckets, token-bucket paced.

Reference behavior being re-expressed
(/root/reference/download_filings.py:464-854):
- sequential GET loop with urllib3 Retry(total=5, backoff_factor=0.2,
  status_forcelist 400/401/403/5xx) — here: bounded retry loop with
  the same backoff schedule (0.2 * 2**(attempt-1)) charged to the
  politeness clock,
- throttle detection + politeness — here: the token bucket
  (politeness.py) paces every request inside one host bucket,
- bytes written to RAW_FILINGS/... — here: fetched pages are ROWS of
  the Common-Crawl-style pages table (input_hint schema), never files.

The sandbox has no network, so the transport is injected: the default
`SimulatedTransport` synthesizes the same deterministic filing bodies
as synth.py (same url → same bytes, always) and injects deterministic
transient failures so the retry path is really exercised. A production
transport would wrap requests.Session with the reference's Retry
mount; everything else — pacing, retries, scheduling, output schema —
is transport-independent.

Plan shape: groupBy(host_bucket).applyInPandas — ONE hash exchange on
host_bucket (reused from assign_waves' window, or in a crawl wave
from the exchange under its URL-seen check), then pure map-side
work. Each task owns one bucket = one slice of the host budget, so
politeness holds per-task without any cross-task coordination.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame

from ..synth import make_filing_body
from .politeness import TokenBucket, per_bucket_rate
from .priority import bucket_key

EPOCH = datetime(2015, 1, 1, tzinfo=timezone.utc)


class RobotsPolicy:
    """robots.txt gate (stdlib urllib.robotparser — deterministic, no
    network: the caller supplies the robots.txt BODY, fetched once per
    host per crawl round and broadcast with the task closure).
    URLs a disallow rule matches are emitted with status
    'robots_denied' and never hit the transport."""

    def __init__(self, robots_txt: str | None = None, user_agent: str = "*"):
        self.user_agent = user_agent
        self._parser = None
        if robots_txt:
            from urllib import robotparser  # noqa: PLC0415

            p = robotparser.RobotFileParser()
            p.parse(robots_txt.splitlines())
            self._parser = p

    def allows(self, url: str) -> bool:
        if self._parser is None:
            return True
        return self._parser.can_fetch(self.user_agent, url)

    def crawl_delay(self) -> float | None:
        """Crawl-delay (or Request-rate) from robots.txt, seconds
        between requests — None when unspecified."""
        if self._parser is None:
            return None
        d = self._parser.crawl_delay(self.user_agent)
        if d is not None:
            return float(d)
        rr = self._parser.request_rate(self.user_agent)
        if rr is not None and rr.requests:
            return rr.seconds / rr.requests
        return None


def effective_budget(
    host_budget_per_sec: float, robots: "RobotsPolicy | None"
) -> float:
    """Host budget after honoring a robots Crawl-delay: the STRICTER
    of the operator budget and the host's advertised rate (SEC
    publishes 10 req/s; a host advertising Crawl-delay: 1 gets 1
    req/s even if our budget allows more)."""
    if robots is None:
        return host_budget_per_sec
    d = robots.crawl_delay()
    if d is None or d <= 0:
        return host_budget_per_sec
    return min(host_budget_per_sec, 1.0 / d)

FETCH_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "cik string, company string, form_type string, filing_date string, "
    "accession string, filename string, "
    "host_bucket int, wave long, attempts int, status string, "
    "sched_ts double, fetched_bytes long"
)

# reference retry parameters (download_filings.py:811-854):
# urllib3 Retry(total=5) = 5 retries AFTER the initial attempt,
# so MAX_RETRIES+1 = 6 total attempts per url.
MAX_RETRIES = 5
BACKOFF_FACTOR = 0.2


def _stable_int(key: str, salt: str = "") -> int:
    d = hashlib.blake2b((salt + key).encode("utf-8"), digest_size=8).digest()
    return int.from_bytes(d, "big")


class SimulatedTransport:
    """Deterministic fake network: same url → same bytes. A fraction
    of urls fail transiently `n` times before succeeding (exercises
    retry/backoff); a smaller fraction fails permanently."""

    def __init__(self, seed: int = 7, transient_pct: int = 10, permanent_pct: int = 0):
        self.seed = seed
        self.transient_pct = transient_pct
        self.permanent_pct = permanent_pct

    def planned_failures(self, url: str) -> int:
        h = _stable_int(url, "fail")
        if self.permanent_pct and h % 1000 < self.permanent_pct * 10:
            return MAX_RETRIES + 2  # > max attempts; never succeeds
        if h % 100 < self.transient_pct:
            return 1 + h // 100 % min(3, MAX_RETRIES)
        return 0

    def get(self, url: str, form_type: str, attempt: int) -> bytes | None:
        """None = this attempt failed."""
        if attempt <= self.planned_failures(url):
            return None
        body = make_filing_body(self.seed, _stable_int(url) % (2**31), form_type)
        return body.encode("utf-8")


FETCH_EXTRACT_SCHEMA = (
    "url string, cik string, form_type string, filing_date string, "
    "accession string, host_bucket int, wave long, attempts int, "
    "status string, sched_ts double, fetched_bytes long, "
    "n_items int, items_digest string"
)


def _fetch_buckets(
    wave_df: DataFrame,
    schema: str,
    emit: Callable,
    host_budget_per_sec: float,
    n_buckets: int,
    transport_factory: Callable[[], SimulatedTransport] | None,
    robots: RobotsPolicy | None,
    real_pace: bool,
) -> DataFrame:
    """The retry/politeness loop shared by `fetch_wave` and
    `fetch_extract_wave`: one task per host bucket, urls in
    bucket_rank order, every attempt paced by the bucket's token
    bucket and every retry backed off on its clock. `emit(row, body,
    attempts, sched_ts, status)` turns one url's outcome into its
    output row (a dict matching `schema`)."""
    rate = per_bucket_rate(effective_budget(host_budget_per_sec, robots), n_buckets)
    tf = transport_factory or SimulatedTransport

    def run_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import time  # noqa: PLC0415

        transport = tf() if not isinstance(tf, SimulatedTransport) else tf
        pdf = pdf.sort_values("bucket_rank", kind="mergesort")
        bucket = TokenBucket(rate=rate)
        anchor = time.monotonic()
        out = []
        for row in pdf.itertuples(index=False):
            attempts, body, t, ready = 0, None, 0.0, 0.0
            denied = robots is not None and not robots.allows(row.url)
            while not denied and attempts <= MAX_RETRIES and body is None:
                attempts += 1
                t = bucket.acquire(ready)
                if real_pace:
                    delay = (anchor + t) - time.monotonic()
                    if delay > 0:
                        time.sleep(delay)
                body = transport.get(row.url, row.form_type, attempts)
                if body is None and attempts <= MAX_RETRIES:
                    # reference backoff schedule: the retry may go out
                    # once it ends and the bucket has a token
                    ready = t + BACKOFF_FACTOR * (2 ** (attempts - 1))
            status = ("robots_denied" if denied
                      else "ok" if body is not None else "failed")
            out.append(emit(row, body, attempts, float(t), status))
        return pd.DataFrame(out)

    return wave_df.groupBy(bucket_key(wave_df)).applyInPandas(run_bucket, schema)


def fetch_extract_wave(
    wave_df: DataFrame,
    host_budget_per_sec: float = 10.0,
    n_buckets: int = 8,
    transport_factory: Callable[[], SimulatedTransport] | None = None,
    extraction_options=None,
    robots: RobotsPolicy | None = None,
    real_pace: bool = False,
) -> DataFrame:
    """Fused fetch + extract: one applyInPandas stage that fetches a
    URL and runs ExtractItems on the body in the SAME python worker,
    emitting only the (small) extraction result.

    Why fuse: the page body is the big payload (KBs-MBs); a separate
    fetch stage materializes it through Arrow → JVM → table → Arrow →
    python again before extraction ever sees it. When the downstream
    is extraction (the common case), fusing removes both transfers —
    at 10^10 pages that is the difference between moving the corpus
    through the executor twice and zero times. The un-fused
    `fetch_wave` remains for when raw pages must land in the pages
    table first (archival crawls); `CrawlJob` uses that path.
    Politeness, retries and scheduling are `fetch_wave`'s: both run
    `_fetch_buckets`.
    """
    import hashlib as _hashlib  # noqa: PLC0415

    from ..extraction import ExtractionOptions, extract_filing, item_sections  # noqa: PLC0415

    opts = extraction_options or ExtractionOptions()

    def emit(row, body, attempts, t, status):
        n_items, digest = 0, None
        if body is not None:
            md = {
                "CIK": row.cik, "Company": row.company,
                "Type": row.form_type, "Date": row.filing_date,
                "filename": None,
            }
            try:
                result = extract_filing(body, md, opts) or {}
            except Exception:  # noqa: BLE001 - quarantine bad rows
                result = {}
            items = sorted((k, v) for k, v in item_sections(result).items() if v)
            n_items = len(items)
            digest = _hashlib.md5(
                "\x00".join(f"{k}\x01{v}" for k, v in items).encode("utf-8")
            ).hexdigest()
        return {
            "url": row.url, "cik": row.cik, "form_type": row.form_type,
            "filing_date": row.filing_date, "accession": row.accession,
            "host_bucket": int(row.host_bucket), "wave": int(row.wave),
            "attempts": attempts, "status": status, "sched_ts": t,
            "fetched_bytes": len(body) if body is not None else 0,
            "n_items": n_items, "items_digest": digest,
        }

    return _fetch_buckets(
        wave_df, FETCH_EXTRACT_SCHEMA, emit, host_budget_per_sec, n_buckets,
        transport_factory, robots, real_pace,
    )


def fetch_wave(
    wave_df: DataFrame,
    host_budget_per_sec: float = 10.0,
    n_buckets: int = 8,
    transport_factory: Callable[[], SimulatedTransport] | None = None,
    robots: RobotsPolicy | None = None,
    real_pace: bool = False,
) -> DataFrame:
    """Fetch one wave. Input needs (url, cik, company, form_type,
    filing_date, accession, host_bucket, bucket_rank, wave); output is
    FETCH_SCHEMA — page rows + embedded fetch log (sched_ts is the
    virtual send time in seconds since the wave start; politeness
    tests assert the per-host rate from it).

    real_pace=True is the production mode: each task sleeps until the
    token bucket's scheduled send time (monotonic clock anchored at
    task start), so the wave's WALL time equals the politeness
    schedule — the end-to-end rate-cap test asserts
    wall ≈ n_urls/host_budget on this path. Default off: tests and
    benches exercise identical scheduling logic without 10-req/s
    wall-clock waits.
    """

    def emit(row, body, attempts, t, status):
        year = (row.filing_date or "0000")[:4]
        return {
            "url": row.url,
            "warc_ts": EPOCH + pd.Timedelta(seconds=t),
            "html": body,
            "text": "",
            "lang": "en",
            "cik": row.cik,
            "company": row.company,
            "form_type": row.form_type,
            "filing_date": row.filing_date,
            "accession": row.accession,
            "filename": f"{row.cik}_{str(row.form_type).replace('-', '')}"
                        f"_{year}_{row.accession}.htm",
            "host_bucket": int(row.host_bucket),
            "wave": int(row.wave),
            "attempts": attempts,
            "status": status,
            "sched_ts": t,
            "fetched_bytes": len(body) if body is not None else 0,
        }

    return _fetch_buckets(
        wave_df, FETCH_SCHEMA, emit, host_budget_per_sec, n_buckets,
        transport_factory, robots, real_pace,
    )
