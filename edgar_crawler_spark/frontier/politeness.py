"""Per-host politeness: token bucket over salted host buckets.

The SEC fair-access budget is ≤10 req/s to www.sec.gov (implied by the
mandatory User-Agent policy, /root/reference/colab_batch_downloader.py:
516-537; retry/backoff parameters at download_filings.py:837-854).
The reference honors it by being single-threaded. A distributed fetch
must divide the budget: the frontier is salted into B host buckets
(canon.host_bucket_col) that fetch concurrently, so each bucket's
token bucket refills at rate/B. Worst case the buckets drift apart in
time, but the sum of per-bucket rates never exceeds the host budget —
the invariant the politeness test asserts from the fetch log.

The bucket runs on an injected clock. Production: time.monotonic +
real sleep. Tests/bench: a virtual clock — `acquire()` *returns* the
scheduled send time instead of sleeping, so politeness logic is
exercised (and asserted on) without 10-req/s wall-clock waits.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class TokenBucket:
    """Classic token bucket: capacity `burst`, refill `rate`/sec."""

    rate: float
    burst: float = 1.0
    now: float = 0.0
    tokens: float = field(default=-1.0)

    def __post_init__(self) -> None:
        if self.tokens < 0:
            self.tokens = self.burst

    def acquire(self) -> float:
        """Reserve one token at or after the bucket's clock. Returns the
        send time; advances the clock to it. Never sleeps — callers that
        need real pacing sleep until the returned time themselves.
        """
        if self.tokens < 1.0:
            self.now += (1.0 - self.tokens) / self.rate
            self.tokens = 1.0
        self.tokens -= 1.0
        return self.now


def per_bucket_rate(host_budget_per_sec: float, n_buckets: int) -> float:
    """Divide a host's request budget across its concurrent buckets."""
    return host_budget_per_sec / max(1, n_buckets)
