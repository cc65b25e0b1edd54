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

The bucket runs on a virtual clock: `acquire(ready)` *returns* the
scheduled send time instead of sleeping, so politeness logic is
exercised (and asserted on) without 10-req/s wall-clock waits; the
real-pace fetch sleeps until that time itself. `ready` is the earliest
moment the caller may send, e.g. the end of a retry's backoff, so time
spent backing off counts toward the next token.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class TokenBucket:
    """Token bucket of capacity one: sends at least 1/`rate` s apart."""

    rate: float
    last: float = float("-inf")

    def acquire(self, ready: float) -> float:
        """Reserve the first send slot at or after `ready`. Returns the
        send time and records it; never sleeps."""
        self.last = max(ready, self.last + 1.0 / self.rate)
        return self.last


def per_bucket_rate(host_budget_per_sec: float, n_buckets: int) -> float:
    """Divide a host's request budget across its concurrent buckets."""
    return host_budget_per_sec / max(1, n_buckets)
