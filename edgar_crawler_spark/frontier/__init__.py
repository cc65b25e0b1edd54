"""Distributed crawl frontier + scheduler (the north-rule core).

Re-expresses the reference's single-process crawl loop
(/root/reference/download_filings.py:54-224) as PySpark dataflow:

- canon.py       url canonicalization (accession normal form, iXBRL
                 rewrite) as native Spark expressions
- bloom.py       pure-Python sharded bloom filter (numpy bitset)
- seen.py        URL-seen = bloom pre-filter + exact anti-join
- priority.py    reference crawl ordering + salted priority queue
- politeness.py  per-host token bucket on a virtual clock
- fetch.py       applyInPandas fetch stage (simulated network)
- state.py       incremental snapshot store (checkpoint / exact resume)
- crawler.py     wave-loop driver with per-partition lineage metrics
"""

from .bloom import BloomFilter, ShardedBloom
from .canon import canonicalize_url, canonicalize_url_py, host_bucket_col
from .crawler import CrawlJob, CrawlResult
from .politeness import TokenBucket
from .priority import assign_waves, reference_order
from .seen import filter_unseen
from .state import SnapshotStore

__all__ = [
    "BloomFilter",
    "CrawlJob",
    "CrawlResult",
    "ShardedBloom",
    "SnapshotStore",
    "TokenBucket",
    "assign_waves",
    "canonicalize_url",
    "canonicalize_url_py",
    "filter_unseen",
    "host_bucket_col",
    "reference_order",
]
