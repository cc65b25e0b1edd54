"""URL-seen: distributed bloom build + (bloom pre-filter → exact anti-join).

Reference semantics (/root/reference/download_filings.py:151-158): a
frontier row survives iff its `html_index` URL is absent from the
metadata ledger. Exactness is non-negotiable (a false "seen" would
silently drop a filing), so the bloom is ONLY a pre-filter: rows the
bloom flags as maybe-seen go through an exact left-anti join; rows the
bloom clears skip the join entirely.

The bloom shrinks only the frontier side of that join. Spark builds a
LEFT ANTI join on its right side only, so `suspect ⋉̸ seen` still
scans all of `seen`, and above the broadcast threshold it hash-shuffles
all of it: with broadcast off, Spark 4.1.2 plans a 10-row suspect set
anti-joined with 10^6 urls as a SortMergeJoin LeftAnti with an
Exchange on both sides, and a `broadcast()` hint on the suspect side
does not change that. The check therefore costs O(|seen|) per use
whatever the bloom clears. `seen.join(broadcast(suspect), "url",
"left_semi")` finds the suspects already seen while streaming `seen`
with no shuffle, but it still reads all of `seen`.

The sharded bloom is the only filter. It is rebuilt from `seen` for
each use and never persisted, so it needs no deletes: `requeue_failed`
rewrites `seen`, and the next build reflects that.
"""

from __future__ import annotations

from typing import Callable, Iterator
from uuid import uuid4

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloom import BloomFilter, ShardedBloom, shard_of_many

# per-python-worker deserialized-filter cache (see maybe_seen below)
_FILTER_CACHE: dict[str, ShardedBloom] = {}


def build_sharded_bloom(
    seen: DataFrame, n_shards: int = 16, n: int | None = None
) -> ShardedBloom:
    """Build the sharded bloom distributed: every input partition folds
    its rows into per-shard bitmaps (map-side), then bitmaps OR-merge
    per shard in a tiny shuffle of `n_shards × partitions` rows. The
    driver only ever sees finished bitmaps. `n` is the row count of
    `seen` when the caller knows it; otherwise a count job finds it.
    Each shard is sized for its share of `n` at BloomFilter's default
    1% fpp.
    """
    if n is None:
        n = seen.count()
    exp = max(64, (n + n_shards - 1) // n_shards)

    def fold(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local: dict[int, BloomFilter] = {}
        for pdf in pdfs:
            keys = pdf["url"].astype(str).to_numpy(dtype=object)
            if len(keys) == 0:
                continue
            sh = shard_of_many(keys, n_shards)
            for s in np.unique(sh):
                bf = local.get(int(s))
                if bf is None:
                    bf = local[int(s)] = BloomFilter.empty(exp)
                bf.add_many(keys[sh == s].tolist())
        if local:
            yield pd.DataFrame(
                {
                    "shard": list(local.keys()),
                    "bitmap": [bf.to_bytes() for bf in local.values()],
                }
            )

    def or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        merged: BloomFilter | None = None
        for raw in pdf["bitmap"]:
            bf = BloomFilter.from_bytes(bytes(raw))
            merged = bf if merged is None else merged.merge(bf)
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bitmap": [merged.to_bytes()]}
        )

    partial = seen.select("url").mapInPandas(fold, "shard int, bitmap binary")
    # per-shard OR-merge happens IN SPARK (groupBy shard → one reducer
    # per shard), so the driver collects exactly n_shards finished
    # bitmaps — never the partitions × n_shards partials. At 10^10
    # keys / 1024 shards a partial set is thousands × 12 MB (a driver
    # OOM); the finished set is 1024 × 12 MB spread over one tiny
    # shuffle whose reducers each touch only their shard.
    finished = partial.groupBy("shard").applyInPandas(
        or_merge, "shard int, bitmap binary"
    )
    shards = {
        int(r["shard"]): BloomFilter.from_bytes(bytes(r["bitmap"]))
        for r in finished.collect()
    }
    return ShardedBloom(n_shards=n_shards, shards=shards)


def filter_unseen(
    frontier: DataFrame,
    seen: DataFrame,
    bloom: ShardedBloom | None,
    exchange: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Frontier rows whose canonical URL is NOT in `seen` — exact.

    With a bloom: maybe-seen rows take the exact anti-join, clear rows
    bypass it, and the two legs union back. Without one, plain
    anti-join. `seen` is broadcast when small; at scale both sides
    hash-partition on the url (Catalyst picks SortMergeJoin and AQE
    handles residual skew — the url key is near-unique so none).

    The two legs read the same flagged rows, so Spark evaluates the
    bloom probe once per leg. `exchange` (a repartition the caller
    needs anyway, such as the fetch's bucket exchange) is applied to
    the flagged rows: both legs then read that one exchange, reused,
    and the probe runs once per row. The result keeps the exchange's
    partitioning when seen is broadcast.
    """
    if bloom is None:
        return frontier.join(seen.select("url"), on="url", how="left_anti")

    spark = frontier.sparkSession
    b = spark.sparkContext.broadcast(bloom.to_rows())
    ns = bloom.n_shards
    b_key = uuid4().hex  # unique per broadcast — never aliases filters

    def maybe_seen(urls: pd.Series) -> pd.Series:
        # deserialize the broadcast filter ONCE per python worker, not
        # once per Arrow batch — workers are reused across batches, so
        # without this every ~10k-row batch re-parses every shard
        # bitmap. Keyed on the broadcast identity; bounded (workers
        # see at most a handful of live filters).
        sb = _FILTER_CACHE.get(b_key)
        if sb is None:
            sb = ShardedBloom.from_rows(ns, b.value)
            while len(_FILTER_CACHE) >= 4:
                _FILTER_CACHE.pop(next(iter(_FILTER_CACHE)))
            _FILTER_CACHE[b_key] = sb
        return pd.Series(sb.might_contain_many(urls.astype(str).tolist()))

    # Declared nondeterministic only to fence Catalyst: a deterministic
    # probe is copied onto the seen side of the anti-join (inferred
    # from the join condition, so every seen row is probed too) and
    # its leg filters are pushed below `exchange`, which then differs
    # per leg and is not reused.
    probe = F.pandas_udf(maybe_seen, "boolean").asNondeterministic()
    flagged = frontier.withColumn("_maybe_seen", probe(F.col("url")))
    if exchange is None:
        leg = F.col("_maybe_seen")
    else:
        flagged = exchange(flagged)
        # a condition that is itself nondeterministic stays above the
        # exchange; the guard is always true
        leg = F.when(F.spark_partition_id() >= 0, F.col("_maybe_seen"))
    clear = flagged.filter(~leg).drop("_maybe_seen")
    suspect = flagged.filter(leg).drop("_maybe_seen")
    survivors = suspect.join(seen.select("url"), on="url", how="left_anti")
    return clear.unionByName(survivors)
