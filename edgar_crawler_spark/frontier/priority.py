"""Crawl ordering: reference reproduction + politeness waves.

`reference_order` is the EXACT order the reference visits filings
(its download_filings.py:115-183): quarter TSVs are concatenated
year-asc, quarter-asc, and within a quarter the index row order is
preserved; type/CIK filters run before ordering. This is the parity
spec — tests assert sequence equality against a single-process oracle.

`assign_waves` is the crawl's scheduling order: URLs are salted into
host buckets (canon.host_bucket_col), ranked within their bucket by
priority (form-type weight desc, filing-date desc, accession asc) with
a window over the host-bucket exchange, and chopped into fixed-size
waves. One wave × one bucket is the unit handed to the fetch stage, so
each fetch task owns a slice of the per-host budget (politeness.py).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .canon import host_bucket_col

# reference form-type ordering intent (north_star: form-type weight);
# weights chosen so 8-K (timeliest) > 10-K > 10-Q > everything else
FORM_WEIGHTS = {"8-K": 10, "10-K": 8, "10-Q": 6}


def form_weight_col() -> F.Column:
    w = F.lit(1)
    for form, weight in FORM_WEIGHTS.items():
        w = F.when(F.col("form_type") == form, F.lit(weight)).otherwise(w)
    return w.cast("int")


def reference_order(index_df: DataFrame) -> DataFrame:
    """Deterministic reference visit order. Expects columns
    (year int, quarter int, row_seq long) where row_seq is the row's
    ordinal inside its quarter TSV — (year, quarter, row_seq) is a
    unique key by construction. Emits `visit_seq` starting at 0.

    Scale design: a global `row_number()` window would funnel the whole
    frontier into ONE task. Instead: range exchange on the composite
    key (each partition = a contiguous slice of the global order,
    sampled so skewed years don't pile up), sort within partitions,
    then number globally by adding each partition's start offset —
    offsets come from a per-partition count (a few hundred longs on
    the driver), never the data.
    """
    import pandas as pd  # noqa: PLC0415

    keys = ["year", "quarter", "row_seq"]
    n = index_df.sparkSession.sparkContext.defaultParallelism
    ordered = (
        index_df.repartitionByRange(n, *[F.col(k).asc() for k in keys])
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in ordered.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in ordered.schema.fields
    ) + ", visit_seq long"

    def number(batches):
        local = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            start = offsets[pid] + local.get(pid, 0)
            pdf = pdf.copy()
            pdf["visit_seq"] = pd.RangeIndex(start, start + len(pdf)).astype("int64")
            local[pid] = local.get(pid, 0) + len(pdf)
            yield pdf

    return ordered.mapInPandas(number, schema).drop("_pid")


def _murmur3_int32(v: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one int32 block — exactly Spark's `F.hash` /
    HashPartitioning hash for IntegerType (public algorithm: Appleby's
    MurmurHash3, the hashInt path). Signed-int32 result, so Python
    `% n` (non-negative for n > 0) equals Spark's pmod."""
    m = 0xFFFFFFFF
    k1 = (v & m) * 0xCC9E2D51 & m
    k1 = ((k1 << 15) | (k1 >> 17)) & m
    k1 = k1 * 0x1B873593 & m
    h1 = (seed ^ k1) & m
    h1 = ((h1 << 13) | (h1 >> 19)) & m
    h1 = (h1 * 5 + 0xE6546B64) & m
    h1 ^= 4  # total byte length
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & m
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


@lru_cache(maxsize=None)
def partition_slots(n_buckets: int) -> tuple[int, ...]:
    """slots[bucket] = an int whose HashPartitioning hash lands on a
    DISTINCT partition per bucket (slots[b] -> partition b of
    n_buckets).

    `repartition(n_buckets, host_bucket)` does NOT give one bucket per
    partition: Murmur3 of the bucket ids collides (e.g. buckets 0 and
    1 of 2 both land on partition 1), stacking two token buckets
    behind ONE task. Politeness still holds, but the wave loses that
    bucket's whole budget share — a measured 2x wall-time hit in the
    rate-cap test at n_buckets=2, and a balls-in-bins ~e/(e-1)x loss
    at any n_buckets ~ cores. Fix: repartition (and group) on a slot
    VALUE chosen per bucket so the partitioner's own hash spreads
    buckets 1:1. Representatives are found by scanning v = 0, 1, ...
    for each residue (coupon collector, ~n ln n tries) with a pure-
    Python mirror of the partitioner hash — no Spark job needed.
    Every n_buckets in 1..256 and each power of two up to 8192 finds
    all its residues well inside the scan budget; running out of it
    raises."""
    reps: dict[int, int] = {}
    budget = 1000 * n_buckets + 1000
    for v in range(budget):
        t = _murmur3_int32(v) % n_buckets
        if t not in reps:
            reps[t] = v
            if len(reps) == n_buckets:
                return tuple(reps[t] for t in range(n_buckets))
    raise ValueError(f"no partition slot mapping for {n_buckets} buckets")


def bucket_slot_col(host_bucket: Column | str, n_buckets: int) -> Column:
    """`_pslot` expression for `host_bucket`."""
    slots = partition_slots(n_buckets)
    c = F.col(host_bucket) if isinstance(host_bucket, str) else host_bucket
    return F.element_at(F.array(*[F.lit(int(s)) for s in slots]), c + 1)


def bucket_key(df: DataFrame) -> str:
    """The column that places host buckets on partitions and groups
    them for the fetch: assign_waves' collision-free `_pslot` when
    present (1:1 with host_bucket — identical groups, but every bucket
    gets its OWN task, so no bucket's budget share is serialized
    behind another's; see partition_slots), else raw `host_bucket`,
    which keeps hand-built inputs working."""
    return "_pslot" if "_pslot" in df.columns else "host_bucket"


def bucket_partitioned(df: DataFrame, n_buckets: int) -> DataFrame:
    """One host bucket per partition, on `bucket_key`. The fetch groups
    on the same key, so it reuses this exchange."""
    return df.repartition(n_buckets, F.col(bucket_key(df)))


def assign_waves(
    frontier: DataFrame,
    n_buckets: int,
    wave_size: int,
) -> DataFrame:
    """Salt into host buckets, rank by priority within bucket, chop
    into waves of `wave_size`. Adds (host_bucket, bucket_rank, wave).

    The only shuffle is the window's hash exchange on host_bucket —
    the same partitioning the fetch stage needs, so Catalyst reuses it
    (no second exchange before applyInPandas on host_bucket).
    """
    df = frontier.withColumn("host_bucket", host_bucket_col("url", n_buckets))
    if "form_weight" not in df.columns:
        df = df.withColumn("form_weight", form_weight_col())
    # Pin the exchange: frontier rows are tiny, so AQE's byte-based
    # coalescing would fold this shuffle into ~1 partition — but the
    # downstream fetch stage's cost is per-ROW (python + network), not
    # per-byte. An explicit repartition is exempt from AQE coalescing
    # and is reused by both the window and the groupBy/applyInPandas
    # fetch (same clustering key -> no further exchange). Partition
    # and window on _pslot — 1:1 with host_bucket but chosen so the
    # partitioner places every bucket on its OWN partition (see
    # partition_slots); groups are identical either way.
    df = df.withColumn("_pslot", bucket_slot_col("host_bucket", n_buckets))
    df = bucket_partitioned(df, n_buckets)
    w = Window.partitionBy(bucket_key(df)).orderBy(
        F.col("form_weight").desc(),
        F.col("filing_date").desc(),
        F.col("accession").asc(),
    )
    return (
        df.withColumn("bucket_rank", F.row_number().over(w).cast("long") - 1)
        .withColumn("wave", (F.col("bucket_rank") / wave_size).cast("long"))
    )
