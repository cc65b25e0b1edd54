"""Snapshot store: atomic, incremental checkpoints of the crawl state.

The reference's resume mechanism is "whole ledger CSV rewritten to a
tmp file then moved into place after every filing"
(/root/reference/download_filings.py:196-215) plus skip-if-on-disk
checks. Here the same exact-resume guarantee is table snapshots with
an Iceberg-style commit protocol on plain parquet, and a commit writes
only the state that changed (Flink's incremental checkpoints):

  data        <root>/v<k>/<table>/part-*.parquet   (written first)
  segments    <root>/v<k>/<table>/wave=<n>/        (a segmented table)
  manifest    <root>/v<k>/MANIFEST.json            (commit point)

A snapshot is visible iff its MANIFEST.json exists; the manifest is
written via tmp-file + atomic rename, LAST. Readers resolve
`latest()` = max committed version, so a crash mid-write leaves a
dangling uncommitted directory that the next writer removes —
Iceberg's snapshot isolation, and the property the kill/resume tests
exercise. On a real deployment swap this class for Iceberg commits;
callers don't change.

The manifest maps each table to its data directories, row count,
parquet bytes and schema:

  "tables": {"seen": {"dirs": ["v1/seen", "v2/seen", "v3/seen"],
                      "rows": 80, "bytes": 2048, "schema": {...}}}

A table's contents are the union of its directories. Versions are
dense (`begin` claims latest + 1), and every manifest is the complete
crawl state at its version, like a Flink checkpoint over shared
incremental files: a commit starts from its parent's (version - 1)
STATE_TABLES entries and overlays the tables it writes, so any
version, and the latest when none is given, is read from its own
manifest alone. A commit writes a table one of two ways:
  overwrite   the commit's own directory becomes the whole list (a new base)
  append      the commit's directory is added to the parent's list
              (a delta); after MAX_DELTAS deltas the next append
              folds the list into a new base
Per-version outputs (the crawl's pages) are not inherited: a version
lists them only if it wrote them. Row counts come from the parquet
footers and reads take the recorded schema, so neither a commit nor a
read runs a counting or schema-inference job. A table written ahead
of its commit (`write`, `append`) is committed by passing the entry it
returned; `commit` never infers it from the directory.

A segmented table (`write(segmented=True)`) is one directory per
value 0, 1, ... of its integer SEGMENT_COL column, consumed in order
by a cursor: its entry adds the row count of every segment and the
cursor, and a read returns only the segments at or after the cursor.
Moving the cursor is a commit of the same entry with a new cursor; it
writes no data:

  "frontier": {"dirs": ["v1/frontier"], "segments": [2000, 2000, 1500],
               "cursor": 1, ...}

Tables the crawl writes (crawler.py):
  frontier      segmented by wave; written when URLs are admitted
                (seed, requeue_failed, a merge), and each wave commits
                it with the cursor one wave further
  seen          appended each wave (that wave's urls); seed writes
                the empty base and requeue_failed overwrites it (it
                removes urls); a merge inherits it unchanged
  company_info  appended each wave (the wave's new CIKs)
  pages         one per wave: the fetched rows (FETCH_SCHEMA)
A commit holds only state that is new and cannot be derived: the
per-bucket lineage rows are an aggregate over a version's pages,
computed when read (`CrawlJob.metrics()`), not a stored table.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Deltas an appended table may list before the next append folds
# them into one base. Reading more than 32 paths makes Spark list them
# with a distributed job (parallelPartitionDiscovery.threshold); 16
# keeps every read a driver-side listing of a few small files.
MAX_DELTAS = 16

# The integer column a segmented table is split on: the frontier's wave.
SEGMENT_COL = "wave"


def _conf_bytes(spark: SparkSession, key: str) -> int:
    """A byte-size SQL conf ('134217728b', '64m', '1g') in bytes."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", spark.conf.get(key).strip().lower())
    return int(m.group(1)) << 10 * " kmgt".index(m.group(2) or " ")


def split_files(spark: SparkSession, nbytes: int) -> int:
    """Output files for a table of `nbytes` parquet bytes, by Spark's
    own read-split rule (FilePartition.maxSplitBytes): one file per
    min(maxPartitionBytes, max(openCostInBytes, nbytes / default
    parallelism)) bytes. The next read of the table then gets the
    parallelism Spark would give it anyway: one task for a table below
    openCostInBytes, every core for a mid-sized one, 128 MB per task
    for a large one."""
    max_split = min(
        _conf_bytes(spark, "spark.sql.files.maxPartitionBytes"),
        max(
            _conf_bytes(spark, "spark.sql.files.openCostInBytes"),
            nbytes // spark.sparkContext.defaultParallelism,
        ),
    )
    return max(1, -(-nbytes // max_split))


def _writer(df: DataFrame):
    # the manifest is the commit point, so no _SUCCESS marker
    return df.write.mode("overwrite").option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    )


def _write(df: DataFrame, path: str) -> tuple[int, int]:
    """Write `df` as parquet at `path` and return its (rows, bytes)."""
    _writer(df).parquet(path)
    return _parquet_size(path)


def _write_segments(df: DataFrame, path: str) -> list[tuple[int, int]]:
    """Write `df` as one parquet directory per SEGMENT_COL value and
    return each segment's (rows, bytes). Every task writes one file per
    segment it holds, so `df`'s partitioning sets how many tasks write
    a segment."""
    _writer(df).partitionBy(SEGMENT_COL).parquet(path)
    os.makedirs(path, exist_ok=True)  # an empty write creates nothing
    found = {
        int(name.split("=", 1)[1]): _parquet_size(os.path.join(path, name))
        for name in os.listdir(path) if name.startswith(f"{SEGMENT_COL}=")
    }
    return [found.get(n, (0, 0)) for n in range(max(found, default=-1) + 1)]


def _parquet_size(path: str) -> tuple[int, int]:
    """(rows, bytes) of a parquet directory, from the file footers."""
    files = [
        os.path.join(path, name) for name in os.listdir(path)
        if name.endswith(".parquet") and not name.startswith((".", "_"))
    ]
    return (
        sum(pq.read_metadata(f).num_rows for f in files),
        sum(os.path.getsize(f) for f in files),
    )


@dataclass
class SnapshotStore:
    root: str

    # The crawl state every commit inherits from its parent. Superseded
    # copies only serve time travel, so expiry may delete them; the
    # per-wave pages hold data that exists nowhere else and are never
    # expired.
    STATE_TABLES = ("frontier", "seen", "company_info")

    def _vdir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version}")

    def versions(self) -> list[int]:
        """Committed versions only (manifest present)."""
        if not os.path.isdir(self.root):
            return []
        out = []
        for name in os.listdir(self.root):
            if name.startswith("v") and name[1:].isdigit():
                if os.path.exists(os.path.join(self.root, name, "MANIFEST.json")):
                    out.append(int(name[1:]))
        return sorted(out)

    def latest(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def manifest(self, version: int) -> dict:
        with open(os.path.join(self._vdir(version), "MANIFEST.json")) as f:
            manifest = json.load(f)
        if not isinstance(manifest["tables"], dict):
            raise ValueError(
                f"{self._vdir(version)} predates per-table directory lists; "
                "seed a new store"
            )
        return manifest

    def _tables(self, version: int | None) -> dict[str, dict]:
        """The table entries of committed `version`; {} if it has none."""
        if version is None or not os.path.exists(
            os.path.join(self._vdir(version), "MANIFEST.json")
        ):
            return {}
        return self.manifest(version)["tables"]

    def entry(self, table: str, version: int | None = None) -> dict | None:
        """`table`'s manifest entry {dirs, rows, bytes, schema} at
        `version` (the latest when None), or None if that version does
        not list it. A given version is looked up by its own manifest,
        without listing the others."""
        return self._tables(self.latest() if version is None else version).get(table)

    def rows(self, table: str, version: int | None = None) -> int | None:
        """Row count of `table` as committed (no Spark job); for a
        segmented table, the rows at or after the cursor."""
        entry = self.entry(table, version)
        if entry is None:
            return None
        if "cursor" in entry:
            return sum(entry["segments"][entry["cursor"]:])
        return entry["rows"]

    def read(
        self,
        spark: SparkSession,
        table: str,
        version: int | None = None,
        segment: int | None = None,
    ) -> DataFrame | None:
        """`table` at `version` (the latest when None); None if that
        version does not list it or its data was expired. A
        segmented table reads only its segments at or after the
        cursor, or only `segment` when given."""
        entry = self.entry(table, version)
        if entry is None:
            return None
        paths = [os.path.join(self.root, d) for d in entry["dirs"]]
        if not all(os.path.isdir(p) for p in paths):
            return None
        schema = StructType.fromJson(entry["schema"])
        reader = spark.read.schema(schema)
        if "cursor" not in entry:
            return reader.parquet(*paths)
        (base,) = paths
        sizes = entry["segments"]
        wanted = range(entry["cursor"], len(sizes)) if segment is None else [segment]
        seg_paths = [
            os.path.join(base, f"{SEGMENT_COL}={n}") for n in wanted
            if n < len(sizes) and sizes[n]
        ]
        if not seg_paths:
            return spark.createDataFrame([], schema)
        return reader.option("basePath", base).parquet(*seg_paths)

    # -- writing -------------------------------------------------------

    def begin(self) -> int:
        """Claim the next version, latest + 1, so versions stay dense
        and a commit's parent is version - 1: remove any uncommitted
        debris a crash left there and return its number."""
        version = (self.latest() or 0) + 1
        vdir = self._vdir(version)
        if os.path.isdir(vdir):
            shutil.rmtree(vdir)
        os.makedirs(vdir)
        return version

    def write(
        self,
        version: int,
        table: str,
        df: DataFrame,
        segmented: bool = False,
    ) -> tuple[DataFrame, dict]:
        """Write `df` into uncommitted `version` ahead of its commit and
        return (the written table read back, its manifest entry). Pass
        the entry to `commit(written=...)` to commit the table.

        A `segmented` table is written as one directory per SEGMENT_COL
        value (see the module docstring), its entry records every
        segment's row count and a cursor at 0, and the column moves to
        the end of the schema."""
        rel = f"v{version}/{table}"
        path = os.path.join(self.root, rel)
        if not segmented:
            rows, nbytes = _write(df, path)
            entry = {
                "dirs": [rel], "rows": rows, "bytes": nbytes,
                "schema": df.schema.jsonValue(),
            }
            return df.sparkSession.read.schema(df.schema).parquet(path), entry
        schema = StructType(
            [f for f in df.schema if f.name != SEGMENT_COL] + [df.schema[SEGMENT_COL]]
        )
        sizes = _write_segments(df.select(*schema.fieldNames()), path)
        entry = {
            "dirs": [rel],
            "rows": sum(r for r, _ in sizes),
            "bytes": sum(b for _, b in sizes),
            "schema": schema.jsonValue(),
            "segments": [r for r, _ in sizes],
            "cursor": 0,
        }
        return df.sparkSession.read.schema(schema).parquet(path), entry

    def append(self, version: int, table: str, df: DataFrame) -> dict:
        """Write `df` into uncommitted `version` as a delta of `table`
        and return the entry that lists it after the parent version's
        directories. After MAX_DELTAS deltas the delta is instead folded
        with the parent's table into a new base."""
        base = self.entry(table, version - 1)
        if base is not None and len(base["dirs"]) >= MAX_DELTAS:
            spark = df.sparkSession
            df = self.read(spark, table, version - 1).unionByName(df).coalesce(
                split_files(spark, base["bytes"])
            )
            base = None
        rows, nbytes = _write(df, os.path.join(self._vdir(version), table))
        return {
            "dirs": (base["dirs"] if base else []) + [f"v{version}/{table}"],
            "rows": (base["rows"] if base else 0) + rows,
            "bytes": (base["bytes"] if base else 0) + nbytes,
            "schema": df.schema.jsonValue(),
        }

    def commit(
        self,
        tables: dict[str, DataFrame] | None = None,
        summary: dict | None = None,
        version: int | None = None,
        written: dict[str, dict] | None = None,
    ) -> int:
        """Write `tables` into `version` (claimed by `begin`, or the
        next one), overlay them and the `written` entries (returned by
        `write` or `append`, or an earlier entry of a segmented table
        with its cursor moved) on the parent version's STATE_TABLES
        entries, then commit by atomically renaming the manifest into
        place.
        Anything that dies before the rename is invisible to readers."""
        if version is None:
            version = self.begin()
        vdir = self._vdir(version)
        for name, entry in (written or {}).items():
            if not all(os.path.isdir(os.path.join(self.root, d)) for d in entry["dirs"]):
                raise RuntimeError(
                    f"{name} of uncommitted v{version} is gone: another "
                    "writer claimed the version"
                )
        entries = {
            name: entry for name, entry in self._tables(version - 1).items()
            if name in self.STATE_TABLES
        }
        entries.update(written or {})
        for name, df in (tables or {}).items():
            entries[name] = self.write(version, name, df)[1]
        manifest = {
            "version": version,
            "tables": entries,
            "summary": summary or {},
        }
        tmp = os.path.join(vdir, ".MANIFEST.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, os.path.join(vdir, "MANIFEST.json"))
        return version

    # -- maintenance ---------------------------------------------------

    def compact(self) -> int | None:
        """Compaction commit: fold every table of the latest manifest
        that lists several directories into one base (Iceberg's
        rewrite_data_files); the commit inherits the other state
        tables. Returns the version, or None when there was nothing to
        fold.

        Cost: a full read and rewrite of each folded table, sized by
        `split_files` — for seen, the whole URL-seen set (SCALE.md).
        The superseded directories stay on disk until `expire_state`
        finds no kept snapshot listing them."""
        latest = self.latest()
        folded = {
            name: entry for name, entry in self._tables(latest).items()
            if len(entry["dirs"]) > 1
        }
        if not folded:
            return None
        spark = SparkSession.active()
        return self.commit(
            {
                name: self.read(spark, name, latest).coalesce(
                    split_files(spark, entry["bytes"])
                )
                for name, entry in folded.items()
            },
            summary={"stage": "compact"},
        )

    def expire_state(self, keep_last: int = 2) -> list[int]:
        """Iceberg-style snapshot expiry (expire_snapshots with
        retain_last): compact, then delete every STATE_TABLES directory
        that none of the newest `keep_last` snapshots lists.

        Expiry is not deletions only: the compaction commit rewrites
        every appended table that lists several directories (seen in
        full, see `compact`). The snapshot before it still lists the
        old deltas, so with keep_last >= 2 this call deletes none of
        them and seen is stored twice until the next expiry.

        The per-wave pages survive in every version — they are the
        crawl's output log, unioned by `CrawlJob.pages()`.
        Old manifests stay committed (the version history is intact; a
        time-travel read of expired state returns None, mirroring
        Iceberg's expire_snapshots). Resume is untouched: it reads the
        latest manifest, whose directories are all kept.

        Without expiry a crawl stores one frontier copy per admission
        (a wave only moves the cursor); the seen deltas are stored
        once, and compaction keeps their number per read bounded.
        Returns the versions that lost state in this call."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        self.compact()
        versions = self.versions()
        listed = {
            v: {
                d for name, entry in self.manifest(v)["tables"].items()
                if name in self.STATE_TABLES for d in entry["dirs"]
            }
            for v in versions
        }
        live = set().union(*(listed[v] for v in versions[-keep_last:]))
        dead = {
            d for v in versions[:-keep_last] for d in listed[v] - live
            if os.path.isdir(os.path.join(self.root, d))
        }
        for d in dead:
            shutil.rmtree(os.path.join(self.root, d))
        return [v for v in versions[:-keep_last] if listed[v] & dead]


def snapshot_diff(
    spark: SparkSession,
    store: SnapshotStore,
    table: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Changelog between two committed snapshots of `table` — the
    Iceberg `changelog` / CDC read: one row per changed key with
    `_change` in {'insert', 'delete', 'update'}.

    Implemented as a full-outer join ON THE KEYS with an md5 row
    fingerprint comparing the non-key payload — the join carries
    (keys, 16-byte hash), never the payload columns, so diffing two
    10^10-row URL-seen snapshots shuffles keys+hashes only. Keys
    present on one side only are inserts/deletes; both sides with a
    differing fingerprint are updates. Unchanged keys are dropped
    before the result materializes.

    Mirrors the reference's rerun-and-compare idiom (the ledger CSV
    rewritten each run) as an incremental read instead of a full
    rescan.
    """
    old = store.read(spark, table, v_from)
    new = store.read(spark, table, v_to)
    if old is None or new is None:
        raise ValueError(f"table {table!r} missing in v{v_from} or v{v_to}")
    payload = [c for c in new.columns if c not in key_cols]
    if sorted(old.columns) != sorted(new.columns):
        raise ValueError("schema changed between snapshots")

    def fp(df: DataFrame) -> DataFrame:
        # concat_ws SKIPS nulls, which would collide (a, NULL) with
        # (NULL, a) across payload columns — encode null explicitly so
        # a null-ness change is an update
        cells = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00<null>"))
            for c in payload
        ]
        fcol = F.md5(F.concat_ws("\x1f", *cells)) if payload else F.lit("")
        return df.select(*key_cols, fcol.alias("_fp"))

    o = fp(old).alias("o")
    n = fp(new).alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in key_cols]
    joined = o.join(n, cond, "full_outer")
    # side presence must be tested via _fp (non-null whenever the row
    # exists — F.lit("") when there are no payload cols), NOT via a key
    # column: the eqNullSafe join legitimately matches NULL key values,
    # and a NULL-keyed row present in both snapshots would read as
    # 'insert' if classified by key nullness.
    change = (
        F.when(F.col("o._fp").isNull(), F.lit("insert"))
        .when(F.col("n._fp").isNull(), F.lit("delete"))
        .when(F.col("o._fp") != F.col("n._fp"), F.lit("update"))
    )
    keys_out = [
        F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in key_cols
    ]
    return (
        joined.withColumn("_change", change)
        .filter(F.col("_change").isNotNull())
        .select(*keys_out, "_change")
    )
