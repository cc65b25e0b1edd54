"""ExtractItems as a vectorized Spark stage.

The reference runs one Python process over a metadata CSV
(/root/reference/extract_items.py:1566-1576, ProcessPool(processes=1),
~1.5-2.3 filings/s). Here the same pure extraction library runs inside
``mapInPandas``: Arrow ships each partition's page rows to a worker in
columnar batches, the worker loops filings (inherently sequential per
filing, embarrassingly parallel across filings), and emits one result
row per filing. Without ``partitions=`` there is no shuffle:
extraction is map-side, one Python task per scan split, and the only
wide operations downstream are whatever aggregations the caller adds.
``partitions=n`` adds a url-hash ``repartition(n)`` in front of the
UDF: one extra stage whose shuffle carries every page body (1.8 MB for
960 synthetic pages), traded for balanced tasks when the scan's splits
are skewed. What that costs is the extra Python tasks, not the bytes
shuffled. No-op ``mapInPandas`` jobs over those 960 pages at 4 cores
(median of 7 each, with the frozen daemon heap of ``pydaemon.py``):
the scan's own 4 tasks 0.11 s, ``repartition(4)`` 0.19 s,
``repartition(16)`` 0.28 s, and ``repartition(16)`` without the
``html`` column no cheaper at 0.36 s; ``spark.range`` with 16 tasks
took 0.27 s and with 4 tasks 0.11 s. The full job with n=16 took
0.96 s against 0.99 s without it.

Scale notes (100 TB / 10^10 pages):
- partition sizing is driven by page bytes, not rows: keep
  ``spark.sql.files.maxPartitionBytes`` at 128-256 MB so one task holds
  ~1-2k filings; Arrow batch memory is bounded with
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (256 is a good
  ceiling for ~100 KB docs).
- the UDF is a pure function of its input row -> safe under task
  retries / speculative execution (idempotent).
- ``sys.setrecursionlimit`` is raised inside the worker (deep HTML
  trees), mirroring the reference's extract_items.py:22.
"""

from __future__ import annotations

import json
import sys
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extraction import ExtractionOptions, extract_filing, item_sections

RESULT_SCHEMA = (
    "url string, filename string, cik string, form_type string, "
    "filing_date string, n_items int, items map<string,string>, "
    "payload_json string"
)

_META_KEYS = [
    ("CIK", "cik"),
    ("Company", "company"),
    ("Type", "form_type"),
    ("Date", "filing_date"),
    ("filename", "filename"),
]


def _row_metadata(row: Any) -> dict[str, Any]:
    md = {ref_key: getattr(row, col, None) for ref_key, col in _META_KEYS}
    # ledger columns the synthetic pages don't carry stay None (the
    # reference emits them as nulls the same way)
    for k in (
        "Period of Report", "SIC", "State of Inc", "State location",
        "Fiscal Year End", "html_index", "htm_file_link",
        "complete_text_file_link",
    ):
        md.setdefault(k, None)
    return md


def make_extractor():
    """Build the mapInPandas function (a closure over the reference's
    default options — small, pickled once per task, not per row)."""
    options = ExtractionOptions()

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sys.setrecursionlimit(30000)
        for pdf in batches:
            out: dict[str, list] = {
                "url": [], "filename": [], "cik": [], "form_type": [],
                "filing_date": [], "n_items": [], "items": [],
                "payload_json": [],
            }
            for row in pdf.itertuples(index=False):
                md = _row_metadata(row)
                try:
                    result = extract_filing(row.html, md, options)
                except Exception:  # noqa: BLE001 - quarantine bad rows
                    result = None
                items = {}
                payload = None
                if result is not None:
                    items = item_sections(result)
                    # byte-identical rendering of the reference's JSON
                    # sink (extract_items.py:1498: indent=4, no ascii
                    # escaping)
                    payload = json.dumps(result, indent=4, ensure_ascii=False)
                out["url"].append(row.url)
                out["filename"].append(md.get("filename"))
                out["cik"].append(md.get("CIK"))
                out["form_type"].append(md.get("Type"))
                out["filing_date"].append(md.get("Date"))
                out["n_items"].append(sum(1 for v in items.values() if v))
                out["items"].append(items)
                out["payload_json"].append(payload)
            yield pd.DataFrame(out)

    return extract_batches


def extract_items_job(
    pages: DataFrame,
    partitions: int | None = None,
) -> DataFrame:
    """pages (url, html, cik, company, form_type, filing_date,
    filename, ...) -> one row per filing with the extracted item map
    and the byte-identical JSON payload."""
    if partitions:
        # balance by url hash when upstream partitioning is skewed
        # (e.g. pages clustered by crawl order/host)
        pages = pages.repartition(partitions, F.col("url"))
    return pages.mapInPandas(make_extractor(), schema=RESULT_SCHEMA)
