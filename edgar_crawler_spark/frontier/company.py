"""Company-info dimension: the reference's lazy, growing CIK→info
cache as a snapshot-committed dim table.

Reference (/root/reference/download_filings.py:572-646): while
downloading a filing, if its CIK is not yet in companies_info.json the
crawler fetches https://www.sec.gov/cgi-bin/browse-edgar?CIK=<cik>,
parses the companyInfo div (Company Name / SIC / State location /
State of Inc / Fiscal Year End) and UPSERTS the entry into the JSON
cache — grow-only: a CIK already present is never refetched — then
fills missing metadata fields from the cache.

Spark-first model:
- the cache is a `company_info` dim table committed into the same
  SnapshotStore as frontier/seen (Iceberg-snapshot semantics, so it
  survives kill/resume exactly like the rest of the crawl state);
- per wave, `new_ciks = wave CIKs LEFT ANTI dim` (the "not in dict"
  check as a set operation, not a per-row lookup), only those are
  fetched+parsed — an Arrow-batched mapInPandas stage mirroring the
  reference's requests+parse stage — and the MERGE appends just the
  new rows to the dim as a snapshot delta (insert-if-absent; existing
  rows are never rewritten, which the `fetched_at_version` lineage
  column proves);
- enrichment fills missing fact fields from the dim via a broadcast
  left join + coalesce (download_filings.py:648-656).

Scale: the dim is tiny relative to the fact (#companies ≪ #filings)
— the anti-join broadcasts the dim's cik column, the fetch touches
only NEW ciks (zero per wave at steady state), and the merge writes
only those. No fact-table shuffle anywhere.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMPANY_INFO_SCHEMA = (
    "cik string, company_name string, sic string, state_location string, "
    "state_of_inc string, fiscal_year_end string, fetched_at_version int"
)

_STATES = ["CA", "NY", "TX", "DE", "WA", "IL", "MA", "NJ", "FL", "OH"]


def _h(cik: str, field: str) -> int:
    d = hashlib.blake2b(f"ci|{field}|{cik}".encode(), digest_size=8).digest()
    return int.from_bytes(d, "big")


def make_company_info_html(cik: str) -> str:
    """Deterministic fake of the EDGAR browse-edgar company page —
    same shape the reference parses (companyInfo div, identInfo p)."""
    sic = 1000 + _h(cik, "sic") % 9000
    loc = _STATES[_h(cik, "loc") % len(_STATES)]
    inc = _STATES[_h(cik, "inc") % len(_STATES)]
    fye = f"{1 + _h(cik, 'fm') % 12:02d}{1 + _h(cik, 'fd') % 28:02d}"
    return (
        '<html><body><div class="companyInfo">'
        f'<span class="companyName">COMPANY {cik} CORP</span>'
        '<p class="identInfo">'
        f'<a href="?action=getcompany&amp;SIC={sic}">{sic}</a> - '
        f'<a href="?action=getcompany&amp;State={loc}">{loc}</a> | '
        f"State of Inc.: <strong>{inc}</strong> | "
        f"Fiscal Year End: {fye}"
        "</p></div></body></html>"
    )


def parse_company_info_html(html: str) -> dict:
    """Field extraction mirroring the reference's parse
    (download_filings.py:620-642): companyName span text, SIC= and
    State= link texts, the element after 'State of Inc', and the last
    token of the 'Fiscal Year End' content."""
    out = {
        "company_name": None,
        "sic": None,
        "state_location": None,
        "state_of_inc": None,
        "fiscal_year_end": None,
    }
    m = re.search(r'class="companyName">([^<]*)<', html)
    if m:
        out["company_name"] = m.group(1).strip()
    m = re.search(r"SIC=\d+[^>]*>([^<]*)<", html)
    if m:
        out["sic"] = m.group(1).strip()
    m = re.search(r'State=[A-Z]{2}[^>]*>([^<]*)<', html)
    if m:
        out["state_location"] = m.group(1).strip()
    m = re.search(r"State of Inc\.?:?\s*<strong>([^<]*)</strong>", html)
    if m:
        out["state_of_inc"] = m.group(1).strip()
    m = re.search(r"Fiscal Year End:\s*(\S+?)\s*<", html)
    if m:
        out["fiscal_year_end"] = m.group(1).strip()
    return out


class CompanyInfoTransport:
    """Deterministic fake network for the company page (same url →
    same bytes), the browse-edgar analog of fetch.SimulatedTransport."""

    def get(self, cik: str) -> str:
        return make_company_info_html(cik)


def fetch_company_info(
    ciks: DataFrame,
    version: int,
    transport_factory=None,
) -> DataFrame:
    """Fetch+parse company info for a DataFrame of (cik) rows — one
    Arrow-batched python stage, 1 row in → 1 row out."""
    tf = transport_factory or CompanyInfoTransport

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = tf()
        for pdf in batches:
            rows = []
            for cik in pdf["cik"]:
                info = parse_company_info_html(transport.get(cik))
                rows.append(
                    {
                        "cik": cik,
                        **info,
                        "fetched_at_version": version,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "cik", "company_name", "sic", "state_location",
                    "state_of_inc", "fiscal_year_end", "fetched_at_version",
                ],
            )

    return ciks.select("cik").distinct().mapInPandas(run, COMPANY_INFO_SCHEMA)


def merge_company_info(
    dim: DataFrame | None,
    wave_ciks: DataFrame,
    version: int,
    transport_factory=None,
) -> DataFrame:
    """Grow-only upsert: fetch info only for ciks NOT already in the
    dim (the reference's `if cik not in company_info_dict`) and return
    just those new rows — the caller appends them, so existing rows are
    never rewritten."""
    new_ciks = wave_ciks.select("cik").distinct()
    if dim is not None:
        new_ciks = new_ciks.join(
            F.broadcast(dim.select("cik")), on="cik", how="left_anti"
        )
    return fetch_company_info(new_ciks, version, transport_factory)


def enrich_pages(pages: DataFrame, dim: DataFrame) -> DataFrame:
    """Fill missing fact fields from the dim (download_filings.py:
    648-656): broadcast left join + coalesce, fact side untouched."""
    d = F.broadcast(
        dim.select(
            F.col("cik").alias("_cik"),
            "company_name", "sic", "state_location",
            "state_of_inc", "fiscal_year_end",
        )
    )
    return (
        pages.join(d, pages["cik"] == d["_cik"], "left")
        .withColumn(
            "company", F.coalesce(F.col("company"), F.col("company_name"))
        )
        .drop("_cik", "company_name")
    )
