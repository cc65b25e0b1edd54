"""WARC (Web ARChive, ISO 28500) record framing — build and parse.

The Common-Crawl container format for the input_hint page table: a
WARC file is a concatenation of records, each

    WARC/1.0\r\n
    <header-name>: <value>\r\n ...        (named headers)
    Content-Length: <n>\r\n
    \r\n                                   (blank line ends headers)
    <n payload bytes>\r\n\r\n              (record separator)

`warc_record_expr` builds records as a Column expression (pure JVM
string concat, codegen-side), and `parse_warc_blobs` splits
multi-record blobs back into rows with an Arrow-batched mapInPandas
UDF — byte-level framing (Content-Length driven slicing, not
delimiter scanning, so payloads may legally contain blank lines).
Reference role: the fetched-page container the crawl sink writes and
the extraction stage re-reads (download_filings.py:747-808 writes raw
filing bodies; here the container is CC-style WARC instead of bare
files).  No shuffle inside the parser: blobs arrive however the
caller partitioned them, and each record parses independently.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PARSED_SCHEMA = (
    "url string, warc_date string, content_length bigint, "
    "payload_md5 string"
)


def warc_record_expr(url: Column, date: Column, payload: Column) -> Column:
    """One WARC response record as a string Column (ASCII payloads:
    char length == octet length, so F.length is the correct
    Content-Length)."""
    return F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nWARC-Date: "),
        date,
        F.lit("\r\nContent-Length: "),
        F.length(payload).cast("string"),
        F.lit("\r\n\r\n"),
        payload,
        F.lit("\r\n\r\n"),
    )


def parse_warc_records(blob: bytes) -> list[tuple[str, str, int, str]]:
    """Split one WARC blob into (url, date, content_length,
    payload_md5) tuples.  Content-Length-driven: the payload is
    sliced by byte count, never scanned for delimiters."""
    out = []
    i, n = 0, len(blob)
    while i < n:
        j = blob.index(b"\r\n\r\n", i)
        headers: dict[str, str] = {}
        head = blob[i:j].decode("utf-8").split("\r\n")
        if head[0] != "WARC/1.0":
            raise ValueError(f"bad WARC version line: {head[0]!r}")
        for line in head[1:]:
            k, _, v = line.partition(": ")
            headers[k] = v
        clen = int(headers["Content-Length"])
        payload = blob[j + 4 : j + 4 + clen]
        if len(payload) != clen:
            raise ValueError("truncated WARC payload")
        out.append(
            (
                headers["WARC-Target-URI"],
                headers["WARC-Date"],
                clen,
                hashlib.md5(payload).hexdigest(),
            )
        )
        i = j + 4 + clen + 4
    return out


def parse_warc_blobs(blobs: DataFrame) -> DataFrame:
    """blobs(warc: binary) → one row per WARC record."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["warc"]:
                rows.extend(parse_warc_records(bytes(blob)))
            out = pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_date", "content_length", "payload_md5",
                ],
            )
            out["content_length"] = out["content_length"].astype("int64")
            yield out

    return blobs.select("warc").mapInPandas(run, PARSED_SCHEMA)
