"""Deterministic synthetic data: EDGAR-style index rows, filing
bodies, and Common-Crawl-style pages.

Everything is seeded — same arguments, same bytes — so tests and the
bench harness never depend on network or external data (the sandbox
rule; at production scale this module is replaced by the real fetch
stage writing into the same pages schema).
"""

from __future__ import annotations

import hashlib
import random
from datetime import datetime, timedelta, timezone

FORM_TYPES = ["8-K", "10-K", "10-Q"]

_WORDS = (
    "company quarter revenue growth segment operations management "
    "agreement credit facility material definitive acquisition "
    "restructuring charges goodwill impairment litigation settlement "
    "officers directors compensation amendment bylaws registrant "
    "securities exchange financial statements exhibits results"
).split()

_8K_ITEMS = ["1.01", "2.02", "5.02", "7.01", "8.01", "9.01"]
_10K_ITEMS = ["1", "1A", "2", "3", "5", "7", "7A", "8", "9A", "15"]


def _rng(seed: int, *keys) -> random.Random:
    h = hashlib.sha256(("|".join(map(str, keys)) + f"|{seed}").encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _sentences(rng: random.Random, n: int) -> str:
    out = []
    for _ in range(n):
        k = rng.randint(6, 14)
        words = [rng.choice(_WORDS) for _ in range(k)]
        words[0] = words[0].capitalize()
        out.append(" ".join(words) + ".")
    return " ".join(out)


def accession_number(seed: int, i: int) -> str:
    rng = _rng(seed, "acc", i)
    return f"{rng.randint(10**9, 10**10-1):010d}-{rng.randint(10,24):02d}-{rng.randint(0,999999):06d}"


def filing_url(cik: str, accession: str) -> str:
    """Canonical complete-text URL (the reference's
    complete_text_file_link form, download_filings.py:443-448)."""
    return f"https://www.sec.gov/Archives/edgar/data/{cik}/{accession}.txt"


def make_filing_body(seed: int, i: int, form_type: str) -> str:
    """One synthetic filing: SGML envelope + HTML body with item
    headers, a ToC, and a numeric colored table (exercising the
    table-removal and ToC-skip paths)."""
    rng = _rng(seed, "body", i, form_type)
    if form_type == "8-K":
        items = sorted(rng.sample(_8K_ITEMS, rng.randint(2, 4)))
        headers = [f"Item {it}" for it in items]
    elif form_type == "10-K":
        items = _10K_ITEMS
        headers = [f"ITEM {it}." for it in items]
    else:
        headers = (
            ["PART I"]
            + [f"Item {n}." for n in (1, 2, 3)]
            + ["PART II"]
            + [f"Item {n}." for n in (1, 6)]
        )

    parts = [
        "<DOCUMENT>",
        f"<TYPE>{form_type}",
        "<SEQUENCE>1",
        f"<FILENAME>f{i}.htm",
        "<TEXT>",
        "<HTML><BODY>",
        "<DIV>UNITED STATES SECURITIES AND EXCHANGE COMMISSION</DIV>",
        # numeric table with non-default background: removed pre-split
        '<TABLE><TR bgcolor="#cceeff"><TD>2024</TD><TD>1,234</TD>'
        "<TD>5,678</TD></TR></TABLE>",
    ]
    for h in headers:
        parts.append(f"<DIV><B>{h}</B> {_sentences(rng, 1)}</DIV>")
        parts.append(f"<P>{_sentences(rng, rng.randint(3, 10))}</P>")
    parts.append("<DIV>SIGNATURE</DIV>")
    parts.append(f"<P>{_sentences(rng, 1)}</P>")
    parts.append("</BODY></HTML>")
    parts.append("</TEXT>")
    parts.append("</DOCUMENT>")
    return "\n".join(parts)


def make_pages(seed: int, n: int) -> list[dict]:
    """n synthetic page rows matching the input_hint schema
    (url, warc_ts, html, text, lang) + the ledger metadata columns the
    extract job needs."""
    t0 = datetime.fromisoformat("2015-01-01").replace(tzinfo=timezone.utc)
    rows = []
    for i in range(n):
        rng = _rng(seed, "page", i)
        form = FORM_TYPES[rng.randrange(3)] if n > 10 else "8-K"
        cik = str(rng.randint(1000, 9999999))
        acc = accession_number(seed, i)
        date = (t0 + timedelta(days=rng.randint(0, 3650))).date().isoformat()
        body = make_filing_body(seed, i, form)
        rows.append(
            {
                "url": filing_url(cik, acc),
                "warc_ts": t0 + timedelta(days=rng.randint(0, 3650), seconds=i % 86400),
                "html": body.encode("utf-8"),
                "text": "",
                "lang": "en",
                "cik": cik,
                "company": f"SYNTH CORP {i}",
                "form_type": form,
                "filing_date": date,
                "accession": acc,
                "filename": f"{cik}_{form.replace('-', '')}_{date[:4]}_{acc}.htm",
            }
        )
    return rows


FRONTIER_SCHEMA = (
    "url string, cik string, company string, form_type string, "
    "filing_date string, accession string"
)


def frontier_df(spark, seed: int, n: int):
    """Frontier-only rows (no filing bodies — cheap at any n); same
    url/metadata derivation as make_pages so the two line up."""
    n_parts = max(1, min(256, n // 2000))
    sc = spark.sparkContext
    t0 = datetime.fromisoformat("2015-01-01").replace(tzinfo=timezone.utc)

    def gen(split):
        lo = split * n // n_parts
        hi = (split + 1) * n // n_parts
        for i in range(lo, hi):
            rng = _rng(seed, "page", i)
            form = FORM_TYPES[rng.randrange(3)] if n > 10 else "8-K"
            cik = str(rng.randint(1000, 9999999))
            acc = accession_number(seed, i)
            date = (t0 + timedelta(days=rng.randint(0, 3650))).date().isoformat()
            yield (filing_url(cik, acc), cik, f"SYNTH CORP {i}", form, date, acc)

    rdd = sc.parallelize(range(n_parts), n_parts).flatMap(gen)
    return spark.createDataFrame(rdd, schema=FRONTIER_SCHEMA)


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "cik string, company string, form_type string, filing_date string, "
    "accession string, filename string"
)


def pages_df(spark, seed: int, n: int):
    """Pages DataFrame; parallelized so generation is distributed too
    (each partition synthesizes its own slice — no driver bottleneck)."""
    n_parts = max(1, min(64, n // 32))
    sc = spark.sparkContext

    def gen(split):
        lo = split * n // n_parts
        hi = (split + 1) * n // n_parts
        t0 = datetime.fromisoformat("2015-01-01").replace(tzinfo=timezone.utc)
        for i in range(lo, hi):
            rng = _rng(seed, "page", i)
            form = FORM_TYPES[rng.randrange(3)] if n > 10 else "8-K"
            cik = str(rng.randint(1000, 9999999))
            acc = accession_number(seed, i)
            date = (t0 + timedelta(days=rng.randint(0, 3650))).date().isoformat()
            body = make_filing_body(seed, i, form)
            yield (
                filing_url(cik, acc),
                t0 + timedelta(days=rng.randint(0, 3650), seconds=i % 86400),
                body.encode("utf-8"),
                "",
                "en",
                cik,
                f"SYNTH CORP {i}",
                form,
                date,
                acc,
                f"{cik}_{form.replace('-', '')}_{date[:4]}_{acc}.htm",
            )

    rdd = sc.parallelize(range(n_parts), n_parts).flatMap(
        lambda s: gen(s)
    )
    return spark.createDataFrame(rdd, schema=PAGES_SCHEMA)
