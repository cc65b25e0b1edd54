"""URL canonicalization — accession normal form + iXBRL rewrite.

The reference normalizes EDGAR links in two places:
- iXBRL rewrite ``/ix?doc=/`` -> ``/`` before download
  (/root/reference/download_filings.py:703-705)
- index-link rewrite ``.txt`` -> ``-index.html`` when synthesizing the
  6th index column (/root/reference/download_filings.py:302-307)

Canonicalization here is the crawl-frontier normal form: two URLs that
fetch the same bytes must map to the same canonical string, because the
URL-seen filter keys on it. Everything is a native Spark expression
(whole-stage codegen, no Python); `canonicalize_url_py` is the pure
mirror used by tests and the single-process oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def canonicalize_url(col: Column | str) -> Column:
    """Canonical form, all JVM-side:

    1. trim + strip fragment (#...)
    2. iXBRL rewrite: ``/ix?doc=/`` -> ``/`` (keeps the document path)
    3. scheme+host lowercased, default ports dropped
    4. accession numbers inside the path normalized to dashed form
    """
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    c = F.regexp_replace(c, r"#.*$", "")
    c = F.regexp_replace(c, r"/ix\?doc=/", "/")
    # split scheme://host[:port]/rest ; lowercase scheme+host
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    rest = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$", 1)
    # default-port strip is scheme-aware: http://h:443/x and
    # http://h/x fetch DIFFERENT bytes and must not collide.
    host = (
        F.when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    # normalize bare 18-digit accessions in the path to dashed form
    rest = F.regexp_replace(
        rest, r"(\d{10})(\d{2})(\d{6})(?=[./]|$)", r"$1-$2-$3"
    )
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.when(scheme == "", c).otherwise(F.concat(scheme, F.lit("://"), host, rest))


def canonicalize_url_py(url: str) -> str:
    """Pure-Python mirror of `canonicalize_url` (oracle/tests)."""
    u = url.strip()
    u = re.sub(r"#.*$", "", u)
    u = re.sub(r"/ix\?doc=/", "/", u)
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)(.*)$", u)
    if not m:
        return u
    scheme, host, rest = m.group(1).lower(), m.group(2).lower(), m.group(3)
    if scheme == "http":
        host = re.sub(r":80$", "", host)
    elif scheme == "https":
        host = re.sub(r":443$", "", host)
    rest = re.sub(r"(\d{10})(\d{2})(\d{6})(?=[./]|$)", r"\1-\2-\3", rest)
    if rest == "":
        rest = "/"
    return f"{scheme}://{host}{rest}"


def host_bucket_col(col: Column | str, n_buckets: int) -> Column:
    """Skew salt: one hot host (sec.gov IS the whole frontier) is
    spread across `n_buckets` partitions by a deterministic crc32 of
    the full URL — NOT Python hash() (salted per process) and NOT the
    host (all one value). The politeness budget is divided across the
    buckets of the same host (politeness.py).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.crc32(c.cast("string")), F.lit(n_buckets)).cast("int")


# public-suffix-lite: the common two-level public suffixes. A full
# crawl ships the Mozilla PSL as a broadcast dim; this bounded regex
# variant keeps the operator codegen-only and oracle-runnable (RE2),
# and the two agree on every host whose suffix is listed here.
_TWO_LEVEL_SUFFIX_RE = (
    r"\.(co|com|net|org|gov|ac|edu)\.(uk|au|jp|br|in|nz|za|il|id|kr)$"
)


def reg_domain_col(host: Column | str) -> Column:
    """Registered domain of a host (crawl-budget / dedup-scope key):
    last two labels, or last three when the host ends in a two-level
    public suffix (foo.co.uk -> foo.co.uk, not co.uk). Ports stripped.
    All JVM regexp — this is a scan-projection expression, never a
    lookup join, so per-domain budgeting adds zero shuffles."""
    h = F.col(host) if isinstance(host, str) else host
    h = F.lower(F.regexp_replace(h, r":\d+$", ""))
    d = F.when(
        h.rlike(_TWO_LEVEL_SUFFIX_RE),
        F.regexp_extract(h, r"([^.]+\.[^.]+\.[^.]+)$", 1),
    ).otherwise(F.regexp_extract(h, r"([^.]+\.[^.]+)$", 1))
    # dotless host (localhost, bare ip label): pass through
    return F.when(d == "", h).otherwise(d)


def reg_domain_py(host: str) -> str:
    """Pure-python mirror of reg_domain_col."""
    h = re.sub(r":\d+$", "", host.lower())
    if re.search(_TWO_LEVEL_SUFFIX_RE, h):
        m = re.search(r"([^.]+\.[^.]+\.[^.]+)$", h)
    else:
        m = re.search(r"([^.]+\.[^.]+)$", h)
    return m.group(1) if m else h
