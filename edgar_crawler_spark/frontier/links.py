"""Outlink extraction + RFC-lite reference resolution — the DISCOVERY
step of a generic web crawl over Common-Crawl-style (url, html) rows.

The reference discovers URLs by walking EDGAR index files
(/root/reference/download_filings.py:226-328 — covered by
sources/edgar_index.py); a general frontier additionally grows by
extracting <a href> targets from fetched pages and resolving them
against the page URL. This module is that step, built to this repo's
rules:

- **All JVM-side**: href extraction is one `regexp_extract_all` and
  resolution is a CASE over `regexp_extract`/`regexp_replace` — whole
  -stage codegen in the scan projection, no Python in the hot path.
- **RE2-compatible regexes** (no lookahead/backreferences) so DuckDB
  can run the byte-identical logic as the correctness oracle.
- **Bounded relative resolution**: `.`/`..` dot-segments collapse via
  fixed regex passes (`_DOT_PASSES` = 4 levels of `..` nesting —
  deeper chains stay unnormalized, identically on both engines).
  The supported envelope vs `urllib.parse.urljoin` is pinned by
  hypothesis in tests/test_links.py.

Scale: at 100 TB of pages this is a pure scan-projection stage — the
page body is read once, the exploded edge stream carries only
(base, dst) strings, and the downstream frontier join keys on the
canonical dst (see queries.py:frontier_expand). Skew lives on dst
hosts, which the frontier salts (frontier/priority.py).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .canon import canonicalize_url

# group 1 = the quoted href value. RE2-safe: no lookaround, non-greedy
# attribute skip; unquoted hrefs are out of envelope (identically on
# both engines). `(?:[^>]*?\s)?` forces any skipped attributes to END
# at whitespace, so attribute names merely ENDING in "href"
# (data-href, xlink:href) can never match — without it the real href
# on the same tag was dropped in favor of the data-href value.
HREF_RE = "(?i)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*[\"']([^\"']*)[\"']"

# schemes a frontier never fetches
_DROP_SCHEME_RE = "(?i)^(javascript|mailto|data|tel|about):"
_ABS_RE = "^[A-Za-z][A-Za-z0-9+.-]*://"

_DOT_PASSES = 4

# a path segment that is NOT '.' or '..' (lookahead-free, RE2-safe):
# starts with a non-dot, or '.'+non-dot, or '..'+anything — only such
# segments may be popped by a following '..' (a '..' must never pop
# another '..', e.g. '/a/../a/../../a' -> '/a').
_POPPABLE_SEG = r"(?:[^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)"


def extract_hrefs(html: Column | str) -> Column:
    """array<string> of raw href attribute values in document order."""
    c = F.col(html) if isinstance(html, str) else html
    return F.regexp_extract_all(c.cast("string"), F.lit(HREF_RE), F.lit(1))


# group 1 = href, group 2 = anchor text (flat inner text envelope —
# nested markup inside <a> is out of envelope, identically on both
# engines)
ANCHOR_RE = (
    "(?i)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*[\"']([^\"']*)[\"'][^>]*>([^<]*)</a"
)


def extract_anchors(html: Column | str) -> Column:
    """array<struct<href,anchor>> in document order: each link target
    paired with its anchor text — the link-context signal a training
    pipeline keeps (anchor corpora, title mining) and a ranker feeds
    (BM25F anchor field). Two regexp_extract_all passes over the same
    pattern zip JVM-side; no Python."""
    c = F.col(html) if isinstance(html, str) else html
    s = c.cast("string")
    hrefs = F.regexp_extract_all(s, F.lit(ANCHOR_RE), F.lit(1))
    texts = F.regexp_extract_all(s, F.lit(ANCHOR_RE), F.lit(2))
    return F.zip_with(
        hrefs,
        texts,
        lambda h, t: F.struct(h.alias("href"), t.alias("anchor")),
    )


def extract_anchors_py(html: str) -> list[tuple[str, str]]:
    return re.findall(ANCHOR_RE, html)


# sitemap.xml / sitemap-index <loc> entries; whitespace-tolerant,
# case-insensitive, RE2-safe
SITEMAP_LOC_RE = "(?is)<loc>\\s*([^<]*?)\\s*</loc>"


def extract_sitemap_locs(xml: Column | str) -> Column:
    """array<string> of <loc> URLs from a sitemap/sitemap-index body —
    the second discovery channel next to outlinks (robots.txt points
    at sitemaps; sitemaps enumerate canonical URLs). Same codegen-only
    contract as extract_hrefs."""
    c = F.col(xml) if isinstance(xml, str) else xml
    return F.regexp_extract_all(
        c.cast("string"), F.lit(SITEMAP_LOC_RE), F.lit(1)
    )


def extract_sitemap_locs_py(xml: str) -> list[str]:
    return re.findall(SITEMAP_LOC_RE, xml)


def _normalize_path(path: Column) -> Column:
    """Bounded dot-segment removal (RFC 3986 §5.2.4 envelope):
    `/./` segments out, then up to _DOT_PASSES levels of `/x/../`
    collapse, then leading `/../` chains clamp to root."""
    p = path
    for _ in range(_DOT_PASSES):
        p = F.regexp_replace(p, r"/\./", "/")
    p = F.regexp_replace(p, r"/\.$", "/")
    for _ in range(_DOT_PASSES):
        p = F.regexp_replace(p, "/" + _POPPABLE_SEG + r"/\.\./", "/")
        p = F.regexp_replace(p, "/" + _POPPABLE_SEG + r"/\.\.$", "/")
    return F.regexp_replace(p, r"^(/\.\.)+(/|$)", "/")


def _split_norm_concat(s: Column) -> Column:
    """Normalize only the path part of `s` (dot segments never hide
    inside a query string)."""
    path = F.regexp_extract(s, r"^([^?#]*)", 1)
    rest = F.regexp_replace(s, r"^[^?#]*", "")
    return F.concat(_normalize_path(path), rest)


# scheme://authority or //authority — the prefix dot-segment removal
# must never touch (RFC 3986 §5.2.4 operates on the PATH only; letting
# a leading '..' pop the hostname rewrote https://h/../a to https://a)
_AUTH_PREFIX_RE = r"^((?:[A-Za-z][A-Za-z0-9+.-]*:)?//[^/?#]*)"


def _split_norm_concat_auth(s: Column) -> Column:
    """Like _split_norm_concat for URLs that CARRY an authority:
    split off scheme://host (or //host) first, normalize only what
    follows, so '..' clamps at the path root instead of eating the
    hostname."""
    auth = F.regexp_extract(s, _AUTH_PREFIX_RE, 1)
    rest = F.regexp_replace(s, _AUTH_PREFIX_RE, "")
    return F.concat(auth, _split_norm_concat(rest))


def resolve_link(base: Column | str, link: Column | str) -> Column:
    """Resolve one raw href against the page URL; NULL for links a
    frontier drops (empty, fragment-only, non-fetchable schemes)."""
    b = F.col(base) if isinstance(base, str) else base
    raw = F.col(link) if isinstance(link, str) else link
    l_ = F.trim(raw)

    scheme = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    origin = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)", 1)
    base_path = F.regexp_extract(
        b, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1
    )
    base_path = F.when(base_path == "", F.lit("/")).otherwise(base_path)
    # directory of the base: everything up to and incl. the last '/'
    base_dir = F.regexp_replace(base_path, r"[^/]*$", "")

    return (
        F.when((l_ == "") | l_.startswith("#"), F.lit(None).cast("string"))
        .when(l_.rlike(_DROP_SCHEME_RE), F.lit(None).cast("string"))
        .when(l_.rlike(_ABS_RE), _split_norm_concat_auth(l_))
        .when(l_.startswith("//"), F.concat(scheme, F.lit(":"), _split_norm_concat_auth(l_)))
        .when(l_.startswith("/"), F.concat(origin, _split_norm_concat(l_)))
        .when(l_.startswith("?"), F.concat(origin, base_path, l_))
        .otherwise(F.concat(origin, _split_norm_concat(F.concat(base_dir, l_))))
    )


def outlink_edges(pages: DataFrame) -> DataFrame:
    """(base, dst) canonical outlink edges. explode_outer + isNotNull
    (not a bare explode) so Catalyst does not synthesize a
    size(arr)>0 filter that re-evaluates the extraction at the scan
    (PLANS.md explode note)."""
    hrefs = extract_hrefs(F.col("html"))
    return (
        pages.select(
            F.col("url").alias("base"),
            F.explode_outer(hrefs).alias("href"),
        )
        .withColumn("dst_raw", resolve_link(F.col("base"), F.col("href")))
        .filter(F.col("dst_raw").isNotNull())
        .select("base", canonicalize_url("dst_raw").alias("dst"))
    )


# ---------------------------------------------------------------------------
# Pure-python mirror (tests / single-process oracle)
# ---------------------------------------------------------------------------


def _normalize_path_py(path: str) -> str:
    p = path
    for _ in range(_DOT_PASSES):
        p = re.sub(r"/\./", "/", p)
    p = re.sub(r"/\.$", "/", p)
    for _ in range(_DOT_PASSES):
        p = re.sub("/" + _POPPABLE_SEG + r"/\.\./", "/", p)
        p = re.sub("/" + _POPPABLE_SEG + r"/\.\.$", "/", p)
    return re.sub(r"^(/\.\.)+(/|$)", "/", p)


def _split_norm_concat_py(s: str) -> str:
    m = re.match(r"^([^?#]*)", s)
    path = m.group(1)
    return _normalize_path_py(path) + s[len(path):]


def _split_norm_concat_auth_py(s: str) -> str:
    m = re.match(_AUTH_PREFIX_RE, s)
    auth = m.group(1) if m else ""
    return auth + _split_norm_concat_py(s[len(auth):])


def resolve_link_py(base: str, link: str) -> str | None:
    """Mirror of resolve_link (same regex passes, same envelope)."""
    l_ = link.strip()
    if l_ == "" or l_.startswith("#"):
        return None
    if re.match(_DROP_SCHEME_RE, l_):
        return None
    if re.match(_ABS_RE, l_):
        return _split_norm_concat_auth_py(l_)
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", base)
    scheme = m.group(1) if m else ""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)", base)
    origin = m.group(1) if m else ""
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", base)
    base_path = (m.group(1) if m else "") or "/"
    base_dir = re.sub(r"[^/]*$", "", base_path)
    if l_.startswith("//"):
        return scheme + ":" + _split_norm_concat_auth_py(l_)
    if l_.startswith("/"):
        return origin + _split_norm_concat_py(l_)
    if l_.startswith("?"):
        return origin + base_path + l_
    return origin + _split_norm_concat_py(base_dir + l_)


def extract_hrefs_py(html: str) -> list[str]:
    return re.findall(HREF_RE, html)
