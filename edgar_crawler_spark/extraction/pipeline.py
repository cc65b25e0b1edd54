"""Per-filing extraction orchestrator (pure function).

extract_filing(raw, metadata, options) -> dict | None reproduces the
reference's extract_items() flow (/root/reference/extract_items.py:
1240-1436): SGML envelope handling, HTML detection, span handling,
numeric-table removal, tag stripping, text cleaning, per-item section
splitting with the monotone position cursor, and the 10-Q part logic.

This function runs unchanged on a laptop (oracle/tests) and inside
Spark Arrow batches (operators/extract_job.py).
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass, field
from typing import Any, Optional

from . import htmlmini
from .items import catalog_for
from .sectionizer import Sectionizer, header_pattern, split_10q_parts
from .special import find_special_items
from .textprep import (
    collapse_lines,
    flatten_html,
    has_nondefault_background,
    is_default_bgcolor,
    normalize_text,
)

_FLAGS_IDM = re.IGNORECASE | re.DOTALL | re.MULTILINE
_WS = r"[^\S\r\n]"


@dataclass
class ExtractionOptions:
    remove_tables: bool = True
    include_signature: bool = False
    items_to_extract: Optional[list[str]] = None  # None -> all
    special_items: dict[str, Any] = field(default_factory=lambda: {"enabled": False})


# ---------------------------------------------------------------------------
# envelope + document selection
# ---------------------------------------------------------------------------

def _select_document(content: str) -> tuple[Any, bool]:
    """Pick the report document from the SGML envelope.

    Returns (doc, is_html) where doc is an htmlmini tree when is_html
    else the raw string. Mirrors extract_items.py:1276-1316: embedded
    PDFs dropped, <TYPE> starting with 10/8 selects the report, LAST
    matching document wins, fallback to the whole content.
    """
    content = re.sub(r"<PDF>.*?</PDF>", "", content, flags=_FLAGS_IDM)
    documents = re.findall("<DOCUMENT>.*?</DOCUMENT>", content, flags=_FLAGS_IDM)

    chosen = content
    for doc in documents:
        type_m = re.search(rf"\n{_WS}*<TYPE>(.*?)\n", doc, flags=_FLAGS_IDM)
        doc_type = type_m.group(1) if type_m else None
        if doc_type is not None and doc_type.startswith(("10", "8")):
            chosen = doc  # no break: the reference keeps the last match

    tree = htmlmini.parse(chosen)
    is_html = htmlmini.looks_like_html(tree)
    return (tree if is_html else chosen), is_html


# ---------------------------------------------------------------------------
# span handling (extract_items.py:469-524)
# ---------------------------------------------------------------------------

_RX_SPAN_H = re.compile(
    r'<span[^>]*style="[^"]*(margin-left|margin-right):\s*[\d.]+pt[^"]*"[^>]*>.*?</span>',
    re.IGNORECASE,
)
_RX_SPAN_V = re.compile(
    r'<span[^>]*style="[^"]*(margin-top|margin-bottom):\s*[\d.]+pt[^"]*"[^>]*>.*?</span>',
    re.IGNORECASE,
)


def _handle_spans(doc: Any, is_html: bool) -> Any:
    if is_html:
        # 1) spans carrying text are formatting-only -> unwrap so
        #    mid-word spans don't split tokens
        for span in doc.find_all("span"):
            if span.has_stripped_text():
                span.unwrap()
        # 2) whatever spans remain carry no text (spacing/margins) ->
        #    a single space. (The reference's margin-direction branch
        #    is an always-true expression — extract_items.py:500-505 —
        #    so every remaining span becomes " "; reproduced as-is.)
        for span in doc.find_all("span"):
            span.replace_with_text(" ")
        return doc
    doc = _RX_SPAN_H.sub(" ", doc)
    doc = _RX_SPAN_V.sub("\n", doc)
    return doc


# ---------------------------------------------------------------------------
# numeric-table removal (extract_items.py:374-467)
# ---------------------------------------------------------------------------

@functools.lru_cache(maxsize=None)  # keys come from the fixed item catalogs
def _table_header_rx(pat: str) -> re.Pattern:
    return re.compile(rf"\n{_WS}*{pat}[.*~\-:\s]", _FLAGS_IDM)


def _remove_tables(doc: Any, is_html: bool, items: list[str]) -> Any:
    if not is_html:
        return re.sub(r"<TABLE>.*?</TABLE>", "", str(doc), flags=_FLAGS_IDM)

    for tbl in doc.find_all("table"):
        tbl_text = normalize_text(tbl.flatten())
        has_item_header = False
        for item_key in items:
            if _table_header_rx(header_pattern(item_key)).search(tbl_text):
                has_item_header = True
                break
        if has_item_header:
            continue  # narrative table (contains item headers): keep

        colored = False
        for cell_tag in ("tr", "td", "th"):
            for cell in tbl.find_all(cell_tag):
                style = cell.attrs.get("style")
                if style is not None and has_nondefault_background(style):
                    colored = True
                    break
            if colored:
                break
        if not colored:
            for cell_tag in ("tr", "td", "th"):
                for cell in tbl.find_all(cell_tag):
                    bg = cell.attrs.get("bgcolor")
                    if bg is not None and not is_default_bgcolor(bg):
                        colored = True
                        break
                if colored:
                    break
        if colored:
            tbl.detach()
    return doc


# ---------------------------------------------------------------------------
# the orchestrator
# ---------------------------------------------------------------------------

METADATA_FIELDS = [
    ("cik", "CIK"),
    ("company", "Company"),
    ("filing_type", "Type"),
    ("filing_date", "Date"),
    ("period_of_report", "Period of Report"),
    ("sic", "SIC"),
    ("state_of_inc", "State of Inc"),
    ("state_location", "State location"),
    ("fiscal_year_end", "Fiscal Year End"),
    ("filing_html_index", "html_index"),
    ("htm_filing_link", "htm_file_link"),
    ("complete_text_filing_link", "complete_text_file_link"),
    ("filename", "filename"),
]


def extract_filing(
    raw: bytes | str,
    metadata: dict[str, Any],
    options: ExtractionOptions | None = None,
) -> Optional[dict[str, Any]]:
    """Extract all item sections from one raw filing.

    raw: file bytes (decoded utf-8/backslashreplace like the
    reference's open(errors='backslashreplace')) or already-decoded
    text. metadata: the 14-column ledger row (string keys as in
    SURVEY.md §1). Returns the flat output dict, or None when no item
    could be extracted.
    """
    options = options or ExtractionOptions()
    if isinstance(raw, bytes):
        content = raw.decode("utf-8", errors="backslashreplace")
    else:
        content = raw

    filing_type = metadata["Type"]
    items = catalog_for(filing_type, metadata.get("Date"))
    wanted = options.items_to_extract
    if wanted:
        overlap = [i for i in wanted if i in items]
        if not overlap:
            raise ValueError(
                f"requested items do not match catalog for {filing_type}"
            )
        wanted = overlap
    else:
        wanted = list(items)

    doc, is_html = _select_document(content)
    doc = _handle_spans(doc, is_html)

    special = []
    if options.special_items.get("enabled", False):
        doc_text_for_special = doc.serialize() if is_html else str(doc)
        special = find_special_items(doc_text_for_special, options.special_items)

    if options.remove_tables:
        doc = _remove_tables(doc, is_html, items)

    out: dict[str, Any] = {
        key: metadata.get(src) for key, src in METADATA_FIELDS
    }
    if options.special_items.get("enabled", False):
        out["special_items"] = special

    text = doc.flatten() if is_html else flatten_html(str(doc))
    text = normalize_text(text)

    part_texts: dict[str, str] = {}
    if filing_type == "10-Q":
        part_texts, _parts = split_10q_parts(items, text)

    sec = Sectionizer(items)
    ends: list[int] = []
    all_empty = True
    for i, item_key in enumerate(items):
        following = items[i + 1 :]

        if "part" in item_key:
            if i != 0 and items[i - 1].split("__")[0] != item_key.split("__")[0]:
                ends = []  # new PART -> fresh cursor
            text = part_texts[item_key.split("__")[0]]
            part_name = item_key.split("__")[0]
            if part_name not in out:
                out[part_name] = collapse_lines(part_texts[part_name])

        if "part" in items[i - 1] and item_key == "SIGNATURE":
            # 10-Q: SIGNATURE was already split off as its own "part"
            section = part_texts[item_key]
        else:
            section, ends = sec.section(text, item_key, following, ends)

        section = collapse_lines(section.strip())

        if item_key in wanted:
            if section != "":
                all_empty = False
            if item_key == "SIGNATURE":
                if options.include_signature:
                    out["SIGNATURE"] = section
            elif "part" in item_key:
                part, sub = item_key.split("__")
                out[f"{part}_item_{sub}"] = section
            else:
                out[f"item_{item_key}"] = section

    if all_empty:
        return None
    return out


def item_sections(result: dict[str, Any]) -> dict[str, str]:
    """The item sections of an `extract_filing` result: its string
    `item_*`, `part_*` and `SIGNATURE` values, in result order. Empty
    sections are kept."""
    return {
        k: v
        for k, v in result.items()
        if (k.startswith(("item_", "part_")) or k == "SIGNATURE")
        and isinstance(v, str)
    }
