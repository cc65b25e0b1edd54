"""Item/section boundary detection on cleaned filing text.

Semantics mirror the reference's parse/choose logic
(/root/reference/extract_items.py:526-902, 1158-1238): for each item,
collect candidate spans "header X ... up to header Y", prefer
case-sensitive header hits, pick the longest candidate that starts at
or after the end of the previously accepted section (this is what
skips Table-of-Contents hits), and fall back to tail-of-document for
the last item / SIGNATURE.

Pure Python `re` on purpose: these patterns rely on CPython regex
semantics ([^\\S\\r\\n], inline alternation) and must produce output
identical to a single-process oracle — never rewrite into Spark's
Java-regex expressions.

Header index. A `Sectionizer` lives for one filing and records, per
(text, header pattern), every offset where `_start_rx(pat)` matches,
overlapping matches included (each `search` resumes one character
after the previous hit's start). Two scans are skipped on that index
without changing any result:

- a span "header X ... header Y" scanned from offset o has group 1 =
  `_start_rx(Y)` at an offset > o (the span consumes at least the
  newline, X, one class character and one more character first), and
  a case-sensitive match is also a case-insensitive one; so when no
  hit of Y lies after o, neither span scan can match;
- a tail hit matches `\\n{ws}*X[.\\-:\\s]`, and that class is a subset
  of `_start_rx`'s `[.*~\\-:\\s\\(]`, so every tail hit is a header
  hit; with no header hit at or after the cursor, the tail is "".

The index must hold overlapping hits: `finditer`'s non-overlapping
hits miss a Y header that starts inside an earlier Y match (e.g.
"\\nITEM 2.01\\nITEM 2.01 x").
"""

from __future__ import annotations

import functools
import re
from typing import Optional

from .items import ROMAN

_FLAGS_ID = re.IGNORECASE | re.DOTALL
_FLAGS_IDM = re.IGNORECASE | re.DOTALL | re.MULTILINE
_WS = r"[^\S\r\n]"


@functools.lru_cache(maxsize=None)  # keys come from the fixed item catalogs
def header_pattern(item_key: str) -> str:
    """Regex for an item/part header (adjust_item_patterns,
    extract_items.py:526-586).

    item_key forms: "7", "7A", "9.01", "SIGNATURE", "part_1",
    "part_2__1A".
    """
    if "part" in item_key:
        if "__" not in item_key:
            num = item_key.split("_")[1]
            return rf"PART\s*(?:{ROMAN[num]}|{num})"
        item_key = item_key.split("__")[1]

    pattern_core = item_key
    if item_key == "9A":
        pattern_core = pattern_core.replace("A", rf"{_WS}*A(?:\(T\))?")
    elif item_key == "SIGNATURE":
        pass
    elif "A" in item_key:
        pattern_core = pattern_core.replace("A", rf"{_WS}*A")
    elif "B" in item_key:
        pattern_core = pattern_core.replace("B", rf"{_WS}*B")
    elif "C" in item_key:
        pattern_core = pattern_core.replace("C", rf"{_WS}*C")

    if item_key == "SIGNATURE":
        return rf"{item_key}(s|\(s\))?"

    if "." in item_key:
        item_key = item_key.replace(".", r"\.")
        pattern_core = item_key
    if item_key in ROMAN:
        pattern_core = f"(?:{ROMAN[item_key]}|{item_key})"
    return rf"ITEMS?\s*{pattern_core}"


# Compiled once per header pattern (pair): `re`'s own cache holds 512
# entries, fewer than the 8-K catalog's (item, following item) pairs.
@functools.lru_cache(maxsize=None)
def _start_rx(pat: str) -> re.Pattern:
    return re.compile(rf"\n{_WS}*{pat}[.*~\-:\s\(]", _FLAGS_ID)


@functools.lru_cache(maxsize=None)
def _span_rx(pat: str, nxt_pat: str, flags: int) -> re.Pattern:
    return re.compile(
        rf"\n{_WS}*{pat}[.*~\-:\s\()].+?(\n{_WS}*{nxt_pat}[.*~\-:\s\(])", flags
    )


@functools.lru_cache(maxsize=None)
def _tail_rx(pat: str) -> re.Pattern:
    return re.compile(rf"\n{_WS}*{pat}[.\-:\s].+?", _FLAGS_IDM)


class Sectionizer:
    """Stateful per-filing section extractor.

    items: the full ordered catalog for the filing type (the
    "known universe" used for tail-fallback decisions).
    """

    def __init__(self, items: list[str]) -> None:
        self.items = list(items)
        self._hits: dict[tuple[str, str], list[int]] = {}

    def _header_hits(self, text: str, pat: str) -> list[int]:
        """Every start offset of `_start_rx(pat)` in text, overlapping
        matches included, ascending; computed once per (text, pat)."""
        key = (pat, text)
        hits = self._hits.get(key)
        if hits is None:
            rx = _start_rx(pat)
            hits = []
            m = rx.search(text)
            while m:
                hits.append(m.start())
                m = rx.search(text, m.start() + 1)
            self._hits[key] = hits
        return hits

    # -- candidate collection (parse_item, extract_items.py:588-715) --
    def section(
        self,
        text: str,
        item_key: str,
        following: list[str],
        ends: list[int],
        skip_first: int = 0,
    ) -> tuple[str, list[int]]:
        """Extract the section for item_key given the items that may
        follow it; `ends` carries the end offsets of previously
        accepted sections (monotone cursor). Returns (section, ends).
        """
        pat = header_pattern(item_key)
        part_scope: Optional[str] = None
        if "part" in item_key and "PART" not in pat:
            part_scope = item_key.split("__")[0]

        candidates: list[tuple[int, list[re.Match]]] = []
        lone_match: Optional[re.Match] = None
        starts: Optional[list[re.Match]] = None  # header hits, scanned once
        is_last = True
        for nxt in following:
            is_last = False
            if candidates:
                break
            if nxt == following[-1]:
                is_last = True

            nxt_pat = header_pattern(nxt)
            if "part" in nxt and "PART" not in nxt_pat:
                if nxt.split("__")[0] != part_scope:
                    # next item lives in a later PART: current item runs
                    # to the end of this part's text
                    is_last = True
                    break

            if starts is None:
                starts = list(_start_rx(pat).finditer(text))
            nxt_hits = self._header_hits(text, nxt_pat)
            for i, m in enumerate(starts):
                if i < skip_first:
                    continue
                offset = m.start()
                found = []
                if nxt_hits and nxt_hits[-1] > offset:
                    # case-sensitive first: true headers are usually
                    # uppercase, body mentions are not
                    found = list(
                        _span_rx(pat, nxt_pat, re.DOTALL).finditer(text[offset:])
                    )
                    if not found:
                        found = list(
                            _span_rx(pat, nxt_pat, _FLAGS_ID).finditer(text[offset:])
                        )
                if found:
                    candidates.append((offset, found))
                elif nxt == following[-1] and not candidates and m:
                    lone_match = m

        section, ends = self._choose(candidates, text, ends)

        if ends:
            if item_key in self.items and section == "":
                section = self.tail_section(item_key, text, ends)
            if item_key == "SIGNATURE":
                section = self.tail_section(item_key, text, ends)
        elif lone_match or is_last:
            if item_key in self.items:
                section = self.tail_section(item_key, text, ends)
        return section, ends

    # -- candidate choice (get_item_section, extract_items.py:717-778) --
    @staticmethod
    def _choose(
        candidates: list[tuple[int, list[re.Match]]],
        text: str,
        ends: list[int],
    ) -> tuple[str, list[int]]:
        best: Optional[re.Match] = None
        best_offset = 0
        best_len = 0
        for offset, matches in candidates:
            for m in matches:
                mlen = m.end() - m.start()
                if ends:
                    if mlen > best_len and offset + m.start() >= ends[-1]:
                        best, best_offset, best_len = m, offset, mlen
                elif mlen > best_len:
                    best, best_offset, best_len = m, offset, mlen

        section = ""
        if best:
            if not ends or best_offset + best.start() >= ends[-1]:
                section = text[
                    best_offset + best.start() : best_offset + best.regs[1][0]
                ]
            ends.append(best_offset + best.end() - len(best[1]) - 1)
        return section, ends

    # -- tail fallback (get_last_item_section, extract_items.py:780-824) --
    def tail_section(self, item_key: str, text: str, ends: list[int]) -> str:
        pat = header_pattern(item_key)
        header_hits = self._header_hits(text, pat)
        if not header_hits or (ends and header_hits[-1] < ends[-1]):
            return ""
        hits = list(_tail_rx(pat).finditer(text))
        for hit in hits:
            if "SIGNATURE" in item_key and hit is not hits[-1]:
                # SIGNATURE also shows up in the ToC; take the last hit
                continue
            if ends:
                if hit.start() >= ends[-1]:
                    return text[hit.start():].strip()
            else:
                return text[hit.start():].strip()
        return ""


# ---------------------------------------------------------------------------
# 10-Q part splitting (get_10q_parts + helpers,
# extract_items.py:826-902, 1158-1238)
# ---------------------------------------------------------------------------

def split_10q_parts(
    items_10q: list[str], text: str
) -> tuple[dict[str, str], list[str]]:
    """Split a 10-Q's cleaned text into part_1/part_2 texts.

    Returns ({part -> text}, ordered part keys). Applies the
    reference's repair heuristics: missing PART I -> everything before
    PART II; large gap between parts -> widen PART I; PART II much
    longer than PART I -> retry skipping ToC matches.
    """
    parts: list[str] = []
    for item in items_10q:
        p = item.split("__")[0]
        if p not in parts:
            parts.append(p)

    sec = Sectionizer(parts)  # one header index for every run

    def run(skip_first: int) -> tuple[dict[str, str], list[int]]:
        texts: dict[str, str] = {}
        ends: list[int] = []
        for i, p in enumerate(parts):
            section, ends = sec.section(text, p, parts[i + 1:], ends, skip_first)
            texts[p] = section
        return texts, ends

    def repair(texts: dict[str, str], ends: list[int]) -> dict[str, str]:
        if not ends or not texts:
            return texts
        if not texts["part_1"] and ends:
            texts["part_1"] = text[: ends[0] - len(texts["part_2"])]
        elif len(ends) > 1:
            gap = ends[1] - len(texts["part_2"]) - ends[0]
            if gap > 200:
                texts["part_1"] = text[
                    ends[0] - len(texts["part_1"]) : ends[1] - len(texts["part_2"])
                ]
        return texts

    texts, ends = run(0)
    texts = repair(texts, ends)

    skip = 1
    diff = len(texts["part_2"]) - len(texts["part_1"])
    while diff > 5000:
        texts, ends = run(skip)
        texts["part_1"] = ""
        texts = repair(texts, ends)
        new_diff = len(texts["part_2"]) - len(texts["part_1"])
        if new_diff == diff:
            texts, ends = run(0)
            texts = repair(texts, ends)
            break
        diff = new_diff
        skip += 1

    return texts, parts
