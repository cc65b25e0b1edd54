"""The extraction kernel's output, pinned byte for byte.

`perfbench`'s `extract_stored` check compares the Spark job with the
same kernel run in-process, so it cannot see a change inside the
kernel. Two guards here:

- the golden test hashes the JSON payload of ~300 synthetic filings
  (three seeds, all three forms); the constant was computed before the
  kernel's scans were indexed, so any change in output shows as a
  different hash;
- property tests run the kernel's rewritten passes against the code
  they replaced, kept below verbatim as the oracle: the blank-run
  regex and `collapse_lines`, the ordered per-character `re.sub`
  loop, `Sectionizer.section`/`tail_section`/`split_10q_parts`
  before the header index, `_select_document` when it parsed every
  report document, and the serialize-then-strip round trip that
  flattened an HTML tree before `Node.flatten` (only the class and
  function names differ).
"""

from __future__ import annotations

import hashlib
import json
import re
import string
from typing import Optional

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from edgar_crawler_spark.extraction import (
    ExtractionOptions,
    extract_filing,
    htmlmini,
    pipeline,
)
from edgar_crawler_spark.extraction.pipeline import _select_document
from edgar_crawler_spark.extraction.items import ITEMS_10Q, ROMAN
from edgar_crawler_spark.extraction.sectionizer import (
    Sectionizer,
    _span_rx,
    _start_rx,
    _tail_rx,
    header_pattern,
    split_10q_parts,
)
from edgar_crawler_spark.extraction.textprep import (
    _CHAR_TABLE,
    _RX_BLANK_RUN,
    collapse_lines,
    flatten_html,
)
from edgar_crawler_spark.synth import FORM_TYPES, make_filing_body

GOLDEN_SEEDS = (1, 7, 11)
GOLDEN_PER_FORM = 33
GOLDEN_SHA256 = "41436621459686339a08f2c2343cfe26384bf9477dae49e7b3ccfba6d52318cc"


def golden_digest() -> tuple[int, str]:
    """(filings, sha256 over their NUL-separated JSON payloads)."""
    h = hashlib.sha256()
    n = 0
    opts = ExtractionOptions()
    for seed in GOLDEN_SEEDS:
        for form in FORM_TYPES:
            for i in range(GOLDEN_PER_FORM):
                md = {
                    "CIK": str(1000 + i), "Company": f"SYNTH CORP {i}",
                    "Type": form, "Date": "2015-06-30", "filename": f"f{i}.htm",
                }
                result = extract_filing(make_filing_body(seed, i, form), md, opts)
                h.update(json.dumps(result, indent=4, ensure_ascii=False).encode("utf-8"))
                h.update(b"\0")
                n += 1
    return n, h.hexdigest()


def test_golden_payloads():
    n, digest = golden_digest()
    assert n == len(GOLDEN_SEEDS) * len(FORM_TYPES) * GOLDEN_PER_FORM
    assert digest == GOLDEN_SHA256


# ---------------------------------------------------------------------------
# oracle: the replaced code, verbatim
# ---------------------------------------------------------------------------

_FLAGS_ID = re.IGNORECASE | re.DOTALL

_OLD_RX_BLANK_RUN = re.compile(r"(( )*\n( )*){2,}")
_OLD_RX_NEWLINE_MARKS = re.compile(r"(#NEWLINE)+")
_OLD_RX_SPACE_RUN = re.compile(r"[ ]{2,}")


def old_collapse_lines(text: str) -> str:
    """Collapse blank-line runs to single newlines and squeeze spaces
    (remove_multiple_lines, extract_items.py:226-246)."""
    if not text:  # most absent items
        return text
    text = _OLD_RX_BLANK_RUN.sub("#NEWLINE", text)
    text = text.replace("\n", " ")
    text = _OLD_RX_NEWLINE_MARKS.sub("\n", text).strip()
    text = _OLD_RX_SPACE_RUN.sub(" ", text)
    return text


_CHAR_SUBS: list[tuple[str, str]] = [
    ("[\xa0]", " "),
    ("[\u200b]", " "),
    ("[\x91]", "\u2018"),
    ("[\x92]", "\u2019"),
    ("[\x93]", "\u201c"),
    ("[\x94]", "\u201d"),
    ("[\x95]", "\u2022"),
    ("[\x96]", "-"),
    ("[\x97]", "-"),
    ("[\x98]", "\u02dc"),
    ("[\x99]", "\u2122"),
    ("[\u2010\u2011\u2012\u2013\u2014\u2015]", "-"),
    ("[\u2018]", "\u2018"),
    ("[\u2019]", "\u2019"),
    ("[\u2009]", " "),
    ("[\u00ae]", "\u00ae"),
    ("[\u201c]", "\u201c"),
    ("[\u201d]", "\u201d"),
]


def old_char_subs(text: str) -> str:
    for pat, repl in _CHAR_SUBS:
        text = re.sub(pat, repl, text)
    return text


def old_flatten(tree) -> str:
    """How `extract_filing` flattened an HTML tree (the whole document,
    and each table in `_remove_tables`)."""
    return flatten_html(tree.serialize())


class OldSectionizer:
    """Stateful per-filing section extractor.

    items: the full ordered catalog for the filing type (the
    "known universe" used for tail-fallback decisions).
    """

    def __init__(self, items: list[str]) -> None:
        self.items = list(items)

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
            for i, m in enumerate(starts):
                if i < skip_first:
                    continue
                offset = m.start()
                # case-sensitive first: true headers are usually
                # uppercase, body mentions are not
                found = list(_span_rx(pat, nxt_pat, re.DOTALL).finditer(text[offset:]))
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


def old_split_10q_parts(
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

    def run(skip_first: int) -> tuple[dict[str, str], list[int]]:
        sec = OldSectionizer(parts)
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


# ---------------------------------------------------------------------------
# text prep: blank runs and the character table
# ---------------------------------------------------------------------------

_blank_text = st.lists(
    st.sampled_from([" ", "\n", "x", "#", "#NEWLINE"]), max_size=40
).map("".join)


@settings(max_examples=400, deadline=None)
@given(_blank_text)
def test_blank_run_regex_matches_old(text):
    assert [m.span() for m in _RX_BLANK_RUN.finditer(text)] == [
        m.span() for m in _OLD_RX_BLANK_RUN.finditer(text)
    ]
    assert collapse_lines(text) == old_collapse_lines(text)


_SUB_CHARS = sorted({c for pat, _ in _CHAR_SUBS for c in pat.strip("[]")})


def test_char_table_matches_subs_per_character():
    assert {chr(k) for k in _CHAR_TABLE} <= set(_SUB_CHARS)
    for c in _SUB_CHARS:
        assert c.translate(_CHAR_TABLE) == old_char_subs(c), hex(ord(c))


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.sampled_from(_SUB_CHARS + list(string.printable)), max_size=60))
def test_char_table_matches_ordered_subs(text):
    assert text.translate(_CHAR_TABLE) == old_char_subs(text)


# ---------------------------------------------------------------------------
# sectionizer: header index vs the full scans
# ---------------------------------------------------------------------------

# Small catalogs that keep the tricky neighbours: "1"/"1A" and "9"/"9A"
# headers can start at the same newline, and 10-Q items are part-scoped.
CAT_10K = ["1", "1A", "2", "7", "7A", "9", "9A", "9B", "10", "SIGNATURE"]
CAT_8K = ["1.01", "2.01", "2.02", "5.02", "9.01", "SIGNATURE"]
CAT_10Q = list(ITEMS_10Q)


def _renders(key: str) -> list[str]:
    """Header spellings for a catalog key: upper, title and lower case,
    roman numerals, a split letter ("ITEM 1 A")."""
    if key == "SIGNATURE":
        return ["SIGNATURE", "SIGNATURES", "Signatures", "signature(s)"]
    if key.startswith("part") and "__" not in key:
        num = key.split("_")[1]
        return [f"PART {ROMAN[num]}", f"Part {num}", f"part {ROMAN[num].lower()}"]
    item = key.split("__")[-1]
    out = [f"ITEM {item}", f"Item {item}", f"item {item.lower()}", f"ITEMS {item}"]
    if item in ROMAN:
        out.append(f"ITEM {ROMAN[item]}")
    if item[-1:].isalpha():
        out.append(f"ITEM {item[:-1]} {item[-1]}")
    return out


_SEPS = [".", ":", " ", "\n", "-", "(", "*", "~", " -", "", "\t"]
_WORDS = ["lorem", "ipsum", "see Item 2.01", "item 1a", "Part II", "\n", "x", "dolor"]


@st.composite
def _filing_text(draw, catalog: list[str]) -> str:
    parts = sorted({k.split("__")[0] for k in catalog if "__" in k})
    keys = catalog + parts
    headers = draw(st.lists(
        st.tuples(
            st.sampled_from(keys),
            st.integers(0, 5),
            st.sampled_from(["", " ", "\t"]),
            st.sampled_from(_SEPS),
            st.lists(st.sampled_from(_WORDS), max_size=4).map(" ".join),
            st.booleans(),
        ),
        max_size=12,
    ))
    out = []
    if headers and draw(st.booleans()):  # a table of contents first
        out.append("\nTABLE OF CONTENTS")
        for key, v, *_ in headers:
            r = _renders(key)
            out.append(f"\n{r[v % len(r)]} 3")
    for key, v, lead, sep, body, twice in headers:
        r = _renders(key)
        # twice: the same header again on the first one's class
        # character, as in "\nITEM 1 A\nITEM 1A x"; only an index of
        # overlapping hits sees the second one
        again = f"\n{r[0]}" if twice else ""
        out.append(f"\n{lead}{r[v % len(r)]}{again}{sep}{body}")
    out.append("\nend")
    return "".join(out)


def _sections(sec, catalog, text, skip_first):
    ends: list[int] = []
    out = []
    for i, key in enumerate(catalog):
        section, ends = sec.section(text, key, catalog[i + 1:], ends, skip_first)
        out.append((key, section, list(ends)))
    return out


def _check_sectionizer(catalog, text, skip_first, tail_at):
    assert _sections(Sectionizer(catalog), catalog, text, skip_first) == _sections(
        OldSectionizer(catalog), catalog, text, skip_first
    )
    new, old = Sectionizer(catalog), OldSectionizer(catalog)
    for ends in ([], [tail_at % (len(text) + 1)]):
        for key in catalog:
            assert new.tail_section(key, text, list(ends)) == old.tail_section(
                key, text, list(ends)
            ), (key, ends)


_skip = st.integers(0, 2)
_tail_at = st.integers(0, 10**6)


@settings(max_examples=150, deadline=None)
@given(_filing_text(CAT_10K), _skip, _tail_at)
@example("\nITEM 1 A\nITEM 1A x\nITEM 2. y", 0, 0)
@example("\nITEM 9 A\nITEM 9A x\nITEM 9B. y", 0, 0)
def test_sectionizer_10k_matches_old(text, skip_first, tail_at):
    _check_sectionizer(CAT_10K, text, skip_first, tail_at)


@settings(max_examples=150, deadline=None)
@given(_filing_text(CAT_8K), _skip, _tail_at)
@example("\nITEM 1.01 a\nITEM 2.01\nITEM 2.01 x\nSIGNATURE y", 0, 12)
def test_sectionizer_8k_matches_old(text, skip_first, tail_at):
    _check_sectionizer(CAT_8K, text, skip_first, tail_at)


@settings(max_examples=150, deadline=None)
@given(_filing_text(CAT_10Q), _skip, _tail_at)
def test_sectionizer_10q_matches_old(text, skip_first, tail_at):
    _check_sectionizer(CAT_10Q, text, skip_first, tail_at)
    assert split_10q_parts(CAT_10Q, text) == old_split_10q_parts(CAT_10Q, text)


# ---------------------------------------------------------------------------
# document selection: only the last report document is parsed
# ---------------------------------------------------------------------------

_FLAGS_IDM = re.IGNORECASE | re.DOTALL | re.MULTILINE


def old_select_document(content: str):
    """`_select_document` when it parsed every report document (its
    `_WS` pattern inlined)."""
    content = re.sub(r"<PDF>.*?</PDF>", "", content, flags=_FLAGS_IDM)
    documents = re.findall("<DOCUMENT>.*?</DOCUMENT>", content, flags=_FLAGS_IDM)

    chosen = None
    is_html = False
    found = False
    for doc in documents:
        type_m = re.search(r"\n[^\S\r\n]*<TYPE>(.*?)\n", doc, flags=_FLAGS_IDM)
        doc_type = type_m.group(1) if type_m else None
        if doc_type is not None and doc_type.startswith(("10", "8")):
            tree = htmlmini.parse(doc)
            is_html = htmlmini.looks_like_html(tree)
            chosen = tree if is_html else doc
            found = True

    if not found:
        tree = htmlmini.parse(content)
        is_html = htmlmini.looks_like_html(tree)
        chosen = tree if is_html else content
    return chosen, is_html


def _document(form: str, body: str) -> str:
    return f"<DOCUMENT>\n<TYPE>{form}\n<SEQUENCE>1\n<TEXT>\n{body}\n</TEXT>\n</DOCUMENT>"


_HTML_10K = _document(
    "10-K",
    "<HTML><BODY><TABLE><TR><TD>ITEM 1. Business</TD></TR></TABLE>"
    "<P>We make widgets in html.</P><P>ITEM 2. Properties</P></BODY></HTML>",
)
_TEXT_10K = _document(
    "10-K", "ITEM 1. Business\nWe make widgets in plain text.\nITEM 2. Properties\nNone."
)
_EXHIBIT = _document("EX-99", "<HTML><BODY><TABLE><TR><TD>x</TD></TR></TABLE></BODY></HTML>")
_FILINGS = {
    "html_then_text": _HTML_10K + "\n" + _TEXT_10K,
    "text_then_html": _TEXT_10K + "\n" + _HTML_10K,
    "report_then_exhibit": _HTML_10K + "\n" + _EXHIBIT,
    "no_report": _EXHIBIT,
    "no_envelope": "ITEM 1. Business\nplain\nITEM 2. Properties\n",
}


def _rendered(selected) -> tuple[str, bool]:
    doc, is_html = selected
    return (doc.serialize() if is_html else doc), is_html


@pytest.mark.parametrize("name", sorted(_FILINGS))
def test_select_document_matches_old(name, monkeypatch):
    filing = _FILINGS[name]
    assert _rendered(_select_document(filing)) == _rendered(old_select_document(filing))
    md = {"CIK": "1", "Company": "C", "Type": "10-K", "Date": "2015-06-30",
          "filename": "f.htm"}
    new = extract_filing(filing, md, ExtractionOptions())
    monkeypatch.setattr(pipeline, "_select_document", old_select_document)
    assert new == extract_filing(filing, md, ExtractionOptions())


def test_last_report_document_decides_is_html():
    doc, is_html = _select_document(_FILINGS["html_then_text"])
    assert not is_html and "plain text" in doc
    doc, is_html = _select_document(_FILINGS["text_then_html"])
    assert is_html and "widgets in html" in doc.serialize()


# ---------------------------------------------------------------------------
# flattening: a walk of the parsed tree instead of serialize-then-strip
# ---------------------------------------------------------------------------

_ATTR_NAMES = ["class", "style", 'q"', "'q", "<x", "=e", "a=", "a/b", "x<br", "bgcolor"]
_ATTR_VALUES = [
    "", "x", 'say "hi"', "it's", "a<b", "a>b", "k=v", "/path/", "</p>", "<br>",
    "<br/>", "</td>", "</ div >", "&amp;", "&nbsp;", "&bogus;", "a&b",
]
_TEXTS = [
    "x", " ", "\n", "\t", "\t\n\t", "ITEM 1. Business", "a < b", "a > b", "a & b",
    "&amp;", "&lt;p&gt;", "&nbsp;", "&#160;", "&#x41;", "&#128;", "&#0;", "&#xZZ;",
    "&#;", "&bogus;", "&amp", "&copy", "<3", "a<", "\x0b", "\r\n", "--", "</>",
]
# tags whose end tag gains text, tags that gain text after their start
# tag, other voids, containers, CDATA, raw-text elements that newer
# html.parser releases treat apart (title, textarea), envelope tags and
# odd names the parser accepts (a name holds anything but whitespace,
# "/" and ">")
_TAGS = [
    "div", "tr", "p", "li", "td", "th", "br", "hr", "img", "table", "span", "b",
    "script", "style", "title", "textarea", "document", "type", "font", "p\x0b", "td\x0b", "br\x0b",
    "x<br", "a\"b", "a=b", "DIV", "Td",
]
_CDATA_BODIES = [
    "a<b", "a&b", "a>b", "if (a < b && c > d) {}", "</p><br>", "&amp;&lt;", "<!-- x -->",
    "</scriptx>", "p { color: red }", "",
]
_COMMENTS = ["<!-- </p> -->", "<!--<br>-->", "<!--</td>-->", "<!---->", "<!--a--->",
             "<!--a-- b-->", "<!bogus <br>>", "<!DOCTYPE html>", "<?pi x?>", "<![CDATA[x]]>"]


@st.composite
def _attrs(draw) -> str:
    out = []
    for _ in range(draw(st.integers(0, 2))):
        name = draw(st.sampled_from(_ATTR_NAMES))
        value = draw(st.sampled_from(_ATTR_VALUES))
        quote = draw(st.sampled_from(['"', "'", "", None]))
        if quote is None:
            out.append(f" {name}")
        elif quote == "" and not any(c in value for c in " >\"'") and value:
            out.append(f" {name}={value}")
        else:
            q = quote or '"'
            out.append(f" {name}={q}{value.replace(q, '')}{q}")
    return "".join(out)


@st.composite
def _fragment(draw) -> str:
    kind = draw(st.sampled_from(
        ["open", "open", "close", "close", "selfclose", "text", "text", "comment", "cdata"]))
    tag = draw(st.sampled_from(_TAGS))
    if kind == "open":
        return f"<{tag}{draw(_attrs())}>"
    if kind == "close":
        return draw(st.sampled_from([f"</{tag}>", f"</ {tag} >", f"</{tag.upper()}>"]))
    if kind == "selfclose":
        return f"<{tag}{draw(_attrs())}/>"
    if kind == "comment":
        return draw(st.sampled_from(_COMMENTS))
    if kind == "cdata":
        name = draw(st.sampled_from(["script", "style", "SCRIPT", "title", "textarea"]))
        body = draw(st.sampled_from(_CDATA_BODIES))
        close = draw(st.sampled_from([f"</{name}>", ""]))  # "" leaves it unclosed
        return f"<{name}{draw(_attrs())}>{body}{close}"
    return draw(st.sampled_from(_TEXTS))


_markup = st.lists(_fragment(), max_size=40).map("".join)
_char_soup = st.text(alphabet=list("<>/&;#!-=\"' \t\n\x0bxabdiprltbhsc1"), max_size=80)


def _check_flatten(markup: str) -> None:
    tree = htmlmini.parse(markup)
    for doc in (tree, pipeline._handle_spans(htmlmini.parse(markup), True)):
        assert doc.flatten() == old_flatten(doc), markup
        for tbl in doc.find_all("table"):
            assert tbl.flatten() == old_flatten(tbl), markup


@settings(max_examples=600, deadline=None)
@given(_markup)
@example("<div>a</div><tr><td>b</td><th>c</th></tr><p>d</p><li>e</li>")
@example('<br>a<br/>b<br class="x">c<br >d<hr><div/>e')
@example("<!-- </p> --><!--<br>-->x")
@example("<script>if (a < b && c > d) {}</script><style>p>a{}</style>")
@example("&amp;&nbsp;&#160;&#x41;&#128;&bogus;&")
@example('<td a"b=\'<x>\' c="</p>" d=/>x</td>')
@example("<table><tr><td>a<table><tr><td>b</table>c")
@example("<x<br>a</x<br><p\x0b>b</p\x0b><td\x0b>c</td\x0b><br\x0b>d")
def test_flatten_matches_round_trip(markup):
    _check_flatten(markup)


@settings(max_examples=400, deadline=None)
@given(_char_soup)
def test_flatten_matches_round_trip_on_char_soup(markup):
    _check_flatten(markup)
