"""Text preparation: HTML flattening and character/line normalization.

Each function mirrors an observable transformation of the reference
pipeline (file:line cites inline) but is an independent stdlib
implementation. These run inside Arrow-batched UDF workers; they must
stay pure and deterministic.

Two passes are written differently from the reference but match it
exactly:

- the blank-run regex ` *\n(?: *\n)+ *` denotes the same language as
  the reference's `(( )*\n( )*){2,}` (two or more newlines with any
  spaces around and between them), and both are greedy throughout, so
  each finds the same leftmost, longest run; the new form does not
  backtrack through nested groups and runs several times faster;
- the ordered per-character `re.sub` passes are one `str.translate`
  table: every class is single characters, and every replacement is
  either no class's character or one whose own entry maps it to
  itself, so applying the table once equals applying the subs in order.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

# Inject paragraph breaks after block-closers / <br>, pad cell closers
# with spaces, then drop every remaining tag. Mirrors
# extract_items.py:204-224 (same patterns, case-sensitive on purpose:
# the serializer lowercases all tags first).
_RX_BLOCK_CLOSE = re.compile(r"(<\s*/\s*(div|tr|p|li|)\s*>)")
_RX_BR = re.compile(r"(<br\s*>|<br\s*/>)")
_RX_CELL_CLOSE = re.compile(r"(<\s*/\s*(th|td)\s*>)")


class _TagStripper(HTMLParser):
    """Collects only text data; charrefs decoded (convert_charrefs).
    Equivalent surface to the reference's HtmlStripper
    (extract_items.py:59-119)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._chunks: list[str] = []

    def updatepos(self, i: int, j: int) -> int:
        # nothing reads getpos(): skip the line/column bookkeeping
        return j

    def handle_data(self, data: str) -> None:
        self._chunks.append(data)

    def text(self) -> str:
        return "".join(self._chunks)


def flatten_html(html_content: str) -> str:
    """Tags -> text with block structure kept as newlines
    (strip_html, extract_items.py:204-224)."""
    html_content = _RX_BLOCK_CLOSE.sub(r"\1\n\n", html_content)
    html_content = _RX_BR.sub(r"\1\n\n", html_content)
    html_content = _RX_CELL_CLOSE.sub(r" \1 ", html_content)
    stripper = _TagStripper()
    try:
        stripper.feed(html_content)
        stripper.close()
    except Exception:  # noqa: BLE001
        pass
    return stripper.text()


_RX_BLANK_RUN = re.compile(" *\n(?: *\n)+ *")
_RX_NEWLINE_MARKS = re.compile(r"(#NEWLINE)+")
_RX_SPACE_RUN = re.compile(r"[ ]{2,}")


def collapse_lines(text: str) -> str:
    """Collapse blank-line runs to single newlines and squeeze spaces
    (remove_multiple_lines, extract_items.py:226-246)."""
    if not text:  # most absent items
        return text
    text = _RX_BLANK_RUN.sub("#NEWLINE", text)
    text = text.replace("\n", " ")
    text = _RX_NEWLINE_MARKS.sub("\n", text).strip()
    text = _RX_SPACE_RUN.sub(" ", text)
    return text


# cp1252 control-range + Unicode punctuation normalization table
# (clean_text, extract_items.py:260-277). The reference applies these
# as ordered regex subs, some of them identities (e.g. '‘' -> '‘');
# one translate table gives the same result (see the module docstring).
_CHAR_TABLE = str.maketrans({
    "\xa0": " ",
    "\u200b": " ",
    "\x91": "\u2018",
    "\x92": "\u2019",
    "\x93": "\u201c",
    "\x94": "\u201d",
    "\x95": "\u2022",
    "\x96": "-",
    "\x97": "-",
    "\x98": "\u02dc",
    "\x99": "\u2122",
    **dict.fromkeys("\u2010\u2011\u2012\u2013\u2014\u2015", "-"),
    "\u2009": " ",
})

_WS = r"[^\S\r\n]"

_RX_PART_HDR = re.compile(
    rf"(\n{_WS}*)(P{_WS}*A{_WS}*R{_WS}*T)({_WS}+)((\d{{1,2}}|[IV]{{1,2}})[AB]?)",
    re.IGNORECASE,
)
_RX_ITEM_HDR = re.compile(
    rf"(\n{_WS}*)(I{_WS}*T{_WS}*E{_WS}*M)({_WS}+)(\d{{1,2}}[AB]?)",
    re.IGNORECASE,
)
_RX_SIG_HDR = re.compile(
    rf"(\n{_WS}*)(S{_WS}*I{_WS}*G{_WS}*N{_WS}*A{_WS}*T{_WS}*U{_WS}*R{_WS}*E{_WS}*"
    rf"(S|\({_WS}*s{_WS}*\))?)({_WS}+)({_WS}?)",
    re.IGNORECASE,
)
_RX_ITEM_DASH = re.compile(r"(ITEM|PART)(\s+\d{1,2}[AB]?)([\-•])", re.IGNORECASE)

_IM = re.IGNORECASE | re.MULTILINE
_RX_TOC_LINE = re.compile(
    rf"\n{_WS}*"
    r"(TABLE\s+OF\s+CONTENTS|INDEX\s+TO\s+FINANCIAL\s+STATEMENTS|"
    r"BACK\s+TO\s+CONTENTS|QUICKLINKS)"
    rf"{_WS}*\n",
    _IM,
)
_RX_PAGENUM_DASH = re.compile(
    rf"\n{_WS}*[-‒–—]*\d+[-‒–—]*{_WS}*\n", _IM
)
_RX_PAGENUM = re.compile(rf"\n{_WS}*\d+{_WS}*\n", _IM)
_RX_FPAGE = re.compile(r"[\n\s]F[-‒–—]*\d+", _IM)
_RX_PAGE_WORD = re.compile(rf"\n{_WS}*Page\s[\d*]+{_WS}*\n", _IM)


def _squeeze_header(m: re.Match) -> str:
    """Re-join a letter-spaced header: 'I T E M  7' -> 'ITEM 7'."""
    return f"{m[1]}{re.sub(_WS, '', m[2])}{m[3]}{m[4]}"


def _squeeze_signature(m: re.Match) -> str:
    return f"{m[1]}{re.sub(_WS, '', m[2])}{m[4]}{m[5]}"


def normalize_text(text: str) -> str:
    """Character normalization + header repair + boilerplate-line
    removal (clean_text, extract_items.py:248-336)."""
    text = text.translate(_CHAR_TABLE)

    text = _RX_PART_HDR.sub(_squeeze_header, text)
    text = _RX_ITEM_HDR.sub(_squeeze_header, text)
    text = _RX_SIG_HDR.sub(_squeeze_signature, text)
    text = _RX_ITEM_DASH.sub(r"\1\2 \3 ", text)

    text = _RX_TOC_LINE.sub("\n", text)
    text = _RX_PAGENUM_DASH.sub("\n", text)
    text = _RX_PAGENUM.sub("\n", text)
    text = _RX_FPAGE.sub("", text)
    text = _RX_PAGE_WORD.sub("", text)
    return text


# ---------------------------------------------------------------------------
# style="" declaration parsing (cssutils.parseStyle stand-in for the
# background checks in extract_items.py:420-436)
# ---------------------------------------------------------------------------

def style_property(style_text: str, prop: str) -> str | None:
    """Value of a CSS property in an inline style string, or None.
    Last declaration wins; '!important' stripped; names
    case-insensitive."""
    value: str | None = None
    for decl in style_text.split(";"):
        if ":" not in decl:
            continue
        name, _, val = decl.partition(":")
        if name.strip().lower() != prop:
            continue
        val = re.sub(r"!\s*important\s*$", "", val.strip(), flags=re.IGNORECASE)
        val = val.strip()
        if val and _css_value_ok(val):
            value = val
    return value


def _css_value_ok(val: str) -> bool:
    """Reject values a strict CSS2.1 parser (the reference's cssutils)
    drops as grammar-invalid: templating leftovers like
    'background: #bgcolor#' (a '#' must start a hash token) and
    rgb() with an arg count other than 3 (alpha requires rgba())."""
    if re.search(r"#(?![0-9a-zA-Z])", val):
        return False
    for m in re.finditer(r"rgb\s*\(([^)]*)\)", val, flags=re.IGNORECASE):
        args = [a.strip() for a in m.group(1).split(",")]
        if len(args) != 3 or not all(
            re.fullmatch(r"[+-]?\d+(\.\d+)?%?", a) for a in args
        ):
            return False
    return True


_DEFAULT_BACKGROUNDS = {"none", "transparent", "#ffffff", "#fff", "white"}


def has_nondefault_background(style_text: str) -> bool:
    """True if style declares a background/background-color other than
    white/transparent (extract_items.py:425-436)."""
    for prop in ("background", "background-color"):
        val = style_property(style_text, prop)
        if val and val.lower() not in _DEFAULT_BACKGROUNDS:
            return True
    return False


def is_default_bgcolor(value: str) -> bool:
    return value.lower() in _DEFAULT_BACKGROUNDS
