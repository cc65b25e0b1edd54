"""Minimal HTML DOM on top of html.parser (stdlib only).

The reference pipeline uses BeautifulSoup+lxml for four things only
(/root/reference/extract_items.py:1296-1299, 469-524, 374-467):

  1. detect "real HTML" (document has both <td> and <tr>),
  2. unwrap text-bearing <span>s / blank <span>s -> " ",
  3. find <table>s, inspect tr/td/th style+bgcolor, drop colored ones,
  4. re-serialize the (possibly modified) tree for tag-stripping.

Neither bs4 nor lxml ship in this runtime, so this module provides a
small tree with exactly that surface: parse() -> Node, find_first /
iter_tags, get_text, unwrap, replace_with_text, detach, and an
lxml-flavoured serializer (lowercased tag/attr names, double-quoted
attributes, minimal entity escaping, <br/> style voids).

For point 4, `Node.flatten` reads the text that
`textprep.flatten_html(node.serialize())` would return straight off
the tree, so a filing is parsed once. `serialize` serves only the
special-items scan and tests.

Recovery rules approximate libxml2's HTML mode: implied end tags for
p/li/tr/td/th/option etc., stray end tags dropped, unknown elements
(SEC SGML envelope tags like <document>, <type>) treated as plain
containers.
"""

from __future__ import annotations

import functools
from html.parser import HTMLParser

from .textprep import flatten_html

VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}

_BLOCK = {
    "address", "article", "aside", "blockquote", "center", "div",
    "dl", "fieldset", "footer", "form", "h1", "h2", "h3", "h4", "h5",
    "h6", "header", "hr", "main", "nav", "ol", "p", "pre", "section",
    "table", "ul",
}

# start of KEY closes an open VALUE-set element (implied end tags)
_IMPLIED_CLOSERS: dict[str, set[str]] = {}
for _b in _BLOCK:
    _IMPLIED_CLOSERS.setdefault(_b, set()).add("p")
for _t in ("li",):
    _IMPLIED_CLOSERS.setdefault(_t, set()).add("li")
for _t in ("dt", "dd"):
    _IMPLIED_CLOSERS.setdefault(_t, set()).update({"dt", "dd"})
for _t in ("tr",):
    _IMPLIED_CLOSERS.setdefault(_t, set()).update({"tr", "td", "th"})
for _t in ("td", "th"):
    _IMPLIED_CLOSERS.setdefault(_t, set()).update({"td", "th"})
for _t in ("thead", "tbody", "tfoot"):
    _IMPLIED_CLOSERS.setdefault(_t, set()).update(
        {"thead", "tbody", "tfoot", "tr", "td", "th"}
    )
for _t in ("option",):
    _IMPLIED_CLOSERS.setdefault(_t, set()).add("option")

# elements whose end tag also closes these descendants implicitly
_SCOPE_BARRIERS = {"table", "html", "body", "document"}


class Node:
    """Element (tag is a str) or text node (tag is None, text set)."""

    __slots__ = ("tag", "attrs", "children", "parent", "text")

    def __init__(
        self,
        tag: str | None,
        attrs: dict[str, str] | None = None,
        text: str | None = None,
    ) -> None:
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Node] = []
        self.parent: Node | None = None
        self.text = text

    # -- tree ops ----------------------------------------------------
    def append(self, node: "Node") -> None:
        node.parent = self
        self.children.append(node)

    def detach(self) -> None:
        """Remove this node (and its subtree) from the tree
        (bs4 Tag.decompose analog)."""
        if self.parent is not None:
            try:
                self.parent.children.remove(self)
            except ValueError:
                pass
            self.parent = None

    def unwrap(self) -> None:
        """Replace this element with its children (bs4 Tag.unwrap)."""
        if self.parent is None:
            return
        idx = self.parent.children.index(self)
        for off, child in enumerate(self.children):
            child.parent = self.parent
            self.parent.children.insert(idx + off, child)
        del self.parent.children[idx + len(self.children)]
        self.children = []
        self.parent = None

    def replace_with_text(self, s: str) -> None:
        """Replace this element with a bare text node
        (bs4 Tag.replace_with(string) analog)."""
        if self.parent is None:
            return
        idx = self.parent.children.index(self)
        repl = Node(None, text=s)
        repl.parent = self.parent
        self.parent.children[idx] = repl
        self.parent = None

    # -- queries -----------------------------------------------------
    def iter_tags(self, name: str | None = None):
        """Yield descendant elements in document order (bs4 find_all).
        Snapshot-safe: callers list() this before mutating."""
        for child in list(self.children):
            if child.tag is not None and child.tag != "[comment]":
                if name is None or child.tag == name:
                    yield child
                yield from child.iter_tags(name)

    def find_all(self, name: str) -> list["Node"]:
        return list(self.iter_tags(name))

    def find_first(self, name: str) -> "Node | None":
        for n in self.iter_tags(name):
            return n
        return None

    def get_text(self) -> str:
        parts: list[str] = []
        self._collect_text(parts)
        return "".join(parts)

    def _collect_text(self, parts: list[str]) -> None:
        if self.text is not None:
            parts.append(self.text)
        for child in self.children:
            child._collect_text(parts)

    def has_stripped_text(self) -> bool:
        """True iff any descendant text node is non-whitespace
        (bs4 get_text(strip=True) truthiness)."""
        if self.text is not None and self.text.strip():
            return True
        return any(c.has_stripped_text() for c in self.children)

    # -- serialization -----------------------------------------------
    def flatten(self) -> str:
        """`textprep.flatten_html(self.serialize())`, without the
        round trip through markup (see `_flatten_into`)."""
        out: list[str] = []
        _flatten_into(self.children if self.tag == "[root]" else (self,), out)
        return "".join(out)

    def serialize(self) -> str:
        out: list[str] = []
        self._ser(out)
        return "".join(out)

    def _ser(self, out: list[str]) -> None:
        if self.text is not None:
            out.append(_escape_text(self.text))
            return
        if self.tag == "[root]":
            for child in self.children:
                child._ser(out)
            return
        if self.tag == "[comment]":
            out.append(f"<!--{self.attrs.get('data', '')}-->")
            return
        out.append(f"<{self.tag}")
        for k, v in self.attrs.items():
            out.append(f' {k}="{_escape_attr(v)}"')
        if self.tag in VOID_TAGS and not self.children:
            out.append("/>")
            return
        out.append(">")
        for child in self.children:
            child._ser(out)
        out.append(f"</{self.tag}>")


def _escape_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _escape_attr(s: str) -> str:
    return s.replace("&", "&amp;").replace('"', "&quot;")


# html.parser reads these elements' content as CDATA: it never decodes
# their entities, so the round trip leaves their escaped text escaped
_CDATA = HTMLParser.CDATA_CONTENT_ELEMENTS


@functools.lru_cache(maxsize=4096)
def _tag_text(tag: str) -> tuple[str, str]:
    """(text `flatten_html` makes of the tag's start tag when it has no
    attributes, text it makes of its end tag), read off the tokens the
    serializer writes, so `textprep` alone holds the rules."""
    start = f"<{tag}/>" if tag in VOID_TAGS else f"<{tag}>"
    return flatten_html(start), flatten_html(f"</{tag}>")


def _flatten_into(nodes, out: list[str]) -> None:
    """Append the flattened text of `nodes` to `out`.

    Equal to `flatten_html` over their serialization on every tree
    `parse` builds, because that serialization is a sequence of tokens
    the tag stripper reads back one for one, and no rule matches across
    two tokens (a match runs from a "<" to the first ">" after it, and
    every token that holds a "<" ends in ">"):
    - text is escaped, so it holds no "<" and unescapes to itself;
    - the rules' insertions inside a start tag's quoted attribute
      values or a comment stay inside that token, and the stripper
      drops the token;
    - what a rule inserts after a tag's ">" (or before a cell's
      `</td>`) is text, given by `_tag_text`;
    - a `_CDATA` element (script, style) holds only text, since
      html.parser reads its body as CDATA, and the stripper reads its
      escaped body back as CDATA too, undecoded.
    """
    for child in nodes:
        text = child.text
        if text is not None:
            out.append(text)
            continue
        tag = child.tag
        if tag == "[comment]":
            continue
        start, end = _tag_text(tag)
        if start and not child.attrs:
            out.append(start)
        if tag in _CDATA:
            out.extend(_escape_text(c.text) for c in child.children)
        else:
            _flatten_into(child.children, out)
        if end:  # never set for a void tag, which has no end tag
            out.append(end)


class _TreeBuilder(HTMLParser):
    # convert_charrefs=False: html.parser's built-in conversion applies
    # the HTML5 windows-1252 remap to &#128;-&#159;, but libxml2 (the
    # parser behind the reference pipeline) decodes numeric charrefs
    # literally (&#128; -> U+0080) and knows only the HTML4 named
    # entities. We reproduce the libxml2 behavior in handle_charref /
    # handle_entityref.
    def __init__(self) -> None:
        super().__init__(convert_charrefs=False)
        self.root = Node("[root]")
        self.stack: list[Node] = [self.root]

    def updatepos(self, i: int, j: int) -> int:
        # nothing reads getpos(): skip the line/column bookkeeping
        return j

    # -- helpers -------------------------------------------------------
    def _open(self, tag: str, attrs: list[tuple[str, str | None]]) -> Node:
        amap: dict[str, str] = {}
        for k, v in attrs:
            k = k.lower()
            if k not in amap:  # first occurrence wins, like libxml2
                amap[k] = v if v is not None else ""
        node = Node(tag, amap)
        self.stack[-1].append(node)
        return node

    def _implied_closes(self, tag: str) -> None:
        closers = _IMPLIED_CLOSERS.get(tag)
        if not closers:
            return
        while (
            len(self.stack) > 1
            and self.stack[-1].tag in closers
            and self.stack[-1].tag not in _SCOPE_BARRIERS
        ):
            self.stack.pop()

    # -- HTMLParser hooks ----------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        self._implied_closes(tag)
        node = self._open(tag, attrs)
        if tag not in VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._open(tag.lower(), attrs)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in VOID_TAGS:
            return
        # find nearest matching open element; drop stray end tags
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
            if self.stack[i].tag in _SCOPE_BARRIERS and tag not in _SCOPE_BARRIERS:
                return  # don't let e.g. </p> escape a table cell

    def handle_data(self, data: str) -> None:
        if not data:
            return
        self.stack[-1].append(Node(None, text=data))

    def handle_comment(self, data: str) -> None:
        # comments stay in the tree (they matter for whitespace
        # adjacency in _prune_blank_tabs, and bs4 serializes them;
        # the downstream tag-stripper discards them from text).
        node = Node("[comment]")
        node.text = None
        node.attrs = {"data": data}
        self.stack[-1].append(node)

    def handle_charref(self, name: str) -> None:
        try:
            code = int(name[1:], 16) if name[:1] in ("x", "X") else int(name)
            ch = chr(code) if 0 < code <= 0x10FFFF else ""
        except (ValueError, OverflowError):
            ch = ""
        if ch:
            self.handle_data(ch)

    def handle_entityref(self, name: str) -> None:
        from html.entities import entitydefs

        if name in entitydefs:
            self.handle_data(entitydefs[name])
        else:
            # unknown entity: libxml2 leaves it as literal text
            self.handle_data(f"&{name};")

    # comments / PIs / declarations are dropped: they carry no text and
    # the downstream tag-stripper discards them anyway.


def _prune_blank_tabs(node: Node) -> None:
    """Strip TABS out of indentation-style blank text nodes, the way
    the reference parser stack (bs4 + an older libxml2) does:
    a whitespace-only chunk immediately followed by markup (element /
    comment sibling, or the parent's end tag) loses its tab
    characters — '\\t' -> '', '\\n\\t\\t\\t' -> '\\n' — and is dropped
    entirely if nothing remains. Chunks adjacent to text (e.g. '\\t'
    before '&nbsp;') and chunks with real content are untouched.
    Calibrated against the reference's 553 8-K golden fixtures."""
    kids = node.children
    keep: list[Node] = []
    for i, child in enumerate(kids):
        if child.text is not None and "\t" in child.text and child.text.isspace():
            nxt = kids[i + 1] if i + 1 < len(kids) else None
            if nxt is None or nxt.tag is not None:
                child.text = child.text.replace("\t", "")
                if not child.text:
                    child.parent = None
                    continue
        keep.append(child)
    node.children = keep
    for child in keep:
        if child.tag is not None:
            _prune_blank_tabs(child)


def parse(html: str) -> Node:
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:  # noqa: BLE001 - never fail extraction on parse
        pass
    _prune_blank_tabs(builder.root)
    return builder.root


def looks_like_html(root: Node) -> bool:
    """The reference's is_html test: the parsed document contains both
    a <td> and a <tr> (extract_items.py:1296-1299)."""
    return root.find_first("td") is not None and root.find_first("tr") is not None
