"""Minimal from-scratch HTML DOM built on stdlib ``html.parser``.

The reference uses BeautifulSoup (``'html.parser'`` backend) for every
extraction step (e.g. /root/reference/services/scraper/scraper.py:100,
/root/reference/services/extractors/structured_data.py:108). That library
is not available in this container, so this module implements the small
subset of DOM behavior those code paths need — tree building, tag/attr
search, text extraction, subtree removal — from scratch. It is pure
Python and only ever runs inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import re
import string
from html import unescape
from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# elements whose subtree the reference decomposes before markdown conversion
# (scraper.py:103-108)
REMOVE_TAGS = frozenset(
    "script style iframe nav footer noscript meta link comment".split()
)


class Node:
    __slots__ = ("tag", "attrs", "children", "parent", "tag_index", "ord")

    def __init__(self, tag: str | None, attrs: dict[str, str] | None = None):
        self.tag = tag  # None => text node (attrs holds {"text": ...})
        self.attrs = attrs or {}
        self.children: list[Node] = []
        self.parent: Node | None = None
        self.ord = 0  # document-order stamp (set by the builder)
        # Root-only acceleration: {tag: [nodes in document order]} built at
        # parse time. Valid until the tree is mutated (decompose_all clears
        # it); subtree queries fall back to traversal.
        self.tag_index: dict[str, list["Node"]] | None = None

    # -- construction -------------------------------------------------
    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    # -- predicates ----------------------------------------------------
    @property
    def is_text(self) -> bool:
        return self.tag is None

    @property
    def text_content(self) -> str:
        return self.attrs.get("text", "") if self.is_text else ""

    def get(self, attr: str, default=None):
        return self.attrs.get(attr, default)

    # -- traversal -----------------------------------------------------
    def iter(self):
        """Pre-order traversal of element nodes (document order)."""
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if not n.is_text:
                yield n
                stack.extend(reversed(n.children))

    def _candidates(self, names):
        """Indexed candidate list (document order) or full traversal."""
        if names is not None and self.tag_index is not None:
            if len(names) == 1:
                return self.tag_index.get(names[0], ())
            merged = []
            for t in names:
                merged.extend(self.tag_index.get(t, ()))
            return sorted(merged, key=lambda n: n.ord)  # document order
        return self.iter()

    def find_all(self, names=None, pred=None) -> list["Node"]:
        if isinstance(names, str):
            names = (names,)
        out = []
        for n in self._candidates(names):
            if names is not None and n.tag not in names:
                continue
            if pred is not None and not pred(n):
                continue
            out.append(n)
        return out

    def find(self, names=None, pred=None) -> "Node | None":
        if isinstance(names, str):
            names = (names,)
        for n in self._candidates(names):
            if names is not None and n.tag not in names:
                continue
            if pred is not None and not pred(n):
                continue
            return n
        return None

    def get_text(self) -> str:
        """Concatenated text of all descendant text nodes (document order),
        mirroring BeautifulSoup ``get_text()`` for main-content fallback
        sizing (scraper.py:172-174)."""
        parts: list[str] = []
        stack = list(reversed(self.children))
        if self.is_text:
            return self.text_content
        while stack:
            n = stack.pop()
            if n.is_text:
                parts.append(n.text_content)
            else:
                stack.extend(reversed(n.children))
        return "".join(parts)

    def decompose_all(self, names: frozenset[str]) -> None:
        """Remove every descendant element whose tag is in ``names``."""
        self.tag_index = None  # mutation invalidates the parse-time index

        def walk(node: "Node") -> None:
            # rebuild the child list only when something actually matches
            # (most nodes have nothing to remove — hot extraction path)
            if any(c.tag in names for c in node.children if not c.is_text):
                node.children = [
                    c for c in node.children if c.is_text or c.tag not in names
                ]
            for c in node.children:
                if not c.is_text:
                    walk(c)

        walk(self)

    def prune_attrs(self, allowed: tuple[str, ...] = ("href", "src", "alt", "title")) -> None:
        """Keep only whitelisted attributes on every element
        (scraper.py:111-116). Dialect choice: ``class`` survives on
        ``<code>`` so fenced blocks keep their language (the chunker's
        ``code_language`` field consumes it; the reference loses it to
        html2text after cleaning)."""
        for n in self.iter():
            if not n.attrs:  # most nodes are attribute-less (hot path)
                continue
            n.attrs = {
                k: v
                for k, v in n.attrs.items()
                if k in allowed or (k == "class" and n.tag == "code")
            }


# tags that implicitly close an open <p> / <li> (html.parser reports the
# source faithfully; our synthetic corpus always closes tags, but be robust)
_P_CLOSERS = frozenset(
    "address article aside blockquote div dl fieldset footer form h1 h2 h3 h4 h5 "
    "h6 header hr main nav ol p pre section table ul".split()
)


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]")
        self.root.tag_index = {}
        self.stack = [self.root]
        self._ord = 0

    # -- helpers --------------------------------------------------------
    def _open(self, tag: str, attrs) -> Node:
        # duplicate attributes: FIRST occurrence wins (HTML5 tokenizer
        # "duplicate-attribute" rule; keeps parity with the fast parser)
        d: dict[str, str] = {}
        for k, v in attrs:
            if k not in d:
                d[k] = v if v is not None else ""
        node = Node(tag, d)
        self._ord += 1
        node.ord = self._ord
        self.stack[-1].append(node)
        self.root.tag_index.setdefault(tag, []).append(node)
        return node

    def handle_starttag(self, tag, attrs):
        if tag == "p" and self.stack[-1].tag == "p":
            self.stack.pop()  # implicit </p>
        if tag == "li" and self.stack[-1].tag == "li":
            self.stack.pop()  # implicit </li>
        if tag in _P_CLOSERS and self.stack[-1].tag == "p":
            self.stack.pop()
        node = self._open(tag, attrs)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self._open(tag, attrs)

    def handle_endtag(self, tag):
        for idx in range(len(self.stack) - 1, 0, -1):
            if self.stack[idx].tag == tag:
                del self.stack[idx:]
                return
        # stray end tag: ignore

    def handle_data(self, data):
        if data:
            self.stack[-1].append(Node(None, {"text": data}))


def parse_html_stdlib(html: str) -> Node:
    """Reference parser path: stdlib ``html.parser``. Kept as the
    validation oracle for the fast tokenizer (tests assert tree-equivalent
    extraction on the whole corpus) and as ``parse_html``'s fallback when
    the fast tokenizer raises."""
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        pass
    return builder.root


# ---------------------------------------------------------------------------
# fast tokenizer: one compiled scan instead of html.parser's char-by-char
# goahead loop (~2-3× on the extraction hot path). Quote-aware tag regex,
# raw-text handling for script/style, entity unescape on demand.
# ---------------------------------------------------------------------------

_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:_.-]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)(/?)>",
    re.DOTALL,
)
_ATTR_RE = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]+)))?"
)
_RAWTEXT = {"script": "</script", "style": "</style", "textarea": "</textarea"}
_ASCII_LOWER = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)


def _parse_attrs(s: str) -> dict[str, str]:
    if not s or s.isspace():  # isspace: no-allocation emptiness probe
        return {}
    attrs: dict[str, str] = {}
    for m in _ATTR_RE.finditer(s):
        name = m.group(1).lower()
        if name in attrs:
            continue  # html.parser keeps the first occurrence? dict keeps last;
            # BeautifulSoup keeps the LAST — but duplicate attrs are out of
            # the parity surface; first-wins is deterministic
        if m.group(2) is None:
            val = ""
        else:
            val = m.group(3) or m.group(4) or m.group(5) or ""
            if "&" in val:
                val = unescape(val)
        attrs[name] = val
    return attrs


def parse_html_fast(html: str) -> Node:
    root = Node("[document]")
    root.tag_index = {}
    index = root.tag_index
    stack = [root]
    i, n = 0, len(html)
    ordc = 0
    lo = None  # case-folded html, computed once on first rawtext element

    def data(text: str) -> None:
        if text:
            if "&" in text:
                text = unescape(text)
            stack[-1].append(Node(None, {"text": text}))

    while i < n:
        lt = html.find("<", i)
        if lt < 0:
            data(html[i:])
            break
        if lt > i:
            data(html[i:lt])
        if html.startswith("<!--", lt):
            end = html.find("-->", lt + 4)
            i = n if end < 0 else end + 3
            continue
        if html.startswith(("!", "?"), lt + 1):
            end = html.find(">", lt)
            i = n if end < 0 else end + 1
            continue
        m = _TAG_RE.match(html, lt)
        if m is None:
            data("<")  # stray '<' treated as text (tolerant)
            i = lt + 1
            continue
        closing, name, attr_s, selfclose = m.groups()
        name = name.lower()
        i = m.end()
        if closing:
            for idx in range(len(stack) - 1, 0, -1):
                if stack[idx].tag == name:
                    del stack[idx:]
                    break
            continue
        # implicit closes (mirrors _TreeBuilder.handle_starttag)
        if name == "p" and stack[-1].tag == "p":
            stack.pop()
        if name == "li" and stack[-1].tag == "li":
            stack.pop()
        if name in _P_CLOSERS and stack[-1].tag == "p":
            stack.pop()
        node = Node(name, _parse_attrs(attr_s))
        ordc += 1
        node.ord = ordc
        stack[-1].append(node)
        lst = index.get(name)
        if lst is None:
            index[name] = [node]
        else:
            lst.append(node)
        if selfclose or name in VOID_ELEMENTS:
            continue
        raw_end = _RAWTEXT.get(name)
        if raw_end is not None:
            if lo is None:
                lo = html.lower()
                if len(lo) != len(html):
                    # U+0130 lowers to two chars, which would shift every
                    # later offset: fold ASCII only (the close tags are ASCII)
                    lo = html.translate(_ASCII_LOWER)
            end = lo.find(raw_end, i)
            if end < 0:
                node.append(Node(None, {"text": html[i:]}))
                i = n
            else:
                if end > i:
                    node.append(Node(None, {"text": html[i:end]}))
                gt = html.find(">", end)
                i = n if gt < 0 else gt + 1
            continue
        stack.append(node)
    return root


def parse_html(html: str) -> Node:
    """Parse an HTML string into a Node tree. Never raises: parse errors
    degrade to a partial tree (matching the reference's try/except-and-log
    posture, e.g. link_extractor.py:123-125)."""
    try:
        return parse_html_fast(html)
    except Exception:
        return parse_html_stdlib(html)


def attr_matches(value: str | None, pattern: re.Pattern) -> bool:
    return value is not None and bool(pattern.search(value))


def _esc_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _esc_attr(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace('"', "&quot;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


def to_html(node: Node) -> str:
    """Serialize a Node tree back to HTML — the ScrapeData ``html`` field
    (models/response.py:21-31: the reference returns ``str()`` of the
    cleaned soup, scraper.py:188-192). Text re-escaped (`&<>`; the parser
    decoded charrefs), attributes double-quoted in parse order, void
    elements unclosed. Deterministic: serializing the same tree twice is
    byte-identical, and parse(to_html(t)) rebuilds an equal tree."""
    out: list[str] = []

    def walk(n: Node) -> None:
        if n.is_text:
            out.append(_esc_text(n.text_content))
            return
        wrap = n.tag != "[document]"
        if wrap:
            attrs = "".join(
                f' {k}="{_esc_attr(v if v is not None else "")}"'
                for k, v in n.attrs.items()
            )
            out.append(f"<{n.tag}{attrs}>")
        for c in n.children:
            walk(c)
        if wrap and n.tag not in VOID_ELEMENTS:
            out.append(f"</{n.tag}>")

    walk(node)
    return "".join(out)


__all__ = [
    "Node",
    "parse_html",
    "unescape",
    "VOID_ELEMENTS",
    "REMOVE_TAGS",
    "attr_matches",
    "to_html",
]
