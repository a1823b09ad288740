"""Minimal deterministic HTML analysis on stdlib html.parser.

The container has no bs4/lxml/selectolax, so the engine ships a small,
fully deterministic parser layer with the operations the reference's
extractors actually use (title, body text, selector hit-tests for the
must_exist / must_not_exist filters — SURVEY §2 F9, X10). One
tokenizer (``html.parser.HTMLParser``) feeds two consumers:

- :func:`parse` -> a tiny DOM (tag, attrs, children, text, source
  spans), for the extractors that select or serialize nodes:
  :func:`select`, :func:`outer_html`, :func:`title_of`,
  :func:`body_text` (the golden-fixture operations — reference
  fixture extractor returns soup.title,
  /root/reference/tests/test_extract/extractors/test_extract.py:10-17);
- :func:`page_text` -> ``(title_of(parse(t)), body_text(parse(t)))``
  from a stack of open tag names alone, with no tree: the text
  extractor reads nothing else of the DOM.

:func:`select` is a simple CSS subset: ``tag``, ``#id``, ``.class``,
``tag.class``, ``tag#id``, descendant combinator ``a b``.

This is NOT a byte-for-bit bs4 clone (bs4 is unavailable here); the
contract it honors is the engine's own golden fixtures, which datagen
synthesizes. Swap in bs4 behind the same functions when available.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser

_VOID = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}


@dataclass(slots=True)
class Node:
    tag: str
    attrs: dict[str, str] = field(default_factory=dict)
    children: list["Node | str"] = field(default_factory=list)
    #: source span [start, end) of this element in the parsed text —
    #: set by the builder; ``end`` stays None for implicitly-closed tags.
    start: int | None = None
    end: int | None = None
    #: original source text, set on the root node only (outer_html).
    source: str | None = None

    def text(self) -> str:
        out: list[str] = []
        stack: list[Node | str] = [self]
        while stack:
            n = stack.pop()
            if isinstance(n, str):
                out.append(n)
            else:
                stack.extend(reversed(n.children))
        return "".join(out)

    def iter(self):
        stack: list[Node] = [self]
        while stack:
            n = stack.pop()
            yield n
            stack.extend(
                reversed([c for c in n.children if isinstance(c, Node)])
            )


class _Builder(HTMLParser):
    def __init__(self, source: str = "") -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]")
        self.stack = [self.root]
        self.source = source
        # cumulative offsets of line starts: getpos() -> absolute offset.
        # str.find loop (C speed) — the per-character Python loop it
        # replaces was ~15% of parse() on typical documents (r6).
        starts = [0]
        pos = source.find("\n")
        while pos != -1:
            starts.append(pos + 1)
            pos = source.find("\n", pos + 1)
        self._line_starts = starts

    def _offset(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    def handle_starttag(self, tag, attrs):
        node = Node(tag, {k: (v or "") for k, v in attrs}, start=self._offset())
        self.stack[-1].children.append(node)
        if tag not in _VOID:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        start = self._offset()
        raw = self.get_starttag_text() or ""
        self.stack[-1].children.append(
            Node(
                tag,
                {k: (v or "") for k, v in attrs},
                start=start,
                end=start + len(raw),
            )
        )

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                # end = one past the '>' of the closing tag in source.
                pos = self._offset()
                gt = self.source.find(">", pos)
                self.stack[i].end = (gt + 1) if gt >= 0 else None
                del self.stack[i:]
                break

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)


def parse(html: str) -> Node:
    b = _Builder(html)
    try:
        b.feed(html)
        b.close()
    except Exception:
        pass  # best-effort, like soup: keep whatever parsed
    b.root.source = html
    return b.root


def outer_html(node: Node, root: Node) -> str | None:
    """Raw-tag serialization: the node's exact source span.

    This is the engine's ``str(soup.title)`` analog — the reference's
    fixture extractor returns the bs4 Tag itself, which json-serializes
    as the tag's outer HTML (tests/test_extract/extractors/
    test_extract.py:10-17; golden asserted at end_to_end_test.py:65-72,
    93-99). bs4 RE-serializes (normalizing quoting); this returns the
    verbatim source span, which is byte-identical for the reference's
    checked-in fixtures (pinned by tests/test_reference_fixtures.py).
    """
    if root.source is None or node.start is None:
        return None
    end = node.end if node.end is not None else len(root.source)
    return root.source[node.start : end]


def _first(root: Node, tag: str) -> Node | None:
    for n in root.iter():
        if n.tag == tag:
            return n
    return None


def title_of(root: Node) -> str | None:
    t = _first(root, "title")
    return t.text() if t is not None else None


def body_text(root: Node) -> str:
    """Text of <body> (whole document if no body), stripped."""
    b = _first(root, "body")
    return (b.text() if b is not None else root.text()).strip()


#: the elements :func:`page_text` reads, first occurrence each
_TRACKED = ("title", "body")


class _TextScan(HTMLParser):
    """:func:`page_text`'s consumer: the ``_Builder`` tree reduced to
    what the first ``title`` and the first ``body`` need. Every data
    chunk is kept in order; an element's text is the run of chunks
    handled while it was open, so each tracked element keeps the chunk
    index where it opened and where it closed (None while open)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.open = ["[document]"]
        self.chunks: list[str] = []
        #: tag -> [depth in ``open``, first chunk, end chunk or None]
        self.spans: dict[str, list] = {}

    def handle_starttag(self, tag, attrs):
        if tag in _TRACKED and tag not in self.spans:
            self.spans[tag] = [len(self.open), len(self.chunks), None]
        if tag not in _VOID:
            self.open.append(tag)

    def handle_startendtag(self, tag, attrs):
        if tag in _TRACKED and tag not in self.spans:
            n = len(self.chunks)
            self.spans[tag] = [-1, n, n]

    def handle_endtag(self, tag):
        open_ = self.open
        for i in range(len(open_) - 1, 0, -1):
            if open_[i] == tag:
                del open_[i:]
                for span in self.spans.values():
                    if span[2] is None and span[0] >= i:
                        span[2] = len(self.chunks)
                break

    def handle_data(self, data):
        self.chunks.append(data)

    def updatepos(self, i, j):
        # the base class counts newlines here for getpos(), which
        # nothing reads; the tokenizer uses only the returned index
        return j


def page_text(html: str) -> tuple[str | None, str]:
    """``(title_of(parse(html)), body_text(parse(html)))`` without
    building the tree: same tokenizer, same error swallowing."""
    scan = _TextScan()
    try:
        scan.feed(html)
        scan.close()
    except Exception:
        pass  # best-effort, as parse()
    chunks = scan.chunks

    def text(tag: str) -> str | None:
        span = scan.spans.get(tag)
        return None if span is None else "".join(chunks[span[1] : span[2]])

    body = text("body")
    return text("title"), (body if body is not None else "".join(chunks)).strip()


import re as _re

#: [attr], [attr=v], [attr="v"], [attr*=v], [attr^=v], [attr$=v], [attr~=v]
_ATTR_RE = _re.compile(
    r"\[\s*([a-zA-Z_:][-\w:.]*)\s*(?:([*^$~]?=)\s*"
    r"(?:\"([^\"]*)\"|'([^']*)'|([^\]\s]*)))?\s*\]"
)


def _attr_match(node: Node, name: str, op: str | None, val: str | None) -> bool:
    if name not in node.attrs:
        return False
    if op is None:
        return True
    actual = node.attrs.get(name, "")
    assert val is not None
    if op == "=":
        return actual == val
    if op == "*=":
        return val in actual
    if op == "^=":
        return actual.startswith(val)
    if op == "$=":
        return actual.endswith(val)
    if op == "~=":
        return val in actual.split()
    return False


def _match_simple(node: Node, simple: str) -> bool:
    # peel attribute predicates first: tag.cls#id[attr=v][attr2]
    attrs: list[tuple[str, str | None, str | None]] = []

    def _peel(m: _re.Match) -> str:
        val = next((g for g in m.group(3, 4, 5) if g is not None), None)
        attrs.append((m.group(1), m.group(2), val))
        return ""

    rest = _ATTR_RE.sub(_peel, simple)
    for name, op, val in attrs:
        if not _attr_match(node, name, op, val):
            return False
    tag = ""
    ident = None
    cls = None
    if "#" in rest:
        tag, _, ident = rest.partition("#")
    elif "." in rest:
        tag, _, cls = rest.partition(".")
    else:
        tag = rest
    if tag and node.tag != tag:
        return False
    if ident is not None and node.attrs.get("id") != ident:
        return False
    if cls is not None and cls not in node.attrs.get("class", "").split():
        return False
    return True


def select(root: Node, selector: str) -> list[Node]:
    """Descendant-combinator CSS subset (tag, #id, .class, attribute
    predicates incl. =, *=, ^=, $=, ~=); enough for F9 filters and the
    reference's PageExtractor selector configs (meta[property='og:url']
    etc., reference extractor.py:208-349)."""
    # whitespace splits combinators only OUTSIDE attribute brackets
    parts = [p for p in _re.split(r"\s+(?![^\[\]]*\])", selector) if p]
    current = [root]
    for simple in parts:
        nxt: list[Node] = []
        for base in current:
            for n in base.iter():
                if n is base:
                    continue
                if _match_simple(n, simple):
                    nxt.append(n)
        current = nxt
    return current
