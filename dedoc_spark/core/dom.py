"""Minimal HTML DOM on a stdlib html.parser tokenizer.

The reference parses HTML with BeautifulSoup's "html.parser" builder
(html_reader.py:35). This module rebuilds just the tree behaviors the
extraction semantics depend on, without any third-party dependency:

  - node kinds: Element, Text, Comment, Doctype (the latter three are str
    subclasses, like bs4 NavigableString/Comment/Doctype, so the reader's
    ``isinstance(node, str)`` dispatch shape carries over);
  - void ("empty element") tags close immediately even without ``/>``;
  - ``<script>``/``<style>`` raw-text content (html.parser CDATA mode);
  - character references converted to text (convert_charrefs=True);
  - an end tag pops the stack to the nearest matching open tag and is
    ignored when no such tag is open (bs4 _popToTag semantics);
  - no implied <html>/<body> insertion and no implied end tags for
    <li>/<p> (html.parser builder does none of that — unlike lxml).

Tokenizer: ``_TreeParser`` is an ``html.parser.HTMLParser`` with its
scan loop (``goahead``) rewritten to build the tree as it goes:

  - text runs (script/style bodies included), and outside script/style
    attribute-less start tags (``<name>``) and plain end tags
    (``</name>``), are handled in the loop itself, with no handler call;
  - everything rarer — start tags with attributes or ``/>``, comments,
    ``<!doctype>``, ``<?pi>``, ``<![...]>``, bogus end tags, the end tag
    of a script/style body, stray ``<``, constructs cut off at end of
    input — goes to the stdlib ``parse_*`` methods, whose handler
    callbacks build the nodes;
  - the text-chunk boundaries, and so the Text nodes, are the stdlib's;
  - no line/offset tracking (``updatepos``/``getpos``): nothing reads it.

The DOM equals the one the stock ``HTMLParser`` callbacks build on any
input (tests/test_dom_tokenizer.py).

Also provides deterministic byte→str decoding (BOM, <meta charset>,
utf-8 with cp1251 fallback) replacing bs4's UnicodeDammit.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Iterator, List, Optional, Union

# bs4.builder.HTMLTreeBuilder.empty_element_tags (public knowledge: the
# HTML5 void element list + historical additions)
VOID_TAGS = frozenset(
    {
        "area", "base", "br", "basefont", "bgsound", "command", "col", "embed",
        "event-source", "frame", "hr", "image", "img", "input", "keygen", "link",
        "menuitem", "meta", "param", "source", "spacer", "track", "wbr",
    }
)


class Text(str):
    """Plain text node (analogue of bs4 NavigableString)."""

    __slots__ = ()
    name: Optional[str] = None


class Comment(Text):
    __slots__ = ()


class Doctype(Text):
    __slots__ = ()


Node = Union["Element", Text]


class Element:
    """Element node with ordered children and an attrs dict. No parent
    link: nothing walks up the tree, and without one a finished DOM is
    freed by reference counting instead of waiting for the cycle
    collector."""

    __slots__ = ("name", "attrs", "children", "hidden")

    def __init__(self, name: str, attrs: Optional[dict] = None) -> None:
        self.name = name
        self.attrs = {} if attrs is None else attrs
        self.children: List[Node] = []
        self.hidden = False  # set on cloned merged-table cells

    def append(self, node: Node) -> None:
        self.children.append(node)

    def get(self, key: str, default=None):
        return self.attrs.get(key, default)

    def __iter__(self) -> Iterator[Node]:
        return iter(self.children)

    def __repr__(self) -> str:
        return f"<{self.name} {self.attrs}>"

    # --- traversal -------------------------------------------------------

    def find_all(self, names) -> List["Element"]:
        """All descendant elements whose name is in ``names`` (document order)."""
        if isinstance(names, str):
            names = (names,)
        names = set(names)
        found: List[Element] = []
        stack: List[Node] = self.children[::-1]
        while stack:
            node = stack.pop()
            if isinstance(node, Element):
                if node.name in names:
                    found.append(node)
                stack.extend(node.children[::-1])
        return found

    def get_text(self) -> str:
        """Concatenation of all descendant text (comments/doctypes excluded),
        like bs4 Tag.get_text with default string types."""
        parts: List[str] = []
        stack: List[Node] = self.children[::-1]
        while stack:
            node = stack.pop()
            if isinstance(node, Element):
                stack.extend(node.children[::-1])
            elif not isinstance(node, (Comment, Doctype)):
                parts.append(str(node))
        return "".join(parts)

    def replace_brs_with_newlines(self) -> None:
        """In-place ``br.replace_with("\\n")`` over the subtree
        (html_reader.py:203-205). Mutates children lists."""
        stack: List[Element] = [self]
        while stack:
            el = stack.pop()
            for i, child in enumerate(el.children):
                if isinstance(child, Element):
                    if child.name == "br":
                        el.children[i] = Text("\n")
                    else:
                        stack.append(child)

    def clone(self) -> "Element":
        """Deep copy (used for merged-cell expansion, html_reader.py:239-254)."""
        copy = Element(self.name, dict(self.attrs))
        for child in self.children:
            if isinstance(child, Element):
                copy.append(child.clone())
            else:
                copy.append(type(child)(child))
        return copy


_STARTTAG_OPEN = re.compile(r"<[a-zA-Z]")  # html.parser.starttagopen
# The tags the loop builds itself: html.parser reads "<name>" as
# handle_starttag(name.lower(), []) and "</name>" as
# handle_endtag(name.lower()) (its tagfind and endtagfind expressions).
_PLAIN_TAG = re.compile(r"<([a-zA-Z][^\t\n\r\f />\x00]*)>|</([a-zA-Z][-.a-zA-Z0-9:_]*)>")
_RAW_TEXT_TAGS = frozenset(HTMLParser.CDATA_CONTENT_ELEMENTS)


class _TreeParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("[document]")
        self.stack: List[Element] = [self.root]

    def goahead(self, end) -> None:
        """HTMLParser.goahead (convert_charrefs=True) building the tree.
        With convert_charrefs on, every stop of the scan is a ``<``, so
        the stdlib's ``&`` branches are unreachable and left out."""
        rawdata = self.rawdata
        n = len(rawdata)
        stack = self.stack
        startswith = rawdata.startswith
        i = 0
        while i < n:
            if self.cdata_elem is None:
                j = rawdata.find("<", i)
                if j < 0:
                    # the stdlib holds back a tail ending in what may be a
                    # cut charref until close(); parse_html feeds the whole
                    # input at once, so the tail is one chunk either way
                    j = n
                if i < j:
                    data = rawdata[i:j]
                    if "&" in data:
                        data = unescape(data)
                    if data:
                        stack[-1].children.append(Text(data))
                i = j
                if i == n:
                    break
                m = _PLAIN_TAG.match(rawdata, i)
                if m is not None:
                    i = m.end()
                    tag = m.group(1)
                    if tag is None:
                        # handle_endtag, inline
                        tag = m.group(2).lower()
                        for depth in range(len(stack) - 1, 0, -1):
                            if stack[depth].name == tag:
                                del stack[depth:]
                                break
                        continue
                    tag = tag.lower()
                    el = Element(tag, {})
                    stack[-1].children.append(el)
                    if tag not in VOID_TAGS:
                        stack.append(el)
                    if tag in _RAW_TEXT_TAGS:
                        self.set_cdata_mode(tag)
                    continue
            else:
                match = self.interesting.search(rawdata, i)
                if match is None:
                    break
                j = match.start()
                if i < j:
                    stack[-1].children.append(Text(rawdata[i:j]))
                i = j
            if _STARTTAG_OPEN.match(rawdata, i):
                k = self.parse_starttag(i)
            elif startswith("</", i):
                k = self.parse_endtag(i)
            elif startswith("<!--", i):
                k = self.parse_comment(i)
            elif startswith("<?", i):
                k = self.parse_pi(i)
            elif startswith("<!", i):
                k = self.parse_html_declaration(i)
            elif (i + 1) < n:
                self.handle_data("<")
                k = i + 1
            else:
                break
            if k < 0:
                if not end:
                    break
                k = rawdata.find(">", i + 1)
                if k < 0:
                    k = rawdata.find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                if self.cdata_elem is None:
                    self.handle_data(unescape(rawdata[i:k]))
                else:
                    self.handle_data(rawdata[i:k])
            i = k
        if end and i < n and self.cdata_elem is None:
            self.handle_data(unescape(rawdata[i:n]))
            i = n
        self.rawdata = rawdata[i:]

    # Callbacks of the stdlib parse_* methods. html.parser reports attrs
    # as (name, value|None) pairs; bs4 maps valueless attrs to "" and
    # keeps the last duplicate.
    @staticmethod
    def _attrs(pairs) -> dict:
        return {k: ("" if v is None else v) for k, v in pairs}

    def handle_starttag(self, tag: str, attrs) -> None:
        el = Element(tag, self._attrs(attrs))
        self.stack[-1].append(el)
        if tag not in VOID_TAGS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.stack[-1].append(Element(tag, self._attrs(attrs)))

    def handle_endtag(self, tag: str) -> None:
        # pop to the nearest open tag with this name; ignore if none is open
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == tag:
                del self.stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].append(Text(data))

    def handle_comment(self, data: str) -> None:
        self.stack[-1].append(Comment(data))

    def handle_decl(self, decl: str) -> None:
        self.stack[-1].append(Doctype(decl))


_META_CHARSET = re.compile(rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.I)


def decode_html(data: bytes) -> str:
    """Deterministic byte→str decoding: BOM, then <meta charset>, then
    utf-8, then cp1251 fallback (replaces bs4 UnicodeDammit)."""
    if data.startswith(b"\xef\xbb\xbf"):
        return data[3:].decode("utf-8", errors="replace")
    if data.startswith((b"\xff\xfe", b"\xfe\xff")):
        return data.decode("utf-16", errors="replace")
    m = _META_CHARSET.search(data[:2048])
    if m:
        enc = m.group(1).decode("ascii", errors="replace").lower()
        try:
            return data.decode(enc, errors="replace")
        except LookupError:
            pass
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        return data.decode("cp1251", errors="replace")


def parse_html(data: Union[bytes, str]) -> Element:
    """Parse HTML bytes/str into a DOM rooted at a ``[document]`` element."""
    text = decode_html(data) if isinstance(data, bytes) else data
    parser = _TreeParser()
    parser.feed(text)
    parser.close()
    return parser.root
