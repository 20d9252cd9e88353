"""The tokenizer in core/dom.py against stock html.parser.

``_TreeParser`` rewrites HTMLParser's scan loop to build the tree
directly. The oracle here is the plain stdlib parser driving the handler
callbacks that built the DOM before; on any input both must produce the
same tree: node kinds, tag names, attributes in order, text chunks.
"""

from html.parser import HTMLParser

from hypothesis import example, given, settings
from hypothesis import strategies as st

from dedoc_spark.core.dom import VOID_TAGS, Comment, Doctype, Element, Text, parse_html


class _StockTreeParser(HTMLParser):
    """Tree building through the stock HTMLParser callbacks only."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("[document]")
        self.stack = [self.root]

    @staticmethod
    def _attrs(pairs) -> dict:
        return {k: ("" if v is None else v) for k, v in pairs}

    def handle_starttag(self, tag, attrs):
        el = Element(tag, self._attrs(attrs))
        self.stack[-1].append(el)
        if tag not in VOID_TAGS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].append(Element(tag, self._attrs(attrs)))

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self.stack[-1].append(Text(data))

    def handle_comment(self, data):
        self.stack[-1].append(Comment(data))

    def handle_decl(self, decl):
        self.stack[-1].append(Doctype(decl))


def _stock_parse(text: str) -> Element:
    parser = _StockTreeParser()
    parser.feed(text)
    parser.close()
    return parser.root


def _shape(node):
    """Comparable form of a subtree."""
    if isinstance(node, Element):
        return ("el", node.name, list(node.attrs.items()), [_shape(c) for c in node.children])
    return (type(node).__name__, str(node))


def _assert_same_dom(text: str) -> None:
    assert _shape(parse_html(text)) == _shape(_stock_parse(text))


# --- generated HTML ----------------------------------------------------------

_NAMES = st.sampled_from(
    ["p", "div", "B", "Span", "br", "img", "script", "style", "SCRIPT", "table", "td",
     "a", "x-y", "o:p", "li", "h1", "t\x0bx", "a<b"]
)
_ENTITIES = st.sampled_from(
    ["&amp;", "&lt;", "&gt", "&#65;", "&#x41;", "&#X263a;", "&nbsp;", "&nbsp", "&notit;",
     "&bogus;", "&#;", "&#xZZ;", "&", "&#", "&am", "&#0;", "&#x110000;"]
)
_TEXT = st.text(alphabet="ab Я\n\t\xa0;#=/'\"<>&-!?", max_size=12)


def _attr_value():
    return st.one_of(
        st.builds(lambda v: f'"{v}"', st.text(alphabet="ab >&;#/='x", max_size=8)),
        st.builds(lambda v: f"'{v}'", st.text(alphabet="ab >&;#/=\"x", max_size=8)),
        st.text(alphabet="ab&;#/=x'\"", max_size=6),  # bare value
        st.builds(lambda e, t: e + t, _ENTITIES, st.text(alphabet="ab", max_size=3)),
    )


_ATTR = st.one_of(
    st.sampled_from(["href", "CLASS", "style", "border", "data-x", "ch\xe9"]),
    st.builds(
        lambda name, sp1, eq, sp2, value: f"{name}{sp1}{eq}{sp2}{value}",
        st.sampled_from(["href", "Style", "type", "x", "rowspan"]),
        st.sampled_from(["", " ", "\n"]),
        st.sampled_from(["=", "==", "= "]),
        st.sampled_from(["", " ", "\t"]),
        _attr_value(),
    ),
)


def _start_tag():
    return st.builds(
        lambda name, attrs, sep, close: "<" + name + "".join(sep + a for a in attrs) + close,
        _NAMES,
        st.lists(_ATTR, max_size=3),
        st.sampled_from([" ", "  ", "\n", "/", " /"]),
        st.sampled_from([">", "/>", " >", " />", "", "/", " "]),
    )


_END_TAG = st.one_of(
    st.builds(lambda n: f"</{n}>", _NAMES),
    st.builds(lambda n, t: f"</ {n}{t}", _NAMES, st.sampled_from([" >", ">", " x=1>", "", " "])),
    st.sampled_from(["</>", "</ >", "</3>", "</", "</p", "</p x='>'>", "</-->"]),
)

_RAW_BODY = st.builds(
    lambda tag, body, close: f"<{tag}>{body}{close}",
    st.sampled_from(["script", "style", "Script"]),
    st.lists(
        st.sampled_from(["var a = 1 < 2;", "</", "</b>", "</scr", "</script", "&amp;", "<!--", "x"]),
        max_size=5,
    ).map("".join),
    st.sampled_from(["</script>", "</style>", "</SCRIPT >", "</ script>", "</script", ""]),
)

_MARKUP = st.sampled_from(
    ["<!-- c -->", "<!---->", "<!--->", "<!-- a -- b --  >", "<!--", "<!-- open",
     "<!doctype html>", "<!DOCTYPE html PUBLIC \"x\">", "<!doctype", "<!x>", "<![CDATA[x]]>",
     "<![if !IE]>", "<!", "<?xml version='1.0'?>", "<?pi", "<?>", "<", "< p>", "<3", "<<", "&",
     "&&", "<a", "<a href='x", "<div class=\"x"]
)

_FRAGMENT = st.one_of(_TEXT, _ENTITIES, _start_tag(), _END_TAG, _RAW_BODY, _MARKUP)
_HTML = st.lists(_FRAGMENT, max_size=25).map("".join)


@given(_HTML)
@settings(max_examples=600, deadline=None)
@example("<p>a &amp; b</p>")
@example("<script>if (a</b) {}</script><p>x")
@example("<div><p>open <b>bold")
@example("text &#6")
@example("x &notin y <")
@example("<P>A</p><BR><Img/>")
@example("<style>a</style")
def test_tree_parser_matches_stock_html_parser(html):
    _assert_same_dom(html)


@given(st.text(max_size=300))
@settings(max_examples=300, deadline=None)
def test_tree_parser_matches_stock_html_parser_on_any_text(text):
    _assert_same_dom(text)
