"""Golden output of the web-page route.

The Spark-vs-plain-function checks compare two runs of the same code, so
they cannot see a change in the output bytes themselves. These tests pin
a sha256 over the full ``extract_document`` output of

  - 2,000 synthetic web pages (all seven HTML templates, plain-text rows,
    hostile and oversized pages) at two seeds;
  - 1,500 randomly nested HTML fragments (tables with spans and borders,
    list types, inline styles, links, stray markup, unclosed tags), with
    and without ``handle_invisible_table``.

A digest change means the extracted text, lines, tree, nodes or tables
changed for some document: that is a break of the byte-parity contract
unless it is deliberate.
"""

import hashlib
import json
import random

import pytest

from dedoc_spark.core.document import extract_document
from dedoc_spark.sources.web_pages import make_row

GOLDEN = {
    1: "0d6a37fe3679fa631b5c4a72e934a6bfe7921bc60a6e2cef651dd28acb890be9",
    311: "f465ba0f75c84ca34fec762df8d06033458388e2c440256981ed0645eccb9538",
}
GENERATED_GOLDEN = "40a51b9ff3dbcc623cd77ac6ddaf69401d4e93918a5ae9b717f961a6db9c6ee1"


def output_digest(seed: int, n: int = 2000) -> str:
    """sha256 over ``json.dumps(extract_document(row), sort_keys=True)``,
    one line per row, for ``make_row(i, seed)``, i < n."""
    h = hashlib.sha256()
    for i in range(n):
        row = make_row(i, seed)
        out = extract_document(row["url"], row["html"], row["text"])
        h.update(json.dumps(out, sort_keys=True).encode())
        h.update(b"\n")
    return h.hexdigest()


@pytest.mark.parametrize("seed", sorted(GOLDEN))
def test_web_pages_output_digest(seed):
    assert output_digest(seed) == GOLDEN[seed]


_NAMES = [
    "p", "div", "b", "i", "u", "s", "a", "span", "br", "img", "script", "style", "table",
    "tr", "td", "th", "ul", "ol", "li", "dl", "dd", "dt", "h1", "h2", "h3", "em", "strong",
    "sub", "sup", "body", "html", "head", "title", "section", "article", "nav", "header",
    "footer", "blockquote", "pre", "code", "font", "center", "del", "ins", "X-Y", "P", "TD",
]
_ATTRS = [
    'href="http://x/y?a=1&amp;b=2"', 'style="font-weight:bold"',
    'style="font-size:14pt;text-align:center"', 'style="display:none"',
    "style='border-top-style:solid'", 'border="1"', "border=0", 'rowspan="2"', "colspan=3",
    'rowspan="x"', 'type="a"', 'type="A"', 'type="1"', "class",
    'style="font-style:italic;font-family:Arial"', 'style="font-size:12px"',
]
_TEXTS = [
    "hello world", "  ", "\n", "Привет мир", "1. item", "a) letter", "- bullet",
    "&nbsp;x&nbsp;", "&amp;", "&lt;b&gt;", "x < y", "a & b", "\xa0", "IV. roman",
    "2.3.4 dotted", "\t tab",
]
_MARKUP = [
    "<!-- c -->", "<!DOCTYPE html>", "<?pi x?>", "</>", "<", "<br/>", "<hr>", "</p>",
    "</div>", "</li>", "<![CDATA[z]]>", "&", "<b", "<p x='",
]


def generated_html(n: int, seed: int = 12345):
    """``n`` deterministic random HTML documents."""
    rng = random.Random(seed)

    def fragment(depth: int) -> str:
        k = rng.random()
        if k < 0.35 or depth > 6:
            return rng.choice(_TEXTS)
        if k < 0.45:
            return rng.choice(_MARKUP)
        name = rng.choice(_NAMES)
        attrs = " " + " ".join(rng.sample(_ATTRS, rng.randint(1, 2))) if rng.random() < 0.3 else ""
        inner = "".join(fragment(depth + 1) for _ in range(rng.randint(0, 4)))
        close = f"</{name}>" if rng.random() < 0.85 else ""
        return f"<{name}{attrs}>{inner}{close}"

    return ["".join(fragment(0) for _ in range(rng.randint(1, 8))) for _ in range(n)]


def test_generated_html_output_digest():
    h = hashlib.sha256()
    for i, html in enumerate(generated_html(1500)):
        for handle_invisible_table in (False, True):
            out = extract_document(
                f"https://gen.example/{i}", html.encode(), None,
                handle_invisible_table=handle_invisible_table,
            )
            h.update(json.dumps(out, sort_keys=True).encode())
            h.update(b"\n")
    assert h.hexdigest() == GENERATED_GOLDEN
