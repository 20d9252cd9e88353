"""HTML → lines + tables extraction with the reference reader's semantics.

Reference: dedoc/readers/html_reader/html_reader.py:25-314,
html_tags.py:1-34, html_tag_annotation_parser.py:21-128,
html_line_postprocessing.py:10-39.

Reproduced behaviors (same dispatch order, same md5 uid chains, same
html_tag assignment cascade):
  - recursive block walk: service tags (script/style), comments, doctypes
    dropped; block tags recurse; list tags synthesize textual markers;
    leaf text tags become single lines with inline span annotations;
  - headers h1..h6 → tag hierarchy level (1, n, False, "header");
  - ordered-list markers "1. ", "a) ", "A) " with alphabetic base-26 carry
    for index ≥ 26; nested list items bump level_1 += 2;
  - visible <table> (border attr or border-{top,bottom}-style:solid in a td
    style) extracted to a Table with rowspan/colspan expansion (merged
    cells cloned into every covered slot, clones invisible); border-less
    tables flattened to tab-joined text lines;
  - inline annotations: b/i/u/s/sub/sup/a(linked_text) + CSS style parse
    (font-style/weight/size pt|px÷0.75, text-align, font-family,
    display:none→hidden);
  - postprocess: trailing "\\n" before paragraph-tag successors,
    "\\xa0"→" ", sequential line_id.

Determinism: the reference prefixes uids with a file-content hash
(html_reader.py:38); here the per-document seed is md5(url) so the same
url+bytes always produce the same uids (SURVEY.md §7.0).
"""

from __future__ import annotations

import hashlib
import string
from typing import Dict, List, Optional, Tuple

from dedoc_spark.core.dom import Comment, Doctype, Element, Node, Text, parse_html
from dedoc_spark.core.model import Annotation, Cell, HierarchyLevel, Line, Table

# --- tag taxonomy (html_tags.py:1-34) -------------------------------------

SERVICE_TAGS = frozenset({"script", "style"})
LIST_ITEMS = ("li", "dd", "dt")
BLOCK_TAGS = frozenset(
    ["aside", "article", "body", "div", "blockquote", "footer", "header", "html",
     "main", "nav", "section", "form", *LIST_ITEMS]
)
UNORDERED_LIST = frozenset({"ul", "dl", "dir"})
ORDERED_LIST = frozenset({"ol"})
LIST_TAGS = UNORDERED_LIST | ORDERED_LIST
HEADER_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

STRIKE_TAGS = frozenset({"del", "strike", "s"})
BOLD_TAGS = frozenset({"strong", "b"})
UNDERLINED_TAGS = frozenset({"ins", "u"})
ITALIC_TAGS = frozenset({"em", "i", "dfn", "var", "address"})
SUBSCRIPT_TAGS = frozenset({"sub"})
SUPERSCRIPT_TAGS = frozenset({"sup"})
LINK_TAGS = frozenset({"a"})

STYLED_TAGS = BOLD_TAGS | ITALIC_TAGS | UNDERLINED_TAGS | STRIKE_TAGS | SUPERSCRIPT_TAGS | SUBSCRIPT_TAGS
SIMPLE_TEXT_TAGS = frozenset(
    ["a", "abbr", "acronym", "applet", "area", "article", "aside", "bdi", "bdo",
     "big", "canvas", "caption", "center", "cite", "code", "data", "font", "kbd",
     "mark", "output", "p", "pre", "q", "samp", "small", "span", "tt", "wbr"]
)
TEXT_TAGS = SIMPLE_TEXT_TAGS | STYLED_TAGS

TABLE_ROWS = ("tr",)
TABLE_CELLS = ("td", "th")

SPECIAL_SYMBOL_TAGS: Dict[str, str] = {"br": "\n"}
PARAGRAPH_TAGS = frozenset({"p"}) | BLOCK_TAGS | set(LIST_ITEMS) | HEADER_TAGS
AVAILABLE_TAGS = (
    BLOCK_TAGS | LIST_TAGS | HEADER_TAGS | TEXT_TAGS | set(SPECIAL_SYMBOL_TAGS) | PARAGRAPH_TAGS
)

# alignment values accepted by the reference AlignmentAnnotation
ALIGNMENT_VALUES = frozenset({"left", "right", "both", "center"})


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


# --- inline annotation parser (html_tag_annotation_parser.py:21-128) ------


def _parse_annotations(tag: Element, start: int = 0) -> Tuple[int, List[Annotation]]:
    if tag.name not in TEXT_TAGS:
        return 0, []

    annotations: List[Annotation] = []
    curr_len = 0
    for sub in tag.children:
        if isinstance(sub, str):
            curr_len += len(sub)
            continue
        part_len, part_ann = _parse_annotations(sub, start + curr_len)
        annotations.extend(part_ann)
        curr_len += part_len

    annotations.extend(_tag_annotations(tag, start, start + curr_len))
    style = tag.attrs.get("style")
    if style is not None:
        annotations.extend(_parse_style_string(style, start, start + curr_len))
    return curr_len, annotations


def _tag_annotations(tag: Element, start: int, end: int) -> List[Annotation]:
    name = tag.name
    if name in BOLD_TAGS:
        return [Annotation(start, end, "bold", "True")]
    if name in ITALIC_TAGS:
        return [Annotation(start, end, "italic", "True")]
    if name in UNDERLINED_TAGS:
        return [Annotation(start, end, "underlined", "True")]
    if name in SUPERSCRIPT_TAGS:
        return [Annotation(start, end, "superscript", "True")]
    if name in SUBSCRIPT_TAGS:
        return [Annotation(start, end, "subscript", "True")]
    if name in LINK_TAGS:
        return [Annotation(start, end, "linked_text", tag.get("href", ""))]
    if name in STRIKE_TAGS:
        return [Annotation(start, end, "strike", "True")]
    return []


def _parse_style_string(styles_string: str, start: int, end: int) -> List[Annotation]:
    annotations: List[Annotation] = []
    for st in styles_string.split(";"):
        st = st.strip()
        if not st:
            continue
        pair = st.split(":")
        if len(pair) != 2:
            continue
        key, value = pair
        value = value.strip()
        ann = _style_annotation(key, value, start, end)
        if ann is not None:
            annotations.append(ann)
    return annotations


def _style_annotation(key: str, value: str, start: int, end: int) -> Optional[Annotation]:
    if key == "font-style":
        return Annotation(start, end, "italic", "True") if value == "italic" else None
    if key == "font-weight":
        return Annotation(start, end, "bold", "True") if value == "bold" else None
    if key == "font-size":
        size = _parse_font_size(value)
        return Annotation(start, end, "size", size) if size is not None else None
    if key == "text-align":
        if value in ALIGNMENT_VALUES:
            return Annotation(start, end, "alignment", value)
        if value in ("start", "end"):
            return Annotation(start, end, "alignment", "left")
        return None
    if key == "font-family":
        return Annotation(start, end, "style", value)
    if key == "display":
        return Annotation(start, end, "style", "hidden") if value in ("none", "hidden") else None
    return None


def _parse_font_size(value: str) -> Optional[str]:
    if value.endswith("pt"):
        return value[:-2]
    if value.endswith("px"):
        try:
            return str(float(value[:-2]) / 0.75)
        except ValueError:
            return None
    try:
        return str(float(value))
    except ValueError:
        return None


# --- the reader -------------------------------------------------------------


class HtmlExtractor:
    """Stateless per-document HTML extraction (one instance reusable across
    documents; all state is per-call)."""

    def extract(
        self, html: bytes | str, url_hash: str, handle_invisible_table: bool = False
    ) -> Tuple[List[Line], List[Table], List[str]]:
        """Parse one document. ``url_hash`` plays the role of the reference's
        file-content hash in uid chains (html_reader.py:38)."""
        warnings: List[str] = []
        root = parse_html(html)
        lines = self._read_blocks(
            root, url_hash, handle_invisible_table=handle_invisible_table
        )
        tables = []
        for index, table_el in enumerate(root.find_all("table")):
            if self._visible_table(table_el, handle_invisible_table):
                try:
                    tables.append(self._read_table(table_el, url_hash, index))
                except Exception as e:  # hostile table structure: degrade, don't fail
                    warnings.append(f"table {index} skipped: {type(e).__name__}")
        self._postprocess(lines)
        return lines, tables, warnings

    # -- block walk (html_reader.py:48-136) --------------------------------

    def _read_blocks(
        self,
        block: Element,
        url_hash: str,
        handle_invisible_table: bool = False,
        table: bool = False,
        uid: str = "",
    ) -> List[Line]:
        # block is the root, a block tag or a table cell: never a script,
        # style, comment or doctype, so the reference's content-tag check
        # always passes here
        tag_uid = _md5(url_hash + uid + str(block.name))
        lines: List[Line] = []
        for tag in block:
            lines.extend(
                self._handle_block(
                    tag, url_hash, handle_invisible_table=handle_invisible_table,
                    table=table, uid=tag_uid,
                )
            )
        return lines

    def _handle_block(
        self,
        tag: Node,
        url_hash: str,
        handle_invisible_table: bool,
        table: bool = False,
        uid: str = "",
    ) -> List[Line]:
        name = tag.name  # None for a text node
        # the tag uid md5(uid + str(name)) is hashed only on the branches
        # that can yield lines
        if isinstance(tag, str):
            # comments, doctypes and whitespace-only text yield no line
            if isinstance(tag, (Doctype, Comment)) or not tag.strip():
                return []
            block_lines = self._handle_text_line(tag, url_hash, _md5(uid + str(name)))
        elif name in SERVICE_TAGS:
            return []
        elif name == "table" and not self._visible_table(tag, handle_invisible_table):
            block_lines = self._handle_invisible_table(tag, url_hash, _md5(uid + name))
        elif name not in AVAILABLE_TAGS:
            return []
        elif name in SPECIAL_SYMBOL_TAGS:
            block_lines = self._handle_text_line(
                SPECIAL_SYMBOL_TAGS[name], url_hash, _md5(uid + name), ignore_space=False
            )
        elif name in BLOCK_TAGS:
            # NOTE: the reference does not forward handle_invisible_table /
            # table into nested blocks (html_reader.py:70) — kept as-is.
            block_lines = self._read_blocks(tag, url_hash, uid=_md5(uid + name))
        elif name in LIST_TAGS:
            block_lines = self._read_list(tag, _md5(uid + name), url_hash, handle_invisible_table)
        else:
            block_lines = self._handle_single_tag(tag, url_hash, _md5(uid + name), table)

        for line in block_lines:
            if not line.extras.get("html_tag"):
                line.extras["html_tag"] = name
        return block_lines

    def _handle_single_tag(
        self, tag: Element, url_hash: str, uid: str, table: bool = False
    ) -> List[Line]:
        text = self._get_text(tag, table)
        if not text or text.isspace():
            return []
        annotations = _parse_annotations(tag)[1]
        header_level = int(tag.name[1:]) if tag.name in HEADER_TAGS else 0
        line_type = HierarchyLevel.unknown if header_level == 0 else HierarchyLevel.header
        tag_uid = _md5(uid + text)
        line = self._make_line(text, line_type, header_level, tag_uid, url_hash, annotations)
        line.extras["html_tag"] = tag.name
        return [line]

    def _handle_text_line(
        self, block: str, url_hash: str, uid: str, ignore_space: bool = True
    ) -> List[Line]:
        if not block.strip() and ignore_space:
            return []
        tag_uid = _md5(uid + block)
        return [self._make_line(block, HierarchyLevel.unknown, 0, tag_uid, url_hash)]

    @staticmethod
    def _make_line(
        line: str,
        line_type: str,
        header_level: int = 0,
        uid: str = "",
        url_hash: str = "",
        annotations: Optional[List[Annotation]] = None,
    ) -> Line:
        tag_hl = (
            None
            if header_level == 0
            else HierarchyLevel(1, header_level, False, line_type)
        )
        return Line(
            line=line,
            page_id=0,
            line_id=None,
            tag_hl=tag_hl,
            annotations=annotations or [],
            uid=f"{url_hash}_{uid}",
        )

    # -- lists (html_reader.py:138-200) -------------------------------------

    @staticmethod
    def _li_marker(list_type: str, index: int) -> Line:
        end = ") " if list_type in ("a", "A") else ". "
        if list_type == "":
            header = ""
        elif list_type in ("a", "A"):
            alphabet = string.ascii_lowercase if list_type == "a" else string.ascii_uppercase
            header = alphabet[index % len(alphabet)]
            while index >= len(alphabet):
                index = index // len(alphabet) - 1
                header = alphabet[index % len(alphabet)] + header
            header = header + end
        else:
            header = str(index + 1) + end
        return Line(
            line=header,
            page_id=0,
            line_id=0,
            tag_hl=HierarchyLevel(2, 1, False, HierarchyLevel.list_item),
        )

    def _read_list(
        self, lst: Element, uid: str, url_hash: str, handle_invisible_table: bool
    ) -> List[Line]:
        tag_uid = _md5(uid + str(lst.name))
        lines: List[Line] = []
        list_type = lst.get("type", "1" if lst.name in ORDERED_LIST else "")
        item_index = 0
        for item in lst:
            if isinstance(item, Element) and item.name in LIST_ITEMS:
                lines.extend(
                    self._handle_list_item(
                        item, item_index, list_type, url_hash, tag_uid, handle_invisible_table
                    )
                )
                item_index += 1
        return lines

    def _handle_list_item(
        self,
        item: Element,
        item_index: int,
        list_type: str,
        url_hash: str,
        uid: str,
        handle_invisible_table: bool,
    ) -> List[Line]:
        tag_uid = _md5(uid + str(item.name))
        lines: List[Line] = []
        header_line = self._li_marker(list_type, item_index)
        # deterministic replacement for the reference's uuid1 marker uid
        header_line.uid = f"{url_hash}_{_md5(tag_uid + f'li#{item_index}')}"
        block_lines = self._handle_block(
            item, url_hash, handle_invisible_table=handle_invisible_table, uid=tag_uid
        )
        hl_depth = header_line.tag_hl.level_1
        for line in block_lines:
            if line.tag_hl.is_unknown():
                header_line = header_line.concat(line)
            else:
                # nested lists / headers inside the item
                lines.append(header_line)
                line.tag_hl.level_1 += hl_depth
                header_line = line
        lines.append(header_line)
        return lines

    # -- text & content predicates (html_reader.py:202-223) -----------------

    @staticmethod
    def _get_text(tag: Element, table: bool = False) -> str:
        tag.replace_brs_with_newlines()
        text = tag.get_text() + "\n" if tag.name == "p" and not table else tag.get_text()
        return "" if text is None else text

    # -- tables (html_reader.py:225-314) -------------------------------------

    def _handle_invisible_table(self, block: Element, url_hash: str, uid: str) -> List[Line]:
        result: List[Line] = []
        try:
            rows = self._read_table(block, url_hash, 0).cells
        except Exception:
            return []
        for row in rows:
            text = "\t".join(cell.get_text() for cell in row)
            if text.strip() != "":
                tag_uid = _md5(uid + text)
                result.append(
                    self._make_line(text, HierarchyLevel.unknown, 0, tag_uid, url_hash)
                )
        return result

    @staticmethod
    def _clone_cell(el: Element) -> Element:
        copy = el.clone()
        copy.hidden = True
        copy.attrs["colspan"] = 1
        copy.attrs["rowspan"] = 1
        return copy

    @staticmethod
    def _int_attr(el: Element, key: str) -> int:
        try:
            return int(el.attrs.get(key, 1))
        except (TypeError, ValueError):
            return 1

    def _split_table_cells(self, table: Element, table_list: List[List[Element]]) -> None:
        for row_index, row in enumerate(table.find_all(TABLE_ROWS)):
            for cell_index, cell in enumerate(row.find_all(TABLE_CELLS)):
                cell_rowspan = self._int_attr(cell, "rowspan")
                cell_colspan = self._int_attr(cell, "colspan")
                if cell_rowspan > 1 or cell_colspan > 1:
                    cell_copy = self._clone_cell(cell)
                    table_list[row_index][cell_index + 1 : cell_index + 1] = [cell_copy] * (
                        cell_colspan - 1
                    )
                    for index in range(row_index + 1, min(row_index + cell_rowspan, len(table_list))):
                        table_list[index][cell_index:cell_index] = [cell_copy] * cell_colspan

    def _fix_table(self, table: Element) -> List[List[Element]]:
        table_list = [list(row.find_all(TABLE_CELLS)) for row in table.find_all(TABLE_ROWS)]
        self._split_table_cells(table, table_list)
        return table_list

    def _read_table(self, table: Element, url_hash: str, index: int) -> Table:
        cells_with_meta: List[List[Cell]] = []
        for row in self._fix_table(table):
            row_cells = []
            for cell in row:
                row_cells.append(
                    Cell(
                        lines=self._read_blocks(cell, url_hash, table=True),
                        colspan=self._int_attr(cell, "colspan"),
                        rowspan=self._int_attr(cell, "rowspan"),
                        invisible=bool(cell.hidden),
                    )
                )
            cells_with_meta.append(row_cells)
        # deterministic table uid replacing the reference's uuid4
        uid = _md5(f"{url_hash}_table_{index}")
        return Table(cells=cells_with_meta, page_id=0, uid=uid)

    @staticmethod
    def _visible_table(table: Element, handle_invisible_table: bool) -> bool:
        if handle_invisible_table:
            return True
        for td in table.find_all("td"):
            style = td.attrs.get("style", "")
            if "border-bottom-style:solid" in style or "border-top-style:solid" in style:
                return True
        return table.attrs.get("border", "0") != "0"

    # -- postprocess (html_line_postprocessing.py:10-39) --------------------

    @staticmethod
    def _postprocess(lines: List[Line]) -> None:
        for line, next_line in zip(lines[:-1], lines[1:]):
            next_tag = next_line.extras.get("html_tag")
            if not line.line.endswith("\n") and next_tag in PARAGRAPH_TAGS:
                line.line = line.line + "\n"
        for line_id, line in enumerate(lines):
            line.line = line.line.replace("\xa0", " ")
            line.line_id = line_id
