"""End-to-end per-document extraction: reader → structure → tree → text.

These are the pure functions that the Spark extraction stage
(operators/pipeline.py) maps over Arrow batches. They are also called
directly in unit tests — same code path, same bytes out.

Lifecycle mirrors DedocManager.parse (dedoc_manager.py:100-126): read →
structure extraction → tree construction; metadata comes from the input
table columns instead of os.stat (SURVEY.md §2.12).
"""

from __future__ import annotations

import hashlib
import json
from typing import Dict, List, Optional, Sequence

from dedoc_spark.core.html_extract import HtmlExtractor
from dedoc_spark.core.model import Line
from dedoc_spark.core.structure import assign_hierarchy_levels
from dedoc_spark.core.tree import construct_tree, flatten_tree, tree_to_text
from dedoc_spark.core.txt_extract import extract_txt_lines

_HTML_EXTRACTOR = HtmlExtractor()
# json.dumps(obj, ensure_ascii=False) builds a new encoder per call; one
# shared encoder writes the same text. No circular check: the output dicts
# are built fresh from the document model and cannot contain cycles.
_to_json = json.JSONEncoder(ensure_ascii=False, check_circular=False).encode


def url_hash(url: str) -> str:
    """Content-derived per-document seed replacing the reference's
    file-content hash in uid chains (SURVEY.md §7.0)."""
    return hashlib.md5(url.encode()).hexdigest()


def _finalize(url: str, lines: List[Line], tables, warnings, params: Optional[Dict] = None) -> Dict:
    """Structure extraction + construction with the reference's parameter
    surface (api_args.py:7-54 subset): ``patterns`` replaces the default
    chain, ``structure_type`` picks tree|linear."""
    params = params or {}
    patterns = params.get("patterns")
    document_type = params.get("document_type")
    # use_trained_labelers (engine addition, documented in COVERAGE §2.10):
    # swap the domain extractors' regex label stand-ins for the trained
    # open models (operators/line_labeler) through the labeler hook; the
    # default stays the regex stand-in so output bytes are unchanged
    labeler = None
    if str(params.get("use_trained_labelers", "false")).lower() == "true" and document_type in (
        "law", "foiv_law", "tz", "diploma"
    ):
        from dedoc_spark.operators.line_labeler import get_labeler, predict_labels_with_model

        model = get_labeler("law" if document_type == "foiv_law" else document_type)
        labeler = lambda lns: predict_labels_with_model(model, lns)  # noqa: E731
    if document_type in ("law", "foiv_law"):
        # law-family structure extraction (classifying_law_structure_
        # extractor routing collapsed to the explicit parameter; "law"
        # re-routes to foiv when the document hat names a foiv type)
        from dedoc_spark.core.law_structure import extract_law_structure, route_law_extractor

        hl_type = "foiv" if document_type == "foiv_law" else route_law_extractor(
            [ln.line for ln in lines]
        )
        lines = extract_law_structure(lines, hl_type=hl_type, labeler=labeler)
    elif document_type == "tz":
        from dedoc_spark.core.tz_diploma import extract_tz_structure

        lines = extract_tz_structure(lines, labeler=labeler)
    elif document_type == "diploma":
        from dedoc_spark.core.tz_diploma import extract_diploma_structure

        lines = extract_diploma_structure(lines, labeler=labeler)
    elif document_type == "fintoc":
        from dedoc_spark.core.fintoc import extract_fintoc_structure

        lines = extract_fintoc_structure(lines, params)
    elif document_type == "article":
        # ArticleStructureExtractor (article_structure_extractor.py:19-34):
        # reader-assigned tag levels pass through untouched, NO
        # regexp postprocessing; unknown tags become raw_text
        from dedoc_spark.core.model import HierarchyLevel as _HL

        for ln in lines:
            if ln.tag_hl is None or ln.tag_hl.is_unknown():
                ln.tag_hl = _HL.create_raw_text()
                ln.hl = _HL.create_raw_text()
            else:
                ln.hl = ln.tag_hl
    elif patterns:
        from dedoc_spark.core.constructors import assign_levels_with_patterns

        assign_levels_with_patterns(lines, patterns)
    else:
        assign_hierarchy_levels(lines)
    if params.get("structure_type") == "linear":
        from dedoc_spark.core.constructors import construct_linear

        tree = construct_linear(lines)
    else:
        tree = construct_tree(lines)
    text_extracted = tree_to_text(tree)
    # UnstructuredDocument.get_text() semantics (unstructured_document.py:44-45)
    text_linear = "\n".join(line.line for line in lines)
    out = {
        "url": url,
        "text_extracted": text_extracted,
        "text_linear": text_linear,
        "n_lines": len(lines),
        "n_tables": len(tables),
        "lines_json": _to_json([ln.to_dict() for ln in lines]),
        "tree_json": _to_json(tree.to_dict()),
        "nodes_json": _to_json(flatten_tree(tree)),
        "tables_json": _to_json([t.to_dict() for t in tables]),
        "warnings": list(warnings),
        "error": None,
    }
    # return_format (dedoc_api.py:75-105): response REPRESENTATION, not a
    # parse change — opt-in, so the extra "rendered" key appears only when
    # the parameter is set (the Spark stage's fixed schema never sets it)
    return_format = str(params.get("return_format", "json")).lower()
    if return_format != "json":
        if return_format == "html":
            from dedoc_spark.core.json2html import json2html

            out["rendered"] = json2html(tree, list(tables))
        elif return_format == "plain_text":
            out["rendered"] = text_extracted  # json2txt == tree_to_text
        elif return_format == "tree":
            from dedoc_spark.core.json2html import json2tree

            out["rendered"] = json2tree(tree)
        elif return_format == "collapsed_tree":
            from dedoc_spark.core.json2html import json2collapsed_tree

            out["rendered"] = json2collapsed_tree(tree)
        elif return_format in ("ujson", "pretty_json"):
            from dedoc_spark.core.api_schema import to_parsed_document

            indent = 2 if return_format == "pretty_json" else None
            out["rendered"] = json.dumps(
                to_parsed_document(out), ensure_ascii=False, indent=indent
            )
    return out


def extract_html_document(
    url: str, html: bytes | str, handle_invisible_table: bool = False,
    params: Optional[Dict] = None,
) -> Dict:
    """Full HTML pipeline for one document."""
    lines, tables, warnings = _HTML_EXTRACTOR.extract(
        html, url_hash(url), handle_invisible_table=handle_invisible_table
    )
    return _finalize(url, lines, tables, warnings, params)


def extract_txt_document(url: str, text: str, params: Optional[Dict] = None) -> Dict:
    """Full plain-text pipeline for one document."""
    lines = extract_txt_lines(text)
    return _finalize(url, lines, [], [], params)


def extract_json_document(url: str, payload: str, params: Optional[Dict] = None) -> Dict:
    from dedoc_spark.core.formats import extract_json_lines

    params = params or {}
    html_fields = params.get("html_fields")
    lines = extract_json_lines(payload, url_hash(url), html_fields=html_fields)
    warnings: List[str] = []
    if html_fields:
        # excluded fields become html attachments (surface through the
        # attachment channel, list_attachments with the same params)
        from dedoc_spark.core.formats import json_html_field_attachments

        warnings = [
            f"attachment: {name}" for name, _ in json_html_field_attachments(payload, html_fields)
        ]
    return _finalize(url, lines, [], warnings, params)


def extract_csv_document(
    url: str, payload: str, is_tsv: bool = False, params: Optional[Dict] = None
) -> Dict:
    from dedoc_spark.core.formats import extract_csv_table

    params = params or {}
    tables, warnings = extract_csv_table(
        payload, url_hash(url), delimiter=params.get("delimiter"), is_tsv=is_tsv
    )
    return _finalize(url, [], tables, warnings, params)


def extract_email_document(url: str, payload: bytes) -> Dict:
    from dedoc_spark.core.formats import extract_email

    lines, tables, warnings = extract_email(payload, url_hash(url))
    return _finalize(url, lines, tables, warnings)


def extract_mhtml_document(url: str, payload: bytes) -> Dict:
    from dedoc_spark.core.formats import extract_mhtml

    lines, tables, warnings = extract_mhtml(payload, url_hash(url))
    return _finalize(url, lines, tables, warnings)


def extract_docx_document(url: str, payload: bytes) -> Dict:
    from dedoc_spark.core.docx_extract import extract_docx

    lines, tables, warnings = extract_docx(payload, url_hash(url))
    return _finalize(url, lines, tables, warnings)


def extract_xlsx_document(url: str, payload: bytes) -> Dict:
    from dedoc_spark.core.office_extract import extract_xlsx_tables

    tables, warnings = extract_xlsx_tables(payload, url_hash(url))
    return _finalize(url, [], tables, warnings)


def extract_xls_document(url: str, payload: bytes) -> Dict:
    from dedoc_spark.core.xls_extract import extract_xls_tables

    tables, warnings = extract_xls_tables(payload, url_hash(url))
    return _finalize(url, [], tables, warnings)


def extract_pptx_document(url: str, payload: bytes) -> Dict:
    from dedoc_spark.core.office_extract import extract_pptx

    lines, tables, warnings = extract_pptx(payload, url_hash(url))
    return _finalize(url, lines, tables, warnings)


def extract_scanned_image_document(url: str, payload: bytes, params: Optional[Dict] = None) -> Dict:
    """PdfImageReader route for standalone images (pdf_image_reader.py:41-47
    registers image_like_format): decode pixels (core/image_decode) and run
    the scanned-page pipeline (core/ocr.process_scanned_page — orientation,
    binarization, table recognition, OCR with a documented engine stand-in,
    metadata annotations). Reached via pdf_with_text_layer="false" — the
    reference value that forces the OCR reader (parameter_utils); documented
    deviation: the reference ALWAYS OCRs standalone images, here the route
    is opt-in so the default multimodal-channel bytes stay stable."""
    from dedoc_spark.core.image_decode import decode_image
    from dedoc_spark.core.ocr import process_scanned_page

    # multi-page fax TIFFs: every IFD page is a scanned page (the
    # reference's PIL conversion walks frames the same way)
    if payload[:4] in (b"II*\x00", b"MM\x00*", b"II+\x00", b"MM\x00+"):
        from dedoc_spark.core.tiff_decode import decode_tiff_pages

        rasters = decode_tiff_pages(payload)
        if not rasters:
            raise ValueError("tiff: no decodable pages")
    else:
        rasters = [decode_image(payload)[2]]
    seed = url_hash(url)
    lines: List[Line] = []
    located = []
    angles: List[float] = []
    for page_id, rgb in enumerate(rasters):
        pl, pt, angle = process_scanned_page(rgb, page_id, seed, params or {})
        lines.extend(pl)
        located.extend(pt)
        angles.append(angle)
    warnings = []
    if any(angles):
        joined = ", ".join(f"{a:g}" for a in angles)
        warnings.append(f"rotated page angles: [{joined}]")
    return _finalize(url, lines, _merge_located_tables(located, lines), warnings, params)


def _extract_scanned_pdf(
    url: str,
    payload: bytes,
    params: Dict,
    page_images: Optional[List] = None,
    trailing_warnings: Sequence[str] = (),
) -> Dict:
    """PdfImageReader branch for PDFs: forced by pdf_with_text_layer=
    "false", or reached from auto mode when the textual layer is
    incorrect (pdf_auto_reader routing table / parameter_utils).
    Embedded page rasters are decoded directly (core/ocr.
    extract_pdf_page_images — the pdf2image analogue for scanned pages)
    and each runs the scanned-page pipeline; ``pages`` prunes like the
    text-layer path (pdf_base_reader.py:108-128). ``trailing_warnings``
    mirror pdf_auto_reader.py:67-68 ``result.warnings.extend(warnings)``
    — the routing warning lands AFTER the reader's own."""
    from dedoc_spark.core.ocr import extract_pdf_page_images, process_scanned_page

    seed = url_hash(url)
    if page_images is None:
        page_images = extract_pdf_page_images(payload)
    warnings: List[str] = []
    pages_range = params.get("pages")
    if pages_range:
        left, _, right = str(pages_range).partition(":")
        lo = int(left) if left else 1
        hi = int(right) if right else len(page_images)
        if lo > 1 or hi < len(page_images):
            warnings.append("The document is partially parsed")
        page_images = page_images[lo - 1 : hi]
    lines: List[Line] = []
    located = []
    angles: List[float] = []
    for page_id, images in enumerate(page_images):
        for img in images:
            pl, pt, angle = process_scanned_page(img, page_id, seed, params)
            lines.extend(pl)
            located.extend(pt)
            angles.append(angle)
    if any(angles):
        joined = ", ".join(f"{a:g}" for a in angles)
        warnings.append(f"rotated page angles: [{joined}]")
    warnings.extend(trailing_warnings)
    return _finalize(url, lines, _merge_located_tables(located, lines), warnings, params)


def _merge_located_tables(located, lines):
    """Scanned-route table finish: page-adjacent continuations merge
    (multipage_table_extractor, like the txt-layer path in
    pdf_extract.py:946-955) and LocatedTables become schema Tables."""
    if not located:
        return []
    from dedoc_spark.core.model import Table
    from dedoc_spark.core.multipage import extract_multipage_tables

    merged = extract_multipage_tables(located, lines)
    return [
        Table(cells=t.cells, page_id=t.location.page_number, uid=t.uid)
        for t in merged
    ]


def extract_pdf_document(url: str, payload: bytes, params: Optional[Dict] = None) -> Dict:
    """PdfAutoReader routing (pdf_auto_reader.py:49-70): in auto mode the
    txt-layer detector classifies the extracted layer and records the
    reference's routing warnings; pdf_with_text_layer="false" forces the
    scanned (PdfImageReader) branch over the embedded page rasters. In
    auto mode an incorrect layer keeps the extracted lines plus the
    routing warning instead of re-reading through OCR (the auto->OCR
    re-read needs a page rasterizer, still de-scoped)."""
    from dedoc_spark.core.pdf_extract import (
        detect_txt_layer,
        extract_pdf_lines,
        extract_pdf_lines_tables,
    )

    params = params or {}
    if b"/Encrypt" in payload:
        # standard-security-handler documents with the EMPTY user password
        # decrypt transparently inside _parse_objects (core/pdf_crypt);
        # a real password is the reference's pdfminer exception path
        # (PDFPasswordIncorrect -> task error), so surface the typed row
        from dedoc_spark.core.pdf_crypt import encryption_locked

        if encryption_locked(payload):
            return _error_row(url, "needs_password:pdf")
    if str(params.get("pdf_with_text_layer", "auto")).lower() == "false":
        return _extract_scanned_pdf(url, payload, params)
    pages_range = params.get("pages")
    tables = []
    need_para = bool(params.get("need_paragraph_classification"))
    hf_raw = params.get("need_header_footer_analysis")
    need_hf = True if hf_raw is None else str(hf_raw).lower() == "true"
    # is_one_column_document (parameter_utils; reference DEFAULT "auto",
    # api_args.py:33): "false" → two-column reading order, "true" →
    # single-column, "auto"/default → per-page x-histogram detection
    # (pdf_extract._looks_two_column) that falls back to single-column on
    # ambiguity, so one-column documents keep their previous bytes
    raw_one_col = str(params.get("is_one_column_document", "auto")).lower()
    one_col = None if raw_one_col in ("auto", "none") else raw_one_col != "false"
    need_gost = bool(params.get("need_gost_frame_analysis"))
    if params.get("need_pdf_table_analysis"):
        # pdf_txtlayer_reader.py:49-73 table path: ruled tables detected
        # from the page's painted line art, captured lines leave the flow
        lines, tables, warnings = extract_pdf_lines_tables(
            payload,
            url_hash(url),
            pages_range=pages_range,
            table_type=str(params.get("table_type", "")),
            # paragraph classification needs layout bboxes — force them on
            # exactly like the non-table branch, or the flag silently no-ops
            with_layout=bool(params.get("with_layout")) or need_para,
            need_paragraph_classification=need_para,
            need_header_footer_analysis=need_hf,
            one_column=one_col,
            need_gost_frame_analysis=need_gost,
        )
    else:
        lines, warnings = extract_pdf_lines(
            payload,
            url_hash(url),
            pages_range=pages_range,
            with_layout=bool(params.get("with_layout")) or need_para,
            need_paragraph_classification=need_para,
            need_header_footer_analysis=need_hf,
            one_column=one_col,
            need_gost_frame_analysis=need_gost,
        )
    if params.get("pdf_with_text_layer", "auto") in ("auto", "auto_tabby"):
        fast = str(params.get("fast_textual_layer_detection", "false")).lower() == "true"
        is_correct, first_correct = detect_txt_layer(lines, fast=fast)
        if is_correct:
            warnings.append("Assume document has a correct textual layer")
            if not first_correct:
                warnings.append("Assume the first page hasn't a textual layer")
        else:
            # __handle_incorrect_text_layer (pdf_auto_reader.py:70-76):
            # the document re-reads through pdf_image_reader. Rasterizing
            # a VECTOR page needs a renderer (de-scoped), so the re-read
            # happens exactly when the pages carry embedded rasters — the
            # scanned-PDF shape the OCR branch exists for; garbage
            # text-layer PDFs without rasters keep their extracted lines
            # (documented deviation, test_auto_reader_routing_warnings)
            from dedoc_spark.core.ocr import extract_pdf_page_images

            page_images = extract_pdf_page_images(payload)
            if any(page_images):
                return _extract_scanned_pdf(
                    url,
                    payload,
                    params,
                    page_images=page_images,
                    trailing_warnings=["Assume document has incorrect textual layer"],
                )
            warnings.append("Assume document has incorrect textual layer")
    return _finalize(url, lines, tables, warnings, params)


def _error_row(url: str, error: str, warnings: Optional[List[str]] = None) -> Dict:
    """Typed error-channel row: same schema as a successful extraction, so
    every input url yields exactly one output row."""
    return {
        "url": url,
        "text_extracted": "",
        "text_linear": "",
        "n_lines": 0,
        "n_tables": 0,
        "lines_json": "[]",
        "tree_json": "{}",
        "nodes_json": "[]",
        "tables_json": "[]",
        "warnings": list(warnings or []),
        "error": error,
    }


def _content_resniff(
    url: str,
    html: bytes,
    failed_fmt: Optional[str],
    params: Optional[Dict],
    handle_invisible_table: bool,
) -> Optional[Dict]:
    """The reference's mime re-sniff retry (dedoc_manager.py:145-167):
    when extension-routed parsing fails, re-detect by CONTENT ONLY and try
    the sniffed reader once (catches misnamed files, e.g. an ODT shipped
    as .doc). Returns None when no different parseable format is found."""
    from dedoc_spark.core.formats import detect_format

    fmt2 = detect_format("resniff", html, None)  # no extension → pure magic
    if fmt2 == failed_fmt or fmt2.startswith(("needs_", "media:")) or fmt2 == "zip":
        return None
    try:
        if fmt2 == "docx":
            out = extract_docx_document(url, html)
        elif fmt2 == "xlsx":
            out = extract_xlsx_document(url, html)
        elif fmt2 == "pptx":
            out = extract_pptx_document(url, html)
        elif fmt2 == "xls":
            out = extract_xls_document(url, html)
        elif fmt2 == "pdf":
            out = extract_pdf_document(url, html, params)
        elif fmt2 in ("odt", "ods", "odp"):
            from dedoc_spark.core import odf_extract

            if fmt2 == "odt":
                lines, tables, w = odf_extract.extract_odt(html, url_hash(url))
            elif fmt2 == "ods":
                tables, w = odf_extract.extract_ods(html, url_hash(url))
                lines = []
            else:
                lines, tables, w = odf_extract.extract_odp(html, url_hash(url))
            out = _finalize(url, lines, tables, w, params)
        elif fmt2 == "rtf":
            from dedoc_spark.core.rtf_extract import extract_rtf_text

            texts, w = extract_rtf_text(html)
            out = _finalize(url, extract_txt_lines("\n".join(texts)), [], w, params)
        else:
            return None
    except Exception:
        return None
    out["warnings"] = [f"format re-sniffed by content: {fmt2}"] + list(out["warnings"])
    return out


def extract_document(
    url: str,
    html: Optional[bytes],
    text: Optional[str],
    handle_invisible_table: bool = False,
    params: Optional[Dict] = None,
) -> Dict:
    """Format dispatch for one input-table row (ReaderComposition
    first-match semantics, reader_composition.py:21-46: extension first,
    then content magic — see formats.detect_format). Per-row failures are
    captured in the ``error`` channel instead of failing the job
    (dedoc_manager.py:73-81 DedocError semantics)."""
    from dedoc_spark.core.formats import detect_format

    fmt: Optional[str] = None
    try:
        params = params or {}
        handle_invisible_table = bool(params.get("handle_invisible_table", handle_invisible_table))
        fmt = detect_format(url, html, text)
        if html:
            # ArticleReader's TEI analysis half (article_reader.py:64-80):
            # the GROBID HTTP call is an external service (de-scoped); a
            # user-supplied GROBID response routes here and yields the
            # reference's article structure. Routing is the DEDICATED
            # extension (*.tei/*.tei.xml — a new reader, like .note.pickle)
            # or the document_type="article" opt-in + a <TEI> root sniff;
            # a <TEI> payload under another url/params keeps its previous
            # reader (default bytes stay stable per CLAUDE.md).
            low_url = url.lower()
            is_tei_ext = low_url.endswith((".tei", ".tei.xml"))
            if is_tei_ext or params.get("document_type") == "article":
                from dedoc_spark.core.tei_extract import looks_like_tei

                if looks_like_tei(url, html):
                    from dedoc_spark.core.tei_extract import extract_tei_lines_tables

                    lines, tei_tables, warnings = extract_tei_lines_tables(
                        html,
                        url_hash(url),
                        with_attachments=str(params.get("with_attachments", "false")).lower()
                        == "true",
                    )
                    params = dict(params)
                    params.setdefault("document_type", "article")
                    return _finalize(url, lines, tei_tables, warnings, params)
        if fmt == "html" and html:
            return extract_html_document(url, html, handle_invisible_table, params)
        if fmt == "json" and html:
            return extract_json_document(url, html.decode("utf-8", errors="replace"), params)
        if fmt in ("csv", "tsv") and html:
            # explicit delimiter parameter wins (csv_reader.py:31-33)
            return extract_csv_document(
                url, html.decode("utf-8", errors="replace"), is_tsv=fmt == "tsv", params=params
            )
        if fmt == "email" and html:
            return extract_email_document(url, html)
        if fmt == "mhtml" and html:
            return extract_mhtml_document(url, html)
        if fmt == "txt" and html:
            from dedoc_spark.core.formats import decode_text_payload

            return extract_txt_document(
                url, decode_text_payload(html, params.get("encoding")), params
            )
        if fmt == "note" and html:
            # NoteReader (note_reader.py:15-37): one line from the pickled
            # dict's "content" — restricted unpickler, see formats.py
            from dedoc_spark.core.formats import extract_note_content

            lines = [Line(line=extract_note_content(html))]
            return _finalize(url, lines, [], [], params)
        if fmt == "txt_gz" and html:
            # .txt.gz reads as ONE text document (raw_text_reader.py:34-50)
            import gzip as _gzip

            from dedoc_spark.core.formats import decode_text_payload

            return extract_txt_document(
                url, decode_text_payload(_gzip.decompress(html), params.get("encoding")), params
            )
        if fmt == "docx" and html:
            return extract_docx_document(url, html)
        if fmt == "pdf" and html:
            return extract_pdf_document(url, html, params)
        if fmt == "xlsx" and html:
            return extract_xlsx_document(url, html)
        if fmt == "xls" and html:
            return extract_xls_document(url, html)
        if fmt == "rtf" and html:
            try:
                from dedoc_spark.core.rtf_extract import extract_rtf_text

                texts, warnings_nat = extract_rtf_text(html)
            except Exception as e:
                retry = _content_resniff(url, html, "rtf", params, handle_invisible_table)
                if retry is not None:
                    return retry
                return _error_row(
                    url, "needs_conversion:rtf", warnings=[f"native parse failed: {e}"]
                )
            lines = extract_txt_lines("\n".join(texts))
            return _finalize(url, lines, [], warnings_nat, params)
        if fmt in ("odt", "ods", "odp") and html:
            try:
                from dedoc_spark.core import odf_extract

                if fmt == "odt":
                    lines, tables, warnings_nat = odf_extract.extract_odt(html, url_hash(url))
                elif fmt == "ods":
                    tables, warnings_nat = odf_extract.extract_ods(html, url_hash(url))
                    lines = []
                else:
                    lines, tables, warnings_nat = odf_extract.extract_odp(html, url_hash(url))
            except Exception as e:
                retry = _content_resniff(url, html, fmt, params, handle_invisible_table)
                if retry is not None:
                    return retry
                return _error_row(
                    url, f"needs_conversion:{fmt}", warnings=[f"native parse failed: {e}"]
                )
            return _finalize(url, lines, tables, warnings_nat, params)
        if fmt in ("doc", "ppt") and html:
            # native best-effort text layer (core/doc_extract.py); a payload
            # the native parser can't read keeps the typed conversion row
            try:
                if fmt == "doc":
                    from dedoc_spark.core.doc_extract import extract_doc_text

                    texts, warnings_nat = extract_doc_text(html)
                else:
                    from dedoc_spark.core.doc_extract import extract_ppt_texts

                    texts, warnings_nat = extract_ppt_texts(html)
            except Exception as e:
                retry = _content_resniff(url, html, fmt, params, handle_invisible_table)
                if retry is not None:
                    return retry
                return _error_row(
                    url, f"needs_conversion:{fmt}", warnings=[f"native parse failed: {e}"]
                )
            lines = extract_txt_lines("\n".join(texts))
            out = _finalize(url, lines, [], warnings_nat, params)
            return out
        if fmt == "pptx" and html:
            return extract_pptx_document(url, html)
        if fmt == "zip" and html:
            # archives are exploded into member rows by
            # operators/archives.extract_with_archives; a bare per-row call
            # reports the members instead of parsing zip bytes as markup
            from dedoc_spark.core.formats import list_archive_members

            try:
                names = [n for n, _ in list_archive_members(html, max_members=100)]
            except ValueError as e:
                # rar compressed members raise the typed needs_unpacker
                # message (core/rar_extract.py) — surface it as the row's
                # error, never as an exception out of extract_document
                return _error_row(url, str(e))
            return _error_row(
                url,
                "needs_explosion:zip (use operators.archives.extract_with_archives)",
                warnings=[f"archive member: {n}" for n in names],
            )
        if fmt.startswith(("needs_conversion:", "needs_unpacker:")) and html:
            # reference converts these via soffice (converters/concrete_converters/
            # docx_converter.py:15-28); soffice is absent here, so emit a typed
            # error row rather than html-fallback garbage lines
            return _error_row(url, fmt)
        if fmt.startswith("media:") and html:
            # pdf_with_text_layer="false" forces the PdfImageReader branch
            # for image formats too (it registers image_like_format,
            # pdf_image_reader.py:41-47) — scanned-page OCR over the
            # decoded pixels; decode failures keep the typed media row
            if fmt.startswith("media:image/") and (
                str(params.get("pdf_with_text_layer", "")).lower() == "false"
            ):
                try:
                    return extract_scanned_image_document(url, html, params)
                except Exception:
                    pass
            # binary media route to the multimodal decode channel
            # (operators/multimodal.py); the per-row reader emits a typed row.
            # EXIF metadata is real (ImageMetadataExtractor field set) even
            # though pixel decode is stubbed.
            warnings_list = [f"media bytes: {len(html)}"]
            if fmt in ("media:image/jpeg", "media:image/tiff"):
                from dedoc_spark.core.metadata import extract_image_metadata

                warnings_list.extend(
                    f"exif.{k}={v}" for k, v in sorted(extract_image_metadata(html).items())
                )
            return _error_row(url, f"needs_decoder:{fmt[6:]}", warnings=warnings_list)
        if html:  # unknown markup-ish bytes: html fallback (web default)
            return extract_html_document(url, html, handle_invisible_table, params)
        return extract_txt_document(url, text or "", params)
    except Exception as e:  # error channel, never job failure
        if html:
            retry = _content_resniff(url, html, fmt, params, handle_invisible_table)
            if retry is not None:
                return retry
        return _error_row(url, f"{type(e).__name__}: {e}")
