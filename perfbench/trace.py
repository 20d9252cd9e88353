"""In-process spans around the public names of dedoc_spark.core, and the
attribution of a measured Spark pass to layers.

Spans wrap each function where its caller looks it up (for example
``document.construct_tree`` or ``html_extract.parse_html``), so the
package itself is untouched; they are kept in memory and written out
when the run ends. A span's self time is its duration minus the time of
its direct children, so the self times of one document add up to its
``document.extract_document`` span exactly."""

from __future__ import annotations

import importlib
import math
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional

# (module[:class], attribute, span name)
SPAN_TARGETS = [
    ("dedoc_spark.core.document", "extract_document", "document.extract_document"),
    ("dedoc_spark.core.formats", "detect_format", "formats.detect_format"),
    ("dedoc_spark.core.html_extract", "parse_html", "dom.parse_html"),
    ("dedoc_spark.core.html_extract:HtmlExtractor", "extract", "html_extract.extract"),
    ("dedoc_spark.core.document", "extract_txt_lines", "txt_extract.extract_txt_lines"),
    ("dedoc_spark.core.document", "assign_hierarchy_levels", "structure.assign_hierarchy_levels"),
    ("dedoc_spark.core.document", "construct_tree", "tree.construct_tree"),
    ("dedoc_spark.core.document", "tree_to_text", "tree.tree_to_text"),
    ("dedoc_spark.core.document", "flatten_tree", "tree.flatten_tree"),
    ("dedoc_spark.core.ocr", "extract_pdf_page_images", "ocr.extract_pdf_page_images"),
    ("dedoc_spark.core.ccitt", "decode_g4", "ccitt.decode_g4"),
    ("dedoc_spark.core.ccitt", "decode_g3", "ccitt.decode_g3"),
    ("dedoc_spark.core.jbig2", "decode_embedded", "jbig2.decode_embedded"),
    ("dedoc_spark.core.pdf_filters", "lzw_decode", "pdf_filters.lzw_decode"),
    ("dedoc_spark.core.pdf_filters", "runlength_decode", "pdf_filters.runlength_decode"),
    ("dedoc_spark.core.ocr", "detect_orientation", "ocr.detect_orientation"),
    ("dedoc_spark.core.ocr", "recognize_tables_from_image", "ocr.recognize_tables_from_image"),
    ("dedoc_spark.core.ocr", "recognize_page", "ocr.recognize_page"),
    ("dedoc_spark.core.ocr", "build_scan_lines", "ocr.build_scan_lines"),
    ("dedoc_spark.core.ocr", "process_scanned_page", "ocr.process_scanned_page"),
]
SPAN_NAMES = [name for _, _, name in SPAN_TARGETS]
ROOT = "document.extract_document"
# output columns whose bytes make up a document's result
OUT_COLUMNS = ("text_extracted", "text_linear", "lines_json", "tree_json", "nodes_json", "tables_json")


class Tracer:
    """Spans as [name, parent index, document index, start ns, end ns]."""

    def __init__(self) -> None:
        self.spans: List[list] = []
        self._stack: List[int] = []
        self.doc = -1

    def wrap(self, name: str, fn):
        spans, stack = self.spans, self._stack

        def traced(*args, **kwargs):
            rec = [name, stack[-1] if stack else -1, self.doc, time.perf_counter_ns(), 0]
            stack.append(len(spans))
            spans.append(rec)
            try:
                return fn(*args, **kwargs)
            finally:
                rec[4] = time.perf_counter_ns()
                stack.pop()

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def patched(self):
        """Install the span wrappers for the duration of the block."""
        saved = []
        try:
            for target, attr, name in SPAN_TARGETS:
                module, _, cls = target.partition(":")
                owner = importlib.import_module(module)
                if cls:
                    owner = getattr(owner, cls)
                original = owner.__dict__[attr]
                saved.append((owner, attr, original))
                setattr(owner, attr, self.wrap(name, original))
            yield self
        finally:
            for owner, attr, original in reversed(saved):
                setattr(owner, attr, original)

    def self_ns(self) -> Dict[str, int]:
        """Total self time per span name."""
        child = [0] * len(self.spans)
        for name, parent, _, t0, t1 in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: Dict[str, int] = defaultdict(int)
        for i, (name, _, _, t0, t1) in enumerate(self.spans):
            out[name] += t1 - t0 - child[i]
        return dict(out)

    def calls(self) -> Dict[str, int]:
        out: Dict[str, int] = defaultdict(int)
        for rec in self.spans:
            out[rec[0]] += 1
        return dict(out)


def quantile(values: List[float], q: float) -> float:
    """Nearest-rank quantile."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def core_profile(sample: List[Dict], params: Optional[Dict]) -> Dict:
    """Per-document cost of ``core.document.extract_document`` over
    ``sample`` in this process: an untimed warm loop, an untraced timed
    loop (p50/p99) and a traced loop (self time per layer)."""
    from dedoc_spark.core import document

    def run(doc_ms=None):
        outs = []
        for i, s in enumerate(sample):
            tracer.doc = i
            t0 = time.perf_counter()
            outs.append(document.extract_document(s["url"], s["html"], s["text"], params=params))
            if doc_ms is not None:
                doc_ms.append((time.perf_counter() - t0) * 1e3)
        return outs

    tracer = Tracer()
    run()
    plain_ms: List[float] = []
    outs = run(plain_ms)
    with tracer.patched():
        run()
    n = len(sample)
    self_ns = tracer.self_ns()
    root_ns = sum(t1 - t0 for name, _, _, t0, t1 in tracer.spans if name == ROOT)
    traced_ms = root_ns / 1e6 / n
    plain_mean = statistics.fmean(plain_ms)
    return {
        "samples": n,
        "p50_ms": statistics.median(plain_ms),
        "p99_ms": quantile(plain_ms, 0.99),
        "mean_ms": plain_mean,
        "traced_mean_ms": traced_ms,
        "overhead_pct": (traced_ms / plain_mean - 1) * 100,
        "self_ms_per_doc": {name: self_ns.get(name, 0) / 1e6 / n for name in SPAN_NAMES},
        "calls": tracer.calls(),
        # self times partition the root spans exactly
        "reconciled": sum(self_ns.values()) == root_ns,
        "out_bytes_per_doc": sum(
            len((o.get(c) or "").encode()) for o in outs for c in OUT_COLUMNS
        ) / n,
        "spans": tracer.spans,
    }


def gap_attribution(stats, identity, n_docs: int, slots: int, doc_ms: float) -> Dict:
    """Split the gap between the measured pass and ``slots`` workers
    running the in-process per-document cost back to back. Slot-seconds
    of the pass partition into: idle slots (scheduling and the slowest
    task's tail), task overhead outside the executor run, JVM-only run
    time, the Arrow round trip the identity pass measures, and the rest
    of the Python workers' time beyond the in-process cost. Each part is
    given in seconds of wall time (slot-seconds / slots)."""
    body = n_docs * doc_ms / 1e3
    busy = sum(stats.task_s)
    parts = {
        "idle_s": slots * stats.wall_s - busy,
        "task_overhead_s": busy - stats.run_s,
        "jvm_s": stats.run_s - stats.python_s,
        "identity_boundary_s": identity.python_s,
        "worker_rest_s": stats.python_s - body - identity.python_s,
    }
    out = {k: v / slots for k, v in parts.items()}
    out.update(
        predicted_docs_per_s=slots * 1e3 / doc_ms,
        measured_docs_per_s=n_docs / stats.wall_s,
        gap_s=stats.wall_s - body / slots,
    )
    return out
