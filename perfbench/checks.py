"""Correctness checks run on every benchmark run. A run whose outputs fail
them reports ``correct: false`` and exits non-zero.

- extraction: every input url comes out exactly once with no error, and
  a deterministic sample of rows equals in-process
  ``core.document.extract_document`` on the same inputs;
- scanned PDFs: every row matches the closed-form text, table cells and
  rotation warning that the Q67/Q68 oracle SQL encodes;
- curation: boilerplate removal, MinHash signatures and lineage totals
  equal a plain-Python recomputation from the extracted corpus."""

from __future__ import annotations

import hashlib
import json
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Callable, Dict, Iterable, List, Optional

ROT_WARNING = "rotated page angles: [0, 180, 0]"
MINHASH_HASHES, SHINGLE_N = 16, 3  # dedup.with_minhash defaults


@dataclass
class CheckResult:
    attempted: int = 0
    failures: List[str] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def correct(self) -> bool:
        return not self.failures


def extract_columns() -> List[str]:
    from dedoc_spark.operators.pipeline import EXTRACT_SCHEMA

    return [f.name for f in EXTRACT_SCHEMA.fields]


def _as_dict(row) -> Dict:
    d = row if isinstance(row, dict) else row.asDict()
    if d.get("warnings") is not None:
        d = dict(d, warnings=list(d["warnings"]))
    return d


def compare_row(expected: Dict, got: Dict, columns: Iterable[str]) -> List[str]:
    """Names of the columns where ``got`` differs from ``expected``."""
    return [c for c in columns if got.get(c) != expected.get(c)]


def check_extraction(
    input_urls: List[str],
    got: Iterable[tuple],
    sample: List[Dict],
    params: Optional[Dict] = None,
    oracle: Optional[Callable[[str, Dict], Optional[str]]] = None,
) -> CheckResult:
    """``got`` holds (url, error, row) for every output row; ``row`` is the
    full output row for sampled urls (for all urls when ``oracle`` is
    given) and None otherwise."""
    from dedoc_spark.core.document import extract_document

    result = CheckResult(attempted=len(input_urls))
    counts, rows = Counter(), {}
    for url, error, row in got:
        counts[url] += 1
        if error is not None:
            result.failures.append(f"error row {url}: {error}")
        if row is not None:
            rows[url] = _as_dict(row)
    inputs = set(input_urls)
    result.failures += [f"missing url {u}" for u in input_urls if u not in counts]
    result.failures += [f"unexpected url {u}" for u in counts if u not in inputs]
    result.failures += [f"url {u} output {k} times" for u, k in counts.items() if k > 1]
    columns = extract_columns()
    for s in sample:
        if s["url"] not in rows:
            result.failures.append(f"sampled url {s['url']} not collected")
            continue
        expected = extract_document(s["url"], s["html"], s["text"], params=params)
        diff = compare_row(expected, rows[s["url"]], columns)
        if diff:
            result.failures.append(f"{s['url']}: differs from extract_document in {diff}")
    if oracle is not None:
        for url, row in rows.items():
            msg = oracle(url, row)
            if msg:
                result.failures.append(f"{url}: {msg}")
    return result


def scan_oracle(oracle: Dict, row: Dict) -> Optional[str]:
    """The Q67/Q68 closed form for one scanned-PDF output row."""
    if row["text_extracted"] != oracle["text_extracted"]:
        return f"text {row['text_extracted']!r} != {oracle['text_extracted']!r}"
    if row["n_lines"] != 3:
        return f"n_lines {row['n_lines']} != 3"
    if oracle["kind"] != "q67":
        return None
    if row["n_tables"] != 1:
        return f"n_tables {row['n_tables']} != 1"
    rot = next((w for w in row["warnings"] if w.startswith("rotated")), None)
    if rot != ROT_WARNING:
        return f"rotation warning {rot!r}"
    cells = json.loads(row["tables_json"])[0]["cells"]
    texts = ["\n".join(ln["line"] for ln in c["lines"]) for r in cells for c in r]
    if texts != oracle["cells"]:
        return f"table cells {texts} != {oracle['cells']}"
    return None


# ----------------------------------------------------------------- curation

_TOKEN_SPLIT = re.compile(r"[^0-9a-zа-яё]+")
_DIGITS = re.compile(r"[0-9]+")
_HOST = re.compile(r"^[a-z]+://([^/]+)")


def digit_mask(line: str) -> str:
    """functions.digit_mask: lower(trim(line)) with digit runs -> '@'
    (Spark's trim strips the space character only)."""
    return _DIGITS.sub("@", line.strip(" ").lower())


def kept_lines_by_site(extracted: List[Dict], edge_window: int = 4, min_frac: float = 0.4) -> Dict[str, int]:
    """Lines left per site after textstats.boilerplate_patterns +
    remove_boilerplate with their default arguments."""
    docs_by_site = defaultdict(list)
    for r in extracted:
        host = _HOST.match(r["url"])  # regexp_extract gives "" on no match
        docs_by_site[host.group(1) if host else ""].append(json.loads(r["lines_json"]))
    kept = {}
    for site, docs in docs_by_site.items():
        doc_patterns = []
        for lines in docs:
            if not lines:
                continue
            top = max(ln["line_id"] for ln in lines)
            edge = {
                digit_mask(ln["line"])
                for ln in lines
                if ln["line_id"] < edge_window or ln["line_id"] > top - edge_window
            }
            edge.discard("")
            if edge:
                doc_patterns.append(edge)
        n_docs = len(doc_patterns)
        votes = Counter(p for pats in doc_patterns for p in pats)
        boiler = {p for p, k in votes.items() if n_docs >= 2 and round(k / n_docs, 6) >= min_frac}
        count = sum(1 for lines in docs for ln in lines if digit_mask(ln["line"]) not in boiler)
        if count:
            kept[site] = count
    return kept


def minhash_signature(text: str) -> List[int]:
    """dedup.with_minhash (md5 family) for one document's text."""
    tokens = [t for t in _TOKEN_SPLIT.split(text.lower()) if t]
    if len(tokens) < SHINGLE_N:
        shingles = [" ".join(tokens)]
    else:
        shingles = [" ".join(tokens[i : i + SHINGLE_N]) for i in range(len(tokens) - SHINGLE_N + 1)]
    return [
        min(int(hashlib.md5(f"{s}#{j}".encode()).hexdigest()[:8], 16) for s in shingles)
        for j in range(MINHASH_HASHES)
    ]


def check_curate(extracted: List[Dict], got: Dict, minhash_urls: List[str], result: CheckResult) -> None:
    """Compare the curation chains' collected outputs with a recomputation
    from the extracted corpus; failures are appended to ``result``."""
    by_url = {r["url"]: r for r in extracted}
    expected = kept_lines_by_site(extracted)
    actual = {r["site"]: r["count"] for r in got["boilerplate"]}
    for site in sorted(set(expected) | set(actual)):
        if expected.get(site) != actual.get(site):
            result.failures.append(f"boilerplate site {site}: kept {actual.get(site)} != {expected.get(site)}")
    gated = got["quality_gate"]
    if len(set(gated)) != len(gated) or not set(gated) <= set(by_url):
        result.failures.append(f"quality_gate kept {len(gated)} rows, not a subset of the corpus")
    sigs = {r["url"]: list(r["sig"]) for r in got["minhash"]}
    for url in minhash_urls:
        if sigs.get(url) != minhash_signature(by_url[url]["text_extracted"]):
            result.failures.append(f"minhash {url} differs")
    totals = {k: sum(r[k] for r in got["lineage_metrics"]) for k in ("url_count", "lines_out", "chars_out", "errors")}
    want = {
        "url_count": len(extracted),
        "lines_out": sum(r["n_lines"] for r in extracted),
        "chars_out": sum(len(r["text_extracted"]) for r in extracted),
        "errors": 0,
    }
    if totals != want:
        result.failures.append(f"lineage totals {totals} != {want}")
