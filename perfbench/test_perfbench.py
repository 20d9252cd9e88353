"""The benchmark's own tests: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, trace  # noqa: E402
from perfbench.workloads import scanned_docs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd: str, *args: str):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace_flag", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace_flag):
    proc = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", trace_flag, "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace_flag == "1" else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    printed = {line.split()[0]: line.split()[-1] for line in lines[:-1] if not line.startswith("{")}
    assert printed == {m["name"]: m["unit"] for m in wanted}
    if trace_flag == "1":
        # every layer is measured on documents that reach it: no time reads
        # 0 (GC time may be 0 on tiny inputs; gap parts are differences)
        timed = [k for k, v in result["metrics"].items() if v["unit"] in ("s", "ms", "ms/doc")
                 and not k.startswith("gap.") and not k.endswith("jvm_gc_s")]
        assert [k for k in timed if result["metrics"][k]["value"] <= 0] == []


def test_directory_without_the_package_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "web_html", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _web_rows(n):
    from dedoc_spark.sources.web_pages import make_row

    return [make_row(i, 3) for i in range(n)]


def _extracted(rows):
    from dedoc_spark.core.document import extract_document

    return [extract_document(r["url"], r["html"], r["text"]) for r in rows]


def test_corrupted_output_row_fails_the_extraction_check():
    rows = _web_rows(12)
    outs = _extracted(rows)
    urls = [r["url"] for r in rows]
    got = [(o["url"], o["error"], dict(o)) for o in outs]
    assert checks.check_extraction(urls, got, rows).correct
    bad = dict(outs[5], text_extracted=outs[5]["text_extracted"] + "x")
    got[5] = (bad["url"], None, bad)
    result = checks.check_extraction(urls, got, rows)
    assert not result.correct and "text_extracted" in result.failures[0]
    # a lost row and an error row fail it too
    assert not checks.check_extraction(urls, got[:-1], []).correct
    assert not checks.check_extraction(urls, [(u, "boom", None) for u in urls], []).correct


def test_corrupted_scan_row_fails_the_oracle():
    from dedoc_spark.core.document import extract_document
    from perfbench.workloads import SCAN_PARAMS

    doc = scanned_docs(1, 5)[0]
    row = extract_document(doc["url"], doc["html"], None, params=SCAN_PARAMS)
    assert checks.scan_oracle(doc["oracle"], row) is None
    cells = json.loads(row["tables_json"])
    cells[0]["cells"][1][1]["lines"][0]["line"] = "xx"
    assert checks.scan_oracle(doc["oracle"], dict(row, tables_json=json.dumps(cells)))
    assert checks.scan_oracle(doc["oracle"], dict(row, warnings=[]))


def test_corrupted_curation_output_fails_the_check():
    rows = _web_rows(40)
    extracted = _extracted(rows)
    kept = checks.kept_lines_by_site(extracted)
    got = {
        "boilerplate": [{"site": s, "count": k} for s, k in kept.items()],
        "quality_gate": [],
        "minhash": [{"url": e["url"], "sig": checks.minhash_signature(e["text_extracted"])} for e in extracted],
        "lineage_metrics": [{"url_count": len(extracted), "lines_out": sum(e["n_lines"] for e in extracted),
                             "chars_out": sum(len(e["text_extracted"]) for e in extracted), "errors": 0}],
    }
    urls = [e["url"] for e in extracted]
    ok = checks.CheckResult(attempted=len(urls))
    checks.check_curate(extracted, got, urls, ok)
    assert ok.correct
    got["minhash"][3]["sig"] = [0] * checks.MINHASH_HASHES
    bad = checks.CheckResult(attempted=len(urls))
    checks.check_curate(extracted, got, urls, bad)
    assert bad.failures == [f"minhash {urls[3]} differs"]


def test_span_self_times_reconcile_with_extract_document():
    profile = trace.core_profile(_web_rows(30), None)
    assert profile["reconciled"] and profile["samples"] == 30
    assert profile["calls"]["document.extract_document"] == 30
    for name in ("dom.parse_html", "html_extract.extract", "tree.construct_tree"):
        assert profile["self_ms_per_doc"][name] > 0
    assert profile["self_ms_per_doc"]["ocr.detect_orientation"] == 0
