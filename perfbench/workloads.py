"""The benchmark's workloads: inputs made from a seed, the warm-up pass,
the timed Spark job and the correctness check of each, plus the corpus
curation chains the traced web_html run measures.

A workload only hands the program generated inputs through its public
API (operators.pipeline, operators.textstats, operators.crawl,
operators.dedup). Inputs are cached under the work directory by
(workload, size, seed)."""

from __future__ import annotations

import json
import os
import random
import shutil
from typing import Dict, List, Optional

from perfbench import checks

# documents per timed pass; "tiny" is for the benchmark's own tests
SIZES = {
    "web_html": {"full": 2000, "tiny": 200},
    "scanned_pdf": {"full": 32, "tiny": 8},
}
# input layout; Spark packs these small files into about one scan task
# per slot (measured on 4 slots: 24 one-file tasks of 250 pages took 4.8 s
# a pass against 2.9 s for 4 packed tasks, from ~0.4 s of Python worker
# set-up per task)
ROWS_PER_FILE = {"web_html": 250, "scanned_pdf": 8}
# documents the curation chains run over in the traced web_html run
CURATE_DOCS = 1000
SCAN_PARAMS = {"pdf_with_text_layer": "false", "need_pdf_table_analysis": True}
SCAN_CODECS = ("flate", "ccitt", "ccitt_g3", "lzw", "runlength", "jbig2", "jbig2_mmr", "jbig2_sym")
SCAN_LANGS = ("en", "fr", "es", "de", "zh")
CACHE_KEEP = 8  # cached input sets kept per work directory


def _web_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
        ]
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity_batches(it):
    """Identity mapInPandas body: the Arrow round trip with no work."""
    yield from it


# ------------------------------------------------------------------ inputs


def _cached(cache_root: str, key: str, build) -> str:
    """Directory ``cache_root/key`` made once by ``build(tmp_dir)``; the
    oldest entries beyond CACHE_KEEP are removed."""
    path = os.path.join(cache_root, key)
    if os.path.isdir(path):
        os.utime(path)  # the newest entry is never pruned
    else:
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.replace(tmp, path)
        entries = sorted(
            (os.path.join(cache_root, e) for e in os.listdir(cache_root) if not e.endswith(".tmp")),
            key=os.path.getmtime,
        )
        for old in entries[:-CACHE_KEEP]:
            shutil.rmtree(old, ignore_errors=True)
    return path


def _write_rows(path: str, rows: List[Dict], rows_per_file: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()), ("html", pa.binary()), ("text", pa.string())])
    for part, lo in enumerate(range(0, len(rows), rows_per_file)):
        chunk = [{k: r[k] for k in ("url", "html", "text")} for r in rows[lo : lo + rows_per_file]]
        pq.write_table(pa.Table.from_pylist(chunk, schema=schema), f"{path}/part-{part:05d}.parquet")


def _q68_lines(did: int) -> List[str]:
    """Three lines of id-derived 4-digit groups (the Q68 oracle formula)."""

    def group(row: int, i: int) -> str:
        v = (did * 7919 + row * 104729 + i * 15485863) % 10000
        return str(3334 if v == 3333 else v).zfill(4)

    return [" ".join(group(row, i) for i in range(3)) for row in range(3)]


def scanned_docs(n: int, seed: int) -> List[Dict]:
    """``n`` scanned PDFs: three in four are Q67-style three-page scans
    (upright text, a 180-degree page, a ruled 2x2 table) rotating over the
    eight raster codecs, one in four a Q68-style real-font page. Each row
    carries its closed-form expectation under ``oracle``."""
    from dedoc_spark.core.ftrender import render_text_page
    from dedoc_spark.core.scanfont import render_scan_page, render_table_page
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    rng = random.Random(seed)
    # ids stay below 100,000 (the Q67 gate's ids are below 5,000): with 7
    # or more digits in a table cell, ocr.detect_orientation turns some
    # table pages by 90 degrees (about 9% of 7-digit ids, 25% of 8-digit
    # ones, for example 1234004), an open defect the check would report
    base = 1000 * (seed % 100)
    rows, q67 = [], 0
    for i in range(n):
        did = base + i
        if i % 4 == 3:
            lines = _q68_lines(did)
            raster = render_text_page(lines, face="sans", px=40)
            pdf = build_scanned_pdf([raster], image_filter="flate")
            oracle = {"kind": "q68", "text_extracted": "\n" + "\n".join(lines) + "\n\n"}
        else:
            source, lang = f"src{rng.randrange(100)}", rng.choice(SCAN_LANGS)
            pages = [
                render_scan_page([f"Doc {did} scan"], scale=2),
                render_scan_page([f"{source} {lang}"], scale=2, rotate=180),
                render_table_page([["id", str(did)], [source, lang]], scale=2,
                                  body_lines=["page three body"]),
            ]
            pdf = build_scanned_pdf(pages, image_filter=SCAN_CODECS[q67 % len(SCAN_CODECS)])
            q67 += 1
            oracle = {
                "kind": "q67",
                "text_extracted": f"\nDoc {did} scan\n{source} {lang}\npage three body\n\n",
                "cells": ["id", str(did), source, lang],
            }
        rows.append({"url": f"scan/{did}.pdf", "html": pdf, "text": None, "oracle": oracle})
    return rows


# --------------------------------------------------------------- workloads


class Workload:
    """Base: ``n`` documents per pass read from ``self.path``."""

    name = ""
    params: Optional[Dict] = None

    def __init__(self, work_dir: str, size: str, seed: int, slots: int):
        self.n = SIZES[self.name][size]
        self.seed, self.slots = seed, slots
        self.cache = os.path.join(work_dir, "cache")
        os.makedirs(self.cache, exist_ok=True)
        self.key = f"{self.name}-{size}-s{seed}"
        self.path = ""

    def prepare(self) -> None:
        """Spark-free input generation (untimed)."""

    def warm_rows(self) -> List[Dict]:
        raise NotImplementedError

    def warm_df(self, spark):
        """The warm-up input: ``slots`` partitions, each with every kind of
        document the workload runs, so every Python worker forks and loads
        what the timed job needs."""
        rows = [(r["url"], r["html"], r["text"]) for r in self.warm_rows()]
        return spark.createDataFrame(spark.sparkContext.parallelize(rows, self.slots), _web_schema())

    def warm_jobs(self, spark) -> Dict:
        from dedoc_spark.operators.pipeline import extract_stage

        return {"extract": extract_stage(self.warm_df(spark), params=self.params)}

    def jobs(self, spark) -> Dict:
        """Name -> DataFrame; one timed pass runs each to a noop sink."""
        from dedoc_spark.operators.pipeline import extract_stage

        return {"extract": extract_stage(spark.read.parquet(self.path), params=self.params)}

    def identity_job(self, spark):
        src = spark.read.parquet(self.path).select("url", "html", "text")
        return src.mapInPandas(identity_batches, schema=src.schema)

    def core_sample(self, k: int) -> List[Dict]:
        """A deterministic sample of ``k`` input rows (url, html, text)."""
        raise NotImplementedError

    def check(self, spark) -> checks.CheckResult:
        raise NotImplementedError

    def _check_extract(self, spark, sample: List[Dict], oracle=None) -> checks.CheckResult:
        """One extraction over the whole input: every url present once, no
        error rows, the sampled rows equal in-process extract_document,
        and (when given) each collected row passes ``oracle``."""
        from pyspark.sql import functions as F

        out = self.jobs(spark)["extract"]
        sampled = F.col("url").isin([r["url"] for r in sample])
        if oracle is not None:
            sampled = F.lit(True)
        got = out.select(
            "url", "error", F.when(sampled, F.struct(*checks.extract_columns())).alias("row")
        ).collect()
        return checks.check_extraction(
            self.input_urls(), got, sample, params=self.params, oracle=oracle
        )

    def input_urls(self) -> List[str]:
        import pyarrow.parquet as pq

        return pq.read_table(self.path, columns=["url"]).column("url").to_pylist()

    # the curation chains run over this workload's extracted corpus

    def prepare_curate(self, spark) -> None:
        """extract_stage's output for the first CURATE_DOCS input rows,
        written once as parquet."""
        from dedoc_spark.operators.pipeline import extract_stage

        parts = sorted(f for f in os.listdir(self.path) if f.endswith(".parquet"))
        files = [os.path.join(self.path, f) for f in parts[: CURATE_DOCS // ROWS_PER_FILE[self.name]]]

        def build(d: str) -> None:
            out = extract_stage(spark.read.parquet(*files), params=self.params)
            out.write.parquet(os.path.join(d, "x"))

        self.extracted = os.path.join(_cached(self.cache, self.key + "-extracted", build), "x")

    def curate_jobs(self, spark) -> Dict:
        return curate_chains(spark.read.parquet(self.extracted))

    def check_curate(self, spark, result: checks.CheckResult) -> None:
        """The curation chains' outputs against a plain-Python recomputation
        from the extracted corpus; failures are appended to ``result``."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        extracted = pq.read_table(self.extracted).to_pylist()
        chains = self.curate_jobs(spark)
        minhash_urls = [r["url"] for r in extracted[:: max(1, len(extracted) // 20)]]
        got = {
            "boilerplate": chains["boilerplate"].groupBy("site").count().collect(),
            "quality_gate": [r.url for r in chains["quality_gate"].select("url").collect()],
            "minhash": chains["minhash"].filter(F.col("url").isin(minhash_urls)).collect(),
            "lineage_metrics": chains["lineage_metrics"].collect(),
        }
        checks.check_curate(extracted, got, minhash_urls, result)


class WebHtml(Workload):
    """extract_stage over sources.web_pages (7 HTML templates, 10% txt
    rows, 10% hostile pages, 1/997 oversized) to a noop sink."""

    name = "web_html"

    def prepare(self) -> None:
        from dedoc_spark.sources.web_pages import write_parquet

        self.path = _cached(
            self.cache, self.key, lambda d: write_parquet(d, self.n, self.seed, ROWS_PER_FILE[self.name])
        )

    def warm_rows(self) -> List[Dict]:
        from dedoc_spark.sources.web_pages import make_row

        return [make_row(i, 0) for i in range(8 * self.slots)]

    def core_sample(self, k: int) -> List[Dict]:
        from dedoc_spark.sources.web_pages import make_row

        # seeded, not strided: a stride can step over a row kind (i % 10)
        rows = random.Random(self.seed).sample(range(self.n), min(k, self.n))
        return [make_row(i, self.seed) for i in sorted(rows)]

    def check(self, spark) -> checks.CheckResult:
        return self._check_extract(spark, self.core_sample(100))


class ScannedPdf(Workload):
    """Scanned PDFs built in set-up, extracted with the OCR route
    (pdf_with_text_layer=false, table analysis on)."""

    name = "scanned_pdf"
    params = SCAN_PARAMS

    def prepare(self) -> None:
        def build(d: str) -> None:
            rows = scanned_docs(self.n, self.seed)
            _write_rows(d, rows, ROWS_PER_FILE[self.name])
            with open(os.path.join(d, "_oracle.json"), "w") as f:
                json.dump({r["url"]: r["oracle"] for r in rows}, f)

        self.path = _cached(self.cache, self.key, build)
        with open(os.path.join(self.path, "_oracle.json")) as f:
            self.oracle = json.load(f)

    def warm_rows(self) -> List[Dict]:
        # one Q67 scan and one real-font page per partition
        rows = scanned_docs(4, 0)
        return [r for _ in range(self.slots) for r in (rows[0], rows[3])]

    def core_sample(self, k: int) -> List[Dict]:
        import pyarrow.parquet as pq

        rows = pq.read_table(self.path).to_pylist()
        step = max(1, len(rows) // k)
        return rows[::step][:k]

    def check(self, spark) -> checks.CheckResult:
        return self._check_extract(
            spark, self.core_sample(8), oracle=lambda url, row: checks.scan_oracle(self.oracle[url], row)
        )


def curate_chains(extracted) -> Dict:
    """One DataFrame per operator chain of corpus curation: boilerplate
    removal, the quality gate, MinHash signatures and lineage metrics.
    No Python UDF runs in them: JSON parsing, exchanges and aggregation
    on the JVM, over the extraction's lines_json."""
    from pyspark.sql import functions as F

    from dedoc_spark.operators.crawl import quality_gate
    from dedoc_spark.operators.dedup import with_minhash
    from dedoc_spark.operators.pipeline import lineage_metrics, lines_table
    from dedoc_spark.operators.textstats import boilerplate_patterns, remove_boilerplate

    lines = lines_table(extracted).withColumn("site", F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1))
    return {
        "boilerplate": remove_boilerplate(lines, boilerplate_patterns(lines)),
        "quality_gate": quality_gate(extracted),
        "minhash": with_minhash(extracted, text_col="text_extracted", id_col="url"),
        "lineage_metrics": lineage_metrics(extracted),
    }


WORKLOADS = {w.name: w for w in (WebHtml, ScannedPdf)}


def run_pass(jobs: Dict) -> None:
    for df in jobs.values():
        _noop(df)
