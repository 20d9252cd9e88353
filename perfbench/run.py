"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload web_html --seed 1 --seconds 10 --trace 0

Run from the root of a dedoc_spark checkout. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the spans and the gap attribution are written
to .perfbench/trace-<workload>-s<seed>.json. The exit code is non-zero
when the outputs fail the correctness checks. perfbench/README.md lists
the workloads and what each metric should move."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from typing import Dict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3  # set-ups per untraced run; setup_s is their median
MIN_PASSES = 3
CURATE_PASSES = 2
# documents profiled in process: a workload's own, and another workload's
CORE_SAMPLE = {"web_html": 1000, "scanned_pdf": 16}
CROSS_SAMPLE = {"web_html": 200, "scanned_pdf": 12}  # 12 scans cover all 8 codecs
GAP_PARTS = ("predicted_docs_per_s", "idle_s", "task_overhead_s", "jvm_s",
             "identity_boundary_s", "worker_rest_s")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("web_html", "scanned_pdf"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the benchmark's own tests")
    return p.parse_args(argv)


def _environment() -> dict:
    nproc = len(os.sched_getaffinity(0))
    # half the CPUs run tasks; the other half is left to the JVM's scan,
    # Arrow and GC threads and to the driver (measured on 4 vCPUs: pass
    # times spread 25% between quartiles at 4 slots, 11% at 2)
    return {"nproc": nproc, "slots": max(1, nproc // 2), "load_avg_1m": os.getloadavg()[0]}


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _untraced(wl, env, seconds: float):
    from perfbench import sparkinfo
    from perfbench.workloads import run_pass

    setups, spark = [], None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = sparkinfo.start_session(WORK, env["slots"])
        run_pass(wl.warm_jobs(spark))
        setups.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            spark.stop()
    # the checked pass also lets the workers' lazy state settle before timing
    t0 = time.perf_counter()
    check = wl.check(spark)
    check_s = time.perf_counter() - t0
    passes, t_start = [], time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start + passes[-1] <= seconds:
        t0 = time.perf_counter()
        run_pass(wl.jobs(spark))
        passes.append(time.perf_counter() - t0)
    rss = sparkinfo.worker_peak_rss_mb()
    spark.stop()
    info = {"setups_s": setups, "check_s": check_s, "passes_s": passes}
    metrics = {
        "docs_per_s": _metric(wl.n / statistics.median(passes), "docs/s"),
        "setup_s": _metric(statistics.median(setups), "s"),
        "worker_peak_rss_mb": _metric(rss, "MB"),
    }
    return metrics, check, info


def _median(items, key):
    return sorted(items, key=key)[len(items) // 2]


def _traced_pass(spark, jobs_fn, label: str):
    """One pass of traced actions: (merged stats, {job: seconds}). Like an
    untraced pass, its wall time includes building the jobs."""
    from perfbench import sparkinfo

    t0 = time.perf_counter()
    jobs = jobs_fn(spark)
    total = sparkinfo.JobStats(wall_s=time.perf_counter() - t0)
    per_job = {}
    for name, df in jobs.items():
        stats = sparkinfo.traced_action(spark, df, f"{label}-{name}")
        per_job[name] = stats.wall_s
        total.merge(stats)
    return total, per_job


def _curate_layer(spark, wl, check) -> Dict:
    """operators.* over the workload's extracted corpus: one traced action
    per curation chain, after the checked pass has compiled them."""
    wl.prepare_curate(spark)
    wl.check_curate(spark, check)
    passes = [_traced_pass(spark, wl.curate_jobs, f"curate{i}") for i in range(CURATE_PASSES)]
    stats, _ = _median(passes, key=lambda p: p[0].wall_s)
    m = {f"operators.{name}_s": (statistics.median(p[1][name] for p in passes), "s") for name in passes[0][1]}
    m.update({
        "operators.exchanges": (stats.exchanges, "count"),
        "operators.shuffle_bytes": (stats.shuffle_bytes, "B"),
        "operators.jvm_gc_s": (stats.gc_s, "s"),
    })
    return m


def _core_profiles(wl, args, slots: int) -> Dict:
    """In-process profiles of the workload's own documents and of a small
    sample of every other workload's, so that each core layer is measured
    on documents that reach it."""
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    profiles = {wl.name: trace.core_profile(wl.core_sample(CORE_SAMPLE[wl.name]), wl.params)}
    for name, cls in WORKLOADS.items():
        if name != wl.name:
            other = cls(WORK, args.size, args.seed, slots)
            other.prepare()
            profiles[name] = trace.core_profile(other.core_sample(CROSS_SAMPLE[name]), other.params)
    return profiles


def _traced(wl, env, args):
    from perfbench import sparkinfo, trace
    from perfbench.workloads import run_pass

    slots, n = env["slots"], wl.n
    phases, t_phase = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    spark = sparkinfo.start_session(WORK, slots)
    warm = sparkinfo.JobStats(wall_s=0.0)
    for name, df in wl.warm_jobs(spark).items():
        warm.merge(sparkinfo.traced_action(spark, df, f"warm-{name}"))
    phase("setup")
    check = wl.check(spark)
    phase("check")
    # alternate untraced and traced passes; their ratio is the overhead
    plain, passes, t_start = [], [], time.perf_counter()
    while len(passes) < 2 or time.perf_counter() - t_start < args.seconds:
        t0 = time.perf_counter()
        run_pass(wl.jobs(spark))
        plain.append(time.perf_counter() - t0)
        passes.append(_traced_pass(spark, wl.jobs, f"pass{len(passes)}")[0])
    stats = _median(passes, key=lambda p: p.wall_s)
    phase("passes")
    identity = _median(
        [sparkinfo.traced_action(spark, wl.identity_job(spark), f"identity{i}") for i in range(3)],
        key=lambda p: p.wall_s,
    )
    phase("identity")
    profiles = _core_profiles(wl, args, slots)
    core = profiles[wl.name]
    phase("core")
    gap = trace.gap_attribution(stats, identity, n, slots, core["mean_ms"])
    tasks = sparkinfo.task_quantiles(stats.task_s)
    m = {
        "spark.scan_s": (stats.scan_s, "s"),
        "spark.tasks": (len(stats.task_s), "count"),
        "spark.task_s_p50": (tasks["p50"], "s"),
        "spark.task_s_max": (tasks["max"], "s"),
        "spark.exchanges": (stats.exchanges, "count"),
        "spark.shuffle_bytes": (stats.shuffle_bytes, "B"),
        "spark.jvm_gc_s": (stats.gc_s, "s"),
        "arrow.bytes_to_python_per_doc": (stats.python_sent / n, "B/doc"),
        "arrow.bytes_from_python_per_doc": (stats.python_received / n, "B/doc"),
        "arrow.python_s": (stats.python_s, "s"),
        "arrow.identity_s": (identity.wall_s, "s"),
        "arrow.worker_boot_s": (warm.python_boot_s, "s"),
        "arrow.worker_init_s": (warm.python_init_s, "s"),
        "core.extract_document.p50_ms": (core["p50_ms"], "ms"),
        "core.extract_document.p99_ms": (core["p99_ms"], "ms"),
        "core.extract_document.samples": (core["samples"], "count"),
    }
    for name in trace.SPAN_NAMES:
        # the workload's own documents first; else the first sample reaching it
        src = next((p for p in profiles.values() if p["calls"].get(name)), core)
        m[f"core.{name}.self_ms"] = (src["self_ms_per_doc"][name], "ms/doc")
    m["core.out_bytes_per_doc"] = (core["out_bytes_per_doc"], "B/doc")
    m.update(_curate_layer(spark, wl, check))
    phase("operators")
    for key in GAP_PARTS:
        m[f"gap.{key}"] = (gap[key], "docs/s" if key.endswith("per_s") else "s")
    m["trace.spark_overhead_pct"] = (
        (statistics.median(p.wall_s for p in passes) / statistics.median(plain) - 1) * 100, "%")
    m["trace.core_overhead_pct"] = (core["overhead_pct"], "%")
    spark.stop()
    path = os.path.join(WORK, f"trace-{wl.name}-s{args.seed}.json")
    record = {"environment": env, "passes": [vars(p) for p in passes], "plain_passes_s": plain,
              "warm": vars(warm), "identity": vars(identity), "core": profiles, "gap": gap}
    with open(path, "w") as f:
        json.dump(record, f)
    phase("stop")
    info = {"trace_file": os.path.relpath(path, ROOT), "phases_s": phases, "gap": gap,
            "reconciled": all(p["reconciled"] for p in profiles.values())}
    return {k: _metric(v, u) for k, (v, u) in m.items()}, check, info


def main(argv=None) -> int:
    args = _parse(argv)
    env = _environment()
    sys.path.insert(0, ROOT)
    from perfbench import sparkinfo

    # before numpy loads here; Spark's Python workers get the same
    env["blas_threads"] = sparkinfo.BLAS_THREADS
    for var in sparkinfo.BLAS_ENV:
        os.environ[var] = str(sparkinfo.BLAS_THREADS)
    # the package and this benchmark must import in Spark's Python workers
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import dedoc_spark  # noqa: F401  (fails fast outside a checkout)

    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](WORK, args.size, args.seed, env["slots"])
    t0 = time.perf_counter()
    wl.prepare()
    env["prepare_s"] = time.perf_counter() - t0
    try:
        if args.trace:
            metrics, check, info = _traced(wl, env, args)
        else:
            metrics, check, info = _untraced(wl, env, args.seconds)
    finally:
        sparkinfo.shutdown_gateway()
    error_share = check.failed / check.attempted
    print(json.dumps({"workload": wl.name, "docs": wl.n, **env, **info,
                      "error_share": error_share, "failures": check.failures[:10]}))
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": check.correct, "attempted": check.attempted,
                      "failed": check.failed, "metrics": metrics}), flush=True)
    return 0 if check.correct else 1


if __name__ == "__main__":
    sys.exit(main())
