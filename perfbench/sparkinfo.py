"""Spark session, plan metrics, task metrics and worker memory, read from
outside the package: the executed physical plan's SQL metrics, the
status store's task list and /proc. Nothing here edits dedoc_spark."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field, fields
from typing import Dict, List

BLAS_THREADS = 1
BLAS_ENV = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")


def start_session(work_dir: str, slots: int):
    """local[slots] session whose scratch files stay under ``work_dir``;
    every Python worker gets one BLAS thread (slots x threads <= nproc)."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(slots))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        # no JVM perf-data file in /tmp: the run writes only under work_dir
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
    )
    for var in BLAS_ENV:
        builder = builder.config(f"spark.executorEnv.{var}", str(BLAS_THREADS))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_gateway() -> None:
    """Stop the JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------------- plan


def _java_list(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


# SQLMetric types that count time, scaled to seconds; others stay raw
_UNIT_S = {"timing": 1e-3, "nsTiming": 1e-9}


def plan_metrics(spark, jplan) -> List[tuple]:
    """(node class, {metric name: value}) for every node of an executed
    physical plan, looking through AQE wrappers and query stages. Time
    metrics are in seconds, the rest as Spark counts them."""
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out, stack = [], [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = {
            k: v.value() * _UNIT_S.get(v.metricType(), 1)
            for k, v in dict(conv.asJava(node.metrics())).items()
        }
        out.append((cls, metrics))
        stack.extend(_java_list(jvm, node.children()))
    return out


@dataclass
class JobStats:
    """One traced Spark action: wall time, plan facts and task metrics."""

    wall_s: float
    scan_s: float = 0.0
    exchanges: int = 0
    shuffle_bytes: int = 0
    python_sent: int = 0
    python_received: int = 0
    python_s: float = 0.0
    python_boot_s: float = 0.0
    python_init_s: float = 0.0
    task_s: List[float] = field(default_factory=list)
    run_s: float = 0.0
    gc_s: float = 0.0

    def add_plan(self, nodes: List[tuple]) -> None:
        for cls, m in nodes:
            if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
                self.exchanges += 1
                self.shuffle_bytes += int(m.get("shuffleBytesWritten", 0))
            if cls == "FileSourceScanExec":
                self.scan_s += m.get("scanTime", 0)
            if "pythonDataSent" in m:
                self.python_sent += int(m["pythonDataSent"])
                self.python_received += int(m["pythonDataReceived"])
                self.python_s += m.get("pythonTotalTime", 0)
                self.python_boot_s += m.get("pythonBootTime", 0)
                self.python_init_s += m.get("pythonInitTime", 0)

    def merge(self, other: "JobStats") -> None:
        """Add ``other``'s totals to these (several actions of one pass)."""
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _task_metrics(spark, group: str, stats: JobStats) -> None:
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    for job_id in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(job_id)
        for stage_id in job.stageIds if job else []:
            stage = tracker.getStageInfo(stage_id)
            if stage is None:
                continue
            for task in _java_list(sc._jvm, store.taskList(stage_id, stage.currentAttemptId, 1 << 20)):
                if task.duration().isDefined():
                    stats.task_s.append(task.duration().get() / 1e3)
                if task.taskMetrics().isDefined():
                    tm = task.taskMetrics().get()
                    stats.run_s += tm.executorRunTime() / 1e3
                    stats.gc_s += tm.jvmGcTime() / 1e3


def traced_action(spark, df, group: str) -> JobStats:
    """Run ``df`` to completion (every row produced, none written) and read
    its executed plan's SQL metrics and its tasks' metrics."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.toRdd().count()
    stats = JobStats(wall_s=time.perf_counter() - t0)
    sc.setLocalProperty("spark.jobGroup.id", None)
    stats.add_plan(plan_metrics(spark, qe.executedPlan()))
    _task_metrics(spark, group, stats)
    return stats


def task_quantiles(task_s: List[float]) -> Dict[str, float]:
    if not task_s:
        return {"p50": 0.0, "max": 0.0}
    return {"p50": statistics.median(task_s), "max": max(task_s)}


# ------------------------------------------------------------------- memory


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def worker_peak_rss_mb() -> float:
    """Max VmHWM over the Spark Python worker processes descending from
    this process (the pyspark daemon and its forked workers)."""
    kids = _children_map()
    peak_kb = 0
    stack = list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark/daemon" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0
