"""Per-operation layer records from Spark's in-process status stores.

Each traced operation runs under its own job group. Afterwards the
benchmark reads, for that group only:

- the stage records of its jobs from the core status store
  (``AppStatusStore.lastStageAttempt``, plus ``taskSummary`` for task
  skew), and
- the SQL node metrics of its SQL executions from the SQL status store
  (``executionMetrics``), keeping the Python-worker and file-scan ones.
  Stage ``inputBytes`` is not used: on local parquet files Spark 4.1
  reports a few KB for a 150k-row scan.

Reading per operation keeps every record inside Spark's retention
limits (``spark.ui.retainedStages`` and friends, 1000 by default). The
records stay in memory; the aggregation below turns them into the
per-layer metrics and is plain Python so it can be tested without a
JVM.
"""

from __future__ import annotations

import json
import re

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "stageId", "attemptId", "status", "numTasks", "submissionTime",
    "completionTime", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "shuffleWriteTime", "memoryBytesSpilled", "diskBytesSpilled",
    "peakExecutionMemory",
)
IDLE_GROUP = "perfbench-idle"

# SQL metric name fragment -> per-layer metric.
SQL_METRICS = {
    "size of files read": "sources.read_mb",
    "time to start Python workers": "python.init_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
    "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6,
}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_metric(text: str) -> float:
    """Seconds or MB (10^6 bytes) from a formatted SQL metric value:
    "7.2 s", "16.1 MiB", or the "total (min, med, max ...)" header form
    whose total is the first value on the last line."""
    lines = text.strip().splitlines()
    m = _VALUE.search(lines[-1]) if lines else None
    if not m or m.group(2) not in _UNITS:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class StatusReader:
    """Reads one operation's records out of a live session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self.quantiles[0], self.quantiles[1] = 0.5, 1.0

    def begin(self, tag: str) -> None:
        self.sc.setJobGroup(tag, tag)

    def end(self) -> None:
        self.sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)

    def _dump(self, obj) -> dict:
        return json.loads(self.json.writeValueAsString(obj))

    def record(self, tag: str, t0: float, t1: float) -> dict:
        """Everything the status stores hold about operation ``tag``,
        which ran from ``t0`` to ``t1`` (epoch seconds)."""
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(tag))
        return {
            "t0": t0, "t1": t1, "jobs": len(jobs),
            "stages": self.stages(jobs), "sql": self.sql_metrics(tag),
        }

    def stages(self, jobs: list[int]) -> list[dict]:
        tracker = self.sc.statusTracker()
        ids = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                ids.update(info.stageIds)
        out = []
        for sid in sorted(ids):
            try:
                raw = self._dump(self.store.lastStageAttempt(sid))
            except Py4JJavaError:
                continue  # never attempted: skipped because its shuffle output existed
            if raw.get("status") == "SKIPPED":
                continue
            rec = {k: raw.get(k) for k in STAGE_FIELDS}
            rec["task_skew"] = 1.0
            if (rec["numTasks"] or 0) >= 2:
                summary = self.store.taskSummary(sid, rec["attemptId"], self.quantiles)
                if summary.isDefined():
                    p50, worst = self._dump(summary.get())["executorRunTime"]
                    rec["task_skew"] = worst / max(p50, 1.0)
            out.append(rec)
        return out

    def sql_metrics(self, tag: str) -> list[tuple[str, str]]:
        """(metric name, formatted value) of every ``SQL_METRICS`` metric
        in the operation's executions. Executions carry the job
        group's description, and an operation's executions are the
        newest ones, so the scan stops at the first foreign one."""
        out = []
        n = self.sql_store.executionsCount()
        batch = 32
        start = n
        while start > 0:
            lo = max(0, start - batch)
            execs = self.sql_store.executionsList(lo, start - lo)
            ours = [execs.apply(i) for i in range(execs.size() - 1, -1, -1)]
            done = False
            for e in ours:
                if e.description() != tag:
                    done = True
                    break
                names = {
                    m["accumulatorId"]: m["name"] for m in self._dump(e.metrics())
                    if any(k in m["name"] for k in SQL_METRICS)
                }
                if names:
                    values = self._dump(self.sql_store.executionMetrics(e.executionId()))
                    out += [(names[a], values[str(a)]) for a in names if str(a) in values]
            if done:
                break
            start, batch = lo, batch * 2
        return out


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def op_layers(rec: dict) -> dict[str, float]:
    """Per-layer numbers of one traced operation. ``rec`` holds the
    op's wall interval (``t0``/``t1``, epoch seconds), its ``stages``
    and its ``sql`` metrics."""
    st = rec["stages"]
    wall = rec["t1"] - rec["t0"]
    spans = [
        (s["submissionTime"] / 1e3, s["completionTime"] / 1e3)
        for s in st if s.get("submissionTime") is not None and s.get("completionTime") is not None
    ]

    def total(key: str) -> float:
        return float(sum(s.get(key) or 0 for s in st))

    out = {
        "spark.stages": float(len(st)),
        "spark.tasks": total("numTasks"),
        "spark.task_skew": max([s.get("task_skew", 1.0) for s in st] or [1.0]),
        "spark.driver_gap_s": max(0.0, wall - covered_s(spans, rec["t0"], rec["t1"])),
        "spark.executor_run_s": total("executorRunTime") / 1e3,
        "spark.executor_cpu_s": total("executorCpuTime") / 1e9,
        "spark.gc_s": total("jvmGcTime") / 1e3,
        "spark.shuffle_write_mb": total("shuffleWriteBytes") / 1e6,
        "spark.shuffle_read_mb": total("shuffleReadBytes") / 1e6,
        "spark.shuffle_write_s": total("shuffleWriteTime") / 1e9,
        "spark.spill_mb": total("diskBytesSpilled") / 1e6,
        "spark.peak_exec_mb": max([s.get("peakExecutionMemory") or 0 for s in st] or [0]) / 1e6,
        "sources.read_mb": 0.0,
        "python.init_s": 0.0,
        "python.run_s": 0.0,
        "python.sent_mb": 0.0,
        "python.returned_mb": 0.0,
    }
    for name, value in rec.get("sql", ()):
        for frag, key in SQL_METRICS.items():
            if frag in name:
                out[key] += parse_metric(value)
    return out


# How a round combines its operations' numbers: everything adds up
# except these, which take the worst operation.
_MAX_KEYS = {"spark.task_skew", "spark.peak_exec_mb"}


def round_layers(recs: list[dict]) -> dict[str, float]:
    """Per-layer numbers of one round: op numbers summed (maxed for
    skew and peak memory), plus the job count."""
    out: dict[str, float] = {}
    for rec in recs:
        for k, v in op_layers(rec).items():
            out[k] = max(out.get(k, 0.0), v) if k in _MAX_KEYS else out.get(k, 0.0) + v
    out["spark.jobs"] = float(sum(r.get("jobs", 0) for r in recs))
    return out
