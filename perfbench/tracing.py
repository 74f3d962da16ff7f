"""Tracing for the ``--trace 1`` run: spans around every call the
benchmark makes into a layer, plus the Spark runtime's own numbers.

* Spans (run > pass > op > plan/exec) live in memory in a
  :class:`Tracer` and are written out when the run ends.
* Per-job and per-stage metrics come from the driver's status REST
  API (``/api/v1/applications/<id>/...`` on the local UI), keyed by
  the job group the benchmark sets around each op phase.
* Driver-JVM counters (GC, JIT, Janino codegen, heap peak) come from
  the MXBeans over py4j.
* Eager jobs are attributed to ``operators.<m>`` by their call site.
  PySpark stamps the calling file on ``collect``, but not on
  ``DataFrame.count``, ``localCheckpoint`` or ``checkpoint``. Under
  adaptive execution even ``localCheckpoint(eager=False)`` runs the
  plan's shuffle stages, on pool threads that inherit the caller's
  call site; unstamped, those jobs read
  ``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768``.
  So while a traced pass runs, :func:`stamp_call_sites` wraps those
  three methods to stamp the innermost package frame the same way.
"""

from __future__ import annotations

import json
import re
import time
import traceback
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from measure import driver_gap, union_length

OPERATOR_MODULES = (
    "graph", "dedup", "semdedup", "similarity", "multimodal", "bpe",
    "quality_clf", "tfidf", "textstats",
)
_PACKAGE = "hdfs_parquet_importer_spark"
_CALL_SITE = re.compile(r"/operators/(\w+)\.py:\d+")


class Tracer:
    """In-memory spans: name, start, end, parent and attributes."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "t0": time.time(), "t1": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        return span_self_time(self.spans[sid], self.children(sid))


def span_self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    covered = union_length([(c["t0"], c["t1"]) for c in children],
                           span["t0"], span["t1"])
    return (span["t1"] - span["t0"]) - covered


def operator_of(call_site: str) -> str | None:
    """``'localCheckpoint at .../operators/graph.py:301'`` -> ``'graph'``
    for the operator modules the benchmark reports; else None."""
    m = _CALL_SITE.search(call_site or "")
    return m.group(1) if m and m.group(1) in OPERATOR_MODULES else None


# ------------------------------------------------- call-site stamping

_STAMPED = ("count", "localCheckpoint", "checkpoint")


def _package_call_site(method: str) -> str | None:
    for frame in reversed(traceback.extract_stack()[:-2]):
        if f"/{_PACKAGE}/" in frame.filename:
            return f"{method} at {frame.filename}:{frame.lineno}"
    return None


@contextmanager
def stamp_call_sites():
    """Give jobs started by ``DataFrame.count``/``localCheckpoint``/
    ``checkpoint`` the call site of the package line that called it."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.traceback_utils import SCCallSiteSync

    originals = {m: getattr(DataFrame, m) for m in _STAMPED}

    def wrap(method, orig):
        def stamped(self, *args, **kwargs):
            site = _package_call_site(method)
            if site is None or SCCallSiteSync._spark_stack_depth:
                return orig(self, *args, **kwargs)
            jsc = self.sparkSession.sparkContext._jsc
            jsc.setCallSite(site)
            SCCallSiteSync._spark_stack_depth += 1
            try:
                return orig(self, *args, **kwargs)
            finally:
                SCCallSiteSync._spark_stack_depth -= 1
                jsc.setCallSite(None)
        return stamped

    for m, orig in originals.items():
        setattr(DataFrame, m, wrap(m, orig))
    try:
        yield
    finally:
        for m, orig in originals.items():
            setattr(DataFrame, m, orig)


# ------------------------------------------------------- status REST

def _epoch(ts: str | None) -> float | None:
    """'2026-10-16T17:39:18.338GMT' -> epoch seconds."""
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


_SIZE = re.compile(r"^([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size_metric(value: str) -> float:
    """Bytes from a SQL size metric: ``'total (min, med, max ...)\\n21.0 KiB (...)'``
    or a bare ``'21.0 KiB'``."""
    last = value.strip().splitlines()[-1].strip()
    m = _SIZE.match(last)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class SparkStatus:
    """Reads jobs, stages and SQL node metrics for one job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def jobs(self, groups: list[str], timeout_s: float = 30.0) -> list[dict]:
        """Finished jobs of ``groups``, once the status store has them all."""
        tracker = self.sc.statusTracker()
        want = set()
        for g in groups:
            want.update(tracker.getJobIdsForGroup(g))
        deadline = time.time() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in want]
            done = [j for j in jobs if j["status"] in ("SUCCEEDED", "FAILED")]
            if len(done) == len(want) or time.time() > deadline:
                return done
            time.sleep(0.05)

    def stages(self, stage_ids: set[int]) -> list[dict]:
        return [s for s in self._get("/stages?withSummaries=false")
                if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")]

    def python_bytes(self, job_ids: set[int]) -> tuple[float, float]:
        """Bytes (sent to, returned from) Python workers by SQL
        executions that ran any of ``job_ids``."""
        sent = recv = 0.0
        for q in self._get("/sql?details=true&planDescription=false&length=100000"):
            ran = set(q.get("successJobIds", [])) | set(q.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in q.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        sent += parse_size_metric(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        recv += parse_size_metric(m["value"])
        return sent, recv


def job_interval(job: dict) -> tuple[float, float]:
    return _epoch(job["submissionTime"]), _epoch(job["completionTime"])


def spark_layer(status: SparkStatus, plan_group: str, exec_group: str,
                t0: float, t1: float, cores: int) -> dict:
    """The ``spark.*``, ``python.*``, ``operators.*`` numbers and the
    per-phase job counts of one op whose span was [t0, t1]."""
    jobs = status.jobs([plan_group, exec_group])
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = status.stages(stage_ids)
    job_ids = {j["jobId"] for j in jobs}
    sent, recv = status.python_bytes(job_ids) if job_ids else (0.0, 0.0)
    mb = 1 / (1 << 20)
    run_s = sum(s["executorRunTime"] for s in stages) / 1e3
    intervals = [job_interval(j) for j in jobs]
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "spark.tasks_failed": sum(s["numFailedTasks"] for s in stages),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) * mb,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) * mb,
        "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) * mb,
        "spark.input_mb": sum(s["inputBytes"] for s in stages) * mb,
        "spark.output_mb": sum(s["outputBytes"] for s in stages) * mb,
        "spark.input_records": sum(s["inputRecords"] for s in stages),
        "spark.output_records": sum(s["outputRecords"] for s in stages),
        "spark.driver_gap_s": driver_gap(t0, t1, intervals),
        "spark.core_utilization": run_s / max(1e-9, (t1 - t0) * cores),
        "python.sent_mb": sent * mb,
        "python.received_mb": recv * mb,
    }
    for m in OPERATOR_MODULES:
        out[f"operators.{m}.eager_jobs"] = 0
        out[f"operators.{m}.eager_job_s"] = 0.0
    by_op: dict[str, list] = {}
    for j in jobs:
        m = operator_of(j.get("name", ""))
        if m:
            by_op.setdefault(m, []).append(job_interval(j))
    for m, ivs in by_op.items():
        out[f"operators.{m}.eager_jobs"] = len(ivs)
        out[f"operators.{m}.eager_job_s"] = union_length(ivs)
    out["queries.plan_jobs"] = sum(j.get("jobGroup") == plan_group for j in jobs)
    out["queries.exec_jobs"] = sum(j.get("jobGroup") == exec_group for j in jobs)
    return out


# ---------------------------------------------------------- JVM beans

def jvm_counters(spark) -> dict:
    """Driver-JVM GC, JIT and codegen totals plus heap pool peaks."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap_peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().name()) == "HEAP":
            heap_peak += pool.getPeakUsage().getUsed()
    cls = jvm.java.lang.Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
    codegen = cls.getDeclaredField("MODULE$").get(None)
    return {
        "jvm.gc_s": gc_ms / 1e3,
        "jvm.jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "jvm.codegen_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
        "jvm.heap_peak_mb": heap_peak / (1 << 20),
    }


def reset_heap_peaks(spark) -> None:
    for pool in spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if str(pool.getType().name()) == "HEAP":
            pool.resetPeakUsage()


def jvm_delta(before: dict, after: dict) -> dict:
    out = {k: after[k] - before[k] for k in ("jvm.gc_s", "jvm.jit_s", "jvm.codegen_compiles")}
    out["jvm.heap_peak_mb"] = after["jvm.heap_peak_mb"]
    return out
