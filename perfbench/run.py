#!/usr/bin/env python3
"""Benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 10 --trace 0

A run:

1. generates the workload's seeded inputs and the expected result of
   every op (DuckDB oracle, generator ground truth) in a child process;
2. launches the session ``SETUPS`` times, each a fresh JVM, and keeps
   the last; ``setup_s`` is the median launch plus the first (cold)
   of ``WARMUP_PASSES`` untimed warm-up passes;
3. repeats passes until ``--seconds`` have gone by (at least
   ``MIN_PASSES``), each pass in a seed-shuffled op order, one op after
   another (a closed loop with one client);
4. checks every op output outside the timer, and releases the blocks
   an op left persisted after counting them;
5. prints a human-readable table, then one JSON line.

With ``--trace 0`` the JSON metrics are the end-to-end ones; with
``--trace 1`` passes alternate untraced/traced and the metrics are the
per-layer ones (medians over traced passes) plus the tracing overhead.
Every artefact stays under ``.perfbench/`` next to this directory.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

import measure  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SETUPS = 2  # session launches per run; setup_s takes their median
# Untimed passes before measuring; the first is cold. A second one would
# take a tenth of a run, which the time allowed for all runs cannot spare.
WARMUP_PASSES = 1
MIN_PASSES = 3
MIN_TRACED = 3
KEEP_INPUTS = 3  # input sets kept per workload

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
# The end-to-end metrics of the JSON line. wall_s is printed and kept in
# the results file only: CPU-steal storms on a shared host move its
# ten-seed median by more than the largest bound a metric may have.
DECLARED = ("setup_s", "cpu_s", "peak_rss_mb")
# Printed in the table on every run but kept out of the JSON: each is
# zero on some workload (no failures, no files written outside ETL).
TABLE_ONLY = {
    "fail_ratio": "ratio",
    "ingest_mb_per_s": "MB/s",
    "out_bytes_per_in_byte": "ratio",
    "files_written": "count",
}
PER_LAYER = {
    "session.build_s": ("s", "lower"),
    "etl.build_pipeline_s": ("s", "lower"),
    "etl.write_parquet_s": ("s", "lower"),
    "etl.rows_in": ("count", "higher"),
    "etl.rows_out": ("count", "higher"),
    "etl.keep_ratio": ("ratio", "higher"),
    "etl.files_written": ("count", "lower"),
    "etl.out_bytes_per_in_byte": ("ratio", "lower"),
    "etl.ingest_mb_per_s": ("MB/s", "higher"),
    "queries.plan_s": ("s", "lower"),
    "queries.exec_s": ("s", "lower"),
    "queries.plan_jobs": ("count", "lower"),
    "queries.exec_jobs": ("count", "lower"),
    "queries.persisted_rdds": ("count", "lower"),
    "queries.rows_examined_per_row_out": ("ratio", "lower"),
    # The only operator module whose jobs a declared workload starts
    # itself; the others' counts are in the results file.
    "operators.graph.eager_jobs": ("count", "lower"),
    "operators.graph.eager_job_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.tasks_failed": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.input_mb": ("MB", "lower"),
    "spark.output_mb": ("MB", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.core_utilization": ("ratio", "higher"),
    "python.sent_mb": ("MB", "lower"),
    "python.received_mb": ("MB", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "jvm.jit_s": ("s", "lower"),
    "jvm.codegen_compiles": ("count", "lower"),
    "jvm.heap_peak_mb": ("MB", "lower"),
    "jvm.setup_jit_s": ("s", "lower"),
    "jvm.setup_codegen_compiles": ("count", "lower"),
    "trace.untraced_wall_s": ("s", "lower"),
    "trace.traced_wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.op_span_coverage": ("ratio", "higher"),
}
# Per-op numbers summed over a pass; the rest are derived per pass.
_ADDITIVE = [k for k in PER_LAYER if k.startswith(("spark.", "python.", "operators."))
             and k not in ("spark.driver_gap_s", "spark.core_utilization")]


# ------------------------------------------------------------ session

def environment() -> dict:
    """Point every scratch path at the checkout and give Spark's Python
    workers the package on their import path."""
    for sub in ("tmp", "spark-local", "warehouse", "out", "inputs"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    pythonpath = ROOT + (os.pathsep + old if old else "")
    os.environ["PYTHONPATH"] = pythonpath
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    cpus, mem_mb = measure.host_cpus(), measure.host_mem_mb()
    # A sixteenth of the host's memory, about Spark's 1 GB default on a
    # 16 GB host; the JVM, the Python workers and the page cache share
    # the rest.
    heap_mb = mem_mb // 16
    return {
        "cpus": cpus,
        "mem_mb": mem_mb,
        "conf": {
            "spark.driver.memory": f"{heap_mb}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # The default (not extra) options, so a package default for
            # spark.driver.extraJavaOptions still applies. The heap size
            # is fixed (-Xms = -Xmx) but not pre-touched: G1 does not
            # resize it, so the tree's peak memory does not follow G1's
            # host-speed-driven resizing, and no launch pays to touch it.
            "spark.driver.defaultJavaOptions":
                f"-Xms{heap_mb}m -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.executorEnv.PYTHONPATH": pythonpath,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    }


def launch(env: dict):
    from hdfs_parquet_importer_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session("perfbench", threads=env["cpus"],
                          shuffle_partitions=2 * env["cpus"],
                          conf=env["conf"], log_level="ERROR")
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session, end its JVM and wait for the JVM's children."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = []
    if proc is not None:
        snap = {p: v[0] for p, v in measure._snapshot().items()}
        workers = [p for p in measure.tree_pids(proc.pid, snap) if p != proc.pid]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # The workers outlive the JVM briefly and are re-parented here (see
    # adopt_orphans); a zombie is done, end_children reaps it.
    deadline = time.time() + 60
    while workers and time.time() < deadline:
        workers = [p for p in workers if _running(p)]
        time.sleep(0.05)


def _running(pid: int) -> bool:
    text = measure._read(f"/proc/{pid}/stat")
    return bool(text) and text[text.rindex(")") + 2] != "Z"


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a
    descendant whose parent exits first (a Python worker whose JVM has
    gone) is re-parented here instead of to init, so
    :func:`end_children` still finds it."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(ctypes.get_errno())}",
              file=sys.stderr)


def end_children(grace_s: float = 10.0) -> None:
    """Reap every child and wait until none is left. One still running
    after ``grace_s`` gets SIGTERM, and SIGKILL after as long again."""
    me = os.getpid()
    start = time.monotonic()
    signalled: dict[int, int] = {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        waited = time.monotonic() - start
        if waited >= grace_s:
            sig = signal.SIGKILL if waited >= 2 * grace_s else signal.SIGTERM
            live = [p for p, (ppid, _) in measure._snapshot().items() if ppid == me]
            for pid in live:
                if signalled.get(pid) != sig:
                    print(f"perfbench: child {pid} still running, sending {sig.name}",
                          file=sys.stderr)
                    signalled[pid] = sig
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


def release_persisted(spark) -> int:
    """Unpersist every persisted RDD; return how many there were."""
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(True)
    return len(rdds)


# --------------------------------------------------------------- pass

class Bench:
    """Runs passes over a workload's ops and keeps the spans and the
    failure count of every op execution."""

    def __init__(self, seed: int, ops: list, env: dict):
        self.ops = ops
        self.env = env
        self.rng = random.Random(seed)
        self.tracer = tracing.Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_no = 0

    def run_pass(self, spark, kind: str, trace_layers: bool = False) -> dict:
        """One pass over every op in a seed-shuffled order."""
        order = list(self.ops)
        self.rng.shuffle(order)
        self.pass_no += 1
        status = tracing.SparkStatus(spark.sparkContext) if trace_layers else None
        jvm0 = tracing.jvm_counters(spark) if trace_layers else None
        if trace_layers:
            tracing.reset_heap_peaks(spark)
        measure.reset_tree_hwm()
        per_op = {}
        with self.tracer.span("pass", kind=kind, n=self.pass_no) as pass_span:
            for op in order:
                per_op[op.name] = self.run_op(spark, op, status)
        out = {
            "kind": kind,
            "span": pass_span["id"],
            "order": [op.name for op in order],
            "wall_s": sum(r["wall_s"] for r in per_op.values()),
            "cpu_s": sum(r["cpu_s"] for r in per_op.values()),
            "jit_cpu_s": sum(r["jit_cpu_s"] for r in per_op.values()),
            # Sampled after each op: a process that exits mid-pass takes
            # its peak with it, so the largest sample is kept.
            "peak_rss_mb": max(r["peak_rss_mb"] for r in per_op.values()),
            "steal_s": sum(r["steal_s"] for r in per_op.values()),
            "ops": per_op,
        }
        if trace_layers:
            out["jvm"] = tracing.jvm_delta(jvm0, tracing.jvm_counters(spark))
        return out

    def run_op(self, spark, op, status) -> dict:
        sc = spark.sparkContext
        group = f"p{self.pass_no}:{op.name}"
        cpu0 = measure.tree_cpu()
        steal0 = measure.host_steal_s()
        error = result = t_plan = None
        with self.tracer.span("op", op=op.name) as op_span:
            t0 = time.perf_counter()
            try:
                sc.setJobGroup(f"{group}:plan", op.name)
                with self.tracer.span("plan"):
                    handle = op.plan(spark)
                t_plan = time.perf_counter()
                sc.setJobGroup(f"{group}:exec", op.name)
                with self.tracer.span("exec"):
                    result = op.execute(handle)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                error = f"{type(exc).__name__}: {str(exc)[:300]}"
                traceback.print_exc()
            t1 = time.perf_counter()
        tree_cpu, jit_cpu = measure.cpu_delta(cpu0, measure.tree_cpu())
        rec = {
            "steal_s": measure.host_steal_s() - steal0,
            "peak_rss_mb": measure.tree_hwm_mb(),
            "wall_s": t1 - t0,
            # The JIT compilers' share drifts down pass after pass as the
            # JVM warms; it is kept apart so cpu_s reads the warm pass.
            "cpu_s": tree_cpu - jit_cpu,
            "jit_cpu_s": jit_cpu,
            "plan_s": (t_plan or t1) - t0,
        }
        rec["exec_s"] = rec["wall_s"] - rec["plan_s"]
        self.attempted += 1
        if error is None:
            try:
                error = op.check(result)
            except Exception as exc:  # noqa: BLE001 - a broken check is a failure too
                error = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
                traceback.print_exc()
        if error is None:
            rec["rows_out"] = op.rows_out(result)
            if isinstance(op, workloads.EtlOp):
                files = op.output_files()
                rec["files_written"] = len(files)
                rec["out_bytes"] = sum(os.path.getsize(f) for f in files)
        else:
            self.failures.append(f"{op.name}: {error}")
            print(f"FAIL {op.name}: {error}", file=sys.stderr)
        rec["queries.persisted_rdds"] = release_persisted(spark)
        if status is not None:
            rec.update(tracing.spark_layer(status, f"{group}:plan", f"{group}:exec",
                                           op_span["t0"], op_span["t1"], self.env["cpus"]))
        return rec


# ---------------------------------------------------------- rollups

def layer_metrics(p: dict, wl, cpus: int, csv_bytes: int) -> dict:
    """The per-layer numbers of one traced pass."""
    ops = p["ops"].values()
    m = {k: sum(o.get(k, 0) for o in ops) for k in _ADDITIVE}
    wall = p["wall_s"]
    m["spark.driver_gap_s"] = sum(o.get("spark.driver_gap_s", 0.0) for o in ops)
    m["spark.core_utilization"] = m["spark.executor_run_s"] / max(1e-9, wall * cpus)
    m.update(p["jvm"])
    rows_out = sum(o.get("rows_out", 0) for o in ops)
    zero = {k: 0 for k in PER_LAYER if k.startswith(("etl.", "queries."))}
    m.update(zero)
    if wl.tweet_rows:
        (o,) = ops
        rows_in = o.get("spark.input_records", 0)
        written = o.get("spark.output_records", 0)
        m.update({
            "etl.build_pipeline_s": o["plan_s"],
            "etl.write_parquet_s": o["exec_s"],
            "etl.rows_in": rows_in,
            "etl.rows_out": written,
            "etl.keep_ratio": written / rows_in if rows_in else 0.0,
            **etl_table(o, csv_bytes),
        })
    else:
        m.update({
            "queries.plan_s": sum(o["plan_s"] for o in ops),
            "queries.exec_s": sum(o["exec_s"] for o in ops),
            "queries.plan_jobs": sum(o["queries.plan_jobs"] for o in ops),
            "queries.exec_jobs": sum(o["queries.exec_jobs"] for o in ops),
            "queries.persisted_rdds": sum(o["queries.persisted_rdds"] for o in ops),
            "queries.rows_examined_per_row_out":
                sum(o.get("spark.input_records", 0) for o in ops) / max(1, rows_out),
        })
    return m


def etl_table(o: dict, csv_bytes: int) -> dict:
    return {
        "etl.files_written": o.get("files_written", 0),
        "etl.out_bytes_per_in_byte": o.get("out_bytes", 0) / csv_bytes,
        "etl.ingest_mb_per_s": csv_bytes / (1 << 20) / o["wall_s"],
    }


def table_only(measured: list[dict], wl, csv_bytes: int, attempted: int, failed: int) -> dict:
    out = {"fail_ratio": failed / max(1, attempted),
           "ingest_mb_per_s": 0.0, "out_bytes_per_in_byte": 0.0, "files_written": 0}
    if wl.tweet_rows:
        rows = [etl_table(p["ops"][workloads.ETL_OP], csv_bytes) for p in measured
                if "files_written" in p["ops"][workloads.ETL_OP]]
        if rows:
            out["ingest_mb_per_s"] = statistics.median(r["etl.ingest_mb_per_s"] for r in rows)
            out["out_bytes_per_in_byte"] = rows[-1]["etl.out_bytes_per_in_byte"]
            out["files_written"] = rows[-1]["etl.files_written"]
    return out


# ------------------------------------------------------------- stamps

def git_commit() -> str:
    """HEAD's commit read from ``.git`` directly; 'unknown' outside a
    git checkout."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def stamp(spark, env: dict, args) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": env["cpus"],
        "mem_mb": env["mem_mb"],
        "driver_memory": env["conf"]["spark.driver.memory"],
        "commit": git_commit(),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


# ----------------------------------------------------- run phases

def prepare_inputs(wl, seed: int) -> dict:
    """Inputs and expectations, built by ``workloads.py`` in a child
    interpreter that is waited for; keeps only the newest
    ``KEEP_INPUTS`` input sets of the workload."""
    expect_path = os.path.join(WORK, "tmp", f"expect-{wl.name}-{seed}.json")
    subprocess.run([sys.executable, os.path.join(HERE, "workloads.py"),
                    WORK, wl.name, str(seed), expect_path], check=True)
    with open(expect_path) as fh:
        expect = json.load(fh)
    os.remove(expect_path)
    keep = workloads.input_dir(WORK, wl, seed)
    os.utime(keep)
    root = os.path.join(WORK, "inputs")
    sets = sorted((os.path.join(root, d) for d in os.listdir(root)
                   if d.startswith(wl.name + "-")), key=os.path.getmtime)
    for stale in sets[:-KEEP_INPUTS]:
        shutil.rmtree(stale, ignore_errors=True)
    return expect


def set_up(bench: Bench, env: dict):
    """Launch the session ``SETUPS`` times and keep the last one, then
    run the warm-up passes on it.

    Each launch is a fresh JVM. The earlier ones are stopped before any
    op has run, so no module-level py4j handle in PySpark or the package
    can point into a dead JVM. Set-up time is the median launch plus
    the first (cold) warm-up pass; any later warm-up pass only lets the
    JIT and caches settle and is not part of any metric: the JIT keeps
    compiling the classes each pass generates, and its share of the CPU
    still falls over the first passes."""
    builds = []
    for k in range(SETUPS):
        with bench.tracer.span("session.build", n=k):
            spark, build_s = launch(env)
        builds.append(build_s)
        if k < SETUPS - 1:
            shutdown(spark)
    warmups = [bench.run_pass(spark, "warmup") for _ in range(WARMUP_PASSES)]
    cold_s = warmups[0]["wall_s"]
    return spark, {
        "build_s": builds,
        "warmup_s": [w["wall_s"] for w in warmups],
        "setup_s": statistics.median(builds) + cold_s,
    }


def measure_passes(bench: Bench, spark, seconds: float, traced: bool) -> list[dict]:
    """Passes until ``seconds`` have gone by and the minimum counts are
    met; with ``traced``, untraced and traced passes alternate."""
    passes: list[dict] = []
    t_start = time.perf_counter()
    while True:
        n_untraced = sum(p["kind"] == "untraced" for p in passes)
        n_traced = len(passes) - n_untraced
        enough = n_untraced >= MIN_PASSES and (not traced or n_traced >= MIN_TRACED)
        if enough and time.perf_counter() - t_start >= seconds:
            return passes
        if traced and n_traced < n_untraced:
            with tracing.stamp_call_sites():
                passes.append(bench.run_pass(spark, "traced", trace_layers=True))
        else:
            passes.append(bench.run_pass(spark, "untraced"))


def trace_layers(bench: Bench, wl, env: dict, csv_bytes: int, setup: dict,
                 jvm_setup: dict, untraced: list[dict], traced: list[dict]) -> dict:
    """Per-layer medians over traced passes plus the tracing overhead."""
    per_pass = [layer_metrics(p, wl, env["cpus"], csv_bytes) for p in traced]
    layers = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    tracer = bench.tracer
    coverage = []
    for p in traced:
        span = tracer.spans[p["span"]]
        ops = sum(c["t1"] - c["t0"] for c in tracer.children(p["span"]))
        coverage.append(ops / (span["t1"] - span["t0"]))
    u = statistics.median(p["wall_s"] for p in untraced)
    t = statistics.median(p["wall_s"] for p in traced)
    layers.update({
        "session.build_s": statistics.median(setup["build_s"]),
        "jvm.setup_jit_s": jvm_setup["jvm.jit_s"],
        "jvm.setup_codegen_compiles": jvm_setup["jvm.codegen_compiles"],
        "trace.untraced_wall_s": u,
        "trace.traced_wall_s": t,
        "trace.overhead_s": t - u,
        "trace.op_span_coverage": statistics.median(coverage),
    })
    return layers


def per_op_layers(traced: list[dict]) -> dict:
    """Per-op medians over traced passes of every numeric op field."""
    out = {}
    for name in traced[0]["ops"]:
        recs = [p["ops"][name] for p in traced]
        keys = [k for k, v in recs[0].items() if isinstance(v, (int, float))]
        out[name] = {k: statistics.median(r.get(k, 0) for r in recs) for k in keys}
    return out


# ------------------------------------------------------------ report

def fmt(v) -> str:
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def print_end_to_end(info, ops, setup, untraced, e2e, extra, failures) -> None:
    print(" ".join(f"{k}={v}" for k, v in info.items()))
    print(f"closed loop, 1 client, {len(ops)} ops/pass, {len(untraced)} untraced passes, "
          f"{SETUPS} session launches, {WARMUP_PASSES} warm-up passes")
    print(f"{'metric':<24}{'value':>12}  unit    detail")

    def summary(key):
        return json.dumps({k: round(v, 4) for k, v in
                           measure.summarize([p[key] for p in untraced]).items()})

    details = {
        "setup_s": "median launch of " + ", ".join(f"{b:.3f}" for b in setup["build_s"])
                   + f" + cold pass {setup['warmup_s'][0]:.3f}",
        "wall_s": summary("wall_s") + ", CPU taken by the hypervisor meanwhile: "
                  + summary("steal_s"),
        "cpu_s": summary("cpu_s") + ", JIT compiler threads apart: " + summary("jit_cpu_s"),
        "peak_rss_mb": summary("peak_rss_mb"),
    }
    for k, v in {**e2e, **extra}.items():
        unit = END_TO_END[k][0] if k in END_TO_END else TABLE_ONLY[k]
        print(f"{k:<24}{fmt(v):>12}  {unit:<7} {details.get(k, '')}")
    print(f"{'op (untraced passes)':<36}{'n':>4}{'plan_s':>10}{'exec_s':>10}{'max_s':>10}")
    for op in ops:
        recs = [p["ops"][op.name] for p in untraced]
        print(f"{op.name:<36}{len(recs):>4}"
              f"{statistics.median(r['plan_s'] for r in recs):>10.4f}"
              f"{statistics.median(r['exec_s'] for r in recs):>10.4f}"
              f"{max(r['wall_s'] for r in recs):>10.4f}")
    for f in failures:
        print(f"FAILED {f}")


_OP_COLUMNS = ("plan_s", "exec_s", "queries.plan_jobs", "queries.exec_jobs",
               "spark.driver_gap_s", "spark.executor_run_s", "python.sent_mb")


def print_layers(layers: dict, per_op: dict, traced: list[dict], tracer) -> None:
    print(f"{'per-layer metric (median of traced passes)':<44}{'value':>14}  unit")
    for k, (unit, _) in PER_LAYER.items():
        print(f"{k:<44}{fmt(layers[k]):>14}  {unit}")
    print("per op (median of traced passes): " + ", ".join(_OP_COLUMNS))
    for name, rec in per_op.items():
        print(f"  {name:<36}" + "".join(f"{rec.get(c, 0):>10.4f}" for c in _OP_COLUMNS))
    last = traced[-1]
    print("op self time = op span minus its plan and exec spans (last traced pass):")
    for c in tracer.children(last["span"]):
        print(f"  {c['attrs']['op']:<36} span {c['t1'] - c['t0']:8.4f}s  "
              f"self {tracer.self_time(c['id']):8.5f}s")
    print(f"  pass wall_s {last['wall_s']:.4f}s; pass span self time "
          f"{tracer.self_time(last['span']):.4f}s is checks, release and status reads")


# --------------------------------------------------------------- main

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Every way out, SIGTERM included, passes through end_children.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    adopt_orphans()
    try:
        return run(args)
    finally:
        end_children()


def run(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import hdfs_parquet_importer_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2

    wl = workloads.WORKLOADS[args.workload]
    env = environment()
    clock = [time.perf_counter()]
    expect = prepare_inputs(wl, args.seed)
    csv_bytes = expect[workloads.ETL_OP]["csv_bytes"] if wl.tweet_rows else 0
    ops = workloads.make_ops(WORK, wl, args.seed, expect)
    bench = Bench(args.seed, ops, env)

    with bench.tracer.span("run", workload=wl.name, seed=args.seed, trace=args.trace):
        clock.append(time.perf_counter())
        spark, setup = set_up(bench, env)
        jvm_setup = tracing.jvm_counters(spark) if args.trace else None
        clock.append(time.perf_counter())
        passes = measure_passes(bench, spark, args.seconds, bool(args.trace))
        info = stamp(spark, env, args)
        clock.append(time.perf_counter())
        shutdown(spark)
        clock.append(time.perf_counter())
    # Where the run's own time went, checks and status reads included.
    info["phases_s"] = {k: round(b - a, 3) for k, a, b in
                        zip(("inputs", "set_up", "measure", "shutdown"), clock, clock[1:])}

    untraced = [p for p in passes if p["kind"] == "untraced"]
    traced = [p for p in passes if p["kind"] == "traced"]
    failed = len(bench.failures)
    e2e = {
        "setup_s": setup["setup_s"],
        "wall_s": statistics.median(p["wall_s"] for p in untraced),
        "cpu_s": statistics.median(p["cpu_s"] for p in untraced),
        "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in untraced),
    }
    extra = table_only(untraced, wl, csv_bytes, bench.attempted, failed)
    print_end_to_end(info, ops, setup, untraced, e2e, extra, bench.failures)
    result = {"stamp": info, "setup": setup, "end_to_end": e2e, **extra, "passes": passes}
    if args.trace:
        layers = trace_layers(bench, wl, env, csv_bytes, setup, jvm_setup, untraced, traced)
        per_op = per_op_layers(traced)
        print_layers(layers, per_op, traced, bench.tracer)
        result.update({"layers": layers, "per_op": per_op, "spans": bench.tracer.spans})
        metrics = {k: {"value": layers[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k][0]} for k in DECLARED}

    out_path = os.path.join(
        WORK, "out", f"{wl.name}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    print(f"full results: {os.path.relpath(out_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
