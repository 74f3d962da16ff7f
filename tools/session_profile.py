"""Root-cause probe for the 'in-session inflation' of iterative cells:
graph-family queries measured ~15-40% slower inside a full 58-query
bench session than isolated in a fresh session, with UI retention
already ruled out by an A/B.

Protocol (same-session, so ambient host drift cancels):

1. fresh probe:  run each PROBE query RUNS times in a brand-new
   session (the bench conf), recording medians plus driver-side
   counters (GC time/count, JIT compilation time, codegen
   compilation count/time, listener-bus event counts).
2. age the session: execute every headline query once (exactly the
   bench warmup loop).
3. aged probe: re-run the PROBE queries RUNS times, same counters.

If aged >> fresh medians, the counter DELTAS name the mechanism:
 - codegen compilation count grows per aged probe run => the 100-entry
   codegen cache (spark.sql.codegen.cache.maxEntries) is thrashed by
   the 58-query rotation and every re-run pays Janino again;
 - GC time per probe grows => heap pressure from session-lifetime
   accumulation (kvstore, metrics);
 - listener processingTime grows => event-bus backlog.

Optional --conf k=v pairs apply to the session so a suspected
mechanism can be A/B'd (e.g. --conf spark.sql.codegen.cache.maxEntries=5000).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from hdfs_parquet_importer_spark.queries import registry  # noqa: E402

PROBES = [
    "graph_label_propagation",
    "graph_pagerank",
    "graph_triangle_count",
    "split_leakage_audit",
]


def _counters(spark) -> dict[str, float]:
    jvm = spark._jvm
    out: dict[str, float] = {}
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = 0
    gc_n = 0
    for b in mf.getGarbageCollectorMXBeans():
        gc_ms += b.getCollectionTime()
        gc_n += b.getCollectionCount()
    out["gc_ms"] = gc_ms
    out["gc_count"] = gc_n
    out["jit_ms"] = mf.getCompilationMXBean().getTotalCompilationTime()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    out["heap_used_mb"] = heap.getUsed() / 1e6
    # Codegen (Janino) compilation metrics: Scala object => CLASSNAME$.MODULE$
    try:
        cls = jvm.java.lang.Class.forName(
            "org.apache.spark.metrics.source.CodegenMetrics$"
        )
        cm = cls.getDeclaredField("MODULE$").get(None)
        h = cm.metricRegistry().getHistograms()
        for name in ("compilationTime", "generatedClassSize", "sourceCodeSize"):
            for key in h.keySet().toArray():
                if name in str(key):
                    out[f"codegen_{name}_count"] = h.get(key).getCount()
    except Exception as e:  # pragma: no cover - introspection best-effort
        out["codegen_err"] = str(e)[:80]  # type: ignore[assignment]
    # Listener bus timers/counters
    try:
        lb = spark.sparkContext._jsc.sc().listenerBus()
        mr = lb.metrics().metricRegistry()
        cs = mr.getCounters()
        for key in cs.keySet().toArray():
            k = str(key)
            if "numEventsPosted" in k:
                out["bus_events_posted"] = cs.get(key).getCount()
        ts = mr.getTimers()
        for key in ts.keySet().toArray():
            k = str(key)
            if "appStatus" in k and "listenerProcessingTime" in k:
                t = ts.get(key)
                out["bus_appstatus_events"] = t.getCount()
                out["bus_appstatus_mean_ms"] = t.getSnapshot().getMean() / 1e6
    except Exception as e:  # pragma: no cover
        out["bus_err"] = str(e)[:80]  # type: ignore[assignment]
    return out


def _probe(spark, sf_dir: str, names: list[str], runs: int) -> dict:
    reg = registry()
    res: dict[str, dict] = {}
    for name in names:
        def run():
            reg[name].fn(spark, sf_dir).collect()

        bench.timed_runs(run, 1)  # warmup, outside the counter bracket
        before = _counters(spark)
        samples = bench.timed_runs(run, runs)
        after = _counters(spark)
        res[name] = {
            "median": round(statistics.median(samples), 3),
            "min": round(min(samples), 3),
            "delta": {
                k: round(after[k] - before[k], 1)
                for k in before
                if isinstance(before.get(k), (int, float))
                and isinstance(after.get(k), (int, float))
            },
        }
        print(f"  {name:38s} median={res[name]['median']:7.3f} "
              f"min={res[name]['min']:7.3f} "
              f"gc+{res[name]['delta'].get('gc_ms', 0):6.0f}ms "
              f"codegen+{res[name]['delta'].get('codegen_compilationTime_count', 0):4.0f} "
              f"jit+{res[name]['delta'].get('jit_ms', 0):6.0f}ms",
              flush=True)
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("--probes", nargs="*", default=PROBES)
    ap.add_argument("--skip-age", action="store_true")
    args = ap.parse_args()

    spark = bench.protocol_session(
        "session_profile", dict(kv.split("=", 1) for kv in args.conf)
    )

    print("== FRESH probe ==", flush=True)
    fresh = _probe(spark, args.sf_dir, args.probes, args.runs)

    aged = None
    if not args.skip_age:
        print("== aging: one pass over every headline query ==", flush=True)
        reg = registry()
        aging = sum(
            sum(bench.timed_runs(lambda: reg[n].fn(spark, args.sf_dir).collect(), 1))
            for n in bench.HEADLINE
            if n in reg
        )
        print(f"   aged in {aging:.1f}s", flush=True)
        print("== AGED probe ==", flush=True)
        aged = _probe(spark, args.sf_dir, args.probes, args.runs)

    print("\n== summary ==")
    for name in args.probes:
        f = fresh[name]["median"]
        if aged:
            a = aged[name]["median"]
            print(f"{name:38s} fresh={f:7.3f} aged={a:7.3f} ratio={a/f:5.2f}")
        else:
            print(f"{name:38s} fresh={f:7.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
