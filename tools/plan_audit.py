"""Plan-shape audit: dump a physical-plan summary for every HEADLINE
query into PLANS.md — the evidence trail behind the scale claims.

Every plan a query runs is audited, read from Spark's own execution
records (:func:`sql_executions`): the jobs that run while the query is
built (lazy localCheckpoints, fixpoint counts, centroid collects — the
rounds of every iterative operator) and the final collect. For each:
exchange count (shuffles), join strategies chosen, whole-stage-codegen
span count and scan-level pushed filters, counted over the plan that
actually ran (AQE's final plan, not its initial estimate). Run after
plan-affecting changes:

    python tools/plan_audit.py [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hdfs_parquet_importer_spark.queries import registry  # noqa: E402
from hdfs_parquet_importer_spark.session import build_session  # noqa: E402


@contextmanager
def sql_executions(spark):
    """Yield a list that, on exit, holds the formatted physical plans
    of the SQL executions that started inside the block, in start
    order: those with an execution id above the highest one at entry,
    read from the session's SQL status store once the listener bus has
    drained. The store keeps the last ``spark.sql.ui.retainedExecutions``
    executions (1000 by default), which bounds what one block can
    see."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        it = store.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    start = max((e.executionId() for e in executions()), default=-1)
    plans: list[str] = []
    yield plans
    plans.extend(
        e.physicalPlanDescription()
        for e in sorted(executions(), key=lambda e: e.executionId())
        if e.executionId() > start
    )


# A tree line of a formatted plan ends in the node id: "+- * Op ... (N)".
_TREE_NODE = re.compile(r"^[ :|+*-]*[A-Z]\w*.* \((\d+)\)$")
# A details block opens with "(N) Op ...".
_DETAIL = re.compile(r"^\((\d+)\) (\w+)", re.M)

_OPS = {
    "exchanges": "Exchange",
    "broadcasts": "BroadcastExchange",
    "bhj": "BroadcastHashJoin",
    "smj": "SortMergeJoin",
    "shj": "ShuffledHashJoin",
    "bnlj": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "group_limit": "WindowGroupLimit",
    "top_k": "TakeOrderedAndProject",
}
COLUMNS = (*_OPS, "codegen", "scans_with_pushdown")


def summarize(plan: str) -> dict[str, int]:
    """Operator counts of one ``explain("formatted")`` plan, over the
    nodes that ran: an adaptive plan lists its final plan and then its
    initial one, and nodes only the initial plan names are skipped.
    ``codegen`` counts whole-stage-codegen spans; ``scans_with_pushdown``
    counts scans with non-empty parquet PushedFilters."""
    ran: set[str] = set()
    initial = False
    for line in plan.splitlines():
        if "== Initial Plan ==" in line:
            initial = True
        elif "== Final Plan ==" in line or line.startswith("Subquery:"):
            initial = False
        else:
            m = _TREE_NODE.match(line.rstrip())
            if m and not initial:
                ran.add(m.group(1))
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    ops: Counter[str] = Counter()
    codegen: set[str] = set()
    pushdown = 0
    for block in blocks:
        m = _DETAIL.match(block)
        if not m or m.group(1) not in ran:
            continue
        ops[m.group(2)] += 1
        header = block.split("\n", 1)[0]
        codegen.update(re.findall(r"\[codegen id : (\d+)\]", header))
        pushed = re.search(r"^PushedFilters: \[(.*)\]$", block, re.M)
        pushdown += bool(pushed and pushed.group(1).strip())
    out = {k: ops[op] for k, op in _OPS.items()}
    out["codegen"] = len(codegen)
    out["scans_with_pushdown"] = pushdown
    return out


def _row(label: str, plans: list[str]) -> str:
    """One PLANS.md row: execution count, then each summary column
    summed over ``plans``."""
    total = sum((Counter(summarize(p)) for p in plans), Counter())
    cells = [label, str(len(plans))] + [str(total[c]) for c in COLUMNS]
    return "| " + " | ".join(cells) + " |"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    import bench

    spark = build_session(threads=8, shuffle_partitions=8)
    reg = registry()
    header = ["query", "execs", "exch", "bcast", "BHJ", "SMJ", "SHJ", "BNLJ",
              "CP", "grpLimit", "topK", "codegen", "pushdown scans"]
    lines = [
        "# PLANS — physical-plan audit of the bench headline",
        "",
        f"Generated by `tools/plan_audit.py` at `{args.sf_dir}`, from the",
        "plans Spark recorded for each SQL execution the query ran",
        "(`plan_audit.sql_executions`). Columns: executions, shuffle",
        "exchanges / broadcast exchanges / join strategies",
        "(BHJ=broadcast-hash, SMJ=sort-merge, SHJ=shuffled-hash,",
        "BNLJ=broadcast-nested-loop — only allowlisted brute-force",
        "baselines and 1-row scalar broadcasts carry BNLJ,",
        "CP=CartesianProduct — none may), WindowGroupLimit (per-group",
        "top-k before shuffle), TakeOrderedAndProject (global top-k",
        "without a global sort), whole-stage-codegen spans, scans with",
        "non-empty parquet PushedFilters. Adaptive plans count their",
        "final plan only.",
        "",
        "Each query's row is its final collect. Queries that run jobs",
        "while they are built — every iterative operator's rounds (CC,",
        "PageRank, LPA, k-core, k-means, the BPE trainer) and every lazy",
        "localCheckpoint — get an indented `[plan-time]` row summing",
        "those executions; its `execs` is how many there were.",
        "Connected components and label propagation take the path",
        "production takes at this size: below `DRIVER_MAX_SYM_ROWS`",
        "symmetrized edge rows they run their rounds on the driver, so",
        "their plan-time rows hold the one bounded collect, not the loop.",
        "",
        "| " + " | ".join(header) + " |",
        "|" + "---|" * len(header),
    ]
    # Loop-family queries that are not bench headliners still get
    # audited rows: their plan-time rows are where the iterated join
    # shapes show.
    extra = [
        "dedup_clusters",
        "graph_k_core",
        "tokenize_bpe_multiround",
        "embedding_kmeans",
    ]
    audit = list(bench.HEADLINE) + [n for n in extra if n not in bench.HEADLINE]
    for name in audit:
        if name not in reg:
            continue
        with sql_executions(spark) as built:
            df = reg[name].fn(spark, args.sf_dir)
        with sql_executions(spark) as ran:
            df.collect()
        lines.append(_row(name, ran))
        if built:
            lines.append(_row("&nbsp;&nbsp;`[plan-time]`", built))
    out = "\n".join(lines) + "\n"
    with open(args.out, "w") as f:
        f.write(out)
    print(f"wrote {args.out} ({len(audit)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
