"""Measurement arithmetic shared by the untraced and traced runs.

Pure functions over numbers and ``/proc`` text, so the tests in
``perfbench/tests`` can drive them with hand-built inputs.
"""

from __future__ import annotations

import os
import statistics

# Percentiles a timing may be reported at, highest last.
PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)
# A percentile is reported only with this many samples beyond it.
MIN_TAIL = 10


def supported_percentile(n: int) -> float:
    """Highest percentile with at least ``MIN_TAIL`` samples above it;
    the median when the sample is too small for any tail."""
    best = PERCENTILES[0]
    for p in PERCENTILES[1:]:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_TAIL:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the value itself, never interpolated)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if p == 50.0:
        return statistics.median(values)
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))  # ceil(n * p / 100)
    return ordered[int(rank) - 1]


def summarize(values: list[float]) -> dict:
    """Median, the highest supported tail percentile and the count."""
    p = supported_percentile(len(values))
    out = {"n": len(values), "median": statistics.median(values)}
    if p > 50.0:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def union_length(intervals: list[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals``, optionally clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(t0: float, t1: float, jobs: list[tuple[float, float]]) -> float:
    """Wall time in [t0, t1] during which no Spark job was running."""
    return (t1 - t0) - union_length(jobs, t0, t1)


# ------------------------------------------------------ process tree

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> tuple[int, int, float]:
    """(pid, ppid, cpu seconds) from one ``/proc/<pid>/stat`` line.

    CPU counts the process's own user+system time plus that of its
    reaped children (cutime, cstime): a Python worker that exited and
    was waited for still counts through its parent."""
    pid = int(text[: text.index(" ")])
    # comm may hold spaces and parens; the fields after it are fixed.
    rest = text[text.rindex(")") + 2:].split()
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return pid, ppid, (utime + stime + cutime + cstime) / _CLK_TCK


def tree_pids(root: int, parents: dict[int, int]) -> list[int]:
    """``root`` and every descendant, given a pid -> ppid map."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process exited between listing and reading
        return None


def _snapshot() -> dict[int, tuple[int, float]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            text = _read(f"/proc/{name}/stat")
            if text:
                pid, ppid, cpu = parse_stat(text)
                procs[pid] = (ppid, cpu)
    return procs


# Thread names (comm, cut to 15 characters) of HotSpot's JIT compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_threads(pid: int) -> dict[tuple[int, int], float]:
    """CPU seconds of each live JIT compiler thread of process ``pid``."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        comm = _read(f"/proc/{pid}/task/{tid}/comm")
        if comm and comm.rstrip("\n") in JIT_THREADS:
            stat = _read(f"/proc/{pid}/task/{tid}/stat")
            if stat:
                rest = stat[stat.rindex(")") + 2:].split()
                out[(pid, int(tid))] = (int(rest[11]) + int(rest[12])) / _CLK_TCK
    return out


def tree_cpu(root: int | None = None) -> tuple[float, dict]:
    """CPU seconds used so far by ``root``'s process tree (default: this
    process): the Python driver, the JVM, its Python workers, and every
    child they reaped; plus the CPU of each JVM JIT compiler thread."""
    root = os.getpid() if root is None else root
    procs = _snapshot()
    pids = [p for p in tree_pids(root, {p: v[0] for p, v in procs.items()}) if p in procs]
    jit = {}
    for pid in pids:
        if (_read(f"/proc/{pid}/comm") or "").rstrip("\n") == "java":
            jit.update(_jit_threads(pid))
    return sum(procs[p][1] for p in pids), jit


def cpu_delta(before: tuple[float, dict], after: tuple[float, dict]) -> tuple[float, float]:
    """(tree CPU, JIT compiler CPU) spent between two :func:`tree_cpu`
    samples. HotSpot ends idle compiler threads, so a thread gone by
    ``after`` is taken to have been idle; one new since ``before``
    counts in full."""
    jit = sum(cpu - before[1].get(key, 0.0) for key, cpu in after[1].items())
    return after[0] - before[0], jit


def parse_hwm_kb(status_text: str) -> int:
    """``VmHWM`` (peak resident memory) in kB from ``/proc/<pid>/status``
    text (0 for kernel threads)."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def tree_hwm_mb(root: int | None = None) -> float:
    """Peak resident memory of ``root``'s process tree: each live
    process's ``VmHWM`` since its start or its last :func:`reset_tree_hwm`,
    summed."""
    root = os.getpid() if root is None else root
    procs = _snapshot()
    total_kb = 0
    for pid in tree_pids(root, {p: v[0] for p, v in procs.items()}):
        text = _read(f"/proc/{pid}/status")
        if text:
            total_kb += parse_hwm_kb(text)
    return total_kb / 1024.0


def reset_tree_hwm(root: int | None = None) -> None:
    """Reset ``VmHWM`` to the current resident size for every process
    of ``root``'s tree (``/proc/<pid>/clear_refs`` = 5)."""
    root = os.getpid() if root is None else root
    procs = _snapshot()
    for pid in tree_pids(root, {p: v[0] for p, v in procs.items()}):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:  # exited, or a kernel that does not allow it
            pass


def parse_steal_s(stat_text: str) -> float:
    """Seconds of CPU the hypervisor took from this machine, all CPUs
    together, from ``/proc/stat``'s first line."""
    fields = stat_text.split("\n", 1)[0].split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 and fields[0] == "cpu" else 0.0


def host_steal_s() -> float:
    return parse_steal_s(_read("/proc/stat") or "")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
