"""Phase-0 smoke: entry() runs, flagship query returns sane results."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

ROOT = Path(__file__).resolve().parent.parent


def load_entry_module():
    spec = importlib.util.spec_from_file_location("__spark_entry__", "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_entry_smoke(spark):
    mod = load_entry_module()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(rows) <= 6  # at most |returnflag| x |linestatus| groups
    cols = set(df.columns)
    assert {"l_returnflag", "l_linestatus", "sum_qty", "count_order"} <= cols


def test_queries_and_oracles_aligned():
    mod = load_entry_module()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert "q1_pricing_summary" in qs


def test_q1_totals(spark, sf_dir):
    mod = load_entry_module()
    df = mod.queries()["q1_pricing_summary"](spark, sf_dir)
    rows = {(r.l_returnflag, r.l_linestatus): r for r in df.collect()}
    total = sum(r.count_order for r in rows.values())
    assert 0 < total <= 6000
    for r in rows.values():
        assert r.sum_qty > 0
        assert 0 <= r.avg_disc <= 1


def test_driver_window_covers_every_family():
    """The external driver records correctness for only the first 50
    registrations; assert the curated window holds exactly there and
    that every query module lands at least one representative inside
    it (r1 left 40 queries with no authoritative correctness row)."""
    from hdfs_parquet_importer_spark.queries import _DRIVER_WINDOW, registry

    reg = registry()
    names = list(reg)
    assert len(_DRIVER_WINDOW) == 50
    assert names[:50] == list(_DRIVER_WINDOW)
    assert len(names) == len(set(names))
    modules_in_window = {reg[n].fn.__module__.rsplit(".", 1)[-1] for n in names[:50]}
    assert {
        "relational",
        "tpch",
        "etl_parity",
        "functions",
        "windows",
        "events",
        "llm",
        "mixing",
        "subqueries",
        "pandas_surface",
        "stats",
        "reporting",
    } <= modules_in_window


def test_no_rdd_api_in_package():
    """The DataFrame API is the contract: `.rdd` forces an RDD
    lineage materialization per call and breaks under Spark Connect.
    Grep-gate the whole package (code, not prose) so it can't creep
    back."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).parent.parent / "hdfs_parquet_importer_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        for lineno, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"\.rdd\b", code) and '``' not in line:
                offenders.append(f"{py.name}:{lineno}")
    assert not offenders, offenders


def _package_prose(src: str):
    """(line, text) of every comment, docstring and ``doc=`` keyword
    string in one module's source — its prose, never its code or the
    oracle SQL string literals."""
    import ast
    import io
    import tokenize

    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            yield tok.start[0], tok.string
    docstring_owners = (
        ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef
    )
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, docstring_owners):
            doc = ast.get_docstring(node, clean=False)
            if doc is not None:
                yield node.body[0].lineno, doc
        elif isinstance(node, ast.keyword) and node.arg == "doc":
            for sub in ast.walk(node.value):
                if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                    yield sub.lineno, sub.value


def test_no_round_history_in_package_prose():
    """Package and tool comments, docstrings and query ``doc=`` text
    state the condition they protect, so a reader can check them
    against the code alone; round and review tags (``r13``,
    ``VERDICT``, ``ADVICE``) point at logs that are not part of the
    code."""
    import re

    tag = re.compile(r"\b(r\d{1,2}|VERDICT|ADVICE)\b")
    offenders = [
        f"{py.relative_to(ROOT)}:{lineno}: {m.group(0)}"
        for top in ("hdfs_parquet_importer_spark", "tools")
        for py in sorted((ROOT / top).rglob("*.py"))
        for lineno, text in _package_prose(py.read_text())
        for m in tag.finditer(text)
    ]
    assert not offenders, f"{len(offenders)} round-history tags: {offenders}"


def test_bench_stdout_line_fits_driver_tail():
    """Only the LAST 2000 bytes of bench stdout are recorded, and a line
    that overflowed them once lost the headline total. The real line,
    at worst-case widths, must carry every HEADLINE median and fit in
    1900 bytes."""
    import json

    import bench

    line = bench.stdout_line(
        total=57999.942,
        medians={n: 999.999 for n in bench.HEADLINE},
        sf=0.1,
        speed_factor=99.999,
        cpus=128,
    )
    assert list(json.loads(line)["queries"]) == bench.HEADLINE
    assert len(line) <= 1900, f"bench stdout line is {len(line)} bytes"


def test_timed_runs_releases_persisted_blocks(spark):
    import bench

    def run():
        spark.range(10).localCheckpoint(eager=True)

    samples = bench.timed_runs(run, 3)
    assert len(samples) == 3 and all(s > 0 for s in samples)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


@pytest.mark.parametrize(
    "path", sorted((ROOT / "tools").glob("*.py")), ids=lambda p: p.stem
)
def test_tool_imports_without_starting_spark(path, monkeypatch):
    """Every tool is importable by path (tests and other tools load
    them) and starts no Spark session until its main() runs."""

    def no_spark(*args, **kwargs):
        raise AssertionError(f"{path.name} starts Spark on import")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_spark)
    monkeypatch.setattr(SparkContext, "__init__", no_spark)
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
