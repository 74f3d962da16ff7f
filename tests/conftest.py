"""Shared pytest fixtures: one session-scoped SparkSession, the smoke
scale factor and the plan-audit tool."""

from __future__ import annotations

import importlib.util
import os

import pytest

from hdfs_parquet_importer_spark.session import build_session

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = build_session("pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def plan_audit():
    """tools/plan_audit.py, loaded by path (tools/ is not a package):
    ``sql_executions`` reads the plans Spark ran, ``summarize`` counts
    their operators."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "plan_audit.py",
    )
    spec = importlib.util.spec_from_file_location("plan_audit", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
