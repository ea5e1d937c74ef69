"""bench.measure, the one timing kernel: it runs exactly `reps` noop
writes, reports the min over reps as best, and never leaves an operator
pin behind — on success or when a write raises.

Also the profiling tools that share it: `profile_query` counts each plan
operator once, and `scaling_curve` / `scale_probe` start their session on
`SPARK_GRAFT_CPUS` cores (get_spark's master=None) rather than a fixed one.
Inline data, except the `pricing_summary` count, which reads sf_dir."""

from __future__ import annotations

import importlib.util
import os
import re
import sys

import pytest
from pyspark.sql.readwriter import DataFrameWriter

import bench
from storm_data_etl_spark import session


@pytest.fixture
def saves(monkeypatch):
    """Count DataFrameWriter.save calls, delegating to the real sink."""
    calls = []
    real = DataFrameWriter.save

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "save", counting)
    return calls


def _pinning_runner(spark, sf_dir):
    return session.pin(spark.range(50).selectExpr("id", "id % 7 AS k"))


@pytest.mark.parametrize("reps", [1, 3])
def test_measure_runs_reps_writes_and_releases_pins(spark, saves, reps):
    build_s, first_s, best_s = bench.measure(spark, _pinning_runner, "unused", reps)
    assert len(saves) == reps
    assert 0 <= build_s and 0 < best_s <= first_s
    assert session._PINNED == []


def test_measure_releases_pins_when_the_write_raises(spark, monkeypatch):
    def failing(self, *args, **kwargs):
        raise RuntimeError("sink down")

    monkeypatch.setattr(DataFrameWriter, "save", failing)
    with pytest.raises(RuntimeError, match="sink down"):
        bench.measure(spark, _pinning_runner, "unused", 3)
    assert session._PINNED == []


def _tool(name):
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture
def cached_tables(monkeypatch):
    """Table caching on, as profile_query runs; the cached tables are
    released afterwards so later tests see the default uncached loads."""
    from storm_data_etl_spark.plans import tables

    monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", "1")
    before = set(tables._CACHE)
    yield
    for key in set(tables._CACHE) - before:
        tables._CACHE.pop(key).unpersist()


def test_profile_query_counts_each_exchange_once(spark, sf_dir, cached_tables):
    """After warm-up, pricing_summary's formatted plan prints its aggregate
    Exchange in the tree and the details, and the cached lineitem's
    repartition Exchange in the tree, the details and the initial-plan
    block of its executed adaptive plan: 6 lines, 2 operators."""
    profile_query = _tool("profile_query")
    bench.warm_up(spark, sf_dir)
    df = bench.REGISTRY["pricing_summary"].runner(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "== Initial Plan ==" in plan
    assert len(re.findall(r"\bExchange\b", plan)) == 6
    assert profile_query.count_operators(plan, profile_query.EXCHANGES) == 2
    assert profile_query.count_operators(plan, profile_query.PYTHON_NODES) == 0


def test_count_operators_inline_cached_relation(spark):
    """The same rule on inline data: a cached, already-executed repartition
    under an aggregate is one Exchange, the aggregate's shuffle another."""
    profile_query = _tool("profile_query")
    base = spark.range(1000).repartition(4).persist()
    try:
        base.count()
        df = base.groupBy((base.id % 3).alias("k")).count()
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        assert "== Initial Plan ==" in plan
        assert profile_query.count_operators(plan, profile_query.EXCHANGES) == 2
    finally:
        base.unpersist()


class _SessionRequested(Exception):
    pass


@pytest.mark.parametrize("tool, argv", [("scaling_curve", ["unused-sf-dir"]), ("scale_probe", ["2"])])
def test_tools_start_session_on_graft_cpus(monkeypatch, tool, argv):
    module = _tool(tool)
    masters = []

    def fake_get_spark(app_name, master="unset", extra_conf=None):
        masters.append(master)
        raise _SessionRequested

    monkeypatch.setattr(module, "get_spark", fake_get_spark)
    monkeypatch.setattr(sys, "argv", [f"{tool}.py", *argv])
    # main() may default table caching on; keep it off for later tests
    monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", os.environ.get("SPARK_GRAFT_CACHE_TABLES", "0"))
    with pytest.raises(_SessionRequested):
        module.main()
    assert masters == [None]
