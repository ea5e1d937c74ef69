"""Self-checks of the benchmark: its metric names match BENCHMARK.json, a
wrong query result and a failing micro-batch are counted as failures, and
only a traced run wraps engine functions.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402
from perfbench.trace import Tracer, installed_wrappers  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_tracer_wraps_and_restores_engine_functions():
    from storm_data_etl_spark import session
    from storm_data_etl_spark.plans import queries, tables  # noqa: F401

    original = tables.t
    tracer = Tracer()
    tracer.install()
    try:
        wrapped = installed_wrappers()
        assert "storm_data_etl_spark.plans.queries.t" in wrapped
        assert "storm_data_etl_spark.session.pin" in wrapped
    finally:
        tracer.uninstall()
    assert installed_wrappers() == []
    assert tables.t is original and session.pin.__name__ == "pin"


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    work_dir = str(tmp_path_factory.mktemp("perfbench"))
    run._prepare_env(work_dir, cpus=2)
    b = workloads.Bench(work_dir, traced=False, cpus=2)
    yield b
    b.close()


_TINY = workloads.RegistryWorkload(
    sf=0.001, tables=["customer"], queries=["group_count_composite"]
)


def test_untraced_run_installs_no_wrappers_and_passes(bench):
    res = workloads.run_registry(bench, "tiny", seed=3, seconds=0.1, workload=_TINY)
    assert installed_wrappers() == []
    assert (res.attempted, res.failed) == (1, 0), res.failures
    assert res.error_rate == 0.0
    assert set(res.metrics) == set(workloads.E2E_UNITS)


def test_injected_wrong_result_raises_error_rate(bench, monkeypatch):
    from storm_data_etl_spark.plans.queries import REGISTRY

    qd = REGISTRY["group_count_composite"]
    right = qd.runner
    monkeypatch.setattr(qd, "runner", lambda spark, sf_dir: right(spark, sf_dir).limit(1))
    res = workloads.run_registry(bench, "tiny", seed=3, seconds=0.1, workload=_TINY)
    assert (res.attempted, res.failed) == (1, 1)
    assert res.error_rate == 1.0
    assert "oracle mismatch" in res.failures[0]


def test_failed_micro_batch_is_counted_not_raised(bench, monkeypatch):
    real = workloads._checksum_cols
    calls = []

    def fail_first_batch(serialized):  # noqa: ANN001
        calls.append(serialized)
        if len(calls) == 1:
            raise RuntimeError("injected sink failure")
        return real(serialized)

    monkeypatch.setattr(workloads, "_checksum_cols", fail_first_batch)
    res = workloads.run_stream(bench, seed=3, seconds=0.1)
    assert res.attempted == workloads.STREAM_FILES + 1
    assert res.failed == workloads.STREAM_FILES, res.failures
    assert "stream stopped" in res.failures[0]
