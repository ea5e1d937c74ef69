"""bench.measure, the one timing kernel: it runs exactly `reps` noop
writes, reports the min over reps as best, and never leaves an operator
pin behind — on success or when a write raises. Inline data only."""

from __future__ import annotations

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
