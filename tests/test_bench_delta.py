"""Unit tests for tools/bench_delta.py's trust gate (ADVICE r10 medium +
VERDICT r10 task 1): contended or engine-wide-suspect artifacts must be
refused, not silently normalized away."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "bench_delta",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "bench_delta.py"),
)
bench_delta = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(bench_delta)


def _artifact(tmp_path, name, queries, canary_scale, samples=None, order=None):
    p = tmp_path / name
    payload = {"queries": queries}
    if canary_scale is not None or samples is not None:
        payload["canary"] = {"scale": canary_scale}
        if samples is not None:
            payload["canary"]["samples"] = [
                {"pos": pos, "scale": sc} for pos, sc in samples
            ]
    if order is not None:
        payload["query_order"] = order
    p.write_text(json.dumps(payload))
    return str(p)


def _run(monkeypatch, capsys, argv):
    monkeypatch.setattr(sys, "argv", ["bench_delta.py", *argv])
    rc = bench_delta.main()
    return rc, capsys.readouterr().out


def test_clean_comparison_passes(tmp_path, monkeypatch, capsys):
    old = _artifact(tmp_path, "old.json", {"q1": 1.0, "q2": 0.5}, 1.05)
    new = _artifact(tmp_path, "new.json", {"q1": 1.1, "q2": 0.55}, 1.10)
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 0
    assert "REFUSED" not in out


def test_contended_new_canary_refused(tmp_path, monkeypatch, capsys):
    """A new-side canary above CANARY_IDLE_MAX is indistinguishable from an
    engine-wide regression — exit 1 even when every normalized per-query
    ratio is clean (the ADVICE r10 blind spot)."""
    old = _artifact(tmp_path, "old.json", {"q1": 1.0}, 1.0)
    new = _artifact(
        tmp_path, "new.json", {"q1": 1.15},
        bench_delta.CANARY_IDLE_MAX + 0.21,
    )
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 1
    assert "REFUSED" in out and "new canary scale" in out


def test_engine_wide_regression_not_normalized_away(tmp_path, monkeypatch, capsys):
    """The exact ADVICE scenario: every query 2.5x slower AND the canary
    2.5x inflated (engine-wide slowdown). Normalized ratios are all 1.0 —
    the old gate passed silently; the trust gate must refuse."""
    old = _artifact(tmp_path, "old.json", {"q1": 1.0, "q2": 2.0}, 1.0)
    new = _artifact(tmp_path, "new.json", {"q1": 2.5, "q2": 5.0}, 2.5)
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 1
    assert "REFUSED" in out


def test_allow_contended_downgrades_to_warning(tmp_path, monkeypatch, capsys):
    old = _artifact(tmp_path, "old.json", {"q1": 1.0}, 1.0)
    new = _artifact(tmp_path, "new.json", {"q1": 1.0}, 2.5)
    rc, out = _run(monkeypatch, capsys, [old, new, "2.0", "--allow-contended"])
    assert rc == 0
    assert "WARNING" in out and "REFUSED" not in out


def test_per_query_regression_still_gates(tmp_path, monkeypatch, capsys):
    old = _artifact(tmp_path, "old.json", {"q1": 1.0, "q2": 1.0}, 1.0)
    new = _artifact(tmp_path, "new.json", {"q1": 2.6, "q2": 1.0}, 1.05)
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 1
    assert "REGRESSIONS" in out and "q1" in out


def test_zero_canary_scale_refused(tmp_path, monkeypatch, capsys):
    """ADVICE r11: a PRESENT but zero canary scale is a malformed
    artifact, not 'no canary' — truthiness used to silently drop the
    trust gate AND the normalization for it. Must refuse."""
    old = _artifact(tmp_path, "old.json", {"q1": 1.0}, 1.0)
    new = _artifact(tmp_path, "new.json", {"q1": 1.0}, 0.0)
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 1
    assert "REFUSED" in out and "non-positive" in out


def test_scale_at_interpolates_and_clamps():
    samples = [(0.0, 1.0), (0.5, 3.0), (1.0, 1.0)]
    assert bench_delta._scale_at(samples, 0.25) == pytest.approx(2.0)
    assert bench_delta._scale_at(samples, 0.75) == pytest.approx(2.0)
    assert bench_delta._scale_at(samples, 0.5) == pytest.approx(3.0)
    # clamped outside the sampled range
    assert bench_delta._scale_at(samples, -0.1) == pytest.approx(1.0)
    assert bench_delta._scale_at(samples, 1.1) == pytest.approx(1.0)


def test_windowed_normalization_clears_midrun_weather(
    tmp_path, monkeypatch, capsys
):
    """VERDICT r11 task 3 scenario: the new run's host slows 2x in the
    MIDDLE of the suite (canary samples 1.0 → 2.0 → 1.0). A query that
    ran inside the slow window shows a 2.1x raw ratio on untouched code;
    the whole-run scalar (best-window min = 1.0 → host factor 1.0) would
    flag it, the windowed factor must clear it. A genuinely regressed
    query in a CALM window must still gate."""
    order = ["q_calm", "q_real", "q_weather", "q_tail"]
    old = _artifact(
        tmp_path, "old.json",
        {"q_calm": 1.0, "q_real": 1.0, "q_weather": 1.0, "q_tail": 1.0},
        1.0,
        samples=[(0, 1.0), (2, 1.0), (4, 1.0)],
        order=order,
    )
    new = _artifact(
        tmp_path, "new.json",
        # q_weather at pos 2 = the 2.0-scale sample → normalized 1.05;
        # q_real at pos 1 (interp scale 1.5... keep it calm: pos 1 between
        # samples (0,1.0) and (2,2.0) interpolates 1.5) — use 3.2x so it
        # gates even against 1.5.
        {"q_calm": 1.0, "q_real": 3.2, "q_weather": 2.1, "q_tail": 1.0},
        1.0,
        samples=[(0, 1.0), (2, 2.0), (4, 1.0)],
        order=order,
    )
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 1
    assert "q_real" in out.split("REGRESSIONS")[1]
    assert "q_weather" not in out.split("REGRESSIONS")[1]
    assert "windowed" in out


def test_windowed_falls_back_to_scalar_without_order(
    tmp_path, monkeypatch, capsys
):
    """Legacy artifacts (no query_order): samples alone must not enable
    windowing — the scalar path gates exactly as before."""
    old = _artifact(tmp_path, "old.json", {"q1": 1.0}, 1.0,
                    samples=[(0, 1.0), (2, 1.0)])
    new = _artifact(tmp_path, "new.json", {"q1": 2.6}, 1.0,
                    samples=[(0, 1.0), (2, 2.0)])
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 1
    assert "q1" in out and "windowed" not in out


@pytest.mark.parametrize(
    "old_scale,new_scale,phrase",
    [
        (None, None, "either file"),
        (None, 1.0, "the OLD file"),
        (1.0, None, "the NEW file"),
    ],
)
def test_missing_canary_message_names_the_right_side(
    tmp_path, monkeypatch, capsys, old_scale, new_scale, phrase
):
    old = _artifact(tmp_path, "old.json", {"q1": 1.0}, old_scale)
    new = _artifact(tmp_path, "new.json", {"q1": 1.0}, new_scale)
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 0
    assert phrase in out


@pytest.mark.parametrize(
    "key,old_val,new_val", [("cpus", 8, 32), ("sf", 0.1, 0.01)]
)
def test_mismatched_cpus_or_sf_refused(
    tmp_path, monkeypatch, capsys, key, old_val, new_val
):
    """Timings at different core counts or scale factors are different
    experiments; an otherwise clean comparison must still exit 1 and say
    which field differs."""
    paths = []
    for name, val in (("old.json", old_val), ("new.json", new_val)):
        p = tmp_path / name
        p.write_text(json.dumps(
            {"queries": {"q1": 1.0}, "canary": {"scale": 1.0}, "cpus": 8,
             "sf": 0.1, key: val}
        ))
        paths.append(str(p))
    rc, out = _run(monkeypatch, capsys, paths)
    assert rc == 1
    assert "REFUSED" in out and f"{key} differs" in out
