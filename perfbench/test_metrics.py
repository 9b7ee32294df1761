"""Tests of the benchmark's own metric code on synthetic records.

Run with ``python3 -m pytest perfbench/test_metrics.py -q``.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import headline_mix  # noqa: E402
import metrics  # noqa: E402


def test_percentile_harrell_davis():
    vals = [float(v) for v in range(1, 101)]
    # the weights centre on rank p n + 1/2: 50.5 and 90.5 for 1..100
    assert metrics.percentile(vals, 50) == pytest.approx(50.5, abs=1e-6)
    assert metrics.percentile(vals, 90) == pytest.approx(90.5, abs=0.05)
    assert metrics.percentile([3.0], 99) == pytest.approx(3.0)
    assert metrics.percentile([5.0, 1.0, 3.0], 50) == pytest.approx(3.0)
    # between two clusters the estimate moves smoothly with the order
    # statistics instead of jumping from one cluster to the other
    low, high = [1.0] * 12, [2.0] * 12
    assert 1.0 < metrics.percentile(low + high, 50) < 2.0
    with pytest.raises(ValueError):
        metrics.percentile([], 50)
    with pytest.raises(ValueError):
        metrics.percentile(vals, 100)


def test_tail_rule_needs_ten_samples_beyond():
    # 100 samples: p90 leaves exactly 10 beyond, p91 only 9
    assert metrics.samples_beyond(100, 90) == 10
    assert metrics.samples_beyond(100, 91) == 9
    assert metrics.highest_tail_pct(100) == 90
    assert metrics.highest_tail_pct(40) == 75
    assert metrics.highest_tail_pct(10) == 0
    vals = [float(v) for v in range(100)]
    assert metrics.tail_latency(vals, 90) == pytest.approx(89.5, abs=0.05)
    with pytest.raises(ValueError):
        metrics.tail_latency(vals, 91)


def test_error_rate_counts_raises_and_gate_failures():
    assert metrics.error_rate(200, 0, 0) == 0.0
    assert metrics.error_rate(200, 3, 1) == pytest.approx(0.02)
    assert metrics.error_rate(4, 0, 4) == 1.0
    with pytest.raises(ValueError):
        metrics.error_rate(0, 0, 0)
    with pytest.raises(ValueError):
        metrics.error_rate(2, 2, 1)


def test_bytes_per_user_byte():
    assert metrics.bytes_per_user_byte(3_000, 1_000) == 3.0
    assert metrics.bytes_per_user_byte(500, 1_000) == 0.5
    with pytest.raises(ValueError):
        metrics.bytes_per_user_byte(10, 0)


def test_union_seconds_merges_overlaps():
    assert metrics.union_seconds([]) == 0.0
    assert metrics.union_seconds([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert metrics.union_seconds([(0, 5), (1, 2)]) == 5.0


def _profile():
    """Synthetic headline profile: two modules, one costly to build."""
    rec = {"ok": True, "plan_s": 0.01, "first_s": 1.0, "oracle_s": 0.1}
    return {
        "a1": {**rec, "module": "m.a", "warm_s": 0.5, "build_s": 0.1, "exec_s": 0.39},
        "a2": {**rec, "module": "m.a", "warm_s": 0.7, "build_s": 0.1, "exec_s": 0.59},
        "b1": {**rec, "module": "m.b", "warm_s": 1.2, "build_s": 0.6, "exec_s": 0.59},
        "bad": {**rec, "ok": False, "module": "m.b", "warm_s": 0.0,
                "build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0},
    }


def test_mix_shares_and_distance():
    prof = _profile()
    mods, split = headline_mix.shares(prof, {"a1": 1, "a2": 1, "b1": 1, "bad": 1})
    assert mods == pytest.approx({"m.a": 0.5, "m.b": 0.5})
    assert sum(split.values()) == pytest.approx(1.0)
    target = (mods, split)
    assert headline_mix.distance(target, target) == (0.0, 0.0)
    tvd, _ = headline_mix.distance(target, headline_mix.shares(prof, {"a1": 1}))
    assert tvd == pytest.approx(0.5)


def test_mix_selection_matches_shares_within_limits(monkeypatch):
    prof = _profile()
    monkeypatch.setattr(headline_mix, "PASS_S", (2.0, 3.0))
    monkeypatch.setattr(headline_mix, "MAX_REPEAT", 4)
    mix = headline_mix.select(prof)
    assert "bad" not in mix
    assert 2.0 <= sum(k * prof[q]["warm_s"] for q, k in mix.items()) <= 3.0
    target = headline_mix.shares(prof, dict.fromkeys(prof, 1))
    tvd, gap = headline_mix.distance(target, headline_mix.shares(prof, mix))
    assert tvd <= 0.1 and gap <= 0.1
