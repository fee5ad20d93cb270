"""Unit tests for bench.py's host-drift-normalized regression guard —
specifically the r5 ADVICE fix: the threshold must track the median
ratio on BOTH sides of 1.0, so a relative regression is flagged even
when the new host is absolutely faster than the baseline host."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "bench",
    os.path.join(os.path.dirname(__file__), "..", "bench.py"),
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_no_overlap_returns_empty():
    assert bench._diff_vs_baseline({"a": 1.0}, {"b": 2.0}) == {"regressed": {}}


def test_uniform_host_drift_is_not_a_regression():
    """Every query 1.3x slower (new host) — zero flagged."""
    prev = {f"q{i}": 1.0 for i in range(9)}
    now = {n: 1.3 for n in prev}
    out = bench._diff_vs_baseline(now, prev)
    assert out["regressed"] == {}
    assert abs(out["host_drift_median_ratio"] - 1.3) < 1e-9


def test_single_real_regression_on_slow_host_is_flagged():
    prev = {f"q{i}": 1.0 for i in range(9)}
    now = {n: 1.3 for n in prev}
    now["q0"] = 2.5  # 1.92x the fleet's 1.3x drift > 1.5x threshold
    out = bench._diff_vs_baseline(now, prev)
    assert set(out["regressed"]) == {"q0"}
    assert out["regressed"]["q0"] == [1.0, 2.5]


def test_relative_regression_on_faster_host_is_flagged():
    """The ADVICE scenario: fleet at 0.5x (much faster host), one query
    at 1.4x absolute — under the old max(1.0, drift) clamp the 1.5
    absolute threshold let it through; now 1.4 > 1.5*0.5 flags it."""
    prev = {f"q{i}": 1.0 for i in range(9)}
    now = {n: 0.5 for n in prev}
    now["q0"] = 1.4
    out = bench._diff_vs_baseline(now, prev)
    assert set(out["regressed"]) == {"q0"}
    assert abs(out["host_drift_median_ratio"] - 0.5) < 1e-9


def test_faster_host_uniform_speedup_not_flagged():
    prev = {f"q{i}": 2.0 for i in range(9)}
    now = {n: 1.0 for n in prev}
    out = bench._diff_vs_baseline(now, prev)
    assert out["regressed"] == {}


def test_implausible_uniform_drift_carries_warning():
    """r6 ADVICE: a uniform >2x shift is indistinguishable from host
    drift by the normalizer, so it must at least surface a warning in
    the round record instead of vanishing."""
    prev = {f"q{i}": 1.0 for i in range(9)}
    now = {n: 2.5 for n in prev}
    out = bench._diff_vs_baseline(now, prev)
    assert out["regressed"] == {}
    assert "host_drift_warning" in out
    # and the plausible band carries no warning
    ok = bench._diff_vs_baseline({n: 1.4 for n in prev}, prev)
    assert "host_drift_warning" not in ok


def test_frontier_names_are_registered():
    """The FRONTIER tier is versioned by hand each round; a renamed or
    deleted query must fail here, not silently drop out of the round's
    bench record."""
    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

    missing = [n for n in bench.FRONTIER if n not in REGISTRY]
    assert not missing, missing


def test_frontier_disjoint_semantics():
    """Frontier entries MAY overlap headline (a headline query can also
    be the round's newest heavy path), but the tier itself must be
    non-empty and duplicate-free so totals are meaningful."""
    assert len(bench.FRONTIER) == len(set(bench.FRONTIER)) > 0


def test_frontier_advisory_parity_under_drift():
    """r10 verdict task 3: a frontier query 1.3x slower while the
    headline fleet also drifted 1.3x is NOT advisory-regressed."""
    out = bench._frontier_vs_drift_pure(
        {"f0": 1.3, "f1": 2.6}, {"f0": 1.0, "f1": 2.0}, 1.3, "BENCH_rX.json"
    )
    assert out["advisory_regressed"] == {}
    assert out["drift_normalized"] == {"f0": 1.0, "f1": 1.0}
    assert out["baseline"] == "BENCH_rX.json"


def test_frontier_advisory_flags_residual_beyond_drift():
    """The r10 blind spot: mutual_multitable at 2.2x raw / 1.82x
    drift-normalized must surface in the artifact."""
    out = bench._frontier_vs_drift_pure(
        {"f0": 13.55, "f1": 2.0}, {"f0": 6.17, "f1": 1.9}, 1.209, "BENCH_r10.json"
    )
    assert set(out["advisory_regressed"]) == {"f0"}
    assert out["advisory_regressed"]["f0"] == [6.17, 13.55]
    assert abs(out["drift_normalized"]["f0"] - 1.816) < 0.01


def test_frontier_advisory_none_without_overlap():
    assert (
        bench._frontier_vs_drift_pure({"new": 1.0}, {"old": 1.0}, 1.0, "b") is None
    )
