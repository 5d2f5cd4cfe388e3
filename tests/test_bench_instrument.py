"""bench.py's pass runner and tools/instrument.py's section tracker,
exercised without a Spark session: fake builds stand in for registry
entries, so these run in milliseconds."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from tools.instrument import SectionTracker, cpu_snapshot  # noqa: E402


class _Collectable:
    def collect(self) -> list:
        return []


def _flaky(fail_on: set[int]):
    """A build whose n-th call (0-based) raises when n is in fail_on."""
    calls = {"n": 0}

    def build(spark, sf_dir):
        n = calls["n"]
        calls["n"] += 1
        if n in fail_on:
            raise RuntimeError(f"planned failure on call {n}")
        return _Collectable()

    return build


@pytest.mark.parametrize("fail_on", [{0}, {1}], ids=["fail_first", "fail_last"])
def test_run_passes_keeps_good_sample_around_failure(fail_on):
    times: dict[str, float] = {}
    bench._run_passes(None, [("q", _flaky(fail_on))], times, passes=2,
                      deadline=float("inf"), label="test")
    assert times["q"] >= 0.0


def test_run_passes_reports_sentinel_when_never_good():
    times: dict[str, float] = {}
    bench._run_passes(None, [("q", _flaky({0, 1}))], times, passes=2,
                      deadline=float("inf"), label="test")
    assert times == {"q": -1.0}


def test_keep_best_takes_minimum_of_good_samples():
    times = {"q": 0.5}
    bench._keep_best(times, "q", 0.7)
    assert times["q"] == 0.5
    bench._keep_best(times, "q", 0.25)
    assert times["q"] == 0.25


def test_section_tracker_reports_iowait_and_contention():
    assert len(cpu_snapshot()) == 3
    tracker = SectionTracker()
    tracker.end("a")
    tracker.mark()
    tracker.end("b")
    for name in ("a", "b"):
        sec = tracker.sections[name]
        assert set(sec) == {"wall_s", "own_cpu_s", "ext_cpu_s", "iowait_s",
                            "load"}
        assert sec["iowait_s"] >= 0.0
    assert not tracker.contended("missing")
    tracker.sections["hot"] = {"wall_s": 10.0, "ext_cpu_s": 3.5}
    assert tracker.contended("hot")
    tracker.sections["quiet"] = {"wall_s": 10.0, "ext_cpu_s": 2.5}
    assert not tracker.contended("quiet")
