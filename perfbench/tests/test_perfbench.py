"""Self-tests of the benchmark harness. Pure Python: no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import json
import math
import os
import random
import re
import subprocess
import sys
import time

import pytest

from perfbench import checks, common, inputs, run
from perfbench.trace import Spans, parse_event_log

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _corpus_bytes(seed: int) -> bytes:
    c = inputs.make_corpus(seed, 600, 0.15, 50, 20)
    return json.dumps([c.docs, c.clusters, c.boilerplate, c.held_out, c.indexed]).encode()


def _columns_bytes(seed: int) -> bytes:
    cols = [inputs.make_columns(seed, shape, 200, k)
            for shape in inputs.GREATEST_SHAPES for k in range(2)]
    return repr(cols).encode()


def _order_bytes(seed: int) -> bytes:
    passes = inputs.query_passes(seed)
    return json.dumps([next(passes) for _ in range(3)]).encode()


def test_same_seed_same_inputs_different_seed_different_inputs():
    for make in (_corpus_bytes, _columns_bytes, _order_bytes):
        assert make(7) == make(7)
        assert make(7) != make(8)


def test_query_passes_are_permutations_of_q1_to_q22():
    passes = inputs.query_passes(3)
    for _ in range(3):
        assert sorted(next(passes)) == sorted(inputs.TPCH_QUERIES)


def test_corpus_plants_clusters_and_an_oversized_boilerplate_cluster():
    c = inputs.make_corpus(5, 600, 0.15, 50, 20)
    assert len(c.docs) == 600
    assert len(c.boilerplate) > 50  # larger than the guard's max_bucket
    assert c.clusters and all(2 <= len(cl) <= 4 for cl in c.clusters)
    held = {d for b in c.held_out for d in b}
    assert held.isdisjoint(c.boilerplate)
    assert held.isdisjoint(c.indexed)
    assert len(held) + len(c.indexed) == len(c.docs)
    sh = {d: checks.shingles(t) for d, t in c.docs}
    near = [checks.jaccard(sh[a], sh[b]) for cl in c.clusters for a in cl for b in cl if a < b]
    assert sum(j >= 0.8 for j in near) > len(near) / 2


def test_metric_names_and_units_are_well_formed():
    for table in (run.END_TO_END, run.PER_LAYER):
        for name, unit in table.items():
            assert NAME_RE.fullmatch(name) and len(name) <= 64 and name[0].isalnum(), name
            assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit


def test_benchmark_json_lists_exactly_the_metrics_run_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_tail_percentile_is_highest_with_ten_samples_beyond():
    rng = random.Random(0)
    for n in range(1, 400):
        xs = [rng.random() for _ in range(n)]
        p = common.tail_percentile(n)

        def beyond(q: int) -> int:
            v = common.percentile(xs, q)
            return sum(x > v for x in xs)

        if n <= common.TAIL_BEYOND:
            assert p == 50
            continue
        if p > 50:
            assert beyond(p) >= common.TAIL_BEYOND, (n, p)
        if p < 99:
            assert beyond(p + 1) < common.TAIL_BEYOND, (n, p)


def test_percentile_matches_statistics_quantiles():
    import statistics

    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert math.isclose(common.percentile(xs, 25), q1)
    assert math.isclose(common.percentile(xs, 50), q2)
    assert math.isclose(common.percentile(xs, 75), q3)


BUSY_CHILD = ("import time\nt = time.process_time()\n"
              "while time.process_time() - t < 0.5:\n    pass\ninput()\n")


def test_tree_cpu_counts_a_live_child_process():
    """The gated figures are process-tree CPU seconds: a busy child of
    this process counts while it is still running."""
    before = common.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BUSY_CHILD], stdin=subprocess.PIPE)
    try:
        for _ in range(100):
            if common.tree_cpu_s() - before >= 0.4:
                break
            time.sleep(0.1)
        assert common.tree_cpu_s() - before >= 0.4
    finally:
        child.communicate(b"\n", timeout=30)


def test_event_log_parser_on_fixture(tmp_path):
    def task(stage, run_ms, gc_ms, read, write, spill, inp):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": read, "Local Bytes Read": 1},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": inp}}}

    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        task(0, 1500, 100, 0, 300, 10, 1000),
        task(0, 500, 0, 0, 200, 0, 500),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        task(1, 250, 50, 499, 0, 0, 0),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        task(2, 1000, 0, 0, 0, 0, 42),
    ]
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    got = parse_event_log(str(path))
    assert got["g1"] == pytest.approx({
        "jobs": 1, "stages": 2, "tasks": 3, "run_s": 2.25, "gc_s": 0.15,
        "shuffle_read_bytes": 502, "shuffle_write_bytes": 500, "spill_bytes": 10,
        "input_bytes": 1500})
    assert got[""]["tasks"] == 1 and got[""]["input_bytes"] == 42


def test_span_self_time_subtracts_children():
    spans = Spans("r", enabled=True)
    spans.spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None, "run": "r"},
        {"name": "build", "start": 1.0, "end": 3.0, "parent": 0, "run": "r"},
        {"name": "exec", "start": 3.0, "end": 9.0, "parent": 0, "run": "r"},
    ]
    assert spans.self_times() == {"op": 2.0, "build": 2.0, "exec": 6.0}
    off = Spans("r", enabled=False)
    with off.span("x"):
        off.count("n", 1)
    assert off.spans == [] and not off.counts


def test_greatest_reference_follows_spark_semantics():
    nan = float("nan")
    got = checks.greatest_reference([[1, None, None, 4], [True, None, 7, None]])
    assert got == [1, None, 7, 4]
    got = checks.greatest_reference([[1, None, 2], [0.5, nan, None]])
    assert got[0] == 1.0 and isinstance(got[0], float) and math.isnan(got[1]) and got[2] == 2.0
    d, ts = datetime.date(2021, 5, 1), datetime.datetime(2021, 4, 30, 23, 0)
    assert checks.greatest_reference([[d], [ts]]) == [datetime.datetime(2021, 5, 1)]
    assert checks.greatest_reference([["ab", None], ["b", None]]) == ["b", None]
    assert checks.check_greatest("x", [1.0], [1]) != []  # type must match too


def test_shingles_match_the_operator_definition():
    assert checks.shingles("A b  c d") == frozenset({"a b c", "b c d"})
    assert checks.shingles("one two") == frozenset({"one two"})


def test_close_pairs_brute_force():
    fps = {1: 0b1111, 2: 0b0111, 3: -1, 4: 0b1000_0111}
    assert checks.close_pairs(fps, [1, 2], [1, 2, 3, 4], 1) == {(1, 2), (2, 1), (2, 4)}
    same = [1, 2, 3, 4]
    assert checks.close_pairs(fps, same, same, 1) == {(1, 2), (2, 4)}


def test_tpch_compare_tolerates_ulps_only():
    want = checks.normalize_result(["b", "a"], [(1.0000000000000002, "x")])
    assert checks.compare_result("q", checks.normalize_result(["a", "b"], [("x", 1.0)]), want) == []
    assert checks.compare_result("q", checks.normalize_result(["a", "b"], [("x", 1.001)]), want)
