"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serving --seed 1 --seconds 5 --trace 0

Workloads: `serving` (TPC-H q1-q22 then run_greatest calls) and
`dedup_ingest` (near-dup index writes, a probe, a full dedup pass).

Run from the root of a checkout. The workload's inputs are made from
`--seed`. Set-up is the session start (which launches the JVM) and the
workload's one-time set-up (TPC-H: catalog statistics). Then the
measured round runs: the first round of the fresh session, as a user's
first pass pays it. Further rounds run until `--seconds` have passed
since it began; they are reported on their own, as warm rounds.
Outputs of every round are checked after the window.

The gated figures `setup_s` and `round_cpu_s` are process-tree CPU
seconds (user + system of the Python driver, the JVM and its Python
workers), not wall time: on a shared host, CPU taken by other tenants
stretches wall time by tens of percent from run to run, while the CPU
this program spends on the same work repeats within a few percent.
Wall-clock latencies per operation kind (median and tail) are printed
beside them.

With `--trace 0` the last stdout line is the JSON result with every
end-to-end metric; the lines before it list every figure by name with
its unit and sample count. With `--trace 1` the measured round then
runs again in a fresh JVM with spans and Spark's event log on.
The JSON then carries the per-layer metrics of that traced round, and
`trace.overhead_share` compares its CPU seconds with the untraced
round's.

All files go under `.perfbench_work/` in the checkout. Exits 2 without
a result when the program is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = "rust_query_engine_greatest_spark"

END_TO_END = {"setup_s": "s", "round_cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.get_spark_s": "s", "sources.stats_activate_s": "s",
    "queries.build_p50_s": "s", "queries.build_sum_s": "s", "queries.build_share": "ratio",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.physical_s": "s",
    "plans.shuffle_exchanges": "count", "plans.broadcasts": "count",
    "exec.jobs_per_op": "count", "exec.stages_per_op": "count", "exec.tasks_per_op": "count",
    "exec.run_s": "s", "exec.busy_share": "ratio", "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B", "exec.spill_bytes": "B",
    "sources.input_bytes_read": "B",
    "text.filter_s": "s", "dedup.minhash_s": "s", "dedup.simhash_s": "s",
    "dedup.candidates": "count", "dedup.verified": "count", "dedup.precision": "ratio",
    "dedup.hot_buckets": "count", "dedup.planted_recall": "ratio",
    "sources.index_write_s": "s", "sources.index_bytes": "B", "sources.index_files": "count",
    "dedup.probe_s": "s", "dedup.probe_candidates": "count",
    "functions.run_greatest_s": "s", "functions.jobs_per_call": "count",
    "functions.tasks_per_call": "count",
    "proc.own_cpu_s": "s", "proc.ext_cpu_s": "s", "proc.iowait_s": "s",
    "trace.overhead_share": "ratio", "run.fail_ratio": "ratio",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _round(wl, rec) -> None:
    """One whole round, its wall and process-tree CPU seconds recorded."""
    from perfbench.common import tree_cpu_s

    c0 = tree_cpu_s()
    r0 = time.perf_counter()
    wl.round(rec)
    rec.rounds.append(time.perf_counter() - r0)
    rec.round_cpu.append(tree_cpu_s() - c0)


def _layers(wl, rec, spans, ev: dict, traced_wall: float, nproc: int) -> dict[str, float]:
    """Per-layer metrics of the traced window."""
    n_rounds = max(1, len(rec.rounds))
    c = spans.counts

    def per(name: str, denom_key: str) -> float:
        return c[name] / c[denom_key] if c[denom_key] else 0.0

    self_s = spans.self_times()

    def span_sum(name: str) -> float:
        """Per-round self time: a traced-only child span (plan) is excluded."""
        return self_s.get(name, 0.0) / n_rounds

    def exec_mean(field: str, kinds: set[str] | None = None) -> float:
        gs = [g for g, k in rec.groups.items() if kinds is None or k in kinds]
        return sum(ev.get(g, {}).get(field, 0) for g in gs) / len(gs) if gs else 0.0

    def exec_sum(field: str) -> float:
        return sum(ev.get(g, {}).get(field, 0) for g in rec.groups) / n_rounds

    builds = spans.durations("queries.build")
    queries = rec.samples.get("query", [])
    probes = len(rec.samples.get("probe", []))
    out = {
        "queries.build_p50_s": _median(builds),
        "queries.build_sum_s": sum(builds) / n_rounds,
        "queries.build_share": sum(builds) / sum(queries) if queries else 0.0,
        "plan.analysis_s": per("plan.analysis_s", "plan.planned"),
        "plan.optimization_s": per("plan.optimization_s", "plan.planned"),
        "plan.physical_s": per("plan.physical_s", "plan.planned"),
        "plans.shuffle_exchanges": per("plans.shuffle_exchanges", "plans.explained"),
        "plans.broadcasts": per("plans.broadcasts", "plans.explained"),
        "exec.jobs_per_op": exec_mean("jobs"),
        "exec.stages_per_op": exec_mean("stages"),
        "exec.tasks_per_op": exec_mean("tasks"),
        "exec.run_s": exec_sum("run_s"),
        "exec.busy_share": exec_sum("run_s") * n_rounds / (nproc * traced_wall),
        "exec.gc_s": exec_sum("gc_s"),
        "exec.shuffle_write_bytes": exec_sum("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": exec_sum("shuffle_read_bytes"),
        "exec.spill_bytes": exec_sum("spill_bytes"),
        "sources.input_bytes_read": exec_sum("input_bytes"),
        "text.filter_s": span_sum("text.filter"),
        "dedup.minhash_s": span_sum("dedup.minhash"),
        "dedup.simhash_s": span_sum("dedup.simhash"),
        "dedup.verified": c["dedup.verified"] / n_rounds,
        "sources.index_write_s": span_sum("sources.index_write"),
        "sources.index_bytes": c["sources.index_bytes"] / n_rounds,
        "sources.index_files": c["sources.index_files"] / n_rounds,
        "dedup.probe_s": _median(spans.durations("dedup.probe")),
        "dedup.probe_candidates": c["dedup.probe_candidates"] / probes if probes else 0.0,
        "functions.run_greatest_s": _median(spans.durations("functions.run_greatest")),
        "functions.jobs_per_call": exec_mean("jobs", {"call"}) if "call" in rec.samples else 0.0,
        "functions.tasks_per_call": exec_mean("tasks", {"call"}) if "call" in rec.samples else 0.0,
    }
    out.update(wl.layer_extras(rec))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PROGRAM, "__init__.py")):
        print(f"perfbench: {PROGRAM}/ is missing from {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import common
    from perfbench.trace import Spans, parse_event_log
    from perfbench.workloads import WORKLOADS, Recorder

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, common.WORK_DIRNAME)
    common.pin_environment(work)
    info = common.machine_info()
    nproc = info["nproc"]
    run_id = uuid.uuid4().hex[:12]

    import pyspark

    from rust_query_engine_greatest_spark.session import get_spark

    wl = WORKLOADS[args.workload](work, args.seed)
    t0 = time.perf_counter()
    wl.prepare_inputs()
    inputs_s = time.perf_counter() - t0

    spans = Spans(run_id, enabled=bool(args.trace))
    off = Spans(run_id, enabled=False)
    spark = traced = None
    try:
        c0 = common.tree_cpu_s()
        t0 = time.perf_counter()
        spark = get_spark(cpus=nproc, extra_conf=common.session_conf(
            work, info["ram_mb"], event_log=False))
        get_spark_s = time.perf_counter() - t0
        wl.setup(spark)
        setup_wall_s = time.perf_counter() - t0
        setup_cpu_s = common.tree_cpu_s() - c0

        rec = Recorder(spark, off, f"{run_id}-run")
        warm = Recorder(spark, off, f"{run_id}-warm")
        contention = common.Contention()
        contention.start()
        t0 = time.perf_counter()
        _round(wl, rec)
        contention.stop()
        while time.perf_counter() - t0 < args.seconds:
            _round(wl, warm)
        window_s = time.perf_counter() - t0
        peak_rss_mb = common.peak_rss_mb()
        parallelism = spark.sparkContext.defaultParallelism
        t0 = time.perf_counter()
        wl.references(spark, bool(args.trace))
        references_s = time.perf_counter() - t0

        if args.trace:
            # a new JVM, so the traced round is as cold as the measured one
            common.shutdown_jvm(spark)
            spark = None
            spark = get_spark(cpus=nproc, extra_conf=common.session_conf(
                work, info["ram_mb"], event_log=True))
            wl.setup(spark)
            app_id = spark.sparkContext.applicationId
            traced = Recorder(spark, spans, f"{run_id}-traced")
            _round(wl, traced)
            common.shutdown_jvm(spark)
            spark = None
            log = os.path.join(work, "eventlog", app_id)  # uncompressed, not rolled
            ev = parse_event_log(log)
            os.remove(log)
            spans.write(os.path.join(work, f"spans-{args.workload}-{run_id}.jsonl"))
    finally:
        if spark is not None:
            common.shutdown_jvm(spark)
        wl.cleanup()

    attempted = failed = 0
    problems: list[str] = []
    for r in (rec, warm, traced):
        if r is None:
            continue
        attempted += r.attempted
        failed += len(r.errors)
        problems += r.errors
        for kind, key, out in r.outputs:
            bad = wl.check_one(kind, key, out)
            failed += bool(bad)
            problems += bad
    fail_ratio = failed / attempted if attempted else 1.0

    e2e = {"setup_s": setup_cpu_s, "round_cpu_s": rec.round_cpu[0], "peak_rss_mb": peak_rss_mb}

    # ---- human-readable report: every figure with unit and sample count
    lines = [("setup_s", e2e["setup_s"], "s(cpu)", 1),
             ("setup_wall_s", setup_wall_s, "s", 1), ("get_spark_s", get_spark_s, "s", 1),
             ("inputs_s", inputs_s, "s", 1),
             ("window_s", window_s, "s", 1), ("references_s", references_s, "s", 1),
             ("round_s", rec.rounds[0], "s", 1),
             ("round_cpu_s", e2e["round_cpu_s"], "s(cpu)", 1)]
    if warm.rounds:
        lines += [("warm_round_s", _median(warm.rounds), "s", len(warm.rounds)),
                  ("warm_round_cpu_s", _median(warm.round_cpu), "s(cpu)", len(warm.rounds))]
    for kind, xs in rec.samples.items():
        s = common.summarize(xs)
        lines.append((f"{kind}_p50_s", s["p50"], "s", s["n"]))
        lines.append((f"{kind}_tail_s", s["tail"], f"s(p{s['tail_pct']})", s["n"]))
        c = common.summarize(rec.cpu[kind])
        lines.append((f"{kind}_cpu_p50_s", c["p50"], "s(cpu)", c["n"]))
        lines.append((f"{kind}_cpu_tail_s", c["tail"], f"s(cpu,p{c['tail_pct']})", c["n"]))
    for name, (value, unit, n) in wl.human(rec).items():
        lines.append((name, value, unit, n))
    lines += [("fail_ratio", fail_ratio, "ratio", attempted),
              ("peak_rss_mb", peak_rss_mb, "MB", 1),
              ("proc.own_cpu_s", contention.own_s, "s", 1),
              ("proc.ext_cpu_s", contention.ext_s, "s", 1),
              ("proc.iowait_s", contention.iowait_s, "s", 1)]
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} run={run_id}")
    print(f"# machine: nproc={nproc} ram_mb={info['ram_mb']} "
          f"defaultParallelism={parallelism} spark={pyspark.__version__} "
          f"java={info['java']!r} layout={wl.layout!r}")
    for name, value, unit, n in lines:
        print(f"{name:<28} {value:>16.6f} {unit:<16} n={n}")
    for p in problems[:20]:
        print(f"# FAIL {p}")

    if args.trace:
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(_layers(wl, traced, spans, ev, traced.rounds[0], nproc))
        metrics.update({
            "session.get_spark_s": get_spark_s,
            "proc.own_cpu_s": contention.own_s, "proc.ext_cpu_s": contention.ext_s,
            "proc.iowait_s": contention.iowait_s,
            "trace.overhead_share": traced.round_cpu[0] / rec.round_cpu[0] - 1.0,
            "run.fail_ratio": fail_ratio,
        })

        for name in PER_LAYER:
            print(f"{name:<28} {metrics[name]:>16.6f} {PER_LAYER[name]}")
        out = {k: {"value": metrics[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
