"""Shared plumbing for the benchmark: the checkout-owned work root, the
Spark session pinned to this machine, process accounting and the
percentile rules every workload reports with.

Nothing here runs at import time; `run.py` calls `pin_environment`
before pyspark is imported so every temp file lands under the work root.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time

WORK_DIRNAME = ".perfbench_work"
TAIL_BEYOND = 10  # a tail percentile needs this many samples above it


# ---- percentiles ------------------------------------------------------------

def tail_percentile(n: int) -> int:
    """The highest whole percentile (at most 99) with at least
    TAIL_BEYOND of `n` distinct samples strictly above its value under
    `percentile`'s interpolation, floored at the median (50) when there
    are too few samples for any tail. The value at position pos lies at
    or above sample floor(pos), so n - 1 - floor(pos) samples exceed it."""
    for p in range(99, 50, -1):
        if n - 1 - (n - 1) * p // 100 >= TAIL_BEYOND:
            return p
    return 50


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method of
    statistics.quantiles) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """p50 / tail / count for one latency sample list (zeros when every
    operation failed, so the result line stays valid JSON)."""
    if not values:
        return {"p50": 0.0, "tail": 0.0, "tail_pct": 50, "n": 0}
    tp = tail_percentile(len(values))
    return {"p50": statistics.median(values), "tail": percentile(values, tp),
            "tail_pct": tp, "n": len(values)}


# ---- machine + process accounting --------------------------------------------

def machine_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30).stderr
        java = next(ln for ln in out.splitlines() if "version" in ln)
    except (OSError, StopIteration, subprocess.TimeoutExpired):
        java = "unknown"
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": mem_kb // 1024,
            "java": java}


def _proc_tree(root: int) -> list[int]:
    """`root` and all its descendants, from /proc's ppid links."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree under `root`,
    including reaped children."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _proc_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / hz


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its live children: the
    Python driver and the JVM. The JVM's Python workers come and go, so
    how many are alive when this is read would move the sum; they are
    left out."""
    me = os.getpid()
    pids = [me] + [int(n) for n in os.listdir("/proc") if n.isdigit() and _ppid(int(n)) == me]
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(ln.split()[1]) for ln in f
                            if ln.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except OSError:
        return -1


def machine_cpu() -> tuple[float, float]:
    """(busy CPU-seconds, iowait seconds) of the whole machine since boot."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        parts = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    busy = sum(parts[:8]) - parts[3] - parts[4]
    return busy / hz, parts[4] / hz


class Contention:
    """CPU used by this process tree vs. the rest of the machine, and
    iowait, over a window. Baselines are the snapshot taken by `start`,
    never a literal zero, and `start` is called after any waiting so
    only the measured work falls inside."""

    def __init__(self) -> None:
        self.own_s = self.ext_s = self.iowait_s = 0.0
        self._mark: tuple[float, float, float] | None = None

    def start(self) -> None:
        busy, iowait = machine_cpu()
        self._mark = (busy, iowait, tree_cpu_s())

    def stop(self) -> None:
        assert self._mark is not None, "stop() without start()"
        busy0, iowait0, own0 = self._mark
        busy, iowait = machine_cpu()
        own = tree_cpu_s() - own0
        self.own_s += own
        self.ext_s += max(0.0, (busy - busy0) - own)
        self.iowait_s += iowait - iowait0
        self._mark = None


# ---- the Spark session ---------------------------------------------------------

def pin_environment(work: str) -> None:
    """Point every temp location at the work root before pyspark starts
    (TMPDIR for Python and the gateway, the JVM temp dir and no perf-data
    file for every JVM started, including Spark's launcher, and
    SPARK_LOCAL_DIRS plus the repo's own scratch-dir variable for
    shuffle/spill), pin the session to this machine's cores, and use UTC
    so timestamps round-trip exactly."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TZ"] = "UTC"
    time.tzset()


def session_conf(work: str, ram_mb: int, event_log: bool) -> dict[str, str]:
    """extra_conf for get_spark: a fixed driver heap of an eighth of RAM,
    at most 1 GB (the program's own default asks for 28 GB; this
    benchmark's data is a few MB), committed and touched at start, no
    console progress bar, and the warehouse, scratch and event log under
    the work root.

    A heap that grows on demand made peak RSS spread 15% between runs
    of the same code, with how far G1 happened to grow it; with the
    heap touched up front, peak RSS moves with the memory outside it:
    metaspace and generated code, thread stacks and the Python driver."""
    heap_mb = min(1024, ram_mb // 8)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def shutdown_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM it runs in, and wait
    for that process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
