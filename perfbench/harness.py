"""Benchmark plumbing: Spark session hygiene, spans, memory sampling and
Spark-side counters.  Nothing here knows about a particular workload."""

from __future__ import annotations

import json
import os
import re
import subprocess
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Environment every process of the run inherits; must run before the
    JVM starts.  Keeps all scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    # Python workers import stumpy_spark by module path
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["STUMPY_SPARK_CKERNEL_DIR"] = os.path.join(WORK_ROOT,
                                                          "ckernel")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf 'spark.driver.extraJavaOptions="
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")


def start_spark():
    from stumpy_spark import cnative
    from stumpy_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=nproc())
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cnative.load() is not None


def stop_spark(spark) -> None:
    """Stop the context and the JVM, and wait until the JVM has exited
    (the gateway JVM exits when its stdin reaches EOF)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def noop(df) -> None:
    """Materialize every row of ``df`` without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.startswith("_"):
                total += os.path.getsize(os.path.join(root, f))
    return total


# -- tracing ---------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id).  Disabled
    tracers record nothing, so untraced runs pay one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = ""
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent,
                           self.run_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    @contextmanager
    def patched(self, owner, attr: str, name: str):
        """Wrap ``owner.attr`` in a span while the block runs, to time a
        layer call made from inside another layer."""
        orig = getattr(owner, attr)
        if not self.enabled:
            yield
            return

        def wrapper(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def self_times(self, run_id: str | None = None) -> dict[str, float]:
        """Per span name: summed duration minus the time child spans
        cover (children of one span never overlap: one driver thread)."""
        child = [0.0] * len(self.spans)
        for name, s, e, parent, _ in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict[str, float] = {}
        for i, (name, s, e, _, rid) in enumerate(self.spans):
            if run_id is None or rid == run_id:
                out[name] = out.get(name, 0.0) + (e - s) - child[i]
        return out

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _, _ in self.spans if n == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{"name": n, "start": s, "end": e, "parent": p,
                        "run_id": r} for n, s, e, p, r in self.spans], f)


def span_cost_s(n: int = 20_000) -> float:
    """Wall time one enabled span adds, measured on a scratch tracer."""
    t = Tracer(enabled=True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


# -- memory ----------------------------------------------------------------

def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: each shared page counts once in a sum over
    processes.  Summed RSS counted pages that Python workers share with
    the daemon they fork from, and the whole JVM twice whenever a sample
    fell between a fork and its exec (runs read 2.7–3.8 GB)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and all its descendants: the driver, the JVM and the
    Python workers.  Unlike wall time it does not grow with the time the
    host's hypervisor steals from this machine."""
    total = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(map(int, stat[stat.rindex(")") + 2:].split()[11:15]))
    return total / os.sysconf("SC_CLK_TCK")


def timed(fn):
    """Result, wall seconds and CPU seconds (``tree_cpu_s``) of ``fn()``."""
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    return out, dt, tree_cpu_s() - c0


class PssSampler:
    """Peak summed PSS of this process and all its descendants (driver,
    JVM, Python workers), sampled from /proc every ``interval`` seconds
    while the ``with`` block runs."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            pss = sum(_pss_bytes(p) for p in _descendants(me))
            self.peak = max(self.peak, pss)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def reap_children() -> None:
    """Terminate and wait for any process this run left behind."""
    import signal

    me = os.getpid()
    left = [p for p in _descendants(me) if p != me]
    for p in left:
        try:
            os.kill(p, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.time() + 10
    for p in left:
        while time.time() < deadline:
            try:
                done, _ = os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                break       # not our direct child: poll until it is gone
            if done:
                break
            time.sleep(0.05)
        while time.time() < deadline and os.path.exists(f"/proc/{p}"):
            time.sleep(0.05)


# -- Spark-side counters ---------------------------------------------------

_NODE = re.compile(r"([A-Za-z][A-Za-z ]*?)\s\((\d+)\)")
_PY_NODE = re.compile(r"InPandas|InArrow|EvalPython")


def _final_tree(desc: str) -> str:
    tree = desc.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1]
        tree = tree.split("== Initial Plan ==", 1)[0]
    return tree


def plan_nodes(desc: str) -> list[str]:
    return [m.group(1).strip() for m in _NODE.finditer(_final_tree(desc))]


class SparkCounters:
    """Jobs, stages and tasks of one job group (statusTracker) plus plan
    node counts of the SQL executions started while it was active."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()

    def _executions(self):
        lst = self.store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    def last_plan(self) -> str:
        ex = self._executions()
        return ex[-1].physicalPlanDescription() if ex else ""

    @contextmanager
    def group(self, name: str):
        sc = self.spark.sparkContext
        before = max((e.executionId() for e in self._executions()),
                     default=-1)
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self._before = before
        self._name = name

    def counts(self) -> dict[str, int]:
        st = self.spark.sparkContext.statusTracker()
        stages, tasks = set(), 0
        jobs = st.getJobIdsForGroup(self._name)
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran = 0
        for s in stages:
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                ran += 1
                tasks += si.numCompletedTasks
        nodes = []
        for e in self._executions():
            if e.executionId() > self._before:
                nodes += plan_nodes(e.physicalPlanDescription())
        return {
            "spark.jobs": len(jobs),
            "spark.stages": ran,
            "spark.tasks": tasks,
            "plan.scans": sum(n.startswith("Scan ") for n in nodes),
            "plan.exchanges": sum(n.endswith("Exchange")
                                  and not n.startswith("Reused")
                                  for n in nodes),
            "plan.python_nodes": sum(bool(_PY_NODE.search(n))
                                     for n in nodes),
        }


def mem_probe_gbs() -> float:
    """Single-thread DRAM streaming bandwidth (same probe as bench.py)."""
    import numpy as np

    a = np.ones(10_000_000)
    t0 = time.perf_counter()
    b = np.cumsum(a)
    dt = time.perf_counter() - t0
    return 0.16 / dt + float(b[-1]) * 0.0
