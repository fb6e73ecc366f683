"""Measurement machinery shared by every workload.

- ``launch_env``: the launcher settings (CPU count, driver memory,
  PYTHONPATH, scratch dirs) applied before the JVM starts.
- ``Tracer``: in-memory spans around each call into a program layer, one
  Spark job group per span, and the stage metrics of the jobs each span
  launched (read back through the status store right after the op).
- ``ProcSampler``: CPU time and RSS of the driver JVM and the Python
  workers, read from ``/proc``.
- ``contention``: load average, CPU steal and foreign Spark driver JVMs.
- ``jvm_counters``: the JVM's own GC and JIT-compilation time.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_SPARK_JVM_MARKERS = ("org.apache.spark.deploy.SparkSubmit", "pyspark-shell")


# --------------------------------------------------------------------------
# launch hygiene
# --------------------------------------------------------------------------


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def launch_env(root: str, work: str) -> dict[str, str]:
    """Set and return the launcher settings the session is built from.

    CPUs never exceed ``nproc`` (the session's own default is 32), the
    driver heap stays well below physical RAM (its default is 24g), and
    PYTHONPATH names the checkout so Python UDF workers import the
    package from any working directory. Spark's and Python's scratch
    files go under ``work``, and no JVM writes its perf-data file to /tmp."""
    ncpu = len(os.sched_getaffinity(0))
    cpus = min(ncpu, int(os.environ.get("SPARK_GRAFT_CPUS", ncpu)))
    mem_mb = min(2048, _mem_total_mb() // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pythonpath = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEMORY": f"{mem_mb}m",
        "PYTHONPATH": pythonpath,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def session_conf(work: str) -> dict[str, str]:
    """Extra Spark conf keeping every file the session writes under
    ``work``."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


# --------------------------------------------------------------------------
# /proc sampling
# --------------------------------------------------------------------------


def _read_stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu seconds, reaped-children cpu seconds) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / _CLK_TCK
    children = (int(fields[13]) + int(fields[14])) / _CLK_TCK
    return ppid, own, children


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode("utf-8", "replace").replace("\0", " ")
    except OSError:
        return ""


def _children_of(pid: int) -> list[int]:
    """Direct children of ``pid``, from the kernel's per-thread lists."""
    kids: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(k) for k in f.read().split())
        except OSError:
            continue
    return kids


def _descendants_of(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children_of(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


class ProcSampler:
    """CPU seconds of the Python driver, the JVM and the Python workers,
    and the peak RSS of JVM + workers (sampled every ``period`` s)."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _procs(self) -> tuple[list[int], list[int]]:
        # only direct children count as the JVM: a child the JVM forks still
        # shows the JVM's command line and RSS until it execs
        jvms = [p for p in _children_of(os.getpid()) if "java" in _cmdline(p)]
        workers = [
            p for j in jvms for p in _descendants_of(j) if "python" in _cmdline(p)
        ]
        return jvms, workers

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per process class."""
        jvms, workers = self._procs()
        me = _read_stat(os.getpid())
        jvm = sum(st[1] for st in map(_read_stat, jvms) if st)
        # workers the pyspark daemon has reaped are in its children total
        pyw = sum(st[1] + st[2] for st in map(_read_stat, workers) if st)
        return {"driver": me[1] if me else 0.0, "jvm": jvm, "pyworker": pyw}

    def sample_rss(self) -> None:
        jvms, workers = self._procs()
        self.peak_rss = max(self.peak_rss, sum(_rss_bytes(p) for p in jvms + workers))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample_rss()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def _ancestors() -> set[int]:
    pids, pid = set(), os.getpid()
    while pid > 1:
        pids.add(pid)
        st = _read_stat(pid)
        if st is None:
            break
        pid = st[0]
    return pids


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def contention() -> dict:
    """Load average, CPU steal since boot and Spark driver JVMs outside
    this process tree."""
    mine = _ancestors() | set(_descendants_of(os.getpid()))
    foreign = []
    for name in os.listdir("/proc"):
        if name.isdigit() and int(name) not in mine:
            cmd = _cmdline(int(name))
            if any(m in cmd for m in _SPARK_JVM_MARKERS):
                foreign.append({"pid": int(name), "cmd": cmd[:120]})
    steal, total = _cpu_ticks()
    return {"loadavg": list(os.getloadavg()), "steal_jiffies": steal, "cpu_jiffies": total,
            "foreign_spark_jvms": foreign}


def jvm_counters(sc) -> dict[str, float]:
    """Cumulative GC and JIT-compilation seconds of the session's JVM."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"gc_s": gc / 1e3, "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3}


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------

_STAGE_FIELDS = (
    "tasks",
    "failed_tasks",
    "input_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    name: str
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans around calls into program layers.

    ``enabled=False`` keeps only the wall-clock call, so untraced passes
    pay nothing but a function call per layer. When enabled, every span
    runs under its own Spark job group; ``collect_stages`` reads the
    stage metrics of each group's jobs once the op has returned."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0
        self._seen_ungrouped: set[int] = set()

    def skip_earlier_jobs(self) -> None:
        """Jobs without a group that ran before now belong to no span."""
        self._seen_ungrouped = set(self.sc.statusTracker().getJobIdsForGroup(None))

    def begin_op(self, op_seq: int, name: str) -> Span:
        self._op = op_seq
        return self._push(f"op.{name}", group=False)

    def end_op(self, span: Span) -> None:
        self._pop(span)

    def _push(self, name: str, group: bool = True) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), parent, self._op, name, time.perf_counter())
        if group:
            span.group = f"pb-{self._op}-{span.id}"
            self.sc.setJobGroup(span.group, name)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _pop(self, span: Span) -> None:
        # layer calls do not nest, so no outer group needs restoring
        span.end = time.perf_counter()
        self._stack.pop()
        if span.group is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` (e.g.
        ``operators.analytics.plan``); returns what ``fn`` returns."""
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self._push(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self._pop(span)

    def collect_stages(self, op_span: Span) -> None:
        """Attach stage metrics to each span of the op just finished.
        Jobs started from threads the program spawned carry no group; they
        are charged to the op's root span."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        targets = [(s, tracker.getJobIdsForGroup(s.group)) for s in self.spans[op_span.id :] if s.group]
        ungrouped = [j for j in tracker.getJobIdsForGroup(None) if j not in self._seen_ungrouped]
        self._seen_ungrouped.update(ungrouped)
        targets.append((op_span, ungrouped))
        for span, job_ids in targets:
            agg = dict.fromkeys(_STAGE_FIELDS, 0.0)
            agg["jobs"] = float(len(job_ids))
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - stage evicted or never run
                        continue
                    agg["tasks"] += st.numCompleteTasks()
                    agg["failed_tasks"] += st.numFailedTasks()
                    agg["input_bytes"] += st.inputBytes()
                    agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    agg["executor_run_s"] += st.executorRunTime() / 1e3
                    agg["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    agg["gc_s"] += st.jvmGcTime() / 1e3
            span.attrs.update(agg)

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines, stage metrics inline."""
        with open(path, "w") as f:
            for s in self.spans:
                row = {"id": s.id, "parent": s.parent, "op": s.op, "name": s.name,
                       "start": s.start, "end": s.end, **s.attrs}
                f.write(json.dumps(row) + "\n")


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median: a mean of every order
    statistic, weighted by the Beta((n+1)/2, (n+1)/2) mass of its rank
    interval. Where the sample median rests on the one or two middle
    values, this weighs all those near the middle."""
    import numpy as np

    x = np.sort(np.asarray(list(values), dtype=float))
    n = len(x)
    a = (n + 1) / 2
    grid = np.linspace(0.0, 1.0, 4001)
    density = (grid * (1 - grid)) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum(density[1:] + density[:-1])])
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1]))
    return float(weights @ x)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value): the highest of p50/p75/p90/p95/p99/p99.9 with at
    least ``beyond`` samples above it (nearest-rank); p50 if none has."""
    v = sorted(values)
    n = len(v)

    def rank(p: float) -> int:  # 1-based nearest rank
        return max(1, math.ceil(p * n / 100 - 1e-9))

    best = 50.0
    for p in (75.0, 90.0, 95.0, 99.0, 99.9):
        if n - rank(p) >= beyond:
            best = p
    return best, v[rank(best) - 1]
