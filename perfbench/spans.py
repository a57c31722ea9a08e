"""Spans, Spark job-group snapshots and /proc readers for the benchmark.

Everything here observes the engine from outside: spans wrap calls into
the engine's public functions, Spark counters come from the status store
keyed by a job group, and process CPU / memory come from ``/proc``.
Nothing inside ``gmql_spark`` is instrumented.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

# ---------------------------------------------------------------- intervals


def union_length(intervals) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered_within(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    return union_length((max(s, start), min(e, end)) for s, e in intervals)


def uncovered_within(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` covered by none of ``intervals``: for a
    span and its Spark jobs, the driver-only time."""
    return (end - start) - covered_within(start, end, intervals)


# ---------------------------------------------------------------- /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """``pid``'s descendant processes (not ``pid`` itself)."""
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def _cpu_ticks(pid: int) -> int:
    """utime+stime+cutime+cstime of one process (stat fields 14-17)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and every live process below it
    (including the children they already reaped)."""
    return sum(_cpu_ticks(p) for p in [pid, *descendants(pid)]) / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads. They
    must not exit (``-XX:-UseDynamicNumberOfCompilerThreads``), or their
    time would vanish from this sum while staying in the process's."""
    if jvm_pid is None:
        return 0.0
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        if "CompilerThre" in name:
            fields = stat.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def engine_cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds used so far by this process, the JVM and the Python
    workers, without the JVM's JIT compilation: a short-lived process
    spends most of its JVM CPU compiling, an amount that varies from run
    to run and that a long-lived engine pays once."""
    return tree_cpu_s(os.getpid()) - jit_cpu_s(jvm_pid)


def python_worker_cpu_s(jvm_pid: int | None) -> float:
    """utime+stime+cutime+cstime of the JVM's ``pyspark.daemon``
    processes and their forked workers."""
    if jvm_pid is None:
        return 0.0
    kids = _children_map()
    total = 0
    todo = [p for p in kids.get(jvm_pid, []) if "pyspark.daemon" in _cmdline(p)]
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        total += _cpu_ticks(p)
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background sampler of the peak RSS of this process, the JVM and
    every process below them."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        me = os.getpid()
        now = rss_bytes([me, *descendants(me)])
        self.peak = max(self.peak, now)
        return now

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)


def _work_unit() -> int:
    """A fixed piece of pure-Python CPU work (about 1 ms)."""
    x = 0
    for i in range(6000):
        x ^= (i * 2654435761) & 0xFFFF
    return x


class HostSpeed:
    """Background thread that runs ``_work_unit`` every ``interval_s`` and
    records the thread CPU time (``time.thread_time``) each run took. The
    same instructions take more CPU time when the shared host runs slower
    (co-tenants on sibling hardware threads, clock changes), so the mean
    over a window is the host's cost per unit of work during that window.
    About 2 % of one core."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.samples: list[tuple[float, float]] = []  # (epoch s, CPU s)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            c = time.thread_time()
            _work_unit()
            self.samples.append((time.time(), time.thread_time() - c))

    def unit_cpu_s(self, start: float, end: float) -> float:
        """Mean CPU seconds of one work unit between two epoch times."""
        xs = [c for t, c in self.samples if start <= t <= end]
        return sum(xs) / len(xs)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- Spark


@dataclass
class JobStats:
    """Sums over the completed jobs of a job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    intervals: list = field(default_factory=list)  # (submit, complete), epoch s

    def add(self, other: "JobStats") -> None:
        for k, v in asdict(other).items():
            if k != "intervals":
                setattr(self, k, getattr(self, k) + v)
        self.intervals.extend(other.intervals)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def job_group_stats(spark, group: str) -> JobStats:
    """Per-stage metrics of every job in ``group``, read from the status
    store (works with the UI disabled). Skipped stages count nothing."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    store = jsc.statusStore()
    out = JobStats()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        out.jobs += 1
        sub, comp = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and comp.isDefined():
            out.intervals.append(
                (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
            )
        for sid in _seq(jd.stageIds()):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += sd.numTasks()
            out.executor_run_s += sd.executorRunTime() / 1e3
            out.executor_cpu_s += sd.executorCpuTime() / 1e9
            out.gc_s += sd.jvmGcTime() / 1e3
            out.input_bytes += sd.inputBytes()
            out.shuffle_read_bytes += sd.shuffleReadBytes()
            out.shuffle_write_bytes += sd.shuffleWriteBytes()
            out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    run_id: str = ""
    group: str = ""
    cpu_start: float = 0.0
    cpu_s: float = 0.0  # engine_cpu_s over the span
    py_cpu_start: float = 0.0
    py_cpu_s: float = 0.0
    stats: JobStats = field(default_factory=JobStats)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around calls into the engine. When enabled, each
    span runs its Spark jobs under its own job group and on exit reads
    the group's stage metrics and the Python workers' CPU time. When
    disabled, spans keep only their start, end and engine CPU time, so
    traced and untraced passes run the same harness code."""

    def __init__(self, spark, run_id: str, enabled: bool, jvm_pid: int | None):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.jvm_pid = jvm_pid
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def begin(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(name, time.time(), parent=parent, id=next(self._ids), run_id=self.run_id)
        sp.cpu_start = engine_cpu_s(self.jvm_pid)
        if self.enabled:
            t = time.perf_counter()
            sp.group = f"{self.run_id}:{sp.id}"
            self.spark.sparkContext.setJobGroup(sp.group, name)
            sp.py_cpu_start = python_worker_cpu_s(self.jvm_pid)
            self.overhead_s += time.perf_counter() - t
        self._stack.append(sp)
        return sp

    def end(self, sp: Span) -> Span:
        sp.end = time.time()
        sp.cpu_s = engine_cpu_s(self.jvm_pid) - sp.cpu_start
        if not self._stack or self._stack[-1] is not sp:
            raise RuntimeError(f"span {sp.name!r} ended out of order")
        self._stack.pop()
        self.spans.append(sp)
        if self.enabled:
            t = time.perf_counter()
            sp.py_cpu_s = python_worker_cpu_s(self.jvm_pid) - sp.py_cpu_start
            sp.stats = job_group_stats(self.spark, sp.group)
            parent = self._stack[-1] if self._stack else None
            sc = self.spark.sparkContext
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t
        return sp

    def reset(self) -> None:
        """Drop the open spans after a pass raised."""
        self._stack.clear()
        if self.enabled:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        """Span around the body; a body that raises leaves it open for
        ``reset``."""
        sp = self.begin(name)
        yield sp
        self.end(sp)

    # -- derived numbers

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def subtree_stats(self, sp: Span) -> JobStats:
        """Job stats of ``sp`` and all of its descendants."""
        out = JobStats()
        out.add(sp.stats)
        for c in self.children(sp):
            out.add(self.subtree_stats(c))
        return out

    def self_s(self, sp: Span) -> float:
        """Span wall time minus the part its child spans cover."""
        kids = [(c.start, c.end) for c in self.children(sp)]
        return uncovered_within(sp.start, sp.end, kids)

    def driver_only_s(self, sp: Span) -> float:
        """Span wall time covered by no Spark job of the span's subtree."""
        return uncovered_within(sp.start, sp.end, self.subtree_stats(sp).intervals)

    def dump(self, path: str, meta: dict) -> None:
        rows = []
        for sp in self.spans:
            st = self.subtree_stats(sp)
            d = asdict(st)
            d.pop("intervals")
            rows.append(
                {
                    "id": sp.id,
                    "parent": sp.parent,
                    "run_id": sp.run_id,
                    "name": sp.name,
                    "start": sp.start,
                    "end": sp.end,
                    "wall_s": sp.wall_s,
                    "self_s": self.self_s(sp),
                    "cpu_s": sp.cpu_s,
                    "driver_only_s": self.driver_only_s(sp),
                    "python_workers_cpu_s": sp.py_cpu_s,
                    "spark": d,
                }
            )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": rows}, f, indent=1)

