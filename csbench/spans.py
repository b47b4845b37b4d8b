"""In-memory span tracer for the traced benchmark run.

A span records name, start, end and parent, plus the Spark job group its
jobs ran under.  Each span sets its own job group on the calling thread,
so the jobs a span launched directly belong to it and not to its parent.
Spark stage metrics (tasks, executor run and CPU time, input, output,
shuffle and spill bytes) are read from the status store by job group
after the traced operation finishes.  Python-worker CPU comes from
``/proc``.  A disabled tracer records nothing; the memory sampler runs
in every run.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass, field

STAGE_FIELDS = ("tasks", "run_s", "cpu_s", "input_bytes", "input_rows",
                "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    worker_cpu_s: float = 0.0
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its child
    spans cover.  Children may overlap each other (concurrent build
    stages), so their union is subtracted, clipped to the parent."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return {s.sid: s.duration - union_length(
        [iv for iv in kids.get(s.sid, []) if iv[1] > iv[0]])
        for s in spans}


def _proc_children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    kids = _proc_children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _is_worker(pid: int) -> bool:
    """The PySpark daemon or one of its forked workers."""
    return "pyspark.daemon" in _cmdline(pid)


def python_worker_cpu_s(jvm_pid: int) -> float:
    """User+system CPU seconds of the PySpark daemon and its workers,
    reaped children included."""
    total = 0
    for pid in descendants(jvm_pid):
        if not _is_worker(pid):
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes mapping it, so forked workers that share the
    daemon's pages are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) << 10
    except OSError:
        pass
    return 0


class MemSampler:
    """Samples memory on a background thread.

    ``parts`` holds the highest PSS seen of this process (``driver``) and
    of the PySpark daemon with its workers summed (``workers``; set
    ``jvm_pid`` once the session is up).  Workers are found as
    descendants of the JVM whose command line names the daemon (a child
    between fork and exec still maps the JVM); a pid once seen as a
    worker is not read again.  The JVM itself is not sampled: reading its
    PSS takes the kernel about 20 ms, and its resident set says how far
    the collector grew the heap, not what the program holds (README)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.jvm_pid: int | None = None
        self.parts = {"driver": 0, "workers": 0}
        self.max_workers = 0
        self._workers: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _worker_pids(self) -> list[int]:
        pids = descendants(self.jvm_pid)[1:]
        for p in pids:
            if p not in self._workers and _is_worker(p):
                self._workers.add(p)
        return [p for p in pids if p in self._workers]

    def sample(self) -> None:
        jvm = self.jvm_pid
        pids = self._worker_pids() if jvm else []
        now = {"driver": pss_bytes(os.getpid()),
               "workers": sum(pss_bytes(p) for p in pids)}
        for k, v in now.items():
            self.parts[k] = max(self.parts[k], v)
        self.max_workers = max(self.max_workers, len(pids))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


_GC_HEAP = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)")
_UNIT = {"K": 1 << 10, "M": 1 << 20, "G": 1 << 30}


def heap_after_gc_peak(gc_log: str) -> int:
    """Highest heap occupancy after a collection, in bytes, from a JVM
    ``-Xlog:gc`` file (lines like ``Pause Young ... 51M->12M(256M)``):
    the heap the program held, whatever heap size the collector chose."""
    peak = 0
    with open(gc_log) as f:
        for line in f:
            m = _GC_HEAP.search(line)
            if m:
                peak = max(peak, int(m.group(3)) * _UNIT[m.group(4)])
    return peak


class Tracer:
    """Spans kept in memory; ``collect_spark`` reads the status store.

    ``enabled=False`` makes every call a no-op so the untraced run
    executes the same code path without recording anything.
    """

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spark = None
        self.phase = "setup"             # copied into every span's attrs
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[Span] = []
        self._stages_seen: set[int] = set()

    def attach(self, spark) -> None:
        self.spark = spark

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _jvm_pid(self) -> int | None:
        if self.spark is None:
            return None
        return self.spark.sparkContext._gateway.proc.pid

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def wrap(self, fn, name: str):
        """``fn`` traced under ``name`` whenever it is called, on any
        thread (a pool thread's first span takes the innermost open
        main-thread span as parent)."""
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def _open(self, name: str, attrs: dict) -> Span | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = Span(len(self.spans), name,
                     parent.sid if parent else None, 0.0,
                     group=f"csbench.{len(self.spans)}.{name}",
                     attrs={**attrs, "phase": self.phase})
            self.spans.append(s)
        stack.append(s)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(s.group, name)
        jvm = self._jvm_pid()
        s.worker_cpu_s = -python_worker_cpu_s(jvm) if jvm else 0.0
        self.overhead_s += time.perf_counter() - t
        s.start = time.perf_counter()
        return s

    def _close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        jvm = self._jvm_pid()
        if jvm:
            s.worker_cpu_s += python_worker_cpu_s(jvm)
        stack = self._stack()
        stack.pop()
        if self.spark is not None:
            sc = self.spark.sparkContext
            if stack:
                sc.setJobGroup(stack[-1].group, stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        self.overhead_s += time.perf_counter() - s.end

    def collect_spark(self) -> None:
        """Fill ``span.spark`` for every span not yet resolved.  Call it
        after each traced operation so the status store still retains
        the stages (it keeps a bounded number)."""
        if not self.enabled or self.spark is None:
            return
        from py4j.protocol import Py4JJavaError
        t = time.perf_counter()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for s in self.spans:
            if s.spark or not s.end:
                continue
            agg = dict.fromkeys(STAGE_FIELDS, 0)
            agg["jobs"] = 0
            for jid in tracker.getJobIdsForGroup(s.group):
                agg["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    # a shuffle map stage shared by two jobs is counted once
                    if int(sid) in self._stages_seen:
                        continue
                    self._stages_seen.add(int(sid))
                    try:
                        sd = store.lastStageAttempt(int(sid))
                    except Py4JJavaError:  # evicted or never submitted
                        continue
                    agg["tasks"] += sd.numCompleteTasks()
                    agg["run_s"] += sd.executorRunTime() / 1e3
                    agg["cpu_s"] += sd.executorCpuTime() / 1e9
                    agg["input_bytes"] += sd.inputBytes()
                    agg["input_rows"] += sd.inputRecords()
                    agg["output_bytes"] += sd.outputBytes()
                    agg["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    agg["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    agg["spill_bytes"] += (sd.memoryBytesSpilled()
                                           + sd.diskBytesSpilled())
            s.spark = agg
        self.overhead_s += time.perf_counter() - t


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        self.span = self.tracer._open(self.name, self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span)
