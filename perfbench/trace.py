"""Tracing for the benchmark: spans kept in memory, self time, Spark
job attribution, streaming-progress folding, and the process tree's
memory and CPU time.

Spans are recorded from the benchmark's own files only: ``Tracer.wrap``
replaces a function in the namespace a caller looks it up in, so the
program itself is untouched.  Every span tags the Spark jobs it submits
with a job description ``pb#<span id>``; after a unit the benchmark
reads the jobs and stages of that unit back from the status store
(populated even with the UI off) and hands each job to its span.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

DESC_PREFIX = "pb#"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its child
    spans cover.  Children of one span never overlap (one thread), so
    the covered part is the sum of their durations, clipped to the
    parent's interval."""
    out = {s.id: s.end - s.start for s in spans}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            covered = min(s.end, p.end) - max(s.start, p.start)
            out[p.id] -= max(covered, 0.0)
    return out


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every span a
    no-op, so one set of wrappers serves traced and untraced units."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._stack: list[Span] = []
        self._next = 0

    def _set_desc(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(f"{DESC_PREFIX}{span.id}" if span else None)

    def begin(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        self._next += 1
        span = Span(self._next, name, parent, time.perf_counter())
        self._stack.append(span)
        self._set_desc(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self._stack.pop()
        self.spans.append(span)
        self._set_desc(self._stack[-1] if self._stack else None)

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.begin(name)
                return self.s

            def __exit__(self, *exc):
                tracer.end(self.s)
                return False

        return _Ctx()

    def inside(self, prefix: str) -> bool:
        return any(s.name.startswith(prefix) for s in self._stack)

    def wrap(self, owner, attr: str, name: str, outermost: str | None = None):
        """Replace ``owner.attr`` by a function that records a span
        named ``name`` around each call.  With ``outermost`` set, a call
        made while a span with that name prefix is open records
        nothing (internal calls of one public operation)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self.enabled or (outermost and self.inside(outermost)):
                return fn(*a, **kw)
            s = self.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(s)

        setattr(owner, attr, traced)
        return fn

    def take(self) -> tuple[list[Span], Counter]:
        """The spans and counts recorded since the last call."""
        out = self.spans, self.counts
        self.spans, self.counts = [], Counter()
        return out


# -- Spark status store ---------------------------------------------------


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, o: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


def _seq(s) -> list:
    """A Scala Seq returned through py4j as a Python list."""
    it, out = s.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


class JobReader:
    """Reads jobs newer than the last read, with the stages each ran,
    from ``sc._jsc.sc().statusStore()``.  A stage counts once, for the
    first job that lists it; skipped stages (reused shuffle output)
    count for nothing."""

    def __init__(self, sc) -> None:
        self.store = sc._jsc.sc().statusStore()
        self.seen_job = -1
        self.seen_stages: set[int] = set()

    def read(self) -> list[tuple[str | None, StageTotals]]:
        """[(job description, totals of its completed stages)] for
        every job submitted since the previous call.  Call it only when
        no job is running."""
        fresh = [
            j for j in _seq(self.store.jobsList(None)) if j.jobId() > self.seen_job
        ]
        fresh.sort(key=lambda j: j.jobId())
        out = []
        for j in fresh:
            self.seen_job = max(self.seen_job, j.jobId())
            tot = StageTotals()
            for sid in _seq(j.stageIds()):
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                st = self.store.lastStageAttempt(sid)
                if str(st.status()) != "COMPLETE":
                    continue
                tot.add(StageTotals(
                    stages=1,
                    tasks=st.numCompleteTasks(),
                    run_ms=st.executorRunTime(),
                    cpu_ms=st.executorCpuTime() / 1e6,
                    shuffle_write_bytes=st.shuffleWriteBytes(),
                    spill_bytes=st.memoryBytesSpilled() + st.diskBytesSpilled(),
                ))
            desc = j.description()
            out.append((desc.get() if desc.isDefined() else None, tot))
        return out


def attribute(spans: list[Span], jobs) -> list[tuple[str | None, StageTotals]]:
    """Hand every job tagged ``pb#<id>`` to span ``id``; return the
    jobs that carried no span tag."""
    by_id = {s.id: s for s in spans}
    untagged = []
    for desc, tot in jobs:
        if desc and desc.startswith(DESC_PREFIX):
            sid = int(desc[len(DESC_PREFIX):])
            if sid in by_id:
                by_id[sid].jobs.append(tot)
                continue
        untagged.append((desc, tot))
    return untagged


def subtree(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


# -- streaming progress ----------------------------------------------------

#: StreamingQueryProgress.durationMs key -> per-layer metric suffix
PHASES = {
    "latestOffset": "latest_offset_ms",
    "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}


def fold_progress(progress: list) -> dict[str, float]:
    """Sum the per-batch phases of ``StreamingQuery.recentProgress``
    (the Python stream reader runs in a worker process, so its cost is
    only visible here).  Batches that read no input are skipped."""
    out = {k: 0.0 for k in PHASES.values()}
    out.update(batches=0, input_rows=0)
    for p in progress:
        if not p.get("numInputRows"):
            continue
        out["batches"] += 1
        out["input_rows"] += p["numInputRows"]
        for k, name in PHASES.items():
            out[name] += p.get("durationMs", {}).get(k, 0)
    return out


# -- memory and CPU ------------------------------------------------------------------


def _tree_stats(root: int) -> dict[int, list[str]]:
    """pid -> its ``/proc/<pid>/stat`` fields from the state on, for
    ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        children.setdefault(int(parts[1]), []).append(pid)
        stats[pid] = parts
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in stats:
            out[p] = stats[p]
        todo.extend(children.get(p, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (/proc)."""
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(parts[21]) * page for parts in _tree_stats(root).values())


#: thread names (as the kernel truncates them) of the JVM's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds (user and system) used so far by ``root``, all its
    descendants and their reaped children, and the part of it spent in
    JIT compiler threads (/proc).  The JIT part is exact only while
    compiler threads live as long as their JVM
    (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    total = jit = 0
    for pid, parts in _tree_stats(root).items():
        total += sum(int(x) for x in parts[11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(JIT_THREADS):
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    t = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            jit += int(t[11]) + int(t[12])
    tick = os.sysconf("SC_CLK_TCK")
    return total / tick, jit / tick


def program_cpu_s() -> float:
    """CPU seconds the benchmark's process tree (this Python driver, the
    Spark JVM and its Python workers) has used so far, JIT compilation
    excluded.  The JVM keeps compiling long after the warm pass, by a
    different amount in every run; what remains is the program's own
    work, and moves far less than wall time with the load on a shared
    host."""
    total, jit = tree_cpu_s(os.getpid())
    return total - jit


class PeakRss:
    """Samples the process tree's resident size on a thread and keeps
    the peak.  Use as a context manager; the thread is joined on exit.
    Disabled, it samples nothing (its walks of /proc would count in the
    CPU time of the units) and every peak reads 0."""

    def __init__(self, interval: float = 0.2, enabled: bool = True) -> None:
        self.interval, self.enabled = interval, enabled
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def take(self) -> int:
        """The peak since the last call (or the start), then start over."""
        if not self.enabled:
            return 0
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        if self.enabled:
            self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self.enabled:
            self._t.join(timeout=5)
        return False
