"""Spans, Spark structural counters and process-tree memory.

A :class:`Tracer` records spans (name, start, end, parent, run id) in
memory around the benchmark's calls into the engine. With tracing off,
``span`` still times the call (the end-to-end metrics need walls) but
records nothing else.

Spark counters are attributed per span without touching the hot path:
at each span boundary the tracer reads the scheduler's job counter
(one JVM call), so a span owns the job ids submitted inside it. After
the timed phase, :meth:`Tracer.harvest` drains the listener bus and
reads each job's and stage's data from the AppStatusStore — jobs,
stages, tasks, executor CPU, GC, spill and shuffle bytes — and the
union of the jobs' intervals, from which ``driver_gap_s`` (span wall
not covered by any of its jobs) follows.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
import uuid

from perfbench.common import process_tree


class Span:
    __slots__ = ("name", "start", "end", "parent", "run_id", "job_lo", "job_hi", "counts")

    def __init__(self, name, start, parent, run_id, job_lo):
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.run_id = run_id
        self.job_lo = job_lo
        self.job_hi = job_lo
        self.counts: dict = {}

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._dag = None
        self._spark = None

    def attach(self, spark) -> None:
        self._spark = spark
        if self.enabled:
            self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def _next_job(self) -> int:
        return int(self._dag.numTotalJobs()) if self._dag is not None else 0

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        """Time a block; yields its :class:`Span`, whose ``counts`` the
        block may add to. When tracing, the span is recorded."""
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, parent.name if parent else None, self.run_id, 0)
        s.counts.update(counts)
        if self.enabled:
            s.job_lo = self._next_job()
            self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                s.job_hi = self._next_job()
                self._stack.pop()
                self.spans.append(s)

    # -- after the timed phase ------------------------------------------------

    def harvest(self, spans: list[Span]) -> dict[int, dict]:
        """Per-job data for every job ``spans`` own (waits for the
        listener bus so the store holds every finished job)."""
        if not self.enabled or not spans:
            return {}
        jsc = self._spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        ids = set()
        for s in spans:
            ids.update(range(s.job_lo, s.job_hi))
        jobs: dict[int, dict] = {}
        stage_seen: set[int] = set()
        for jid in sorted(ids):
            j = store.job(jid)
            sub, comp = j.submissionTime(), j.completionTime()
            rec = {
                "stages": int(j.numCompletedStages()),
                "tasks": int(j.numCompletedTasks()),
                "t0": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "t1": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                "cpu_s": 0.0,
                "gc_s": 0.0,
                "spill_bytes": 0,
                "shuffle_bytes": 0,
            }
            sids = j.stageIds()
            for i in range(sids.size()):
                sid = int(sids.apply(i))
                if sid in stage_seen:
                    continue
                stage_seen.add(sid)
                attempts = store.stageData(sid, False, None, False, None)
                for k in range(attempts.size()):
                    st = attempts.apply(k)
                    rec["cpu_s"] += st.executorCpuTime() / 1e9
                    rec["gc_s"] += st.jvmGcTime() / 1000.0
                    rec["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
                    rec["shuffle_bytes"] += int(st.shuffleReadBytes()) + int(st.shuffleWriteBytes())
            jobs[jid] = rec
        return jobs


def spark_counts(span: Span, jobs: dict[int, dict], epoch_offset: float) -> dict:
    """Structural counters of one span from harvested job data.
    ``epoch_offset`` maps ``perf_counter`` to wall-clock seconds."""
    own = [jobs[j] for j in range(span.job_lo, span.job_hi) if j in jobs]
    intervals = sorted(
        (r["t0"], r["t1"]) for r in own if r["t0"] is not None and r["t1"] is not None
    )
    lo, hi = span.start + epoch_offset, span.end + epoch_offset
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return {
        "jobs": len(own),
        "stages": sum(r["stages"] for r in own),
        "tasks": sum(r["tasks"] for r in own),
        "executor_cpu_s": sum(r["cpu_s"] for r in own),
        "gc_s": sum(r["gc_s"] for r in own),
        "spill_bytes": sum(r["spill_bytes"] for r in own),
        "shuffle_bytes": sum(r["shuffle_bytes"] for r in own),
        "driver_gap_s": max(span.wall - covered, 0.0),
    }


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed wall minus the part its direct children
    cover (children run sequentially inside their parent)."""
    child_sum: dict[int, float] = {}
    by_name: dict[str, float] = {}
    stack: list[Span] = []
    for s in sorted(spans, key=lambda s: (s.start, -s.end)):
        while stack and stack[-1].end <= s.start:
            stack.pop()
        if stack:
            child_sum[id(stack[-1])] = child_sum.get(id(stack[-1]), 0.0) + s.wall
        stack.append(s)
    for s in spans:
        by_name[s.name] = by_name.get(s.name, 0.0) + s.wall - child_sum.get(id(s), 0.0)
    return by_name


class PssSampler:
    """Peak summed PSS (MB) of this process and all its descendants
    (driver Python, JVM, Python workers), sampled on a thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
