"""In-memory spans around the benchmark's calls into each engine layer,
plus Spark job/stage counters attributed to those spans.

A span records its name, layer, start and end (wall clock and
``perf_counter``), its parent span and the operation (op) it belongs to.
With tracing off every call is a no-op, so end-to-end runs pay nothing.

Counters are read once, after the measured window, from Spark's
``AppStatusStore`` (the JVM status store behind the UI and
``tools/decompose_query.py``): every retained job with its group,
submission/completion time, task counts and the GC/input/shuffle totals
of its stages. Each job is attributed to the innermost span of its op
whose interval contains the job's submission. An op sets its id as the
Spark job group of the client thread that runs it, which keeps two
concurrent clients' jobs apart; jobs with no group (submitted from the
engine's own driver thread pool) are matched on time alone.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

LAYERS = ("session", "sources", "plans", "operators", "engine", "streaming", "bench")


class Span:
    __slots__ = (
        "id", "name", "layer", "op", "parent", "group",
        "t0", "t1", "w0", "w1", "jobs", "phase",
    )

    def __init__(self, sid, name, layer, op, parent, group, phase):
        self.id, self.name, self.layer = sid, name, layer
        self.op, self.parent, self.group = op, parent, group
        self.phase = phase
        self.t0 = self.t1 = self.w0 = self.w1 = 0.0
        self.jobs: list[dict] = []

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def to_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "layer": self.layer,
            "op": self.op, "parent": self.parent, "phase": self.phase,
            "start": self.w0, "end": self.w1,
            "counters": job_totals(self.jobs),
        }


class Tracer:
    """Span recorder. ``enabled=False`` makes every method a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        # "setup", "measure" or "check": stamped on every span, so the
        # per-layer figures can cover the measured window alone.
        self.phase = "setup"
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def op(self, name: str, spark=None):
        """Root span of one user-visible operation. Sets the op id as the
        thread's Spark job group so the op's jobs can be found later."""
        if not self.enabled:
            yield
            return
        group = f"perfbench-op-{next(self._ops)}"
        if spark is not None:
            t = time.perf_counter()
            spark.sparkContext.setJobGroup(group, name)
            self.bookkeeping_s += time.perf_counter() - t
        try:
            with self._span(name, "bench", group):
                yield
        finally:
            if spark is not None:
                t = time.perf_counter()
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.bookkeeping_s += time.perf_counter() - t

    def span(self, name: str, layer: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, layer, None)

    @contextlib.contextmanager
    def _span(self, name, layer, group):
        t = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            next(self._ids), name, layer,
            parent.op if parent else (group or name),
            parent.id if parent else None,
            group if group else (parent.group if parent else None),
            self.phase,
        )
        stack.append(s)
        with self._lock:
            self.spans.append(s)
        self.bookkeeping_s += time.perf_counter() - t
        s.w0, s.t0 = time.time(), time.perf_counter()
        try:
            yield s
        finally:
            s.t1, s.w1 = time.perf_counter(), time.time()
            stack.pop()

    # --- counters -------------------------------------------------------
    def attach_jobs(self, spark) -> None:
        """Read every retained job from the status store and attribute it
        to the innermost matching span (call after the measured window)."""
        if not self.enabled:
            return
        by_group: dict = {}
        for s in self.spans:
            by_group.setdefault(s.group, []).append(s)
        for job in read_jobs(spark):
            candidates = (
                self.spans if job["group"] is None
                else by_group.get(job["group"], ())
            )
            best = None
            for s in candidates:
                if s.w0 <= job["submit"] <= s.w1 and (
                    best is None or s.w0 >= best.w0 and s.w1 <= best.w1
                ):
                    best = s
            if best is not None:
                best.jobs.append(job)

    # --- reports --------------------------------------------------------
    def self_times(self, phase: str = "measure") -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of
        its interval that its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s.phase != phase:
                continue
            covered = merged_length(
                (c.t0, c.t1) for c in kids.get(s.id, ())
            )
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - covered
        return out

    def named(self, name: str, phase: str = "measure") -> list[Span]:
        return [s for s in self.spans if s.name == name and s.phase == phase]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.to_json() for s in self.spans], f)


def merged_length(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_totals(jobs: list[dict]) -> dict[str, float]:
    keys = ("tasks", "failed_tasks", "gc_s", "input_bytes", "shuffle_bytes")
    out = {k: sum(j[k] for j in jobs) for k in keys}
    out["jobs"] = len(jobs)
    out["job_busy_s"] = merged_length((j["submit"], j["end"]) for j in jobs)
    return out


def _opt(value):
    return value.get() if value.isDefined() else None


def read_jobs(spark) -> list[dict]:
    """Every job the status store retains, with per-job stage totals.
    Waits (bounded) for the listener bus to drain first, so jobs that
    just finished are complete in the store."""
    sc = spark.sparkContext._jsc.sc()
    with contextlib.suppress(Exception):
        sc.listenerBus().waitUntilEmpty(10_000)
    store = sc.statusStore()
    jvm = spark.sparkContext._jvm
    stages: dict[int, tuple] = {}
    it = store.stageList(
        None, False, False,
        spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        st = it.next()
        stages[st.stageId()] = (
            st.jvmGcTime() / 1000.0,
            st.inputBytes(),
            st.shuffleReadBytes() + st.shuffleWriteBytes(),
        )
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub, end = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None:
            continue
        gc = inp = shuf = 0.0
        sit = j.stageIds().iterator()
        while sit.hasNext():
            g, i, s = stages.get(sit.next(), (0.0, 0, 0))
            gc, inp, shuf = gc + g, inp + i, shuf + s
        jobs.append(
            {
                "id": j.jobId(),
                "group": _opt(j.jobGroup()),
                "submit": sub.getTime() / 1000.0,
                "end": (end.getTime() if end is not None else sub.getTime()) / 1000.0,
                "tasks": j.numTasks(),
                "failed_tasks": j.numFailedTasks(),
                "gc_s": gc,
                "input_bytes": inp,
                "shuffle_bytes": shuf,
            }
        )
    return jobs
