"""Spans around calls into the engine's public functions (traced runs).

The engine is not edited: :class:`Tracer` replaces module attributes and
``CheckpointStore`` methods with wrappers for the length of a traced run
and puts the originals back afterwards.  Each span records its name,
start, end, parent span and operation id; spans stay in memory and are
summarised when the run ends.

Two kinds of wrapped call:

* *phase boundaries* — the first call of a phase (the pre-extract pass,
  each crawl round at ``politeness.apply_robots``, the tail at
  ``extract.dedup_contacts``, ...).  The previous phase of the operation
  ends there and the calling thread's Spark job group switches to the
  new phase, so the jobs the engine launches between wrapped calls are
  charged to the phase they ran in.
* *layer calls* — a span of their own with their own job group,
  restored on return.  Calls that only build a lazy plan (``seen``,
  ``politeness``, ``extract``, ``seeds``, ``breach``) get short spans;
  their counts and arguments are what the trace uses them for.

Spark job and task counts per span come from ``statusTracker()``, read
after each operation ends so the lookups stay out of the operation's
wall time.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float | None = None
    group: str = ""
    jobs: int = 0
    tasks: int = 0
    ret: int | None = None  # an int the wrapped call returned (staged rows)

    @property
    def duration(self) -> float:
        return (self.end or time.perf_counter()) - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder; see the module docstring."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.calls: Counter = Counter()
        self.captured: dict[str, tuple] = {}
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._op: Span | None = None
        self._phase: Span | None = None
        self._patches: list[tuple] = []

    # ------------------------------------------------------------ spans

    def _new(self, name: str, parent: Span | None) -> Span:
        with self._lock:
            sid = next(self._ids)
            span = Span(
                sid,
                name,
                self._op.id if self._op else -1,
                parent.id if parent else None,
                time.perf_counter(),
                group=f"bench-trace-{sid}",
            )
            self.spans.append(span)
        return span

    def _add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty(_GROUP_KEY, None)
        else:
            self.sc.setJobGroup(group, group)

    def begin_op(self, name: str) -> None:
        self._op = None
        self._op = self._new(name, None)
        self._op.op = self._op.id
        self._phase = None
        self._set_group(self._op.group)

    def end_op(self) -> Span:
        now = time.perf_counter()
        if self._phase is not None:
            self._phase.end = now
        op, self._op, self._phase = self._op, None, None
        op.end = now
        self._set_group(None)
        self._count_jobs(op)
        return op

    def phase(self, name: str) -> None:
        """Close the operation's current phase and open one called ``name``."""
        if self._op is None:
            return
        now = time.perf_counter()
        if self._phase is not None:
            self._phase.end = now
        self._phase = self._new(name, self._op)
        self._phase.start = now
        self._set_group(self._phase.group)

    def _count_jobs(self, op: Span) -> None:
        st = self.sc.statusTracker()
        for span in self.spans:
            if span.op != op.id:
                continue
            for jid in st.getJobIdsForGroup(span.group):
                span.jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    span.tasks += stage.numTasks if stage else 0

    # --------------------------------------------------------- patching

    def patch(
        self,
        owner,
        attr: str,
        name,
        boundary: str | None = None,
        capture: str | None = None,
        on_call=None,
    ) -> None:
        """Wrap ``owner.attr``.  ``name`` is a span name or a function of
        the call's (args, kwargs) giving one; ``boundary`` opens that
        phase first; ``capture`` keeps the latest arguments under that
        key for the direct drives after the timed operations;
        ``on_call(args, kwargs)`` updates counters from the arguments."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            if boundary is not None:
                tracer.phase(boundary)
            label = name(args, kwargs) if callable(name) else name
            with tracer._lock:  # staging calls arrive on several threads
                tracer.calls[label] += 1
                if capture is not None:
                    tracer.captured[capture] = (args, kwargs)
                if on_call is not None:
                    on_call(args, kwargs)
            prev = tracer.sc.getLocalProperty(_GROUP_KEY)
            span = tracer._new(label, tracer._phase or tracer._op)
            tracer._set_group(span.group)
            tracer._add_overhead(time.perf_counter() - t0)
            try:
                out = orig(*args, **kwargs)
                if isinstance(out, int):
                    span.ret = out
                return out
            finally:
                t1 = time.perf_counter()
                span.end = t1
                tracer._set_group(prev)
                tracer._add_overhead(time.perf_counter() - t1)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------------- summary

    def op_spans(self, op: Span) -> list[Span]:
        return [s for s in self.spans if s.op == op.id and s.id != op.id]

    def self_times(self, op: Span) -> dict[str, float]:
        """Span name -> summed self time (duration minus the union of
        its children's intervals) over one operation."""
        spans = self.op_spans(op)
        kids = defaultdict(list)
        for s in spans:
            kids[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s.name] += s.duration - union_length(kids[s.id])
        return dict(out)

    def coverage(self, op: Span) -> float:
        """Share of the operation's wall time covered by its spans."""
        covered = union_length(
            [(s.start, s.end) for s in self.op_spans(op) if s.parent == op.id]
        )
        return covered / op.duration

    def jobs(self, op: Span) -> tuple[int, int]:
        spans = [op] + self.op_spans(op)
        return sum(s.jobs for s in spans), sum(s.tasks for s in spans)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class JvmStats:
    """Heap peak and GC time from the Spark JVM's MXBeans (not RSS,
    which over-counts ZGC's multi-mapped heap)."""

    def __init__(self, spark) -> None:
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gc0 = 0

    def _gc_ms(self) -> int:
        return sum(int(g.getCollectionTime()) for g in self._mf.getGarbageCollectorMXBeans())

    def reset(self) -> None:
        for pool in self._mf.getMemoryPoolMXBeans():
            pool.resetPeakUsage()
        self._gc0 = self._gc_ms()

    def peak_heap_mb(self) -> float:
        peak = sum(
            int(p.getPeakUsage().getUsed())
            for p in self._mf.getMemoryPoolMXBeans()
            if str(p.getType().name()) == "HEAP"
        )
        return peak / 2**20

    def gc_s(self) -> float:
        return (self._gc_ms() - self._gc0) / 1000
