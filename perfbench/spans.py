"""Spans around calls into the engine's modules, for the traced run.

A span is opened by a wrapper that this file installs over a module's
public function. The wrapper adds its own Spark job tag in the calling
thread (PySpark's pinned-thread mode keeps job tags per thread, and the
Runner's thread-pool workers do not inherit them), times the call, and
keeps the span in memory. After the run, Spark's status store is read
once: every job carries the tags of the spans open in the thread that
issued it, which places each job under its innermost span. A job with no
span tag comes from a thread the engine started itself (the writer pool
of the MinHash index, a streaming query's micro-batches, the Runner's
pool outside a traced call); it goes to the innermost span the main
thread had open when the job was submitted, the call that started that
thread.

Per span instance this yields ``wall_s``, ``jobs_s`` (union of its own
and its descendants' job intervals), ``gap_s`` (wall not covered by a
job or a child span), ``self_s`` (wall not covered by a child span),
``n_jobs`` and ``shuffle_bytes``/``spill_bytes``/``output_bytes`` summed
over the stages of its jobs.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    extra: dict = field(default_factory=dict)
    main: bool = False  # opened in the main thread
    jobs: list = field(default_factory=list)  # own jobs (innermost span)
    children: list = field(default_factory=list)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Installs span wrappers and attributes Spark jobs to spans."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: dict[int, Span] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        # wall clock and perf_counter differ by a constant; job times from
        # the status store are epoch milliseconds
        self._epoch_offset = time.time() - time.perf_counter()

    # -- span recording ------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span:
        """The innermost span open in the calling thread."""
        return self.spans[self._stack()[-1]]

    def call(self, name: str, fn, *args, **kwargs):
        stack = self._stack()
        # a span opened in a pool worker hangs under whatever the main
        # thread has open (the Runner.build that started the pool)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        span = Span(sid, name, parent, time.perf_counter(), main=stack is self._main_stack)
        with self._lock:
            self.spans[sid] = span
        tag = f"perfbench-span-{sid}"
        self.sc.addJobTag(tag)
        stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            self.sc.removeJobTag(tag)
            span.t1 = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    def install(self, targets: list[tuple[str, object, str]]) -> None:
        """``targets``: (span name, owner, attribute). A module-level
        function is also replaced wherever an engine module imported it by
        name, so callers that did ``from x import f`` are traced too."""
        for span_name, owner, attr in targets:
            original = getattr(owner, attr)
            traced = self.wrap(span_name, original)
            setattr(owner, attr, traced)
            if isinstance(owner, type):
                continue
            for mod_name, mod in list(sys.modules.items()):
                if mod_name.startswith("dbt_ci_demo_spark") and getattr(mod, attr, None) is original:
                    setattr(mod, attr, traced)

    def sample_before(self, owner, attr: str, layer: str, sampler) -> None:
        """Wrap ``owner.attr`` so that a call made while the calling
        thread's innermost span belongs to ``layer`` first records
        ``sampler()`` into that span's ``sampled`` field (the max over
        the span's calls)."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def sampled(*args, **kwargs):
            stack = self._stack()
            if stack and self.spans[stack[-1]].name.startswith(layer + "."):
                extra = self.spans[stack[-1]].extra
                extra["sampled"] = max(extra.get("sampled", 0), sampler())
            return original(*args, **kwargs)

        setattr(owner, attr, sampled)

    # -- attribution ---------------------------------------------------------

    def collect(self) -> None:
        """Read jobs and stages from the status store and attach each job
        to its innermost tagged span, or an untagged one to the innermost
        main-thread span open at its submission."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        untagged = []
        for job in _seq(store.jobsList(None)):
            sub, done = job.submissionTime(), job.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            stats = {"shuffle_bytes": 0, "spill_bytes": 0, "output_bytes": 0,
                     "task_s": 0.0, "files": 0}
            for stage_id in _seq(job.stageIds()):
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                    continue
                stats["shuffle_bytes"] += st.shuffleWriteBytes()
                stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                stats["output_bytes"] += st.outputBytes()
                stats["task_s"] += st.executorRunTime() / 1000.0
                if st.outputBytes() > 0:
                    stats["files"] += st.numCompleteTasks()
            t0 = sub.get().getTime() / 1000.0 - self._epoch_offset
            t1 = done.get().getTime() / 1000.0 - self._epoch_offset
            tags = [t for t in _seq(job.jobTags()) if t.startswith("perfbench-span-")]
            sid = max((int(t.rsplit("-", 1)[1]) for t in tags), default=None)
            if sid is None:
                untagged.append((t0, t1, stats))
            elif sid in self.spans:
                self.spans[sid].jobs.append((t0, t1, stats))
        main = [s for s in self.spans.values() if s.main]
        for t0, t1, stats in untagged:
            open_at = [s for s in main if s.t0 <= t0 < s.t1]
            if open_at:
                max(open_at, key=lambda s: s.t0).jobs.append((t0, t1, stats))
        for span in self.spans.values():
            if span.parent in self.spans:
                self.spans[span.parent].children.append(span.sid)

    def _subtree_jobs(self, span: Span) -> list:
        out = list(span.jobs)
        for c in span.children:
            out += self._subtree_jobs(self.spans[c])
        return out

    def fields(self, span: Span) -> dict:
        """The per-span fields, each clipped to the span's own interval."""
        def clip(a, b):
            return (max(a, span.t0), min(b, span.t1))

        wall = span.t1 - span.t0
        jobs = self._subtree_jobs(span)
        job_iv = [clip(a, b) for a, b, _ in jobs if b > span.t0 and a < span.t1]
        child_iv = [clip(self.spans[c].t0, self.spans[c].t1) for c in span.children]
        jobs_s = _union(job_iv)
        covered = _union(job_iv + child_iv)
        own_jobs = [(a, b) for a, b, _ in span.jobs]
        out = {
            "wall_s": wall,
            "jobs_s": jobs_s,
            "gap_s": wall - covered,
            "self_s": wall - _union(child_iv),
            "n_jobs": len(jobs),
            "own_jobs": len(own_jobs),
            "shuffle_bytes": sum(s["shuffle_bytes"] for *_, s in jobs),
            "spill_bytes": sum(s["spill_bytes"] for *_, s in jobs),
            "output_bytes": sum(s["output_bytes"] for *_, s in jobs),
            "files_written": sum(s["files"] for *_, s in jobs),
            "task_s": sum(s["task_s"] for *_, s in jobs),
        }
        out.update(span.extra)
        return out
