"""In-memory spans recorded around the engine's public layer boundaries.

``Tracer.install()`` wraps public callables of ``session``,
``plans.crawl_loop``, ``plans.fused_staging`` and ``sources.tableio``.
Each call records one span (name, detail, start, end, parent, round,
thread) and, while it runs, sets the Spark job description of the
calling thread to ``it=<round> <label>``. PySpark's pinned-thread mode
keeps that local property per Python thread, so the crawl loop's
staging pool threads label their own jobs, and the event-log reader can
attribute every job. Spans stay in memory; the caller reads
``Tracer.spans`` when the run ends.

Spans opened on a thread with no open span (a staging-pool thread) take
the current ``run_iteration`` span as their parent.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str  # layer callable, e.g. "tableio.stage"
    detail: str | None  # table or query name
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: int | None
    round: int | None
    thread: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus the part of its interval that its direct
    children cover (children on several threads may overlap; the union
    is subtracted once)."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.duration - covered(kids, span.start, span.end)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._round: int | None = None
        self._round_span: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, detail: str | None = None, label: str | None = None):
        """Record one span; ``label`` (when given and a SparkContext is
        active) becomes the job description of this thread meanwhile."""
        from pyspark import SparkContext

        stack = self._stack()
        parent = stack[-1] if stack else self._round_span
        sid = next(self._ids)
        rnd = self._round
        sc = SparkContext._active_spark_context if label else None
        prev = sc.getLocalProperty("spark.job.description") if sc else None
        if sc is not None:
            prefix = f"it={rnd} " if rnd is not None else ""
            sc.setJobDescription(prefix + label)
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            if sc is not None:
                sc.setJobDescription(prev)
            with self._lock:
                self.spans.append(Span(sid, name, detail, start, end, parent, rnd,
                                       threading.current_thread().name))

    @contextlib.contextmanager
    def round(self, it: int):
        """The ``run_iteration`` span: children on other threads attach to it."""
        outer = (self._round, self._round_span)
        self._round = it
        with self.span("crawl_loop.run_iteration", label="run_iteration") as sid:
            self._round_span = sid
            try:
                yield sid
            finally:
                self._round, self._round_span = outer

    # -- wrappers --------------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, functools.wraps(original)(make(original)))

    def install(self) -> None:
        from film_crawler_spark import session
        from film_crawler_spark.plans import crawl_loop, fused_staging
        from film_crawler_spark.sources.tableio import TableIO

        tr = self

        def plain(name, label=None):
            def make(fn):
                def wrapper(*a, **k):
                    with tr.span(name, label=label):
                        return fn(*a, **k)
                return wrapper
            return make

        def table_call(name, prefix, pos):
            # ``pos``: index of the table argument after ``self``;
            # ``prefix`` None leaves the job description alone
            def make(fn):
                def wrapper(io, *a, **k):
                    table = k["table"] if "table" in k else a[pos]
                    label = None if prefix is None else prefix + table
                    with tr.span(name, detail=table, label=label):
                        return fn(io, *a, **k)
                return wrapper
            return make

        def iteration(fn):
            def wrapper(spark, io, cfg, it, *a, **k):
                with tr.round(it):
                    return fn(spark, io, cfg, it, *a, **k)
            return wrapper

        self._patch(session, "get_spark", plain("session.get_spark"))
        self._patch(session, "warmup", plain("session.warmup", "warmup"))
        self._patch(crawl_loop, "run_crawl", plain("crawl_loop.run_crawl", "run_crawl"))
        self._patch(crawl_loop, "run_iteration", iteration)
        fused = plain("fused_staging.stage_thin_tables", "thin_tables")
        self._patch(fused_staging, "stage_thin_tables", fused)
        # crawl_loop binds the fused pass under its own name at import
        self._patch(crawl_loop, "fused_stage", fused)
        self._patch(TableIO, "stage", table_call("tableio.stage", "", 1))
        self._patch(TableIO, "stage_empty", table_call("tableio.stage_empty", None, 1))
        self._patch(TableIO, "commit", plain("tableio.commit", "commit"))
        self._patch(TableIO, "read_snapshot", table_call("tableio.read_snapshot", "read.", 0))
        self._patch(TableIO, "read_log", table_call("tableio.read_log", "read.", 0))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)
