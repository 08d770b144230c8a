"""Span tracing for the traced benchmark run.

Nothing here edits the program: `Tracer.install` replaces public layer
functions with wrappers at run time and `Tracer.uninstall` puts them
back. Every wrapped call records a span (name, start, end, parent) in
memory and tags the Spark jobs it starts with the local property
`perfbench.span`, so the event log can charge each job to the innermost
span that ran it. Only the main thread records spans; a job started
from another thread (the store's digest pool, for one) carries no tag
and is charged by time, to the innermost span open when it was
submitted (the run has one client, so that span is the one waiting).

The lazy layers (scan, merge, scheduler, views, search and most store
reads) only build plans. Their spans measure plan building; the jobs
they describe run inside whichever span calls the action.
"""

from __future__ import annotations

import bisect
import functools
import json
import threading
import time
from dataclasses import dataclass

#: Spark local property that carries the innermost span id
SPAN_PROPERTY = "perfbench.span"

#: TableStore methods traced, as named in the benchmark's layer map
STORE_METHODS = (
    "read",
    "read_pruned",
    "read_bucketed_pruned",
    "read_prefix",
    "apply_changes",
    "append",
    "merge",
    "delete_rows",
    "compact",
    "analyze",
    "refresh_mview",
)

#: Engine methods traced: the entry points the timed operations call
ENGINE_METHODS = ("crawl_once", "hash_once", "run_until_idle")


#: helpers that executor-side code may call; they stay unwrapped
_EXECUTOR_SIDE = frozenset({"child_path"})


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder. Spans are kept in a list and written out
    once, by `dump`, when the run ends."""

    enabled = True

    def __init__(self, spark_context=None) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark_context
        self._patched: list[tuple[object, str, object]] = []
        #: wall seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0
        #: perf_counter -> epoch seconds, to line spans up with the event log
        self.epoch_offset = time.time() - time.perf_counter()
        self._main = threading.get_ident()

    # -- recording ---------------------------------------------------------
    def _enter(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, parent, 0.0)
        self.spans.append(span)
        self._stack.append(span)
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, str(span.id))
        span.start = time.perf_counter()
        return span

    def _exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self._sc is not None:
            self._sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1].id) if self._stack else None
            )

    def span(self, name: str):
        return _SpanContext(self, name)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.get_ident() != tracer._main:
                return fn(*args, **kwargs)
            b0 = time.perf_counter()
            span = tracer._enter(name)
            b1 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                b2 = time.perf_counter()
                tracer._exit(span)
                tracer.overhead_s += (b1 - b0) + (time.perf_counter() - b2)

        return traced

    # -- patching ------------------------------------------------------------
    def _patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name))

    def install(self) -> None:
        """Wrap the program's public layer functions."""
        from file_db_spark.filedb import engine, merge, scan, scheduler, search, views
        from file_db_spark.filedb.store import TableStore

        for mod, layer in (
            (scan, "scan"),
            (merge, "merge"),
            (scheduler, "scheduler"),
            (views, "views"),
            (search, "search"),
        ):
            for fn in getattr(mod, "__all__", ()):
                obj = getattr(mod, fn, None)
                if callable(obj) and not isinstance(obj, type) and fn not in _EXECUTOR_SIDE:
                    self._patch(mod, fn, f"{layer}.{fn}")
        # Engine binds hash_files by name at import time
        self._patch(engine, "hash_files", "hashing.hash_files")
        for m in STORE_METHODS:
            self._patch(TableStore, m, f"store.{m}")
        for m in ENGINE_METHODS:
            self._patch(engine.Engine, m, f"engine.{m}")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> Span:
        self.span = self.tracer._enter(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._exit(self.span)


class NullTracer:
    """Stand-in for untraced runs: a span costs one method call."""

    enabled = False

    def span(self, name: str):
        return _NULL_CONTEXT


class _NullContext:
    def __enter__(self):
        return None

    def __exit__(self, *exc) -> None:
        return None


_NULL_CONTEXT = _NullContext()


# -- arithmetic over spans -------------------------------------------------
def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, ())
             if c.end > s.start and c.start < s.end]
        )
        out[s.id] = (s.end - s.start) - covered
    return out


def attribute_by_time(spans: list[Span], jobs: list[dict], epoch_offset: float) -> int:
    """Give every job without a span tag the innermost span open when it
    was submitted; returns how many jobs that was. Spans come from one
    thread, so they nest and are listed in start order: the innermost
    open span at t is the latest-starting one before t, or the nearest
    of its ancestors still open."""
    starts = [s.start for s in spans]
    n = 0
    for j in jobs:
        if j["span"] is not None:
            continue
        t = j["t0"] - epoch_offset
        i = bisect.bisect_right(starts, t) - 1
        while i >= 0 and spans[i].end < t:
            i = spans[i].parent if spans[i].parent is not None else -1
        if i >= 0:
            j["span"] = i
            n += 1
    return n


# -- Spark event log -------------------------------------------------------
def parse_event_log(path: str) -> list[dict]:
    """Jobs from one Spark event log: id, span id (or None), submission
    and completion times (epoch seconds) and summed task CPU seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                jobs[jid] = {
                    "id": jid,
                    "span": int(span) if span not in (None, "") else None,
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                    "cpu_s": 0.0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                metrics = ev.get("Task Metrics") or {}
                if jid in jobs:
                    jobs[jid]["cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
    return [j for j in jobs.values() if j["t1"] is not None]
