"""In-memory span recorder and the wrappers that put spans around the
engine's layers, installed from outside the engine.

A span is ``(span_id, request_id, parent_id, name, start, end, attrs)``.
Spans of one operation share its request id; the parent is the span
open on the same thread when the child started. Spans stay in memory
and are written out once, at the end of a run. When tracing is off
every wrapper is a plain pass-through call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    # --- request context --------------------------------------------

    def begin_request(self, rid: str) -> None:
        self._tls.rid = rid
        self._tls.stack = []
        self._tls.started = time.perf_counter()

    def request_started(self) -> "float | None":
        return getattr(self._tls, "started", None)

    def rid(self) -> "str | None":
        return getattr(self._tls, "rid", None)

    # --- spans --------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.record(name, t0, t1, attrs, sid=sid, parent=parent)

    def record(self, name, t0, t1, attrs=None, sid=None, parent=None) -> None:
        if not self.enabled:
            return
        if sid is None:
            sid = next(self._ids)
            stack = getattr(self._tls, "stack", None) or []
            parent = stack[-1] if stack else None
        with self._lock:
            self.spans.append((sid, self.rid(), parent, name, t0, t1, attrs or {}))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, rid, parent, name, t0, t1, attrs in self.spans:
                fh.write(json.dumps({
                    "id": sid, "request": rid, "parent": parent, "name": name,
                    "start": t0, "end": t1, **attrs,
                }) + "\n")


class TimedIterator:
    """Wraps the row iterator the server drains: time inside ``next``
    is Spark fetching rows, time between calls is the server encoding
    and writing the previous binding."""

    def __init__(self, it, tracer: Tracer, compiled_at: float):
        self._it = it
        self._tracer = tracer
        self._rid = tracer.rid()
        self._compiled_at = compiled_at
        self._first = None
        self._fetch = 0.0
        self._outside = 0.0
        self._rows = 0
        self._last = None
        self._done = False

    def __iter__(self):
        return self

    def __next__(self):
        t0 = time.perf_counter()
        if self._last is not None:
            self._outside += t0 - self._last
        try:
            row = next(self._it)
        except StopIteration:
            self._finish(time.perf_counter())
            raise
        t1 = time.perf_counter()
        if self._first is None:
            self._first = t1
        else:
            self._fetch += t1 - t0
        self._rows += 1
        self._last = t1
        return row

    def _finish(self, t_end: float) -> None:
        if self._done:
            return
        self._done = True
        first = self._first if self._first is not None else t_end
        self._tracer.record(
            "spark.fetch", self._compiled_at, t_end, {
                "first_row_s": first - self._compiled_at,
                "drain_s": self._fetch,
                "serialize_s": self._outside,
                "bindings": self._rows,
                "rid": self._rid,
            },
        )


class TimedFrame:
    """DataFrame stand-in handed to the server: every attribute passes
    through, except ``toLocalIterator``, whose rows are timed."""

    def __init__(self, df, tracer: Tracer, compiled_at: float):
        self._df = df
        self._tracer = tracer
        self._compiled_at = compiled_at

    def __getattr__(self, name):
        return getattr(self._df, name)

    def toLocalIterator(self, *a, **kw):
        return TimedIterator(
            self._df.toLocalIterator(*a, **kw), self._tracer, self._compiled_at
        )


class EngineProxy:
    """The engine object handed to ``SparqlHTTPServer``: ``query`` runs
    the wrapped engine's parse and compile under spans."""

    def __init__(self, engine, tracer: Tracer, job_count):
        self._engine = engine
        self._tracer = tracer
        orig_compile = engine.compile
        depth = threading.local()

        def compile(q):
            if not tracer.enabled:
                return orig_compile(q)
            top = not getattr(depth, "n", 0)
            depth.n = getattr(depth, "n", 0) + 1
            jobs0 = job_count() if top else 0
            try:
                with tracer.span("compiler.compile") as attrs:
                    df = orig_compile(q)
                    if top:
                        attrs["eager_jobs"] = job_count() - jobs0
                    attrs["top"] = top
                return df
            finally:
                depth.n -= 1

        engine.compile = compile

    def query(self, text, **kw):
        tr = self._tracer
        if not tr.enabled:
            return self._engine.query(text, **kw)
        entered = time.perf_counter()
        started = tr.request_started()
        if started is not None:
            tr.record("server.wait", started, entered)
        with tr.span("engine.query"):
            df = self._engine.query(text, **kw)
        return TimedFrame(df, tr, time.perf_counter())


def install_module_wrappers(tracer: Tracer) -> None:
    """Span the planner and parser entry points the compiler module
    calls by name (``parse``, ``select_sources``, ``prune_connected``)."""
    from ontario_spark.compiler import query as cq

    orig_parse = cq.parse
    orig_select = cq.select_sources
    orig_prune = cq.prune_connected

    def parse(text):
        with tracer.span("sparql.parse"):
            return orig_parse(text)

    def select_sources(cat, star):
        with tracer.span("planner.select_sources") as attrs:
            plan = orig_select(cat, star)
            attrs["branches"] = len(plan.alternatives)
            return plan

    def prune_connected(plans):
        with tracer.span("planner.prune") as attrs:
            attrs["before"] = sum(len(p.alternatives) for p in plans)
            out = orig_prune(plans)
            attrs["after"] = sum(len(p.alternatives) for p in out)
            return out

    cq.parse = parse
    cq.select_sources = select_sources
    cq.prune_connected = prune_connected


def wrap_executor(fn, tracer: Tracer, name: str):
    """Span a remote-source or SERVICE executor; count rows it returned
    when they arrive as a list (a JDBC executor returns a lazy frame)."""

    def run(*args, **kw):
        if not tracer.enabled:
            return fn(*args, **kw)
        with tracer.span("sources.remote", source=name) as attrs:
            out = fn(*args, **kw)
            if isinstance(out, (list, tuple)):
                attrs["rows"] = len(out)
            return out

    return run
