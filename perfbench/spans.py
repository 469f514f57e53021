"""Span recorder for the traced benchmark run.

Spans are kept in memory and written out when the run ends. Each span
has a name, start and end (``time.perf_counter`` seconds), the id of
the span that caused it, and the run id. A span's self time is its
duration minus the time its child spans cover.

``Tracer.install`` wraps the engine's public functions named in
``TARGETS`` from the outside: the wrapper replaces the function in its
defining module *and* in every ``pg_archiver_spark`` module that bound
it by name (``from pg_archiver_spark.catalog import load`` copies the
reference, so patching ``catalog`` alone would miss those callers).
``Tracer.uninstall`` puts every original back.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute, span name). Order matters only for readability.
TARGETS = (
    ("pg_archiver_spark.session", "get_spark", "session.get_spark"),
    ("pg_archiver_spark.catalog", "load", "catalog.load"),
    ("pg_archiver_spark.catalog", "fan_out", "catalog.fan_out"),
    ("pg_archiver_spark.sources.jdbc", "read_table", "jdbc.read_table"),
    ("pg_archiver_spark.sources.jdbc", "delete_archived", "jdbc.delete_archived"),
    ("pg_archiver_spark.sources.derby", "stage_frame", "derby.stage_frame"),
    ("pg_archiver_spark.sources.derby", "stage_events", "derby.stage_events"),
    ("pg_archiver_spark.streaming.archival", "archive_batch", "archival.archive_batch"),
)


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "attrs")

    def __init__(self, sid, name, start, parent, attrs):
        self.sid, self.name, self.start, self.parent, self.attrs = sid, name, start, parent, attrs
        self.end = None

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # A span opened on a callback thread (foreachBatch, listener)
        # is caused by whatever the main thread is blocked in.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(), parent.sid if parent else None, attrs)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    # -- wrapping the engine's public functions ---------------------------

    def _wrap(self, fn, span_name: str):
        tracer = self

        if span_name == "catalog.fan_out":
            @functools.wraps(fn)
            def wrapper(spark, df, *a, **kw):
                with tracer.span(span_name) as sp:
                    out = fn(spark, df, *a, **kw)
                    # "added" only when a new (repartitioned) frame comes back
                    sp.attrs["added"] = out is not df
                    return out
        else:
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                with tracer.span(span_name):
                    return fn(*a, **kw)
        wrapper.__perfbench_original__ = fn
        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        for mod_name, attr, span_name in TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapper = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if (name.startswith("pg_archiver_spark") or name == "__spark_entry__") \
                        and getattr(m, attr, None) is orig:
                    self._set(m, attr, wrapper)
        derby = importlib.import_module("pg_archiver_spark.sources.derby")
        self._set(derby.DerbyCursor, "execute",
                  self._wrap(derby.DerbyCursor.execute, "derby.execute"))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- summaries ---------------------------------------------------------

    def self_times(self, spans=None) -> dict[str, float]:
        spans = self.spans if spans is None else spans
        child = defaultdict(float)
        for sp in spans:
            if sp.parent is not None:
                child[sp.parent] += sp.dur
        out = defaultdict(float)
        for sp in spans:
            out[sp.name] += sp.dur - child.get(sp.sid, 0.0)
        return dict(out)

    def totals(self, spans=None) -> dict[str, tuple[int, float]]:
        """name -> (count, inclusive seconds)."""
        spans = self.spans if spans is None else spans
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for sp in spans:
            out[sp.name][0] += 1
            out[sp.name][1] += sp.dur
        return {k: (v[0], v[1]) for k, v in out.items()}

    def descendants(self, root: Span) -> list[Span]:
        """``root`` and every span it (transitively) caused."""
        keep = {root.sid}
        out = [root]
        for sp in self.spans[root.sid + 1:]:
            if sp.parent in keep:
                keep.add(sp.sid)
                out.append(sp)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": sp.sid, "name": sp.name,
                    "start": sp.start, "end": sp.end, "parent": sp.parent,
                    **({"attrs": sp.attrs} if sp.attrs else {}),
                }, default=str) + "\n")
