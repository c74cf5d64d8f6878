"""Spans recorded from outside the engine, around calls into its layers.

A :class:`Tracer` replaces public functions and methods of the engine's
modules with thin wrappers that record a span per call: name, start,
end, parent span and request id.  Spans live in memory; ``spans()``
hands them over when the run ends.  Nothing here edits the engine's
source — wrapping is done on the loaded module objects and undone by
:meth:`Tracer.uninstall`.

Generator functions (the streamed result writers) get one span whose
busy time is the sum of the time spent inside ``next()``: a writer is
suspended while the HTTP layer sends each chunk, and that send time
belongs to the server, not the writer.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import sys
import threading
import time


class Span:
    __slots__ = ("sid", "name", "parent", "rid", "start", "end", "busy", "intervals", "info")

    def __init__(self, sid, name, parent, rid, start):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.rid = rid
        self.start = start
        self.end = start
        #: list of (t0, t1) while the call was running; one entry for a
        #: plain call, one per ``next()`` for a generator
        self.intervals = []
        self.busy = 0.0
        self.info = {}

    def as_dict(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "parent": self.parent,
            "rid": self.rid,
            "start": self.start,
            "end": self.end,
            "busy": self.busy,
            "intervals": self.intervals,
            **self.info,
        }


def _union_len(intervals) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Span recorder.  ``enabled`` off makes every wrapper a pass-through."""

    def __init__(self):
        self.enabled = False
        self._spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def begin(self, name: str, rid=None) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        if rid is None and parent is not None:
            rid = parent.rid
        sp = Span(next(self._ids), name, parent.sid if parent else None, rid, time.perf_counter())
        st.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        sp.intervals.append((sp.start, sp.end))
        sp.busy = sp.end - sp.start
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        last = getattr(self._local, "last", None)
        if last is None:
            last = self._local.last = {}
        last[sp.name] = sp
        with self._lock:
            self._spans.append(sp)

    def last_finished(self, name: str) -> Span | None:
        """The span named ``name`` this thread finished most recently."""
        return (getattr(self._local, "last", None) or {}).get(name)

    def spans(self) -> list[Span]:
        with self._lock:
            return list(self._spans)

    # --------------------------------------------------------- wrapping
    def wrap(self, fn, name: str):
        tracer = self
        if inspect.isgeneratorfunction(fn):

            @functools.wraps(fn)
            def gen_wrapper(*args, **kwargs):
                if not tracer.enabled:
                    yield from fn(*args, **kwargs)
                    return
                parent = tracer.current()
                sp = Span(
                    next(tracer._ids), name,
                    parent.sid if parent else None,
                    parent.rid if parent else None,
                    time.perf_counter(),
                )
                sp.info["chunks"] = 0
                it = fn(*args, **kwargs)
                try:
                    while True:
                        t0 = time.perf_counter()
                        tracer._stack().append(sp)
                        try:
                            chunk = next(it)
                        except StopIteration:
                            return
                        finally:
                            t1 = time.perf_counter()
                            st = tracer._stack()
                            if st and st[-1] is sp:
                                st.pop()
                            sp.intervals.append((t0, t1))
                            sp.busy += t1 - t0
                            sp.end = t1
                        sp.info["chunks"] += 1
                        yield chunk
                finally:
                    it.close()
                    with tracer._lock:
                        tracer._spans.append(sp)

            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sp = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.finish(sp)

        return wrapper

    def patch_function(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` and every other loaded module's binding
        of the same function object (``from x import f`` copies the
        reference, so patching only the defining module misses those
        callers)."""
        orig = getattr(module, attr)
        wrapped = self.wrap(orig, name)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not mname.startswith("database_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, wrapped)
                    self._undo.append((mod, k, orig))

    def patch_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self.wrap(orig, name))
        self._undo.append((cls, attr, orig))

    def uninstall(self) -> None:
        for obj, k, orig in reversed(self._undo):
            setattr(obj, k, orig)
        self._undo = []


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → duration minus the part of it its child spans cover."""
    children: dict[int, list] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).extend(sp.intervals)
    out = {}
    for sp in spans:
        covered = _union_len(
            [
                (max(s, sp.start), min(e, sp.end))
                for s, e in children.get(sp.sid, [])
                if e > sp.start and s < sp.end
            ]
        )
        out[sp.sid] = max(0.0, (sp.end - sp.start) - covered)
    return out


def wrapper_cost(n: int = 20000) -> float:
    """Seconds one enabled span adds to a call, measured on a no-op."""

    def noop():
        return None

    t = Tracer()
    w = t.wrap(noop, "noop")
    t.enabled = True
    t0 = time.perf_counter()
    for _ in range(n):
        w()
    traced = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    plain = time.perf_counter() - t0
    return max(0.0, (traced - plain) / n)
