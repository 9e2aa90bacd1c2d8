"""In-memory span tracer that measures the engine from outside.

A span records name, start, end, its parent span and a trace id (the id of
the root span of its tree). Spans are kept in memory and written out as JSON
lines when the run ends. ``wrap`` patches a public function or method so
each call becomes a span; Spark is lazy, so a span is placed on the call that
triggers the job (``collect``, ``write``, ``toArrow``), not on the call that
builds the plan.

Parents are tracked per thread. A generator (a streamed response) is traced
from its first ``next`` to exhaustion as a leaf span, because a generator's
frames interleave with whatever consumes it.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.job_counter = None  # () -> Spark jobs started so far

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, attrs: dict, parent: dict | None) -> dict:
        sid = next(self._ids)
        rec = {
            "name": name,
            "id": sid,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        if self.job_counter is not None:
            rec["_jobs0"] = self.job_counter()
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        if "_jobs0" in rec:
            rec["attrs"]["jobs"] = self.job_counter() - rec.pop("_jobs0")
        with self._lock:
            self.spans.append(rec)

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block; yields its record (or None when
        tracing is off) so callers can add attributes."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        rec = self._open(name, attrs, st[-1] if st else None)
        st.append(rec)
        try:
            yield rec
        finally:
            st.pop()
            self._close(rec)

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` with a traced version. ``attrs_of(args,
        kwargs)`` may return span attributes taken from the call."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def wrap_generator(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Like ``wrap`` for a generator function: the span runs from the
        first ``next`` to exhaustion and is a leaf under the caller's span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            gen = fn(*args, **kwargs)
            if not tracer.enabled:
                return gen
            st = tracer._stack()
            parent = st[-1] if st else None
            attrs = attrs_of(args, kwargs) if attrs_of else {}

            def run():
                rec = tracer._open(name, attrs, parent)
                try:
                    yield from gen
                finally:
                    tracer._close(rec)

            return run()

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the union of its children's
    intervals clipped to it (children may overlap each other when they ran
    on other threads, so they are merged, not summed)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(children.get(s["id"], [])):
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
        out[s["id"]] = (hi - lo) - covered
    return out


def durations(spans: list[dict], name: str) -> list[float]:
    return [s["end"] - s["start"] for s in spans if s["name"] == name]
