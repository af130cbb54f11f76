"""Span recording around the package's public entry points.

Wrappers are installed only in a traced run (``--trace 1``). Each call
records a span (name, start, end, parent, statement id, thread) in
memory; the list is written as JSON lines when the run ends. Self time
is a span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self._local = threading.local()  # per-thread span stack and statement id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.per_call_s = 0.0  # calibrated wrapper cost, see calibrate()

    # -- span API ---------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def set_statement(self, stmt_id) -> None:
        self._local.stmt = stmt_id

    def begin(self, name: str) -> dict:
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "stmt": getattr(self._local, "stmt", None),
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        stack.append(span["id"])
        return span

    def end(self, span: dict, **extra) -> None:
        span["end"] = time.perf_counter()
        span.update(extra)
        stack = self._stack()
        if stack and stack[-1] == span["id"]:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    @contextlib.contextmanager
    def paused(self):
        """Wrapped calls made by the benchmark itself on this thread
        record no spans."""
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = False

    # -- wrappers ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_result=None, statement=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``owner``
        is a class or module; ``on_result(result, args)`` may add fields
        to the span; ``statement(args)`` starts a new statement id on the
        calling thread."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if getattr(tracer._local, "paused", False):
                return original(*args, **kwargs)
            if statement is not None:
                tracer.set_statement(statement(args))
            s = tracer.begin(name)
            try:
                result = original(*args, **kwargs)
            except BaseException:
                tracer.end(s, error=True)
                raise
            extra = on_result(result, args) if on_result else {}
            tracer.end(s, **extra)
            return result

        self._undo.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def calibrate(self, n: int = 20000) -> float:
        """Per-call cost of a wrapper, measured on a no-op function."""

        class _Probe:
            @staticmethod
            def noop():
                return None

        t0 = time.perf_counter()
        for _ in range(n):
            _Probe.noop()
        bare = time.perf_counter() - t0
        self.wrap(_Probe, "noop", "calibrate")
        t0 = time.perf_counter()
        for _ in range(n):
            _Probe.noop()
        wrapped = time.perf_counter() - t0
        self.unwrap_all()
        with self._lock:
            self.spans = [s for s in self.spans if s["name"] != "calibrate"]
        self.per_call_s = max(0.0, (wrapped - bare) / n)
        return self.per_call_s

    # -- analysis ---------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id → duration minus the union of its children's intervals."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], cursor), min(c["end"], s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["id"]] = max(0.0, s["end"] - s["start"] - covered)
        return out

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_ms(self, name: str, where=None) -> list[float]:
        """Self times of the spans called ``name`` (that ``where`` accepts)."""
        st = self.self_times()
        return [st[s["id"]] * 1000 for s in self.by_name(name) if where is None or where(s)]

    def durations_ms(self, name: str, where=None) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.by_name(name)
                if where is None or where(s)]

    def overhead_s(self) -> float:
        return len(self.spans) * self.per_call_s

    def write(self, path: str, t0: float) -> None:
        st = self.self_times()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                row = dict(s)
                row["start"] = round(s["start"] - t0, 6)
                row["end"] = round(s["end"] - t0, 6)
                row["self"] = round(st[s["id"]], 6)
                fh.write(json.dumps(row, default=str) + "\n")

