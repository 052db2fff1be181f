"""Spans recorded from the benchmark's own files.

A span is (name, layer, start, end, parent, trace id). The benchmark opens
one around every operation it runs; in the traced run, ``Shims`` also open
spans around the engine's public functions where their callers look them up
(module globals and class attributes), so the spans nest by layer without any
change to the engine. A function that no longer exists, or a counter hook
that no longer fits its result, is listed in ``Tracer.missing`` instead of
failing the run.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from perfbench.eventlog import union_seconds


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float  # epoch seconds, the clock of Spark's event log
    end: float
    parent: int | None
    trace: int
    thread: int


class Tracer:
    """Collects spans and counters while ``recording`` is set."""

    def __init__(self) -> None:
        self.recording = False
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.missing: list[str] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.recording:
            yield None
            return
        stack = self._stack()
        # a worker thread's first span hangs under the span that started
        # the pool, which is open on the main thread
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        span_id = next(self._ids)
        sp = Span(span_id, name, layer, time.time(), 0.0,
                  parent.span_id if parent else None,
                  parent.trace if parent else span_id, threading.get_ident())
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def paused(self):
        """Benchmark bookkeeping that must not count as engine time."""
        was = self.recording
        self.recording = False
        try:
            yield
        finally:
            self.recording = was

    def count(self, key: str, by: float = 1.0) -> None:
        with self._lock:
            self.counters[key] += by

    def sample(self, key: str, value: float) -> None:
        with self._lock:
            self.samples[key].append(value)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    out = {}
    for sp in spans:
        covered = union_seconds([
            (max(c.start, sp.start), min(c.end, sp.end)) for c in children.get(sp.span_id, [])
            if c.end > sp.start and c.start < sp.end
        ])
        out[sp.span_id] = (sp.end - sp.start) - covered
    return out


def outermost(spans: list[Span], pred) -> list[Span]:
    """Spans matching ``pred`` with no matching ancestor (no double count)."""
    by_id = {sp.span_id: sp for sp in spans}
    out = []
    for sp in spans:
        if not pred(sp):
            continue
        p = by_id.get(sp.parent) if sp.parent is not None else None
        while p is not None and not pred(p):
            p = by_id.get(p.parent) if p.parent is not None else None
        if p is None:
            out.append(sp)
    return out


class Shims:
    """Span wrappers around engine functions, installed and removed as a set."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._targets: list[tuple[object, str, str, str, object]] = []
        self._saved: list[tuple[object, str, object]] = []

    def add(self, owner, attr: str, layer: str, hook=None) -> None:
        """Wrap ``owner.attr``. ``hook(bound_args, result, original)`` runs
        after a recorded call, with recording paused."""
        label = f"{getattr(owner, '__name__', owner)}.{attr}"
        if not callable(getattr(owner, attr, None)):
            self.tracer.missing.append(label)
            return
        self._targets.append((owner, attr, label, layer, hook))

    def install(self) -> None:
        tracer = self.tracer
        for owner, attr, label, layer, hook in self._targets:
            orig = getattr(owner, attr)
            sig = inspect.signature(orig)

            def shim(*args, _orig=orig, _sig=sig, _label=label, _layer=layer, _hook=hook, **kwargs):
                recording = tracer.recording
                with tracer.span(_label, _layer):
                    out = _orig(*args, **kwargs)
                if recording and _hook is not None:
                    with tracer.paused():
                        try:
                            _hook(_sig.bind(*args, **kwargs).arguments, out, _orig)
                        except Exception as e:  # noqa: BLE001 - a counter that no longer fits
                            # the engine's signature or result is reported, not fatal
                            msg = f"{_label} counters: {type(e).__name__}: {e}"
                            if msg not in tracer.missing:
                                tracer.missing.append(msg)
                return out

            setattr(owner, attr, functools.wraps(orig)(shim))
            self._saved.append((owner, attr, orig))

    def remove(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)
