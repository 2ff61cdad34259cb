"""Span recording and measurement helpers for the traced benchmark run.

The untraced run uses :data:`NULL_TRACER`, which records nothing. The traced
run wraps public functions of the program's modules from the outside
(:meth:`Tracer.wrap`), swaps the plan modules' session-memo dicts for
counting ones (:meth:`Tracer.replace`), and puts everything back with
:meth:`Tracer.restore`. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from dataclasses import dataclass


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0..100) with linear interpolation between
    closest ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    iteration: int | None


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (children clipped to the parent, overlaps merged)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children[i], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


class NullTracer:
    """Records nothing; the untraced run's tracer."""

    enabled = False
    iteration: int | None = None

    def span(self, name: str) -> contextlib.AbstractContextManager:
        return contextlib.nullcontext()


NULL_TRACER = NullTracer()


class Tracer(NullTracer):
    """In-memory spans and per-iteration counters, plus the patches that
    feed them."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[int | None, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self.iteration: int | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.iteration))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, value: float) -> None:
        self.counters[self.iteration][name] += value

    def peak(self, name: str, value: float) -> None:
        counters = self.counters[self.iteration]
        counters[name] = max(counters[name], value)

    def replace(self, owner: object, attr: str, value: object) -> None:
        """Set ``owner.attr`` to ``value`` until :meth:`restore`."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap(
        self,
        owner: object,
        attr: str,
        name: str,
        on_call: Callable[[tuple, dict, object], None] | None = None,
    ) -> None:
        """Record a span ``name`` around every call of ``owner.attr``;
        ``on_call(args, kwargs, result)`` sees each call's result."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, result)
            return result

        self.replace(owner, attr, traced)

    def restore(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def iteration_spans(self, iteration: int) -> list[tuple[Span, float]]:
        """(span, self time) for every span recorded in ``iteration``."""
        return [
            (s, st)
            for s, st in zip(self.spans, self_times(self.spans))
            if s.iteration == iteration
        ]


class CountingDict(dict):
    """A session-memo dict that counts lookups and builds for a tracer.

    The plan modules look an artifact up with ``cache.get(key)`` and, on a
    miss, build it and store it with ``cache[key] = value``; the time from
    the miss to the store is the build time."""

    def __init__(self, data: dict, tracer: Tracer) -> None:
        super().__init__(data)
        self._tracer = tracer
        self._missed_at: dict = {}

    def get(self, key, default=None):
        value = super().get(key, default)
        if value is None:
            self._missed_at[key] = time.perf_counter()
        else:
            self._tracer.add("memo.hits", 1)
        return value

    def __setitem__(self, key, value) -> None:
        super().__setitem__(key, value)
        self._tracer.add("memo.builds", 1)
        start = self._missed_at.pop(key, None)
        if start is not None:
            self._tracer.add("memo.build_s", time.perf_counter() - start)


def event_log_totals(event_dir: str) -> dict[str | None, dict[str, float]]:
    """Shuffle and spill bytes per job group, from an uncompressed,
    non-rolling Spark event log."""
    stage_group: dict[int, str | None] = {}
    totals: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for fname in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = totals[stage_group.get(ev.get("Stage ID"))]
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["shuffle.read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    acc["spill.bytes"] += m.get("Disk Bytes Spilled", 0)
    return totals
