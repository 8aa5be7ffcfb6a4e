"""Spans recorded from outside the program.

``Tracer.wrap`` replaces a module or class attribute with a timing wrapper,
so a span covers one call into the engine's public surface.  Spans keep
an optional tag set by the caller and stay in memory until ``dump``.  Single-threaded use only:
the Spark driver and the replay both call the engine from one thread.
"""

from __future__ import annotations

import functools
import json
import statistics
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []   # [name, start, end, tag]
        self.tag = ""
        self._patches: list[tuple] = []

    def wrap(self, owner, attr: str, name: str):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = [name, time.perf_counter(), None, tracer.tag]
            tracer.spans.append(span)
            try:
                return orig(*args, **kwargs)
            finally:
                span[2] = time.perf_counter()

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def durations(self, name: str, tag: str | None = None) -> list[float]:
        return [
            e - s for n, s, e, t in self.spans
            if n == name and e is not None and (tag is None or t == tag)
        ]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def p50(self, name: str, tag: str | None = None) -> float:
        d = self.durations(name, tag)
        return statistics.median(d) if d else 0.0

    def span_cost_s(self, n: int = 20000) -> float:
        """Seconds one span adds to a call: a wrapped no-op against a bare
        one, both timed here."""

        class _Probe:
            @staticmethod
            def op():
                return None

        bare = _Probe.op
        t0 = time.perf_counter()
        for _ in range(n):
            bare()
        t_bare = time.perf_counter() - t0
        probe = Tracer()
        probe.wrap(_Probe, "op", "probe")
        t0 = time.perf_counter()
        for _ in range(n):
            _Probe.op()
        t_wrapped = time.perf_counter() - t0
        probe.restore()
        return max(0.0, (t_wrapped - t_bare) / n)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
