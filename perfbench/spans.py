"""Spans recorded from outside the package, for the traced benchmark run.

``Tracer.wrap`` swaps a public method of a package class for a wrapper that
records one span per call (name, start, end, the span that caused it) and
``Tracer.restore`` puts the original back. Spans stay in memory; the
harness writes them out once the run ends. Self time of a span is its
duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager


def spark_jobs(spark) -> int:
    """Jobs submitted so far by this SparkContext, from every thread."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[type, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1] if stack else None, "t0": time.perf_counter()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.perf_counter()

    def wrap(self, owner: type, attr: str, name: str) -> None:
        """Record every call of ``owner.attr``; the span keeps the call's
        receiver and its return value for the harness to read counts from."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(receiver, *args, **kwargs):
            with self.span(name) as rec:
                rec["self"] = receiver
                rec["result"] = orig(receiver, *args, **kwargs)
                return rec["result"]

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------------
    def calls(self, name: str, intervals) -> list[dict]:
        """Closed ``name`` spans that start inside one of ``intervals``."""
        return [
            s for s in self.spans
            if s["name"] == name and "t1" in s and any(a <= s["t0"] < b for a, b in intervals)
        ]

    def total(self, name: str, intervals) -> float:
        """Seconds of ``name`` spans that fall inside ``intervals``."""
        return sum(
            b - a for s in self.spans if s["name"] == name for a, b in _overlap(s, intervals)
        )

    def self_time(self, name: str, intervals) -> float:
        """Seconds of ``name`` spans inside ``intervals`` that none of their
        direct children cover."""
        out = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            own = _overlap(s, intervals)
            kids = [seg for c in self.spans if c["parent"] == s["id"] for seg in _overlap(c, intervals)]
            out += sum(b - a for a, b in own) - _union(kids)
        return out

    def dump(self) -> list[dict]:
        return [
            {k: s.get(k) for k in ("id", "parent", "name", "t0", "t1")}
            for s in self.spans
        ]


def _overlap(s: dict, intervals) -> list[tuple[float, float]]:
    if "t1" not in s:
        return []
    return [
        (max(s["t0"], a), min(s["t1"], b)) for a, b in intervals if s["t0"] < b and s["t1"] > a
    ]


def _union(segments) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(segments):
        if b > end:
            total += b - max(a, end)
            end = b
    return total
