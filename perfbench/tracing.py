"""Spans around the engine's public calls, recorded from the benchmark side.

A ``Tracer`` wraps methods of the engine's classes for the length of a
traced run (``install``/``uninstall``); the engine itself is not edited.
Each wrapped call becomes a span (name, start, end, parent, trace id,
phase, attributes) and runs under its own Spark job group, so the event log
attributes every job to the innermost span that launched it. Spans stay in
memory and are written out once, when the run ends.

With tracing off the benchmark uses ``NullTracer``, whose ``span`` is a
bare context manager: no wrapping, no job groups, no event log.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

from stats import union_length


class NullTracer:
    enabled = False
    phase = None

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = True, **attrs):
        yield None

    def set_phase(self, phase: str) -> None:
        self.phase = phase

    def set_trace(self, trace_id: str | None) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.phase = "setup"
        self.trace_id: str | None = None

    # ------------------------------------------------------------- state
    def set_phase(self, phase: str) -> None:
        self.phase = phase

    def set_trace(self, trace_id: str | None) -> None:
        self.trace_id = trace_id

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", group)

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = True, **attrs):
        """Record a span. With ``job_group`` it also gets its own Spark job
        group; calls that launch no jobs skip that (two JVM round trips) and
        leave any job to the enclosing span's group."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        inherited = parent["group"] if parent else None
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "trace": self.trace_id, "phase": self.phase,
               "group": f"perfbench-{sid}" if job_group else inherited,
               "attrs": attrs, "start": time.time(), "end": None}
        stack.append(rec)
        if job_group:
            self._set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if job_group:
                self._set_group(inherited)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, attrs_fn=None,
             job_group: bool = True) -> None:
        """Replace ``owner.attr`` with a spanned version until uninstall.
        ``attrs_fn(args, kwargs)`` adds attributes to the span."""
        original = owner.__dict__[attr]
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            extra = attrs_fn(args, kwargs) if attrs_fn is not None else {}
            with tracer.span(name, job_group=job_group, **extra) as rec:
                out = original(*args, **kwargs)
                rec["result"] = out
                return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # ------------------------------------------------------------ output
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda r: r["id"]):
                out = {k: v for k, v in s.items() if k != "result"}
                f.write(json.dumps(out, default=str) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover (children may overlap each other)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [(max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def descendants(spans: list[dict]) -> dict[int, set[int]]:
    """Span id -> ids of itself and every span nested under it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out: dict[int, set[int]] = {}

    def walk(i: int) -> set[int]:
        if i not in out:
            acc = {i}
            for k in kids.get(i, []):
                acc |= walk(k)
            out[i] = acc
        return out[i]

    for s in spans:
        walk(s["id"])
    return out
