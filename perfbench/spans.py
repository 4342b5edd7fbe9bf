"""Spans around the program's public functions, recorded from outside it.

``Tracer.wrap(module, attr, label)`` replaces ``module.attr`` with a
wrapper that records one span per call: label, start, end, parent span
and op id. Each span also sets the Spark job group to ``span-<id>``, so
a job in Spark's event log belongs to the innermost span that launched
it. ``Tracer.restore()`` puts every original function back.

The program looks these functions up as module attributes at call time
(``approach.analyze`` from the CLI, ``sinks.upsert`` from
``commit_analysis``, ...), so wrapping the attribute is enough and no
program source changes.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, label: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": label,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", label)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"span-{top}", self.spans[top]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, label: str) -> None:
        orig = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(label):
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover
        (children of one span never overlap: calls are sequential)."""
        covered = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - covered[s["id"]] for s in self.spans}

    def op_roots(self) -> dict[int, dict]:
        """The outermost span of every measured op."""
        return {s["op"]: s for s in self.spans
                if s["parent"] is None and s["op"] is not None}

    def per_op_self(self) -> dict[int, dict[str, float]]:
        """op id -> {span label: summed self time}; per op the values
        add up to the op's wall time."""
        selfs = self.self_times()
        out: dict[int, dict[str, float]] = {}
        for s in self.spans:
            if s["op"] is None:
                continue
            d = out.setdefault(s["op"], {})
            d[s["name"]] = d.get(s["name"], 0.0) + selfs[s["id"]]
        return out

    def op_span_s(self, op: int, label: str) -> float:
        """Summed whole-call time of the spans ``label`` in op ``op``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["op"] == op and s["name"] == label)

    def dump(self, path: str, counters: dict) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")
            f.write(json.dumps({"counters": counters}) + "\n")
