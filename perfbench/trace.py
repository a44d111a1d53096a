"""Span recording for the traced run (``--trace 1``).

Spans are opened at the benchmark's own boundaries — workload → pass →
query → {construct, action, release}, file → batch → upsert, read →
{plan, collect} — and around public engine functions the benchmark
wraps through their module attributes. Nothing is added inside the
program. Spans stay in memory and are written once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Record ``name`` around the block. ``op`` ties together the
        spans of one operation; children inherit their parent's."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: int | None = None, op=None, **attrs) -> int:
        """Record a span whose times were observed elsewhere."""
        sid = next(self._ids)
        if self.enabled:
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "parent": parent, "op": op, "start": start, "end": end, **attrs}
                )
        return sid

    def wrap(self, module, attr: str, name: str, sink: list | None = None) -> None:
        """Replace ``module.attr`` with a timed, span-recording wrapper;
        every other engine module that imported the same function by
        name is re-pointed too. ``sink`` collects (start, end) pairs."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                with self.span(name):
                    return orig(*a, **kw)
            finally:
                if sink is not None:
                    sink.append(time.perf_counter() - t0)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("unimib_simpss_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, timed)

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: each span's duration minus
        the time its direct children cover (clipped to the parent)."""
        by_id = {s["id"]: s for s in self.spans}
        covered: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            p = by_id.get(s["parent"])
            if p is not None:
                covered.setdefault(p["id"], []).append(
                    (max(s["start"], p["start"]), min(s["end"], p["end"]))
                )
        out: dict[str, float] = {}
        for s in self.spans:
            child = _union_len(covered.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, s["end"] - s["start"] - child)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
