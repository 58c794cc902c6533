"""Spans for the traced run: wall time, self time, Spark jobs, and the
Spark event-log counters of the jobs each span started.

A span is either a timed block (``Tracer.span``: an app run, a query's
build or action) or a *step*: a call into a layer's public function,
patched in by ``Tracer.wrap`` while the workload runs the real app. A
step stays open after the call returns, until the next step in the
same enclosing span or the end of that span, so the actions the app
runs on the returned DataFrame are inside the step of the layer that
built it. Calls a step makes into other wrapped functions are its
child steps. Self time is a span's time minus the union of its
children's intervals.

The innermost open span on the tracing thread owns the Spark job
group, so each span's job count comes from
``statusTracker().getJobIdsForGroup``. Jobs that carry no span group
(those a streaming query starts on its own thread) are attributed by
submission time to the innermost span that contains it.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        # one frame per open span: [span id, id of its open step or None]
        self._frames: list[list] = []
        self.last: dict[str, object] = {}  # "layer:name" -> last step's result
        self.overhead_s = 0.0  # time spent in the tracer's own Spark calls
        self._lock = threading.Lock()
        self._thread = threading.get_ident()

    def _new(self, layer: str, name: str, parent: int | None) -> dict:
        with self._lock:
            rec = {"id": len(self.spans), "layer": layer, "name": name,
                   "parent": parent, "group": None, "jobs": 0}
            self.spans.append(rec)
        return rec

    def current(self) -> int | None:
        """Id of the innermost open span on the tracing thread."""
        if not self._frames:
            return None
        sid, step = self._frames[-1]
        return sid if step is None else step

    def _set_group(self) -> None:
        if self.sc is None:
            return
        t0 = time.perf_counter()
        sid = self.current()
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            s = self.spans[sid]
            self.sc.setJobGroup(s["group"], f"{s['layer']}:{s['name']}")
        self.overhead_s += time.perf_counter() - t0

    def _open(self, layer: str, name: str) -> dict:
        rec = self._new(layer, name, self.current())
        if self.sc is not None:
            rec["group"] = f"perfbench-{rec['id']}"
        rec["wall0"] = time.time()
        rec["t0"] = time.perf_counter()
        return rec

    def _close(self, sid: int) -> None:
        rec = self.spans[sid]
        rec["t1"] = time.perf_counter()
        rec["wall1"] = time.time()
        if self.sc is not None:
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
            self.overhead_s += time.perf_counter() - rec["t1"]

    def _end_step(self) -> None:
        """Close the open step of the innermost frame, if any."""
        frame = self._frames[-1]
        if frame[1] is not None:
            self._close(frame[1])
            frame[1] = None

    @contextmanager
    def span(self, layer: str, name: str):
        """Time the body as one span under the innermost open span."""
        rec = self._open(layer, name)
        self._frames.append([rec["id"], None])
        self._set_group()
        try:
            yield rec
        finally:
            self._end_step()
            self._frames.pop()
            self._close(rec["id"])
            self._set_group()

    def step(self, layer: str, name: str, fn, *a, **kw):
        """Call ``fn`` as a step of the innermost frame (see module doc)."""
        self._end_step()
        rec = self._open(layer, name)
        rec["step"] = True
        self._frames[-1][1] = rec["id"]
        self._frames.append([rec["id"], None])
        self._set_group()
        try:
            out = self.last[f"{layer}:{name}"] = fn(*a, **kw)
            return out
        finally:
            self._end_step()
            self._frames.pop()
            self._set_group()

    @contextmanager
    def wrap(self, targets):
        """Patch ``(module, attribute, layer, step name)`` targets so a
        call from the tracing thread inside an open span is a step.
        Apps import their operators inside ``run``, so patching the
        defining module is enough."""
        saved = []
        for mod, attr, layer, name in targets:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))

            @functools.wraps(orig)
            def call(*a, _orig=orig, _layer=layer, _name=name, **kw):
                if threading.get_ident() != self._thread or not self._frames:
                    return _orig(*a, **kw)
                return self.step(_layer, _name, _orig, *a, **kw)

            setattr(mod, attr, call)
        try:
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def add(self, layer: str, name: str, t0: float, t1: float,
            parent: int | None) -> dict:
        """Record a span timed elsewhere (e.g. on a callback thread);
        ``t0``/``t1`` are ``time.perf_counter()`` readings."""
        rec = self._new(layer, name, parent)
        off = time.time() - time.perf_counter()
        rec.update(t0=t0, t1=t1, wall0=t0 + off, wall1=t1 + off)
        return rec


def duration(s: dict) -> float:
    return s["t1"] - s["t0"]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → span time minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            p = spans[s["parent"]]
            kids[p["id"]].append((max(s["t0"], p["t0"]), min(s["t1"], p["t1"])))
    return {s["id"]: duration(s) - _union(kids[s["id"]]) for s in spans}


# --- Spark event log -----------------------------------------------------------

COUNTERS = ("tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")


def event_log_file(log_dir: str) -> str | None:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")] if os.path.isdir(log_dir) else []
    return max(files, key=os.path.getmtime) if files else None


def span_counters(path: str, spans: list[dict]) -> dict[int, dict[str, float]]:
    """Span id → summed task counters of the jobs the span started."""
    by_group = {s["group"]: s["id"] for s in spans if s.get("group")}
    stage_span: dict[int, int] = {}
    out: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                sid = by_group.get(group)
                if sid is None:
                    sid = _innermost(spans, ev.get("Submission Time", 0) / 1000.0)
                if sid is not None:
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if sid is None or not m:
                    continue
                c = out[sid]
                c["tasks"] += 1
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) \
                    + m.get("Disk Bytes Spilled", 0)
    return dict(out)


def _innermost(spans: list[dict], wall: float) -> int | None:
    best = None
    for s in spans:
        if s.get("wall0", 0) <= wall <= s.get("wall1", 0):
            if best is None or s["wall0"] >= spans[best]["wall0"]:
                best = s["id"]
    return best
