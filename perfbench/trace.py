"""Outside-in tracing: spans recorded by the benchmark around calls into
the program's public functions.

A span is (name, start, end, parent, request id).  Spans stay in memory
and are written out once, when the run ends.  A layer's self time is
its duration minus the part of it covered by its child spans.  The
untraced run uses :class:`NullTracer`, which records nothing, so its
timings carry no tracing cost.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        yield


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {
            "id": None,
            "name": name,
            "rid": rid if rid is not None else (parent and parent["rid"]),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` (an instance's bound method or a
        module function) by a version that records a span per call;
        calls the program makes internally then show up as child
        spans of the benchmark's outer span."""
        inner = getattr(obj, attr)

        @functools.wraps(inner)
        def traced(*a, **kw):
            with self.span(name):
                return inner(*a, **kw)

        setattr(obj, attr, traced)

    def in_request(self) -> bool:
        """True inside a span that belongs to a timed request."""
        stack = self._stack()
        return bool(stack) and stack[-1]["rid"] is not None

    def count(self, name: str, value: float = 1.0) -> None:
        """Add to a counter; calls outside any timed request (set-up,
        checks) are not counted."""
        if not self.in_request():
            return
        with self._lock:
            self.counters[name] = self.counters.get(name, 0.0) + value

    # -- reading the trace ---------------------------------------------
    def self_times(self) -> dict[int, float]:
        """span id -> self seconds (duration minus the union of its
        children's intervals, children clipped to the parent)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in kids.get(s["id"], [])
                if c["end"] is not None
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in ivs:
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def durations(self, name: str) -> list[float]:
        """Durations of the ``name`` spans that belong to a timed
        request (a request id is set); spans recorded during set-up or
        the checks carry none and are left out."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["rid"] is not None
            and s["end"] is not None
        ]

    def median(self, name: str, scale: float = 1.0) -> float:
        d = self.durations(name)
        return statistics.median(d) * scale if d else 0.0

    def coverage(self, root: str) -> float:
        """Median share of each ``root`` span's duration that its
        direct child spans cover: 1.0 means the layer spans account
        for the whole request."""
        st = self.self_times()
        shares = [
            1.0 - st[s["id"]] / (s["end"] - s["start"])
            for s in self.spans
            if s["name"] == root and s["end"] and s["end"] > s["start"]
        ]
        return statistics.median(shares) if shares else 0.0

    def dump(self, path: str) -> None:
        st = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {
                "id": s["id"],
                "name": s["name"],
                "rid": s["rid"],
                "parent": s["parent"],
                "start_ms": round((s["start"] - t0) * 1e3, 4),
                "end_ms": round((s["end"] - t0) * 1e3, 4)
                if s["end"] is not None else None,
                "self_ms": round(st.get(s["id"], 0.0) * 1e3, 4),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "counters": self.counters}, f)


class JobCounter:
    """Spark jobs, stages and tasks launched inside a block, read from
    the status tracker under a job group named for the block."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        res = {"jobs": 0, "stages": 0, "tasks": 0}
        try:
            yield res
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            tr = self.sc.statusTracker()
            for jid in tr.getJobIdsForGroup(gid):
                info = tr.getJobInfo(jid)
                res["jobs"] += 1
                if info is None:
                    continue
                for sid in info.stageIds:
                    st = tr.getStageInfo(sid)
                    res["stages"] += 1
                    if st is not None:
                        res["tasks"] += st.numTasks
