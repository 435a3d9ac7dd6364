"""Spans around the benchmark's calls into each engine layer, with
Spark's own job and stage metrics attributed to them.

A span has a name, start, end, parent and the trace id of the op it
belongs to. While a span is open its id is the SparkContext job group,
so every job the call submits from the benchmark's thread carries it.
Jobs submitted from other threads (a streaming query's micro-batch
runs on the stream's own thread) carry no group; they go to the
innermost span open at their submission time. At the end the driver's
status REST API on localhost gives per-job and per-stage metrics; the
engine package is never touched.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime, timezone


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    trace: str
    start: float
    end: float = 0.0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """In-memory span recorder. Disabled, ``span`` is a bare yield and
    touches nothing, so the untraced run pays no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()  # never reused, even after spans.clear()
        self.sc = None  # set once a SparkContext exists

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"span-{next(self._ids)}",
            name=name,
            parent=parent.id if parent else None,
            trace=trace or (parent.trace if parent else name),
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.id, s.name)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


# ------------------------------------------------------- Spark REST --


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def fetch_spark_metrics(ui_url: str) -> tuple[str, list[dict], dict]:
    """All jobs and stages of the (single) application behind ``ui_url``.
    Returns (the application's API url, jobs, stageId -> its non-skipped
    attempts)."""
    api = f"{ui_url}/api/v1/applications"
    api = f"{api}/{_get(api)[0]['id']}"
    jobs = _get(f"{api}/jobs")
    stages: dict[int, list[dict]] = {}
    for s in _get(f"{api}/stages"):
        if s.get("status") != "SKIPPED":
            stages.setdefault(s["stageId"], []).append(s)
    for j in jobs:
        j["_t"] = _epoch(j.get("submissionTime"))
    return api, jobs, stages


def task_skew(api: str, stage: dict) -> float:
    """max ÷ median task run time of one stage (1.0 for a single task)."""
    q = _get(
        f"{api}/stages/{stage['stageId']}/{stage['attemptId']}"
        "/taskSummary?quantiles=0.5,1.0"
    )
    med, mx = q["executorRunTime"]
    return mx / med if med > 0 else 1.0


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> dict[str, list[dict]]:
    """span id -> jobs it submitted (by job group, else by time)."""
    by_id = {s.id: s for s in spans}
    out: dict[str, list[dict]] = {}
    for j in jobs:
        sid = j.get("jobGroup")
        if sid not in by_id:
            sid = innermost_at(spans, j["_t"]) if j["_t"] is not None else None
        if sid is not None:
            out.setdefault(sid, []).append(j)
    return out


def innermost_at(spans: list[Span], t: float) -> str | None:
    """Id of the latest-started span open at time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best.id if best else None


def descendants(spans: list[Span], root: str) -> set[str]:
    ids, grew = {root}, True
    while grew:
        grew = False
        for s in spans:
            if s.parent in ids and s.id not in ids:
                ids.add(s.id)
                grew = True
    return ids
