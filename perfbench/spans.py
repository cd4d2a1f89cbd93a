"""Spans for the traced run, plus Spark stage metrics per span.

Spans are recorded by wrappers that the benchmark installs around the
layers' public functions (nothing inside the program changes).  Each span
sets a Spark job group, so the UI REST API can attribute every job, stage
and task to the span that submitted it.  Spans stay in memory and are
written as JSON when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    tail: bool = False

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else time.time()) - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover
    (overlapping children are counted once)."""
    lo, hi = span.start, span.start + span.dur
    ivs = sorted((max(c.start, lo), min(c.start + c.dur, hi))
                 for c in children)
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.dur - covered


class Tracer:
    """Nested spans on one thread.

    A ``tail`` span stays open after its function returns, until its parent
    ends or a sibling begins: it covers work the function starts and its
    caller finishes, such as a lazily returned DataFrame the caller
    writes."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        #: driver time spent opening and closing spans (job group calls)
        self.cost_s = 0.0

    def group_id(self, span: Span | None) -> str | None:
        return None if span is None else f"pb-{self.run_id}-{span.id}"

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gid = self.group_id(span)
        if gid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(gid, span.name)

    def begin(self, name: str, *, tail: bool = False, **attrs) -> Span:
        # a new span ends an open tail sibling: its caller has moved on
        while self._stack and self._stack[-1].tail:
            self.end(self._stack[-1])
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.time(),
                  None if parent is None else parent.id, self.run_id,
                  attrs=attrs, tail=tail)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        self.cost_s += time.perf_counter() - t
        return sp

    def end(self, span: Span) -> None:
        t = time.perf_counter()
        while self._stack:
            top = self._stack.pop()
            top.end = time.time()
            if top is span:
                break
        self._set_group(self._stack[-1] if self._stack else None)
        self.cost_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, **attrs):
        sp = self.begin(name, **attrs)
        try:
            yield sp
        finally:
            self.end(sp)

    def wrap(self, owner, attr: str, name: str, *, tail: bool = False):
        """Replace ``owner.attr`` with a wrapper that runs it in span
        ``name``; returns a function that restores the original."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tail:
                self.begin(name, tail=True)
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        return lambda: setattr(owner, attr, orig)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            cur = todo.pop()
            kids = self.children(cur)
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + self_time(s, self.children(s))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# --------------------------------------------------------------------------
# Spark UI REST metrics (same API as tools/scale_proof.py::_shuffle_metrics)
# --------------------------------------------------------------------------

class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until the UI store holds every finished job: the listener
        bus is asynchronous, so the last jobs may still be in flight."""
        deadline = time.time() + timeout
        seen = -1
        while time.time() < deadline:
            jobs = self.get("jobs")
            if (len(jobs) == seen
                    and all(j["status"] != "RUNNING" for j in jobs)):
                return
            seen = len(jobs)
            time.sleep(0.5)

    def jobs_by_group(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for j in self.get("jobs"):
            out.setdefault(j.get("jobGroup"), []).append(j)
        return out

    def stages(self) -> dict[int, dict]:
        """Completed stage attempts by stage id (last attempt wins)."""
        return {s["stageId"]: s for s in self.get("stages?status=complete")}

    def tasks(self, stage: dict) -> list[dict]:
        return self.get(f"stages/{stage['stageId']}/{stage['attemptId']}"
                        f"/taskList?length=100000")


def group_stage_metrics(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Sum the stage metrics of ``jobs`` (a span's job group)."""
    sids = {sid for j in jobs for sid in j.get("stageIds", [])}
    st = [stages[s] for s in sorted(sids) if s in stages]
    mb = 2 ** 20
    return {
        "jobs": len(jobs),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in st),
        "busy_s": sum(s.get("executorRunTime", 0) for s in st) / 1e3,
        "shuffle_mb": sum(s.get("shuffleWriteBytes", 0) for s in st) / mb,
        "spill_mb": sum(s.get("memoryBytesSpilled", 0)
                        + s.get("diskBytesSpilled", 0) for s in st) / mb,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1e3,
        "stage_list": st,
    }


def job_submitted(job: dict) -> float:
    """Epoch seconds of a REST job's ``submissionTime``."""
    from datetime import datetime, timezone

    ts = job["submissionTime"].replace("GMT", "")
    return (datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f")
            .replace(tzinfo=timezone.utc).timestamp())
