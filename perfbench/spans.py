"""Spans around the benchmark's calls into the engine, and the Spark work
attributed to them.

A span records its name, start, end, parent and op id. While a span is open
on a thread, that thread's Spark job group is the span id (job groups are
thread-local local properties in pinned-thread mode), so every job the call
fires can be traced back to it. After each op the jobs of all its spans are
read through ``statusTracker`` and the stages of those jobs through the local
UI REST API, before the UI's retention limit drops them.

With tracing off, ``Tracer`` keeps the same interface and only times the op,
so the untraced runs pay for no job groups, forced planning or metric reads.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    sid: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class JobInfo:
    job_id: int
    group: str
    start: float
    end: float
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


@dataclass
class OpRecord:
    """One timed op: its kind, wall time and (traced) spans and jobs."""

    op: int
    kind: str
    start: float
    end: float = 0.0
    spans: list[Span] = field(default_factory=list)
    jobs: list[JobInfo] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def span_ms(self, name: str) -> float:
        return sum(s.ms for s in self.spans if s.name == name)

    def has_span(self, name: str) -> bool:
        return any(s.name == name for s in self.spans)

    def descendants(self, name: str) -> set[str]:
        """Ids of every span named ``name`` and of all spans under them."""
        out = {s.sid for s in self.spans if s.name == name}
        grew = True
        while grew:
            more = {s.sid for s in self.spans if s.parent in out} - out
            grew = bool(more)
            out |= more
        return out

    def jobs_under(self, name: str) -> list[JobInfo]:
        ids = self.descendants(name)
        return [j for j in self.jobs if j.group in ids]

    def self_ms(self, name: str) -> float:
        """Duration of the ``name`` spans minus the part their direct
        children cover."""
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            kids = sorted((c.start, c.end) for c in self.spans
                          if c.parent == s.sid)
            total += s.ms - _covered(kids, s.start, s.end) * 1000.0
        return total

    def driver_gap_ms(self) -> float:
        """Op wall time during which no job of the op was running."""
        iv = sorted((j.start, j.end) for j in self.jobs)
        return self.ms - _covered(iv, self.start, self.end) * 1000.0


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _rest_time(s: str) -> float:
    # "2026-10-17T04:30:00.123GMT"
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc).timestamp()


class Tracer:
    """Op timer; with ``enabled`` it also records spans and Spark work."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.ops: list[OpRecord] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._base = None
        if enabled:
            sc = spark.sparkContext
            self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, sid: str | None) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", sid)
        sc.setLocalProperty("spark.job.description", sid)

    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one op; in a traced run also record its spans and jobs."""
        rec = OpRecord(op=next(self._ids), kind=kind, start=0.0)
        rec.extra["trace_ms"] = 0.0
        self._local.rec = rec
        with self._span_raw(kind, rec):
            rec.start = time.time()
            try:
                yield rec
            finally:
                rec.end = time.time()
        self._local.rec = None
        if self.enabled:
            t = time.time()
            self._attribute(rec)
            rec.extra["attr_ms"] = (time.time() - t) * 1000.0
        with self._lock:
            self.ops.append(rec)

    @contextlib.contextmanager
    def _span_raw(self, name: str, rec: OpRecord):
        if not self.enabled:
            yield None
            return
        t0 = time.time()
        st = self._stack()
        parent = st[-1].sid if st else None
        sp = Span(name, rec.op, f"pb{next(self._ids)}", parent, time.time())
        st.append(sp)
        self._set_group(sp.sid)
        t1 = time.time()
        try:
            yield sp
        finally:
            t2 = time.time()
            sp.end = t2
            st.pop()
            self._set_group(st[-1].sid if st else None)
            rec.spans.append(sp)
            # the tracer's own time inside the op: span bookkeeping and the
            # job-group calls into the JVM
            rec.extra["trace_ms"] += (t1 - t0 + time.time() - t2) * 1000.0

    def span(self, name: str):
        """Child span of the innermost open span of the current op."""
        rec = getattr(self._local, "rec", None)
        if rec is None or not self.enabled:
            return contextlib.nullcontext()
        return self._span_raw(name, rec)

    def plan(self, frames) -> None:
        """Force analysis, optimisation and physical planning of ``frames``
        inside a ``plan`` span, so the action that follows only executes."""
        rec = getattr(self._local, "rec", None)
        if rec is None or not self.enabled:
            return
        with self._span_raw("plan", rec):
            for df in frames:
                df._jdf.queryExecution().executedPlan()

    # -- attribution ---------------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.loads(r.read())

    def _attribute(self, rec: OpRecord) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        for sp in rec.spans:
            for jid in tracker.getJobIdsForGroup(sp.sid):
                rec.jobs.append(self._job(int(jid), sp.sid))

    def _job(self, jid: int, group: str) -> JobInfo:
        deadline = time.time() + 5.0
        while True:
            j = self._get(f"/jobs/{jid}")
            if j.get("completionTime") or time.time() > deadline:
                break
            time.sleep(0.01)
        end = _rest_time(j["completionTime"]) if j.get("completionTime") \
            else time.time()
        info = JobInfo(jid, group, _rest_time(j["submissionTime"]), end)
        for sid in j.get("stageIds", []):
            for att in self._stage(sid):
                if att.get("status") != "COMPLETE":
                    continue
                info.stages += 1
                info.tasks += att.get("numCompleteTasks", 0)
                info.run_ms += att.get("executorRunTime", 0)
                info.cpu_ms += att.get("executorCpuTime", 0) / 1e6
                info.gc_ms += att.get("jvmGcTime", 0)
                info.shuffle_write += att.get("shuffleWriteBytes", 0)
                info.shuffle_read += att.get("shuffleReadBytes", 0)
                info.spill += (att.get("memoryBytesSpilled", 0)
                               + att.get("diskBytesSpilled", 0))
        return info

    def _stage(self, sid: int) -> list:
        # the listener bus may lag the job end by a few ms; a stage that is
        # still ACTIVE has not folded in its last task metrics yet
        deadline = time.time() + 5.0
        while True:
            try:
                atts = self._get(f"/stages/{sid}?details=false")
            except urllib.error.HTTPError:
                return []  # skipped stage: never submitted, no record
            if all(a.get("status") != "ACTIVE" for a in atts) \
                    or time.time() > deadline:
                return atts
            time.sleep(0.01)

    def dump(self, path: str) -> None:
        """Write every span and attributed job of the run as JSON."""
        out = []
        for r in self.ops:
            out.append({
                "op": r.op, "kind": r.kind, "start": r.start, "end": r.end,
                "extra": r.extra,
                "spans": [vars(s) for s in r.spans],
                "jobs": [vars(j) for j in r.jobs],
            })
        with open(path, "w") as fh:
            json.dump(out, fh)
