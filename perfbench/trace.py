"""Spans around the benchmark's calls into each layer, folded with
Spark's own event log.

A span records its name, start, end, parent span and a request id (the
iteration, the query name or the micro-batch id).  Spans stay in memory
and are written once, when the run ends.  Spans opened on the driver's
main thread tag their Spark jobs with ``setJobGroup``; jobs launched
from a streaming micro-batch carry Spark's ``streaming.sql.batchId``
property and are attributed to the innermost span open when they were
submitted (the benchmark is a closed loop, so at most one span chain is
open at a time).

With tracing off, ``span`` still times its block (the end-to-end
metrics are span durations) but records nothing and tags no jobs.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "rid", "start", "end", "attrs")

    def __init__(self, sid, name, parent, rid):
        self.id = sid
        self.name = name
        self.parent = parent
        self.rid = rid
        self.start = time.time()
        self.end = None
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "rid": self.rid, "start": self.start, "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # SparkContext, set once the session exists
        self._lock = threading.Lock()
        self._main = threading.main_thread()
        self._open: list[Span] = []  # the open span chain, outermost first

    @contextmanager
    def span(self, name: str, rid=None):
        with self._lock:
            parent = self._open[-1] if self._open else None
            sid = len(self.spans)
            s = Span(sid, name, parent.id if parent else None,
                     rid if rid is not None else (parent.rid if parent else None))
            if self.enabled:
                self.spans.append(s)
                self._open.append(s)
        tag = self.enabled and self.sc is not None and (
            threading.current_thread() is self._main)
        if tag:
            self.sc.setJobGroup(f"span-{sid}", name)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            dur = time.perf_counter() - t0
            s.end = s.start + dur
            if self.enabled:
                with self._lock:
                    self._open.remove(s)
                if tag:
                    if parent is not None:
                        self.sc.setJobGroup(f"span-{parent.id}", parent.name)
                    else:
                        self.sc.setLocalProperty("spark.jobGroup.id", None)
                        self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, name: str, batch_arg=None, after=None):
        """Replace ``module.attr`` by a spanned wrapper (traced runs
        only).  ``batch_arg`` is the position of a micro-batch id
        argument, used as the span's request id.  ``after(span, args,
        kwargs, result)`` may attach attributes once the call returns."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rid = args[batch_arg] if batch_arg is not None else None
            with self.span(name, rid=rid) as s:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(s, args, kwargs, out)
            return out

        setattr(module, attr, traced)

    def write(self, path: str, stamp: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"stamp": stamp}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


# --------------------------------------------------------------------------
# Spark event log fold


def _acc(stage_info: dict) -> dict:
    return {a.get("Name"): a.get("Value") for a in stage_info.get("Accumulables", [])}


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages) from the plain-JSON event log in ``log_dir``.

    Each job: id, submit/end time (s), group, batch id, stream query id,
    stage ids.  Each completed stage: submit/end time (s) and the
    metrics the fold uses.
    """
    jobs, stages = [], {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append({
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                        "query": props.get("sql.streaming.queryId"),
                        "stages": list(ev.get("Stage IDs", [])),
                    })
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Completion Time" not in info or "Submission Time" not in info:
                        continue
                    acc = _acc(info)
                    rdds = " ".join(r.get("Name", "") for r in info.get("RDD Info", []))
                    stages[info["Stage ID"]] = {
                        "start": info["Submission Time"] / 1000.0,
                        "end": info["Completion Time"] / 1000.0,
                        "cpu_s": float(acc.get("internal.metrics.executorCpuTime", 0)) / 1e9,
                        "run_s": float(acc.get("internal.metrics.executorRunTime", 0)) / 1e3,
                        "shuffle_bytes": int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0)),
                        "spill_bytes": int(acc.get("internal.metrics.diskBytesSpilled", 0))
                        + int(acc.get("internal.metrics.memoryBytesSpilled", 0)),
                        "records_read": int(acc.get("internal.metrics.input.recordsRead", 0)),
                        "jdbc": "JDBCRDD" in rdds,
                    }
    return jobs, stages


def fold(tracer: Tracer, jobs: list[dict], stages: dict[int, dict]) -> None:
    """Attach every job (and its completed stages) to one span: the span
    named by its job group, else the innermost span open at submission.
    Each span gets ``jobs`` and ``stages`` lists in ``attrs``."""
    by_id = {s.id: s for s in tracer.spans}
    ordered = sorted(tracer.spans, key=lambda s: s.start)
    for job in jobs:
        owner = None
        if job["group"] and job["group"].startswith("span-") and job["batch"] is None:
            owner = by_id.get(int(job["group"][5:]))
        if owner is None:
            for s in ordered:
                if s.start > job["submit"]:
                    break
                if s.end is not None and job["submit"] <= s.end:
                    owner = s  # later starts are deeper in a closed loop
        if owner is None:
            continue
        owner.attrs.setdefault("jobs", []).append(job)
        done = [stages[i] for i in job["stages"] if i in stages]
        owner.attrs.setdefault("stages", []).extend(done)


def subtree(tracer: Tracer, root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def stage_totals(tracer: Tracer, root: Span) -> dict:
    """Jobs, stages and stage metrics over a span's subtree, plus the
    scheduling gap: the span's wall time not covered by any stage."""
    jobs, stages = [], []
    for s in subtree(tracer, root):
        jobs += s.attrs.get("jobs", [])
        stages += s.attrs.get("stages", [])
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(st["start"], root.start), min(st["end"], root.end))
                         for st in stages):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "cpu_s": sum(st["cpu_s"] for st in stages),
        "shuffle_bytes": sum(st["shuffle_bytes"] for st in stages),
        "spill_bytes": sum(st["spill_bytes"] for st in stages),
        "jdbc_read_s": sum(st["end"] - st["start"] for st in stages if st["jdbc"]),
        "jdbc_rows_read": sum(st["records_read"] for st in stages if st["jdbc"]),
        "gap_s": max(0.0, root.dur - covered),
    }
