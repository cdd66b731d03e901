"""In-memory spans around calls into the library's layers.

A span is opened by the benchmark around one public call (``with
tracer.span("operators.asof.asof_join_union"):``). Spans nest through a
stack, so a span's parent is the span that was open when it started; the
root span of every pass is ``pass``. Nothing is written while a run is
measuring: records stay in memory and are written as JSONL at the end.

Spark work is attributed to spans after each pass, from the driver's status
store: every job whose submission time falls inside a span (and inside none
of its children) belongs to that span. Job ids are dense, so the jobs of a
pass are the ids after the last one seen before it. This works for jobs the
library submits from its own thread pools (``run_sharded``), which a
per-thread job group would miss.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Spans of one benchmark run. While ``enabled`` is false (the default),
    ``span`` and ``traced_pass`` record nothing."""

    def __init__(self, spark, workload: str):
        self.enabled = False
        self.workload = workload
        self.records: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[dict] = []
        self._pass_id = -1
        self._next_job = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "workload": self.workload,
            "pass_id": self._pass_id,
            "id": len(self.records),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.records.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def traced_pass(self, pass_id: int):
        """Root span of one pass; attributes the pass's Spark jobs on exit."""
        self._pass_id = pass_id
        if self.enabled:
            self._next_job = self._probe_next_job()
        with self.span("pass"):
            yield
        if self.enabled:
            self._attribute(pass_id)

    # -- status store ------------------------------------------------------
    def _store(self):
        return self._sc._jsc.sc().statusStore()

    def _drain(self) -> None:
        # the status store is fed by an asynchronous listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _job(self, jid: int):
        try:
            return self._store().job(jid)
        except Py4JJavaError as e:
            if "NoSuchElementException" in str(e.java_exception):
                return None  # past the last job
            raise

    def _probe_next_job(self) -> int:
        self._drain()
        # the library sets no job group, so every job is in the None group
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    def _stage(self, sid: int) -> dict | None:
        try:
            s = self._store().lastStageAttempt(sid)
        except Py4JJavaError as e:
            if "NoSuchElementException" in str(e.java_exception):
                return None  # never submitted (skipped, reused shuffle)
            raise
        return {
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_bytes": int(s.shuffleWriteBytes()),
        }

    def _attribute(self, pass_id: int) -> None:
        self._drain()
        spans = [r for r in self.records if r["pass_id"] == pass_id]
        for r in spans:
            r.update(jobs=0, stages=0, exec_cpu_s=0.0, shuffle_bytes=0,
                     job_intervals=[])
        seen_stages: set[int] = set()
        jid = self._next_job
        while True:
            job = self._job(jid)
            if job is None:
                break
            jid += 1
            submit = job.submissionTime()
            if submit.isEmpty():
                continue
            t0 = submit.get().getTime() / 1000.0
            done = job.completionTime()
            t1 = done.get().getTime() / 1000.0 if not done.isEmpty() else t0
            owner = _innermost(spans, t0)
            if owner is None:
                continue  # a job outside the pass (e.g. the output check)
            sids = job.stageIds()
            owner["jobs"] += 1
            owner["stages"] += sids.size()
            owner["job_intervals"].append((t0, t1))
            for i in range(sids.size()):
                sid = int(sids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self._stage(sid)
                if st is not None:
                    owner["exec_cpu_s"] += st["cpu_s"]
                    owner["shuffle_bytes"] += st["shuffle_bytes"]
        for r in spans:
            wall = r["end"] - r["start"]
            child = [(c["start"], c["end"]) for c in spans if c["parent"] == r["id"]]
            r["s"] = wall
            r["self_s"] = wall - _covered(child, r["start"], r["end"])
            # driver time: the span's own wall that neither its Spark jobs
            # nor its child spans cover
            r["driver_s"] = r["self_s"] - _covered(
                r.pop("job_intervals"), r["start"], r["end"], exclude=child
            )

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for r in self.records:
                fh.write(json.dumps(r) + "\n")


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for r in spans:
        if r["start"] <= t <= r["end"]:
            if best is None or r["start"] >= best["start"]:
                best = r
    return best


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(intervals, lo: float, hi: float, exclude=()) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi], minus the
    part that also lies inside the union of ``exclude``."""
    clip = [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]
    total = sum(b - a for a, b in _merge(clip))
    if exclude:
        ex = _merge([(max(a, lo), min(b, hi)) for a, b in exclude])
        for a, b in _merge(clip):
            for c, d in ex:
                total -= max(0.0, min(b, d) - max(a, c))
    return total
