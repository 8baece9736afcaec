"""Per-layer spans timed from outside the engine.

A span wraps one call the benchmark makes into an engine function.  On
entry it tags the calling thread with a Spark job group of its own, so
every job the call schedules carries the span's id; on exit it records
the wall interval.  Spans nest: a function the benchmark calls may in
turn call other engine functions that `patched` wraps for the duration
of one operation, and a job belongs to the innermost open span.

After the run, `harvest` reads every job and stage from the Spark
driver's AppStatusStore through py4j (the UI server stays off), and
`span_records` turns spans plus jobs into per-span figures:

- wall_s: the span's wall time;
- driver_s: wall time not covered by any Spark job of the span or its
  children, i.e. Python, py4j, planning and the job floor;
- jobs, tasks, shuffle_bytes, spill_bytes, failed_tasks: summed over
  the jobs of the span and its children.  A stage reused by a later job
  is counted once, for the job that ran it.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager

GROUP_PROP, DESC_PROP = "spark.jobGroup.id", "spark.job.description"


class Tracer:
    """Span recorder; a disabled tracer makes every span a no-op."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def active(self) -> bool:
        return self.enabled and not getattr(self._local, "off", False)

    @contextmanager
    def off(self, when: bool = True):
        """An untraced block in a traced run, for this thread only: the
        same-session baseline the tracing overhead is measured against."""
        prev = getattr(self._local, "off", False)
        self._local.off = when or prev
        try:
            yield
        finally:
            self._local.off = prev

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        with self._lock:
            group = f"perfbench-{next(self._ids)}"
        parent = self.sc.getLocalProperty(GROUP_PROP)
        parent_desc = self.sc.getLocalProperty(DESC_PROP)
        rec = {"name": name, "group": group, "parent": parent, "start": time.time()}
        self.sc.setLocalProperty(GROUP_PROP, group)
        self.sc.setLocalProperty(DESC_PROP, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.sc.setLocalProperty(GROUP_PROP, parent)
            self.sc.setLocalProperty(DESC_PROP, parent_desc)
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def patched(self, owner, attr: str, name: str):
        """Wrap owner.attr in a span named `name` while the block runs."""
        if not self.enabled:
            yield
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)


def harvest(spark) -> tuple[list[dict], list[dict]]:
    """Every job and stage the AppStatusStore retains, as plain dicts
    (one Jackson serialization per list: two py4j round trips)."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(jvm.java.util.ArrayList())))
    defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(jvm.java.util.ArrayList(), *defaults))
    )
    keep = (
        "stageId", "attemptId", "status", "numCompleteTasks", "numFailedTasks",
        "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
    )
    stages = [{k: s[k] for k in keep} for s in stages]
    jobs = [
        {k: j[k] for k in ("jobId", "jobGroup", "submissionTime", "completionTime",
                           "stageIds", "status")}
        for j in jobs
    ]
    return jobs, stages


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
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


def span_records(spans: list[dict], jobs: list[dict], stages: list[dict]) -> list[dict]:
    """One record per span call with its inclusive Spark figures."""
    by_stage: dict[int, list[dict]] = {}
    for s in stages:
        by_stage.setdefault(s["stageId"], []).append(s)
    owner: dict[int, int] = {}  # stageId -> first job that lists it
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    jobs_by_group: dict[str, list[dict]] = {}
    for j in jobs:
        if j["jobGroup"]:
            jobs_by_group.setdefault(j["jobGroup"], []).append(j)
    children: dict[str, list[str]] = {}
    for sp in spans:
        if sp["parent"]:
            children.setdefault(sp["parent"], []).append(sp["group"])

    def subtree(group: str) -> list[str]:
        out, todo = [], [group]
        while todo:
            g = todo.pop()
            out.append(g)
            todo.extend(children.get(g, ()))
        return out

    records = []
    for sp in spans:
        js = [j for g in subtree(sp["group"]) for j in jobs_by_group.get(g, ())]
        own = [
            a for j in js for sid in j["stageIds"] if owner.get(sid) == j["jobId"]
            for a in by_stage.get(sid, ())
        ]
        wall = sp["end"] - sp["start"]
        intervals = [
            (j["submissionTime"] / 1000.0, (j["completionTime"] or j["submissionTime"]) / 1000.0)
            for j in js if j["submissionTime"]
        ]
        records.append({
            "name": sp["name"],
            "group": sp["group"],
            "parent": sp["parent"],
            "start": sp["start"],
            "wall_s": wall,
            "driver_s": wall - _covered(intervals, sp["start"], sp["end"]),
            "jobs": len(js),
            "own_jobs": len(jobs_by_group.get(sp["group"], ())),
            "tasks": sum(a["numCompleteTasks"] + a["numFailedTasks"] for a in own),
            "failed_tasks": sum(a["numFailedTasks"] for a in own),
            "shuffle_bytes": sum(a["shuffleReadBytes"] + a["shuffleWriteBytes"] for a in own),
            "spill_bytes": sum(a["diskBytesSpilled"] for a in own),
        })
    return records


FAMILIES = ("wall_s", "driver_s", "jobs", "tasks", "shuffle_bytes")


def per_span_medians(records: list[dict], names: list[str]) -> dict[str, float]:
    """'<span>.<family>' -> median per call, for every span in `names`."""
    out = {}
    for name in names:
        calls = [r for r in records if r["name"] == name]
        for fam in FAMILIES:
            out[f"{name}.{fam}"] = statistics.median(r[fam] for r in calls) if calls else 0.0
    return out
