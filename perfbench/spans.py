"""Spans and Spark counters for the traced run.

A :class:`Tracer` records spans (name, start, end, parent, operation id)
in memory around the benchmark's calls into each module of
``hazelcast_jet_spark``; the module name is the span's layer.  With tracing
off, ``span`` only yields, so the untraced run pays nothing but a context
manager.

With tracing on, every span also becomes a Spark job group, so jobs can be
attributed to spans two ways: live through ``StatusTracker`` (job counts)
and after the run through the event log (stages, tasks, task run and CPU
time, GC, shuffle and spill bytes, job wall time).  Catalyst phase times
come from ``QueryExecution.tracker().phases()`` and plan shape from
``plans.plan_audit``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op", "phase", "jobs", "children")

    def __init__(self, sid, name, start, parent, op, phase):
        self.sid, self.name, self.start, self.parent = sid, name, start, parent
        self.op, self.phase = op, phase
        self.end = start
        self.jobs = 0
        self.children: list[Span] = []

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def self_ms(self) -> float:
        return self.ms - sum(c.ms for c in self.children)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "setup"
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._spark = None
        #: extra job groups (streaming query run ids) mapped to a span
        self._group_alias: dict[str, str] = {}

    def bind(self, spark) -> None:
        self._spark = spark

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, op: bool = False):
        """Record ``name`` around the block.  ``op=True`` starts a new
        operation id (a root of the blocking path)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = f"bench-{len(self.spans)}"
        s = Span(sid, name, time.time(), parent,
                 sid if (op or parent is None) else parent.op, self.phase)
        if parent is not None:
            parent.children.append(s)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._live():
                s.jobs = len(self._spark.sparkContext.statusTracker().getJobIdsForGroup(sid))
            self._set_group(parent)

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def add_span(self, name: str, start: float, end: float, parent: Span) -> Span:
        """Record a span measured elsewhere (streaming progress phases)."""
        s = Span(f"bench-{len(self.spans)}", name, start, parent, parent.op, self.phase)
        s.end = end
        parent.children.append(s)
        self.spans.append(s)
        return s

    def alias_group(self, group: str, span: Span | None) -> None:
        if span is not None:
            self._group_alias[group] = span.sid

    def _live(self) -> bool:
        """A session is bound and not stopped."""
        return self._spark is not None and self._spark.sparkContext._jsc is not None

    def _set_group(self, s: Span | None) -> None:
        if not self._live():
            return
        sc = self._spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(s.sid, s.name)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] += value

    # -- catalyst and plan shape ---------------------------------------

    def record_query(self, df) -> None:
        """Catalyst phase times and plan shape of an executed DataFrame."""
        if not self.enabled:
            return
        from hazelcast_jet_spark.plans import plan_audit

        with self.span("plans.plan_audit"):
            qe = df._jdf.queryExecution()
            jvm = df.sparkSession._jvm
            phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
            for k in phases.keySet():
                self.counters[f"spark.{k}_ms"] += phases.get(k).durationMs()
            audit = plan_audit(df)
            self.counters["plans.exchanges"] += audit["exchanges"]
            self.counters["plans.scans"] += audit["scans"]
            self.counters["plans.queries"] += 1

    # -- reports -------------------------------------------------------

    def measured_ops(self) -> list[Span]:
        return [s for s in self.spans
                if s.phase == "measure" and s.sid == s.op and s.parent is not None
                and s.layer == "bench"]

    def median_ms(self, name: str, under: list[str] | None = None) -> float:
        """Median duration of the measured spans called ``name``, optionally
        only those inside operations whose root span is in ``under``."""
        from common import median

        by_sid = {s.sid: s for s in self.spans}
        ms = [s.ms for s in self.spans
              if s.name == name and s.phase == "measure"
              and (under is None or by_sid[s.op].name in under)]
        return median(ms) if ms else 0.0

    def self_ms_by_layer(self, root: Span) -> dict[str, float]:
        """Self time per layer of the spans under ``root`` (root excluded)."""
        out: dict[str, float] = defaultdict(float)
        todo = list(root.children)
        while todo:
            s = todo.pop()
            out[s.layer] += s.self_ms
            todo.extend(s.children)
        return out

    def subtree_groups(self, root: Span) -> set[str]:
        groups, todo = set(), [root]
        while todo:
            s = todo.pop()
            groups.add(s.sid)
            todo.extend(s.children)
        groups |= {g for g, sid in self._group_alias.items() if sid in groups}
        return groups


def read_event_logs(directory: str) -> dict:
    """Aggregate every Spark event log under ``directory`` by job group.

    Returns ``{"groups": {group: counters}, "jobs": [(group, start_ms,
    end_ms)]}``.  Task metrics reach a group through their stage's
    submission properties."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    jobs: list[tuple[str, float, float]] = []
    files = sorted(glob.glob(os.path.join(directory, "**", "events_*"), recursive=True))
    files += [f for f in glob.glob(os.path.join(directory, "*")) if os.path.isfile(f)]
    for path in files:
        stage_group: dict[int, str] = {}
        job_start: dict[int, tuple[str, float]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        sid = ev["Stage Info"]["Stage ID"]
                        stage_group[sid] = g
                        groups[g]["stages"] += 1
                elif kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        job_start[ev["Job ID"]] = (g, ev["Submission Time"])
                        groups[g]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    js = job_start.pop(ev["Job ID"], None)
                    if js:
                        jobs.append((js[0], js[1], ev["Completion Time"]))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if g is None or not tm:
                        continue
                    c = groups[g]
                    c["tasks"] += 1
                    c["task_run_ms"] += tm.get("Executor Run Time", 0)
                    c["task_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    c["gc_ms"] += tm.get("JVM GC Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    sw = tm.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                         + tm.get("Disk Bytes Spilled", 0))
    return {"groups": groups, "jobs": jobs}


SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_metrics(tracer: Tracer, ops: list[Span], eventlog_dir: str) -> dict[str, float]:
    """Spark counters per operation over ``ops``, plus driver-only time:
    an operation's wall time minus the wall time its jobs ran."""
    log = read_event_logs(eventlog_dir)
    out = {f"spark.{k}": 0.0 for k in SPARK_COUNTERS}
    driver_only = 0.0
    for op in ops:
        groups = tracer.subtree_groups(op)
        for g in groups:
            for k, v in log["groups"].get(g, {}).items():
                out[f"spark.{k}"] += v
        lo, hi = op.start * 1000.0, op.end * 1000.0
        iv = [(max(s, lo), min(e, hi)) for g, s, e in log["jobs"] if g in groups and e > lo and s < hi]
        driver_only += op.ms - union_ms(iv)
    n = max(1, len(ops))
    out = {k: v / n for k, v in out.items()}
    out["spark.driver_only_ms"] = driver_only / n
    return out
