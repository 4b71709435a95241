"""Spans around calls into the program's modules, and Spark's event log
folded per span.

A span records its name, start and end (epoch seconds, the clock the
event log uses), parent and a trace id (shared by the
spans of one split or one request). Each span sets ``setJobGroup(<span
id>)`` for its duration, so every Spark job carries the id of the innermost
span that caused it; folding ``SparkListenerTaskEnd`` and
``SparkListenerStageCompleted`` by job group then gives each span its own
Spark metrics. Spans named ``trace.*`` are probes: jobs the benchmark adds
to take a measurement, left out of every span's folded metrics. Spans stay
in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


PROBE = "trace."


def is_probe(span) -> bool:
    """A span around work the benchmark adds to take a measurement."""
    return span.name.startswith(PROBE)


class Span:
    __slots__ = ("id", "name", "parent", "trace", "start", "end", "attrs")

    def __init__(self, sid, name, parent, trace, start):
        self.id, self.name, self.parent, self.trace = sid, name, parent, trace
        self.start, self.end, self.attrs = start, None, {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "trace": self.trace, "start": self.start, "end": self.end,
                **self.attrs}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self._patched: list = []

    # -- spans -----------------------------------------------------------------

    def open(self, name: str, trace: str | None = None) -> Span:
        parent = self.stack[-1] if self.stack else None
        sid = f"{name}#{len(self.spans)}"
        if trace is None:
            trace = parent.trace if parent else sid
        span = Span(sid, name, parent.id if parent else None, trace, time.time())
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(sid, name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        if not self.stack or self.stack[-1] is not span:
            raise RuntimeError(f"span {span.id} closed out of order")
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1].id, self.stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, owner, attr: str, name: str, after=None, before=None):
        """Replace ``owner.attr`` with a spanned wrapper. ``before(span,
        args, kwargs)`` and ``after(span, result, args, kwargs)`` run inside
        the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                if before:
                    before(s, args, kwargs)
                result = original(*args, **kwargs)
                if after:
                    after(s, result, args, kwargs)
                return result

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until :meth:`unwrap_all`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- analysis ----------------------------------------------------------------

    def children(self) -> dict:
        out: dict = {}
        for s in self.spans:
            if s.parent:
                out.setdefault(s.parent, []).append(s)
        return out

    def subtree_ids(self, span: Span) -> set:
        """The span's id and the ids of its descendants: the job groups
        whose work the span covers. Probes (spans named ``trace.*``, the
        benchmark's own jobs) and their subtrees are left out."""
        kids = self.children()
        out, todo = set(), [span.id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(c.id for c in kids.get(sid, []) if not is_probe(c))
        return out

    def probe_time(self, span: Span) -> float:
        """Wall time of the probes among the span's descendants."""
        kids = self.children()
        total, todo = 0.0, [span.id]
        while todo:
            for c in kids.get(todo.pop(), []):
                if is_probe(c):
                    total += c.duration
                else:
                    todo.append(c.id)
        return total

    def self_times(self) -> dict:
        """span id -> duration minus the union of its children's intervals."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.id] = s.duration - covered
        return out

    def by_name(self, name: str) -> list:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, spark_by_span: dict) -> None:
        selft = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                d = s.as_dict()
                d["duration_s"] = s.duration
                d["self_s"] = selft[s.id]
                d["spark"] = spark_by_span.get(s.id)
                f.write(json.dumps(d, default=str) + "\n")


# -- event log ---------------------------------------------------------------------

def _plan_nodes(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _plan_nodes(child)


class EventLog:
    """The parts of one application's event log the benchmark reads."""

    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if not p.endswith(".inprogress") and os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
        self.jobs: dict = {}        # job id -> {group, tags, start, end}
        self.stage_job: dict = {}   # stage id -> job id
        self.tasks: dict = {}       # stage id -> [task metric dicts]
        self.plans: dict = {}       # execution id -> final plan
        self.exec_group: dict = {}  # execution id -> job group
        self.accum: dict = {}       # (execution id, accumulator id) -> value
        self.stages: dict = {}      # stage id -> (tasks, wall seconds)
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "tags": props.get("spark.job.tags", ""),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            self.tasks.setdefault(e["Stage ID"], []).append({
                "time": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "gc": m.get("JVM GC Time", 0) / 1000.0,
                "sw": sw.get("Shuffle Bytes Written", 0),
                "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            wall = (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1000.0
            self.stages[info["Stage ID"]] = (info["Number of Tasks"], wall)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
            self.exec_group[e["executionId"]] = e.get("jobGroupId")
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.accum[(e["executionId"], acc_id)] = value

    def jobs_of(self, groups: set) -> list:
        return [j for j in self.jobs.values() if j["group"] in groups]

    def stage_tasks(self, groups: set) -> list:
        """[(stage id, tasks)] of every stage run by a job of ``groups``."""
        return [(sid, tasks) for sid, tasks in self.tasks.items()
                if self.jobs.get(self.stage_job.get(sid), {}).get("group") in groups]

    def spark_metrics(self, groups: set) -> dict:
        stages = self.stage_tasks(groups)
        tasks = [t for _, ts in stages for t in ts]
        skew = 0.0
        if stages:
            _, dom = max(stages, key=lambda st: sum(t["time"] for t in st[1]))
            times = [t["time"] for t in dom]
            med = statistics.median(times)
            skew = max(times) / med if med > 0 else 1.0
        return {
            "stages": [[sid, *self.stages.get(sid, (len(ts), 0.0))] for sid, ts in stages],
            "jobs": len(self.jobs_of(groups)),
            "shuffle_read_bytes": sum(t["sr"] for t in tasks),
            "shuffle_write_bytes": sum(t["sw"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "gc_s": sum(t["gc"] for t in tasks),
            "task_skew": skew,
        }

    def executions_of(self, groups: set) -> list:
        return [x for x, g in self.exec_group.items() if g in groups]

    def exchanges(self, execution: int) -> int:
        """Shuffle Exchange nodes in an execution's final (adaptive) plan."""
        return sum(1 for n in _plan_nodes(self.plans[execution])
                   if n.get("nodeName") == "Exchange")

    def broadcast_bytes(self, execution: int) -> int:
        total = 0
        for n in _plan_nodes(self.plans[execution]):
            if n.get("nodeName") != "BroadcastExchange":
                continue
            for m in n.get("metrics", ()):
                if m.get("name") == "data size":
                    total += self.accum.get((execution, m["accumulatorId"]), 0)
        return total

    def broadcast_job_s(self, groups: set) -> float:
        return sum(j["end"] - j["start"] for j in self.jobs_of(groups)
                   if "broadcast exchange" in j["tags"] and j["end"] is not None)
