"""Layer tracing from outside the engine: spans, job groups, the Spark event
log and the executed plan.

A :class:`Tracer` wraps each call into a layer in a span (name, start, end,
parent, and a run id shared by every span of one traced run) and tags the
Spark jobs it launches with ``setJobGroup(<layer>)``. Spark's own event log
(enabled on the traced session, uncompressed and non-rolling) then
attributes jobs, tasks, shuffle bytes, spill, GC time and task failures to
each layer: :func:`parse_event_log` groups task metrics by the job group of
the stage that ran them.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    """Spans kept in memory and written out once, at the end of the run."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time ``name``; with ``group``, tag its Spark jobs with that job
        group (the previous group is restored on exit)."""
        parent = self._stack[-1] if self._stack else None
        rec = {"run_id": self.run_id, "id": len(self.spans), "name": name, "parent": parent}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = {k: self.sc.getLocalProperty(k) for k in _GROUP_KEYS}
        if group is not None:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["seconds"]
            if group is not None:
                for k, v in prev.items():
                    self.sc.setLocalProperty(k, v)
            self._stack.pop()

    def seconds(self, prefix: str) -> float:
        """Total duration of the spans whose name starts with ``prefix``."""
        return sum(s["seconds"] for s in self.spans if s["name"].startswith(prefix))

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


_NODE_RE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")
_JOIN_NODES = {"CartesianProduct"}


def plan_shape(df) -> dict:
    """Exchange and join operators in ``df``'s executed plan (before
    adaptive re-planning, so the counts repeat exactly). Plans under a
    cached relation's scan are included, as the plan string prints them."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = joins = 0
    for line in plan.splitlines():
        m = _NODE_RE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node in ("Exchange", "BroadcastExchange"):
            exchanges += 1
        elif node.endswith("Join") or node in _JOIN_NODES:
            joins += 1
    return {"exchanges": exchanges, "joins": joins}


def parse_event_log(path: Path) -> dict[str | None, dict]:
    """Per job group: jobs, tasks, shuffle bytes written, bytes spilled to
    disk, JVM GC seconds, failed tasks, input records read, and the stages
    that scanned files (a ``FileScanRDD`` in the stage's lineage)."""
    stage_group: dict[int, str | None] = {}
    per = defaultdict(
        lambda: {
            "jobs": 0,
            "tasks": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "gc_s": 0.0,
            "task_failures": 0,
            "records_read": 0,
            "file_scans": 0,
        }
    )
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                per[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                    per[group]["file_scans"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                acc = per[group]
                acc["tasks"] += 1
                # a failed task, or any task of a retried stage attempt
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if reason != "Success" or ev.get("Stage Attempt ID", 0) > 0:
                    acc["task_failures"] += 1
                tm = ev.get("Task Metrics") or {}
                acc["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                acc["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                acc["records_read"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
    return dict(per)


def total(per_group: dict[str | None, dict], key: str, groups=None):
    """Sum ``key`` over the given groups (every group when ``groups`` is None)."""
    return sum(v[key] for g, v in per_group.items() if groups is None or g in groups)
