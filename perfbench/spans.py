"""Spans and Spark event-log attribution for the traced run.

A span records (name, start, end, parent) in memory. A span opened with
``group=True`` also tags the Spark jobs submitted inside it with a job
group, so that the event log the traced run writes can be joined back to
it: per span, jobs, tasks, executor run time, shuffle bytes written and
bytes spilled.

The benchmark wraps public engine functions with :meth:`Tracer.wrap`
for the traced run only; the engine itself is not modified.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc):
        self.sc = sc  # the SparkContext whose jobs the spans tag
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        outer_group = self._current_group()
        if group:
            rec["group"] = f"span-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if rec["group"] is not None:
                if outer_group is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(outer_group, outer_group)

    def _current_group(self) -> str | None:
        for rec in reversed(self._stack[:-1]):
            if rec["group"] is not None:
                return rec["group"]
        return None

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by
        a wrapper that runs it inside a span; :meth:`unwrap` restores it."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ analysis
    def self_times(self, root: dict) -> dict[str, float]:
        """Self time per span name below (and including) ``root``: each
        span's duration minus the part its children cover. Children run
        sequentially on this one thread, so their durations do not
        overlap."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        todo = [root]
        while todo:
            s = todo.pop()
            kids = children[s["id"]]
            covered = sum(k["end"] - k["start"] for k in kids)
            out[s["name"]] += (s["end"] - s["start"]) - covered
            todo.extend(kids)
        return dict(out)


def read_event_log(log_dir: str) -> dict:
    """Parse the (single) Spark event log under ``log_dir`` into per-job
    and per-stage records: job group, call site, and per-stage task
    count, executor run time, shuffle bytes written and bytes spilled."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    stage_site: dict[int, str] = {}
    stages: dict[int, dict] = defaultdict(
        lambda: {"tasks": 0, "task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
    )
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "site": props.get("callSite.short", ""),
                }
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = props.get("spark.jobGroup.id")
                stage_site[sid] = props.get("callSite.short", "")
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    for sid, st in stages.items():
        st["group"] = stage_group.get(sid)
        st["site"] = stage_site.get(sid, "")
    return {"jobs": jobs, "stages": dict(stages)}


def group_totals(log: dict, group: str, site_filter=None) -> dict[str, float]:
    """Jobs, tasks, task seconds, shuffle MB and spill MB of the jobs and
    stages tagged with job group ``group`` (and, if given, whose call site
    passes ``site_filter``)."""
    keep = (lambda site: True) if site_filter is None else site_filter
    out = {"jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    for j in log["jobs"].values():
        if j["group"] == group and keep(j["site"]):
            out["jobs"] += 1
    for st in log["stages"].values():
        if st["group"] == group and keep(st["site"]):
            out["tasks"] += st["tasks"]
            out["task_s"] += st["task_s"]
            out["shuffle_mb"] += st["shuffle_bytes"] / 1e6
            out["spill_mb"] += st["spill_bytes"] / 1e6
    return out
