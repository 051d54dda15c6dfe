# -*- coding: utf-8 -*-
"""Spans recorded from outside the engine, and Spark task metrics
attributed to them from the event log.

A span is named ``<layer>.<public function>``. The benchmark opens one
around each call it makes into a layer, sets the span name as the Spark
job description for the call, and keeps the spans in memory until the run
ends. After the session stops, ``task_table`` reads the uncompressed
event log and groups every task under the span that submitted its stage:
first by job description, then, for jobs whose description the engine or
Spark set itself, by the span whose interval holds the stage's
submission time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

import numpy as np


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; yields a dict the caller may add counts to."""
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobDescription(name)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(self._stack[-1]["name"] if self._stack else None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        out = {}
        for s in self.spans:
            kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"])
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out


class NullTracer(Tracer):
    """Untraced runs: the same call sites, nothing recorded."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}


def _event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if not files:
        raise RuntimeError(f"no finished event log in {log_dir}")
    return max(files, key=os.path.getmtime)


def task_table(log_dir: str, spans: list[dict]) -> dict[int, dict]:
    """Per span id: jobs, tasks, failed tasks, executor cpu, task-time
    quantiles and shuffle bytes written, from the Spark event log."""
    by_name = {s["name"]: s["id"] for s in spans}

    def owner(desc: str | None, t_ms: float) -> int | None:
        if desc in by_name:
            return by_name[desc]
        t = t_ms / 1000.0
        inside = [s for s in spans if s["start"] <= t <= (s["end"] or t)]
        # innermost = latest-starting enclosing span
        return max(inside, key=lambda s: s["start"])["id"] if inside else None

    stage_owner: dict[int, int | None] = {}
    acc: dict[int, dict] = {
        s["id"]: {"jobs": 0, "tasks": [], "cpu_ns": 0, "shuffle_write": 0, "failed": 0}
        for s in spans
    }
    unattributed = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
    with open(_event_log_file(log_dir)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                sid = owner(desc, ev.get("Submission Time", 0))
                for st in ev.get("Stage IDs", []):
                    stage_owner.setdefault(st, sid)
                if sid is None:
                    unattributed["jobs"] += 1
                else:
                    acc[sid]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev.get("Stage Info", {})
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                sid = owner(desc, info.get("Submission Time") or 0)
                if sid is not None or info.get("Stage ID") not in stage_owner:
                    stage_owner[info.get("Stage ID")] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_owner.get(ev.get("Stage ID"))
                info = ev.get("Task Info", {})
                failed = info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success"
                if sid is None:
                    unattributed["tasks"] += 1
                    unattributed["failed_tasks"] += int(failed)
                    continue
                a = acc[sid]
                a["failed"] += int(failed)
                m = ev.get("Task Metrics") or {}
                a["tasks"].append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
                a["cpu_ns"] += m.get("Executor CPU Time", 0)
                a["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    out = {}
    for sid, a in acc.items():
        t = np.array(a["tasks"]) if a["tasks"] else np.zeros(1)
        out[sid] = {
            "jobs": a["jobs"],
            "tasks": len(a["tasks"]),
            "failed_tasks": a["failed"],
            "cpu_s": a["cpu_ns"] / 1e9,
            "shuffle_write_mb": a["shuffle_write"] / 1e6,
            "task_p50_s": float(np.quantile(t, 0.5)),
            "task_p95_s": float(np.quantile(t, 0.95)),
            "task_max_s": float(t.max()),
        }
    out["unattributed"] = unattributed
    return out
