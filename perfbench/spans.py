"""Spans around the benchmark's calls into the engine, and attribution of
Spark jobs, stages and tasks to those spans from the event log.

A span is (id, op_id, name, parent, start, end). ``name`` is the layer
(``lakehouse.commit``, ``relational.agg``…) or, for the span of a whole
op, ``op``; ``parent`` is the workload op kind and ``op_id`` the op's
sequence number, shared by every span of one op. While a span is open
its id is the thread's Spark job group, so every job the engine
launches for the call carries it in the event log. Spans stay in
memory; the event log is parsed once after ``spark.stop()``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        # a traced run sets the SparkContext here: jobs are then tagged
        # with span ids
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def _set_group(self, gid: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str, op_id: int, parent: str | None):
        sid = f"s{len(self.spans)}"
        rec = {"id": sid, "op_id": op_id, "name": name, "parent": parent,
               "parent_id": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)


def read_event_log(log_dir: str) -> dict:
    """{group id: {"jobs": [(start_s, end_s)], "stages", "tasks",
    "shuffle_write_bytes", "spill_bytes", "gc_s", "input_rows"}} from
    the one uncompressed event log file in ``log_dir``."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": [], "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "gc_s": 0.0, "input_rows": 0})
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_start[jid] = ev["Submission Time"] / 1000
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    g = job_group.get(jid)
                    if g is not None:
                        groups[g]["jobs"].append((job_start[jid], ev["Completion Time"] / 1000))
                elif kind == "SparkListenerStageCompleted":
                    g = job_group.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                    if g is not None:
                        groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = job_group.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    acc = groups[g]
                    acc["tasks"] += 1
                    acc["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    acc["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    acc["gc_s"] += m["JVM GC Time"] / 1000
                    acc["input_rows"] += m["Input Metrics"]["Records Read"]
    return dict(groups)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_totals(spans: list[dict], groups: dict) -> dict[str, dict]:
    """Per layer: calls, busy_s (summed durations), driver_s (minus the
    union of the call's job intervals), and the summed job, stage, task,
    shuffle, spill, GC and input-row counters of the jobs tagged with the
    layer's span ids."""
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        acc = out[s["name"]]
        g = groups.get(s["id"], {})
        jobs = g.get("jobs", [])
        acc["calls"] += 1
        acc["busy_s"] += s["dur"]
        acc["driver_s"] += max(0.0, s["dur"] - _union_length(jobs, s["start"], s["end"]))
        acc["jobs"] += len(jobs)
        for key in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes",
                    "gc_s", "input_rows"):
            acc[key] += g.get(key, 0)
    return {k: dict(v) for k, v in out.items()}
