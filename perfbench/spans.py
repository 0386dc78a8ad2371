"""Spans, Spark event-log metrics and the statistics the benchmark
reports. Pure Python: nothing here imports Spark, so every function is
unit-testable on hand-made inputs.

Spans are recorded by the benchmark's own code around its calls into
the engine's public functions. A span carries a name, start and end
(epoch seconds, the clock Spark's event log uses), its parent span and
the op id it belongs to. Spark jobs are attributed to the innermost span
whose interval contains the job's submit time; the benchmark runs one
client thread, so its spans never overlap and attribution by time is
exact even for jobs submitted from the engine's own worker threads.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager

# Tail percentiles tried from the top; the first with enough samples
# beyond it is reported.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op_id"]
        rec = {
            "id": len(self.spans), "name": name, "parent": parent,
            "op_id": op_id, "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


def innermost_span(spans: list[dict], t: float) -> dict | None:
    """The deepest span whose [start, end] contains time ``t``."""
    depth: dict[int, int] = {}
    best, best_depth = None, -1
    for s in spans:
        d = 0 if s["parent"] is None else depth[s["parent"]] + 1
        depth[s["id"]] = d
        if s["start"] <= t <= s["end"] and d > best_depth:
            best, best_depth = s, d
    return best


def parse_event_log(path: str) -> dict:
    """Jobs, stages and tasks from one Spark event-log file (JSON lines).

    Returns ``{"jobs": {job_id: {"submit": s, "stages": [...]}},
    "stages": {stage_id: {"submit": s, "job": job_id}},
    "tasks": [{"stage": id, "launch": s, "run_s", "cpu_s", "gc_s",
    "shuffle_read_b", "shuffle_write_b", "spill_b", "output_b",
    "failed"}]}`` with times in epoch seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "stages": list(ev.get("Stage IDs", [])),
                }
                for sid in ev.get("Stage IDs", []):
                    stages.setdefault(sid, {"submit": None, "job": jid})
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], {"submit": None, "job": None})
                if info.get("Submission Time") is not None and st["submit"] is None:
                    st["submit"] = info["Submission Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "launch": info.get("Launch Time", 0) / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "output_b": out.get("Bytes Written", 0),
                    "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def attribute(spans: list[dict], log: dict) -> dict[int | None, dict]:
    """Sum event-log work per span: job → innermost span containing its
    submit time; its stages and their tasks follow the job. Returns
    span id (None for jobs outside every span) → totals."""
    job_span = {
        jid: (lambda s: None if s is None else s["id"])(innermost_span(spans, j["submit"]))
        for jid, j in log["jobs"].items()
    }
    out: dict[int | None, dict] = {}

    def bucket(sid):
        return out.setdefault(sid, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_wait_s": 0.0,
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_b": 0,
            "shuffle_write_b": 0, "spill_b": 0, "output_b": 0, "failed_tasks": 0,
        })

    for jid, sid in job_span.items():
        bucket(sid)["jobs"] += 1
    for st in log["stages"].values():
        if st["submit"] is not None and st["job"] in job_span:
            bucket(job_span[st["job"]])["stages"] += 1
    for t in log["tasks"]:
        st = log["stages"].get(t["stage"])
        if st is None or st["job"] not in job_span:
            continue
        b = bucket(job_span[st["job"]])
        b["tasks"] += 1
        b["failed_tasks"] += int(t["failed"])
        if st["submit"] is not None:
            b["task_wait_s"] += max(0.0, t["launch"] - st["submit"])
        for k in ("run_s", "cpu_s", "gc_s", "shuffle_read_b", "shuffle_write_b", "spill_b", "output_b"):
            b[k] += t[k]
    return out


def tail(samples: list[float]) -> dict:
    """Latency at the highest ``TAIL_LADDER`` percentile that has at
    least ``TAIL_MIN_BEYOND`` samples beyond it (nearest-rank), or the
    reason none qualifies."""
    n = len(samples)
    for p in TAIL_LADDER:
        rank = math.ceil(round(p * n / 100.0, 6))  # round: 99.9 * n is inexact
        if n - rank >= TAIL_MIN_BEYOND:
            return {"value": sorted(samples)[rank - 1], "percentile": p, "samples": n}
    need = math.ceil(TAIL_MIN_BEYOND / (1 - TAIL_LADDER[-1] / 100.0))
    return {
        "omitted": f"{n} samples; p{TAIL_LADDER[-1]:g} needs at least {need}",
        "samples": n,
    }
