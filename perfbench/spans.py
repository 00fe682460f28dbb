"""Spans around the benchmark's calls into the engine, and the Spark
event-log reader that attributes jobs, tasks, CPU and shuffle to them.

Spans always record wall time (two clock reads). With tracing on, each
span also tags the Spark jobs it starts with its own job group. Jobs
that engine helper threads or streaming threads start carry no group;
they go to the innermost span open when they were submitted. After the
session stops, ``attribute`` reads the event log and sums, per span:

    jobs, tasks      counts
    exec_run_s       executor run time of the span's tasks
    exec_cpu_s       JVM CPU time of those tasks; run - cpu is the
                     Python-worker / Arrow share
    driver_s         span wall time not covered by any of its jobs
    shuffle_bytes    shuffle bytes written
    spill_bytes      bytes spilled to disk
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

COUNTERS = ("wall_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s",
            "driver_s", "shuffle_bytes", "spill_bytes")
GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """Records spans in memory; writes nothing until the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # the SparkContext whose jobs spans tag, if any

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name,
             "parent": parent["id"] if parent else None,
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def attach(self, sc) -> None:
        """Tag jobs from now on; sc=None stops tagging."""
        self.sc = sc
        if sc is not None:
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s: dict | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{s['id']}", s["name"])

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(log_dir: str) -> dict:
    """Parse the one application's uncompressed JSON event log.

    Returns {"jobs": {job_id: {"group", "submit", "end", "stages"}},
    "stages": {stage_id: {"tasks", "run_ms", "cpu_ns", "shuffle_bytes",
    "spill_bytes"}}}; times are epoch milliseconds."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(paths)}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"], "end": None,
                    "stages": list(ev.get("Stage IDs", []))}
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], {
                    "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                    "shuffle_bytes": 0, "spill_bytes": 0})
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stages": stages}


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def attribute(spans: list[dict], log: dict) -> dict:
    """Assign every job in the event log to one span and sum counters.

    A job whose group names a span belongs to it; an ungrouped job goes
    to the innermost span whose interval holds its submission time.
    Each stage's tasks count once, under the first job that lists the
    stage (a later job that lists it skips it). Returns {"per_span":
    {span_id: counters}, "jobs_total", "jobs_attributed",
    "jobs_by_overlap"}."""
    by_id = {s["id"]: s for s in spans}
    per_span = {s["id"]: dict.fromkeys(COUNTERS[1:], 0) for s in spans}
    job_iv: dict[int, list] = {s["id"]: [] for s in spans}
    seen_stages: set[int] = set()
    attributed = by_overlap = 0
    for jid in sorted(log["jobs"]):
        job = log["jobs"][jid]
        sid = None
        g = job["group"] or ""
        if g.startswith(GROUP_PREFIX):
            sid = int(g[len(GROUP_PREFIX):])
        else:
            t = job["submit"] / 1000.0
            holding = [s for s in spans
                       if s["start"] <= t <= (s["end"] or float("inf"))]
            if holding:
                sid = max(holding, key=lambda s: s["start"])["id"]
                by_overlap += 1
        if sid is None or sid not in by_id:
            continue
        attributed += 1
        c = per_span[sid]
        c["jobs"] += 1
        end = job["end"] if job["end"] is not None else job["submit"]
        job_iv[sid].append((job["submit"] / 1000.0, end / 1000.0))
        for st_id in job["stages"]:
            if st_id in seen_stages or st_id not in log["stages"]:
                continue
            seen_stages.add(st_id)
            st = log["stages"][st_id]
            c["tasks"] += st["tasks"]
            c["exec_run_s"] += st["run_ms"] / 1000.0
            c["exec_cpu_s"] += st["cpu_ns"] / 1e9
            c["shuffle_bytes"] += st["shuffle_bytes"]
            c["spill_bytes"] += st["spill_bytes"]
    for s in spans:
        # jobs of child spans also keep the parent busy
        ivs = [iv for t in spans if _within(t, s, by_id) for iv in job_iv[t["id"]]]
        wall = s["end"] - s["start"]
        per_span[s["id"]]["driver_s"] = wall - _covered(ivs, s["start"], s["end"])
    return {"per_span": per_span, "jobs_total": len(log["jobs"]),
            "jobs_attributed": attributed, "jobs_by_overlap": by_overlap}


def _within(t: dict, s: dict, by_id: dict) -> bool:
    """True when span t is s or one of its descendants."""
    while t is not None:
        if t["id"] == s["id"]:
            return True
        t = by_id.get(t["parent"])
    return False


def self_time(spans: list[dict], sid: int) -> float:
    """A span's wall time minus the time its direct children cover."""
    s = next(x for x in spans if x["id"] == sid)
    kids = [(c["start"], c["end"]) for c in spans if c["parent"] == sid]
    return (s["end"] - s["start"]) - _covered(kids, s["start"], s["end"])
