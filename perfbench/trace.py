"""Spans around the benchmark's own calls, and the Spark event-log ledger.

A traced run wraps every benchmark-side call in a span (name, module,
start, end, parent; one id per op) and, for the calls that run Spark
jobs, sets the span id as the Spark job group. After the run the event
log is parsed and each job, stage and task is attributed to the span
whose id is its job group. Spans live in memory and are written once,
at exit.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time

from .common import driver_gap, union_length


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled, self.sc = enabled, sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, module: str, group: bool = False, **attrs):
        """Time a call. ``group`` tags the Spark jobs it runs with the span
        id (traced runs only). Yields the span dict; ``end`` is set on exit."""
        sp = {"id": f"s{next(self._ids)}", "name": name, "module": module,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "start": time.time(), "end": None, **attrs}
        tag = sp["grouped"] = self.enabled and group and self.sc is not None
        if tag:
            self.sc.setJobGroup(sp["id"], name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if tag:
                outer = next((s for s in reversed(self._stack) if s.get("grouped")), None)
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(outer["id"], outer["name"])
            if self.enabled:
                self.spans.append(sp)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> its wall minus the part covered by its direct children."""
    kids: dict[str, list] = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
            for s in spans}


# -- event log ---------------------------------------------------------------

def _stored(rdd: dict) -> bool:
    lvl = rdd.get("Storage Level") or {}
    return bool(lvl.get("Use Memory") or lvl.get("Use Disk") or lvl.get("Use OffHeap"))


def parse_event_log(path: str) -> dict:
    """Jobs, stages and tasks of one Spark event log (uncompressed JSON
    lines). Times are epoch seconds; a stage belongs to the first job
    that listed it, which is the job whose tasks ran it."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                             "desc": props.get("spark.job.description"),
                             "start": ev["Submission Time"] / 1e3, "end": None,
                             "stages": []}
                for st in ev.get("Stage Infos", []):
                    sid = st["Stage ID"]
                    stage_job.setdefault(sid, jid)
                    if stage_job[sid] == jid:
                        jobs[jid]["stages"].append(sid)
                        stages.setdefault(sid, _new_stage(sid, jid))
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, _new_stage(sid, stage_job.get(sid)))
                tm = ev.get("Task Metrics") or {}
                st["n_tasks"] += 1
                st["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
                st["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                inp = tm.get("Input Metrics") or {}
                st["input_bytes"] += inp.get("Bytes Read", 0)
                st["input_records"] += inp.get("Records Read", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"],
                                       _new_stage(info["Stage ID"], stage_job.get(info["Stage ID"])))
                st["stored_rdds"] = {r["RDD ID"] for r in info.get("RDD Info", []) if _stored(r)}
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return {"jobs": jobs, "stages": stages}


def _new_stage(sid: int, jid) -> dict:
    return {"id": sid, "job": jid, "n_tasks": 0, "task_s": 0.0, "spill_bytes": 0,
            "shuffle_write_bytes": 0, "input_bytes": 0, "input_records": 0,
            "stored_rdds": set()}


def load_event_log(log_dir: str) -> dict:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    files = files or glob.glob(os.path.join(log_dir, "*"))
    if not files:
        return {"jobs": {}, "stages": {}}
    return parse_event_log(max(files, key=os.path.getmtime))


def group_ledger(log: dict, group: str, wall: tuple[float, float], cores: int) -> dict:
    """The layer row of one job group over the call interval ``wall``."""
    jobs = [j for j in log["jobs"].values() if j["group"] == group]
    stages = [log["stages"][s] for j in jobs for s in j["stages"] if s in log["stages"]]
    ran = [s for s in stages if s["n_tasks"]]
    task_s = sum(s["task_s"] for s in ran)
    dur = max(wall[1] - wall[0], 1e-9)
    scans = [s["n_tasks"] for s in ran if s["input_bytes"] or s["input_records"]]
    return {
        "wall_s": dur,
        "n_jobs": len(jobs),
        "n_stages": len(ran),
        "driver_gap_s": driver_gap(wall, [(j["start"], j["end"]) for j in jobs]),
        "task_s": task_s,
        "core_util": task_s / (dur * cores),
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in ran) / 2**20,
        "spill_mb": sum(s["spill_bytes"] for s in ran) / 2**20,
        "scan_mb": sum(s["input_bytes"] for s in ran) / 2**20,
        "rows_scanned": sum(s["input_records"] for s in ran),
        "max_scan_tasks": max(scans, default=0),
        "materializations": len(set().union(*[s["stored_rdds"] for s in stages])),
    }


def sum_rows(rows: list[dict], cores: int) -> dict:
    """Fold ledger rows of several calls; core_util is re-derived."""
    out: dict = {}
    for r in rows:
        for k, v in r.items():
            if k == "max_scan_tasks":
                out[k] = max(out.get(k, 0), v)
            elif k != "core_util":
                out[k] = out.get(k, 0) + v
    if rows:
        out["core_util"] = out["task_s"] / (max(out["wall_s"], 1e-9) * cores)
    return out
