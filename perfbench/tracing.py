"""Tracing from outside the package: perf_counter spans around layer
entry points, and per-stage metrics from Spark's event log.

``Spans`` replaces a module or instance attribute with a timing
wrapper and puts the original back on ``restore()``; nothing under
``jivesearch_spark/`` knows it is being traced. The untraced
benchmark path installs no wrapper at all.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Spans:
    """Named ``perf_counter`` totals plus counters, collected by
    wrappers installed with ``wrap``."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)
        self.counts: dict[str, int] = defaultdict(int)
        self._undo: list = []

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Time every call of ``owner.attr`` under span ``name``.
        ``on_result(args, result)`` may add counters from the call."""
        orig = getattr(owner, attr)
        had_own = attr in vars(owner)
        seconds, counts = self.seconds, self.counts

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                res = orig(*args, **kwargs)
            finally:
                seconds[name] += time.perf_counter() - t0
                counts[name] += 1
            if on_result is not None:
                on_result(args, res)
            return res

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, orig, had_own))

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig, had_own = self._undo.pop()
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)   # instance wrapper over a method


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Parse the single application log in ``log_dir`` into jobs,
    stages and per-task metrics (times in epoch ms, sizes in bytes)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {paths}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    with open(paths[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"],
                    "stages": list(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = {
                    "submit": info.get("Submission Time"),
                    "complete": info.get("Completion Time"),
                    "tasks": info["Number of Tasks"],
                }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks[ev["Stage ID"]].append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)),
                    "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "dur_ms": info["Finish Time"] - info["Launch Time"],
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def stage_totals(ev: dict, stage_ids) -> dict:
    """Executor, shuffle, spill, GC and skew totals over ``stage_ids``.

    ``task_skew`` is max / median task time of the stage with the most
    executor time among them (pooling tasks of different stages would
    compare unlike work)."""
    run = gc = spill = sr = sw = 0
    heaviest, heaviest_run = None, -1
    for sid in stage_ids:
        ts = ev["tasks"].get(sid, [])
        s_run = sum(t["run_ms"] for t in ts)
        run += s_run
        gc += sum(t["gc_ms"] for t in ts)
        spill += sum(t["spill"] for t in ts)
        sr += sum(t["shuffle_read"] for t in ts)
        sw += sum(t["shuffle_write"] for t in ts)
        if ts and s_run > heaviest_run:
            heaviest, heaviest_run = ts, s_run
    skew = 1.0
    if heaviest:
        med = statistics.median(t["dur_ms"] for t in heaviest)
        skew = max(t["dur_ms"] for t in heaviest) / med if med > 0 else 1.0
    mb = 1 / (1 << 20)
    return {"executor_run_s": run / 1e3, "shuffle_write_mb": sw * mb,
            "shuffle_read_mb": sr * mb, "spill_mb": spill * mb,
            "gc_s": gc / 1e3, "task_skew": skew}


def stages_completed_in(ev: dict, stage_ids, t0: float, t1: float) -> list[int]:
    """Those of ``stage_ids`` that completed in the epoch-second window
    (t0, t1]."""
    lo, hi = t0 * 1e3, t1 * 1e3
    return [sid for sid in stage_ids
            if ev["stages"][sid]["complete"] is not None
            and lo < ev["stages"][sid]["complete"] <= hi]


def group_jobs(ev: dict, group: str) -> list[dict]:
    return [j for j in ev["jobs"].values() if j["group"] == group]


def jobs_submitted_in(ev: dict, t0: float, t1: float) -> list[dict]:
    """Jobs submitted in the epoch-second window (t0, t1]."""
    lo, hi = t0 * 1e3, t1 * 1e3
    return [j for j in ev["jobs"].values() if lo < j["submit"] <= hi]


def job_stages(ev: dict, jobs: list[dict]) -> list[int]:
    """The stages of ``jobs`` that ran (skipped stages never complete)."""
    return sorted({s for j in jobs for s in j["stages"] if s in ev["stages"]})


def jobs_totals(ev: dict, jobs: list[dict], since: float | None = None) -> dict:
    """Wall time, task count and executor time of ``jobs``; with
    ``since`` (epoch seconds), also the wait from then to the first
    job's submission."""
    sids = job_stages(ev, jobs)
    wait = 0.0
    if since is not None and jobs:
        wait = max(0.0, min(j["submit"] for j in jobs) / 1e3 - since)
    return {
        "wait_s": wait,
        "job_s": sum(j["end"] - j["submit"] for j in jobs) / 1e3,
        "jobs": len(jobs),
        "tasks": sum(len(ev["tasks"].get(s, [])) for s in sids),
        "executor_run_s": sum(t["run_ms"] for s in sids
                              for t in ev["tasks"].get(s, [])) / 1e3,
    }
