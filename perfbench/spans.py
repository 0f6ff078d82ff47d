"""Spans around calls into the library, attributed to Spark work through
the event log.

Tracing lives entirely outside the library: a span times one call from
the benchmark into a layer's public function and sets a Spark job group
for it.  Spans stay in memory; after the session stops, the event log is
parsed and every job is attributed to each span whose wall interval
contains the job's submission time (one closed-loop client, so the
interval is unambiguous; it also catches streaming micro-batch jobs,
which run on the stream's own thread).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

#: the per-span metrics, in output order
SPAN_FIELDS = (
    "wall_s",
    "driver_s",
    "jobs",
    "tasks",
    "task_s",
    "shuffle_bytes",
    "spill_bytes",
    "python_s",
)

#: Spark's display names of the Python SQL metrics (PythonSQLMetrics)
_PY_TOTAL = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"


class Tracer:
    """Records spans when ``enabled``; a no-op context otherwise."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._seq += 1
        group = f"perfbench:{name}:{self._seq}"
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append({"name": name, "t0": t0, "t1": time.time()})
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def _accum(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def read_event_log(evt_dir: str) -> dict:
    """Jobs (submit/end ms, stage ids) and per-stage task sums."""
    # a rolling event log is a directory of event files
    files = sorted(
        f
        for f in glob.glob(os.path.join(evt_dir, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    failed_tasks = 0
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": e.get("Stage IDs", []),
                    }
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    st = stages.setdefault(
                        e["Stage ID"],
                        {
                            "tasks": 0,
                            "task_s": 0.0,
                            "shuffle_bytes": 0.0,
                            "spill_bytes": 0.0,
                            "python_s": 0.0,
                            "python_sent": 0.0,
                            "python_received": 0.0,
                        },
                    )
                    info = e.get("Task Info", {})
                    if info.get("Failed"):
                        failed_tasks += 1
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    st["tasks"] += 1
                    st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st["python_s"] += _accum(info, _PY_TOTAL) / 1e3  # a ms timing metric
                    st["python_sent"] += _accum(info, _PY_SENT)
                    st["python_received"] += _accum(info, _PY_RECEIVED)
    return {"jobs": jobs, "stages": stages, "failed_tasks": failed_tasks}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_records(spans: list[dict], log: dict) -> list[dict]:
    """One record per span: wall, driver time, and the Spark work of the
    jobs submitted inside it (nested spans are inclusive)."""
    # a stage listed by several jobs ran in the first of them; later
    # jobs list it as skipped, so its tasks are counted once
    owned: dict[int, list[int]] = {}
    seen: set[int] = set()
    for jid in sorted(log["jobs"]):
        fresh = [s for s in log["jobs"][jid]["stages"] if s not in seen]
        seen.update(fresh)
        owned[jid] = fresh
    jobs = sorted(
        (j["submit"], j["end"] if j["end"] is not None else j["submit"], owned[jid])
        for jid, j in log["jobs"].items()
    )
    out = []
    for s in spans:
        t0, t1 = s["t0"], s["t1"]
        mine = [j for j in jobs if t0 <= j[0] <= t1]
        rec = {
            "name": s["name"],
            "wall_s": t1 - t0,
            "driver_s": max(
                0.0,
                (t1 - t0)
                - _union_len([(lo, min(hi, t1)) for lo, hi, _ in mine]),
            ),
            "jobs": len(mine),
            "tasks": 0,
            "task_s": 0.0,
            "shuffle_bytes": 0.0,
            "spill_bytes": 0.0,
            "python_s": 0.0,
            "python_sent": 0.0,
            "python_received": 0.0,
        }
        for _, _, stage_ids in mine:
            for sid in stage_ids:
                st = log["stages"].get(sid)
                if st is None:  # listed but never run
                    continue
                for k in ("tasks", "task_s", "shuffle_bytes", "spill_bytes",
                          "python_s", "python_sent", "python_received"):
                    rec[k] += st[k]
        out.append(rec)
    return out


def span_metrics(records: list[dict], names: list[str]) -> dict:
    """``<span>.<field>``: the per-call median over every call of the
    span; 0 for spans this workload never opens."""
    out = {}
    for name in names:
        calls = [r for r in records if r["name"] == name]
        for field in SPAN_FIELDS:
            vals = [r[field] for r in calls]
            out[f"{name}.{field}"] = statistics.median(vals) if vals else 0.0
    return out
