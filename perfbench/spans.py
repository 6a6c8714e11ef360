"""Spans around the benchmark's calls into the engine, and a standard-library
reader that attributes a Spark event log's jobs to those spans.

A span records name, parent, start and end (epoch milliseconds, the clock
the event log uses). When a ``SparkContext`` is given, entering a span sets
the span's id as the Spark job group, so every job the call starts carries
that id in its ``spark.jobGroup.id`` property; leaving restores the parent's
group. Untraced runs use the same spans for timing only. The benchmark's
spans do not nest (each wraps one public call), so a span's self time is
its duration.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time() * 1000.0,
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time() * 1000.0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)


def union_ms(intervals) -> float:
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


def _plan_metric_names(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metric_names(child, out)


class EventLog:
    """Jobs, stages, tasks and SQL executions of one uncompressed JSON
    event log, keyed so that they can be grouped by span id."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.execs: dict[int, dict] = {}
        self.metric_names: dict[int, str] = {}
        self.driver_accums: dict[int, dict[int, float]] = {}
        self.stage_accums: dict[int, dict[str, float]] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"],
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "exec": int(exec_id) if exec_id is not None else None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            inp = tm.get("Input Metrics") or {}
            self.stage_tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                    "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                    "input": inp.get("Bytes Read", 0),
                }
            )
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            acc = {}
            for a in si.get("Accumulables", []):
                try:
                    acc[a["Name"]] = float(a["Value"])
                except (KeyError, TypeError, ValueError):
                    continue
            self.stage_accums[si["Stage ID"]] = acc
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.execs[ev["executionId"]] = {"plan": ev.get("physicalPlanDescription", "")}
            _plan_metric_names(ev.get("sparkPlanInfo", {}), self.metric_names)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = self.execs.setdefault(ev["executionId"], {"plan": ""})
            ex["plan"] += "\n" + ev.get("physicalPlanDescription", "")
            _plan_metric_names(ev.get("sparkPlanInfo", {}), self.metric_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            acc = self.driver_accums.setdefault(ev["executionId"], {})
            for acc_id, value in ev.get("accumUpdates", []):
                acc[acc_id] = acc.get(acc_id, 0) + value

    def jobs_of(self, span_ids: set[str]) -> list[dict]:
        return sorted(
            (j for j in self.jobs.values() if j["group"] in span_ids),
            key=lambda j: (j["start"], j["id"]),
        )

    def tasks_of(self, jobs: list[dict]) -> list[tuple[int, list[dict]]]:
        stage_ids = sorted({s for j in jobs for s in j["stages"]})
        return [(s, self.stage_tasks[s]) for s in stage_ids if s in self.stage_tasks]

    def driver_metric(self, jobs: list[dict], name: str) -> float:
        """Sum of a driver-side SQL metric (e.g. "number of files read")
        over the SQL executions the jobs belong to."""
        total = 0.0
        for ex in {j["exec"] for j in jobs if j["exec"] is not None}:
            for acc_id, value in self.driver_accums.get(ex, {}).items():
                if self.metric_names.get(acc_id) == name:
                    total += value
        return total

    def stage_metric(self, jobs: list[dict], name: str) -> float:
        """Sum of a task-side SQL metric over the stages of the jobs."""
        stage_ids = {s for j in jobs for s in j["stages"]}
        return sum(self.stage_accums.get(s, {}).get(name, 0.0) for s in stage_ids)


def task_summary(stages: list[tuple[int, list[dict]]]) -> dict[str, float]:
    """Σ task metrics over stages, and the skew (max ÷ median task time)
    of the stage with the largest total task time."""
    out = {"task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "spill_bytes": 0.0,
           "shuffle_bytes": 0.0, "input_bytes": 0.0, "skew": 0.0}
    heaviest, heaviest_total = None, -1.0
    for _, tasks in stages:
        total = sum(t["run_ms"] for t in tasks)
        out["task_s"] += total / 1000.0
        out["cpu_s"] += sum(t["cpu_ns"] for t in tasks) / 1e9
        out["gc_s"] += sum(t["gc_ms"] for t in tasks) / 1000.0
        out["spill_bytes"] += sum(t["spill"] for t in tasks)
        out["shuffle_bytes"] += sum(t["shuffle_w"] for t in tasks)
        out["input_bytes"] += sum(t["input"] for t in tasks)
        if total > heaviest_total:
            heaviest, heaviest_total = tasks, total
    if heaviest:
        durs = [t["dur_ms"] for t in heaviest]
        med = statistics.median(durs)
        out["skew"] = max(durs) / med if med > 0 else 1.0
    return out


ROLLUP_PHASES = ("fingerprint", "fine", "count", "coarse_1d", "coarse_7d")
_WRITE_TARGET = re.compile(r"Arguments: \S*tier=(1h|1d|7d),")
_READ_PHASE = {"1h": "count", "1d": "coarse_1d", "7d": "coarse_7d"}


def _classify(plan: str) -> str:
    """Phase of one ``run_rollup`` SQL execution, from its physical plan:
    a write is named by the tier directory it writes (the write node's
    ``Arguments:`` line), a query that only reads a tier is that tier's
    output count, and anything else scans the source (the fingerprint).
    Line numbers and call order inside the library play no part, so moving
    code in ``rollup/store.py`` cannot break it."""
    m = _WRITE_TARGET.search(plan)
    if m:
        return "fine" if m.group(1) == "1h" else _READ_PHASE[m.group(1)]
    for tier in ("7d", "1d", "1h"):
        if f"tier={tier}]" in plan:
            return _READ_PHASE[tier]
    return "fingerprint"


def rollup_phases(log: EventLog, span: dict) -> dict:
    """Split one ``run_rollup`` span's wall time into its phases plus
    driver time (wall minus the union of all its jobs). A job outside any
    SQL execution (file listing, schema read) joins the phase of the next
    execution in time order, or the last one if none follows."""
    jobs = log.jobs_of({span["id"]})
    phase_of: dict[int, str] = {}
    for j in jobs:
        if j["exec"] is not None:
            phase_of[j["id"]] = _classify(log.execs.get(j["exec"], {}).get("plan", ""))
    pending: list[int] = []
    last = None
    for j in jobs:
        if j["id"] in phase_of:
            for jid in pending:
                phase_of[jid] = phase_of[j["id"]]
            pending, last = [], phase_of[j["id"]]
        else:
            pending.append(j["id"])
    for jid in pending:
        if last is not None:
            phase_of[jid] = last
    wall = span["end"] - span["start"]
    out = {"wall_ms": wall, "unattributed_jobs": sum(1 for j in jobs if j["id"] not in phase_of)}
    for ph in ROLLUP_PHASES:
        pj = [j for j in jobs if phase_of.get(j["id"]) == ph]
        out[ph + "_ms"] = union_ms((j["start"], j["end"]) for j in pj)
        summary = task_summary(log.tasks_of(pj))
        out[ph + "_input_bytes"] = summary["input_bytes"]
        out[ph + "_shuffle_bytes"] = summary["shuffle_bytes"]
    out["driver_ms"] = wall - union_ms((j["start"], j["end"]) for j in jobs)
    covered = sum(out[ph + "_ms"] for ph in ROLLUP_PHASES) + out["driver_ms"]
    out["coverage"] = covered / wall if wall > 0 else 1.0
    return out
