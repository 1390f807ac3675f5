"""Spans recorded by the benchmark around each public call, and their
per-layer numbers read back from Spark's event log.

Tracing off, a span is only a wall-clock timer. Tracing on, the span also
tags every Spark job it launches with ``sc.setJobGroup("<name>#<n>")``;
after ``spark.stop()`` :func:`layer_report` joins the uncompressed event
log to the spans. Nothing inside the program is changed.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: per-span fields, in report order
FIELDS = (
    "wall_s", "driver_s", "jobs", "stages", "executor_run_s", "executor_cpu_s",
    "gc_s", "python_s", "arrow_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "input_bytes", "spill_bytes",
)


def unit(field: str) -> str:
    if field in ("jobs", "stages"):
        return "count"
    return "bytes" if field.endswith("_bytes") else "s"


#: SQL metrics of the Python-evaluating plan nodes (MapInPandas,
#: FlatMapGroupsInPandas, ArrowEvalPython, ...), as named in the event log
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def event_log_conf(directory: str) -> dict[str, str]:
    """``get_spark(extra_conf=...)`` settings that write a plain-JSON log."""
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
    }


class Spans:
    """Sequential spans of one client thread."""

    def __init__(self):
        self.sc = None  # set once the session exists (tracing only)
        self.records: list[tuple[str, str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        group = f"{name}#{len(self.records)}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.records.append((name, group, t0, t1))

    def wall(self, name: str) -> list[float]:
        return [t1 - t0 for n, _, t0, t1 in self.records if n == name]


def read_event_log(directory: str) -> list[dict]:
    files = glob.glob(os.path.join(directory, "eventlog_v2_*", "events_*"))
    if not files:  # non-rolling layout: one file per application
        files = [f for f in glob.glob(os.path.join(directory, "*")) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {directory}")
    files.sort(key=lambda f: int(os.path.basename(f).split("_")[1])
               if os.path.basename(f).startswith("events_") else 0)
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -1.0
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_report(records: list[tuple], events: list[dict]) -> dict[str, dict]:
    """span name -> fields summed over the given span records, plus
    ``calls`` and ``calls_without_jobs``. Jobs without a group (launched
    while the session itself starts) go to the span whose interval holds
    them."""
    job_group, job_iv, stage_group, stage_tag = {}, {}, {}, {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerStageSubmitted":
            tag = (e.get("Properties") or {}).get("spark.jobGroup.id")
            stage_tag[e["Stage Info"]["Stage ID"]] = tag
        elif ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_iv[jid] = [e["Submission Time"], None]
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, jid)
        elif ev == "SparkListenerJobEnd":
            job_iv[e["Job ID"]][1] = e["Completion Time"]
    by_group = {g: (n, t0 * 1000, t1 * 1000) for n, g, t0, t1 in records}
    job_span: dict[int, str] = {}
    for jid, group in job_group.items():
        if group not in by_group:
            start = job_iv[jid][0]
            group = next((g for g, (_, a, b) in by_group.items() if a <= start <= b), None)
        if group is not None:
            job_span[jid] = group
    stage_span = {
        sid: stage_tag.get(sid) if stage_tag.get(sid) in by_group else job_span.get(jid)
        for sid, jid in stage_group.items()
    }

    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    jobs_of: dict[str, list] = defaultdict(list)
    for jid, group in job_span.items():
        jobs_of[group].append(jid)
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerStageCompleted":
            group = stage_span.get(e["Stage Info"]["Stage ID"])
            if group is not None:
                acc[group]["stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            group = stage_span.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if group is None or not m:
                continue
            a = acc[group]
            a["executor_run_s"] += m["Executor Run Time"] / 1e3
            a["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            a["gc_s"] += m["JVM GC Time"] / 1e3
            a["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            a["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            r = m["Shuffle Read Metrics"]
            a["shuffle_read_bytes"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
            a["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            for u in e["Task Info"].get("Accumulables", []):
                name = u.get("Name")
                if name == PY_TIME:
                    a["python_s"] += float(u["Update"]) / 1e3
                elif name in (PY_SENT, PY_RECV):
                    a["arrow_bytes"] += float(u["Update"])

    out: dict[str, dict] = {}
    for name, group, t0, t1 in records:
        o = out.setdefault(name, {f: 0.0 for f in FIELDS} | {"calls": 0, "calls_without_jobs": 0})
        jobs = jobs_of.get(group, [])
        covered = _union_ms([
            (max(job_iv[j][0], t0 * 1000), min(job_iv[j][1] or t1 * 1000, t1 * 1000))
            for j in jobs
        ])
        o["wall_s"] += t1 - t0
        o["driver_s"] += max(0.0, (t1 - t0) - covered / 1e3)
        o["jobs"] += len(jobs)
        o["calls"] += 1
        o["calls_without_jobs"] += int(not jobs)
        for f, v in acc.get(group, {}).items():
            o[f] += v
    return out


def per_op(report: dict[str, dict], ops: int) -> dict[str, float]:
    """Every field summed over all spans of a report, divided by ``ops``."""
    return {f: sum(r[f] for r in report.values()) / ops for f in FIELDS}
