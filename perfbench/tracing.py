"""Per-layer tracing: spans around calls into each layer, Spark job groups,
and an event-log collector that attributes task metrics to job groups.

Untraced runs use ``NullTracer``, whose spans cost one attribute lookup.
A traced run names every span's job group ``<call>|<layer>``; Spark copies
the group into each job's ``spark.jobGroup.id`` property, and the event log
(written uncompressed) maps every ``SparkListenerTaskEnd`` to its stage's
job and so to the span that submitted it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

import numpy as np

_NULL = contextlib.nullcontext()


class NullTracer:
    enabled = False

    def span(self, name: str):
        return _NULL

    def note(self, name: str, value: float) -> None:
        pass


class Tracer:
    """Spans and counts of one traced run, kept in memory until the end."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.call = "setup"
        self.spans: list[dict] = []  # name, call, start, end
        self.notes: dict[str, list[float]] = defaultdict(list)
        self.groups_of_call: dict[str, set[str]] = defaultdict(set)

    def begin_call(self, call: str) -> None:
        """Jobs from here on, outside any span, belong to ``<call>|call``."""
        self.call = call
        self.groups_of_call[call].add(f"{call}|call")
        self.sc.setJobGroup(f"{call}|call", "")

    @contextlib.contextmanager
    def span(self, name: str):
        group = f"{self.call}|{name}"
        self.groups_of_call[self.call].add(group)
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans.append({"name": name, "call": self.call, "start": t0, "end": t1})
            self.sc.setJobGroup(f"{self.call}|call", "")

    def note(self, name: str, value: float) -> None:
        self.notes[name].append(float(value))

    def span_s(self, name: str, calls: set[str]) -> list[float]:
        """Per-call total time in spans named ``name``."""
        per = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["call"] in calls:
                per[s["call"]] += s["end"] - s["start"]
        return list(per.values())

    def job_counts(self, call: str) -> dict:
        """Exact jobs / stages / tasks of a call's groups, from the status
        tracker (stages that ran; skipped stages are not counted)."""
        st = self.sc.statusTracker()
        jobs, stages, tasks = 0, set(), 0
        for g in self.groups_of_call[call]:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0 and sid not in stages:
                        stages.add(sid)
                        tasks += si.numCompletedTasks
        return {"jobs": jobs, "stages": len(stages), "tasks": tasks}


def cached_storage(spark) -> tuple[int, float]:
    """(RDDs held by the block manager, their memory + disk MB)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    n = len(infos)
    size = sum(i.memSize() + i.diskSize() for i in infos)
    return n, size / 1e6


# -- event log -------------------------------------------------------------------

_PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_returned",
}


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single, uncompressed) application log."""
    events = []
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for p in paths:
        if not os.path.isfile(p) or p.endswith(".inprogress.crc"):
            continue
        with open(p, errors="replace") as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass  # a torn last line of an in-progress log
    return events


def task_metrics_by_group(events: list[dict]) -> dict[str, list[dict]]:
    """job group -> one record per finished task (times in seconds)."""
    stage_group: dict[int, str] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
    out: dict[str, list[dict]] = defaultdict(list)
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        g = stage_group.get(e.get("Stage ID"))
        if g is None:
            continue
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        rec = {
            "stage": (e.get("Stage ID"), e.get("Stage Attempt ID")),
            "run_s": m.get("Executor Run Time", 0) / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        }
        for v in _PY_ACCUMS.values():
            rec[v] = 0.0
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            key = _PY_ACCUMS.get(acc.get("Name"))
            if key is not None:
                try:
                    rec[key] += float(acc.get("Update", 0))
                except (TypeError, ValueError):
                    pass
        out[g].append(rec)
    return out


def accumulable_names(events: list[dict]) -> list[str]:
    """Names of the task accumulables the log carries (for the run record)."""
    names = set()
    for e in events:
        if e.get("Event") == "SparkListenerTaskEnd":
            names.update(a.get("Name") for a in (e.get("Task Info") or {}).get("Accumulables", []))
    return sorted(n for n in names if n)


def summarize_tasks(tasks: list[dict]) -> dict:
    """Totals of one call's tasks, and the skew of its longest stage."""
    tot = {k: sum(t[k] for t in tasks) for k in (
        "cpu_s", "gc_s", "shuffle_read", "shuffle_write", "spill",
        "python_run_ms", "python_start_ms", "arrow_bytes_sent", "arrow_bytes_returned",
    )}
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["run_s"])
    skew = 1.0
    if by_stage:
        longest = max(by_stage.values(), key=sum)
        med = float(np.median(longest))
        skew = max(longest) / med if med > 0 else 1.0
    tot["task_skew"] = skew
    return tot
