"""Per-layer counters for the traced run, taken from outside the program.

``Layers`` wraps public entry points (``catalog.load_table`` and the
public table-format write calls) with call counters and timers, and
``event_log_metrics`` reads Spark's own event log after the session
stops, attributing every job, stage and task to the benchmark operation
during which the job was submitted. Streaming micro-batch jobs run on
the stream's own thread, so time, not job groups, is the attribution key.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict

TABLEFORMAT_WRITES = ("create", "append", "merge", "merge_on_read", "overwrite", "delete_where", "publish")
PYTHON_BYTES_ACCUMULATOR = "data sent to Python workers"


class Layers:
    """Call counts and seconds per wrapped layer; nested calls into the
    same layer (a public write calling another) count once."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.secs: dict[str, float] = defaultdict(float)
        self._depth = threading.local()

    def _wrap(self, layer: str, fn):
        def wrapped(*args, **kwargs):
            depth = getattr(self._depth, layer, 0)
            setattr(self._depth, layer, depth + 1)
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                setattr(self._depth, layer, depth)
                if depth == 0:
                    self.calls[layer] += 1
                    self.secs[layer] += time.perf_counter() - t

        wrapped.__wrapped__ = fn
        return wrapped

    def install(self) -> None:
        """Patch every binding of the wrapped functions: modules that ran
        ``from pypiper_spark.catalog import load_table`` hold their own."""
        from pypiper_spark import catalog, tableformat

        original = catalog.load_table
        wrapped = self._wrap("catalog.load_table", original)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("pypiper_spark") and getattr(mod, "load_table", None) is original:
                mod.load_table = wrapped
        for name in TABLEFORMAT_WRITES:
            setattr(tableformat, name, self._wrap("tableformat.commit", getattr(tableformat, name)))

    def snapshot(self) -> dict[str, tuple[int, float]]:
        return {k: (self.calls[k], self.secs[k]) for k in set(self.calls) | set(self.secs)}


def _read_events(events_dir: str):
    for dp, _, files in os.walk(events_dir):
        for f in sorted(files):
            if not f.startswith("events_"):  # skip appstatus and .crc files
                continue
            with open(os.path.join(dp, f)) as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1000.0


def event_log_metrics(events_dir: str, ops: list[dict]) -> None:
    """Add Spark-side counters to each operation record in ``ops`` (each
    has epoch-ms ``t0``/``t1``) in place, under ``rec["spark"]``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: list[int] = []
    tasks: list[dict] = []
    for ev in _read_events(events_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"start": ev["Submission Time"], "end": ev["Submission Time"]}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stages_done.append(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    starts = sorted((r["t0"], i) for i, r in enumerate(ops))
    job_op: dict[int, int] = {}
    for jid, j in jobs.items():
        for t0, i in starts:
            if t0 <= j["start"] <= ops[i]["t1"]:
                job_op[jid] = i
                break
    for rec in ops:
        rec["spark"] = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
             "python_bytes"), 0)
        rec["spark"]["job_spans"] = []
    for jid, i in job_op.items():
        ops[i]["spark"]["jobs"] += 1
        ops[i]["spark"]["job_spans"].append((jobs[jid]["start"], jobs[jid]["end"]))
    for sid in stages_done:
        i = job_op.get(stage_job.get(sid, -1))
        if i is not None:
            ops[i]["spark"]["stages"] += 1
    for ev in tasks:
        i = job_op.get(stage_job.get(ev.get("Stage ID"), -1))
        m = ev.get("Task Metrics") or {}
        if i is None or not m:
            continue
        s = ops[i]["spark"]
        s["tasks"] += 1
        s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        rd = m.get("Shuffle Read Metrics", {})
        s["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        s["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        s["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        for acc in ev.get("Task Info", {}).get("Accumulables", []):
            if acc.get("Name") == PYTHON_BYTES_ACCUMULATOR:
                s["python_bytes"] += int(acc.get("Update", 0))


def pass_driver_gap_s(wall_s: float, ops: list[dict]) -> float:
    """Pass wall time minus the union of its job intervals (jobs overlap,
    so their durations are not summed)."""
    spans = [span for rec in ops for span in rec["spark"]["job_spans"]]
    return wall_s - _union_s(spans)
