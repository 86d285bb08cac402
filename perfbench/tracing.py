"""Spans around the benchmark's calls into the program, and the fold of
Spark's event log into per-span stage and task numbers.

A span has a name, a start, an end, a parent and the run's trace id. When
a SparkContext is attached, every action inside a span carries the job
description ``<trace_id>#<span id>``, so the event log's jobs fold back
onto the span that issued them. With tracing off a span does nothing.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, spark) -> None:
        if self.enabled:
            self._sc = spark.sparkContext

    def _describe(self) -> None:
        if self._sc is not None:
            sid = self._stack[-1] if self._stack else None
            self._sc.setJobDescription(None if sid is None else f"{self.trace_id}#{sid}")

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace_id": self.trace_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._describe()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._describe()


# SQL metrics of the Python-boundary operators (ArrowEvalPython,
# MapInArrow, ...), summed over tasks.
PY_METRICS = {
    "data sent to Python workers": "bytes_to_worker",
    "data returned from Python workers": "bytes_from_worker",
    "time to start Python workers": "worker_start_ms",
    "time to initialize Python workers": "worker_init_ms",
    "time to run Python workers": "worker_run_ms",
}


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application logged under ``log_dir``."""
    (path,) = glob.glob(f"{log_dir}/*")
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _acc_value(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold(events: list[dict], trace_id: str) -> dict:
    """Per span id: the stages and tasks of the jobs it issued.

    Returns ``{span_id: {"jobs": n, "scan_file_bytes": b, "stages": [...]}}``
    where a stage is ``{"scan": bool, "python": {metric: value}, "tasks":
    [task]}`` and a task is a dict of the task metrics the benchmark
    reports. ``scan_file_bytes`` is the size of the files the span's scans
    selected: the scan's ``size of files read`` SQL metric, because the
    tasks' input-bytes metric misses parquet's vectored reads.
    """
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    exec_span: dict[int, int] = {}
    size_accs: set = set()
    size_value: dict[tuple, float] = {}
    prefix = f"{trace_id}#"

    def entry(sid: int) -> dict:
        return out.setdefault(sid, {"jobs": 0, "scan_file_bytes": 0.0, "stages": []})

    for e in events:
        kind = e.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            desc = e.get("description") or ""
            if kind.endswith("SQLExecutionStart") and desc.startswith(prefix):
                exec_span[e["executionId"]] = int(desc[len(prefix) :])
            todo = [e["sparkPlanInfo"]]
            while todo:
                node = todo.pop()
                todo.extend(node.get("children", []))
                size_accs.update(
                    m["accumulatorId"] for m in node.get("metrics", [])
                    if m["name"] == "size of files read"
                )
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in e["accumUpdates"]:
                if acc in size_accs:
                    size_value[(e["executionId"], acc)] = value
        elif kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            if not desc.startswith(prefix):
                continue
            sid = int(desc[len(prefix) :])
            entry(sid)["jobs"] += 1
            # a later job lists a reused shuffle stage again, as skipped
            for st in e.get("Stage IDs", []):
                stage_span.setdefault(st, sid)
        elif kind == "SparkListenerTaskEnd":
            st = e["Stage ID"]
            if st not in stage_span:
                continue
            key = (st, e.get("Stage Attempt ID", 0))
            stage = stages.setdefault(key, {"scan": False, "python": {}, "tasks": []})
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            inp = m.get("Input Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            outm = m.get("Output Metrics") or {}
            stage["tasks"].append(
                {
                    "run_ms": m.get("Executor Run Time", 0),
                    "input_records": inp.get("Records Read", 0),
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_records": sw.get("Shuffle Records Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "output_bytes": outm.get("Bytes Written", 0),
                    "output_records": outm.get("Records Written", 0),
                }
            )
            for acc in info.get("Accumulables", []):
                name = PY_METRICS.get(acc.get("Name"))
                if name is not None:
                    stage["python"][name] = stage["python"].get(name, 0.0) + _acc_value(
                        acc.get("Update")
                    )
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if info["Stage ID"] not in stage_span:
                continue
            stage = stages.setdefault(key, {"scan": False, "python": {}, "tasks": []})
            stage["scan"] = any(
                r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])
            )
    for (st, _), stage in stages.items():
        out[stage_span[st]]["stages"].append(stage)
    for (ex, _), value in size_value.items():
        if ex in exec_span:
            entry(exec_span[ex])["scan_file_bytes"] += value
    return out
