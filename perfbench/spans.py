"""Spans recorded around calls into the package, and the Spark event-log
reader that attributes stage metrics to the layer that issued the job.

A traced unit is a sequence of *phases*: the tracer switches phase at each
layer boundary it can see from outside the package (a call into a layer's
public function, or the return of the lazy ``with_sink_id`` that precedes
the inline route write), tags the phase with ``setJobGroup`` so Spark jobs
carry the layer name into the event log, and keeps the spans in memory.
Phases tile the unit's interval, so the unit span has no self time and the
layer self times sum to the unit's wall time by construction.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._root: dict | None = None
        self._phase: dict | None = None

    def _open(self, name: str, parent: dict | None) -> dict:
        span = {
            "id": next(self._ids), "name": name, "start": time.perf_counter(),
            "end": None, "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
        }
        self.spans.append(span)
        return span

    @contextmanager
    def unit(self, name: str):
        """Root span of one end-to-end unit; phases become its children."""
        self._root = self._open(name, None)
        try:
            yield self._root
        finally:
            self.enter(None)
            self._root["end"] = time.perf_counter()
            self._root = None
            self.sc.setJobGroup("untraced", "untraced")

    def enter(self, layer: str | None) -> None:
        """Close the current phase and open ``layer`` (``None`` = close only)."""
        now = time.perf_counter()
        if self._phase is not None:
            self._phase["end"] = now
            self._phase = None
        if layer is not None:
            self._phase = self._open(layer, self._root)
            self.sc.setJobGroup(layer, f"{layer} [{self.run_id}]")

    @property
    def layer(self) -> str | None:
        return self._phase["name"] if self._phase else None

    def around(self, fn, layer: str):
        """Wrap ``fn`` so its call runs in phase ``layer``, then the phase
        that was current before it resumes."""

        def wrapped(*args, **kwargs):
            prev = self.layer
            self.enter(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.enter(prev)

        return wrapped

    def then(self, fn, layer: str):
        """Wrap ``fn`` so phase ``layer`` starts when it returns."""

        def wrapped(*args, **kwargs):
            out = fn(*args, **kwargs)
            self.enter(layer)
            return out

        return wrapped

    def switch(self, fn, layer: str):
        """Wrap ``fn`` so phase ``layer`` starts when it is called and stays."""

        def wrapped(*args, **kwargs):
            self.enter(layer)
            return fn(*args, **kwargs)

        return wrapped

    def phase_seconds(self) -> dict[str, float]:
        """Self time per layer: phases have no children, so a phase's
        duration is its self time; repeated phases of one name add up."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)


# -- event log --------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"
PY_RUN = "time to run Python workers"  # ms


def _acc(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def read_event_log(path: str) -> dict:
    """Parse an uncompressed, non-rolling Spark JSON event log into per-job
    and per-stage records (task metrics summed per stage)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: {
        "tasks": [], "run_ms": 0.0, "gc_ms": 0.0, "shuffle_write": 0.0,
        "spill": 0.0, "output_bytes": 0.0,
        "py_sent": 0.0, "py_back": 0.0, "py_run_ms": 0.0,
        "submitted": None, "completed": None,
    })
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "query_id": props.get("sql.streaming.queryId"),
                    "description": props.get("spark.job.description") or "",
                    "start": ev.get("Submission Time"), "end": None,
                    "stages": list(ev.get("Stage IDs", ())),
                }
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages[info["Stage ID"]]
                st["submitted"] = info.get("Submission Time")
                st["completed"] = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                st["tasks"].append(ti["Finish Time"] - ti["Launch Time"])
                st["run_ms"] += tm.get("Executor Run Time", 0)
                st["gc_ms"] += tm.get("JVM GC Time", 0)
                st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
                st["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                st["py_sent"] += _acc(ti, PY_SENT)
                st["py_back"] += _acc(ti, PY_BACK)
                st["py_run_ms"] += _acc(ti, PY_RUN)
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": dict(stages)}


def task_skew(durations: list[float]) -> float:
    """max ÷ median task time of one stage (1.0 = perfectly even)."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0


def group_totals(log: dict, select) -> dict:
    """Sum stage metrics over jobs for which ``select(job)`` is true."""
    tot = {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
           "py_sent_mb": 0.0, "py_back_mb": 0.0, "py_run_s": 0.0, "stages": []}
    for st in log["stages"].values():
        job = log["jobs"].get(st["job"])
        if job is None or not select(job) or not st["tasks"]:
            continue
        tot["task_s"] += st["run_ms"] / 1e3
        tot["gc_s"] += st["gc_ms"] / 1e3
        tot["shuffle_write_mb"] += st["shuffle_write"] / 1e6
        tot["spill_mb"] += st["spill"] / 1e6
        tot["py_sent_mb"] += st["py_sent"] / 1e6
        tot["py_back_mb"] += st["py_back"] / 1e6
        tot["py_run_s"] += st["py_run_ms"] / 1e3
        tot["stages"].append(st)
    return tot
