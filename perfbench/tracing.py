"""Spans around the benchmark's calls into the library, and Spark task
metrics attributed to them.

Each span sets the Spark job group to its own id while it is open, so
every job a call starts carries the span's id into the event log
(``spark.jobGroup.id`` in the job's properties). After the session
stops, ``attribute_event_log`` sums the task metrics of each group.
Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import pathlib
import time
from collections import defaultdict

RUN_GROUP = "perfbench"


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only keeps the
    run-wide job group in place and records nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.trace_id: int | None = None
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        sc.setJobGroup(RUN_GROUP, "perfbench run")

    def _group(self, sid: int | None) -> str:
        return RUN_GROUP if sid is None else f"{RUN_GROUP}-{sid}"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"trace": self.trace_id, "id": sid, "parent": parent,
               "name": name, "group": self._group(sid)}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.sc.setJobGroup(self._group(parent), "perfbench run")

    @contextlib.contextmanager
    def op(self, trace_id: int):
        """Root span of one closed-loop operation; its children share
        ``trace_id``."""
        self.trace_id = trace_id
        with self.span("op"):
            yield
        self.trace_id = None

    def groups(self) -> set[str]:
        """Every job group this tracer has set."""
        return {RUN_GROUP} | {s["group"] for s in self.spans}


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def run_task_counts(sc, groups) -> tuple[int, int]:
    """(tasks run, tasks failed) over every job of the job ``groups``,
    read from the live status tracker (no event log needed)."""
    tracker = sc.statusTracker()
    stages = set()
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
    tasks = failed = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is not None:
            tasks += st.numCompletedTasks + st.numFailedTasks
            failed += st.numFailedTasks
    return tasks, failed


def attribute_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics summed per job group from the event log files under
    ``log_dir``: jobs, tasks, failed tasks, executor run / CPU / GC
    time, shuffle write and spill bytes, and peak execution memory."""
    from cuckoofilter_spark.plans.metrics import _task_values

    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    files = sorted(p for p in pathlib.Path(log_dir).rglob("*")
                   if p.is_file() and not p.name.startswith(".")
                   and not p.name.startswith("appstatus_"))
    for path in files:
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # torn tail line of an in-progress log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    row = out[stage_group.get(ev.get("Stage ID"), "")]
                    row["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason not in (None, "Success"):
                        row["failed_tasks"] += 1
                    vals = _task_values(ev.get("Task Metrics") or {})
                    row["executor_run_s"] += vals.get(
                        "executor_run_time_ms", 0) / 1e3
                    row["executor_cpu_s"] += vals.get(
                        "executor_cpu_time_ns", 0) / 1e9
                    row["gc_s"] += vals.get("jvm_gc_time_ms", 0) / 1e3
                    row["shuffle_write_bytes"] += vals.get(
                        "shuffle_write_bytes", 0)
                    row["spill_bytes"] += (vals.get("memory_bytes_spilled", 0)
                                           + vals.get("disk_bytes_spilled", 0))
                    row["peak_exec_mem_bytes"] = max(
                        row["peak_exec_mem_bytes"],
                        vals.get("peak_execution_memory", 0))
    return {g: dict(v) for g, v in out.items()}
