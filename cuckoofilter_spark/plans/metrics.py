"""Per-stage task-metrics capture — the engine's performance counters.

The reference wraps its build/probe loops in Linux perf counters
(``benchmarks/linux-perf-events.h:1-98`` reads cycles / instructions /
cache misses around each timed section).  The distributed analogue of a
hardware counter is Spark's task-metrics stream: executor run/CPU time,
GC time, shuffle bytes in/out, spill, and peak execution memory, summed
over every task of every stage.  Spark publishes all of it through the
event log (``spark.eventLog.enabled`` — one JSON object per listener
event, a stable public format since Spark 1.x), which needs no UI, no
REST server, and no py4j callback listener.

Usage::

    conf = event_log_conf(log_dir)          # pass to get_spark(extra_conf=)
    ... run the job ...
    spark.stop()                            # flushes + finalizes the log
    metrics = parse_event_log(log_dir)      # aggregate + per-stage rows

The parser is pure file/JSON work (unit-testable without a session).
"""

from __future__ import annotations

import json
import pathlib


def event_log_conf(log_dir: str) -> dict:
    """Session confs that turn on the event log into ``log_dir``."""
    pathlib.Path(log_dir).mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": pathlib.Path(log_dir).resolve().as_uri(),
        "spark.eventLog.compress": "false",
    }


# (output key, Task Metrics field, nested group or None)
_FIELDS = (
    ("executor_run_time_ms", "Executor Run Time", None),
    ("executor_cpu_time_ns", "Executor CPU Time", None),
    ("jvm_gc_time_ms", "JVM GC Time", None),
    ("result_serialization_time_ms", "Result Serialization Time", None),
    ("memory_bytes_spilled", "Memory Bytes Spilled", None),
    ("disk_bytes_spilled", "Disk Bytes Spilled", None),
    ("input_bytes_read", "Bytes Read", "Input Metrics"),
    ("output_bytes_written", "Bytes Written", "Output Metrics"),
    ("shuffle_write_bytes", "Shuffle Bytes Written", "Shuffle Write Metrics"),
    ("shuffle_read_local_bytes", "Local Bytes Read", "Shuffle Read Metrics"),
    ("shuffle_read_remote_bytes", "Remote Bytes Read", "Shuffle Read Metrics"),
)


def _task_values(tm: dict) -> dict:
    out = {}
    for key, field, group in _FIELDS:
        src = tm.get(group, {}) if group else tm
        v = src.get(field)
        if isinstance(v, (int, float)):
            out[key] = int(v)
    pem = tm.get("Peak Execution Memory")
    if isinstance(pem, (int, float)):
        out["peak_execution_memory"] = int(pem)
    return out


def parse_event_log(log_dir: str, top_stages: int = 5) -> dict:
    """Aggregate task metrics from every event-log file under ``log_dir``.

    Returns totals summed over all tasks plus the ``top_stages`` most
    expensive stages by executor run time (with task counts and the
    first line of each stage's name, so a bench reader can map a hot
    stage back to the operator that planned it).  ``SparkListenerTaskEnd``
    carries the metrics; ``SparkListenerStageCompleted`` carries names.
    """
    totals: dict = {}
    per_stage: dict[int, dict] = {}
    stage_names: dict[int, str] = {}
    failed = 0
    # Spark 3 writes one file per app; Spark 4 defaults to the rolling
    # v2 layout — a directory per app holding events_N_* part files
    # plus an empty appstatus_* marker. Recurse and take event files.
    files = sorted(p for p in pathlib.Path(log_dir).rglob("*")
                   if p.is_file() and not p.name.startswith(".")
                   and not p.name.startswith("appstatus_"))
    for path in files:
        with open(path, "r", encoding="utf-8", errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # torn tail line of an .inprogress log
                kind = ev.get("Event")
                if kind == "SparkListenerStageCompleted":
                    si = ev.get("Stage Info", {})
                    sid = si.get("Stage ID")
                    if sid is not None:
                        stage_names[sid] = str(
                            si.get("Stage Name", "")).splitlines()[0][:120]
                elif kind == "SparkListenerTaskEnd":
                    if (ev.get("Task End Reason") or {}).get(
                            "Reason") not in (None, "Success"):
                        failed += 1
                        continue
                    vals = _task_values(ev.get("Task Metrics") or {})
                    sid = ev.get("Stage ID", -1)
                    row = per_stage.setdefault(sid, {"tasks": 0})
                    row["tasks"] += 1
                    for k, v in vals.items():
                        if k == "peak_execution_memory":
                            row[k] = max(row.get(k, 0), v)
                            totals[k] = max(totals.get(k, 0), v)
                        else:
                            row[k] = row.get(k, 0) + v
                            totals[k] = totals.get(k, 0) + v
    tasks = sum(r["tasks"] for r in per_stage.values())
    hot = sorted(per_stage.items(),
                 key=lambda kv: kv[1].get("executor_run_time_ms", 0),
                 reverse=True)[:top_stages]
    return {
        "tasks": tasks,
        "failed_tasks": failed,
        "stages": len(per_stage),
        **totals,
        "hot_stages": [
            {"stage_id": sid, "name": stage_names.get(sid, ""), **row}
            for sid, row in hot
        ],
    }
