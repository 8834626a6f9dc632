"""Task-metrics capture (SURVEY §2 #47 — the linux-perf-events.h
analogue): event-log parsing on synthetic logs, plus one subprocess
integration drive (a live event-logged session can't share the pytest
session fixture — local-mode getOrCreate would reuse it and silently
drop the eventLog confs)."""
import json
import os
import subprocess
import sys

from cuckoofilter_spark.plans.metrics import event_log_conf, parse_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _task_end(stage_id, run_ms, cpu_ns, shuf_write=0, in_bytes=0,
              peak=0, reason="Success"):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 0,
            "Peak Execution Memory": peak,
            "Input Metrics": {"Bytes Read": in_bytes},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuf_write},
            "Shuffle Read Metrics": {"Local Bytes Read": 0,
                                     "Remote Bytes Read": 0},
        },
    }


def test_parse_event_log_synthetic(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart", "App Name": "x"},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0,
                        "Stage Name": "count at Build.scala:1\ndetails"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Stage Name": "probe"}},
        _task_end(0, 100, 90_000_000, shuf_write=500, in_bytes=4096,
                  peak=1 << 20),
        _task_end(0, 50, 40_000_000, shuf_write=250, peak=1 << 19),
        _task_end(1, 300, 250_000_000, in_bytes=8192, peak=1 << 21),
        # failed task: excluded from sums, counted separately
        _task_end(1, 999, 999, reason="TaskKilled"),
    ]
    log = tmp_path / "local-123"
    log.write_text("\n".join(json.dumps(e) for e in events)
                   + "\n{torn line", encoding="utf-8")

    m = parse_event_log(str(tmp_path))
    assert m["tasks"] == 3
    assert m["failed_tasks"] == 1
    assert m["stages"] == 2
    assert m["executor_run_time_ms"] == 450
    assert m["executor_cpu_time_ns"] == 380_000_000
    assert m["shuffle_write_bytes"] == 750
    assert m["input_bytes_read"] == 12_288
    assert m["peak_execution_memory"] == 1 << 21  # max, not sum
    # hot stages ranked by run time, names attached first-line-only
    assert m["hot_stages"][0]["stage_id"] == 1
    assert m["hot_stages"][1]["stage_id"] == 0
    assert m["hot_stages"][1]["name"] == "count at Build.scala:1"
    assert m["hot_stages"][1]["tasks"] == 2


def test_event_log_conf_shape(tmp_path):
    conf = event_log_conf(str(tmp_path / "ev"))
    assert conf["spark.eventLog.enabled"] == "true"
    assert conf["spark.eventLog.dir"].startswith("file:")
    assert (tmp_path / "ev").is_dir()


def test_task_metrics_capture_live(tmp_path):
    """End-to-end: an event-logged session running a real build+probe
    yields nonzero counters. Subprocess-isolated (see module docstring);
    1k docs keep it to one small build."""
    script = tmp_path / "drive.py"
    script.write_text(f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from cuckoofilter_spark.plans.metrics import event_log_conf, parse_event_log
from cuckoofilter_spark.session import get_spark
from cuckoofilter_spark.sketch.membership import (cuckoo_build,
                                                  cuckoo_contains_col)
from cuckoofilter_spark.sources.tokens import tokens_table

vocab = 50_000
spark = get_spark("metrics-live", cores=4,
                  extra_conf=event_log_conf({str(tmp_path / "ev")!r}))
toks = tokens_table(spark, 1_000, seed=42, vocab_size=vocab)
cf = cuckoo_build(toks, "tokens", capacity=vocab, bits=12, seed=0x5EED,
                  num_shards=32, stable=True)
fp = spark.range(vocab, vocab + 20_000_000).where(
    cuckoo_contains_col(spark, cf, "id")).count()
spark.stop()
m = parse_event_log({str(tmp_path / "ev")!r})
m["probe_false_positives"] = fp
print(json.dumps(m))
""", encoding="utf-8")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    p = subprocess.run([sys.executable, str(script)], capture_output=True,
                       text=True, timeout=420, env=env, cwd=str(tmp_path))
    assert p.returncode == 0, p.stderr[-2000:]
    m = json.loads(p.stdout.strip().splitlines()[-1])
    assert m["tasks"] > 0
    assert m["stages"] >= 3  # token gen/agg, build shuffle, probe
    assert m["executor_run_time_ms"] > 0
    assert m["executor_cpu_time_ns"] > 0
    assert m["shuffle_write_bytes"] > 0  # the groupBy(shard) exchange
    assert m["peak_execution_memory"] >= 0
    # 12-bit tags: eps bound 2*4/2^12 ≈ 0.195%, observed ~0.18%
    assert m["probe_false_positives"] <= 0.0025 * 20_000_000
    assert m["hot_stages"] and m["hot_stages"][0]["executor_run_time_ms"] > 0
