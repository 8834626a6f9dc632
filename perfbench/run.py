"""The repository benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload build --seed 1 --seconds 12 --trace 0

Workloads (see README.md): ``build``, ``probe``, ``ingest``. One
caller runs the workload's operation back to back, each op starting
when the previous returns, for ``--seconds`` seconds, against the
library's public API at ``local[nproc]``. Inputs come from ``--seed``
and are generated in set-up.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans and the Spark event log and reports the per-layer metrics. The
last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it name every metric with its unit. A full record of the run
(host probe, every metric, spans) is written under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import sys
import time
import traceback

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"

SETUP_REPS = 3   # set-up is repeated and its median reported
MIN_OPS = 3      # timed ops per run, however long each takes
MAX_FAILED_OPS = 3

# The end-to-end metrics of the benchmark's design, printed by name on
# every run ("n/a" where a workload does not produce one). The JSON
# line carries the workload-independent metrics BENCHMARK.json lists;
# workload-specific per-layer ones (``sketch.<call>.*``, ``streaming.*``,
# ``sketch.probe.*``) are printed and recorded beside them.
NAMED = (
    ("setup_s", "s"), ("build_tok_per_s", "tok/s"),
    ("probe_keys_per_s", "keys/s"), ("ingest_tok_per_s", "tok/s"),
    ("ingest_batch_p50_s", "s"), ("ingest_batch_tail_s", "s"),
    ("peak_rss_mb", "MB"), ("fail_frac", "ratio"), ("cf_fpp", "ratio"),
    ("cf_bits_per_item", "bits"), ("hll_rel_err", "ratio"),
    ("cms_rel_overcount", "ratio"), ("kll_rank_err", "ratio"),
)

# Printed and recorded beside the JSON line's metrics, not bounded. Wall
# time moves with CPU steal on a shared host more than any bound allows;
# op_cpu_s carries the same information as the bounded items_per_cpu_s.
UNBOUNDED = (("items_per_s", "1/s"), ("op_p50_s", "s"), ("op_cpu_s", "cpu-s"))

# Spans whose Spark jobs are the sketch layer's work: the public sketch
# calls, and for ``ingest`` the streaming updates that wrap them.
SKETCH_SPANS = ("sketch.", "streaming.update.")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("build", "probe", "ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_heap(physical_bytes: int) -> str:
    """Driver heap for local mode: a quarter of physical memory, capped
    at 1 GB (``get_spark`` otherwise asks for 32 GB). The JVM only scans
    and shuffles small blobs here; the sketches live in Python workers."""
    return f"{min(1024, physical_bytes // 4 >> 20)}m"


def warm_workers(spark, cores: int) -> None:
    """Start one Python worker per core and import the library in it."""
    import pandas as pd

    def touch(batches):
        import cuckoofilter_spark.sketch.aggregates  # noqa: F401
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"] * 0})

    spark.range(cores * 1024, numPartitions=cores).mapInPandas(
        touch, "id long").count()


def stop_spark(spark) -> None:
    """Stop the session, then its JVM and every process under the JVM,
    and wait until each has ended. Left alone, the JVM sees its stdin
    pipe close only when this process exits, and outlives it by seconds
    together with its Python workers."""
    import subprocess

    from pyspark import SparkContext

    from measure import end_processes, tree_procs

    try:
        if spark is not None:
            spark.stop()
    finally:
        jvm = getattr(SparkContext._gateway, "proc", None)
        if jvm is not None:
            procs = tree_procs(jvm.pid)  # the JVM and its Python workers
            jvm.stdin.close()  # the JVM exits on end of input
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
            end_processes(procs)


def scan_floor_s(spark, path: str, reps: int = 3) -> float:
    """Median time of a read plus a count of the ``tokens`` column."""
    from pyspark.sql import functions as F

    from cuckoofilter_spark.sources.catalog import read_sequences
    from measure import median

    times = []
    for _ in range(reps):
        t = time.perf_counter()
        read_sequences(spark, path).select(
            F.sum(F.size("tokens"))).first()
        times.append(time.perf_counter() - t)
    return median(times)


def op_layer_metrics(spans, groups: dict, cores: int) -> dict:
    """Event-log metrics of the sketch layer, summed per traced op and
    averaged over traced ops; with the same per public call."""
    from tracing import duration

    fields = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes")
    per_call: dict[str, dict] = {}
    ops = {s["trace"] for s in spans if s["name"] == "op"}
    for s in spans:
        if not s["name"].startswith(SKETCH_SPANS) or s["trace"] not in ops:
            continue
        row = per_call.setdefault(s["name"], {"calls": 0, "wall_s": 0.0,
                                              "peak_exec_mem_bytes": 0,
                                              **{f: 0 for f in fields}})
        ev = groups.get(s["group"], {})
        row["calls"] += 1
        row["wall_s"] += duration(s)
        for f in fields:
            row[f] += ev.get(f, 0)
        row["peak_exec_mem_bytes"] = max(row["peak_exec_mem_bytes"],
                                         ev.get("peak_exec_mem_bytes", 0))
    out: dict = {}
    n_ops = max(1, len(ops))
    total = {f: sum(r[f] for r in per_call.values())
             for f in ("wall_s",) + fields}
    for f, v in total.items():
        out[f"sketch.{f}"] = v / n_ops
    out["sketch.peak_exec_mem_bytes"] = max(
        [r["peak_exec_mem_bytes"] for r in per_call.values()], default=0)
    out["sketch.busy_frac"] = total["executor_run_s"] / max(
        1e-9, total["wall_s"] * cores)
    for name, r in per_call.items():
        for f in ("wall_s",) + fields:
            out[f"{name}.{f}"] = r[f] / r["calls"]
        out[f"{name}.peak_exec_mem_bytes"] = r["peak_exec_mem_bytes"]
        out[f"{name}.busy_frac"] = r["executor_run_s"] / max(
            1e-9, r["wall_s"] * cores)
    return out


def named_metrics(workload: str, res: dict) -> dict:
    """The design's named end-to-end metrics, from a run's results."""
    out = {"setup_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"],
           "fail_frac": res["failed"] / res["attempted"]}
    rate_name = {"build": "build_tok_per_s", "probe": "probe_keys_per_s",
                 "ingest": "ingest_tok_per_s"}[workload]
    out[rate_name] = res["items_per_s"]
    if workload == "ingest":
        out["ingest_batch_p50_s"] = res["op_p50_s"]
        out["ingest_batch_tail_s"] = res["tail"]
    out.update(res["accuracy"])
    return out


def _fmt(value) -> str:
    return f"{value:.6g}" if isinstance(value, float) else str(value)


def run(args) -> dict:
    from checks import Checks
    from cuckoofilter_spark.plans.metrics import event_log_conf
    from cuckoofilter_spark.session import get_spark
    from measure import (RssSampler, host_probe, median,
                         physical_memory_bytes, tail_percentile,
                         tree_cpu_s, usable_cores)
    from replay import kernel_metrics, partition_keys
    from tracing import Tracer, attribute_event_log, run_task_counts
    from workloads import WORKLOADS

    work = OUT / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cores = usable_cores()
    heap = driver_heap(physical_memory_bytes())
    os.environ["SPARK_DRIVER_MEM"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    conf = {"spark.local.dir": str(work / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}"}
    if args.trace:
        conf.update(event_log_conf(str(work / "eventlog")))

    host = host_probe()
    print(f"host.hash1m_ms {host['hash1m_ms']:.4g} ms  "
          f"host.copy64mb_ms {host['copy64mb_ms']:.4g} ms", flush=True)
    checks = Checks()
    failed_ops = 0
    layers: dict = {}
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = None
        try:
            spark = get_spark("perfbench", cores=cores,
                              shuffle_partitions=cores, extra_conf=conf)
            start_s = time.perf_counter() - t0
            tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
            t = time.perf_counter()
            warm_workers(spark, cores)
            warm_s = time.perf_counter() - t
            wl = WORKLOADS[args.workload](spark, tracer, checks, args.seed,
                                          cores)
            prep_s = []
            for r in range(SETUP_REPS):
                t = time.perf_counter()
                wl.prepare(str(work / f"setup{r}"))
                prep_s.append(time.perf_counter() - t)
            wl.reference()
            # untimed, checked ops warm the op's own code paths (closures
            # shipped to workers, their buffers touched, the JVM's JIT)
            t = time.perf_counter()
            for i in range(wl.warm_ops):
                wl.check(i, wl.op(i)[2])
            warm_op_s = time.perf_counter() - t
            setup_s = start_s + warm_s + median(prep_s) + warm_op_s
            t_setup = time.perf_counter() - t0

            op_s, rates, cpu_rates, lats, cpus = [], [], [], [], []
            deadline = time.perf_counter() + args.seconds
            i = wl.warm_ops
            while True:
                c0 = tree_cpu_s(os.getpid())
                t = time.perf_counter()
                try:
                    with tracer.op(i):
                        n, lat, out = wl.op(i)
                    dt = time.perf_counter() - t
                    cpu = tree_cpu_s(os.getpid()) - c0
                    wl.check(i, out)
                except Exception:  # an op failure is counted, not fatal
                    traceback.print_exc(file=sys.stderr)
                    failed_ops += 1
                    n, lat, dt, cpu = 0, None, time.perf_counter() - t, None
                op_s.append(dt)
                rates.append(n / dt)
                cpu_rates.append(n / cpu if n else 0.0)
                if n:
                    lats.append(dt if lat is None else lat)
                    cpus.append(cpu)
                i += 1
                if failed_ops >= MAX_FAILED_OPS or (
                        time.perf_counter() >= deadline
                        and len(op_s) >= MIN_OPS):
                    break
            try:
                wl.finish()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                checks.check("finish", False, "final checks raised")
            tasks, failed_tasks = run_task_counts(spark.sparkContext,
                                                 tracer.groups())
            if args.trace:
                layers.update(kernel_metrics(*partition_keys(wl.replay_file())))
                layers["sources.scan_s"] = scan_floor_s(spark, wl.scan_input())
                layers.update(wl.layer_metrics())
        finally:
            stop_spark(spark)

    attempted = len(op_s) + wl.warm_ops + checks.attempted
    failed = failed_ops + checks.failed + failed_tasks
    res = {
        "setup_s": setup_s,
        "items_per_cpu_s": median(cpu_rates),
        "items_per_s": median(rates),
        "op_p50_s": median(lats),
        "op_cpu_s": median(cpus),
        "peak_rss_mb": rss.peak / 2 ** 20,
        "sketch_bytes": wl.sketch_bytes(),
        "tail": None,
        "accuracy": wl.accuracy,
        "attempted": attempted,
        "failed": failed,
    }
    tail = tail_percentile(lats)
    if tail is not None:
        res["tail"] = tail[1]
    if args.trace:
        groups = attribute_event_log(str(work / "eventlog"))
        layers.update(op_layer_metrics(tracer.spans, groups, cores))
        layers["session.start_s"] = start_s
        layers["session.worker_warm_s"] = warm_s
        layers["sources.write_s"] = median(wl.write_s)
        layers["sources.bytes"] = wl.scan_bytes()
        # against the untraced runs' items_per_s: the tracing overhead
        layers["trace.items_per_s"] = res["items_per_s"]

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "cores": cores,
              "driver_memory": os.environ["SPARK_DRIVER_MEM"], "host": host,
              "setup": {"start_s": start_s, "warm_s": warm_s,
                        "prepare_s": prep_s, "warm_op_s": warm_op_s,
                        "total_s": t_setup},
              "peak_rss_parts_mb": rss.peak_parts,
              "ops": len(op_s), "op_s": op_s, "op_cpu_s": cpus, "latencies_s": lats,
              "tail": tail, "tasks": tasks, "failed_tasks": failed_tasks,
              "failures": checks.failures, "results": res, "layers": layers,
              "named": named_metrics(args.workload, res)}
    if args.trace:
        record["spans"] = tracer.spans
    records = OUT / "records"
    records.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    record["wall_s"] = time.perf_counter() - t0
    (records / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
     ).write_text(json.dumps(record))
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "cuckoofilter_spark" / "__init__.py").is_file():
        print(f"perfbench: no cuckoofilter_spark package in {ROOT}; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    rec = run(args)
    res = rec["results"]
    for c in rec["failures"]:
        print(f"FAILED {c}")
    if args.trace:
        for name in sorted(rec["layers"]):
            print(f"{args.workload} {name} {_fmt(rec['layers'][name])}")
        metrics = {m["name"]: {"value": rec["layers"][m["name"]],
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        for name, unit in UNBOUNDED:
            print(f"{args.workload} {name} {_fmt(res[name])} {unit}")
        named = rec["named"]
        for name, unit in NAMED:
            v = named.get(name)
            if name == "ingest_batch_tail_s" and name in named:
                t = rec["tail"]
                note = (f"n/a (fewer than 11 samples, n={len(rec['latencies_s'])})"
                        if t is None else f"{_fmt(t[1])} {unit} (p{t[0]:g}, n={t[2]})")
                print(f"{args.workload} {name} {note}")
            elif v is None:
                print(f"{args.workload} {name} n/a (not on this workload)")
            else:
                print(f"{args.workload} {name} {_fmt(v)} {unit}")
        metrics = {m["name"]: {"value": res[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
