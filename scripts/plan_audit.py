"""Physical-plan audit of every driver query -> PLANS.md.

For each ``queries()`` entry, compile (never run) the query at the
given SF and record the plan-shape numbers that matter at 100 TB:

- shuffle exchanges (wide dependencies — the scale cost centers)
- broadcast exchanges (small sides kept off the shuffle)
- Python stages (Arrow/Pandas UDF boundaries — the non-JVM hot path)
- whole-stage-codegen spans (fused JVM pipelines)
- parquet scans with pushed filters / pruned column sets

The table is evidence, not a gate: a query with many exchanges is not
wrong per se (multi-stage aggs need them), but a diff of this file
across rounds surfaces accidental plan regressions (a lost broadcast,
a new shuffle, a UDF that slipped below a top-k).

Usage: python scripts/plan_audit.py [sf_dir]   (default sf0.1)
"""
import os
import re
import sys
import time

sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1]))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "PLANS.md")


def _dedupe_cached_bodies(plan: str) -> str:
    """Keep ONE copy of each distinct InMemoryRelation body.

    A cached DataFrame consumed k times (e.g. the shared near-dup pair
    graph under leakage_matrix's two endpoint joins) prints its FULL
    cached plan under every InMemoryTableScan in ``toString()``, but
    the relation is computed once at runtime — counting its exchanges
    k times reads as a plan regression that isn't there. Tree depth =
    the position of the ``+-``/``:-`` marker; a relation's body is the
    maximal run of deeper lines after its header.
    """
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        m = re.search(r"[+:]-", ln)
        return m.start() if m else -1

    out: list[str] = []
    seen: set[str] = set()
    i = 0
    while i < len(lines):
        ln = lines[i]
        out.append(ln)
        if "InMemoryRelation" not in ln:
            i += 1
            continue
        d = depth(ln)
        j = i + 1
        body = []
        # marker-less lines (depth -1: AQE "== Final Plan ==" bodies,
        # ReusedExchange detail) belong to the enclosing body
        while j < len(lines) and (depth(lines[j]) > d
                                  or depth(lines[j]) == -1):
            body.append(lines[j])
            j += 1
        # key on the body with tree art (":"/"|" rails differ by
        # position in the outer tree) and expression ids (#123, fresh
        # per reference) normalized — the raw text never repeats
        # verbatim for one cached relation
        def node(x: str) -> str:
            dd = depth(x)
            return (x[dd + 2:] if dd >= 0 else x).strip()

        key = re.sub(r"#\d+", "#", "\n".join(node(x) for x in body))
        if key in seen:
            i = j  # drop the duplicate body wholesale
        else:
            seen.add(key)
            i += 1  # keep scanning INSIDE the kept body — caches nest
    return "\n".join(out)


def _drop_initial_plans(plan: str) -> str:
    """Drop ``== Initial Plan ==`` bodies of materialized AQE nodes.

    Once an AdaptiveSparkPlan has executed (e.g. a cached relation was
    materialized by an earlier eager consumer in the same session), its
    toString prints BOTH the final and the initial plan — every
    exchange in that subtree would be counted twice.
    """
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        m = re.search(r"[+:]-|==", ln)
        return m.start() if m else -1

    out: list[str] = []
    i = 0
    while i < len(lines):
        ln = lines[i]
        if "== Initial Plan ==" in ln:
            d = depth(ln)
            i += 1
            while i < len(lines) and (depth(lines[i]) > d
                                      or depth(lines[i]) == -1):
                i += 1
            continue
        out.append(ln)
        i += 1
    return "\n".join(out)


def audit(plan: str) -> dict:
    plan = _dedupe_cached_bodies(_drop_initial_plans(plan))
    ex_all = plan.count("Exchange")
    bc = plan.count("BroadcastExchange")
    return {
        "shuffle_ex": ex_all - bc,
        "broadcast_ex": bc,
        "py_stages": sum(plan.count(node) for node in (
            "ArrowEvalPython", "BatchEvalPython",
            "MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
            "MapInArrow", "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow")),
        # tree strings mark fused spans as "*(N) Node"; formatted
        # explain uses "[codegen id : N]" — count either
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))
                             | set(re.findall(r"codegen id : (\d+)", plan))),
        "scans": plan.count("Scan parquet"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "topk": ("TakeOrderedAndProject" in plan),
        "aqe": ("AdaptiveSparkPlan" in plan),
    }


def main() -> None:
    from cuckoofilter_spark.session import get_spark

    spark = get_spark("plan_audit", cores=8, shuffle_partitions=8)
    import __spark_entry__ as e

    rows = []
    for name, fn in e.queries().items():
        t0 = time.time()
        try:
            qe = fn(spark, SF_DIR)._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            a = audit(plan)
            a["compile_sec"] = round(time.time() - t0, 2)
            rows.append((name, a, None))
        except Exception as ex:  # noqa: BLE001 - record, keep auditing
            rows.append((name, None, f"{type(ex).__name__}: {ex}"))
        print("audited", name)

    lines = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        f"Generated by `scripts/plan_audit.py` at `{SF_DIR}`, "
        "local[8] / 8 shuffle partitions (plan SHAPE is what matters; "
        "partition counts scale with the session). Compiled via "
        "`executedPlan` — never executed. Columns: shuffle / broadcast "
        "exchanges, Python (Arrow) stages, whole-stage-codegen spans, "
        "parquet scans (with pushed filters), terminal top-k, AQE. "
        "Repeated InMemoryRelation bodies (a cached DataFrame consumed "
        "k times prints its build plan k times but computes once) are "
        "counted ONCE.",
        "",
        "| query | shuffle ex | bcast ex | py stages | codegen | scans "
        "(pushed) | top-k | AQE |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, a, err in rows:
        if err:
            lines.append(f"| {name} | ERROR: {err} | | | | | | |")
            continue
        lines.append(
            f"| {name} | {a['shuffle_ex']} | {a['broadcast_ex']} | "
            f"{a['py_stages']} | {a['codegen_spans']} | "
            f"{a['scans']} ({a['pushed']}) | "
            f"{'y' if a['topk'] else ''} | {'y' if a['aqe'] else ''} |")
    bad = [n for n, a, err in rows if err]
    lines += ["",
              f"{len(rows)} queries audited; {len(bad)} failed to compile"
              + (f" ({', '.join(bad)})" if bad else "") + "."]
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote", OUT)
    spark.stop()


if __name__ == "__main__":
    main()
