"""Per-layer metrics from Spark's own event log.

A traced run turns on `spark.eventLog` and runs every query under its
own job group (`run.Runner.call`). Job-start events carry the group id;
task-end events carry CPU, run time, shuffle, spill and GC. This module
attributes jobs, stages and tasks to the query that caused them and
reduces them, per query family, to the mean over the family's calls.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

FAMILIES = ("ingest", "triangles", "pagerank", "components", "labelprop")
MB = 1e6
# First stack frame of a SQL execution started by DataFrame.collect()
COLLECT_FRAME = "org.apache.spark.sql.classic.Dataset.collectToPython"


def read_events(path: Path) -> dict:
    """Jobs, stage scopes, tasks and `collect()` actions of one
    application's event log, keyed the way `per_layer` needs them."""
    jobs = {}  # job id -> {group, submit, end, stages}
    scopes = {}  # stage id -> names of the plan nodes its RDDs came from
    tasks = defaultdict(list)  # stage id -> [task metric dicts]
    collects = defaultdict(int)  # job group -> DataFrame.collect() actions
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev["Stage IDs"]),
                }
                for si in ev.get("Stage Infos", []):
                    scopes[si["Stage ID"]] = " ".join(
                        json.loads(r["Scope"]).get("name", "")
                        for r in si.get("RDD Info", [])
                        if r.get("Scope")
                    )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                if ev.get("details", "").startswith(COLLECT_FRAME):
                    collects[ev.get("jobGroupId")] += 1
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks[ev["Stage ID"]].append(
                    {
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "spill_b": m.get("Disk Bytes Spilled", 0),
                        "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                    }
                )
    return {"jobs": jobs, "scopes": scopes, "tasks": tasks, "collects": collects}


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def call_layers(ev: dict, call) -> dict:
    """Layer counts and times of one query call."""
    jobs = [j for j in ev["jobs"].values() if j["group"] == call.group]
    stages = sorted({s for j in jobs for s in j["stages"] if s in ev["tasks"]})
    tasks = [t for s in stages for t in ev["tasks"][s]]
    by_stage = {s: ev["tasks"][s] for s in stages}
    skew = 1.0
    if by_stage:
        big = max(by_stage.values(), key=lambda ts: sum(t["run_s"] for t in ts))
        runs = [t["run_s"] for t in big]
        skew = max(runs) / max(statistics.median(runs), 1e-3)
    pandas_run = sum(
        t["run_s"]
        for s in stages
        if "MapInPandas" in ev["scopes"].get(s, "")
        for t in ev["tasks"][s]
    )
    spans = [(j["submit"], j["end"] or call.end) for j in jobs]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "driver_gap_s": call.wall - _covered(spans, call.start, call.end),
        "shuffle_write_mb": sum(t["shuffle_b"] for t in tasks) / MB,
        "spill_mb": sum(t["spill_b"] for t in tasks) / MB,
        "gc_s": sum(t["gc_s"] for t in tasks),
        "task_skew": skew,
        "pandas_task_s": pandas_run,
    }


UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "driver_gap_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "task_skew": "ratio",
}


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(event_log: Path, calls, spec, wedges, start_s, warmup_s, rss_mb) -> dict:
    """name -> (value, unit) for every per-layer metric: per family, the
    mean over its timed calls. A family the workload does not run does
    no work in any layer and reads 0."""
    ev = read_events(event_log)
    per_call = {c.group: {"wall_s": c.wall, **call_layers(ev, c)} for c in calls}
    out = {}
    for fam in FAMILIES:
        rows = [per_call[c.group] for c in calls if c.family == fam]
        for key, unit in UNITS.items():
            out[f"{fam}.{key}"] = (_mean([r[key] for r in rows]), unit)
    out["pagerank.jobs_per_iter"] = (out["pagerank.jobs"][0] / spec.pr_iters, "count")
    # The components loop ends each round with one `collect()` of its
    # change count; the answer itself is fetched with an Arrow collect,
    # which is not counted.
    out["components.rounds"] = (
        _mean([ev["collects"][c.group] for c in calls if c.family == "components"]),
        "count",
    )

    tri = [c for c in calls if c.family == "triangles"]

    def phase(key):
        return _mean([c.phase.get(key, 0.0) for c in tri])

    enum, probe = phase("enumerate_cpu_sec"), phase("probe_cpu_sec")
    out["triangles.prep_s"] = (phase("prep_sec"), "s")
    out["triangles.build_s"] = (phase("build_sec"), "s")
    out["triangles.exec_s"] = (phase("exec_sec"), "s")
    out["wedge.enumerate_cpu_s"] = (enum, "s")
    out["wedge.probe_cpu_s"] = (probe, "s")
    out["wedge.wedges"] = (wedges, "count")
    out["wedge.probe_wedges_per_cpu_s"] = (wedges / probe if probe else 0.0, "1/s")
    # Task time of the stages that run the pandas UDF, less the numpy
    # kernel time inside it: Arrow transfer, pandas conversion and the
    # JVM side of those stages.
    udf = _mean([per_call[c.group]["pandas_task_s"] for c in tri])
    out["wedge.udf_boundary_s"] = (udf - enum - probe if tri else 0.0, "s")
    out["session.start_s"] = (start_s, "s")
    out["session.warmup_s"] = (warmup_s, "s")
    out["session.peak_rss_mb"] = (rss_mb, "MB")
    return out


def wedge_count(spark, graph: str) -> int:
    """Exact wedge count of the graph's degree-oriented form (untimed)."""
    from wedge_parallel_triangle_counting_spark.operators.triangles import wedge_stats

    spark.sparkContext.setJobGroup("untimed", "perfbench wedge_stats")
    return int(wedge_stats(spark.read.parquet(graph)).collect()[0]["total_wedges"])


def report_overhead(e2e: dict, results: Path, key: str) -> None:
    """Print traced minus untraced end-to-end medians, against the
    untraced runs of this workload (`key`: name and spec hash) already
    recorded in `results`."""
    base = defaultdict(list)
    for f in results.glob(f"{key}-trace0-*.json"):
        for k, v in json.loads(f.read_text())["e2e"].items():
            base[k].append(v)
    if not base:
        print("tracing overhead: no untraced run of this workload recorded yet")
        return
    for k, (v, unit, _n) in e2e.items():
        b = statistics.median(base[k])
        print(
            f"tracing overhead {k}: traced {v:.6g} vs untraced {b:.6g} {unit} "
            f"({(v - b) / b:+.1%}, untraced median of {len(base[k])} runs)"
        )
