"""Seeded end-to-end benchmark of the link-graph engine.

    python3 perfbench/run.py --workload tri-rmat --seed 1 --seconds 10 --trace 0

One process is one run: a closed loop with one client on a fresh
SparkSession at local[nproc]. The run starts the session, generates the
seed's inputs (untimed), warms up with a fixed number of queries on
those inputs, then runs the workload's query until `--seconds` have
elapsed. Every timed answer is checked against the seed's expected
answer. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

`--trace 1` turns on Spark's event log, runs a fixed number of queries
instead of the time budget, and reports per-layer metrics attributed to
each call through its Spark job group (layers.py, README.md).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import asdict, dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "wedge_parallel_triangle_counting_spark"


@dataclass(frozen=True)
class Spec:
    """One workload. Its query is one pass over `families`, in order."""

    name: str
    families: tuple[str, ...]
    rmat_scale: int = 0  # R-MAT graph (edge factor 16) for triangles
    n_pages: int = 0  # pages for ingest; the loops read ingest's edge table
    pr_iters: int = 5
    lp_iters: int = 3
    warmup_passes: int = 1  # fixed, so a traced run's job counts repeat
    trace_passes: int = 1

    def fingerprint(self) -> str:
        return hashlib.sha1(json.dumps(asdict(self), sort_keys=True).encode()).hexdigest()[:8]


WORKLOADS = {
    "tri-rmat": Spec(
        "tri-rmat", ("triangles",), rmat_scale=13, warmup_passes=3, trace_passes=4
    ),
    "web-iter": Spec(
        "web-iter",
        ("ingest", "pagerank", "components", "labelprop"),
        n_pages=4000,
        pr_iters=3,
        lp_iters=2,
        warmup_passes=2,
    ),
}


@dataclass
class Call:
    family: str
    group: str  # Spark job group of every job the call ran
    start: float  # epoch seconds, to line up with the event log
    end: float
    wall: float
    ok: bool
    phase: dict = field(default_factory=dict)


class Runner:
    """Runs the workload's queries, each call under its own job group."""

    def __init__(self, spark, scratch: Path):
        self.spark = spark
        self.sc = spark.sparkContext
        self.scratch = scratch
        self.calls: list[Call] = []

    def call(self, family: str, fn, check=None, tag: str = "q") -> Call:
        group = f"{tag}:{family}:{len(self.calls)}"
        self.sc.setJobGroup(group, f"perfbench {family}")
        phase: dict = {}
        t_epoch = time.time()
        t0 = time.perf_counter()
        try:
            ans = fn(phase)
            ok = True
        except Exception:
            traceback.print_exc()
            ans, ok = None, False
        wall = time.perf_counter() - t0
        self.sc.setJobGroup("untimed", "perfbench untimed")
        if ok and check is not None:
            try:
                ok = bool(check(ans))
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                print(f"WRONG ANSWER: {family} ({group})", file=sys.stderr)
        c = Call(family, group, t_epoch, t_epoch + wall, wall, ok, phase)
        self.calls.append(c)
        return c

    def query(self, spec: Spec, paths: dict, expected: dict | None = None, tag="q"):
        """One pass over the workload's families; returns its calls."""
        from wedge_parallel_triangle_counting_spark.operators.components import (
            connected_components,
        )
        from wedge_parallel_triangle_counting_spark.operators.labelprop import (
            label_propagation,
        )
        from wedge_parallel_triangle_counting_spark.operators.pagerank import pagerank
        from wedge_parallel_triangle_counting_spark.operators.triangles import (
            triangle_count,
        )
        from wedge_parallel_triangle_counting_spark.plans.ingest import pages_to_edges

        read = self.spark.read.parquet
        web = str(self.scratch / f"{tag}-edges")  # ingest's output, the loops' input

        def ingest(_):
            edges, dictionary = pages_to_edges(read(paths["pages"]))
            edges.write.mode("overwrite").parquet(web)
            dictionary.unpersist()
            return web

        run = {
            "ingest": ingest,
            "triangles": lambda phase: triangle_count(
                read(paths["rmat"]), strategy="wedge", phase_metrics=phase
            ).collect()[0][0],
            "pagerank": lambda _: pagerank(read(web), num_iters=spec.pr_iters).toPandas(),
            "components": lambda _: connected_components(read(web)).toPandas(),
            "labelprop": lambda _: label_propagation(read(web), num_iters=spec.lp_iters).toPandas(),
        }
        checks = Checks(expected) if expected is not None else None
        return [
            self.call(f, run[f], checks and getattr(checks, f), tag) for f in spec.families
        ]


class Checks:
    """Each timed answer against the seed's expected answer."""

    def __init__(self, expected: dict):
        self.x = expected

    def ingest(self, path) -> bool:
        import numpy as np
        import pyarrow.parquet as pq

        from inputs import edge_pairs

        t = pq.read_table(path, columns=["src", "dst"])
        got = edge_pairs(t["src"].to_numpy(), t["dst"].to_numpy())
        return np.array_equal(got, self.x["ingest_edges"])

    def triangles(self, n) -> bool:
        return int(n) == int(self.x["triangles"])

    def pagerank(self, df) -> bool:
        import numpy as np

        df = df.sort_values("v")
        return np.array_equal(df["v"].to_numpy(), self.x["pr_v"]) and np.allclose(
            df["pr"].to_numpy(), self.x["pr"], rtol=1e-6, atol=0.0
        )

    def components(self, df) -> bool:
        return self._exact(df, "component", "cc")

    def labelprop(self, df) -> bool:
        return self._exact(df, "label", "lp")

    def _exact(self, df, col: str, key: str) -> bool:
        import numpy as np

        df = df.sort_values("v")
        return np.array_equal(df["v"].to_numpy(), self.x[f"{key}_v"]) and np.array_equal(
            df[col].to_numpy(), self.x[key]
        )


def end_to_end(queries: list[list[Call]], work_edges: int, setup_s: float) -> dict:
    """name -> (value, unit, samples): medians over the run's queries.
    A query that failed still counts with the time it took."""
    walls = [sum(c.wall for c in q) for q in queries]
    return {
        "setup_s": (setup_s, "s", 1),
        "query_s": (statistics.median(walls), "s", len(walls)),
        "edges_per_s": (statistics.median(work_edges / w for w in walls), "edges/s", len(walls)),
    }


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants:
    the Spark JVM and its Python workers."""
    parent = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                stat = (p / "stat").read_text()
            except OSError:
                continue
            parent[int(p.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {os.getpid()}, {os.getpid()}
    while frontier:
        frontier = {c for c, pp in parent.items() if pp in frontier} - tree
        tree |= frontier
    kb = 0
    for pid in tree:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: the gateway
    process exits when its stdin closes."""
    import subprocess

    from pyspark import SparkContext

    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks from /proc/stat: user .. steal."""
    return [int(x) for x in Path("/proc/stat").read_text().split()[1:9]]


def cpu_share(before: list[int], after: list[int]) -> list[float]:
    """[busy %, steal %] of all CPU time between two `cpu_ticks()`.
    Steal is time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    idle = d[3] + d[4]
    return [round(100 * (total - idle - d[7]) / total, 1), round(100 * d[7] / total, 1)]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    # Everything the run writes stays under .perfbench/ in the checkout.
    work = ROOT / ".perfbench"
    scratch = work / "run" / str(os.getpid())
    for d in ("tmp", "spark-local", "eventlog", "cache", "results"):
        (work / d).mkdir(parents=True, exist_ok=True)
    scratch.mkdir(parents=True, exist_ok=True)
    # Python workers import the engine by module path: they must find
    # it wherever the benchmark is launched from.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    try:
        return run(args, work, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run(args, work: Path, scratch: Path) -> int:
    import inputs
    import layers

    from wedge_parallel_triangle_counting_spark.session import get_spark

    spec = WORKLOADS[args.workload]
    nproc = os.cpu_count() or 1
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",  # zstd is not installed
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    load_before = os.getloadavg()
    cpu_before = cpu_ticks()

    # -- set-up: session start; inputs (untimed); fixed warm-up ----------
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    runner = Runner(spark, scratch)
    try:
        spark.sparkContext.setJobGroup("untimed", "perfbench inputs")
        paths, expected = inputs.prepare(spark, spec, args.seed, scratch, work / "cache")
        t1 = time.perf_counter()
        for _ in range(spec.warmup_passes):
            runner.query(spec, paths, tag="warm")
        warmup_s = time.perf_counter() - t1
        print(
            f"session start {start_s:.2f} s; warm-up calls: "
            + " ".join(f"{c.family}={c.wall:.2f}" for c in runner.calls)
        )
        runner.calls = []

        # -- measured closed loop -----------------------------------------
        queries = []
        deadline = time.perf_counter() + args.seconds
        while True:
            queries.append(runner.query(spec, paths, expected))
            if args.trace:
                if len(queries) == spec.trace_passes:
                    break
            elif time.perf_counter() >= deadline:
                break

        wedges = 0
        if args.trace and "triangles" in spec.families:
            wedges = layers.wedge_count(spark, paths["rmat"])
        rss = peak_rss_mb()
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
        stop_jvm()

    calls = runner.calls
    e2e = end_to_end(queries, int(expected["work_edges"]), start_s + warmup_s)
    attempted, failed = len(calls), sum(not c.ok for c in calls)
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "shuffle_partitions": nproc,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "cpu_busy_steal_pct": cpu_share(cpu_before, cpu_ticks()),
        "work_edges": int(expected["work_edges"]),
        "first_call_vs_median": first_call_ratio(calls),
    }
    print("timed calls: " + " ".join(f"{c.family}={c.wall:.2f}" for c in calls))
    for name, (value, unit, n) in e2e.items():
        print(f"{name:>12} = {value:.6g} {unit}  (median of {n})")
    print(f"{'error_rate':>12} = {failed / attempted:.6g}  ({failed} failed of {attempted} calls)")
    print("env " + json.dumps(env))

    if args.trace:
        event_log = work / "eventlog" / app_id
        found = layers.per_layer(event_log, calls, spec, wedges, start_s, warmup_s, rss)
        event_log.unlink()
        layers.report_overhead(e2e, work / "results", f"{spec.name}-{spec.fingerprint()}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in found.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _n) in e2e.items()}
    record = {"env": env, "e2e": {k: v[0] for k, v in e2e.items()}, "metrics": metrics}
    name = f"{spec.name}-{spec.fingerprint()}-trace{args.trace}-seed{args.seed}-{os.getpid()}.json"
    (work / "results" / name).write_text(json.dumps(record, indent=1))

    correct = failed == 0
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


def first_call_ratio(calls: list[Call]) -> dict:
    """Per family: first timed call / median timed call. Near 1 when the
    warm-up reached the plateau; above 1 when the first timed call still
    paid warm-up cost."""
    out = {}
    for f in dict.fromkeys(c.family for c in calls):
        walls = [c.wall for c in calls if c.family == f]
        out[f] = round(walls[0] / statistics.median(walls), 3)
    return out


if __name__ == "__main__":
    sys.exit(main())
