#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a checkout. Set-up (session start, seeded inputs,
warm-up) is timed as ``setup_s``; then whole operations run until
``--seconds`` have passed (at least one), each checked for correctness.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Scratch
files (inputs cached per seed, warehouse, spill, event logs, run
records) live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

# Traced layers and the figures each reports: self-time share of the
# operation (pct), calls, and Spark jobs launched inside the span.
LAYERS = {
    "sources.csv_feed.read_feed": ("pct", "calls", "jobs"),
    "sources.warehouse.read": ("pct", "calls", "jobs"),
    "sources.warehouse.append": ("pct", "calls", "jobs"),
    "sources.warehouse.overwrite_atomic": ("pct",),
    "functions.datetime.date_dim": ("pct",),
    "operators.dedup.dedup_subset": ("pct", "calls"),
    "operators.incremental.incremental_insert": ("pct", "calls"),
    "operators.keys.add_surrogate_key": ("pct", "calls"),
    "operators.joins.join_nullsafe": ("pct", "calls"),
    "operators.validation.validate_fks": ("pct", "jobs"),
    "pipeline.emission.run": ("pct",),
    "pipeline.emission.rollup_views": ("pct", "jobs"),
    "plans.build": ("pct", "jobs"),
    "catalog.tables.load_table": ("pct", "calls", "jobs"),
    "catalyst.plan": ("pct",),
    "plans.exec": ("pct", "jobs"),
}
STAGES = ["init", "extract", "dim_drivers", "dim_cars", "dim_country", "dim_city", "fact"]
ETL_STEPS = ["backfill", "rollup", "replay"]


def _pin_host() -> int:
    """Spark at local[nproc] with spill inside the checkout; the
    package's own fallback is 32 cores whatever the host has."""
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return nproc


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def _peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of this Python process plus the
    driver JVM and everything it started (Python workers)."""
    total_kb = 0
    for pid in [os.getpid()] + (_descendants(jvm_pid) if jvm_pid else []):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in "ZX"
    except (OSError, IndexError):
        return False


def _stop(spark, jvm_pid: int | None) -> None:
    """Stop Spark, then wait for the JVM and every process it started
    (Python workers) to exit."""
    from pyspark import SparkContext

    started = _descendants(jvm_pid) if jvm_pid else []
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.05)


def _layer_metrics(tracer, wl, op_wall: float, steps: list[float], get_spark_s: float, nproc: int, steal,
                   spark_m: dict) -> dict:
    layers = tracer.layers()
    pct = lambda s: 100.0 * s / op_wall  # noqa: E731
    m = {
        "host.nproc": (nproc, "count"),
        "host.steal": (steal if steal is not None else 0.0, "%"),
        "session.get_spark.s": (get_spark_s, "s"),
        "trace.op_wall.s": (op_wall, "s"),
        "trace.overhead.s": (tracer.overhead_s, "s"),
        "trace.coverage": (pct(sum(r["end"] - r["start"] for r in tracer.spans if r["parent"] is None)), "%"),
        "op.jobs": (sum(r["jobs"] for r in tracer.spans if r["parent"] is None), "count"),
        "step.samples": (len(steps), "count"),
        "step.p50.s": (statistics.median(steps), "s"),
        "step.p90.s": (statistics.quantiles(steps, n=10, method="inclusive")[8], "s"),
    }
    for name, figures in LAYERS.items():
        agg = layers.get(name, {"calls": 0, "self_s": 0.0, "jobs": 0})
        for fig in figures:
            m[f"{name}.{fig}"] = (pct(agg["self_s"]), "%") if fig == "pct" else (agg[fig], "count")
    runs = [r for r in tracer.spans if r["name"] == "pipeline.emission.run"]
    for step in ("backfill", "replay"):
        m[f"pipeline.emission.run.{step}.jobs"] = (sum(r["jobs"] for r in runs if r["step"] == step), "count")
        m[f"pipeline.emission.run.{step}.self_jobs"] = (
            sum(r["self_jobs"] for r in runs if r["step"] == step), "count")
    extras = wl.layer_extras()
    m["sources.warehouse.append.files"] = extras.get("sources.warehouse.append.files", (0, "count"))
    m["sources.warehouse.append.mb"] = extras.get("sources.warehouse.append.mb", (0.0, "MB"))
    m["pipeline.emission.run.insert_ratio"] = extras.get("pipeline.emission.run.insert_ratio", (0.0, "ratio"))
    stages = extras.get("stages", {})
    for st in STAGES:
        m[f"pipeline.emission.stage.{st}.pct"] = (pct(stages.get(st, 0.0)), "%")
    walls = getattr(wl, "step_walls", [0.0] * len(ETL_STEPS))
    for step, w in zip(ETL_STEPS, walls):
        m[f"step.{step}.pct"] = (pct(w), "%")
    task_s = spark_m.get("task_s", 0.0)
    m.update({
        "spark.tasks": (spark_m.get("tasks", 0), "count"),
        "spark.failed_tasks": (spark_m.get("failed_tasks", 0), "count"),
        "spark.task.s": (task_s, "s"),
        "spark.cpu.s": (spark_m.get("cpu_s", 0.0), "s"),
        "spark.gc.s": (spark_m.get("gc_s", 0.0), "s"),
        "spark.shuffle_write.mb": (spark_m.get("shuffle_write_mb", 0.0), "MB"),
        "spark.spill.mb": (spark_m.get("spill_mb", 0.0), "MB"),
        "spark.py_run.pct": (100.0 * spark_m.get("py_run_s", 0.0) / task_s if task_s else 0.0, "%"),
        "spark.core_util": (
            task_s / (spark_m["wall_s"] * nproc) if spark_m.get("wall_s") else 0.0, "ratio"),
    })
    return m


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    nproc = _pin_host()
    from bench import read_proc_stat, steal_pct_since
    from spans import Tracer, eventlog_metrics
    from workloads import WORKLOADS

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    stat0 = read_proc_stat()
    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
    if trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    t_setup = time.perf_counter()
    from emission_project_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext

    jvm_pid = getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)
    tracer = Tracer(spark.sparkContext) if trace else None
    attempted = failed = 0
    problems: list[str] = []
    walls: list[float] = []
    steps: list[float] = []
    try:
        wl = WORKLOADS[workload](spark, seed, WORK, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        t_meas = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t_meas < seconds:
            if tracer:
                tracer.op = i
            try:
                wall, op_steps, outcomes = wl.op(i)
            except Exception:  # noqa: BLE001 - an exception is a failed operation
                attempted += 1
                failed += 1
                problems.append(f"op {i}: {traceback.format_exc()}")
                break
            walls.append(wall)
            steps += op_steps
            attempted += len(outcomes)
            bad = [o for o in outcomes if o is not None]
            failed += len(bad)
            problems += bad
            i += 1
        peak_mb = _peak_rss_mb(jvm_pid)
        if tracer:
            tracer.count_jobs()
    finally:
        _stop(spark, jvm_pid)

    steal = steal_pct_since(stat0)
    record = {"workload": workload, "seed": seed, "trace": int(trace), "nproc": nproc,
              "cpu_steal_pct": steal, "error_rate": failed / max(attempted, 1),
              "problems": problems, "op_walls_s": walls, "steps_s": steps}
    if trace:
        logs = glob.glob(os.path.join(log_dir, "*"))
        spark_m = eventlog_metrics(logs[0]) if logs else {}
        shutil.rmtree(log_dir, ignore_errors=True)
        tracer.dump(os.path.join(WORK, "records", f"spans-{workload}-seed{seed}.json"))
        metrics = _layer_metrics(tracer, wl, sum(walls), steps, get_spark_s, nproc, steal, spark_m)
    elif walls:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s": (statistics.median(walls), "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
    else:
        metrics = {}
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    with open(os.path.join(WORK, "records", f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    print(f"nproc={nproc} cpu_steal_pct={steal} op_walls_s={[round(w, 3) for w in walls]}", file=sys.stderr)
    return {
        "correct": failed == 0 and bool(walls),
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "emission_project_spark", "__init__.py")):
        print("perfbench: emission_project_spark not found next to perfbench/", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
