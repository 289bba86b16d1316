"""Run ONE registered query in THIS process with spark.eventLog on.

The adjudication tool for episodic per-query slow modes (SCALING.md
round-11: dedup_semantic_pairs sf10 has produced 62-240 s from the same
bytes across quiet windows): capture the full task-level record of a
fast run and a slow run, then diff spill / task-time distribution / AQE
decisions with `--analyze` instead of guessing from wall-clock.

    python tools/eventlog_run.py SF_DIR QUERY [LOG_DIR]
        runs the query once (fresh JVM = fresh mode sample), prints one
        JSON line {"query", "seconds", "eventlog"}.

    python tools/eventlog_run.py --analyze LOG_FILE [LOG_FILE ...]
        per-run roll-up: wall, task count/time/GC, shuffle bytes,
        spill, AQE re-plans, and the top stages by task time, each with
        its task count and wall (submission to completion) — one JSON
        line per log, aligned for eyeball diffing. When the log's jobs
        carry job groups (``SparkContext.setJobGroup``), ``job_groups``
        also holds, per group: parquet rows read (the "number of output
        rows" metric of the plans' ``Scan parquet`` nodes), other input
        records (cached or checkpointed blocks read back) and shuffle
        bytes written. Two runs of one query, each in its own group,
        then show whether a plan change reads or shuffles more. A stage
        that reads a lazily checkpointed relation still lists the
        ``FileScanRDD`` under it, so its input records cannot tell a
        parquet read from a cached one; the scan metric can.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(sf_dir: str, query: str, log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    import __spark_entry__ as entrymod
    from emission_project_spark.session import get_spark

    spark = get_spark(
        f"eventlog-{query}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # plain single-file JSONL: no zstd dep for the analyzer
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    app_id = spark.sparkContext.applicationId
    t0 = time.perf_counter()
    entrymod.queries()[query](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    seconds = round(time.perf_counter() - t0, 3)
    spark.stop()
    return {
        "query": query,
        "seconds": seconds,
        "eventlog": os.path.join(log_dir, app_id),
    }


def analyze(path: str) -> dict:
    """Aggregate one Spark event log into the metrics that can carry an
    episodic slow mode: task time, GC, shuffle, spill, AQE re-plans."""
    out = {
        "log": os.path.basename(path),
        "tasks": 0,
        "task_time_s": 0.0,
        "gc_s": 0.0,
        "cpu_s": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "mem_spill_mb": 0.0,
        "disk_spill_mb": 0.0,
        "max_task_s": 0.0,
        "aqe_updates": 0,
        "py_sent_mb": 0.0,   # data sent to Python workers
        "py_ret_mb": 0.0,    # data returned from Python workers
        "py_run_s": 0.0,     # time to run Python workers
        # stage id -> {"tasks", "task_s", "wall_s"}: summed task time
        # alone cannot tell one long serial task from many short ones
        "stages": {},
    }
    spans: dict[str, tuple[int, int]] = {}  # stage id -> (submitted, completed) ms
    stage_group: dict[str, str] = {}  # stage id -> job group
    scan_rows: set[int] = set()  # accumulator ids: rows out of a parquet scan
    stage_io: dict[str, list[int]] = {}  # stage id -> [input records, parquet rows, shuffle bytes]
    t_start = t_end = None
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event", "")
            if kind == "SparkListenerApplicationStart":
                t_start = ev.get("Timestamp")
            elif kind == "SparkListenerApplicationEnd":
                t_end = ev.get("Timestamp")
            elif kind.endswith("AdaptiveExecutionUpdate") or kind.endswith(
                "SQLExecutionStart"
            ):
                out["aqe_updates"] += kind.endswith("AdaptiveExecutionUpdate")
                nodes = [ev.get("sparkPlanInfo") or {}]
                while nodes:
                    node = nodes.pop()
                    nodes.extend(node.get("children", []))
                    if node.get("nodeName", "").startswith("Scan parquet"):
                        scan_rows.update(
                            m["accumulatorId"]
                            for m in node.get("metrics", [])
                            if m.get("name") == "number of output rows"
                        )
            elif kind == "SparkListenerStageSubmitted":
                si = ev.get("Stage Info") or {}
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    stage_group[str(si.get("Stage ID"))] = group
            elif kind == "SparkListenerStageCompleted":
                si = ev.get("Stage Info") or {}
                sub, done = si.get("Submission Time"), si.get("Completion Time")
                if sub is not None and done is not None:
                    sid = str(si.get("Stage ID"))
                    lo, hi = spans.get(sid, (sub, done))
                    spans[sid] = (min(lo, sub), max(hi, done))
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                out["tasks"] += 1
                out["task_time_s"] += dur
                out["max_task_s"] = max(out["max_task_s"], dur)
                out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 1e6
                out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                io = stage_io.setdefault(str(ev.get("Stage ID")), [0, 0, 0])
                io[0] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                io[1] += sum(
                    int(acc.get("Update", 0))
                    for acc in info.get("Accumulables", [])
                    if acc.get("ID") in scan_rows
                )
                io[2] += sw.get("Shuffle Bytes Written", 0)
                out["mem_spill_mb"] += m.get("Memory Bytes Spilled", 0) / 1e6
                out["disk_spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                # Pandas-UDF accumulables: the r12 mode hunt lived here
                # (a task whose wall is all "time to run Python workers"
                # with tiny JVM CPU is python/host-side, not plan-side)
                for acc in info.get("Accumulables", []):
                    try:
                        u = int(acc.get("Update"))
                    except (TypeError, ValueError):
                        continue
                    name = acc.get("Name", "")
                    if name == "data sent to Python workers":
                        out["py_sent_mb"] += u / 1e6
                    elif name == "data returned from Python workers":
                        out["py_ret_mb"] += u / 1e6
                    elif name == "time to run Python workers":
                        out["py_run_s"] += u / 1e3
                st = out["stages"].setdefault(
                    str(ev.get("Stage ID")), {"tasks": 0, "task_s": 0.0}
                )
                st["tasks"] += 1
                st["task_s"] += dur
    if t_start and t_end:
        out["wall_s"] = round((t_end - t_start) / 1e3, 1)
    for k in ("task_time_s", "gc_s", "cpu_s", "shuffle_read_mb",
              "shuffle_write_mb", "mem_spill_mb", "disk_spill_mb",
              "max_task_s", "py_sent_mb", "py_ret_mb", "py_run_s"):
        out[k] = round(out[k], 1)
    # keep only the 6 heaviest stages by task time, rounded
    top = sorted(out["stages"].items(), key=lambda kv: -kv[1]["task_s"])[:6]
    out["stages"] = {
        sid: {
            "tasks": st["tasks"],
            "task_s": round(st["task_s"], 1),
            "wall_s": round((spans[sid][1] - spans[sid][0]) / 1e3, 1)
            if sid in spans else None,
        }
        for sid, st in top
    }
    groups: dict[str, dict[str, int]] = {}
    for sid, group in stage_group.items():
        g = groups.setdefault(
            group, {"scan_records": 0, "other_records": 0, "shuffle_write_bytes": 0}
        )
        records, scanned, written = stage_io.get(sid, (0, 0, 0))
        g["scan_records"] += scanned
        g["other_records"] += max(records - scanned, 0)
        g["shuffle_write_bytes"] += written
    if groups:
        out["job_groups"] = groups
    return out


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "--analyze":
        for p in args[1:]:
            print(json.dumps(analyze(p)))
        return 0
    if len(args) < 2:
        print(__doc__)
        return 2
    sf_dir, query = args[0], args[1]
    log_dir = args[2] if len(args) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale", "eventlogs",
    )
    print(json.dumps(run_once(sf_dir, query, log_dir)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
