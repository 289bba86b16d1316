"""Width of the partitioned warehouse's write and listing jobs.

A dynamic-partition write costs per file and a partition listing costs
per directory, so both run at the session width: every core writes its
share of the partition values, and a many-directory tree is listed in
at most one task per core. The event-log analyzer reports each top
stage's task count and wall beside its task time, which is how a
one-task serial stage shows apart from a many-task one, and per job
group the parquet rows read and the shuffle bytes written.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import re

from pyspark.sql import functions as F

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "eventlog_run.py"
)


def _p64_table(spark, root: str):
    from emission_project_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, root)
    wh.append(spark.range(640).withColumn("p", F.col("id") % 64), "t", partition_by=["p"])
    return wh


def test_partitioned_append_is_written_by_every_core(spark, tmp_path):
    from emission_project_spark.catalog.tables import target_partitions

    _p64_table(spark, str(tmp_path / "wh"))
    dirs = glob.glob(str(tmp_path / "wh" / "t" / "p=*"))
    assert len(dirs) == 64
    # the hash sends each value to one task: one file per directory
    per_dir = {d: glob.glob(os.path.join(d, "*.parquet")) for d in dirs}
    assert all(len(f) == 1 for f in per_dir.values()), per_dir
    tasks = {
        re.match(r"part-(\d+)-", os.path.basename(f[0])).group(1)
        for f in per_dir.values()
    }
    width = target_partitions(spark)
    assert len(tasks) <= width
    if width > 1:
        assert len(tasks) > 1, tasks


def test_partition_listing_runs_at_session_width(spark, tmp_path):
    wh = _p64_table(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext
    group = f"listing-{tmp_path.name}"
    sc.setJobGroup(group, "read a 64-directory table")
    try:
        rows = wh.read("t").groupBy("p").count().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(r["p"] for r in rows) == list(range(64))
    assert {r["count"] for r in rows} == {10}
    st = sc.statusTracker()
    widths = [
        st.getStageInfo(s).numTasks
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s) is not None
    ]
    assert widths
    assert max(widths) <= sc.defaultParallelism, widths


def _task_end(stage: int, launch: int, finish: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {},
    }


def _stage_done(stage: int, submitted: int, completed: int, tasks: int) -> dict:
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage,
            "Number of Tasks": tasks,
            "Submission Time": submitted,
            "Completion Time": completed,
        },
    }


def test_eventlog_analyze_reports_stage_shape(tmp_path):
    """One serial 10 s task and 64 short tasks over 4 cores: their
    summed task times are close, their task counts and walls are not."""
    spec = importlib.util.spec_from_file_location("eventlog_run", TOOL)
    eventlog_run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(eventlog_run)

    events = [{"Event": "SparkListenerApplicationStart", "Timestamp": 500}]
    events += [_task_end(0, 1_000, 11_000), _stage_done(0, 900, 11_100, 1)]
    for i in range(64):
        start = 12_000 + (i // 4) * 120
        events.append(_task_end(1, start, start + 120))
    events += [
        _stage_done(1, 11_950, 13_950, 64),
        {"Event": "SparkListenerApplicationEnd", "Timestamp": 15_000},
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    out = eventlog_run.analyze(str(log))
    assert out["tasks"] == 65 and out["wall_s"] == 14.5
    assert out["stages"] == {
        "0": {"tasks": 1, "task_s": 10.0, "wall_s": 10.2},
        "1": {"tasks": 64, "task_s": 7.7, "wall_s": 2.0},
    }
    assert list(out["stages"]) == ["0", "1"]  # heaviest task time first


def _stage_submitted(stage: int, group: str) -> dict:
    return {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": stage, "RDD Info": [{"Name": "FileScanRDD"}]},
        "Properties": {"spark.jobGroup.id": group},
    }


def _io_task(stage: int, records: int, written: int, scanned: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": 0,
            "Finish Time": 0,
            "Accumulables": [{"ID": 7, "Name": "number of output rows", "Update": scanned}],
        },
        "Task Metrics": {
            "Input Metrics": {"Records Read": records},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def test_eventlog_analyze_reports_io_per_job_group(tmp_path):
    """Group "a" scans 100 parquet rows in one stage and reads 7 rows of
    a checkpoint in another; group "b" scans 100 rows once and reads
    them back from the cache in a second stage whose RDD chain still
    lists the file scan. Parquet rows come from the scan node's output
    row metric, the rest of the input records are read-backs, and
    shuffle bytes sum over every stage of the group."""
    spec = importlib.util.spec_from_file_location("eventlog_run", TOOL)
    eventlog_run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(eventlog_run)

    scan_node = {
        "nodeName": "Scan parquet ",
        "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
    }
    events = [
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "sparkPlanInfo": {"nodeName": "Project", "metrics": [], "children": [scan_node]},
        },
        _stage_submitted(0, "a"),
        _io_task(0, 60, 1_000, scanned=60),
        _io_task(0, 40, 500, scanned=40),
        _stage_submitted(1, "a"),
        _io_task(1, 7, 0),
        _stage_submitted(2, "b"),
        _io_task(2, 100, 2_000, scanned=100),
        _stage_submitted(3, "b"),
        _io_task(3, 100, 0),
        _task_end(4, 0, 1),  # a stage outside any job group
    ]
    log = tmp_path / "app-2"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    assert eventlog_run.analyze(str(log))["job_groups"] == {
        "a": {"scan_records": 100, "other_records": 7, "shuffle_write_bytes": 1_500},
        "b": {"scan_records": 100, "other_records": 100, "shuffle_write_bytes": 2_000},
    }
    ungrouped = tmp_path / "app-3"
    ungrouped.write_text(json.dumps(_task_end(0, 0, 1)) + "\n")
    assert "job_groups" not in eventlog_run.analyze(str(ungrouped))
