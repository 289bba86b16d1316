"""SparkSession factory with scale-oriented defaults.

The reference runs eager single-process pandas (SURVEY.md §4.2); our
engine's equivalent of its "runtime config" is this session builder.
Defaults are chosen for the local[N] test harness but every knob is the
one you would also set on a 1000-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, empty-relation pruning)
- broadcast threshold generous enough that all star-schema dims
  broadcast (SURVEY.md §2.3 join-strategy note)
- Arrow enabled for the few Pandas-UDF paths (extensions)
- shuffle and partition-listing widths from the cores: a tree with
  more than 32 partition directories is listed by a Spark job of at
  most ``parallelPartitionDiscovery.parallelism`` tasks, and Spark's
  default (10,000) runs one task per directory — 664 tasks and 3–4 s
  for the fact's ``date_id`` tree, against 0.2 s at 4 tasks. The
  listing stays distributed, as a tree of thousands of directories
  needs.
- parquet nanos-as-long: the driver testdata's ``events`` table is
  written with TIMESTAMP(NANOS) which vanilla Spark refuses to read;
  we read it as long and convert (catalog/tables.py).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# the cores this process may run on; SPARK_GRAFT_CPUS overrides
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def get_spark(
    app_name: str = "emission_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = int(DEFAULT_CPUS)
    master = master or f"local[{cpus}]"
    width = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", width)
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", width)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 10 MB: big enough that every true dimension (nation, supplier,
        # customer, date) broadcasts, small enough that Catalyst never
        # auto-broadcasts a fact-side relation (at sf0.1 lineitem is
        # ~19 MB and was being broadcast under a fatter threshold — a
        # plan that cannot survive scale-up; dims are explicitly hinted
        # with F.broadcast anyway)
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Deployment/experiment overrides without code edits: the
    # ;-separated k=v list in $SPARK_GRAFT_EXTRA_CONF is applied LAST
    # (after caller extra_conf), which is how a 100 TB submission sets
    # cluster-shaped values (shuffle partition count, listing width,
    # codec, AQE thresholds) over these local[N] defaults — and how
    # tools/benchdiff.py --ab-run runs config A/Bs through its
    # existing --env-old/--env-new plumbing.
    conf = dict(extra_conf or {})
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            conf[k.strip()] = v
    # Checked here, before the session exists: a non-integer value
    # starts a session on which reading the conf back does not return.
    parts = conf.get("spark.sql.shuffle.partitions")
    if parts is not None and not re.fullmatch(r"[+-]?[0-9]+", str(parts).strip()):
        raise ValueError(f"spark.sql.shuffle.partitions must be an integer, got {parts!r}")
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
