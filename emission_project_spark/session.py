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
- local files set their permissions in-process: without libhadoop,
  Hadoop's ``RawLocalFileSystem.setPermission`` forks a ``chmod`` per
  file and directory a write creates, which was most of a partitioned
  append's wall (a 669-file append on 4 cores: 4.6 s → 1.9 s warm).
  ``jvm/PosixLocalFileSystem.java`` keeps Hadoop's checksummed
  ``LocalFileSystem`` and only replaces that call. A ``local[N]`` session that starts its JVM compiles it once per
  source and Hadoop jar with the host's ``javac`` (JDK 17 or later)
  into ``jvm/build/`` and puts it on the driver classpath as
  ``fs.file.impl``. With no ``javac`` (or a failed compile) the session
  keeps Hadoop's class and logs one line saying so; a JVM that is
  already running keeps whatever class it has.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# the cores this process may run on; SPARK_GRAFT_CPUS overrides
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

LOCAL_FS_CLASS = "emission_project_spark.PosixLocalFileSystem"
_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_log = logging.getLogger(__name__)


def _local_fs_classes() -> str | None:
    """The class directory of ``jvm/PosixLocalFileSystem.java``, compiled
    on first use (``jvm/build/<hash of source and Hadoop jar>``, made
    by an atomic rename so concurrent sessions never see half a
    build), or None when it cannot be built here."""
    from pyspark.find_spark_home import _find_spark_home

    src = os.path.join(_JVM_DIR, "PosixLocalFileSystem.java")
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    java_home = os.environ.get("JAVA_HOME")
    javac = os.path.join(java_home, "bin", "javac") if java_home else shutil.which("javac")
    if not jars or not javac or not os.access(javac, os.X_OK):
        _log.warning("no javac or Hadoop jar: local files keep Hadoop's forked chmod")
        return None
    with open(src, "rb") as fh:
        digest = hashlib.sha256(fh.read() + os.path.basename(jars[-1]).encode()).hexdigest()[:16]
    out = os.path.join(_JVM_DIR, "build", digest)
    if os.path.isdir(out):
        return out
    try:
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".tmp-", dir=os.path.dirname(out))
        try:
            os.chmod(tmp, 0o755)
            subprocess.run(
                [javac, "--release", "17", "-cp", jars[-1], "-d", tmp, src],
                check=True, capture_output=True, timeout=300,
            )
            os.rename(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except (OSError, subprocess.SubprocessError) as e:
        if os.path.isdir(out):  # a concurrent session renamed its build first
            return out
        _log.warning("javac failed (%s): local files keep Hadoop's forked chmod", e)
        return None
    return out


def _local_fs_conf(master: str) -> dict[str, str]:
    """Conf that makes ``file://`` the in-process-permission filesystem,
    for a ``local[N]`` session (executors share the driver's classpath)
    whose JVM will have the class directory on its classpath."""
    if not master.startswith("local"):
        return {}
    classes = _local_fs_classes()
    if classes is None:
        return {}
    jvm = SparkContext._jvm
    if jvm is not None:
        cp = jvm.java.lang.System.getProperty("java.class.path").split(os.pathsep)
        if classes not in map(os.path.normpath, cp):
            return {}
    return {"spark.driver.extraClassPath": classes, "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS}


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
    local_fs = _local_fs_conf(master)
    conf = dict(local_fs)
    conf.update(extra_conf or {})
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            conf[k.strip()] = v
    # a caller's driver classpath extends the class directory's, so the
    # filesystem class stays loadable
    cp = "spark.driver.extraClassPath"
    if local_fs and conf[cp] != local_fs[cp]:
        conf[cp] = os.pathsep.join([local_fs[cp], conf[cp]])
    # Checked here, before the session exists: a non-integer value
    # starts a session on which reading the conf back does not return.
    parts = conf.get("spark.sql.shuffle.partitions")
    if parts is not None and not re.fullmatch(r"[+-]?[0-9]+", str(parts).strip()):
        raise ValueError(f"spark.sql.shuffle.partitions must be an integer, got {parts!r}")
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
