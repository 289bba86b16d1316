"""The session's ``file://`` filesystem: Hadoop's checksummed
``LocalFileSystem`` with ``setPermission`` run in-process
(``jvm/PosixLocalFileSystem.java``, wired in by ``session.get_spark``).
It must leave every mode bit and ``.crc`` sidecar as Hadoop's own class
does."""

from __future__ import annotations

import os
import re
import shutil
import stat

import pytest

from emission_project_spark.session import LOCAL_FS_CLASS
from emission_project_spark.sources.warehouse import Warehouse

_JAVAC = (
    os.path.join(os.environ["JAVA_HOME"], "bin", "javac")
    if os.environ.get("JAVA_HOME")
    else shutil.which("javac")
)
needs_javac = pytest.mark.skipif(
    not _JAVAC or not os.access(_JAVAC, os.X_OK),
    reason="no javac: the session keeps Hadoop's LocalFileSystem",
)


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )


def _modes(root: str) -> dict[str, int]:
    """Mode bits of every file and directory under ``root``, keyed by
    relative path with the per-write uuid of part files taken out."""
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(d, name)
            rel = re.sub(r"part-(\d+)-[0-9a-f-]{36}", r"part-\1", os.path.relpath(path, root))
            out[rel] = stat.S_IMODE(os.lstat(path).st_mode)
    return out


@needs_javac
def test_session_file_scheme_is_in_process_filesystem(spark):
    fs = _local_fs(spark)
    assert fs.getClass().getName() == LOCAL_FS_CLASS
    assert fs.getRaw().getClass().getName() == LOCAL_FS_CLASS + "$Raw"


def test_partitioned_append_modes_match_hadoop(spark, tmp_path):
    """A partitioned append writes the same tree, mode bits and
    ``.crc`` sidecars through the session's class as through Hadoop's
    ``LocalFileSystem`` (chosen per write by the session conf, with the
    filesystem cache off so the write instantiates it)."""
    df = spark.createDataFrame(
        [(d, i, float(i)) for d in (20140307, 20141120, 20150110) for i in range(3)],
        "date_id int, id int, v double",
    )
    Warehouse(spark, str(tmp_path / "ours")).append(df, "fact", partition_by=["date_id"])

    hadoop = Warehouse(spark, str(tmp_path / "hadoop"))
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try:
        # the conf reaches the write: an unknown class fails it
        spark.conf.set("fs.file.impl", "no.such.FileSystem")
        with pytest.raises(Exception, match="no.such.FileSystem"):
            hadoop.append(df, "fact", partition_by=["date_id"])
        shutil.rmtree(hadoop.path("fact"), ignore_errors=True)
        spark.conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
        hadoop.append(df, "fact", partition_by=["date_id"])
    finally:
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")

    ours = _modes(str(tmp_path / "ours" / "fact"))
    assert ours == _modes(str(tmp_path / "hadoop" / "fact"))
    parquet = [p for p in ours if p.endswith(".parquet")]
    assert len(parquet) == 3
    for p in parquet:
        head, name = os.path.split(p)
        assert os.path.join(head, f".{name}.crc") in ours


@needs_javac
@pytest.mark.parametrize("mode", [0o1777, 0o750, 0o604, 0o000])
def test_set_permission_matches_raw_local(spark, tmp_path, mode):
    """In range the bits are set in-process; outside 0777 (the sticky
    bit here) the call goes to Hadoop's own path. Either way the result
    equals ``RawLocalFileSystem``'s."""
    jvm = spark._jvm
    raw = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    modes = []
    for name, fs in (("ours", _local_fs(spark).getRaw()), ("hadoop", raw)):
        for kind in ("dir", "file"):
            path = tmp_path / f"{name}-{kind}"
            path.mkdir() if kind == "dir" else path.write_text("x")
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(path)), perm)
            modes.append(stat.S_IMODE(os.stat(path).st_mode))
    assert modes[:2] == modes[2:]
    assert modes[0] == mode


def test_local_fs_conf_only_where_the_class_loads(monkeypatch, tmp_path, caplog):
    """The conf names the class only for a local master whose JVM has
    (or will have) the class directory on its classpath, and a host
    with no javac keeps Hadoop's class with one warning."""
    from types import SimpleNamespace

    from pyspark import SparkContext

    from emission_project_spark import session

    monkeypatch.setattr(session, "_local_fs_classes", lambda: "/x/build/abc")
    assert session._local_fs_conf("spark://cluster:7077") == {}

    def jvm_with(classpath):
        system = SimpleNamespace(getProperty=lambda key: classpath)
        return SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(System=system)))

    monkeypatch.setattr(SparkContext, "_jvm", jvm_with("/x/build/abc/:/opt/jars/a.jar"))
    assert session._local_fs_conf("local[2]")["spark.hadoop.fs.file.impl"] == LOCAL_FS_CLASS
    monkeypatch.setattr(SparkContext, "_jvm", jvm_with("/opt/jars/a.jar"))
    assert session._local_fs_conf("local[2]") == {}

    monkeypatch.undo()
    monkeypatch.setenv("JAVA_HOME", str(tmp_path))  # no bin/javac here
    with caplog.at_level("WARNING", logger=session.__name__):
        assert session._local_fs_classes() is None
    assert len(caplog.records) == 1 and "javac" in caplog.records[0].getMessage()
