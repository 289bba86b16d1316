"""Table-layout facts owned by ``catalog/tables.py``: parquet footer
probes, shuffle-width sizing and the spread decision — plus the session
conf they depend on."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from emission_project_spark.catalog.tables import (
    parquet_layout,
    spread_input,
    target_partitions,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(path, n_rows: int, row_group_size: int) -> str:
    """Incompressible doubles, so the file's byte size tracks its rows."""
    rng = np.random.default_rng(7)
    table = pa.table({"id": np.arange(n_rows), "x": rng.random(n_rows)})
    pq.write_table(table, str(path), row_group_size=row_group_size, compression="none")
    return str(path)


def test_parquet_layout_garbage_footer_is_none(tmp_path):
    """pyarrow raises ArrowInvalid (a ValueError) on a non-parquet file;
    the probe must report "no facts", never raise."""
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not a parquet footer" * 8)
    assert parquet_layout([str(bad)]) is None
    assert parquet_layout([str(bad)], "id") is None


def test_parquet_layout_facts(tmp_path):
    f = _write(tmp_path / "t.parquet", 1000, 300)
    assert parquet_layout([f], "id") == (1000, 4, (0, 999))
    assert parquet_layout([f]) == (1000, 4, None)
    # the URI form Spark's inputFiles() returns, and a directory of parts
    assert parquet_layout([f"file://{f}"]).rows == 1000
    d = tmp_path / "parts.parquet"
    d.mkdir()
    _write(d / "a.parquet", 10, 10)
    _write(d / "b.parquet", 20, 10)
    assert parquet_layout([str(d)], "id") == (30, 3, (0, 19))
    # no footer facts off the local filesystem, or for a missing column
    assert parquet_layout(["hdfs://nn/t.parquet"]) is None
    assert parquet_layout([f], "nope") is None


def test_target_partitions(spark):
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert target_partitions(spark) == default
    assert target_partitions(spark, 10 * default, 100) == default
    assert target_partitions(spark, 1000 * default, 100) == 10 * default


@pytest.mark.parametrize("row_group_size,spreads", [(30_000, True), (3_000, False)])
def test_spread_input_counts_populated_splits(spark, tmp_path, row_group_size, spreads):
    """A file cut into many byte-range splits still scans as one
    populated partition per row group: one row group must be spread,
    ten row groups (>= cores) are already wide and stay unchanged."""
    path = _write(tmp_path / "t.parquet", 30_000, row_group_size)
    target = spark.sparkContext.defaultParallelism
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "16384")
    try:
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() >= target
        out = spread_input(df)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    if spreads:
        assert out is not df
        assert out.rdd.getNumPartitions() == target
    else:
        assert out is df
    assert out.count() == 30_000


@pytest.mark.parametrize("via_env", [False, True])
def test_get_spark_rejects_non_integer_shuffle_partitions(monkeypatch, via_env):
    from emission_project_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    if via_env:
        monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", f"{key}=auto")
        extra = None
    else:
        monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
        extra = {key: "auto"}
    with pytest.raises(ValueError, match=key):
        get_spark("tests", extra_conf=extra)


def test_default_cpus_follow_host_affinity():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c",
         "from emission_project_spark import session; print(session.DEFAULT_CPUS)"],
        cwd=_REPO, env=env, capture_output=True, text=True, check=True, timeout=120,
    )
    assert out.stdout.strip() == str(len(os.sched_getaffinity(0)))
