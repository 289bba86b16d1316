"""Table-layout facts owned by ``catalog/tables.py``: parquet footer
probes, the footer-derived table schema, shuffle-width sizing and the
spread decision — plus the session conf they depend on."""

from __future__ import annotations

import datetime
import decimal
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import (
    TESTDATA_TABLES,
    load_table,
    parquet_layout,
    parquet_schema,
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
    # no footer facts off the local filesystem, for a missing column, or
    # for a directory Spark would read more of than its parquet parts
    assert parquet_layout(["hdfs://nn/t.parquet"]) is None
    assert parquet_layout([f], "nope") is None
    (d / "_SUCCESS").write_bytes(b"")
    assert parquet_layout([str(d)]).rows == 30
    (d / "k=1").mkdir()
    assert parquet_layout([str(d)]) is None


_NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_TS = [datetime.datetime(2024, 1, 1, 1, 2, 3, 456000), None]
# column -> pyarrow array; each is written next to an int64 ``id``
_MATRIX = {
    "i8": pa.array([1, None], pa.int8()),
    "i16": pa.array([1, None], pa.int16()),
    "i32": pa.array([1, None], pa.int32()),
    "i64": pa.array([1, None], pa.int64()),
    "u32": pa.array([1, None], pa.uint32()),
    "f32": pa.array([1.5, None], pa.float32()),
    "f64": pa.array([1.5, None], pa.float64()),
    "bool": pa.array([True, None]),
    "str": pa.array(["a", None]),
    "bin": pa.array([b"a", None], pa.binary()),
    "date": pa.array([datetime.date(2024, 1, 2), None], pa.date32()),
    "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(10, 2)),
    "list_f32": pa.array([[1.0, None], None], pa.list_(pa.float32())),
    "list_str": pa.array([["x"], None], pa.list_(pa.string())),
    "struct": pa.array([{"a": 1}, None], pa.struct([("a", pa.int32())])),
    "map": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int32())),
    **{
        f"ts_{unit}_{tz or 'ntz'}": pa.array(_TS, pa.timestamp(unit, tz=tz))
        for unit in ("s", "ms", "us", "ns")
        for tz in (None, "UTC")
    },
}
# the columns the footer mapping covers; every other one falls back
_DERIVED = {
    "i32", "i64", "f32", "f64", "bool", "str", "date", "list_f32", "list_str",
    "ts_s_ntz", "ts_s_UTC", "ts_ms_ntz", "ts_ms_UTC", "ts_us_ntz", "ts_us_UTC",
}


def _inferred_load(spark, path):
    """``load_table`` for a non-events table as it reads with schema
    inference: the inferred scan, TIMESTAMP_NTZ cast to timestamp."""
    df = spark.read.parquet(path)
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _outcome(fn):
    """(schema, rows) of a load, or the exception type it raised."""
    try:
        df = fn()
        return df.schema, df.orderBy("id").collect()
    except Exception as exc:  # the fallback must fail the same way
        return type(exc)


@pytest.fixture()
def nanos_conf(spark):
    """Sets ``nanosAsLong`` for one test and restores it afterwards."""
    old = spark.conf.get(_NANOS)
    yield lambda value: spark.conf.set(_NANOS, value)
    spark.conf.set(_NANOS, old)


def test_load_table_launches_no_job(spark, sf_dir):
    """Each load reads its schema from the footer: no inference job."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        for name in TESTDATA_TABLES:
            group = f"test-load-table-{name}"
            sc.setJobGroup(group, name)
            load_table(spark, sf_dir, name)
            assert list(tracker.getJobIdsForGroup(group)) == [], name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_parquet_schema_is_exact_or_none(spark, tmp_path, nanos_conf, nanos_as_long):
    """Over a pyarrow-written type matrix plus one INT96 file, the
    footer schema equals ``spark.read.parquet``'s inferred one or is
    None, and ``load_table`` ends as the inferring load does: the same
    schema and rows, or the same exception type."""
    nanos_conf(nanos_as_long)
    for name, arr in _MATRIX.items():
        pq.write_table(pa.table({"id": [1, 2], "c": arr}), str(tmp_path / f"{name}.parquet"))
    pq.write_table(
        pa.table({"id": [1, 2], "c": _MATRIX["ts_us_ntz"]}),
        str(tmp_path / "int96.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    derived = set()
    for name in [*_MATRIX, "int96"]:
        path = str(tmp_path / f"{name}.parquet")
        schema = parquet_schema(spark, path)
        if schema is not None:
            derived.add(name)
            assert schema == spark.read.parquet(path).schema, name
        got = _outcome(lambda: load_table(spark, str(tmp_path), name))
        assert got == _outcome(lambda: _inferred_load(spark, path)), name
    nanos = {"ts_ns_ntz", "ts_ns_UTC"} if nanos_as_long == "true" else set()
    assert derived == _DERIVED | nanos


def test_parquet_schema_sees_a_rewritten_file(spark, tmp_path):
    """The cache is keyed by the file's mtime and size: a file
    rewritten in place with another column type loads by its new
    schema."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2], "c": pa.array([1, 2], pa.int32())}), path)
    assert dict(load_table(spark, str(tmp_path), "t").dtypes)["c"] == "int"
    pq.write_table(pa.table({"id": [1, 2], "c": ["a", "bb"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert dict(df.dtypes)["c"] == "string"
    assert [r["c"] for r in df.orderBy("id").collect()] == ["a", "bb"]


def test_parquet_schema_directory_needs_one_schema(spark, tmp_path):
    """A directory derives its schema only when it holds nothing but
    parquet parts (names Spark skips aside) and every part's footer maps
    to the same schema; otherwise the load infers as before."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"id": [1], "c": pa.array([1], pa.int32())}), str(d / "a.parquet"))
    pq.write_table(pa.table({"id": [2], "c": pa.array([2], pa.int32())}), str(d / "b.parquet"))
    (d / "_SUCCESS").write_bytes(b"")
    assert parquet_schema(spark, str(d)) == spark.read.parquet(str(d)).schema
    (d / "notes.txt").write_text("not parquet")
    assert parquet_schema(spark, str(d)) is None
    (d / "notes.txt").unlink()
    pq.write_table(pa.table({"id": [3], "c": pa.array([3], pa.int64())}), str(d / "b.parquet"))
    assert parquet_schema(spark, str(d)) is None
    assert load_table(spark, str(tmp_path), "t").schema == spark.read.parquet(str(d)).schema


def test_load_table_fallback_ends_as_inference_does(spark, tmp_path, sf_dir):
    """A garbage footer and a non-``file:`` URI derive no schema, so
    ``load_table`` raises what ``spark.read.parquet`` raises; a
    ``file:`` URI derives the inferred schema."""
    (tmp_path / "bad.parquet").write_bytes(b"not a parquet footer" * 8)
    for base, name in [(str(tmp_path), "bad"), ("nosuchfs:///data", "nation")]:
        path = os.path.join(base, f"{name}.parquet")
        assert parquet_schema(spark, path) is None
        with pytest.raises(Exception) as inferred:
            spark.read.parquet(path).collect()
        with pytest.raises(Exception) as loaded:
            load_table(spark, base, name).collect()
        assert type(loaded.value) is type(inferred.value)
    uri = f"file://{os.path.abspath(sf_dir)}"
    assert load_table(spark, uri, "nation").schema == spark.read.parquet(
        f"{uri}/nation.parquet"
    ).schema
    assert parquet_schema(spark, f"{uri}/nation.parquet") is not None


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
