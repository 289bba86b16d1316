"""Loader robustness: the driver has regenerated testdata between rounds
with different parquet physical types for ``events.ts``.  ``load_table``
must yield identical TimestampType values for every layout the driver
has shipped:

  1. TIMESTAMP(NANOS)            — round-1/2 data; Spark reads it only via
                                   the nanos-as-long legacy conf (bigint).
  2. µs, isAdjustedToUTC=false   — round-3 data (pandas/DuckDB default);
                                   Spark reads TIMESTAMP_NTZ.
  3. µs, isAdjustedToUTC=true    — plain UTC µs; Spark reads TimestampType.

A fourth regeneration must not be able to produce a new red artifact.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from emission_project_spark.catalog.tables import load_table

_TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0, 123456),
    datetime.datetime(2024, 6, 15, 12, 30, 45, 1),
    datetime.datetime(2025, 12, 31, 23, 59, 59, 999999),
]
_ROWS = {
    "event_id": [1, 2, 3],
    "user_id": [10, 20, 30],
    "event_type": ["signup", "click", "purchase"],
    "value": [1.0, 2.0, 3.0],
    "props": ["{}", "{}", "{}"],
}


def _write_events(tmpdir: str, ts_type: pa.DataType) -> str:
    table = pa.table({**{"event_id": _ROWS["event_id"]},
                      "ts": pa.array(_TS, type=ts_type),
                      **{k: v for k, v in _ROWS.items() if k != "event_id"}})
    pq.write_table(table, f"{tmpdir}/events.parquet")
    return tmpdir


@pytest.mark.parametrize(
    "ts_type",
    [
        pytest.param(pa.timestamp("ns"), id="nanos"),
        pytest.param(pa.timestamp("us"), id="us-ntz"),
        pytest.param(pa.timestamp("us", tz="UTC"), id="us-utc"),
    ],
)
def test_events_ts_layouts_identical(spark, tmp_path, ts_type):
    sf_dir = _write_events(str(tmp_path), ts_type)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r["ts"] for r in df.select("ts").orderBy("event_id").collect()]
    assert got == _TS
    # a vanilla session never saw session.py's nanos-as-long conf:
    # load_table must set it before it reads the schema
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(nanos)
    spark.conf.unset(nanos)
    try:
        vanilla = load_table(spark, sf_dir, "events")
        assert dict(vanilla.dtypes)["ts"] == "timestamp"
        assert [r["ts"] for r in vanilla.select("ts").orderBy("event_id").collect()] == _TS
    finally:
        spark.conf.set(nanos, old)
    # unix_micros must resolve — this is the call that broke in round 3
    from pyspark.sql import functions as F

    micros = [
        r[0]
        for r in df.select(F.unix_micros("ts")).orderBy(F.unix_micros("ts")).collect()
    ]
    expected = sorted(
        int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
        for t in _TS
    )
    assert micros == expected
