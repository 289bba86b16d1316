"""Loaders for the driver's synthetic testdata tables (TESTDATA.md),
and the one owner of the table-layout facts plan builders size work by.

TPC-H-ish star schema ``region nation customer supplier part orders
lineitem`` plus an ``events`` stream table and training-data tables
``documents`` / ``embeddings``; one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}``.

Scale note: loads are ``spark.read.schema(s).parquet`` with the schema
taken from the parquet footers — columnar scans with predicate pushdown
and column pruning, and no schema-inference job; at 100 TB the same call
reads a partitioned directory tree and Catalyst prunes partitions.
Nothing here collects to the driver.

Layout facts owned here (every one is read without a Spark job):

- parquet footer facts (``parquet_layout``): row count, row-group
  count, and a column's (min, max) from row-group statistics;
- a table's Spark schema (``parquet_schema``), mapped from the footer's
  parquet leaf types, or None where the mapping is not exact;
- shuffle width (``target_partitions``): the only reader of
  ``spark.sql.shuffle.partitions`` in the package;
- the spread decision (``spread_input``): whether a scan's populated
  splits cover the cluster's cores.
"""

from __future__ import annotations

import functools
import json
import os
from collections.abc import Iterable
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

class ParquetLayout(NamedTuple):
    """Footer facts summed over a table's parquet files."""

    rows: int
    row_groups: int
    # (min, max) of the probed column; None when no column was asked
    # for or some row group lacks min/max statistics (exotic writers)
    column_range: tuple | None


def _local_files(path: str) -> list[str]:
    """The parquet files behind a local path or ``file:`` URI (a
    directory lists its ``*.parquet`` parts, skipping the ``_``- and
    ``.``-prefixed names Spark skips). Any other scheme raises
    ValueError: footers are only probed on the local filesystem. So
    does a directory holding anything else Spark would read, such as a
    partition subdirectory: its footers would not cover the scan."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        raise ValueError(f"not a local path: {path}")
    local = unquote(url.path) if url.scheme else path
    if not os.path.isdir(local):
        return [local]
    files = [os.path.join(local, f) for f in os.listdir(local) if not f.startswith(("_", "."))]
    if not all(f.endswith(".parquet") and os.path.isfile(f) for f in files):
        raise ValueError(f"not a flat directory of parquet files: {path}")
    return files


def parquet_layout(paths: Iterable[str], column: str | None = None) -> ParquetLayout | None:
    """Row count, row-group count and, when ``column`` is given, that
    column's (min, max), from the parquet footers of ``paths`` (files,
    directories or ``file:`` URIs) — zero Spark jobs.

    Returns None when any footer cannot be read: an I/O error, a
    corrupt or non-parquet file (pyarrow's ``ArrowInvalid`` is a
    ValueError), a non-local URI, or a missing column. Every caller
    then falls back to the decision it makes without footer facts, so
    building a plan never fails on metadata."""
    import pyarrow.parquet as pq

    rows = groups = 0
    stats = []
    try:
        for f in [f for p in paths for f in _local_files(p)]:
            md = pq.read_metadata(f)
            rows += md.num_rows
            groups += md.num_row_groups
            if column is not None:
                idx = md.schema.names.index(column)
                stats += [
                    md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)
                ]
    except (OSError, ValueError, KeyError):
        return None
    column_range = None
    if stats and all(st is not None and st.has_min_max for st in stats):
        column_range = (min(st.min for st in stats), max(st.max for st in stats))
    return ParquetLayout(rows, groups, column_range)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# reader confs the footer mapping is exact for only at their defaults
_MAPPED_AT_DEFAULT = {
    "spark.sql.parquet.binaryAsString": "false",
    "spark.sql.parquet.int96AsTimestamp": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
}
# a footer carrying Spark's own schema is read by that schema, not by
# its parquet types
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# (physical type, logical type) -> Spark type, for the leaves whose
# mapping does not depend on a conf
_LEAF_TYPES: dict[tuple[str, str], DataType] = {
    ("BOOLEAN", "None"): BooleanType(),
    ("INT32", "None"): IntegerType(),
    ("INT64", "None"): LongType(),
    ("FLOAT", "None"): FloatType(),
    ("DOUBLE", "None"): DoubleType(),
    ("BYTE_ARRAY", "String"): StringType(),
    ("INT32", "Date"): DateType(),
}


def _leaf_type(column, nanos_as_long: bool) -> DataType | None:
    """Spark's type for one parquet leaf column, or None when it is not
    in the exactly-mapped set."""
    logical = json.loads(column.logical_type.to_json())
    known = _LEAF_TYPES.get((column.physical_type, logical["Type"]))
    if known is not None:
        return known
    if (column.physical_type, logical["Type"]) != ("INT64", "Timestamp"):
        return None
    if logical["timeUnit"] in ("milliseconds", "microseconds"):
        return TimestampType() if logical["isAdjustedToUTC"] else TimestampNTZType()
    if logical["timeUnit"] == "nanoseconds" and nanos_as_long:
        return LongType()
    return None


def _footer_struct(metadata, nanos_as_long: bool) -> StructType | None:
    """One footer's Spark schema: each top-level field is a mapped leaf
    or a standard 3-level LIST of one mapped leaf. Fields are nullable
    and arrays contain nulls, as Spark makes every file source's schema
    nullable."""
    import pyarrow.types as pa_types

    if metadata.metadata and _SPARK_ROW_METADATA in metadata.metadata:
        return None
    schema = metadata.schema
    arrow = schema.to_arrow_schema()
    if len(arrow) != len(schema):  # a nested field with several leaves
        return None
    fields = []
    for field, column in zip(arrow, (schema.column(i) for i in range(len(schema)))):
        name = field.name
        parts = column.path.split(".")
        if "." in name or parts[0] != name:
            return None
        if len(parts) == 1 and column.max_repetition_level == 0:
            spark_type = _leaf_type(column, nanos_as_long)
        elif (
            len(parts) == 3
            and column.max_repetition_level == 1
            and parts[1] not in ("array", f"{name}_tuple")
            and (pa_types.is_list(field.type) or pa_types.is_large_list(field.type))
        ):
            element = _leaf_type(column, nanos_as_long)
            spark_type = ArrayType(element, True) if element is not None else None
        else:
            return None
        if spark_type is None:
            return None
        fields.append(StructField(name, spark_type, True))
    if len({f.name.lower() for f in fields}) != len(fields):
        return None
    return StructType(fields)


@functools.lru_cache(maxsize=256)
def _footers_schema(
    files: tuple[tuple[str, int, int], ...], nanos_as_long: bool
) -> StructType | None:
    """The schema every footer of ``files`` ((path, mtime_ns, size)
    each) maps to, or None when one does not map or they differ."""
    import pyarrow.parquet as pq

    try:
        schemas = [_footer_struct(pq.read_metadata(f), nanos_as_long) for f, _, _ in files]
    except (OSError, ValueError, KeyError):
        return None
    return schemas[0] if all(s == schemas[0] for s in schemas) else None


def parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """The Spark schema ``spark.read.parquet(path)`` infers, read from
    the parquet footers of ``path`` (a file, a directory of parts or a
    ``file:`` URI) — zero Spark jobs. Cached per file (path, mtime_ns,
    size) and per ``nanosAsLong``; callers share the returned object,
    so none may mutate it.

    Exact or None: the leaves map to boolean, int, bigint, float,
    double, string, date, timestamp, timestamp_ntz or (NANOS with
    ``nanosAsLong`` on) bigint, at top level or as the element of a
    one-leaf LIST. Anything else returns None — INT96, decimals,
    binary, structs, maps, footers holding Spark's own row metadata,
    part files whose schemas differ, a non-local URI, an unreadable
    footer, or a mapped reader conf off its default."""
    conf = spark.conf
    if any(conf.get(k, v).lower() != v for k, v in _MAPPED_AT_DEFAULT.items()):
        return None
    try:
        files = tuple(
            (f, st.st_mtime_ns, st.st_size) for f in _local_files(path) for st in [os.stat(f)]
        )
    except (OSError, ValueError):
        return None
    if not files:
        return None
    return _footers_schema(files, conf.get(_NANOS_AS_LONG, "false").lower() == "true")


def target_partitions(spark: SparkSession, rows: int = 0, rows_per_task: int = 1) -> int:
    """Shuffle width for ``rows`` rows at ``rows_per_task`` rows per
    task, never below ``spark.sql.shuffle.partitions`` — the width every
    un-sized exchange already gets. With no rows: that session width.
    ``session.get_spark`` rejects a non-integer value of the conf."""
    return max(int(spark.conf.get("spark.sql.shuffle.partitions")), rows // rows_per_task)


def spread_input(df: DataFrame) -> DataFrame:
    """Widen narrow inputs before CPU-heavy map-side work (tokenizers,
    shingle explodes, mapInPandas GEMM kernels).

    A parquet row group is read by ONE split — the one holding its
    midpoint — however many byte-range splits the planner cuts, so a
    table written as one row group scans as one populated partition
    and the map side runs serially (the unsplittable-input hazard; the
    sf10 jaccard event log showed a 70 s one-task tokenize stage, 40 %
    of the query).

    The populated split count is ``min(getNumPartitions(), total row
    groups)``; the footers are read only when the scan has fewer files
    than ``defaultParallelism`` (otherwise every core already has a
    file) and the planner's count alone is used when they cannot be
    read. Repartitions to ``defaultParallelism`` when that count falls
    below it, else returns ``df`` unchanged (no exchange). Row-wise and
    post-shuffle consumers are partition-layout-invariant, so results
    never change; order-sensitive float aggregates downstream are
    already rounded at their grids per the project convention."""
    target = df.sparkSession.sparkContext.defaultParallelism
    populated = df.rdd.getNumPartitions()
    files = df.inputFiles() if populated >= target else []
    if 0 < len(files) < target:
        layout = parquet_layout(files)
        if layout is not None:
            populated = min(populated, layout.row_groups)
    if populated < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing physical quirks.

    The schema comes from the parquet footer (``parquet_schema``), so
    the load launches no Spark job. That schema is exactly the one
    ``spark.read.parquet`` infers, or the load falls back to that
    inference: plans, results and size estimates are the same either
    way.

    The driver has shipped ``events.ts`` in three parquet layouts across
    regenerations: TIMESTAMP(NANOS) (readable only via the nanos-as-long
    legacy conf), µs with ``isAdjustedToUTC=false`` (read as
    TIMESTAMP_NTZ), and plain µs-UTC. We normalize all three to a proper
    (microsecond, UTC-session) TimestampType so downstream consumers
    (``unix_micros`` call sites, interval arithmetic) and the DuckDB
    oracle (NTZ-native) see identical values — the session timezone is
    pinned UTC, so the NTZ→TZ cast is value-preserving.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # session.py sets this at build, but the external driver runs
        # our queries with a VANILLA SparkSession that never saw
        # session.py — so the reader conf must remain settable here at
        # runtime, before the footer mapping reads it. Guarded: repeated
        # loads on an already-configured session do not re-mutate
        # session state.
        if spark.conf.get(_NANOS_AS_LONG, "false") != "true":
            spark.conf.set(_NANOS_AS_LONG, "true")
    schema = parquet_schema(spark, path)
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    if name == "events" and dtypes.get("ts") == "bigint":
        # integer div: float division would lose sub-µs precision at 2^60 nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _normalize_ntz(df, dtypes)


def _normalize_ntz(df: DataFrame, dtypes: dict[str, str]) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column of the loaded schema ``dtypes``
    to TimestampType (UTC session)."""
    for c, t in dtypes.items():
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
