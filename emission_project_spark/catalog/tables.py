"""Loaders for the driver's synthetic testdata tables (TESTDATA.md),
and the one owner of the table-layout facts plan builders size work by.

TPC-H-ish star schema ``region nation customer supplier part orders
lineitem`` plus an ``events`` stream table and training-data tables
``documents`` / ``embeddings``; one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}``.

Scale note: loads are plain ``spark.read.parquet`` — columnar scans with
predicate pushdown and column pruning; at 100 TB the same call reads a
partitioned directory tree and Catalyst prunes partitions. Nothing here
collects to the driver.

Layout facts owned here (every one is read without a Spark job):

- parquet footer facts (``parquet_layout``): row count, row-group
  count, and a column's (min, max) from row-group statistics;
- shuffle width (``target_partitions``): the only reader of
  ``spark.sql.shuffle.partitions`` in the package;
- the spread decision (``spread_input``): whether a scan's populated
  splits cover the cluster's cores.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class ParquetLayout(NamedTuple):
    """Footer facts summed over a table's parquet files."""

    rows: int
    row_groups: int
    # (min, max) of the probed column; None when no column was asked
    # for or some row group lacks min/max statistics (exotic writers)
    column_range: tuple | None


def _local_files(path: str) -> list[str]:
    """The parquet files behind a local path or ``file:`` URI (a
    directory lists its ``*.parquet`` parts). Any other scheme raises
    ValueError: footers are only probed on the local filesystem."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        raise ValueError(f"not a local path: {path}")
    local = unquote(url.path) if url.scheme else path
    if os.path.isdir(local):
        return [os.path.join(local, f) for f in os.listdir(local) if f.endswith(".parquet")]
    return [local]


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
        # runtime. Guarded: repeated loads on an already-configured
        # session no longer re-mutate session state.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # integer div: float division would lose sub-µs precision at 2^60 nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df = _normalize_ntz(df)
        return df
    return _normalize_ntz(spark.read.parquet(path))


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TimestampType (UTC session)."""
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load every testdata table as a dict of DataFrames."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def load_table_with_provenance(spark, sf_dir: str, name: str):
    """Table scan plus lineage columns from the parquet reader's
    ``_metadata`` struct: source file path, size, and the split's byte
    range (block start/length — the file region whose row groups
    produced the row) let any output row be traced back to its physical
    input — the audit question ("which file produced this bad row?")
    answered without a lineage service. Zero-cost: ``_metadata`` is
    populated by the scan itself, no extra IO."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, name)
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("_src_file"),
        F.col("_metadata.file_size").alias("_src_file_size"),
        F.col("_metadata.file_block_start").alias("_src_block_start"),
        F.col("_metadata.file_block_length").alias("_src_block_length"),
    )
