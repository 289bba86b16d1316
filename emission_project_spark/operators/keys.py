"""Surrogate-key assignment (SURVEY.md §4.3.1).

The reference relies on Postgres ``SERIAL`` columns: dense ascending ids
assigned in insertion order, where insertion order is the post-
``sort_values`` order (reference ``dags/create_tables.py:24,33,51,58``,
``dags/emission-dag.py:74,93``). Spark has no engine-global sequence, so
we provide two strategies:

- ``add_surrogate_key`` (exact): ``row_number() OVER (ORDER BY sort)``
  + offset. Bit-exact SERIAL semantics; the global window funnels
  through one partition, acceptable for *dimension* tables (small by
  definition) — the only place the reference uses SERIAL.
- ``add_surrogate_key_distributed`` (scale): per-partition row_number +
  partition offsets computed from partition counts (zipWithIndex-style,
  but expressed with DataFrame ops). Dense, unique, ordered by the sort
  key across partitions; this is what you'd use for a 100 TB fact.

``monotonically_increasing_id`` is deliberately not used: non-dense and
partition-layout-dependent, so oracle comparisons on id values fail.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def add_surrogate_key(
    df: DataFrame,
    name: str,
    order_by: Sequence[str],
    start: int | Column = 1,
    position_first: bool = True,
) -> DataFrame:
    """Dense ascending id in sort order (exact SERIAL semantics).

    ``start`` may be a Column, e.g. a scalar subquery over the stored
    table's max id, so the offset is computed inside the plan rather
    than by a driver-side probe."""
    w = Window.orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    out = df.withColumn(name, (F.row_number().over(w) + (start - 1)).cast("long"))
    if position_first:
        out = out.select(name, *[c for c in df.columns])
    return out


def add_surrogate_key_distributed(
    df: DataFrame,
    name: str,
    order_by: Sequence[str],
    start: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense ascending id without a global single-partition window.

    Range-partition by the sort key (so partition i's keys all precede
    partition i+1's), then id = per-partition row_number + exclusive
    running offset of partition sizes. Two narrow passes over the data
    plus one tiny (num_partitions-row) broadcast join — no global
    funnel. This is the 100 TB path; results are identical to
    ``add_surrogate_key`` for unique sort keys.
    """
    sort_cols = [F.col(c).asc_nulls_last() for c in order_by]
    ranged = df.repartitionByRange(*(([num_partitions] if num_partitions else []) + sort_cols))
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    # exclusive prefix-sum of partition sizes: num_partitions rows, broadcast
    offsets = (
        with_pid.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("_cnt")
    )
    w_local = Window.partitionBy("_pid").orderBy(*sort_cols)
    out = (
        with_pid.withColumn("_local_rn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(name, (F.col("_local_rn") + F.col("_offset") + F.lit(start - 1)).cast("long"))
        .drop("_pid", "_local_rn", "_offset")
    )
    return out.select(name, *[c for c in df.columns])


def date_id_expr(date_col: str | Column) -> Column:
    """Smart date key ``int(yyyymmdd)`` (reference ``create_tables.py:14``:
    zero-padded year‖month‖day string → int). Pure expression — at scale
    this replaces the date-dim equi-join entirely (compute, don't join).
    """
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return F.date_format(c, "yyyyMMdd").cast("int")
