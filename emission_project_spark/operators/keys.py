"""Surrogate-key assignment (SURVEY.md §4.3.1).

The reference relies on Postgres ``SERIAL`` columns: dense ascending ids
assigned in insertion order, where insertion order is the post-
``sort_values`` order (reference ``dags/create_tables.py:24,33,51,58``,
``dags/emission-dag.py:74,93``). Spark has no engine-global sequence;
``add_surrogate_key`` gives bit-exact SERIAL semantics with
``row_number() OVER (ORDER BY sort)`` + offset. The global window
funnels through one partition, which is acceptable for *dimension*
tables (small by definition) — the only place the reference uses
SERIAL. For a fact-sized relation, the distributed dense row number is
``functions/ranks.py::global_position``.

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
) -> DataFrame:
    """Dense ascending id in sort order (exact SERIAL semantics).

    ``start`` may be a Column, e.g. a scalar subquery over the stored
    table's max id, so the offset is computed inside the plan rather
    than by a driver-side probe."""
    w = Window.orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    out = df.withColumn(name, (F.row_number().over(w) + (start - 1)).cast("long"))
    return out.select(name, *df.columns)


def date_id_expr(date_col: str | Column) -> Column:
    """Smart date key ``int(yyyymmdd)`` (reference ``create_tables.py:14``:
    zero-padded year‖month‖day string → int). Pure expression — at scale
    this replaces the date-dim equi-join entirely (compute, don't join).
    """
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return F.date_format(c, "yyyyMMdd").cast("int")
