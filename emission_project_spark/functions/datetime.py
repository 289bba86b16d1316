"""Date/time functions (SURVEY.md §2.2 P6-P9).

Mirrors the reference's date-dimension builder
(``dags/create_tables.py:6-15``): a generated calendar with day-name,
day, month, ISO week, quarter, calendar year, keyed by
``date_id = int(yyyymmdd)``.

Semantics pinned per SURVEY.md §4.4: ``week`` is ISO-8601
(= ``weekofyear``), but ``year`` is the *calendar* year (``dt.year``),
NOT the ISO week-year.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from emission_project_spark.operators.keys import date_id_expr


def date_parts(c: Column | str) -> dict[str, Column]:
    """The reference's seven derived calendar attributes for a date col."""
    col = F.col(c) if isinstance(c, str) else c
    return {
        "week_day": F.date_format(col, "EEEE"),
        "day": F.dayofmonth(col),
        "month": F.month(col),
        "week": F.weekofyear(col),  # ISO-8601, same as pandas isocalendar().week
        "quarter": F.quarter(col),
        "year": F.year(col),  # calendar year, NOT ISO week-year
    }


def date_dim(spark: SparkSession) -> DataFrame:
    """Generated date dimension over the reference's range, 2010-01-01
    to 2030-01-01 inclusive: 7,306 rows.

    Spark-first: ``explode(sequence(...))`` — generated distributedly,
    no driver-side pandas ``date_range`` materialization.
    """
    base = spark.sql(
        "SELECT explode(sequence(to_date('2010-01-01'), to_date('2030-01-01'), "
        "interval 1 day)) AS date"
    )
    parts = date_parts("date")
    return base.select(
        date_id_expr("date").alias("date_id"),
        F.col("date"),
        *[expr.alias(name) for name, expr in parts.items()],
    )
