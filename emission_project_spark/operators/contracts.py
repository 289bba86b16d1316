"""Declarative table-contract validation — the constraint engine a
parquet warehouse doesn't have.

Generalizes the FK orphan check (``operators/validation.py``) to the
rest of the constraint surface the reference got from Postgres DDL
(``create_tables.py``: NOT NULL, PRIMARY KEY/UNIQUE, CHECK-style value
domains): each table declares a contract, and violations are COUNTED
rather than enforced — the warehouse pattern (Deequ-style) where a
load commits and a gate decides, instead of a row-level reject path
that can't exist on immutable files.

Scale shape: every row-level check (not-null, accepted values, range)
is a conditional sum in ONE hash aggregate over ONE scan of the table
— validating a 100 TB fact costs one pass regardless of how many
checks the contract carries. Uniqueness checks need distinct counts,
which Spark evaluates in the same aggregate via expand (one extra
shuffle per distinct key set, map-side partials intact). Nothing
collects more than one row per check.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class TableContract:
    """Declarative checks for one table.

    - ``not_null``: columns that must carry a value in every row.
    - ``unique``: key column sets whose non-null tuples must not repeat
      (rows with a NULL in the key are skipped, matching SQL UNIQUE).
    - ``accepted_values``: column → allowed value list (NULL passes;
      pair with ``not_null`` to forbid it).
    - ``ranges``: column → inclusive (lo, hi) bounds (NULL passes).
    """

    not_null: list[str] = field(default_factory=list)
    unique: list[list[str]] = field(default_factory=list)
    accepted_values: dict[str, list] = field(default_factory=dict)
    ranges: dict[str, tuple] = field(default_factory=dict)


def contract_violations(df: DataFrame, contract: TableContract) -> DataFrame:
    """Count violations for every check in the contract.

    Returns ``(check_name string, violations bigint)``, one row per
    check, in declaration order. ``violations`` for a unique check is
    the number of surplus rows (rows beyond the first per duplicated
    key tuple)."""
    names: list[str] = []
    aggs = []

    def count_where(cond):
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))

    for col in contract.not_null:
        names.append(f"not_null:{col}")
        aggs.append(count_where(F.col(col).isNull()))
    for keys in contract.unique:
        names.append("unique:" + ",".join(keys))
        complete = None
        for k in keys:
            c = F.col(k).isNotNull()
            complete = c if complete is None else (complete & c)
        aggs.append(
            count_where(complete) - F.countDistinct(*[F.col(k) for k in keys])
        )
    for col, allowed in contract.accepted_values.items():
        names.append(f"accepted:{col}")
        aggs.append(
            count_where(F.col(col).isNotNull() & ~F.col(col).isin(list(allowed)))
        )
    for col, (lo, hi) in contract.ranges.items():
        names.append(f"range:{col}")
        aggs.append(
            count_where(
                F.col(col).isNotNull()
                & ((F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi)))
            )
        )
    if not names:
        raise ValueError("contract_violations needs at least one check")

    agg = df.agg(*[a.cast("bigint").alias(f"__c_{i}") for i, a in enumerate(aggs)])
    pairs = ", ".join(f"'{name}', __c_{i}" for i, name in enumerate(names))
    return agg.selectExpr(
        f"stack({len(names)}, {pairs}) as (check_name, violations)"
    )
