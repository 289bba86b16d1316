"""Referential-integrity validation — FK orphan checks as anti-join
semantics, computed in one pass per child table.

The reference enforces FKs in Postgres DDL (create_tables.py:61-64,
98-125); a parquet warehouse has no constraint engine, so enforcement
becomes a validation step (SURVEY §1.3): a non-null child key with no
parent row is a violation. NULL child keys are NOT violations — the
pipeline deliberately keeps orphan feed rows with null ids (§4.5).

Scale shape: all FKs of one child table are checked in a SINGLE scan —
each parent contributes one broadcast-hash join on its (distinct) key
column plus a conditional-sum aggregate, so validating a 100 TB fact
costs one pass regardless of how many FKs it carries. No collect, no
per-FK job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: one FK spec: (fk_name, child_column, parent_df, parent_column)
FkSpec = tuple[str, str, DataFrame, str]


def fk_violation_counts(child: DataFrame, fks: list[FkSpec]) -> DataFrame:
    """Count FK orphans for every spec in one pass over ``child``.

    Returns a DataFrame ``(fk_name string, violations bigint)`` with one
    row per spec, ordered as given. Each parent's key set is broadcast
    (dimension keys are small even when the dimension is wide), the
    child is scanned once, and the per-FK counts come out of a single
    hash aggregate.
    """
    if not fks:
        raise ValueError("fk_violation_counts needs at least one FK spec")
    probe = child
    for i, (_, child_col, parent, parent_col) in enumerate(fks):
        keys = (
            parent.select(F.col(parent_col).alias(f"__pk_{i}"))
            .where(F.col(f"__pk_{i}").isNotNull())
            .distinct()
            .withColumn(f"__hit_{i}", F.lit(1))
        )
        probe = probe.join(
            F.broadcast(keys), on=probe[child_col] == keys[f"__pk_{i}"], how="left"
        )
    agg = probe.agg(
        *[
            # coalesce: SUM over an EMPTY child is NULL, but "no rows"
            # means zero violations (matching the oracle's count(*)=0)
            F.coalesce(
                F.sum(
                    F.when(
                        F.col(child_col).isNotNull() & F.col(f"__hit_{i}").isNull(),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias(f"__v_{i}")
            for i, (_, child_col, _, _) in enumerate(fks)
        ]
    )
    pairs = ", ".join(f"'{name}', __v_{i}" for i, (name, _, _, _) in enumerate(fks))
    return agg.selectExpr(f"stack({len(fks)}, {pairs}) as (fk_name, violations)")


def validate_fks(child: DataFrame, fks: list[FkSpec]) -> dict[str, int]:
    """Eager convenience wrapper: run :func:`fk_violation_counts` and
    return ``{fk_name: violations}`` (one small collect of len(fks) rows)."""
    return {r.fk_name: int(r.violations) for r in fk_violation_counts(child, fks).collect()}
