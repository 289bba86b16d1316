"""Skew-mitigation operators: salted joins and salted aggregation.

The reference never meets skew (5k-row inputs, single process), but at
100 TB a handful of hot keys serializes a shuffle stage onto a few
reducers. Two standard remedies, both pure DataFrame compositions:

- **salted join**: the big (skewed) side gets a random salt in
  [0, salts); the small side is exploded ``salts``× so every
  (key, salt) bucket still finds its match. The hot key's rows now
  spread over ``salts`` reducers. Result is row-identical to the
  unsalted inner join — only the physical distribution changes.
- **salted aggregation**: two-phase group-by — partial aggregate on
  (key, salt), final merge on key. Spark's hash aggregate already does
  map-side partials for decomposable functions, which covers most
  skew; the explicit two-phase form matters when the partial state
  itself is big per key (collect-type, count-distinct expansions) or
  when a first-stage width different from the input partitioning is
  needed.

AQE's skew-join splitting (``spark.sql.adaptive.skewJoin``) handles
sort-merge cases automatically; these operators are for when the plan
must be fixed statically (broadcast impossible, aggregation skew).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALTS = 16
_SALT = "__salt"


def salted_join(big: DataFrame, small: DataFrame, on: Iterable[str]) -> DataFrame:
    """Inner equi-join with the big side salted and the small side
    exploded.

    ``on`` must be shared column names. Every big-side row keeps
    exactly the matches it had. The salt is uniform random (seeded) —
    correctness does not depend on its value, only distribution does.
    """
    keys = list(on)
    salted_big = big.withColumn(_SALT, (F.rand(7) * SALTS).cast("int"))
    exploded_small = small.withColumn(
        _SALT, F.explode(F.array(*[F.lit(i) for i in range(SALTS)]))
    )
    out = salted_big.join(exploded_small, [*keys, _SALT], "inner")
    return out.drop(_SALT)


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """One-row skew profile of ``key``: cardinality, max/avg count,
    skew ratio, and the count of heavy hitters (> 2× average).

    The pre-flight that decides between broadcast, salting, and AQE
    skew-split before committing a join strategy. Cost: one grouped
    count on ``key`` (map-side partials), then a scalar average
    cross-joined (1 broadcast row) against the key-cardinality-sized
    counts relation — nothing data-sized reaches the driver.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(F.avg("cnt").alias("_avg_cnt"))
    return (
        counts.crossJoin(F.broadcast(stats))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("total_rows"),
            F.max("cnt").alias("max_cnt"),
            F.min("cnt").alias("min_cnt"),
            F.round(F.first("_avg_cnt"), 6).alias("avg_cnt"),
            F.round(F.max("cnt") / F.first("_avg_cnt"), 6).alias("skew_ratio"),
            F.sum(
                (F.col("cnt") > 2 * F.col("_avg_cnt")).cast("bigint")
            ).alias("n_heavy"),
        )
    )


def salted_aggregate(
    df: DataFrame,
    keys: Iterable[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Two-phase (salted) group-by for decomposable aggregates.

    ``aggs`` maps output column → (function, input column) with
    function in {sum, count, min, max, avg}. avg decomposes into
    sum+count merged at the final stage; count re-merges as sum.
    """
    keys = list(keys)
    partial_exprs = []
    final_exprs = []
    for out_col, (fn, in_col) in aggs.items():
        if fn == "sum":
            partial_exprs.append(F.sum(in_col).alias(f"_p_{out_col}"))
            final_exprs.append(F.sum(f"_p_{out_col}").alias(out_col))
        elif fn == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(f"_p_{out_col}"))
            final_exprs.append(F.sum(f"_p_{out_col}").alias(out_col))
        elif fn == "min":
            partial_exprs.append(F.min(in_col).alias(f"_p_{out_col}"))
            final_exprs.append(F.min(f"_p_{out_col}").alias(out_col))
        elif fn == "max":
            partial_exprs.append(F.max(in_col).alias(f"_p_{out_col}"))
            final_exprs.append(F.max(f"_p_{out_col}").alias(out_col))
        elif fn == "avg":
            partial_exprs.append(F.sum(in_col).alias(f"_ps_{out_col}"))
            partial_exprs.append(F.count(in_col).alias(f"_pc_{out_col}"))
            final_exprs.append(
                (F.sum(f"_ps_{out_col}") / F.sum(f"_pc_{out_col}")).alias(out_col)
            )
        else:
            raise ValueError(f"non-decomposable aggregate: {fn}")
    salted = df.withColumn(_SALT, (F.rand(7) * SALTS).cast("int"))
    partial = salted.groupBy(*keys, _SALT).agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)
