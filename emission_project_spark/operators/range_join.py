"""Range (interval) join: match rows whose timestamps fall in a window.

Spark has no native range join — a raw ``l.ts <= r.ts <= l.ts + w``
condition with no equi-key plans as a broadcast nested loop (O(n·m),
dead at scale). The standard distributed strategy, used here: quantize
time into fixed-width buckets, explode the LEFT side to every bucket
its window overlaps (window/width + 1 replicas, a small constant),
give the right side its single bucket, hash-join on bucket equality,
then apply the exact range predicate. Cost drops to a shuffle on
bucket id + per-bucket pair generation — the same shape as any equi
join, skew-handleable with the usual tools.

(The as-of join — nearest single match — is the sibling operator in
``operators/asof.py``; this one keeps ALL matches in the window.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_s: float,
    upper_s: float,
) -> DataFrame:
    """All (left, right) pairs with ``r.ts - l.ts`` in [lower_s, upper_s].

    Returns left columns + right columns (caller should pre-select /
    alias to avoid collisions) + ``delta_us`` (µs, exact integer).
    The bucket width is the window width — one-to-two replicas per left
    row.
    """
    if upper_s < lower_s:
        raise ValueError("upper_s must be >= lower_s")
    width_us = int(max(upper_s - lower_s, 1e-6) * 1_000_000)
    lower_us, upper_us = int(lower_s * 1_000_000), int(upper_s * 1_000_000)

    l_us = F.unix_micros(F.col(left_ts))
    r_us = F.unix_micros(F.col(right_ts))
    # integer floor-div: sequence over longs needs integral bounds
    lhs = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor((l_us + F.lit(lower_us)) / F.lit(width_us)),
                F.floor((l_us + F.lit(upper_us)) / F.lit(width_us)),
            )
        ),
    )
    rhs = right.withColumn("__bucket", F.floor(r_us / F.lit(width_us)))
    delta = F.unix_micros(F.col(right_ts)) - F.unix_micros(F.col(left_ts))
    return (
        lhs.join(rhs, "__bucket")
        .filter(delta.between(lower_us, upper_us))
        .drop("__bucket")
        .withColumn("delta_us", delta)
    )
