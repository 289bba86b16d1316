"""Distributed exact ranking without a data-sized single-partition sort.

``row_number() OVER (ORDER BY k)`` funnels the whole relation through
ONE task — fine at sf0.1, a serial wall at 100 TB. :func:`global_position`
computes the same positions in parallel as a two-level prefix sum:

1. a sample of the composite order key, sorted by Spark, yields n − 1
   quantile rows (n = ``target_partitions``, at most ``MAX_BUCKETS``):
   range boundaries that a scalar subquery draws once on the driver and
   inlines as a constant;
2. each row's bucket is a balanced CASE tree of null-safe
   lexicographic comparisons against those boundaries (O(log n) per
   row);
3. per-bucket totals → a ≤ n-row relation whose running prefix is the
   ONLY partition-less window;
4. within each bucket a running ``row_number`` (or weighted sum) —
   parallel across buckets, each task sorts ~1/n of the data.

The bucket is a pure function of the key, monotone along the order, so
positions are exact whatever boundaries the sample drew: the boundaries
balance the work and never decide a position, and nothing needs a
materialized layout. The sample is itself a pure function of the data,
and the subquery reads the relation through the exchanges the ranking
already runs, so it adds no scan of a shuffled input. Ties share a bucket, and NULL, NaN, ASC and DESC
keys land where Spark's sort puts them. Boundaries are drawn from the
whole composite key, so a lead column where most rows tie (a hapax
document frequency) still splits evenly on its tie-break.

Used by the exact-rank statistics family (Spearman, ROC-AUC, Cliff's
delta, Gini, Lorenz, RFM, Heaps, Zipf), the dense surrogate keys and the
jaccard shingle rarity rank — each keeps its audited oracle SQL (DuckDB
runs the textbook global window) while the Spark plan carries no
data-sized single-partition WindowExec.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import target_partitions

__all__ = [
    "global_position",
    "ntile_from_position",
    "topk_per_query",
]

# Sampled key rows per call: ≥ 30 per bucket, ≥ 250 at a width of 8.
SAMPLE_ROWS = 2_000
# Buckets per rank: the session width, capped. The CASE tree holds one
# comparison per boundary, and at Spark's default width of 200 its
# parse, planning and code generation cost seconds per call on inputs of
# any size (sf0.01 text_zipf_slope 5.7 → 15.5 s in a default session);
# 64 buckets still give every core of a 64-way host its own bucket.
MAX_BUCKETS = 64


def _sort_spec(c: Column | str) -> tuple[Column, bool, bool]:
    """``(key, descending, nulls_first)`` of one ``orderBy`` column;
    a bare column sorts ascending with NULLs first, as in Spark."""
    c = F.col(c) if isinstance(c, str) else c
    node = c._jc.node()
    if node.getClass().getSimpleName() != "SortOrder":
        return c, False, True
    key = type(c)(SparkContext._jvm.org.apache.spark.sql.Column(node.child()))
    desc = node.sortDirection().getClass().getSimpleName() == "Descending$"
    nulls_first = node.nullOrdering().getClass().getSimpleName() == "NullsFirst$"
    return key, desc, nulls_first


def _murmur3_int(v: int) -> int:
    """Spark's ``hash()`` of one int column (Murmur3_x86_32.hashInt,
    seed 42)."""
    m = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    k = rotl((v * 0xCC9E2D51) & m, 15) * 0x1B873593 & m
    h = (rotl(42 ^ k, 13) * 5 + 0xE6546B64) & m
    h ^= 4
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & m
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@functools.cache
def _bucket_labels(n: int, width: int) -> list[int]:
    """``n`` increasing ints that Spark hash-partitions into ``n``
    different partitions of ``width`` (≥ n). The window exchange
    hash-partitions the bucket column, and the ids 0..n−1 collide (at
    n = 4, three of them share one partition, so one task sorts three
    quarters of the data); these labels give each bucket its own task
    and keep the bucket order."""
    labels, used, v = [], set(), 0
    while len(labels) < n:
        if _murmur3_int(v) % width not in used:
            used.add(_murmur3_int(v) % width)
            labels.append(v)
        v += 1
    return labels


def _before(a: str, b: str, desc: bool, nulls_first: bool) -> str:
    """SQL: ``a`` sorts strictly before ``b`` (never NULL). Spark's ``<``
    and ``>`` order NaN above every double, as its sort does."""
    nulls = f"{a} IS NULL AND {b} IS NOT NULL" if nulls_first else f"{a} IS NOT NULL AND {b} IS NULL"
    return f"({nulls} OR coalesce({a} {'>' if desc else '<'} {b}, false))"


def _with_range_bucket(
    df: DataFrame, order_cols: list[Column | str], n: int, width: int
) -> DataFrame:
    """``df`` plus ``__b``, the label of one of ``n`` buckets (each in
    its own partition of the ``width``-way window exchange), monotone
    along ``order_cols``: bucket j holds the keys after boundary j−1
    and at or before boundary j, a balanced CASE tree over the ``n − 1``
    quantile rows of a key sample.

    The sample is the ``SAMPLE_ROWS`` rows first in (hash, key) order,
    sorted by ``order_cols`` — a pure function of the data, so the
    boundaries are too. It runs as a scalar subquery: Spark evaluates
    it once on the driver and inlines its value into every row's
    bucket expression, and the subquery reuses ``df``'s exchanges
    with the ranking (it keeps every column, so column pruning cannot
    split the shared subtree). The expressions are SQL text, so the
    tree costs one parse, not a py4j call per node."""
    if n == 1:
        return df.withColumn("__b", F.lit(0))
    specs = [_sort_spec(c) for c in order_cols]
    keyed = df.select("*", *[k.alias(f"__k{i}") for i, (k, _, _) in enumerate(specs)])
    keys = [(f"__k{i}", d, nf) for i, (_, d, nf) in enumerate(specs)]
    names = [c for c, _, _ in keys]

    def cmp(left: str, right: str) -> str:
        return "CASE " + " ".join(
            f"WHEN {_before(f'{left}.{c}', f'{right}.{c}', d, nf)} THEN -1 "
            f"WHEN {_before(f'{right}.{c}', f'{left}.{c}', d, nf)} THEN 1"
            for c, d, nf in keys
        ) + " ELSE 0 END"

    def at_or_before(j: int) -> str:
        out = "true"
        for c, d, nf in reversed(keys):
            v = f"get(__bounds, {j}).{c}"
            out = f"({_before(c, v, d, nf)} OR ({c} <=> {v} AND {out}))"
        return out

    labels = _bucket_labels(n, width)

    def tree(lo: int, hi: int) -> str:
        if lo == hi:
            return str(labels[lo])
        mid = (lo + hi + 1) // 2
        return f"CASE WHEN {at_or_before(mid - 1)} THEN {tree(lo, mid - 1)} ELSE {tree(mid, hi)} END"

    row = ", ".join("`" + c.replace("`", "``") + "`" for c in keyed.columns)
    pick = ", ".join(f"get(o, CAST(j * size(o) DIV {n} AS INT)).{c} AS {c}" for c in names)
    bounds = (
        keyed.orderBy(F.xxhash64(*names), *names)
        .limit(SAMPLE_ROWS)
        .select(F.expr(f"struct({row})").alias("s"))
        .agg(F.expr(f"array_sort(collect_list(s), (l, r) -> {cmp('l', 'r')})").alias("o"))
        .select(F.expr(f"transform(sequence(1, {n - 1}), j -> struct({pick}))"))
        .scalar()
    )
    return (
        keyed.withColumn("__bounds", bounds)
        .withColumn("__b", F.expr(tree(0, n - 1)))
        .drop("__bounds", *names)
    )


def global_position(
    df: DataFrame,
    order_cols: list[Column | str],
    out_col: str = "i",
    weight: str | None = None,
) -> DataFrame:
    """``df`` plus ``out_col`` (long): 1 + the summed ``weight`` of every
    row sorted before this one by ``order_cols``.

    Without ``weight`` that is ``row_number() OVER (ORDER BY
    order_cols)``, exact for a composite key that is unique per row
    (ties would be broken arbitrarily, as the window does). With
    ``weight`` naming a count column of a histogram cell table (one row
    per distinct value) it is ``rank() OVER (ORDER BY value)``, the
    cell's min-rank."""
    width = target_partitions(df.sparkSession)
    bucketed = _with_range_bucket(df, order_cols, min(width, MAX_BUCKETS), width)
    w = F.lit(1) if weight is None else F.col(weight).cast("long")
    totals = bucketed.groupBy("__b").agg(F.sum(w).alias("__bt"))
    woff = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "__b", F.coalesce(F.sum("__bt").over(woff), F.lit(0)).alias("__off")
    )
    within = Window.partitionBy("__b").orderBy(*order_cols)
    run = (
        F.row_number().over(within)
        if weight is None
        else F.sum(w).over(within.rowsBetween(Window.unboundedPreceding, 0)) - w + 1
    )
    return (
        bucketed.withColumn("__run", run)
        .join(F.broadcast(offs), "__b")
        .withColumn(out_col, (F.col("__off") + F.col("__run")).cast("long"))
        .drop("__b", "__off", "__run")
    )


def topk_per_query(scored: DataFrame, order: Column, k: int) -> DataFrame:
    """The ``k`` best rows per ``query_id`` of a scored candidate
    relation: ``rank`` (bigint) is ``row_number()`` over ``order``, ties
    broken by ``vec_id`` ascending, so Spark and the DuckDB oracles rank
    identically. The filter on the window rank plans as a
    WindowGroupLimit, so the partial top-k runs before the shuffle."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def ntile_from_position(i: Column, n: Column, buckets: int) -> Column:
    """``ntile(buckets)`` recovered from a 1-based position ``i`` out
    of ``n`` rows — the standard SQL tiling both Spark and DuckDB
    implement: the first ``n % buckets`` tiles carry ``n/buckets + 1``
    rows, the rest ``n/buckets``. Lets a distributed
    :func:`global_position` replace a single-partition ntile window
    bit-for-bit."""
    q = F.floor(n / buckets)
    r = n % buckets
    big = r * (q + 1)  # rows living in the (q+1)-sized leading tiles
    return (
        F.when(i <= big, F.floor((i - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((i - big - 1) / q) + 1)
        .cast("int")
    )
