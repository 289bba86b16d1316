"""Distributed exact ranking without a data-sized single-partition sort.

The classic ``rank() OVER (ORDER BY value)`` funnels the whole relation
through ONE task — fine at sf0.1, a serial wall at 100 TB (the round-8
verdict's only remaining plan-shape defect class). This module is the
scale path the KS/MWU cell-table queries (plans/drift_stats.py:91,171)
already hinted at, generalized:

    min-rank(v) = 1 + Σ_{u < v} cnt(u)

computed as a two-level prefix sum:

1. range-bucket the values with ``width_bucket`` over the global
   [min, max] (one 1-row bounds aggregate, broadcast);
2. per-bucket totals → a ≤ ``n_buckets``+3-row relation whose running
   prefix is the ONLY partition-less window, bounded by construction;
3. within-bucket running counts via ``Window.partitionBy(bucket)`` —
   parallel across buckets, each task sorts ~1/n_buckets of the data.

Rank correctness does NOT depend on bucket balance (skewed buckets are
a latency, never a wrongness), and ties are safe by construction: a
bucket is a deterministic function of the value, so tied values always
share a bucket and fold into one cell / adjacent window rows.

Used by the exact-rank statistics family (Spearman, ROC-AUC, Cliff's
delta, Gini, Lorenz, RFM, Heaps) — each keeps its audited oracle SQL
(DuckDB runs the textbook global window; tiny data) while the Spark
plan carries no data-sized single-partition WindowExec.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import target_partitions

__all__ = [
    "cell_minrank",
    "global_row_number",
    "row_position",
    "ntile_from_position",
    "shared_bounds",
    "topk_per_query",
]


def shared_bounds(df: DataFrame, exprs: dict[str, Column]) -> DataFrame:
    """ONE bounds pass for several rank calls over the same relation:
    per bucket expression ``name`` the 1-row result carries
    ``__lo_<name>`` / ``__hi_<name>`` — exactly the finite [min, max]
    ``_with_bucket`` would compute for that expression by itself (same
    cast, same NaN skip). A caller running k ``row_position`` /
    ``cell_minrank`` calls on one input (events_rfm_segments: three
    orderings of the per-user RFM aggregate) folds k bounds scans into
    one and passes the shared relation via ``bounds=``/``bounds_key=``.

    The 1-row result is lazily ``localCheckpoint``-ed — the narrowest
    relation in the codebase — because nothing weaker holds the fusion
    together: each call slices its own ``__lo_<k>``/``__hi_<k>`` pair,
    and column pruning would otherwise push that slice INTO the shared
    aggregate, splitting it back into k per-metric scans (measured on
    the first cut of this change: the "shared" plan re-pruned into
    three distinct bounds aggregates, byte-for-byte the before shape).

    Results are bit-identical to per-call bounds: min/max over the same
    rows with the same NULL/NaN handling."""
    aggs = []
    for name, e in exprs.items():
        b = e.cast("double")
        fin = F.when(~F.isnan(b), b)  # NULL passes through as NULL
        aggs.append(F.min(fin).alias(f"__lo_{name}"))
        aggs.append(F.max(fin).alias(f"__hi_{name}"))
    return df.agg(*aggs).localCheckpoint(eager=False)


def _with_bucket(
    df: DataFrame,
    bucket_on: Column,
    n_buckets: int,
    bounds: DataFrame | None = None,
    bounds_key: str | None = None,
) -> DataFrame:
    """Attach ``__b`` ∈ [0, n_buckets+2]: the width_bucket range bucket
    of ``bucket_on`` over its global [min, max] (values equal to max
    land in bucket n_buckets+1 — just one more bucket id). The bounds
    are a 1-row broadcast scalar; a constant column degenerates to one
    bucket, which is exactly the single-sort baseline.

    NULL/NaN parity with the window sort these helpers replace (the
    round-9 advice): ``width_bucket`` yields NULL for both, which would
    silently DROP those rows at the bucket equi-join. Instead NULL
    values land in bucket 0 (Spark's ASC sort puts NULLs FIRST) and NaN
    in bucket n_buckets+2 (Spark orders NaN GREATER than any double),
    so a rank()/row_number() caller sees the same global order the
    single-partition window would have produced. The [min, max] bounds
    skip NaN explicitly — Spark's max() would otherwise return NaN and
    poison every finite bucket.

    ``bounds``/``bounds_key``: a precomputed :func:`shared_bounds`
    relation — the per-call bounds aggregate is skipped and the shared
    1-row broadcast is sliced to this expression's ``__lo``/``__hi``
    instead (identical values, one scan for k calls)."""
    b = bucket_on.cast("double")
    if bounds is not None:
        bounds = bounds.select(
            F.col(f"__lo_{bounds_key}").alias("__lo"),
            F.col(f"__hi_{bounds_key}").alias("__hi"),
        )
    else:
        finite = F.when(~F.isnan(b), b)  # NULL passes through as NULL
        bounds = df.select(
            F.min(finite).alias("__lo"), F.max(finite).alias("__hi")
        )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            "__b",
            F.when(b.isNull(), F.lit(0))
            .when(F.isnan(b), F.lit(n_buckets + 2))
            .when(
                F.col("__hi") > F.col("__lo"),
                F.width_bucket(b, F.col("__lo"), F.col("__hi"), F.lit(n_buckets)),
            )
            .otherwise(F.lit(1)),
        )
        .drop("__lo", "__hi")
    )


def _bucket_offsets(bucketed: DataFrame, cnt: Column) -> DataFrame:
    """(bucket → rows-before-bucket) from per-bucket totals: the only
    partition-less window, over ≤ n_buckets+3 rows by construction
    (buckets 0 and n_buckets+2 are the NULL/NaN pens)."""
    bt = bucketed.groupBy("__b").agg(F.sum(cnt).alias("__bt"))
    woff = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return bt.select(
        "__b",
        F.coalesce(F.sum("__bt").over(woff), F.lit(0)).alias("__off"),
    )


def cell_minrank(
    cells: DataFrame,
    value_col: str,
    cnt_col: str,
    out_col: str = "minrank",
    n_buckets: int = 64,
) -> DataFrame:
    """Exact ``rank() OVER (ORDER BY value)`` min-rank for a histogram
    cell table (one row per distinct value, with its count). Returns
    the input columns plus ``out_col`` (long). All heavy windows are
    bucket-partitioned; the global prefix runs over the ≤n_buckets+3-row
    bucket-total relation only."""
    cnt = F.col(cnt_col).cast("long")
    bucketed = _with_bucket(cells, F.col(value_col), n_buckets)
    offs = _bucket_offsets(bucketed, cnt)
    win = Window.partitionBy("__b").orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        bucketed.join(F.broadcast(offs), "__b")
        .withColumn(
            out_col,
            (F.col("__off") + F.sum(cnt).over(win) - cnt + 1).cast("long"),
        )
        .drop("__b", "__off")
    )


def row_position(
    df: DataFrame,
    order_cols: list[Column | str],
    bucket_on: Column,
    out_col: str = "i",
    n_buckets: int = 64,
    bounds: DataFrame | None = None,
    bounds_key: str | None = None,
) -> DataFrame:
    """Exact ``row_number() OVER (ORDER BY order_cols)`` when the
    composite ordering key is UNIQUE per row (the caller's contract —
    e.g. a tie-broken (metric, primary-key) pair). ``bucket_on`` must
    be a numeric expression monotone non-decreasing along the ordering
    (the first order column, or its negation for a descending sort).
    Same two-level prefix-sum machinery as cell_minrank with cnt ≡ 1.

    NULL contract (ADVICE r10): the NULL pen is bucket 0 — NULLS
    FIRST, which matches Spark's default for ASCENDING window sorts
    only. A DESCENDING caller (negated ``bucket_on``) whose order key
    can be NULL would diverge from Spark's ``col DESC`` semantics
    (NULLs LAST there) — every current descending caller orders by a
    non-null aggregate, and new descending callers must either keep
    the key non-null or pre-filter NULLs and append them explicitly.

    ``bounds``/``bounds_key`` forward to :func:`_with_bucket` — pass a
    :func:`shared_bounds` relation to fold k calls' bounds scans into
    one (bit-identical bucketing)."""
    bucketed = _with_bucket(df, bucket_on, n_buckets, bounds, bounds_key)
    offs = _bucket_offsets(bucketed, F.lit(1))
    win = Window.partitionBy("__b").orderBy(*order_cols)
    return (
        bucketed.join(F.broadcast(offs), "__b")
        .withColumn(
            out_col,
            (F.col("__off") + F.row_number().over(win)).cast("long"),
        )
        .drop("__b", "__off")
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[Column | str],
    out_col: str = "rk",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``row_number() OVER (ORDER BY order_cols)`` for a UNIQUE
    composite key, with NO distribution assumptions on the key — the
    companion to :func:`row_position` for orderings
    ``width_bucket`` cannot bucket evenly (string tie-breaks, or a
    numeric lead column so skewed that one bucket holds the relation:
    a document-frequency rank where most of the vocabulary is hapax
    puts ~everything in the df=1 bucket and the "distributed" rank
    degenerates to one task — measured 70 s single-task for 20.6M
    shingles at sf10 on the plain global window this replaces).

    Mechanism: ``repartitionByRange(order_cols)`` (sampled, therefore
    distribution-ADAPTIVE range buckets) → ``sortWithinPartitions`` →
    ``monotonically_increasing_id`` whose upper bits are the partition
    id and lower bits the within-partition row index → per-partition
    row counts → running offsets (a window over ≤num_partitions rows)
    → rank = offset(partition) + index + 1.

    The sampled range boundaries are NOT deterministic across runs —
    which is exactly why the ranked relation is lazily
    ``localCheckpoint``-ed here: offsets and indices are derived from
    ONE materialized layout, so they cannot disagree, and the returned
    rank is the exact row_number over the total order whatever
    boundaries the sampler drew. (Two un-materialized consumers of a
    range exchange re-sample independently and CAN disagree — the
    failure mode that rules out a lazy-only formulation.)

    NULL ordering follows Spark sort semantics (NULLS FIRST for ASC,
    LAST for DESC) — the same order the global window would produce."""
    n_parts = num_partitions or target_partitions(df.sparkSession)
    ranged = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright("__mid", 33).cast("int"))
        .withColumn(
            "__idx",
            F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)).cast("long"),
        )
        .drop("__mid")
        .localCheckpoint(eager=False)
    )
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__pc"))
        .select(
            "__pid",
            F.coalesce(F.sum("__pc").over(woff), F.lit(0)).alias("__off"),
        )
    )
    return (
        ranged.join(F.broadcast(offs), "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__idx") + 1).cast("long"))
        .drop("__pid", "__idx", "__off")
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
    rows, the rest ``n/buckets``. Lets a distributed row_position
    replace a single-partition ntile window bit-for-bit."""
    q = F.floor(n / buckets)
    r = n % buckets
    big = r * (q + 1)  # rows living in the (q+1)-sized leading tiles
    return (
        F.when(i <= big, F.floor((i - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((i - big - 1) / q) + 1)
        .cast("int")
    )
