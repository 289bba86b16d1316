"""Deterministic Lloyd k-means: the package's one nearest-centroid kernel.

Every quantizer runs on these functions: ``kmeans_lloyd``, the IVF
coarse quantizer and its query probe (``similarity.ivf_topk_kmeans``,
``pq.ivfpq_topk_expr``), the product-quantizer codebooks, SemDeDup's
clusters and the nearest-centroid classifier
(``similarity.centroid_classify``).

Frames: vectors carry ``(vec_id, e)``, centroids ``(cid, ce)``. A
column the vector and centroid frames share is a group key: a vector
is assigned only among its own group's centroids, and each group
trains its own centroids, so the m subspaces of a product quantizer are
one Lloyd run over m groups. Other vector columns ride through the
assignment.

Invariants:

- **Deterministic**: seeds are each group's ``k`` smallest vec_ids,
  distance ties go to the lower cid, recomputed means are rounded to
  ``GRID``. A fixed iteration count is reproducible and its DuckDB
  oracle replays it row for row.
- **Scale shape**: an assignment broadcasts the centroids (k·dim
  doubles per group) and reduces each vector's candidates map-side, so
  the vector table moves once, one row per vector; a recompute is one
  (group, cluster, position) partial/final average. Only k·dim·8 bytes
  per group circulate per round.
- **JVM-side math**: distances are the left-to-right ``zip_with`` +
  ``aggregate`` fold of ``_sq_dist`` — whole-stage codegen, no Python,
  and the oracle reproduces it bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

GRID = 6  # decimal rounding grid for recomputed centroids


def _sq_dist(a, b):
    """Left-to-right fold of squared component differences (summation
    order fixed so the DuckDB oracle can reproduce it bitwise)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the centroids, pick the
    minimum squared L2 distance (tie → min centroid id). Returns
    ``vecs``' columns plus ``cluster_id`` and ``d2``, one row per
    (vec_id, group).

    The argmin is a ``min_by`` aggregation, NOT a
    ``row_number().over(partitionBy(vec_id))`` window: the broadcast
    join co-locates all k candidate rows of a vector in its home
    partition, so the partial (map-side) aggregate collapses k rows to
    one BEFORE the exchange — the shuffle carries O(n) best-so-far rows
    instead of O(n·k) exploded rows with both embedding arrays, which
    at k=80/n=200k is the difference between a ~0.2 GB and a ~16 GB
    shuffle. ``min_by`` over a ``struct(d2, cid)`` ordering key
    reproduces the window's (d2 asc, cid asc) tie-break exactly."""
    keys = [c for c in centroids.columns if c in vecs.columns]
    carried = [c for c in vecs.columns if c not in ("vec_id", *keys)]
    cents = F.broadcast(centroids)
    pairs = vecs.join(cents, keys) if keys else vecs.crossJoin(cents)
    scored = pairs.withColumn("d2", _sq_dist(F.col("e"), F.col("ce")))
    best = scored.groupBy("vec_id", *keys).agg(
        F.min_by(F.struct("cid", "d2"), F.struct("d2", "cid")).alias("_best"),
        *[F.first(c).alias(c) for c in carried],
    )
    return best.select(
        "vec_id",
        *keys,
        *carried,
        F.col("_best.cid").alias("cluster_id"),
        F.col("_best.d2").alias("d2"),
    )


def recompute_centroids(assigned: DataFrame) -> DataFrame:
    """Per-(group, cluster) element-wise mean, rounded to the grid:
    ``(*group, cid, ce)``. The group keys are ``assigned``'s columns
    other than ``vec_id``, ``e``, ``cluster_id`` and ``d2``. Position
    explosion → (group, cluster, pos) average (map-side partials) →
    array rebuilt in position order via sorted struct collection."""
    keys = [c for c in assigned.columns if c not in ("vec_id", "e", "cluster_id", "d2")]
    by_pos = assigned.select(
        *keys, F.col("cluster_id").alias("cid"), F.posexplode("e").alias("pos", "val")
    )
    means = by_pos.groupBy(*keys, "cid", "pos").agg(F.round(F.avg("val"), GRID).alias("m"))
    return means.groupBy(*keys, "cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("ce")
    )


def lloyd_centroids(vecs: DataFrame, k: int = 8, iterations: int = 2) -> DataFrame:
    """The centroid set ``(*group, cid, ce)`` the final Lloyd assignment
    uses: seeded from each group's ``k`` smallest vec_ids, then
    ``iterations - 1`` assign/recompute rounds. ``vecs`` carries
    ``(vec_id, e)`` and, when grouped, only its group keys besides."""
    keys = [c for c in vecs.columns if c not in ("vec_id", "e")]
    if keys:
        w = Window.partitionBy(*keys).orderBy("vec_id")
        seeds = vecs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    else:
        seeds = vecs.orderBy("vec_id").limit(k)
    centroids = seeds.select(*keys, F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    for _ in range(iterations - 1):
        centroids = recompute_centroids(assign_clusters(vecs, centroids))
    return centroids


def probe_cells(queries: DataFrame, centroids: DataFrame, n_probe: int) -> DataFrame:
    """The IVF probe list: each query's ``n_probe`` nearest centroids by
    squared L2, ties to the lower cid. ``queries`` carries
    ``(query_id, _q_e)``; returns ``(query_id, _q_e, cid, ce)``, one row
    per probed cell. Queries are a handful of rows, so the per-query
    window sorts at most k rows each."""
    scored = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id", "_q_e", "cid", "ce", _sq_dist(F.col("_q_e"), F.col("ce")).alias("_qd2")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_qd2").asc(), F.col("cid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_q_e", "cid", "ce")
    )


def kmeans_lloyd(emb: DataFrame, k: int = 8, iterations: int = 2) -> DataFrame:
    """Run ``iterations`` Lloyd steps seeded from the vectors with the
    ``k`` smallest ids; return ``(vec_id, cluster_id, d2)`` of the
    final assignment (``d2`` rounded to the grid)."""
    vecs = emb.select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    assigned = assign_clusters(vecs, lloyd_centroids(vecs, k, iterations))
    return assigned.select(
        "vec_id",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.round("d2", GRID).alias("d2"),
    )
