"""Fixed-iteration Lloyd k-means over an embedding column.

Embedding-space clustering is the backbone of corpus curation
(semantic dedup buckets, topic balancing, IVF cell assignment — the
coarse quantizer of ``extensions/similarity.ivf_topk`` is exactly one
assignment step of this loop). The reference has no vector surface at
all; this follows the standard Lloyd iteration with engine-friendly
choices:

- **Deterministic**: centroids seeded from fixed vector ids, distance
  ties broken by centroid id, centroid means rounded to a fixed grid —
  so a fixed iteration count is exactly reproducible and
  oracle-checkable in SQL (no RNG, no convergence wobble).
- **Scale shape**: each iteration = one broadcast of k centroids (k·dim
  doubles — tiny) against the full vector table (no shuffle for
  assignment), then one position-exploded partial/final average
  (shuffle keyed by (cluster, position), k·dim groups). At 100 TB the
  vector table never moves; only k·dim·8 bytes circulate per round.
- **JVM-side math**: distances via ``zip_with`` + ``aggregate`` fold —
  whole-stage codegen, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
    """Nearest-centroid assignment: broadcast the k centroids, pick the
    minimum squared L2 distance (tie → min centroid id). Adds
    ``cluster_id`` and ``d2`` to ``vecs`` (columns ``vec_id``, ``e``).

    The argmin is a ``min_by`` aggregation, NOT a
    ``row_number().over(partitionBy(vec_id))`` window: the broadcast
    cross join co-locates all k candidate rows of a vector in its home
    partition, so the partial (map-side) aggregate collapses k rows to
    one BEFORE the exchange — the shuffle carries O(n) best-so-far rows
    instead of O(n·k) exploded rows with both embedding arrays, which
    at k=80/n=200k is the difference between a ~0.2 GB and a ~16 GB
    shuffle. ``min_by`` over a ``struct(d2, cid)`` ordering key
    reproduces the window's (d2 asc, cid asc) tie-break exactly, so
    results — and the SQL oracles — are unchanged."""
    scored = vecs.crossJoin(F.broadcast(centroids)).withColumn(
        "d2", _sq_dist(F.col("e"), F.col("ce"))
    )
    best = scored.groupBy("vec_id").agg(
        F.min_by(F.struct("cid", "d2"), F.struct("d2", "cid")).alias("_best"),
        F.first("e").alias("e"),
    )
    return best.select(
        "vec_id", "e", F.col("_best.cid").alias("cluster_id"), F.col("_best.d2").alias("d2")
    )


def recompute_centroids(assigned: DataFrame) -> DataFrame:
    """Per-cluster element-wise mean, rounded to the grid. Position
    explosion → (cluster, pos) average (map-side partials) → array
    rebuilt in position order via sorted struct collection."""
    by_pos = assigned.select(
        F.col("cluster_id").alias("cid"), F.posexplode("e").alias("pos", "val")
    )
    means = by_pos.groupBy("cid", "pos").agg(F.round(F.avg("val"), GRID).alias("m"))
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("ce")
    )


def training_sample(vecs: DataFrame, train_frac: float) -> DataFrame:
    """Deterministic hash-threshold subsample for quantizer training.

    At 100 TB you never train the coarse quantizer on the full corpus —
    FAISS-style practice is a bounded sample; clustering quality
    saturates long before the full pass pays off. A hash threshold
    (``md5(vec_id) mod 10^6 < frac·10^6``) picks the sample in a single
    scan with no global sort and no RNG: deterministic, partition-local,
    and mirrorable in oracle SQL with the same md5 arithmetic used by
    the sketch/dedup operators."""
    bound = int(train_frac * 1_000_000)
    if bound <= 0:
        raise ValueError(
            f"train_frac={train_frac} yields an empty hash sample "
            "(bound=0 on the 10^6 grid); use train_frac >= 1e-6, or None "
            "for full-corpus training"
        )
    bucket = F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
    return vecs.filter(bucket.cast("bigint") % 1_000_000 < bound)


def lloyd_centroids(
    vecs: DataFrame,
    k: int = 8,
    iterations: int = 2,
    train_frac: float | None = None,
) -> DataFrame:
    """The centroid set ``(cid, ce)`` the final Lloyd assignment uses:
    seeded from the vectors with the ``k`` smallest ids, then
    ``iterations - 1`` recompute/assign rounds. ``vecs`` must carry
    ``(vec_id, e)``. This is the trained coarse quantizer — reused by
    ``similarity.ivf_topk_kmeans`` as its cell dictionary.

    ``train_frac`` bounds the training set to a deterministic hash
    sample (see ``training_sample``) — the 100 TB configuration, where
    recompute/assign rounds touch a constant-size sample and only the
    final assignment scans the corpus. Default ``None`` trains exactly
    on the full set (the oracle-checked configuration)."""
    if train_frac is not None:
        sample = training_sample(vecs, train_frac)
        # A tiny corpus × small frac can sample fewer than k vectors,
        # which would silently seed an under-sized quantizer (degenerate
        # cells downstream). One bounded action (count of at most k
        # sampled rows) on the deployment path only — the oracle-checked
        # configuration never sets train_frac, so registered-query plan
        # construction stays action-free for tools/plancheck.
        if sample.limit(k).count() < k:
            import warnings

            warnings.warn(
                f"train_frac={train_frac} sampled <= k={k} vectors; "
                "falling back to full-corpus training",
                stacklevel=2,
            )
        else:
            vecs = sample
    # seed = the k smallest ids (matching the documented contract even
    # when ids are sparse or non-zero-based; a filter(id < k) would
    # silently under-seed such inputs)
    centroids = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    )
    for _ in range(iterations - 1):
        centroids = recompute_centroids(assign_clusters(vecs, centroids))
    # The trained quantizer fans into MULTIPLE plan subtrees in every
    # caller (corpus assignment + query-cell ranking in ivf_topk_kmeans;
    # left/right branches of the blocked pair union in
    # semantic_neardup_pairs) — without a checkpoint each subtree
    # re-runs the whole Lloyd chain (per-iteration full-table assign +
    # recompute). Truncate lineage once: the table is k rows of k·dim
    # doubles, so materializing it is free. eager=False defers only the
    # checkpoint's own job: under AQE (the session default) the call
    # still runs the subtree's shuffle stages, so building a plan that
    # reaches this line launches jobs (and tools/plancheck runs them):
    # in a traced perfbench query_headline pass, embedding_kmeans_lloyd,
    # similarity_ivf_kmeans_topk and dedup_semantic_pairs each launch 4
    # build-time jobs beyond their table loads.
    return centroids.localCheckpoint(eager=False)


def kmeans_lloyd(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 2,
) -> DataFrame:
    """Run ``iterations`` Lloyd steps seeded from the vectors with the
    ``k`` smallest ids; return ``(vec_id, cluster_id, d2)`` of the
    final assignment (``d2`` rounded to the grid)."""
    vecs = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    assigned = assign_clusters(vecs, lloyd_centroids(vecs, k, iterations))
    return assigned.select(
        "vec_id",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.round("d2", GRID).alias("d2"),
    )
