"""Similarity search over embedding columns (``array<float>``).

- ``brute_force_topk``: exact cosine top-k against query vectors —
  JVM-side fold (functions/vectors.py), the correctness baseline.
- ``ivf_topk``: IVF search with the first C vec_ids as cells
  (``assign_cells``, by cosine); ``ivf_topk_kmeans``: the same search
  over Lloyd cells (extensions/kmeans.py, by L2) with ``n_probe``
  cells per query. Assignment is a broadcast map-side pass; a search
  reads ≈ n_probe/C of the corpus.
- ``cosine_neardup_pairs`` / ``semantic_neardup_pairs``: exact pairs
  above a cosine threshold on a blocked BLAS grid, over the whole
  corpus or within each Lloyd cluster (SemDeDup); ``lsh_neardup_pairs``
  is the subquadratic sibling.
- ``centroid_classify``: nearest-label-centroid audit on the Lloyd
  kernel; ``mmr_rerank``: diversified re-ranking of a top-k pool.

Determinism: scores are rounded (``ROUND``) before ranking and ties go
to the lower vec_id or centroid id, so Spark and the DuckDB oracles
rank identically.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emission_project_spark.functions.ranks import topk_per_query
from emission_project_spark.functions.vectors import cosine_similarity

ROUND = 6
# blocks per side of the exact all-pairs grid (cosine_neardup_pairs)
COSINE_BLOCKS = 8
# left-block rows per GEMM in the block-pair kernel: bounds its
# transient buffer to CHUNK_ROWS × |right block| doubles
CHUNK_ROWS = 2048
# members per LSH bucket above which the bucket is dropped
LSH_MAX_BUCKET = 64
# pool rows mmr_rerank may collect to the driver
MMR_MAX_COLLECT = 10_000


def _scored(vectors: DataFrame, query: DataFrame) -> DataFrame:
    """Cross-join vectors against (broadcast) query rows and score.

    The scoring pass is map-side on the corpus scan, so ``spread_input``
    goes first: a single-row-group scan would otherwise run every cosine
    fold on one core. It is a no-op when the scan is already wide."""
    from emission_project_spark.catalog.tables import spread_input

    v = spread_input(vectors).select(
        F.col("vec_id"), F.col("embedding").alias("_emb")
    )
    q = query.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_q_emb")
    )
    return v.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(cosine_similarity("_emb", "_q_emb"), ROUND).alias("cosine_sim"),
    )


def brute_force_topk(vectors: DataFrame, query: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k by cosine for each query row (excludes self-match)."""
    scored = _scored(vectors, query).filter(F.col("vec_id") != F.col("query_id"))
    return topk_per_query(scored, F.col("cosine_sim").desc(), k).select(
        "query_id", "rank", "vec_id", "cosine_sim"
    )


def hard_negative_topk(vectors: DataFrame, query: DataFrame, k: int = 8) -> DataFrame:
    """Contrastive hard-negative mining: for each query, the k corpus
    vectors MOST similar by cosine whose ``label`` differs from the
    query's — the near-miss negatives that make a retrieval/embedding
    model train (random negatives are trivially separable; the hard
    ones carry the gradient signal).

    Same plan shape as :func:`brute_force_topk` — broadcast query side,
    one scored pass, per-query top-k window — with the label
    inequality applied BEFORE ranking so the window sees only eligible
    rows. The IVF variants compose the same way for the scale path
    (mine within probed cells); brute force is the audited baseline.
    """
    v = vectors.select(
        "vec_id", F.col("embedding").alias("_emb"), F.col("label").alias("neg_label")
    )
    q = query.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_q_emb"),
        F.col("label").alias("_ql"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("neg_label") != F.col("_ql"))
        .select(
            "query_id",
            "vec_id",
            "neg_label",
            F.round(cosine_similarity("_emb", "_q_emb"), ROUND).alias("cosine_sim"),
        )
    )
    return topk_per_query(scored, F.col("cosine_sim").desc(), k).select(
        "query_id", "rank", "vec_id", "neg_label", "cosine_sim"
    )


def assign_cells(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF cell assignment: the centroid of highest rounded cosine, ties
    to the lower centroid id. A NULL score (zero-norm vector) never
    beats a real one, and a vector whose scores are all NULL goes to the
    lowest centroid id. Centroids broadcast; the argmax is a map-side
    ``max_by`` aggregate, for the reasons ``kmeans.assign_clusters``
    gives."""
    c = centroids.select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("_c_emb")
    )
    # spread: the per-vector centroid scoring is map-side on the scan,
    # and a single-row-group table scans as one task (see _scored);
    # no-op when wide. similarity_ivf_topk at sf1 (one row group,
    # benchdiff --ab-run, 4 fresh JVMs per side): 11.9 s median with it,
    # 16.9 s without, every sample slower ("WASH" by benchdiff's pooled
    # spread, but the ranges are disjoint).
    from emission_project_spark.catalog.tables import spread_input

    scored = spread_input(vectors.select("vec_id", "embedding")).crossJoin(F.broadcast(c)).select(
        "vec_id",
        "embedding",
        "centroid_id",
        F.round(cosine_similarity("embedding", "_c_emb"), ROUND).alias("_sim"),
    )
    # struct order: a NULL _sim sorts below every score; -centroid_id
    # makes the larger key the lower id
    best = scored.groupBy("vec_id").agg(
        F.max_by("centroid_id", F.struct("_sim", -F.col("centroid_id"))).alias("centroid_id"),
        F.first("embedding").alias("embedding"),
    )
    return best.select("vec_id", "embedding", "centroid_id")


def ivf_topk(
    vectors: DataFrame,
    query: DataFrame,
    n_centroids: int = 16,
    k: int = 10,
) -> DataFrame:
    """Approximate top-k: search only the query's IVF cell."""
    centroids = vectors.filter(F.col("vec_id") < n_centroids)
    assigned = assign_cells(vectors, centroids)
    q_assigned = assign_cells(query, centroids).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_q_emb"),
        F.col("centroid_id").alias("_q_cell"),
    )
    cell_vectors = assigned.join(
        F.broadcast(q_assigned),
        (assigned["centroid_id"] == F.col("_q_cell"))
        & (assigned["vec_id"] != F.col("query_id")),
    )
    scored = cell_vectors.select(
        "query_id",
        "vec_id",
        F.round(cosine_similarity("embedding", "_q_emb"), ROUND).alias("cosine_sim"),
    )
    return topk_per_query(scored, F.col("cosine_sim").desc(), k).select(
        "query_id", "rank", "vec_id", "cosine_sim"
    )


def ivf_topk_kmeans(
    vectors: DataFrame,
    query: DataFrame,
    n_centroids: int = 8,
    k: int = 10,
    iterations: int = 2,
    n_probe: int = 1,
) -> DataFrame:
    """IVF top-k with a k-means coarse quantizer — the production
    variant of ``ivf_topk``: cells come from fixed-iteration Lloyd
    centroids (extensions/kmeans.py) instead of the first
    ``n_centroids`` raw vectors, so cell populations track the data
    distribution and per-cell candidate counts stay balanced.

    ``n_probe`` searches the query's nearest ``n_probe`` cells
    (``kmeans.probe_cells``: L2-ranked, ties by centroid id) — the
    standard IVF recall knob. Everything is deterministic (seeded
    quantizer, grid-rounded means, tie-broken ranks), so the whole
    operator is SQL-expressible and oracle-checked. Scale shape:
    quantizer = broadcast of n_centroids·dim doubles; assignment is
    map-side; search reads ≈ n_probe/n_centroids of the corpus.
    """
    from emission_project_spark.extensions.kmeans import (
        assign_clusters,
        lloyd_centroids,
        probe_cells,
    )

    vecs = vectors.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("e")
    )
    centroids = lloyd_centroids(vecs, n_centroids, iterations)
    assigned = assign_clusters(vecs, centroids).select("vec_id", "e", "cluster_id")

    q = query.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_q_e"),
    )
    qcells = probe_cells(q, centroids, n_probe)
    cand = assigned.join(
        F.broadcast(qcells),
        (assigned["cluster_id"] == qcells["cid"])
        & (assigned["vec_id"] != qcells["query_id"]),
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(cosine_similarity("e", "_q_e"), ROUND).alias("cosine_sim"),
    )
    return topk_per_query(scored, F.col("cosine_sim").desc(), k).select(
        "query_id", "rank", "vec_id", "cosine_sim"
    )


def cosine_neardup_pairs(vectors: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (doc-level dedup by
    embedding): all (a < b) pairs with cosine ≥ threshold.

    Both sides blocked — no driver materialization anywhere. Vectors
    hash into ``COSINE_BLOCKS`` blocks; every unordered block pair (i ≤ j)
    becomes one ``applyInPandas`` group holding block i as the left
    matrix and block j as the right, scored with a single BLAS matmul.
    Exact all-pairs is inherently O(n²) compute, but memory per task is
    two blocks (n/COSINE_BLOCKS × d doubles) and shuffle is
    COSINE_BLOCKS× the input — neither driver-bound. A block must fit
    an executor core's memory (e.g. 1M×256d ≈ 2 GB total → 32 blocks ≈
    64 MB per side). The subquadratic sibling for corpus scale is
    ``lsh_neardup_pairs``.
    """
    return _blocked_cosine_pairs(
        vectors.select("vec_id", "embedding"), threshold, COSINE_BLOCKS, group_cols=[]
    )


def _blocked_cosine_pairs(
    src: DataFrame,
    threshold: float,
    n_blocks: int,
    group_cols: list[str],
) -> DataFrame:
    """Block-pair grid kernel shared by exact and cluster-scoped cosine
    pair search. ``src`` carries (vec_id, embedding, *group_cols); pairs
    are only formed WITHIN a group (empty ``group_cols`` = whole input
    is one group), with both sides blocked so no matrix ever
    materializes beyond two blocks per task.
    """
    import numpy as np
    import pandas as pd

    from emission_project_spark.functions.vectors import normalize_rows, row_matrix

    nb = F.lit(n_blocks)
    blocked = src.withColumn("_blk", F.pmod(F.hash("vec_id"), nb))
    base = group_cols + ["vec_id", "embedding"]
    # replicate: block b is the LEFT side of pairs (b, j≥b) and the
    # RIGHT side of pairs (i<b, b) — (b, b) appears once, as left.
    left = blocked.select(
        F.col("_blk").alias("_pi"),
        F.explode(F.sequence(F.col("_blk"), nb - 1)).alias("_pj"),
        F.lit("L").alias("_side"),
        *base,
    )
    right = blocked.filter(F.col("_blk") > 0).select(
        F.explode(F.sequence(F.lit(0), F.col("_blk") - 1)).alias("_pi"),
        F.col("_blk").alias("_pj"),
        F.lit("R").alias("_side"),
        *base,
    )
    n_group = len(group_cols)
    CH = CHUNK_ROWS  # read on the driver: the kernel ships this value
    out_prefix = [f"{c} bigint" for c in group_cols]
    schema = ", ".join(out_prefix + ["doc_a bigint", "doc_b bigint", "cosine_sim double"])

    def score_block_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = key[n_group], key[n_group + 1]

        def norm_mat(part: pd.DataFrame):
            ids = part["vec_id"].to_numpy(dtype=np.int64)
            if not len(ids):  # a block-pair whose partner block is empty
                return ids, np.zeros((0, 1))
            mat = row_matrix(part["embedding"])
            normalize_rows(mat)  # zero vectors match nothing
            return ids, mat

        l_ids, l_mat = norm_mat(pdf[pdf["_side"] == "L"])
        if i == j:
            r_ids, r_mat = l_ids, l_mat
        else:
            r_ids, r_mat = norm_mat(pdf[pdf["_side"] == "R"])
        empty = not len(l_ids) or not len(r_ids)
        if empty:
            a = b = sims_out = []
        else:
            # Chunked GEMM through ONE reused output buffer: a full
            # `l_mat @ r_mat.T` faults in a fresh |L|×|R| float64
            # matrix per block-pair (1.25 GB at sf10 geometry), and
            # faulting fresh anonymous memory can be 150× slower than
            # rewriting resident memory (0.01-0.78 GB/s first-touch vs
            # 1.5-1.7 GB/s rewrite, SCALING.md); a 17-worker standalone
            # repro ran 265 s/rep full vs 29.6 s/rep chunked with
            # bit-identical outputs. Transient memory is CH×|R|×8 B
            # whatever the block size.
            buf = np.empty((min(CH, len(l_ids)), len(r_ids)))
            a_parts, b_parts, s_parts = [], [], []
            for s in range(0, len(l_ids), CH):
                e = min(s + CH, len(l_ids))
                sims = buf[: e - s]
                np.dot(l_mat[s:e], r_mat.T, out=sims)
                ai, bi = np.where(sims >= threshold)
                if i == j:
                    # self-block: each unordered pair appears twice →
                    # keep a < b (global row ids, offset by the chunk)
                    keep = l_ids[s + ai] < r_ids[bi]
                    ca, cb = l_ids[s + ai][keep], r_ids[bi][keep]
                else:
                    # cross-block: blocks are disjoint, every pair
                    # appears once — keep all, canonicalize a < b
                    keep = np.ones(len(ai), dtype=bool)
                    ca = np.minimum(l_ids[s + ai], r_ids[bi])
                    cb = np.maximum(l_ids[s + ai], r_ids[bi])
                a_parts.append(ca)
                b_parts.append(cb)
                s_parts.append(np.round(sims[ai, bi][keep], ROUND))
            a = np.concatenate(a_parts)
            b = np.concatenate(b_parts)
            sims_out = np.concatenate(s_parts)
        out = {c: np.full(len(a), key[ix]) for ix, c in enumerate(group_cols)}
        out.update({"doc_a": a, "doc_b": b, "cosine_sim": sims_out})
        return pd.DataFrame(out)

    return (
        left.unionByName(right)
        .groupBy(*group_cols, "_pi", "_pj")
        .applyInPandas(score_block_pair, schema=schema)
    )


def semantic_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 8,
    iterations: int = 2,
    n_blocks: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-cluster the
    embedding space (deterministic Lloyd quantizer), then search for
    cosine near-duplicate pairs ONLY within each cluster.

    This is the published recipe for semantic dedup at corpus scale
    (Abbas et al., "SemDeDup"): clustering bounds the quadratic pair
    search to within-cluster blocks, trading recall of cross-cluster
    near-dups (rare by construction) for an n²/C compute bound. The
    within-cluster search reuses the blocked BLAS kernel — grouping
    keys are (cluster, block_i, block_j), so even a giant cluster
    never materializes more than two blocks per task.

    Returns (cluster_id, doc_a, doc_b, cosine_sim); deterministic and
    fully SQL-expressible (Lloyd rounds + within-cluster self-join).
    """
    from emission_project_spark.extensions.kmeans import assign_clusters, lloyd_centroids

    vecs = vectors.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("e")
    )
    assigned = assign_clusters(
        vecs, lloyd_centroids(vecs, n_clusters, iterations)
    ).select(
        "vec_id",
        F.col("e").alias("embedding"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )
    return _blocked_cosine_pairs(
        assigned, threshold, n_blocks, group_cols=["cluster_id"]
    ).select("cluster_id", "doc_a", "doc_b", "cosine_sim")


def lsh_neardup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 16,
) -> DataFrame:
    """Approximate (subquadratic) embedding near-dup: random-hyperplane
    LSH — the 100 TB path where exact all-pairs can't run.

    Plane components are derived deterministically from md5(plane, dim)
    so runs are reproducible with no RNG state. Vectors agreeing on all
    sign bits land in one bucket; within-bucket pairs are verified with
    the exact cosine. Recall is tunable via n_planes (fewer planes →
    bigger buckets → higher recall, more compute). Candidate
    generation is a hash-bucket group-by — same shape as minhash LSH.

    ``LSH_MAX_BUCKET`` skips buckets holding more members than the
    cap: with correlated embeddings one bucket can attract a
    large corpus fraction, and an uncapped ``collect_list`` of full
    embedding structs is both a quadratic pair explosion and an
    executor OOM. A hot bucket means the planes don't separate that
    region — raise n_planes rather than the cap. RETURN CONTRACT under
    the cap: pairs whose only shared bucket is hot are silently absent
    (recall loss, never precision loss — survivors are exact-verified);
    the dropped mass is measurable by aggregating the same signature
    expression to bucket sizes and filtering > LSH_MAX_BUCKET.

    ``dim`` is the embedding dimensionality, a schema-level fact the
    caller knows, so building the plan launches no Spark job.
    """
    # deterministic ±1 plane matrix: sign of a hash bit per (plane, dim)
    planes = [
        [
            1.0 if int(_md5_hex(f"{p}:{d}"), 16) % 2 == 0 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]
    sig = None
    emb = F.col("embedding")
    for p, plane in enumerate(planes):
        dot_p = F.aggregate(
            F.zip_with(
                emb,
                F.array(*[F.lit(v) for v in plane]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(dot_p >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << p).cast("long")
        sig = term if sig is None else sig + term
    bucketed = vectors.select("vec_id", "embedding", sig.alias("bucket"))
    # Drop hot buckets BEFORE collecting embedding structs — the count
    # pass carries only (bucket) keys, so the cap is enforced without
    # ever materializing an oversized members array.
    kept = (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= LSH_MAX_BUCKET)
        .select("bucket")
    )
    bucketed = bucketed.join(kept, "bucket")
    buckets = bucketed.groupBy("bucket").agg(
        F.collect_list(F.struct("vec_id", "embedding")).alias("members")
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("members"),
                        lambda x, i: F.transform(
                            F.slice(F.col("members"), i + 2, F.size(F.col("members"))),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                ),
                lambda s: s["a"]["vec_id"] != s["b"]["vec_id"],
            )
        ).alias("p")
    )
    scored = pairs.select(
        F.least(F.col("p.a.vec_id"), F.col("p.b.vec_id")).alias("doc_a"),
        F.greatest(F.col("p.a.vec_id"), F.col("p.b.vec_id")).alias("doc_b"),
        F.round(cosine_similarity(F.col("p.a.embedding"), F.col("p.b.embedding")), ROUND).alias(
            "cosine_sim"
        ),
    )
    return scored.filter(F.col("cosine_sim") >= threshold).distinct()


def _md5_hex(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()


def centroid_classify(emb: DataFrame) -> DataFrame:
    """Nearest-centroid (Rocchio) classification of the whole corpus:
    per-label mean vector, then every vector assigned to its nearest
    centroid by squared L2 (tie -> smaller label).

    The label-quality audit for an annotated corpus: where kNN
    (:func:`brute_force_topk` + vote) evaluates a handful of query
    rows against all neighbors, this scores EVERY row in one pass —
    labels whose members sit closer to another label's centroid are
    mislabeled or non-separable, and the confusion matrix localizes
    which pairs bleed.

    100 TB shape: centroids are |labels| x dim doubles (the k-means
    grid-rounded elementwise-mean pass, one posexplode hash aggregate),
    broadcast into :func:`~emission_project_spark.extensions.kmeans.assign_clusters`
    — the shuffle carries O(n) best-so-far rows, never O(n*labels) —
    with the true label carried through the aggregate so no
    corpus-sized re-attach join is needed.
    """
    from emission_project_spark.extensions.kmeans import (
        assign_clusters,
        recompute_centroids,
    )

    vecs = emb.select(
        F.col("vec_id").alias("vec_id"),
        F.col("label").cast("bigint").alias("true_label"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    cents = recompute_centroids(
        vecs.select(F.col("true_label").alias("cluster_id"), "e")
    )
    return assign_clusters(vecs, cents).select(
        "vec_id",
        "true_label",
        F.col("cluster_id").cast("bigint").alias("predicted_label"),
    )


def mmr_rerank(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    pool: int = 30,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's cosine top-``pool`` shortlist, greedily
    select ``k`` items maximizing ``λ·rel − (1−λ)·max_sim_to_selected``
    — the diversified-retrieval step that keeps a near-dup cluster
    from monopolizing a result list (retrieval-augmented sampling and
    eval-set construction both need it).

    Scale shape: the shortlist is the same broadcast-query scored pass
    as ``brute_force_topk``; everything after operates on a
    k-row-bounded pool (≤ pool rows per query, pool² pairwise sims),
    which is collected like the k-means centroid sets — bounded by
    construction, never data-sized. The collect itself is a VALIDATED
    bound, not a convention: the pool relation is fetched through
    ``limit(MMR_MAX_COLLECT + 1)`` and the function raises if the limit
    is hit, so a caller passing a corpus-sized query set gets a loud
    error instead of a silent driver-sized collect. Driver memory is
    bounded IN THE PLAN on both collects: ≤ ``MMR_MAX_COLLECT`` pool rows
    and ≤ ``MMR_MAX_COLLECT·pool`` pairwise-sim rows (the sims relation is
    inherently ~pool× the pool). All relevance/similarity values
    are rounded (ROUND) BEFORE the greedy walk, so the selection
    sequence is reproducible across engines bit-for-bit; ties break to
    the smaller vec_id.
    """
    scored = brute_force_topk(vectors, query, k=pool)
    pool_df = scored.filter(F.col("cosine_sim").isNotNull()).select(
        "query_id", "vec_id", F.col("cosine_sim").alias("rel")
    )
    emb = vectors.select("vec_id", F.col("embedding").alias("_e"))
    pa = pool_df.join(emb, "vec_id").select(
        "query_id", F.col("vec_id").alias("va"), "rel", F.col("_e").alias("ea")
    )
    pb = pool_df.join(emb, "vec_id").select(
        F.col("query_id").alias("qb"), F.col("vec_id").alias("vb"), F.col("_e").alias("eb")
    )
    sims_df = (
        pa.join(
            F.broadcast(pb),
            (pa["query_id"] == pb["qb"]) & (pa["va"] != pb["vb"]),
        )
        .select(
            "query_id",
            "va",
            "vb",
            F.round(cosine_similarity("ea", "eb"), ROUND).alias("sim"),
        )
    )
    # bounded collects: ≤ pool rows and ≤ pool² sims per query — the
    # centroid-collect precedent, never data-sized; limit() puts the
    # bound IN THE PLAN so an oversized query set can't reach the
    # driver before the guard fires
    max_collect = MMR_MAX_COLLECT
    pool_rows = pool_df.limit(max_collect + 1).collect()
    if len(pool_rows) > max_collect:
        raise ValueError(
            f"mmr_rerank pool relation exceeds max_collect={max_collect} "
            f"rows (n_queries × pool too large) — shrink the query set "
            f"or lower pool={pool}"
        )
    rels: dict = {}
    for r in pool_rows:
        rels.setdefault(r["query_id"], {})[r["vec_id"]] = r["rel"]
    # the sims relation is ~pool× larger than the pool (≤ pool²
    # pairwise sims per query ≤ max_collect·pool rows total) — same
    # in-plan limit+raise discipline, with the proportionally larger
    # bound stated explicitly
    sims_cap = max_collect * pool
    sims_rows = sims_df.limit(sims_cap + 1).collect()
    if len(sims_rows) > sims_cap:
        raise ValueError(
            f"mmr_rerank pairwise-sims relation exceeds "
            f"max_collect*pool={sims_cap} rows — shrink the query set "
            f"or lower pool={pool}"
        )
    sims: dict = {}
    for r in sims_rows:
        sims.setdefault(r["query_id"], {})[(r["va"], r["vb"])] = r["sim"]

    out_rows = []
    for qid in sorted(rels):
        cand = dict(rels[qid])
        ssim = sims.get(qid, {})
        selected: list = []
        for rank in range(1, min(k, len(cand)) + 1):
            best = None
            for vid, rel in cand.items():
                ms = max(
                    (ssim.get((vid, s), 0.0) for s in selected), default=0.0
                )
                score = lam * rel - (1.0 - lam) * ms
                key = (-score, vid)
                if best is None or key < best[0]:
                    best = (key, vid, rel, score)
            _, vid, rel, score = best
            selected.append(vid)
            del cand[vid]
            # floor(x·1e6+0.5)/1e6 — the cross-engine HALF_UP grid (the
            # int8-quantizer precedent): Python round() is HALF_EVEN and
            # disagrees with DuckDB round() on exact .5 boundaries,
            # which crafted round-number corpora actually hit
            out_rows.append(
                (qid, rank, vid, rel, math.floor(score * 1e6 + 0.5) / 1e6)
            )

    spark = vectors.sparkSession
    return spark.createDataFrame(
        out_rows,
        "query_id bigint, mmr_rank int, vec_id bigint, rel double, mmr_score double",
    )
