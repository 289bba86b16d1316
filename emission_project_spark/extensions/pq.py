"""Product quantization (PQ) for the ANN stack.

Completes the memory-reduction ladder int8 (functions/vectors.py, 4×)
→ PQ (this module, 32× at m=8 bytes per 64-float vector): the standard
IVF-PQ composition (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011; the FAISS IndexIVFPQ layout) that makes
a 100 TB float32 corpus scannable from executor memory.

Two implementations of the same quantity:

- ``ivfpq_topk_expr`` / ``ivfpq_rerank_topk_expr`` — the registered,
  oracle-checked queries: lazy JVM expressions on the Lloyd kernel of
  extensions/kmeans.py, action-free to build.
- ``fit_pq`` … ``ivfpq_topk`` — the numpy path (driver-side codebooks,
  BLAS encode, per-batch ADC top-k). It trains and assigns cells with
  the kernel's ``lloyd_centroids`` and ``assign_clusters`` and is
  otherwise separate code: the reference tests/test_pq.py compares the
  expression twin against.

Invariants:

- **fit**: the embedding is split into ``m`` contiguous subvectors and
  each subspace trains an independent k-codeword Lloyd quantizer
  (kmeans.py seeding: the k smallest ids, so a fit is deterministic for
  a given corpus). Codebooks are m·k·(d/m) floats — KBs.
- **encode**: argmin codeword per subspace, ties to the lowest code —
  the kernel's (d2 asc, cid asc) rule.
- **ADC top-k**: a corpus item's approximate distance to a query is the
  sum of m (query-subvector ↔ codeword) table entries at its codes, and
  ADC(q, codes) = ‖q − decode(codes)‖² exactly (pinned by test_pq.py).
  Ranks break ties by ascending vec_id, so a per-batch pre-filter never
  changes the global top-k.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emission_project_spark.functions.ranks import topk_per_query
from emission_project_spark.functions.vectors import row_matrix


@dataclass(frozen=True)
class PQModel:
    codebooks: np.ndarray   # (m, k, dsub) codewords per subspace
    dim: int
    m: int
    k: int

    @property
    def dsub(self) -> int:
        return self.dim // self.m


def fit_pq(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    iterations: int = 3,
) -> PQModel:
    """Train per-subspace Lloyd codebooks (kmeans.py seeding: the k
    smallest ids seed, so fit is deterministic for a given corpus)."""
    from emission_project_spark.extensions.kmeans import lloyd_centroids

    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    books = np.empty((m, k, dsub))
    for sub in range(m):
        sub_vecs = emb.select(
            F.col(id_col).alias("vec_id"),
            F.slice(
                F.col(vec_col).cast("array<double>"), sub * dsub + 1, dsub
            ).alias("e"),
        )
        cents = lloyd_centroids(sub_vecs, k=k, iterations=iterations).collect()
        if len(cents) < k:
            raise ValueError(
                f"subspace {sub}: Lloyd returned {len(cents)} < k={k} codewords"
            )
        # cids are the seed vec_ids (lloyd_centroids seeds from the k
        # smallest ids) — only 0-based-contiguous corpora would allow
        # indexing books by raw cid. Remap to dense 0..k-1 positions in
        # sorted-cid order (code = rank of cid), and require exactly k
        # distinct cids so a collapsed cluster can't leave a stale row.
        by_cid = sorted((int(r["cid"]), r["ce"]) for r in cents)
        if len({c for c, _ in by_cid}) != k:
            raise ValueError(
                f"subspace {sub}: expected {k} distinct codeword ids, "
                f"got {len({c for c, _ in by_cid})}"
            )
        for code, (_, ce) in enumerate(by_cid):
            books[sub, code] = np.asarray(ce)
    return PQModel(codebooks=books, dim=dim, m=m, k=k)


def pq_encode(
    emb: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int> of length m) — argmin codeword per
    subspace, ties to the lowest code (np.argmin), matching the
    kmeans.py (d2 asc, cid asc) convention."""
    books = model.codebooks
    m, dsub = model.m, model.dsub

    # codeword norms are batch-invariant: hoist them out of the batch
    # loop entirely (the old kernel recomputed k_sub×dsub squares per
    # subspace per batch)
    bnorms = [(books[sub] ** 2).sum(axis=1) for sub in range(m)]
    ksub = books[0].shape[0] if m else 0

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Reused-buffer discipline (the pattern of
        # similarity._blocked_cosine_pairs): one hoisted (n, k_sub)
        # distance buffer absorbs all m subspaces of every batch
        # instead of m fresh GEMM outputs + m fresh scaled copies of x
        # per batch — first-touch of fresh anonymous pages is the slow
        # path (SCALING.md). −2·(x·Cᵀ) scales the GEMM output by an
        # exact power of two, so it is bit-identical to the (−2·x)·Cᵀ
        # fold (pinned by a ragged-batch test).
        d2 = np.empty((0, ksub))
        for pdf in batches:
            if not len(pdf):
                continue
            x = row_matrix(pdf[vec_col])
            n = len(x)
            if n > d2.shape[0]:
                d2 = np.empty((n, ksub))
            db = d2[:n]
            codes = np.empty((n, m), dtype=np.int32)
            for sub in range(m):
                xs = x[:, sub * dsub : (sub + 1) * dsub]
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
                np.dot(xs, books[sub].T, out=db)
                db *= -2.0
                db += bnorms[sub][None, :]
                codes[:, sub] = db.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    # the encode GEMMs run map-side on the scan — spread so a
    # single-row-group input doesn't serialize them (no-op when wide)
    from emission_project_spark.catalog.tables import spread_input

    return spread_input(emb.select(id_col, vec_col)).mapInPandas(
        gen, schema="vec_id bigint, codes array<int>"
    )


def pq_decode(codes: np.ndarray, model: PQModel) -> np.ndarray:
    """Reconstruct (n, dim) from (n, m) codes — driver/test helper."""
    return np.concatenate(
        [model.codebooks[sub][codes[:, sub]] for sub in range(model.m)],
        axis=1,
    )


def pq_topk(
    encoded: DataFrame,
    queries: np.ndarray,
    query_ids: np.ndarray,
    model: PQModel,
    k: int = 10,
) -> DataFrame:
    """ADC top-k: (query_id, vec_id, ad2) — the k smallest approximate
    squared distances per query. Queries ride the closure (a handful of
    rows — same boundary as the centroid broadcast); each scan batch
    emits only its per-query top-k candidates before the final rank."""
    if queries.ndim != 2 or queries.shape[1] != model.dim:
        raise ValueError(f"queries must be (q, {model.dim})")
    m, dsub = model.m, model.dsub
    books = model.codebooks
    # (q, m, k_codebook) exact LUT: ||q_sub - c||² per codeword
    lut = np.stack(
        [
            ((queries[:, s * dsub : (s + 1) * dsub][:, None, :] - books[s][None])
             ** 2).sum(axis=2)
            for s in range(m)
        ],
        axis=1,
    )
    qids = np.asarray(query_ids)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())          # (n, m)
            vec_ids = pdf["vec_id"].to_numpy()
            # ad2[q, n] = Σ_s lut[q, s, codes[n, s]] — one fancy-index
            # gather per subspace (m is small; each gather is (q, n))
            ad2 = np.zeros((lut.shape[0], len(codes)))
            for s in range(m):
                ad2 += lut[:, s, codes[:, s]]
            top = min(k, ad2.shape[1])
            # Per-batch pre-filter must respect the final (ad2 asc,
            # vec_id asc) tie-break: PQ makes exact ad2 ties routine
            # (identical codes ⇒ identical ADC distance), and a bare
            # argpartition could discard the smaller-id member of a tie
            # at the rank-k boundary, making the global top-k depend on
            # partitioning. lexsort keys are last-is-primary.
            idx = np.stack(
                [np.lexsort((vec_ids, ad2[qi]))[:top] for qi in range(len(qids))]
            )
            rows = {
                "query_id": np.repeat(qids, top),
                "vec_id": vec_ids[idx].ravel(),
                "ad2": np.take_along_axis(ad2, idx, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    candidates = encoded.select("vec_id", "codes").mapInPandas(
        gen, schema="query_id bigint, vec_id bigint, ad2 double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("ad2").asc(), F.col("vec_id").asc()
    )
    return (
        candidates.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted lists × residual product quantization — the
# FAISS IndexIVFPQ composition (Jégou et al. 2011 §IV). The coarse
# quantizer prunes the scan to n_probe cells (reads ≈ n_probe/C of the
# corpus, the extensions/similarity.py IVF property); PQ shrinks what
# is scanned 32×; encoding the RESIDUAL x − c(x) instead of x keeps
# codeword resolution where the data actually is (within-cell spread,
# not global position).


@dataclass(frozen=True)
class IVFPQModel:
    coarse: np.ndarray      # (n_cells, dim) coarse centroids, row = cid
    pq: PQModel             # trained on residuals


def _residuals(emb: DataFrame, centroids: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, cell_id, r = x − c_cell) via one broadcast assignment —
    assign_clusters' min_by argmin, then a zip_with subtraction."""
    from emission_project_spark.extensions.kmeans import assign_clusters

    vecs = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    assigned = assign_clusters(vecs, centroids)
    ce = centroids.select(
        F.col("cid").alias("cluster_id"), F.col("ce").alias("_ce")
    )
    return (
        assigned.join(F.broadcast(ce), "cluster_id")
        .select(
            "vec_id",
            F.col("cluster_id").alias("cell_id"),
            F.zip_with("e", "_ce", lambda x, c: x - c).alias("r"),
        )
    )


def fit_ivfpq(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    m: int = 8,
    k: int = 16,
    iterations: int = 3,
) -> IVFPQModel:
    from emission_project_spark.extensions.kmeans import lloyd_centroids

    vecs = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    centroids = lloyd_centroids(vecs, k=n_cells, iterations=iterations)
    rows = centroids.collect()
    # Mirror fit_pq's under-fill guard: Lloyd can drop an empty cell
    # during recompute, and an np.empty row silently poisons every
    # downstream assignment. Remap raw cids (seed vec_ids) to dense
    # 0..n_cells-1 rows in sorted-cid order; ivfpq_encode/_centroid_df
    # re-derive cell ids from the same row order, so the mapping is
    # consistent end-to-end.
    if len(rows) < n_cells:
        raise ValueError(
            f"coarse quantizer: Lloyd returned {len(rows)} < n_cells={n_cells} cells"
        )
    by_cid = sorted((int(r["cid"]), r["ce"]) for r in rows)
    if len({c for c, _ in by_cid}) != n_cells:
        raise ValueError(
            f"coarse quantizer: expected {n_cells} distinct cell ids, "
            f"got {len({c for c, _ in by_cid})}"
        )
    coarse = np.empty((n_cells, dim))
    for cell, (_, ce) in enumerate(by_cid):
        coarse[cell] = np.asarray(ce)
    res = _residuals(emb, centroids, id_col, vec_col)
    pq = fit_pq(
        res,
        id_col="vec_id",
        vec_col="r",
        dim=dim,
        m=m,
        k=k,
        iterations=iterations,
    )
    return IVFPQModel(coarse=coarse, pq=pq)


def ivfpq_encode(
    emb: DataFrame,
    model: IVFPQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell_id, codes) — the inverted-list relation. Persist
    this partitioned by cell_id and a probe reads only its lists."""
    centroids = _centroid_df(emb.sparkSession, model.coarse)
    res = _residuals(emb, centroids, id_col, vec_col)
    codes = pq_encode(res, model.pq, id_col="vec_id", vec_col="r")
    return res.select("vec_id", "cell_id").join(codes, "vec_id")


def _centroid_df(spark, coarse: np.ndarray) -> DataFrame:
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(coarse)],
        "cid int, ce array<double>",
    )


def ivfpq_topk(
    encoded: DataFrame,
    queries: np.ndarray,
    query_ids: np.ndarray,
    model: IVFPQModel,
    n_probe: int = 2,
    k: int = 10,
) -> DataFrame:
    """ADC top-k over the n_probe nearest cells per query.

    Driver side: per query, coarse distances pick its probe cells and
    one (m × k) LUT per probed cell on the residual q − c. Executor
    side: the scan is FILTERED to the union of probed cells (partition
    pruning when the list relation is stored partitioned by cell_id);
    each batch groups by cell, scores only the queries probing that
    cell, and emits per-batch per-query top-k."""
    m, dsub = model.pq.m, model.pq.dsub
    books = model.pq.codebooks
    qids = np.asarray(query_ids)
    # (q, n_cells) coarse distances → probe lists
    cd = ((queries[:, None, :] - model.coarse[None]) ** 2).sum(axis=2)
    probe = np.argsort(cd, axis=1, kind="stable")[:, :n_probe]    # (q, p)
    # cell → [(query_index, lut)] with lut on the residual
    by_cell: dict[int, list[tuple[int, np.ndarray]]] = {}
    for qi in range(len(queries)):
        for c in probe[qi]:
            r = queries[qi] - model.coarse[c]
            lut = np.stack(
                [
                    (
                        (r[s * dsub : (s + 1) * dsub][None, :] - books[s]) ** 2
                    ).sum(axis=1)
                    for s in range(m)
                ]
            )                                                      # (m, k)
            by_cell.setdefault(int(c), []).append((qi, lut))
    wanted = sorted(by_cell)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            for cell, grp in pdf.groupby("cell_id"):
                probes = by_cell.get(int(cell))
                if not probes:
                    continue
                codes = np.stack(grp["codes"].to_numpy())          # (n, m)
                vec_ids = grp["vec_id"].to_numpy()
                for qi, lut in probes:
                    ad2 = np.zeros(len(codes))
                    for s in range(m):
                        ad2 += lut[s, codes[:, s]]
                    top = min(k, len(ad2))
                    # (ad2 asc, vec_id asc) within the batch — same
                    # tie-discipline as pq_topk's pre-filter.
                    idx = np.lexsort((vec_ids, ad2))[:top]
                    yield pd.DataFrame(
                        {
                            "query_id": np.full(top, qids[qi]),
                            "vec_id": vec_ids[idx],
                            "ad2": ad2[idx],
                        }
                    )

    pruned = encoded.filter(F.col("cell_id").isin([int(c) for c in wanted]))
    candidates = pruned.select("vec_id", "cell_id", "codes").mapInPandas(
        gen, schema="query_id bigint, vec_id bigint, ad2 double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("ad2").asc(), F.col("vec_id").asc()
    )
    return (
        candidates.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def ivfpq_topk_expr(
    vectors: DataFrame,
    query: DataFrame,
    dim: int = 64,
    n_cells: int = 4,
    m: int = 4,
    k_codes: int = 8,
    iterations: int = 2,
    n_probe: int = 2,
    k: int = 10,
) -> DataFrame:
    """Oracle-checkable expression twin of the IVF-PQ ADC search.

    Computes the IDENTICAL quantity as ``fit_ivfpq`` → ``ivfpq_encode``
    → ``ivfpq_topk`` (same coarse Lloyd quantizer, same residual
    per-subspace Lloyd codebooks, same probe rule, and ADC(q, codes) =
    ‖(q − c_cell) − decode(codes)‖² by the ADC identity test_pq.py
    pins) — but entirely as lazy JVM expressions on the kmeans.py
    kernel: Lloyd chains, the kernel's argmin for codewords,
    reconstruction as a position-sorted flatten, and the ADC distance
    as the left-to-right ``_sq_dist`` fold the DuckDB oracle reproduces
    bitwise. No driver collect, no numpy, so the
    registered ``similarity_ivfpq_topk`` query keeps tools/plancheck
    compile-only while putting the PQ compression path on the driver's
    oracle ledger; tests/test_pq.py bridges this twin to the numpy path
    by equality on the same corpus.

    Scale shape mirrors the numpy path: each Lloyd round broadcasts
    k·dim doubles; the residual relation is checkpointed once (the
    exploded subspace relation and the codebooks are not: at sf0.1
    materializing them read and shuffled no less and was not faster);
    the m subspace quantizers are ONE grouped ``lloyd_centroids`` run
    over the exploded (vec_id, sub, e) relation — one scan and one
    (vec_id, sub)-keyed exchange per Lloyd round for ALL subspaces,
    computing exactly what m separate runs would; codeword assignment
    is one grouped ``assign_clusters`` against the m·k_codes·dsub
    codebook union (KBs); the candidate scan is restricted to each
    query's ``n_probe`` cells (``kmeans.probe_cells``) by the join key.
    """
    from emission_project_spark.extensions.kmeans import (
        _sq_dist,
        assign_clusters,
        lloyd_centroids,
        probe_cells,
    )

    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    vecs = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # Materialized: the coarse quantizer feeds the checkpointed
    # residuals below and the query probe; inline, the probe reruns its
    # Lloyd chain (sf0.1: 8,000 → 12,000 parquet rows, 3.5 → 4.4 MB
    # shuffled).
    coarse = lloyd_centroids(vecs, k=n_cells, iterations=iterations).localCheckpoint(
        eager=False
    )
    assigned = assign_clusters(vecs, coarse)
    ce_map = coarse.select(
        F.col("cid").alias("cluster_id"), F.col("ce").alias("_cell_ce")
    )
    res = (
        assigned.join(F.broadcast(ce_map), "cluster_id")
        .select(
            "vec_id",
            F.col("cluster_id").alias("cell"),
            F.zip_with("e", "_cell_ce", lambda x, c: x - c).alias("r"),
        )
        # Materialized, spillable (dim doubles per row): inline, the
        # codebook rounds and the final assignment recompute the
        # residuals. At sf0.1 that reads no more parquet rows (8,000)
        # and shuffles less (3.5 → 1.7 MB), but similarity_ivfpq_topk
        # is slower (median 4.03 → 4.37 s, 9 alternating runs).
        .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )

    # (vec_id, cell, sub, e): every subspace slice in one explode pass
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("r", s * dsub + 1, dsub).alias("e"),
            )
            for s in range(m)
        ]
    )
    subs = (
        res.select("vec_id", "cell", F.explode(sub_structs).alias("c"))
        .select("vec_id", "cell", F.col("c.sub").alias("sub"), F.col("c.e").alias("e"))
    )
    # codebooks (sub, cid, ce): `sub` is the group key
    books = lloyd_centroids(subs.drop("cell"), k=k_codes, iterations=iterations)
    codeword = books.select(
        "sub", F.col("cid").alias("cluster_id"), F.col("ce").alias("bce")
    )
    best = assign_clusters(subs, books).join(
        F.broadcast(codeword), ["sub", "cluster_id"]
    )
    recon = best.groupBy("vec_id").agg(
        F.first("cell").alias("cell"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "bce"))),
                lambda x: x["bce"],
            )
        ).alias("rr"),
    )

    q = query.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_q_e"),
    )
    qprobes = probe_cells(q, coarse, n_probe).select(
        "query_id",
        F.col("cid").alias("qcell"),
        F.zip_with("_q_e", "ce", lambda x, c: x - c).alias("qr"),
    )
    cand = recon.join(F.broadcast(qprobes), recon["cell"] == qprobes["qcell"])
    out = cand.select(
        "query_id",
        "vec_id",
        F.round(_sq_dist(F.col("qr"), F.col("rr")), 6).alias("ad2"),
    )
    return topk_per_query(out, F.col("ad2").asc(), k).select(
        "query_id", "rank", "vec_id", "ad2"
    )


def ivfpq_rerank_topk_expr(
    vectors: DataFrame,
    query: DataFrame,
    dim: int = 64,
    n_cells: int = 4,
    m: int = 4,
    k_codes: int = 8,
    iterations: int = 2,
    n_probe: int = 2,
    shortlist: int = 20,
    k: int = 10,
) -> DataFrame:
    """ADC shortlist → exact re-rank (the FAISS ``IndexRefineFlat`` step).

    Stage 1 is the full IVF-PQ ADC search (``ivfpq_topk_expr``) widened
    to ``shortlist`` candidates per query; stage 2 joins the shortlist
    back to the ORIGINAL float vectors and re-orders by exact squared
    L2 with the same (distance, vec_id) deterministic tie-break. This
    is the standard two-tier ANN deployment: compressed-domain recall,
    exact-domain precision — quantization error decides which ~2k
    candidates surface, never their final order.

    Scale shape: the corpus is touched only through the 32×-compressed
    codes (stage 1); the exact pass reads q×shortlist full vectors —
    a broadcast-sized relation by construction — so refining adds one
    broadcast hash join against the vector table and a window over
    ≤shortlist rows per query, never a second full-precision corpus
    scan.
    """
    from emission_project_spark.extensions.kmeans import _sq_dist

    short = ivfpq_topk_expr(
        vectors,
        query,
        dim=dim,
        n_cells=n_cells,
        m=m,
        k_codes=k_codes,
        iterations=iterations,
        n_probe=n_probe,
        k=shortlist,
    ).select("query_id", "vec_id")
    vecs = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = query.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    exact = (
        vecs.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(_sq_dist(F.col("qe"), F.col("e")), 6).alias("ed2"),
        )
    )
    return topk_per_query(exact, F.col("ed2").asc(), k).select(
        "query_id", "rank", "vec_id", "ed2"
    )
