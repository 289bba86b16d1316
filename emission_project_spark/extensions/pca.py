"""Distributed PCA over an embedding column.

The missing primitive between the k-means quantizer (kmeans.py) and the
similarity stack: dimensionality reduction / whitening before ANN or
SemDeDup at 100 TB. Reference analog: none (the reference has no vector
surface at all) — this is part of the training-data-pipeline extension
set.

Spark-first decomposition (the classic tall-skinny pattern, same shape
MLlib's RowMatrix.computeCovariance uses):

1. **Partial second moments, map-side** (`mapInPandas`, Arrow batches):
   each batch of n_b vectors contributes ``M.T @ M`` (d×d), the column
   sum (d), and the count — one BLAS ``dgemm`` per batch, emitted as
   (i, j, v) cells. Nothing row-sized leaves an executor.
2. **One JVM hash aggregate** merges cells: d² + d + 1 groups total
   (d=64 → 4,161 rows) regardless of corpus size.
3. **Driver-side eigh** on the d×d covariance (d ≤ a few thousand — the
   d×d matrix is KBs while the corpus is TBs; this is the same
   "k·dim in the driver" boundary as the k-means centroid collect,
   kmeans.py:91).
4. **Projection** broadcasts the (k×d) component matrix in the UDF
   closure and maps batches through one ``dgemm`` each.

Sign convention: each component's largest-|loading| coordinate is made
positive, so results are deterministic across partitionings and
platforms (eigenvector sign is otherwise arbitrary).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emission_project_spark.functions.vectors import row_matrix


@dataclass(frozen=True)
class PCAModel:
    mean: np.ndarray            # (d,)
    components: np.ndarray      # (k, d) rows = principal axes, desc variance
    explained_variance: np.ndarray        # (k,) eigenvalues (population)
    explained_variance_ratio: np.ndarray  # (k,) eigenvalues / total variance
    n_rows: int


def _moment_cells(col: str, dim: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = row_matrix(pdf[col])
            if m.shape[1] != dim:
                raise ValueError(
                    f"embedding dim {m.shape[1]} != declared dim {dim}"
                )
            outer = m.T @ m                      # d×d partial second moment
            colsum = m.sum(axis=0)               # d partial mean numerator
            ii, jj = np.indices(outer.shape)
            yield pd.DataFrame(
                {
                    "i": np.concatenate(
                        [ii.ravel(), np.arange(dim), np.array([-1])]
                    ).astype(np.int32),
                    "j": np.concatenate(
                        [jj.ravel(), np.full(dim, -1), np.array([-1])]
                    ).astype(np.int32),
                    "v": np.concatenate(
                        [outer.ravel(), colsum, np.array([float(len(m))])]
                    ),
                }
            )

    return gen


def fit_pca(vecs: DataFrame, col: str, dim: int, k: int) -> PCAModel:
    """Fit PCA on ``vecs[col]`` (array<float|double> of length ``dim``).

    ``dim`` is required (no ``.first()`` probe job — the similarity.py
    discipline). ``k`` ≤ dim components are returned, highest variance
    first. Covariance is population (ddof=0), documented so the pytest
    oracle against numpy is exact.
    """
    if not (0 < k <= dim):
        raise ValueError(f"k={k} must be in (0, dim={dim}]")
    cells = vecs.select(col).mapInPandas(
        _moment_cells(col, dim), schema="i int, j int, v double"
    )
    merged = cells.groupBy("i", "j").agg(F.sum("v").alias("v")).collect()

    second = np.zeros((dim, dim))
    colsum = np.zeros(dim)
    n = 0
    for r in merged:
        if r["i"] == -1:
            n = int(r["v"])
        elif r["j"] == -1:
            colsum[r["i"]] = r["v"]
        else:
            second[r["i"], r["j"]] = r["v"]
    if n == 0:
        raise ValueError("fit_pca on an empty relation")
    mean = colsum / n
    cov = second / n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)       # ascending
    order = np.argsort(eigvals)[::-1][:k]
    comps = eigvecs[:, order].T                   # (k, d)
    # deterministic sign: largest-|loading| coordinate positive
    for row in comps:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1.0
    ev = np.maximum(eigvals[order], 0.0)
    total = max(float(np.trace(cov)), 1e-300)
    return PCAModel(
        mean=mean,
        components=comps,
        explained_variance=ev,
        explained_variance_ratio=ev / total,
        n_rows=n,
    )


def project_pca(
    df: DataFrame, model: PCAModel, col: str, out_col: str = "pca"
) -> DataFrame:
    """Append ``out_col`` = (x - mean) @ components.T as array<double>.

    The (k×d) matrix rides the UDF closure (KBs — the broadcast-small
    pattern); each Arrow batch is one BLAS matmul.
    """
    mean = model.mean
    comps = model.components.T                    # (d, k)
    out_fields = [f for f in df.schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = row_matrix(pdf[col])
            proj = (m - mean) @ comps
            pdf = pdf.copy()
            pdf[out_col] = list(proj)
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in out_fields
    ) + f", {out_col} array<double>"
    return df.mapInPandas(gen, schema=schema)
