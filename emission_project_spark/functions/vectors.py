"""Vector math over ``array<float|double>`` columns.

The Column functions are JVM-side: built from ``aggregate``/``zip_with``
higher-order functions so the hot path stays inside Tungsten codegen;
no Python UDFs. Used by the similarity-search operators
(extensions/similarity.py).

Determinism note: folds run in array-element order, so the same doubles
come out on every engine that folds sequentially — important for
oracle hash-matching of similarity scores.

``row_matrix`` and ``normalize_rows`` are the two steps every numpy
kernel (``mapInPandas`` / ``applyInPandas`` bodies) shares: Arrow rows
in, float64 matrix out, rows unit-normalized in place.
"""

from __future__ import annotations

import sys

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import Column
from pyspark.sql import functions as F

# the numpy helpers run inside kernels on Python workers, which need not
# have this package on their path: ship this module's functions by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product of two equal-length arrays."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; null/zero-norm guarded to null."""
    d = dot(a, b)
    n = l2_norm(a) * l2_norm(b)
    return F.when(n > 0, d / n)


def max_abs(a: Column | str) -> Column:
    """Largest |element| (sequential fold, like the other reductions)."""
    return F.aggregate(
        _c(a),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
    )


def int8_scale(a: Column | str) -> Column:
    """Symmetric int8 quantization scale: max|x| / 127 (0 for the
    all-zero vector — the quantize/dequantize pair guards it)."""
    return max_abs(a) / F.lit(127.0)


def int8_quantize(a: Column | str, scale: Column) -> Column:
    """Per-element code = clamp(floor(x/scale + 0.5), ±127) as int.

    floor(x + 0.5) is used instead of round() deliberately: it is
    bit-identical across engines (DuckDB/Spark round() differ on .5
    ties), which keeps the quantization oracle hash-checkable. 4×
    memory cut for ANN corpora: 100 TB of float32 embeddings → 25 TB.
    """
    return F.transform(
        _c(a),
        lambda v: F.when(scale == 0, F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(-127.0),
                F.least(F.lit(127.0), F.floor(v.cast("double") / scale + 0.5)),
            )
        )
        .cast("int"),
    )


def int8_dequantize(codes: Column | str, scale: Column) -> Column:
    """codes × scale back to array<double>."""
    return F.transform(_c(codes), lambda c: c.cast("double") * scale)


def row_matrix(rows) -> np.ndarray:
    """Stack one batch of equal-length vectors (the pandas values of an
    ``array<float|double>`` column, at least one row) into a fresh
    (n, dim) float64 matrix. Widening float32 to float64 is exact, so a
    kernel sees the same values whatever the column's element type.
    Fresh, not stacked into a buffer reused across batches: the reused
    buffer measured more minor faults and no faster wall time
    (embedding_hubness_ivf at sf1, interleaved fresh-JVM A/B)."""
    return np.array(list(rows), dtype=np.float64)


def normalize_rows(mat: np.ndarray) -> np.ndarray:
    """L2-normalize the rows of ``mat`` in place and return the row
    norms, with a zero norm replaced by inf: a zero row divides to
    0.0, and ``np.isinf`` of the result is the zero-norm mask (the rows
    whose cosine the oracles score NULL)."""
    nrm = np.linalg.norm(mat, axis=1)
    nrm[nrm == 0] = np.inf
    np.divide(mat, nrm[:, None], out=mat)
    return nrm
