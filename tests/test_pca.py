"""PCA's stage-1 covariance block (the registered
``embedding_covariance_block``) pinned against numpy on the sf0.001
embeddings."""

from __future__ import annotations

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def local_matrix(emb):
    rows = emb.select("embedding").collect()
    return np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])


def test_covariance_block_query_bridges_to_fit_pca(spark, local_matrix):
    """The oracle-checked embedding_covariance_block query (PCA stage 1
    in SQL-expressible form: the 8×8 leading cross-moment block) must
    equal the numpy population covariance of the same dimensions."""
    import __spark_entry__ as entrymod

    out = entrymod.queries()["embedding_covariance_block"](spark, SF).collect()
    assert len(out) == 36
    x = local_matrix
    mean = x.mean(axis=0)
    cov = x.T @ x / len(x) - np.outer(mean, mean)
    for r in out:
        i, j = int(r["dim_i"]) - 1, int(r["dim_j"]) - 1
        assert i <= j
        assert r["cov"] == pytest.approx(round(cov[i, j], 6), abs=2e-6)
