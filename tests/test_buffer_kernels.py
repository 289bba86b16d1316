"""Ragged-batch pins for the round-13 reused-buffer kernels.

Round 12 traced the dedup_semantic_pairs sf10 bimodality to host-level
fresh-anon-page fault service and fixed it with a chunked GEMM through
ONE reused output buffer (extensions/similarity.py:328). Round 13
generalizes that discipline to the remaining BLAS kernels
(extensions/pq.py, plans/eval_metrics.py hubness paths). Every rewrite keeps the original operand order — so outputs
must be IDENTICAL, not merely close — and these tests force the two
failure modes buffer reuse can introduce:

- ragged Arrow batches (a small tail batch after full ones): a wrong
  slice would read stale rows from the previous, larger batch;
- buffer growth mid-stream (first batch small): a missed reallocation
  would truncate.

Arrow batch geometry is forced via spark.sql.execution.arrow
.maxRecordsPerBatch; the hubness cell chunk via the _CELL_CHUNK
module constant.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

_SF = "/root/testdata/sf0.001"
_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


class _arrow_batches:
    """Temporarily pin the Arrow batch size (ragged-tail geometry)."""

    def __init__(self, spark, n):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get(_BATCH_KEY)
        self.spark.conf.set(_BATCH_KEY, str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set(_BATCH_KEY, self.old)


def test_pq_encode_ragged_batches_identical(spark):
    """pq_encode through the reused (n, k_sub) distance buffer: codes
    must be identical for 7-row ragged batches and one big batch, and
    match the old (-2x)@C.T + |C|^2 argmin computed locally."""
    import numpy as np

    from emission_project_spark.catalog.tables import load_table
    from emission_project_spark.extensions.pq import fit_pq, pq_encode

    emb = load_table(spark, _SF, "embeddings").limit(300)
    model = fit_pq(emb, m=4, k=16, iterations=2, vec_col="embedding")

    def run():
        return {
            r["vec_id"]: tuple(r["codes"])
            for r in pq_encode(emb, model, vec_col="embedding").collect()
        }

    with _arrow_batches(spark, 7):
        ragged = run()
    big = run()
    assert ragged == big

    # old-kernel reference (fresh allocs, original operand order)
    data = sorted(emb.collect(), key=lambda r: r["vec_id"])
    x = np.array([r["embedding"] for r in data], dtype=np.float64)
    for sub in range(model.m):
        xs = x[:, sub * model.dsub : (sub + 1) * model.dsub]
        d2 = (
            -2.0 * xs @ model.codebooks[sub].T
            + (model.codebooks[sub] ** 2).sum(axis=1)[None, :]
        )
        want = d2.argmin(axis=1)
        for i, r in enumerate(data):
            assert big[r["vec_id"]][sub] == want[i]


def test_hubness_stats_ragged_batches_identical(spark, tmp_path_factory):
    """embedding_hubness_stats runs cell_topk over its sample as one
    cell; the readout must not depend on the Arrow batch geometry."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["embedding_hubness_stats"]

    def run():
        return sorted(map(tuple, q(spark, _SF).collect()))

    with _arrow_batches(spark, 7):
        ragged = run()
    assert ragged == run()


def test_hubness_ivf_chunk_and_batch_invariant(spark):
    """embedding_hubness_ivf: the assign kernel (reused (n, nc) buffer)
    and cell_topk (one reused (chunk, m) buffer across a cell's chunk
    loop, tail chunk smaller than the buffer) must give identical
    results for chunk=5 ragged chunking vs the production 2048."""
    import __spark_entry__ as entrymod
    from emission_project_spark.plans import eval_metrics as em

    q = entrymod.queries()["embedding_hubness_ivf"]

    def run():
        return sorted(map(tuple, q(spark, _SF).collect()))

    base = run()
    old = em._CELL_CHUNK
    try:
        em._CELL_CHUNK = 5  # ~500-row sf0.001 cells -> ~100 ragged chunks
        small_chunk = run()
    finally:
        em._CELL_CHUNK = old
    assert small_chunk == base
    with _arrow_batches(spark, 7):
        ragged = run()
    assert ragged == base


def test_hubness_ivf_sharded_ragged_batches(
    spark, negative_id_corpus, assert_hubness_ivf_oracle
):
    """The sliced assignment (per-width reused score buffers) must match
    the oracle at every cap under ragged Arrow batches: a stale
    per-width buffer row would flip an argmax."""
    with _arrow_batches(spark, 7):
        for corpus in (_SF, negative_id_corpus):
            assert_hubness_ivf_oracle(corpus)


def test_hubness_ivf_multipass_matches_oracle(
    spark, negative_id_corpus, assert_hubness_ivf_oracle
):
    """Above _SHARD_GROUP slices the assignment chains several corpus
    passes, carrying the running best through Arrow as _bs/_bc columns.
    A group size of 2 forces up to 12 passes at cap 1; every cap must
    still give the oracle's readout."""
    from emission_project_spark.plans import eval_metrics as em

    old = em._SHARD_GROUP
    try:
        em._SHARD_GROUP = 2
        for corpus in (_SF, negative_id_corpus):
            assert_hubness_ivf_oracle(corpus)
    finally:
        em._SHARD_GROUP = old
