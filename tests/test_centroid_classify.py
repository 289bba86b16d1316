"""Nearest-centroid (Rocchio) classifier pinned against a numpy
recomputation (grid-rounded means, argmin with (d2, label) tie-break)
and a planted perfectly-separable control where the confusion matrix
must be exactly diagonal."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

from emission_project_spark.extensions.similarity import centroid_classify


class TestCentroidConfusion:
    def test_matches_numpy_recompute(self, spark, sf_dir):
        import __spark_entry__ as entry

        rows = entry.queries()["similarity_centroid_confusion"](spark, sf_dir).collect()
        emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
        x = np.array(emb.embedding.tolist(), dtype=np.float64)
        labels = emb.label.to_numpy()
        uniq = np.sort(np.unique(labels))
        cents = np.stack([np.round(x[labels == u].mean(axis=0), 6) for u in uniq])
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        pred = uniq[d2.argmin(axis=1)]  # argmin takes first (smallest label) on ties
        want = {}
        for t, p in zip(labels, pred):
            want[(int(t), int(p))] = want.get((int(t), int(p)), 0) + 1
        got = {(r.true_label, r.predicted_label): r.n_vectors for r in rows}
        assert got == want
        # shares sum to 1 within each true label and flag correctness
        for r in rows:
            total = sum(n for (t, _), n in want.items() if t == r.true_label)
            assert abs(r.share_of_true - round(r.n_vectors / total, 6)) < 1e-9
            assert r.is_correct == (r.true_label == r.predicted_label)

    def test_separable_corpus_is_diagonal(self, spark):
        # three labels at orthogonal corners, tight noise: every vector
        # must classify to its own label's centroid
        rng_rows = []
        for lab in range(3):
            for i in range(20):
                v = [0.0] * 6
                v[lab] = 10.0
                v[3 + lab] = 0.01 * (i % 5)  # deterministic jitter
                rng_rows.append((lab * 100 + i, v, lab))
        emb = spark.createDataFrame(
            rng_rows, "vec_id bigint, embedding array<float>, label int"
        )
        out = centroid_classify(emb).collect()
        assert len(out) == 60
        assert all(r.true_label == r.predicted_label for r in out)

    def test_tie_breaks_to_smaller_label(self, spark):
        # the classifier's argmin is assign_clusters' (d2, cid) min_by;
        # pin the exact-tie case with explicit centroids (a member of
        # any label shifts its own centroid, so a tie can't be staged
        # through centroid_classify itself): probe at (1,0) equidistant
        # from centroids 3 and 7 must take the smaller label 3.
        from emission_project_spark.extensions.kmeans import assign_clusters

        vecs = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id bigint, e array<double>"
        )
        cents = spark.createDataFrame(
            [(7, [2.0, 0.0]), (3, [0.0, 0.0])], "cid bigint, ce array<double>"
        )
        out = assign_clusters(vecs, cents).collect()
        assert [(r.vec_id, r.cluster_id, r.d2) for r in out] == [(1, 3, 1.0)]
