"""Semantic ground truth for embedding_norm_outliers (planted norms,
including the MAD=0 degenerate corpus) and the survivor/clustering
consistency contract of dedup_canonical_survivors."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from emission_project_spark.plans.extensions import (
    dedup_canonical_survivors,
    dedup_cluster_components,
    embedding_norm_outliers,
)


def _write_emb(d: str, vecs: dict[int, list[float]]) -> str:
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(vecs), type=pa.int64()),
                "embedding": pa.array(
                    list(vecs.values()), type=pa.list_(pa.float32())
                ),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    return d


def test_norm_outliers_planted(spark, tmp_path):
    # norms 3,4,5,6,100 → median 5, |dev| = {2,1,0,1,95} → MAD 1
    # fence = 3·1.4826 → only the 100-norm vector is outside
    vecs = {
        1: [3.0, 0.0],
        2: [0.0, 4.0],
        3: [3.0, 4.0],
        4: [6.0, 0.0],
        5: [100.0, 0.0],
    }
    d = _write_emb(str(tmp_path), vecs)
    rows = {r["vec_id"]: r for r in embedding_norm_outliers(spark, d).collect()}
    assert [rows[i]["l2_norm"] for i in (1, 2, 3, 4, 5)] == [3.0, 4.0, 5.0, 6.0, 100.0]
    assert {i for i in rows if rows[i]["is_outlier"]} == {5}
    assert rows[5]["robust_z"] == round(95 / 1.4826, 4)
    assert rows[3]["robust_z"] == 0.0


def test_norm_outliers_mad_zero_defined(spark, tmp_path):
    # every norm identical → MAD 0: defined as "no outliers", z = 0
    vecs = {i: [3.0, 4.0] for i in range(1, 6)}
    d = _write_emb(str(tmp_path), vecs)
    rows = embedding_norm_outliers(spark, d).collect()
    assert all(not r["is_outlier"] and r["robust_z"] == 0.0 for r in rows)
    assert all(r["l2_norm"] == 5.0 for r in rows)


SF = "/root/testdata/sf0.001"


def test_survivors_consistent_with_components(spark):
    comp = dedup_cluster_components(spark, SF).collect()
    surv = {r["component_id"]: r for r in dedup_canonical_survivors(spark, SF).collect()}
    members: dict[int, list[int]] = {}
    for r in comp:
        members.setdefault(r["component_id"], []).append(r["doc_id"])
    assert set(surv) == set(members)
    for cid, docs in members.items():
        assert surv[cid]["survivor_doc_id"] == min(docs)
        assert surv[cid]["cluster_size"] == len(docs)
        assert surv[cid]["docs_dropped"] == len(docs) - 1
        assert surv[cid]["chars_reclaimed"] >= 0
