"""Results do not depend on materialization mode.

Every query that reaches a surviving ``localCheckpoint`` site (the
allowlist in ``tests/test_materialization_sites.py``) returns the same
canonical rows (``tools/compare.py``'s canonicalizer) when
``localCheckpoint`` is the identity, so each site is an execution
choice, never a semantic one.

Each query is listed once, under one site it reaches, and the test
first checks that it does reach that site.

The k-means Lloyd loop has no site: the queries built on it plan
without launching a job and without calling ``localCheckpoint``.
"""

from __future__ import annotations

import ast
import functools
import importlib.util
import os
import sys
from pathlib import Path

import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

import __spark_entry__ as entrymod

_REPO = Path(__file__).resolve().parent.parent


def _load(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


_compare = _load("compare_mod_modes", _REPO / "tools" / "compare.py")
_sites = _load("materialization_sites", _REPO / "tests" / "test_materialization_sites.py")
ALLOWED, PACKAGE = _sites.ALLOWED, _sites.PACKAGE

# surviving site -> the queries that reach it (sf0.001)
QUERIES_BY_SITE: dict[str, tuple[str, ...]] = {
    "extensions/dedup.py:_shingle_overlap": (
        "dedup_lsh_quality", "dedup_ngram_jaccard", "dedup_shingle_containment"),
    "extensions/pq.py:ivfpq_topk_expr": (
        "similarity_ivfpq_rerank_topk", "similarity_ivfpq_topk"),
    "operators/components.py:connected_components": (
        "dedup_canonical_survivors", "dedup_cluster_components",
        "dedup_keep_canonical"),
    "plans/affinity_ops.py:dedup_jaccard_prefix_join": ("dedup_jaccard_prefix_join",),
    "plans/affinity_ops.py:graph_adamic_adar_top": ("graph_adamic_adar_top",),
    "plans/affinity_ops.py:graph_kcore_peel": ("graph_kcore_peel",),
    "plans/affinity_ops.py:graph_triangle_stats": ("graph_triangle_stats",),
    "plans/affinity_ops.py:text_pmi_collocations": ("text_pmi_collocations",),
    "plans/cohort_stats.py:_segment_priority_cells": (
        "stats_chi2_segment_priority", "stats_cramers_v_priority_segment",
        "stats_mutual_info_priority_segment"),
    "plans/cohort_stats.py:events_kaplan_meier": ("events_kaplan_meier",),
    "plans/cohort_stats.py:events_rfm_segments": ("events_rfm_segments",),
    "plans/curation_lm.py:curation_dsir_weights": (
        "curation_dsir_ess", "curation_dsir_weights"),
    "plans/curation_lm.py:text_bigram_perplexity": ("text_bigram_perplexity",),
    "plans/eval_metrics.py:_dau_mau": ("events_dau_mau_hll", "events_dau_mau_stickiness"),
    "plans/eval_metrics.py:_rank_sum": ("stats_cliffs_delta", "stats_roc_auc"),
    "plans/eval_metrics.py:events_mann_kendall_trend": ("events_mann_kendall_trend",),
    "plans/eval_metrics.py:graph_neighbor_jaccard_top": ("graph_neighbor_jaccard_top",),
    "plans/eval_metrics.py:privacy_t_closeness_customers": (
        "privacy_t_closeness_customers",),
    "plans/eval_metrics.py:stats_lorenz_deciles": ("stats_lorenz_deciles",),
    "plans/eval_metrics.py:stats_permutation_pvalue": ("stats_permutation_pvalue",),
    "plans/eval_metrics.py:text_heaps_law": ("text_heaps_law",),
    "plans/eval_metrics.py:text_kneser_ney_bigrams": ("text_kneser_ney_bigrams",),
    "plans/extensions.py:text_bm25_search": ("text_bm25_search",),
    "plans/graph_rank.py:graph_hits_part_authority": ("graph_hits_part_authority",),
    "plans/keyword_ops.py:text_rake_keywords": ("text_rake_keywords",),
}

# queries built on extensions/kmeans.py::lloyd_centroids outside IVF-PQ
LLOYD_QUERIES: tuple[str, ...] = (
    "curation_cluster_quality_join", "dedup_semantic_pairs",
    "embedding_cluster_quality", "embedding_kmeans_lloyd",
    "similarity_ivf_kmeans_topk",
)


@functools.cache
def _top_level_spans(path: str) -> list[tuple[int, int, str]]:
    return [
        (node.lineno, node.end_lineno, node.name)
        for node in ast.parse(Path(path).read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]


def _site(frame) -> str:
    """The "module:function" key of the code calling localCheckpoint."""
    path = frame.f_code.co_filename
    module = os.path.relpath(path, PACKAGE).replace(os.sep, "/")
    line = frame.f_lineno
    owner = next(
        (n for lo, hi, n in _top_level_spans(path) if lo <= line <= hi), "<module>"
    )
    return f"{module}:{owner}"


def test_every_surviving_site_has_its_queries():
    assert set(QUERIES_BY_SITE) == set(ALLOWED)


@pytest.mark.parametrize(
    "site,name",
    [(site, q) for site, qs in QUERIES_BY_SITE.items() for q in qs],
)
def test_results_do_not_change_when_checkpoints_inline(
    spark, sf_dir, monkeypatch, site, name
):
    fn = entrymod.queries()[name]
    checkpoint = ClassicDataFrame.localCheckpoint
    reached: set[str] = set()

    def recording(self, *args, **kwargs):
        reached.add(_site(sys._getframe(1)))
        return checkpoint(self, *args, **kwargs)

    def inline(self, *args, **kwargs):
        return self

    def canonical(df):
        return _compare.rows_to_multiset(df.columns, [tuple(r) for r in df.collect()])

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", recording)
    materialized = canonical(fn(spark, sf_dir))
    assert site in reached, f"{name} reaches {sorted(reached)}, not {site}"
    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", inline)
    assert canonical(fn(spark, sf_dir)) == materialized


@pytest.mark.parametrize("name", LLOYD_QUERIES)
def test_lloyd_queries_build_without_a_job(spark, sf_dir, monkeypatch, name):
    fn = entrymod.queries()[name]
    checkpoint = ClassicDataFrame.localCheckpoint
    reached: set[str] = set()

    def recording(self, *args, **kwargs):
        reached.add(_site(sys._getframe(1)))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", recording)
    sc = spark.sparkContext
    group = f"test-lloyd-build-{name}"
    sc.setJobGroup(group, name)
    try:
        df = fn(spark, sf_dir)
        df._jdf.queryExecution().optimizedPlan()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert reached == set(), f"{name} reaches {sorted(reached)}"
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
