"""Every ``localCheckpoint`` in the package is on a reasoned allowlist.

A ``localCheckpoint`` hides its subtree from ``explain`` and
``tools/plancheck.py``, depends on executor-local storage and, under
AQE, runs its subtree's shuffle stages while the plan is built. A site
stays only when inlining it makes its query read more parquet rows or
write more shuffle bytes (``tools/eventlog_run.py --analyze`` reports
both per job group), is slower, or when the materialized relation is
itself the mechanism. Each site states its measured reason in a
comment.

The (module, enclosing top-level function) pairs that call
``localCheckpoint``, with their call counts, must equal ``ALLOWED``: a
new unlisted site fails, and so does a stale entry.

Pure AST, no Spark session. Run alone with
``python -m pytest tests/test_materialization_sites.py -q``.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "emission_project_spark"

# "module:function" -> (calls, why the relation is materialized)
ALLOWED: dict[str, tuple[int, str]] = {
    # the materialized relation is the mechanism
    "operators/components.py:connected_components": (
        3, "per-round lineage truncation in the convergence loop"),
    # inline, the query reads more parquet rows or writes more shuffle
    "extensions/dedup.py:_shingle_overlap": (1, "shingling runs twice"),
    "extensions/pq.py:ivfpq_topk_expr": (
        2, "coarse quantizer: embeddings rescanned; residuals: slower"),
    "plans/affinity_ops.py:dedup_jaccard_prefix_join": (1, "shingling runs twice"),
    "plans/affinity_ops.py:graph_adamic_adar_top": (1, "more shuffle, slower"),
    "plans/affinity_ops.py:graph_kcore_peel": (
        2, "edges: basket build per round; survivors: slower"),
    "plans/affinity_ops.py:graph_triangle_stats": (
        3, "pairs: basket build replays; deg and oriented: slower"),
    "plans/affinity_ops.py:text_pmi_collocations": (2, "documents rescanned"),
    "plans/cohort_stats.py:_segment_priority_cells": (1, "orders/customer rescanned"),
    "plans/cohort_stats.py:events_kaplan_meier": (1, "more shuffle, slower"),
    "plans/cohort_stats.py:events_rfm_segments": (1, "events rescanned"),
    "plans/curation_lm.py:curation_dsir_weights": (1, "documents rescanned"),
    "plans/curation_lm.py:text_bigram_perplexity": (1, "documents rescanned"),
    "plans/eval_metrics.py:_dau_mau": (1, "events rescanned"),
    "plans/eval_metrics.py:_rank_sum": (1, "events rescanned"),
    "plans/eval_metrics.py:events_mann_kendall_trend": (1, "events rescanned"),
    "plans/eval_metrics.py:graph_neighbor_jaccard_top": (1, "basket build replays"),
    "plans/eval_metrics.py:privacy_t_closeness_customers": (1, "customer rescanned"),
    "plans/eval_metrics.py:stats_lorenz_deciles": (1, "more rows read, more shuffle"),
    "plans/eval_metrics.py:stats_permutation_pvalue": (1, "events rescanned"),
    "plans/eval_metrics.py:text_heaps_law": (
        2, "doc buckets: documents rescanned; curve: more shuffle"),
    "plans/eval_metrics.py:text_kneser_ney_bigrams": (1, "documents rescanned"),
    "plans/extensions.py:text_bm25_search": (1, "documents rescanned"),
    "plans/graph_rank.py:graph_hits_part_authority": (
        2, "edges: orders/lineitem rescanned; half-steps: slower"),
    "plans/keyword_ops.py:text_rake_keywords": (1, "documents rescanned"),
}


def checkpoint_sites(package: Path = PACKAGE) -> Counter:
    """``localCheckpoint`` calls per "module:function", the function
    being the top-level definition that encloses the call (module-level
    calls count under ``<module>``)."""
    sites: Counter = Counter()
    for path in sorted(package.rglob("*.py")):
        module = path.relative_to(package).as_posix()
        for top in ast.parse(path.read_text()).body:
            owner = top.name if isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) else "<module>"
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                ):
                    sites[f"{module}:{owner}"] += 1
    return sites


def test_every_checkpoint_site_is_allowlisted():
    found = dict(checkpoint_sites())
    allowed = {site: n for site, (n, _) in ALLOWED.items()}
    unlisted = {s: n for s, n in found.items() if allowed.get(s) != n}
    stale = {s: n for s, n in allowed.items() if found.get(s) != n}
    assert not unlisted and not stale, (
        f"localCheckpoint sites not on ALLOWED (or with another count): "
        f"{unlisted}; ALLOWED entries with no such site: {stale}"
    )
