"""Physical-plan audit over every registered query.

Builds each query at the given sf_dir without running its final action,
and inspects the Catalyst physical plan for 100 TB red flags. Table
loads launch no job (``load_table`` reads each schema from the parquet
footer), but building is not execution-free: under AQE (the session
default) a ``localCheckpoint`` — lazy ``eager=False`` included — runs
its subtree's shuffle stages at the call, so queries that checkpoint
while building (e.g. ``similarity_ivfpq_topk``) run part of their work
here, as do builds that collect a driver-side value or write warehouse
files. Each build runs in its own job group, and ``build_jobs=`` counts
the jobs it launched. That count is not repeatable where AQE adapts a
build: ``graph_kcore_peel`` reads 25–27 at sf0.01 on unchanged code, so
compare ``build_jobs=`` between two commits as min/max over several
runs per side, never as one reading each.

Flags:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` on non-trivial
  inputs (a deliberate 1-row scalar cross join is allowed and
  allowlisted below);
- shuffle (``Exchange``) counts per query, to spot plans that reshuffle
  more than their operator semantics require;
- parquet scans with no pushed filters in queries that filter.

Prints one line per query: build jobs, a ``plan=`` fingerprint,
shuffles, joins by strategy, flags. The fingerprint hashes the
optimized logical plan with expression ids normalized, so a refactor
can list exactly which plans it changed by diffing two runs. A
checkpointed relation is a ``LogicalRDD`` leaf in that plan, so the
hash does not see the subtree behind a ``localCheckpoint``; a plan
with a nondeterministic literal (an unseeded ``rand``) hashes
differently per build. Exits nonzero if a disallowed cartesian
appears. Usage:

    python tools/plancheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries that intentionally cross-join a 1-row aggregate (scalar
# broadcast) or a tiny constant relation — nested-loop there is correct
SCALAR_CROSS_OK = {
    "count_probe",                # combines three 1-row count aggregates
    "curation_tfidf_top_terms",   # 1-row corpus-size N
    "similarity_bruteforce_topk",  # query set × corpus is the baseline's semantics
    "similarity_ivf_topk",         # centroid table is k rows
    "embedding_kmeans_lloyd",      # k-centroid broadcast
    "dedup_embedding_cosine",      # all-pairs baseline (LSH variant is the scale path)
    "dedup_embedding_cosine_lsh",
    "similarity_ivf_kmeans_topk",  # Lloyd rounds: k-centroid broadcast per assignment
    "similarity_ivfpq_topk",       # coarse + per-subspace Lloyd: k-centroid broadcasts
    "similarity_ivfpq_rerank_topk",  # same IVF-PQ stage-1; refine adds broadcasts only
    "dedup_semantic_pairs",        # same Lloyd quantizer feeds the cluster key
    "embedding_cluster_quality",   # Lloyd rounds again (k-centroid broadcast)
    "curation_mixture_report",     # 1-row corpus token total
    "curation_cluster_quality_join",  # Lloyd rounds (k-centroid broadcast)
    "text_unigram_logprob",           # 1-row corpus token total
    "curation_temperature_weights",   # 1-row mixture normalizer
    "similarity_hard_negatives",      # query set × corpus, the mining baseline
    "text_bm25_search",               # 1-row corpus (N, avgdl) stats
    "join_q22_idle_balance_customers",  # 1-row balance-average scalar
    "skew_key_profile_lineitem",        # 1-row avg-count scalar vs key counts
    "basket_part_pairs_lift",           # 1-row order-count normalizer
    "similarity_knn_classify",          # query set × corpus (brute-force source)
    "join_q11_important_stock",         # 1-row global-total scalar
    "join_q15_top_supplier",            # 1-row max-revenue scalar
    "curation_dsir_weights",            # 1-row LM-totals scalar
    "text_bigram_perplexity",           # 1-row corpus token total
    "events_funnel_3step",              # 1-row × 1-row funnel report
    "graph_hits_part_authority",        # 1-row max normalizer per half-step
    "embedding_norm_outliers",          # 1-row median + MAD scalars
    "similarity_centroid_confusion",    # |labels|-row centroid broadcast
    "sketch_f2_selfjoin_events",        # 1-row exact × 1-row estimate
    "curation_dsir_ess",                # 1-row LM totals + 1-row max-shift scalar
    "dedup_lsh_quality",                # 1-row candidate agg × 1-row truth agg
    "graph_triangle_stats",             # 1-row census agg × 1-row triangle count
    "text_pmi_collocations",            # 1-row token total × 1-row bigram total
    "stats_benford_first_digit",        # 1-row grand-total scalar
    "similarity_range_search",          # query set × corpus, the radius baseline
    "similarity_recall_at_k",           # sampled query set × corpus, the exact ground truth
    "similarity_ndcg_at_k",             # sampled query set × corpus, the exact ground truth
    "events_rfm_segments",              # 1-row corpus-clock scalar + 1-row user count
    "events_kaplan_meier",              # 1-row corpus-clock + 1-row risk total
    "stats_mutual_info_priority_segment",  # 1-row contingency grand total
    "stats_poisson_bootstrap_ci",       # 1-row point estimate × 1-row CI agg
    "stats_cramers_v_priority_segment",  # 1-row contingency grand total
    "stats_chi2_segment_priority",      # 1-row contingency grand total
    "text_hash_feature_buckets",        # 1-row corpus token total
    "stats_cohens_kappa",               # 1-row totals × 1-row marginal mass (cells ≤25 rows)
    "stats_jensen_shannon",             # 1-row (n_click, n_view) totals over ≤11 bins
    "stats_lorenz_deciles",             # 1-row grand-total revenue scalar
    "stats_theil_index",                # 1-row (n, Σx) + 1-row excluded-count scalars
    "text_heaps_law",                   # 1-row Heaps-β fit over the 10-row curve
    "stats_permutation_pvalue",         # 1-row observed-diff scalar vs 199 replicate rows
    "events_mann_kendall_trend",        # 1-row S × 1-row n × 1-row tie-correction scalars
    "text_source_diversity",            # 1-row (n_docs, k) totals over the source counts
    "text_kneser_ney_bigrams",          # 1-row bigram-type total T
    "embedding_hubness_stats",          # corpus × corpus kNN baseline (IVF is the scale path) + 1-row skew
    "stats_brown_forsythe",             # 1-row (N, ΣZ, k) totals scalar
    "events_dau_mau_stickiness",        # day-grid × user-day trailing-window range join (time-grain bounded)
    "events_dau_mau_hll",               # same day-grid range join, HLL register-merge MAU
    "privacy_t_closeness_customers",    # 1-row global-count scalar (the sibling gates' shape)
    "embedding_hubness_ivf",            # 1-row sqrt(n) centroid-count scalar
}

# Queries whose physical plan may carry a PARTITION-LESS Window — the
# 100 TB anti-pattern this tool exists to catch (a data-sized relation
# funneling through one task). Every entry must justify why ITS global
# window runs over a relation bounded by construction; anything not
# listed here that plans a partition-less Window FAILS the check.
# House patterns:
#   cell table   — a groupBy(value-grain) aggregate output (KS/MWU
#                  shape: distinct VALUES, not rows)
#   bucket prefix— the ≤target_partitions-row (at most 64) bucket-total walk inside
#                  functions/ranks.py (the exact-rank family)
#   time grain   — hour/day-grain aggregate (bounded by the calendar)
#   report grain — ≤dozens of rows by construction (deciles, digits,
#                  lang pairs, k centroids, quantile grids)
GLOBAL_WINDOW_OK: dict[str, str] = {
    # --- functions/ranks bucket-prefix (≤target_partitions-row totals)
    "stats_roc_auc": "bucket prefix",
    "stats_cliffs_delta": "bucket prefix",
    "stats_spearman_corr": "bucket prefix ×2",
    "stats_gini_concentration": "bucket prefix",
    "stats_lorenz_deciles": "bucket prefix + 10-row decile walk",
    "events_rfm_segments": "bucket prefix ×3",
    "text_heaps_law": "bucket prefix + 10-row curve walk",
    "text_zipf_slope": "bucket prefix (full-vocab rank, ranks.py)",
    "surrogate_keys_dense": "bucket prefix (dense keys, ranks.py)",
    "dedup_jaccard_prefix_join": "bucket prefix (shingle rarity rank, ranks.py)",
    # --- value-grain cell tables / fixed grids (the KS/MWU shape) ----
    "stats_ks_two_sample": "cell table (distinct event values)",
    "stats_mannwhitney_u": "cell table (distinct event values)",
    "stats_psi_value_drift": "fixed 11-bin value grid",
    "stats_classifier_calibration": "fixed 10-bin reliability grid",
    "curation_epoch_schedule": "epoch-grain schedule",
    # --- time-grain relations (calendar-bounded) ---------------------
    "events_hourly_acf": "hour-grain series",
    "events_cusum_changepoint": "hour-grain series",
    "events_cumulative_users": "hour-grain first-seen walk",
    "events_gapfill_hourly": "hour-grain series",
    "events_gapfill_ffill": "hour-grain series",
    "events_kaplan_meier": "day-grain duration histogram",
    "revenue_mom_change": "month-grain series",
}


def _toplevel_groups(s: str) -> list[str]:
    """Split ``[a], [b], [c]`` into top-level bracket groups (brackets
    nest inside window-spec expressions)."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                groups.append(s[start : i + 1])
                start = None
    return groups


def global_windows(plan: str) -> list[str]:
    """Partition-less Window operators in a formatted plan — a Window
    whose Arguments carry only [exprs], [order] (or just [exprs]) has
    an empty partition spec: the whole child relation sorts through
    ONE task. Returns one truncated Arguments line per offender."""
    hits, cur_op = [], ""
    for line in plan.splitlines():
        m = re.match(r"\(\d+\)\s+(\w+)", line.strip())
        if m:
            cur_op = m.group(1)
            continue
        ls = line.strip()
        if cur_op == "Window" and ls.startswith("Arguments:"):
            groups = _toplevel_groups(ls[len("Arguments:") :])
            # shapes: [exprs],[part],[order] | [exprs],[part] |
            # [exprs],[order] | [exprs] — a 2-group spec is
            # partition-less only when its 2nd group is an ORDER spec
            is_global = len(groups) == 1 or (
                len(groups) == 2
                and (" ASC" in groups[1] or " DESC" in groups[1])
            )
            if is_global:
                hits.append(ls[:140])
    return hits


def plan_fingerprint(df) -> str:
    """12 hex digits of the optimized logical plan's SHA-1, with every
    expression id (``#123``) replaced by ``#`` and the process-wide
    counter PySpark appends to lambda variable names (``x_6``) dropped,
    so the hash does not depend on what the session built before."""
    text = re.sub(r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString())
    text = re.sub(r"(lambda [A-Za-z]+)_\d+#", r"\1#", text)
    return hashlib.sha1(text.encode()).hexdigest()[:12]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from emission_project_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("plancheck")
    spark.sparkContext.setLogLevel("ERROR")
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    failures: list[str] = []
    for name, fn in sorted(entrymod.queries().items()):
        if only and name not in only:
            continue
        group = f"plancheck-{name}"
        sc.setJobGroup(group, name)
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(explain_mode)
            fingerprint = plan_fingerprint(df)
        except Exception as exc:  # compile error is itself a finding
            failures.append(f"{name}: failed to plan: {exc}")
            print(f"✗ {name}: PLAN ERROR {exc}")
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        build_jobs = len(tracker.getJobIdsForGroup(group))

        shuffles = len(re.findall(r"\bExchange\b", plan))
        joins: dict[str, int] = {}
        for kind in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        ):
            n = len(re.findall(rf"\b{kind}\b", plan))
            if n:
                joins[kind] = n

        flags = []
        if ("CartesianProduct" in joins or "BroadcastNestedLoopJoin" in joins) and (
            name not in SCALAR_CROSS_OK
        ):
            flags.append("CARTESIAN")
            failures.append(f"{name}: unexpected cartesian/nested-loop join")
        if shuffles > 6:
            flags.append(f"MANY_SHUFFLES({shuffles})")
        gw = global_windows(plan)
        if gw and name not in GLOBAL_WINDOW_OK:
            flags.append(f"GLOBAL_WINDOW({len(gw)})")
            failures.append(
                f"{name}: partition-less Window not in GLOBAL_WINDOW_OK: "
                + gw[0]
            )

        join_str = ",".join(f"{k}×{v}" for k, v in joins.items()) or "-"
        flag_str = " ".join(flags)
        mark = "✗" if "CARTESIAN" in flags else "✓"
        print(
            f"{mark} {name}: build_jobs={build_jobs} plan={fingerprint} "
            f"shuffles={shuffles} joins={join_str} {flag_str}"
        )

    spark.stop()
    if failures:
        print(f"\n{len(failures)} FLAGGED")
        for f in failures:
            print(f"  - {f}")
        sys.exit(1)
    print("\nPLANS CLEAN")


if __name__ == "__main__":
    main()
