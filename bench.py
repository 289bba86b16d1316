"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Runs each headline query to completion with the ``noop`` sink (forces
full distributed execution, no driver collect) and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed ``BENCH_RUNS`` times (default 3) and the MEDIAN is
reported: single-shot numbers on a busy local JVM wobble ±15% round
over round with no code change (observed r1→r2), which drowns the
signal a per-query regression check needs. ``value`` is the sum of
medians; ``runs`` records the repeat count.

Which queries each section times (the headline, the ``rN_extras``
blocks, the sf1 decade and the opt-in sf10 decade) is read from one
table, ``MANIFEST``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


class Row(NamedTuple):
    """One timed query. ``block`` is the sf0.1 record block that times
    it ("queries" is the headline, "rN_extras" an extras block, None
    not timed at sf0.1); ``sf1`` re-runs it in the sf1 decade; a
    ``band`` (lo, hi) seconds puts it in the opt-in sf10 decade with
    that expected single-run envelope."""

    block: str | None
    sf1: bool = False
    band: tuple[float, float] | None = None


# The whole timing plan, one row per query. Row order is run order in
# every section; the headline rows keep their order because records are
# diffed by query name and the first 18 stay comparable with every
# earlier record. Entries may be added, never renamed or removed.
#
# sf1 re-runs the heaviest operators at 10x rows (near-linear = the
# caps and blocking hold an order of magnitude up). dedup_levenshtein_block
# stays out: the scale corpus's per-shard token renaming keeps most
# characters, so its cross-shard copies are true char-level near-dups
# forming k-copy cliques, and the decade would time the clique
# structure, not the operator.
#
# sf10 bands pad the envelope measured on the current plan code (the
# trailing comments, seconds at local[32]) by about 10-15 %; a record
# self-reports `band_breaches`. BREACH RULE (pre-committed so band
# maintenance cannot ratchet): a band may be WIDENED only after both
# are on record for the breaching query:
#   1. an eventlog-diff A/B (`tools/eventlog_run.py` per arm, or
#      `tools/benchdiff.py --ab-run`, >=3 samples/side) showing
#      structurally identical plans -- same stage/task/shuffle/spill
#      shape -- so the delta is per-task speed, not the plan;
#   2. the same record's mem_fault_gbps and per-section steal readings,
#      with the slow arm's system-time share noted (the host's
#      fault-service mode reads as sys-time, SCALING.md).
# If the plans differ, or the sys-time share is low in a quiet window,
# the breach is a real regression and is bisected; the band does not
# move. A code change that replaces a plan rebases its band.
MANIFEST: dict[str, Row] = {
    "rollup_pricing_summary": Row("queries"),
    "derived_measure": Row("queries"),
    "role_playing_nation_join": Row("queries", sf1=True),
    "group_rollup_brand": Row("queries"),
    "dedup_subset_deterministic": Row("queries"),
    "window_running_total": Row("queries"),
    "events_tumbling_hourly": Row("queries"),
    "incremental_insert_orders": Row("queries"),
    "dedup_exact_documents": Row("queries"),
    "dedup_minhash_lsh": Row("queries", sf1=True, band=(22.0, 40.0)),  # 24.5-36.2 s measured
    "similarity_bruteforce_topk": Row("queries"),
    "text_quality_score": Row("queries"),
    "dedup_cluster_components": Row("queries", sf1=True, band=(40.0, 75.0)),  # 45.1-70.3
    "curation_stratified_sample": Row("queries"),
    "curation_tfidf_top_terms": Row("queries"),
    "embedding_kmeans_lloyd": Row("queries", sf1=True),
    "events_sliding_30m15m": Row("queries"),
    "sql_gateway_rollup": Row("queries"),
    "dedup_semantic_pairs": Row("queries", sf1=True, band=(55.0, 110.0)),  # chunked-GEMM kernel 77.1-78.0
    "similarity_ivf_kmeans_topk": Row("queries", sf1=True, band=(28.0, 45.0)),  # 32.2-38.9
    "dedup_incremental_exact": Row("queries"),
    "text_repetition_metrics": Row("queries"),
    "curation_token_budget": Row("queries"),
    "fk_orphan_check": Row("queries"),
    "curation_chunk_overlap": Row("r5_extras"),
    "dedup_levenshtein_block": Row("r5_extras"),
    "text_unigram_logprob": Row("r5_extras", sf1=True),
    "text_bm25_search": Row("r5_extras"),
    "scd2_point_in_time": Row("r5_extras"),
    "cdc_apply_customers": Row("r5_extras"),
    "dedup_chunk_level_profile": Row("r5_extras"),
    "similarity_hard_negatives": Row("r5_extras"),
    "join_q21_lone_late_supplier": Row("r5_extras"),
    "join_q9_product_profit": Row("r5_extras"),
    "embedding_quantize_error": Row("r5_extras"),
    "events_anomaly_mad": Row("r5_extras"),
    "profile_orders_columns": Row("r5_extras"),
    "basket_part_pairs_lift": Row("r5_extras"),
    "text_zipf_slope": Row("r5_extras"),
    "similarity_knn_classify": Row("r5_extras"),
    "graph_pagerank_parts": Row("r5_extras", sf1=True, band=(85.0, 125.0)),  # 95.9-108.8
    "text_bigram_perplexity": Row("r5_extras", sf1=True, band=(19.0, 42.0)),  # 23.1-31.6 after spread_input
    "curation_dsir_weights": Row("r5_extras"),
    "join_q8_market_share": Row("r5_extras"),
    "text_ngram_novelty": Row("r5_extras"),
    "similarity_ivfpq_topk": Row("r6_extras"),
    "similarity_ivfpq_rerank_topk": Row("r6_extras"),
    "embedding_covariance_block": Row("r6_extras"),
    "dedup_substring_spans": Row("r6_extras"),
    "text_quality_linear_classifier": Row("r6_extras"),
    "stats_winsorized_doc_lengths": Row("r6_extras"),
    "embedding_norm_outliers": Row("r6_extras"),
    "dedup_canonical_survivors": Row("r6_extras"),
    "dedup_shingle_containment": Row("r6_extras", sf1=True, band=(32.0, 50.0)),  # 37.3-44.7
    "privacy_k_anonymity_customers": Row("r6_extras"),
    "stats_chi2_segment_priority": Row("r6_extras"),
    "curation_epoch_schedule": Row("r6_extras"),
    "layout_zorder_skipping": Row("r6_extras"),
    "privacy_l_diversity_customers": Row("r6_extras"),
    "stats_ks_two_sample": Row("r6_extras"),
    "stats_mannwhitney_u": Row("r6_extras"),
    "stats_psi_value_drift": Row("r6_extras"),
    "similarity_centroid_confusion": Row("r6_extras"),
    "stream_psi_drift_batch": Row("r6_extras"),
    "sketch_f2_selfjoin_events": Row("r6_extras"),
    "text_langid_confusion": Row("r6_extras"),
    "curation_dsir_ess": Row("r6_extras"),
    "dedup_lsh_quality": Row("r6_extras", sf1=True, band=(75.0, 105.0)),  # 86.8-91.0
    "curation_domain_cap": Row("r6_extras"),
    "events_hourly_acf": Row("r6_extras"),
    "events_cusum_changepoint": Row("r6_extras"),
    "stats_classifier_calibration": Row("r6_extras"),
    "graph_triangle_stats": Row("r7_extras", sf1=True, band=(155.0, 285.0)),  # interleaved A/B 158-274
    "graph_adamic_adar_top": Row("r7_extras"),
    "graph_kcore_peel": Row("r7_extras"),
    "dedup_jaccard_prefix_join": Row("r7_extras", sf1=True, band=(45.0, 85.0)),  # 53.1-66.5
    "text_pmi_collocations": Row("r7_extras"),
    "text_vocab_oov_rate": Row("r7_extras"),
    "events_attribution_last_touch": Row("r7_extras"),
    "stats_benford_first_digit": Row("r7_extras"),
    "similarity_range_search": Row("r7_extras"),
    "stats_gini_concentration": Row("r7_extras"),
    "stats_mutual_info_priority_segment": Row("r7_extras"),
    "events_rfm_segments": Row("r7_extras"),
    "events_kaplan_meier": Row("r7_extras"),
    "stats_poisson_bootstrap_ci": Row("r7_extras", sf1=True, band=(11.0, 18.0)),  # 12.8-15.6
    "events_path_topk": Row("r7_extras"),
    "similarity_mmr_rerank": Row("r7_extras"),
    "stats_cramers_v_priority_segment": Row("r7_extras"),
    "text_rake_keywords": Row("r7_extras"),
    "text_hash_feature_buckets": Row("r7_extras"),
    "similarity_recall_at_k": Row("r8_extras"),
    "similarity_ndcg_at_k": Row("r8_extras"),
    "embedding_pca_project": Row("r8_extras"),
    "stats_roc_auc": Row("r8_extras"),
    "stats_spearman_corr": Row("r8_extras", sf1=True, band=(14.0, 22.0)),  # 16.5-19.2
    "stats_cohens_kappa": Row("r8_extras"),
    "stats_jensen_shannon": Row("r8_extras"),
    "stats_lorenz_deciles": Row("r8_extras"),
    "stats_theil_index": Row("r8_extras"),
    "events_interarrival_burstiness": Row("r8_extras"),
    "text_heaps_law": Row("r8_extras", sf1=True),
    "multimodal_phash_pairs": Row("r8_extras", sf1=True, band=(22.0, 30.0)),  # 25.3-25.9
    "stream_attribution_batch": Row("r8_extras"),
    "stats_permutation_pvalue": Row("r8_extras", sf1=True),
    "events_mann_kendall_trend": Row("r8_extras"),
    "embedding_centroid_distances": Row("r8_extras"),
    "text_source_diversity": Row("r8_extras"),
    "text_kneser_ney_bigrams": Row("r8_extras"),
    "embedding_hubness_stats": Row("r8_extras"),
    "privacy_t_closeness_customers": Row("r8_extras"),
    "stats_brown_forsythe": Row("r8_extras"),
    "events_dau_mau_stickiness": Row("r8_extras"),
    "graph_neighbor_jaccard_top": Row("r8_extras"),
    "events_bot_score": Row("r8_extras"),
    "stats_cliffs_delta": Row("r8_extras"),
    "events_conversion_delay_percentiles": Row("r8_extras"),
    "embedding_hubness_ivf": Row("r9_extras", sf1=True, band=(10.0, 24.0)),  # 12.4-13.5
    "events_dau_mau_hll": Row("r9_extras"),
    "text_winnow_fingerprints": Row(None, sf1=True),
}


def _block(block: str | None) -> list[str]:
    return [name for name, row in MANIFEST.items() if row.block == block]


HEADLINE = _block("queries")
EXTRA_BLOCKS = {
    b: _block(b)
    for b in dict.fromkeys(row.block for row in MANIFEST.values())
    if b not in (None, "queries")
}
SF1 = [name for name, row in MANIFEST.items() if row.sf1]
SF10_BANDS = {name: row.band for name, row in MANIFEST.items() if row.band}


def _cal_loop_py() -> None:
    """Pure-Python single-thread probe: GIL-bound by construction, no
    BLAS, no hidden threading — one core, period. Forked twins of this
    loop are genuinely independent interpreters, so the mt/single ratio
    of the two probes below is a real core-availability index (1.0x
    idle; inflates only when cores are actually stolen)."""
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 1103515245 + i) % 2147483647


def cpu_calibration_py() -> float:
    """Median of 3 loops. Round 9 measured the single-shot version's
    idle-host spread at 0.33-0.50 s (CPU frequency scaling: a solo
    GIL-bound loop sometimes gets turbo, sometimes not), which made the
    contention index mt/single read anywhere in 0.87-1.5 on a host with
    /proc/stat steal at 0.02% — denominator noise, not theft. The mt
    probe already medians across its workers; median the single
    probe too so the index compares like with like."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        _cal_loop_py()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 4)


def mem_fault_calibration() -> float:
    """First-touch bandwidth probe (GB/s): allocate 256 MB of fresh
    anonymous memory and time the first write. Round 12 traced the
    dedup_semantic_pairs sf10 bimodality (and part of the spill-heavy
    triangle wobble) to HOST page-fault service on this microVM:
    first-touch measured 0.01-0.78 GB/s across windows while resident
    rewrite held a steady 1.5-1.7 GB/s — a mode invisible to steal%,
    the CPU probes, and every other counter in the record. A record
    taken at a degraded value explains elevated numbers for any
    alloc-hungry query (python kernels, big shuffle/spill buffers)
    without re-litigating the plan. Median of 3 so a single compaction
    stall doesn't masquerade as the mode."""
    import numpy as np

    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        a = np.empty(32 * 1024 * 1024)  # 256 MiB of float64
        a[:] = 1.0
        # divide by the ACTUAL byte size in decimal GB (268.4 MB), not a
        # hardcoded 0.256 — that read ~5% low (r12 advice)
        samples.append(a.nbytes / 1e9 / (time.perf_counter() - t0))
        del a
    return round(statistics.median(samples), 3)


def read_proc_stat() -> tuple[int, int] | None:
    """(steal_jiffies, total_jiffies) from /proc/stat line 1, or None
    where unavailable. Steal deltas are the AUTHORITATIVE co-tenant
    signal on this shared VM: the hypervisor counts exactly the cycles
    a runnable vCPU didn't get, immune to the frequency-scaling noise
    that wobbles loop-timing probes and invisible to loadavg (which
    only counts OUR runnable tasks)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        return vals[7], sum(vals)
    except (OSError, IndexError, ValueError):
        return None


def steal_pct_since(snap: tuple[int, int] | None) -> float | None:
    """Percent of ALL cpu jiffies stolen since ``snap`` (whole-host:
    32 cores fully busy with zero theft reads 0.0)."""
    now = read_proc_stat()
    if snap is None or now is None or now[1] <= snap[1]:
        return None
    return round(100.0 * (now[0] - snap[0]) / (now[1] - snap[1]), 3)


def _cal_worker_py(q) -> None:
    t0 = time.perf_counter()
    _cal_loop_py()
    q.put(time.perf_counter() - t0)


def cpu_calibration_py_mt(n_workers: int = len(os.sched_getaffinity(0))) -> float:
    """All-cores twin of cpu_calibration_py: n_workers forked processes
    (default one per core this process may run on, the rule
    session.DEFAULT_CPUS follows) run the same GIL-bound loop at once
    and each reports its OWN loop time; the median is returned (fork
    and start overhead excluded). On an idle host every worker gets a
    core and the median matches the single-loop number; under
    co-tenant core theft workers time-slice and the median inflates
    with the stolen share while the single probe stays normal.
    cpu_calibration_py_mt_s / cpu_calibration_py_s is the contention
    index benchdiff reads. More workers than cores would measure the
    oversubscription instead: 32 workers on 4 cores read 10.48."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_cal_worker_py, args=(q,)) for _ in range(n_workers)
    ]
    for p in procs:
        p.start()
    times = sorted(q.get() for _ in procs)
    for p in procs:
        p.join()
    return round(times[len(times) // 2], 4)


def _sf10_child(cfg: dict) -> None:
    """Run ONE sf10 query in this (fresh) process.

    Invoked by the parent bench via subprocess with BENCH_SF10_CHILD
    carrying {sf10_dir, query}. Isolation history: round 6 found that
    a same-JVM session restart is NOT enough (after ~80 timed queries
    the old context's localCheckpoint/cache blocks keep enough heap
    pinned that the 100x graph rank OOMs) and moved the whole block to
    one fresh child JVM; round 8 found the failure one level deeper —
    the SIX-query child itself accumulates enough lazy-checkpoint
    state that query #6 (the graph rank, green standalone at 289 s)
    OOMs after the five dedup/LM heavies. Production shape, same
    conclusion again: a 100 TB job per OPERATOR is a dedicated
    submission, so the child now runs exactly one query. Prints one
    JSON line {name, seconds} on success."""
    from emission_project_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(
        "bench-sf10", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    name = cfg["query"]
    t0 = time.perf_counter()
    entrymod.queries()[name](spark, cfg["sf10_dir"]).write.format("noop").mode(
        "overwrite"
    ).save()
    elapsed = round(time.perf_counter() - t0, 3)
    spark.stop()
    print(json.dumps({"name": name, "seconds": elapsed}))


def main() -> None:
    child_cfg = os.environ.get("BENCH_SF10_CHILD")
    if child_cfg:
        _sf10_child(json.loads(child_cfg))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    from emission_project_spark.session import get_spark
    import __spark_entry__ as entrymod

    # No stage-progress spew: the round driver keeps only the stdout
    # tail, and round 5's progress lines pushed the headline JSON out
    # of the captured window (BENCH_r05.json is truncated for exactly
    # this reason). Must be set before SparkContext creation.
    stat_snap = read_proc_stat()
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warm the JVM/codegen path once so per-query numbers measure the
    # engine, not first-call classloading
    qs["rollup_pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    runs = int(os.environ.get("BENCH_RUNS", "3"))

    def timed(name: str, d: str, n_runs: int) -> float:
        """Median of n_runs (min when n_runs < 3): single-shot numbers
        wobble ±15% on a busy local JVM, so scaling ratios built from
        them would inherit that noise. Each sample starts from a clear
        cache: queries that persist() (pagerank since r9) would
        otherwise serve runs 2+ from the previous run's cache via
        same-plan reuse — a number no fresh execution ever sees."""
        samples = []
        for _ in range(n_runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            qs[name](spark, d).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        return round(min(samples) if n_runs < 3 else statistics.median(samples), 3)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        timings[name] = timed(name, sf_dir, runs)

    # Per-SECTION steal snapshots (round 11): the whole-run integral
    # can hide a stolen section — BENCH_LOCAL_r11.json read 4.97%
    # overall with a near-quiet sf1 block masking a ruined sf10
    # section, and r11c the mirror image (stolen headline, quiet sf1).
    # A section whose steal is high invalidates ITS numbers only.
    # The headline section spans from the run-start snapshot (JVM
    # init + warmup + the headline loop above).
    _sect_snap = [stat_snap]
    section_steal: dict[str, float] = {}

    def mark_section(name: str) -> None:
        s = steal_pct_since(_sect_snap[0])
        if s is not None:
            section_steal[name] = s
        _sect_snap[0] = read_proc_stat()

    mark_section("headline")
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_query_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpu_calibration_py_s": cpu_calibration_py(),
        "cpu_calibration_py_mt_s": cpu_calibration_py_mt(),
        "mem_fault_gbps": mem_fault_calibration(),
        "runs": runs,
    }

    for block, names in EXTRA_BLOCKS.items():
        extras = {name: timed(name, sf_dir, runs) for name in names if name in qs}
        if extras:
            out[block] = {"queries": extras, "value": round(sum(extras.values()), 3)}
    mark_section("extras")

    # Scale proof: if the deterministic 10x dataset exists (generated by
    # tools/gen_scale.py — duplicate RATE held constant via per-shard
    # token renaming / orthogonal embedding transforms, so near-linear
    # wall-time here means the caps/blocking hold an order of magnitude
    # up), run the heaviest queries once each and record an sf1 block.
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".scale", "sf1"))
    if not os.path.isdir(sf1_dir):
        try:  # deterministic, ~1 min one-time; any failure just skips sf1
            import subprocess

            subprocess.run(
                [sys.executable,
                 os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "tools", "gen_scale.py"),
                 "--dst", sf1_dir],
                check=True, capture_output=True, timeout=600,
            )
        except Exception:
            pass
    base = dict(timings)
    if os.path.isdir(sf1_dir):
        # sf0.1 baselines for heavy queries outside HEADLINE, measured
        # with the same repeat/stat discipline as the sf1 side — a
        # scaling ratio of two single-shot numbers would compound the
        # ±15% wobble on both ends
        sf1_runs = int(os.environ.get("BENCH_SF1_RUNS", "2"))
        for name in SF1:
            if name not in base:
                base[name] = timed(name, sf_dir, sf1_runs)
        sf1_timings = {name: timed(name, sf1_dir, sf1_runs) for name in SF1}
        out["sf1"] = {
            "queries": sf1_timings,
            "value": round(sum(sf1_timings.values()), 3),
            "rows_vs_sf0.1": 10,
            "runs": sf1_runs,
            "stat": "min" if sf1_runs < 3 else "median",
            # per-block yardstick: cross-round normalization needs the
            # machine-speed number at BOTH ends of a scaling ratio, not
            # just at headline time (noise is episodic on this host)
            "cpu_calibration_py_s": cpu_calibration_py(),
            "mem_fault_gbps": mem_fault_calibration(),
            "scaling_vs_sf0.1": {
                name: round(sf1_timings[name] / base[name], 2)
                for name in SF1
                if base.get(name, 0) > 0
            },
        }
        # mark only when the block actually RAN: an unconditional mark
        # would report an 'sf1' steal figure for a window in which no
        # sf1 work happened (ADVICE r11) — when skipped, the interval
        # folds into the next executed section's span
        mark_section("sf1")

    # Opt-in ETL decade block: BENCH_PIPELINE=1 cold-starts the §2
    # product path (EmissionPipeline.run — init→dims→fact on a FRESH
    # warehouse) at 1x/10x/100x the reference feed envelope, then the
    # three §2 rollup readouts, on deterministic feeds from
    # tools/gen_pipeline_feed.py (trap rates held constant across
    # scales so the decade measures the ETL, not a drifting profile).
    if os.environ.get("BENCH_PIPELINE"):
        import shutil
        import subprocess
        import tempfile

        from emission_project_spark.pipeline.emission import EmissionPipeline
        from emission_project_spark.sources.warehouse import Warehouse

        _here = os.path.dirname(os.path.abspath(__file__))
        pipe_out: dict[str, dict] = {}
        for scale in (1, 10, 100):
            feeds = os.path.join(_here, ".scale", f"feeds_x{scale}")
            if not os.path.isdir(feeds):
                subprocess.run(
                    [sys.executable,
                     os.path.join(_here, "tools", "gen_pipeline_feed.py"),
                     "--dst", feeds, "--scale", str(scale)],
                    check=True, capture_output=True, timeout=600,
                )
            wh_dir = tempfile.mkdtemp(prefix=f"bench-pipe-x{scale}-")
            try:
                pipe = EmissionPipeline(spark, Warehouse(spark, wh_dir))
                t0 = time.perf_counter()
                pstats = pipe.run(feeds)  # no archive_root: feeds stay cached
                run_s = round(time.perf_counter() - t0, 3)
                t1 = time.perf_counter()
                # single-scan readout (round 12): one persisted fact
                # projection feeds all three roll-ups — measured 6.2 ->
                # 2.9 s at x100 vs three separate fact scans
                with pipe.rollup_views() as views:
                    for roll in views.values():
                        roll.write.format("noop").mode("overwrite").save()
                roll_s = round(time.perf_counter() - t1, 3)
                pipe_out[f"x{scale}"] = {
                    "run_s": run_s,
                    "rollups_s": roll_s,
                    "stages_s": dict(pstats.stage_seconds),
                    "inserted": dict(pstats.inserted),
                }
            finally:
                shutil.rmtree(wh_dir, ignore_errors=True)
        out["pipeline"] = {
            "stages": "cold-start run (init+dims+fact) + brand/car/driver rollups",
            "feed_envelope_x1": "1000 drivers / 999 vehicles / 5000 logbook",
            "scales": pipe_out,
        }
        mark_section("pipeline")

    # Opt-in second decade: BENCH_SF10=1 regenerates the 100x dataset if
    # needed (deterministic, ~2 min) and records the steepest scalers so
    # the strongest scale evidence is timestamped per-round instead of
    # asserted from a manual run (SCALING.md).
    if os.environ.get("BENCH_SF10"):
        sf10_dir = os.environ.get("SPARK_GRAFT_SF10_DIR", os.path.join(
            os.path.dirname(os.path.abspath(__file__)), ".scale", "sf10"))
        if not os.path.isdir(sf10_dir):
            import subprocess

            subprocess.run(
                [sys.executable,
                 os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "tools", "gen_scale.py"),
                 "--dst", sf10_dir, "--shards", "100"],
                check=True, capture_output=True, timeout=1800,
            )
        # sf0.1 baselines for the scaling ratios come from THIS session
        # (pre-warmed caches, comparable conditions)…
        for name in SF10_BANDS:
            if name not in base:
                base[name] = timed(name, sf_dir, 2)
        # …but the decade itself runs ONE SUBPROCESS PER QUERY: round
        # 6 established that the long-lived bench JVM can't host the
        # 100x block (pinned checkpoint blocks OOM the graph rank);
        # round 8 found the six-query child accumulates the same state
        # internally — query #6 OOMed after five heavies while green
        # standalone. A 100 TB job per operator is a dedicated
        # submission (_sf10_child's docstring).
        import subprocess

        spark.stop()
        timings: dict[str, float] = {}
        errors: dict[str, str] = {}
        for name in SF10_BANDS:
            env = dict(os.environ)
            env["BENCH_SF10_CHILD"] = json.dumps(
                {"sf10_dir": sf10_dir, "query": name}
            )
            env.pop("BENCH_OUT", None)
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env, capture_output=True, text=True, timeout=1800,
            )
            got = None
            for line in reversed(r.stdout.splitlines()):
                line = line.strip()
                if line.startswith("{"):
                    got = json.loads(line)
                    break
            if got:
                timings[name] = got["seconds"]
            else:
                errors[name] = f"child rc={r.returncode}: {r.stderr[-300:]}"
        out["sf10"] = {
            "queries": timings,
            "value": round(sum(timings.values()), 3),
            "rows_vs_sf0.1": 100,
            "runs": 1,
            "stat": "single-run (±15% wobble)",
            "cpu_calibration_py_s": cpu_calibration_py(),
            "cpu_calibration_py_mt_s": cpu_calibration_py_mt(),
            "mem_fault_gbps": mem_fault_calibration(),
            "isolation": "fresh JVM per query (subprocess)",
            "scaling_vs_sf0.1": {
                name: round(timings[name] / base[name], 2)
                for name in timings
                if base.get(name, 0) > 0
            },
        }
        out["sf10"]["expected_bands"] = {
            k: list(v) for k, v in SF10_BANDS.items()
        }
        breaches = {
            k: timings[k]
            for k, (lo, hi) in SF10_BANDS.items()
            if k in timings and not (lo <= timings[k] <= hi)
        }
        if breaches:
            out["sf10"]["band_breaches"] = breaches
            out["sf10"]["band_breach_protocol"] = (
                "band moves only after an eventlog-diff A/B (>=3/side, "
                "plans structurally identical) AND mem_fault_gbps/steal/"
                "sys-time adjudication are recorded — see the breach "
                "rule above bench.py MANIFEST"
            )
        if errors:
            out["sf10"]["errors"] = errors
        mark_section("sf10")

    # Whole-run co-tenant audit: steal% integrated over the entire
    # bench (see read_proc_stat). ~0 = every recorded number was taken
    # on unstolen cores, whatever the loop-probe index wobbled to.
    steal = steal_pct_since(stat_snap)
    if steal is not None:
        out["cpu_steal_pct"] = steal
    if section_steal:
        out["cpu_steal_pct_sections"] = section_steal

    blob = json.dumps(out)
    print(blob)
    # Self-contained record: the driver artifact stores only a stdout
    # tail, so also write the full JSON to a file in the repo (the
    # round close-out commits it as BENCH_LOCAL_r{N}.json).
    out_path = os.environ.get(
        "BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
    )
    try:
        with open(out_path, "w") as fh:
            fh.write(blob + "\n")
    except OSError:
        pass  # stdout JSON remains the artifact of record
    spark.stop()


if __name__ == "__main__":
    main()
