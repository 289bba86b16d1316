"""Streaming distribution-drift monitor: PSI per event-time window
against a frozen reference distribution.

The production shape of drift detection (plans/drift_stats.py has the
batch two-sample forms): the reference bin distribution is FROZEN when
the monitor is installed — computed once from a trusted corpus and
shipped as ten constants — and each event-time window of the live
stream is scored against it. That makes the streaming plan a single
watermarked windowed aggregation (bounded state: one row of 10
counters per open window) followed by stateless arithmetic; no second
stateful operator, no stream-side global pass, nothing that grows with
history.

Works unchanged over a static DataFrame (the oracle-checked batch twin
``stream_psi_drift_batch``) and a streaming one — the groupBy(window)
aggregate is legal in both — so correctness is pinned by SQL parity
on the batch side and by planted-drift tests on the stream side.

Reference behavior: the reference engine has no streaming surface at
all (its "Near Real-Time" is a daily batch DAG, emission-dag.py:26);
this is part of the streaming extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BINS = 10
BIN_WIDTH = 50.0  # events.value sits in [0, ~500): ten 50-wide bins
PSI_ACTION = 0.2  # classic rule: PSI > 0.2 = significant shift, act
LATENESS = "30 minutes"  # watermark delay on a streaming frame


def value_bin(value_col: str | Column) -> Column:
    """Frozen bin assignment: floor(value / 50) clamped to the last
    bin — pure codegen arithmetic, identical to the batch monitor's
    (plans/drift_stats.py) so reference and live scores line up."""
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    return F.least(
        F.floor(c / BIN_WIDTH).cast("bigint"), F.lit(N_BINS - 1).cast("bigint")
    )


def reference_proportions(events: DataFrame) -> list[float]:
    """Freeze a smoothed reference distribution of ``value`` from a
    trusted static corpus: (count_i + 0.5) / (N + 0.5·N_BINS) per bin
    (Laplace — a bin empty in the reference still gets finite mass, so
    a live window landing there scores a large-but-finite surprise).

    One scan, one hash aggregate to ≤ N_BINS rows, one bounded
    collect — this runs ONCE at install time, never per window.
    """
    rows = (
        events.groupBy(value_bin("value").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = {int(r["bin"]): int(r["n"]) for r in rows}
    total = sum(counts.values())
    denom = total + 0.5 * N_BINS
    return [(counts.get(i, 0) + 0.5) / denom for i in range(N_BINS)]


def windowed_psi(events: DataFrame, reference: list[float], window: str = "1 hour") -> DataFrame:
    """Score each tumbling ``ts`` window of ``value`` against the frozen
    ``reference`` proportions: PSI = Σ_bins (p_i − r_i)·ln(p_i / r_i),
    window-side p Laplace-smoothed like the reference; a window acts
    above ``PSI_ACTION``.

    The N_BINS per-bin counters are conditional sums inside ONE
    windowed aggregation — streaming-legal (a chained second
    aggregation over a (window, bin) table would not be), mergeable
    map-side, and O(N_BINS) state per open window. Everything after
    the aggregate is stateless row arithmetic on ten columns. On a
    streaming frame a ``LATENESS`` watermark bounds open-window state.
    """
    if len(reference) != N_BINS:
        raise ValueError(f"reference must have {N_BINS} proportions")
    src = events.withWatermark("ts", LATENESS) if events.isStreaming else events
    agg = src.withColumn("_bin", value_bin("value")).groupBy(
        F.window("ts", window).alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.sum(F.when(F.col("_bin") == i, 1).otherwise(0)).alias(f"_c{i}")
            for i in range(N_BINS)
        ],
    )
    denom = F.col("n_events") + 0.5 * N_BINS
    psi = None
    for i in range(N_BINS):
        p = (F.col(f"_c{i}") + 0.5) / denom
        r = F.lit(float(reference[i]))
        term = (p - r) * F.log(p / r)
        psi = term if psi is None else psi + term
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_events",
        F.round(psi, 6).alias("psi"),
        (psi > PSI_ACTION).alias("drift_action"),
    )
