"""Dual-mode windowed aggregates: one function serves a streaming frame
and a batch frame.

On a streaming frame each operator attaches a watermark and the engine
keeps per-key window state in the state store (RocksDB-backed on a
cluster, partitioned by the grouping key, never on the driver); a window
finalizes once the watermark passes its end, so state stays bounded. On
a batch frame the identical expression compiles to a plain aggregation,
which is what the registered queries run and the DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

LATENESS = "10 minutes"  # watermark delay on a streaming frame


def windowed_distinct_users(events: DataFrame) -> DataFrame:
    """Distinct users per (event_type, 1-hour tumbling ``ts`` window)
    via the HLL++ sketch (rsd 0.01) — the aggregate that makes
    distinct-count *streamable*.

    Exact ``count(DISTINCT)`` on a streaming frame is unsupported by
    design: incremental execution would have to hold every user id of
    every open window in the state store. The HLL++ sketch is the
    standard fix — per-(window, event_type) state is a fixed register
    array (~1.04/rsd² registers regardless of cardinality), mergeable
    across micro-batches and executors, so state stays bounded no
    matter how many distinct users flow by. The same property is why
    ``approx_count_distinct`` is the 100 TB batch answer when an exact
    distinct's extra shuffle isn't worth ±1%.

    One function, both engines: on a streaming frame a watermark bounds
    open-window state and windows finalize in append mode; on a batch
    frame the identical expression compiles to a plain windowed
    aggregation. The registered twin (plans/extensions.py
    ``stream_windowed_distinct_batch``) joins this output against the
    exact distinct and ASSERTS the estimate lands within 2% of it, so
    the sketch path carries an oracle-checked driver row.
    """
    from pyspark.sql import functions as F

    e = events.withWatermark("ts", LATENESS) if events.isStreaming else events
    return (
        e.groupBy(F.window(F.col("ts"), "1 hour").alias("w"), "event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "approx_users",
        )
    )


def session_window_totals(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-key activity sessions via Spark's native merging session
    windows (``F.session_window``): events whose gaps stay under
    ``gap`` merge into one session spanning ``[min ts, max ts + gap)``.

    One function, both engines: on a streaming frame a watermark is
    attached and the engine maintains per-key open sessions in the
    state store, merging across micro-batches and finalizing a session
    once the watermark passes its end — bounded state (open sessions
    only), the 100 TB/day pattern. On a batch frame the identical
    expression compiles to a plain aggregation, which the
    registered queries ``events_sessionize`` (plans/relational.py) and
    ``stream_sessionize_batch`` (plans/extensions.py) run, and their
    gaps-and-islands oracles check the semantics against.
    """
    from pyspark.sql import functions as F

    e = events.withWatermark(ts_col, LATENESS) if events.isStreaming else events
    return (
        e.groupBy(
            F.col(key), F.session_window(F.col(ts_col), gap).alias("session_window")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col(key),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
