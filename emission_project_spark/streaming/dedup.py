"""Dual-mode dedup and join operators: each runs on a streaming frame
and on a batch frame, and a registered query runs its batch form.

- ``dedup_batch_earliest``: the batch form of Spark's
  ``dropDuplicatesWithinWatermark`` (earliest row per key wins).
- ``minhash_keyed``: a near-duplicate bucket as a narrow per-row
  expression, so it may sit upstream of a stateful ``dropDuplicates``.
- ``interval_join_streams``: the watermarked stream-stream range join,
  with bounded state on both sides.

On a stream the state lives in the state store (RocksDB-backed on a
cluster), partitioned by key, never on the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_batch_earliest(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """The batch form of ``dropDuplicatesWithinWatermark``: over a
    bounded input whose re-deliveries all arrive inside the lateness
    horizon, the streaming dedup emits exactly the first-arriving row
    per key — which, projected onto batch, is "earliest ``ts_col`` wins,
    ties broken by ``tiebreak_col``" (streaming first-arrival order is
    event time here; the explicit tiebreak pins what arrival order
    leaves undefined, keeping the result oracle-stable).

    One window shuffle on the dedup keys — identical cost shape to the
    streaming state store keyed by the same columns.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).asc_nulls_last(), F.col(tiebreak_col).asc_nulls_last()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def minhash_keyed(stream: DataFrame) -> DataFrame:
    """Add a NEAR-dup bucket as a dedup key: the per-row band-0 minhash
    signature (extensions/dedup.py ``minhash_bucket``) — near-identical
    texts agree on the band min and collapse to one key, so
    ``minhash_keyed(s).dropDuplicates(["bucket"])`` (or
    ``dropDuplicatesWithinWatermark``) is a streaming near-duplicate
    filter.

    The signature is a pure narrow expression — no explode, no
    aggregation — which is what makes it legal upstream of the stateful
    dedup (a groupBy-built signature would be a second stateful op).
    State per bucket is one entry, evicted by watermark in the
    within-watermark regime: the 100 TB/day crawl-ingest shape. A
    single band is the high-precision regime (P[bucket match] = exact
    Jaccard); multi-band recall is the batch pipeline's job
    (minhash_lsh)."""
    from emission_project_spark.extensions.dedup import minhash_bucket

    return stream.withColumn("bucket", minhash_bucket())


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lateness: str = "10 minutes",
    window_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: pair left and right events
    sharing ``key`` where the right event lands within
    ``(left_ts, left_ts + window_seconds]`` — the streaming twin of the
    batch range join (operators/range_join.py) and funnel candidate
    generation.

    Both sides carry a watermark and the join condition bounds
    right_ts relative to left_ts, so Spark derives state-eviction
    watermarks for BOTH buffers: each side holds at most
    lateness + window of data per key — bounded state, the requirement
    for running against an unbounded 100 TB/day stream.

    ``how="left_outer"`` is the funnel-abandonment form: a left event
    with no right match inside its window emits once with NULL right
    columns — but only after the watermark passes ``left_ts + window +
    lateness``, because until then a matching right event could still
    arrive. That deferral is the semantic price of correctness on an
    unbounded stream (a batch LEFT JOIN knows the future; a stream must
    wait for the watermark to prove the negative), and it's why the
    null rows surface one micro-batch later than the matches
    (tests/test_streaming.py::test_stream_stream_left_outer_join).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how={how!r}: expected 'inner' or 'left_outer'")
    lw = left.withWatermark(left_ts, lateness)
    rw = right.withWatermark(right_ts, lateness)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] > lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"interval {window_seconds} seconds"))
    )
    return lw.join(rw, cond, how)
