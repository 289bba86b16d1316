"""Slowly-changing-dimension maintenance (SCD Type 2).

The reference's warehouse keeps dims current-state-only (its upsert,
``upsert_query.text:5-9``, overwrites matched keys — Type 1, history
lost). Type 2 is the standard extension a production warehouse needs:
every attribute change closes the old version (``valid_to`` stamped,
``is_current`` false) and opens a new one, so facts can join the
version that was current at event time.

Spark-first design: one pass, one shuffle. The change detection is a
null-safe comparison join between the incoming batch and the CURRENT
version rows only (history rows never rejoin anything), and the output
is a unionByName of four disjoint row sets — untouched history,
unchanged current, closed-out old versions, and newly-opened versions.
At 100 TB the join shuffles on the dimension key (or broadcasts when
the update batch is dim-sized, the common case); nothing is ever
collected, and re-running the same batch is a no-op (change detection
sees identical attributes), making the operator idempotent under
at-least-once delivery.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCD2_COLS = ("valid_from", "valid_to", "is_current")


def scd2_init(dim: DataFrame, valid_from: str) -> DataFrame:
    """Bootstrap a Type-2 dim from a current-state snapshot: every row
    becomes the open version (``valid_to`` NULL, ``is_current`` true)."""
    return dim.select(
        "*",
        F.lit(valid_from).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def _any_attr_differs(attrs: Sequence[str]) -> Column:
    cond = F.lit(False)
    for a in attrs:
        cond = cond | ~F.col(f"cur.{a}").eqNullSafe(F.col(f"upd.{a}"))
    return cond


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: Sequence[str],
    batch_ts: str,
) -> DataFrame:
    """Fold an update batch into a Type-2 dimension.

    ``dim`` carries ``key``, ``attrs`` and the SCD2 bookkeeping columns
    (see ``scd2_init``); ``updates`` carries ``key`` + ``attrs`` (the
    new current truth for those keys). Returns the full new dimension:

    - history rows (``is_current`` false): passed through untouched;
    - rows with a NULL ``is_current``: treated as history — passed
      through untouched and never matched against the batch (an update
      whose key has only such rows opens a version like a new key);
    - current rows whose key is absent from the batch, or present with
      identical attributes (null-safe): passed through untouched;
    - current rows whose attributes changed: emitted closed
      (``valid_to = batch_ts``, ``is_current`` false) AND re-emitted as
      the new open version with the batch's attributes;
    - brand-new keys: emitted as open versions.

    The update batch is deduplicated to one row per key before folding
    (last-write-wins needs an ordering column — callers with intra-batch
    ordering resolve it upstream); a batch row equal to the current
    version produces no new version, which is what makes replaying a
    batch a no-op.

    Execution shape: ONE full-outer join, dim read ONCE, and no
    ``localCheckpoint``. Splitting dim into per-row-class plan branches
    would need a checkpoint of the whole dim snapshot to share the
    read, which at 100 TB materializes the dimension's entire
    current+history state to executor-local storage and is not
    fault-tolerant (one lost executor kills the job instead of
    recomputing lineage). Every output row class falls out of a single
    pass:

    - ``dim FULL OUTER upd ON dim.key = upd.key AND dim.is_current``:
      history rows fail the ``is_current`` predicate and surface as
      left-only rows (pass-through); an update whose key has no CURRENT
      version — brand new, or history-only — surfaces as right-only
      (the fresh keys, with no anti-join);
    - a conditional 1-or-2-element struct array, exploded: matched?
      changed → [closed, reopened]; anything else left-present →
      [pass-through]; right-only → [open version].

    No checkpoint, no duplicated dim lineage (chained applies no longer
    compound), and fault tolerance is plain lineage recompute. Row-class
    equivalence with the four-branch union is argued per class above;
    the multiset result is identical (pinned by the scd2 suite + the
    scd2_point_in_time oracle at 3 SFs).
    """
    upd = (
        updates.select(key, *attrs)
        .dropDuplicates([key])
        .withColumn("__upd", F.lit(True))
        .alias("upd")
    )
    # presence markers, not key-null tests: a legitimately-NULL dim key
    # must not masquerade as "no dim side"
    cur = dim.withColumn("__cur", F.lit(True)).alias("cur")

    ts = F.lit(batch_ts).cast("timestamp")
    joined = cur.join(
        upd,
        (F.col(f"cur.{key}") == F.col(f"upd.{key}")) & F.col("cur.is_current"),
        "full_outer",
    )
    changed = (
        F.col("cur.__cur").isNotNull()
        & F.col("upd.__upd").isNotNull()
        & _any_attr_differs(attrs)
    )

    def _row(key_side: str, attr_side: str, vf: Column, vt: Column, isc: Column):
        return F.struct(
            F.col(f"{key_side}.{key}").alias(key),
            *[F.col(f"{attr_side}.{a}").alias(a) for a in attrs],
            vf.alias("valid_from"),
            vt.alias("valid_to"),
            isc.alias("is_current"),
        )

    null_ts = F.lit(None).cast("timestamp")
    passthrough = _row(
        "cur", "cur",
        F.col("cur.valid_from"), F.col("cur.valid_to"), F.col("cur.is_current"),
    )
    closed = _row("cur", "cur", F.col("cur.valid_from"), ts, F.lit(False))
    reopened = _row("cur", "upd", ts, null_ts, F.lit(True))
    fresh = _row("upd", "upd", ts, null_ts, F.lit(True))

    rows = (
        F.when(F.col("cur.__cur").isNull(), F.array(fresh))
        .when(changed, F.array(closed, reopened))
        .otherwise(F.array(passthrough))
    )
    out_cols = [key, *attrs, *SCD2_COLS]
    # explode_outer: the arrays are 1-2 elements by construction, and
    # the _outer form keeps InferFiltersFromGenerate from planting a
    # size()>0 filter that re-evaluates the array twice (the measured
    # trap in extensions/dedup.py::winnow_fingerprints)
    return (
        joined.select(F.explode_outer(rows).alias("__r"))
        .select(*[F.col(f"__r.{c}").alias(c) for c in out_cols])
    )


def scd2_as_of(dim: DataFrame, ts: str) -> DataFrame:
    """Point-in-time view: the version of each key current at ``ts``
    (``valid_from <= ts < valid_to``, open versions unbounded). A pure
    filter — no shuffle — which is the payoff of Type 2: time travel
    without snapshots."""
    t = F.lit(ts).cast("timestamp")
    return dim.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )
