"""Incremental-load primitives (SURVEY.md §2.1 S5/S7/S9, §4.3.2-3).

The reference's load pattern per table (``dags/emission-dag.py:69-212``):

    COUNT probe → if empty: bulk append; else: anti-join new batch
    against current DB state, append only unseen rows.

and an unused Redshift-style keyed upsert template
(``upsert_query.text:1-9``: LOCK; DELETE USING; INSERT). Spark-first
equivalents, parquet-warehouse based.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from emission_project_spark.operators.joins import anti_join


def incremental_insert(
    existing: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Rows of ``batch`` not already present in ``existing`` by key
    (null-safe). The count-guard branch of the reference collapses: an
    anti-join against an empty table is the identity, so one expression
    serves both cold-start and incremental paths (AQE prunes the empty
    side at runtime)."""
    return anti_join(batch, existing, keys)


def upsert(
    existing: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Keyed upsert (reference S9, ``upsert_query.text:5-9``): rows of
    ``existing`` whose key is absent from ``batch``, plus all of
    ``batch`` — i.e. DELETE USING + INSERT, expressed as
    anti-join ∪ batch. Caller persists atomically (see
    ``sources.warehouse.overwrite_atomic``). On a table format with
    transactions this is ``MERGE INTO``; pure-parquet needs the swap."""
    keep = anti_join(existing, batch, keys)
    return keep.unionByName(batch)


def merge_agg_state(
    state: DataFrame,
    batch_state: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    mins: Sequence[str] = (),
    maxs: Sequence[str] = (),
) -> DataFrame:
    """Incremental view maintenance for mergeable aggregates: fold a
    new batch's partial-aggregate table into the stored one.

    ``state`` and ``batch_state`` share the schema ``keys + sums +
    mins + maxs``, where each measure was produced by the matching
    aggregate (sum/count under ``sums``, min under ``mins``, max under
    ``maxs``) over disjoint row sets. The merge — union, regroup,
    re-aggregate with the measure's own combiner — yields exactly the
    aggregate over the union of inputs, because these aggregates are
    commutative monoids (avg/stddev decompose into sums; exact
    distinct/median do NOT belong here — that's what sketches are for).

    The 100 TB point: the nightly roll-up never rescans history. The
    stored state is group-grain (small), the batch is aggregated
    map-side before it ever shuffles, and the merge is one hash
    aggregate over |groups| + |batch groups| rows. Replay safety is the
    caller's idempotence contract (dedup the batch first — see
    ``incremental_insert``), same as the reference's anti-join load.
    """
    from pyspark.sql import functions as F

    aggs = (
        [F.sum(c).alias(c) for c in sums]
        + [F.min(c).alias(c) for c in mins]
        + [F.max(c).alias(c) for c in maxs]
    )
    if not aggs:
        raise ValueError("merge_agg_state: no measures given")
    return state.unionByName(batch_state).groupBy(*keys).agg(*aggs)


def apply_cdc(
    existing: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
) -> DataFrame:
    """Apply a change-data-capture batch (the Debezium/binlog feed
    shape): ``changes`` carries the key columns, the data columns, an
    ``op`` ∈ {'u' (upsert), 'd' (delete)}, and a ``seq_col`` total
    order (log offset / LSN). Per key, the LATEST change wins; a final
    'u' replaces the row, a final 'd' removes it; untouched keys pass
    through.

    One window pass picks each key's last change (ordered by seq desc —
    callers guarantee seq is unique per key, as log offsets are), one
    anti-join clears all touched keys from the current state, one union
    re-inserts the surviving upserts. Shuffles on the key throughout;
    replaying the same batch is a no-op (same last ops ⇒ same result),
    the at-least-once delivery contract. This is the general form of
    ``upsert`` (a CDC batch with only 'u' ops) and of a keyed delete
    (only 'd' ops).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    touched = latest.select(*keys)
    kept = anti_join(existing, touched, keys)
    upserts = latest.filter(F.col("op") == "u").drop("op", seq_col)
    return kept.unionByName(upserts)
