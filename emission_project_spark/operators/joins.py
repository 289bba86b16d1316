"""Join operators (SURVEY.md §2.3, J1-J12).

The reference expresses every join as a pandas ``merge``: multi-column
equi-joins where **null keys match each other** (NaN == NaN in pandas
merge; verified in SURVEY.md §4.4 on the real data), and anti-joins via
the ``indicator=True`` + ``_merge == 'left_only'`` idiom
(reference ``dags/emission-dag.py:83-84,105-109,131-132,153-154,205-208``).

Spark-first mapping: one null-safe equi-join condition built from
``<=>`` (``eqNullSafe``) predicates. Catalyst still recognizes
``<=>`` conjunctions as hash-joinable equi-conditions, so these compile
to broadcast-hash or shuffled-hash joins, not nested loops — at 100 TB
the dim side broadcasts and the fact side never shuffles.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _key_condition(
    left: DataFrame,
    right: DataFrame,
    on: Iterable[str] | Mapping[str, str],
) -> Column:
    """Build the conjunctive null-safe equi-join condition.

    ``on`` is either a list of shared column names or a mapping
    ``{left_col: right_col}`` for disparate key names (the reference's
    ``left_on=/right_on=`` pattern, e.g. start_city→city_name at
    ``emission-dag.py:177-184``).
    """
    pairs = list(on.items()) if isinstance(on, Mapping) else [(c, c) for c in on]
    cond = None
    for lc, rc in pairs:
        piece = left[lc].eqNullSafe(right[rc])
        cond = piece if cond is None else (cond & piece)
    if cond is None:
        raise ValueError("join requires at least one key column")
    return cond


def join_nullsafe(
    left: DataFrame,
    right: DataFrame,
    on: Iterable[str] | Mapping[str, str],
    how: str = "left",
    broadcast_right: bool = False,
) -> DataFrame:
    """Null-safe multi-key equi-join; drops the right-side key columns.

    Reproduces pandas merge semantics (null keys match). With shared key
    names the result keeps a single (left) copy of each key, matching
    ``pd.merge(on=[...])``; with a mapping, right-side key columns are
    dropped after the join (the reference drops them manually, e.g.
    ``emission-dag.py:180,184``).
    """
    pairs = list(on.items()) if isinstance(on, Mapping) else [(c, c) for c in on]
    rhs = F.broadcast(right) if broadcast_right else right
    cond = _key_condition(left, rhs, on)
    out = left.join(rhs, cond, how)
    for _, rc in pairs:
        out = out.drop(rhs[rc])
    return out


def anti_join(
    left: DataFrame,
    right: DataFrame,
    on: Iterable[str] | Mapping[str, str],
) -> DataFrame:
    """Rows of ``left`` with no null-safe key match in ``right``.

    The reference's incremental-insert primitive (left merge +
    indicator, keep ``left_only``: ``emission-dag.py:83-84`` and four
    analogous sites). Spark's ``left_anti`` with ``<=>`` keys is the
    direct, shuffle-minimal equivalent — no indicator columns, no
    ``_x/_y`` suffix wrangling.
    """
    return left.join(right, _key_condition(left, right, on), "left_anti")


def semi_join(
    left: DataFrame,
    right: DataFrame,
    on: Iterable[str] | Mapping[str, str],
) -> DataFrame:
    """Rows of ``left`` with at least one null-safe key match in ``right``."""
    return left.join(right, _key_condition(left, right, on), "left_semi")


def join_dim_role(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    take: Mapping[str, str],
) -> DataFrame:
    """Role-playing dimension join (reference J9/J10: the same city/
    country dim joined twice as start_* and target_*,
    ``emission-dag.py:177-195``).

    Attaches ``take`` = {dim_col: new_name} from ``dim`` matching
    ``fact.fact_key == dim.dim_key``; the dim is aliased so repeated
    joins against the same dim never collide, and broadcast (dims are
    small relative to the fact — SURVEY.md §2.3 note).
    """
    d = F.broadcast(dim.alias("_role_dim"))
    out = fact.join(d, fact[fact_key] == F.col(f"_role_dim.{dim_key}"), "left")
    out = out.select(
        *[fact[c] for c in fact.columns],
        *[F.col(f"_role_dim.{src}").alias(dst) for src, dst in take.items()],
    )
    return out
