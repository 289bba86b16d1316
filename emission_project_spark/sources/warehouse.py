"""Parquet warehouse: the engine's persistent star-schema store.

Replaces the reference's Postgres (SURVEY §2.1 S4/S7/S8): each table is
a parquet directory; appends are plain parquet appends; keyed upserts
go through an atomic directory swap (write new state to a temp dir,
rename into place) — the pure-Spark stand-in for the reference's
``LOCK; DELETE USING; INSERT`` transaction (``upsert_query.text:5-9``).
On a real deployment the same API maps onto a transactional table
format's MERGE; the swap keeps us dependency-free here.

Partitioning: ``append``, ``overwrite_atomic``, ``snapshot_write`` and
``compact`` accept ``partition_by`` (e.g. the fact partitioned by
date_id) so scans prune at 100 TB; all four co-locate each partition
value through ``_colocated``.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from emission_project_spark.catalog.tables import target_partitions


def _colocated(df: DataFrame, partition_by: list[str] | None) -> DataFrame:
    """Co-locate each partition value in one task before a
    dynamic-partition write: without it every write task holds a slice
    of EVERY partition value and emits one file per (task × value) —
    measured 7,968 files / 134 s for a 500k-row, 664-date fact batch vs
    664 files / 14 s repartitioned. The batch-sized shuffle is the
    standard price of a sane file count; a deployment whose
    per-partition volume outgrows one task adds a salt column to the
    repartition, not more write tasks.

    A dynamic-partition write costs per file, not per byte, so its
    width is the session width (``target_partitions``) and AQE may not
    coalesce it: a repartition with a fixed count is never coalesced,
    so every core writes its share of the values, while a byte-sized
    one shrinks a small batch to one task that writes every value's
    file in turn. The hash still sends each value to exactly one task,
    so each value still gets one file. Unpartitioned frames pass
    through."""
    if not partition_by:
        return df
    return df.repartition(
        target_partitions(df.sparkSession), *[F.col(c) for c in partition_by]
    )


def _write(df: DataFrame, path: str, mode: str, partition_by: list[str] | None) -> None:
    """Write ``df`` as laid out, partitioned by ``partition_by``."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        """Catalog existence probe (reference S6:
        information_schema.tables, create_tables.py:69-71)."""
        p = self.path(table)
        return os.path.isdir(p) and bool(os.listdir(p))

    def read(self, table: str, schema: StructType | None = None) -> DataFrame:
        """Table scan; absent table → empty schema-contract DataFrame
        (the reference's empty-DF fallback, emission-dag.py:45).

        With a schema contract the scan reads BY the contract: no
        schema-inference job, column types come from the contract (a
        partition column too), and a contract column missing from the
        files reads as NULL, as in ``read_merged_schema``. The select
        restores contract order, since partition columns read back
        last."""
        if self.exists(table):
            if schema is None:
                return self.spark.read.parquet(self.path(table))
            return self.spark.read.schema(schema).parquet(self.path(table)).select(*schema.names)
        if schema is None:
            raise FileNotFoundError(f"table {table} absent and no schema contract given")
        return self.spark.createDataFrame([], schema)

    def _has_flat_files(self, table: str) -> bool:
        """True when the table root holds bare part-*.parquet files (a
        pre-partitioning layout) rather than key=value partition dirs."""
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        return any(
            name.endswith(".parquet") and os.path.isfile(os.path.join(p, name))
            for name in os.listdir(p)
        )

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        if partition_by and self._has_flat_files(table):
            # Migration: a warehouse created before this table was
            # partitioned holds flat part files in the root; appending
            # partition dirs beside them would leave a mixed layout that
            # breaks partition discovery on the next read. Rewrite the
            # legacy state once through the atomic swap, then append.
            legacy = self.spark.read.parquet(self.path(table))
            self.overwrite_atomic(legacy, table, partition_by=partition_by)
        _write(_colocated(df, partition_by), self.path(table), "append", partition_by)

    def compact(
        self,
        table: str,
        target_file_mb: float = 128,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
    ) -> int:
        """Rewrite a table's many small files into ~``target_file_mb``
        files — the small-files maintenance every append-heavy parquet
        warehouse needs (each incremental append adds a file per
        partition; scans degrade as the file count grows).

        ``sort_by`` makes the rewrite a RANGE-CLUSTERED one
        (``repartitionByRange`` + ``sortWithinPartitions``): files then
        carry disjoint min/max stats on the sort key, so a selective
        predicate on it skips whole files and tight row groups — the
        parquet stand-in for OPTIMIZE ... ZORDER on one key. With
        ``partition_by`` the sort clusters within each partition value
        instead (partition pruning already handles the first key).

        Without ``partition_by`` the file count is sized from the
        table's on-disk bytes; with it, each partition value is
        rewritten as one file by ``_colocated``. The rewrite goes
        through the atomic swap (readers never see a half-compacted
        table), and partitioning is preserved when ``partition_by`` is
        given. Returns the file count after."""
        path = self.path(table)
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        n_files = max(1, round(total / (target_file_mb * 1024 * 1024)))
        df = self.read(table)
        if partition_by:
            df = _colocated(df, partition_by)
            if sort_by:
                df = df.sortWithinPartitions(*(partition_by + sort_by))
        elif sort_by:
            df = df.repartitionByRange(
                n_files, *[F.col(c) for c in sort_by]
            ).sortWithinPartitions(*sort_by)
        else:
            df = df.repartition(n_files)
        # the layout above is final: a second co-location shuffle would
        # scatter the sort (and, unpartitioned, drop the byte-sized
        # task count)
        self._swap_in(df, table, partition_by)
        count = 0
        for _root, _dirs, files in os.walk(path):
            count += sum(1 for f in files if f.endswith(".parquet"))
        return count

    def overwrite_atomic(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Write to a temp dir, then swap — readers never observe a
        half-written table; a crash leaves the old state intact."""
        self._swap_in(_colocated(df, partition_by), table, partition_by)

    def _swap_in(
        self, df: DataFrame, table: str, partition_by: list[str] | None
    ) -> None:
        """The atomic swap behind ``overwrite_atomic``, writing ``df``
        exactly as laid out."""
        final = self.path(table)
        tmp = f"{final}.__tmp_{uuid.uuid4().hex[:8]}"
        _write(df, tmp, "overwrite", partition_by)
        old = f"{final}.__old_{uuid.uuid4().hex[:8]}"
        if os.path.exists(final):
            os.rename(final, old)
        os.rename(tmp, final)
        if os.path.exists(old):
            shutil.rmtree(old)

    def read_merged_schema(self, table: str) -> DataFrame:
        """Schema-evolution-tolerant scan: parquet footers are merged
        across files (``mergeSchema``), so a table whose later appends
        added columns reads back with the union schema — older files'
        missing columns surface as NULL. The cost is a footer read per
        file at planning time (why it's not the default read); pair
        with ``compact()`` to rewrite history onto the wide schema once
        the evolution settles."""
        return self.spark.read.option("mergeSchema", "true").parquet(self.path(table))

    # -- snapshot versioning (time travel + rollback) -------------------
    #
    # The multi-version layer the atomic swap hints at, made explicit:
    # every publish is an immutable version directory plus an atomic
    # pointer update, so history is queryable (audits, incident
    # debugging, reproducing yesterday's training mix) and rollback is
    # a pointer move — no data rewrite. On a transactional table format
    # this maps to snapshots/time-travel; pure parquet implements it
    # with directories and one pointer file. Write path: version dir is
    # fully written BEFORE the pointer moves (os.replace = atomic), so
    # a crash leaves either the old pointer (plus an orphan dir that
    # vacuum reclaims) or the completed new state — never a torn table.

    def _vroot(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.__versions")

    def _vptr(self, table: str) -> str:
        return os.path.join(self._vroot(table), "_CURRENT")

    def snapshots(self, table: str) -> list[int]:
        """All retained version numbers, ascending."""
        vr = self._vroot(table)
        if not os.path.isdir(vr):
            return []
        return sorted(
            int(d[1:]) for d in os.listdir(vr)
            if d.startswith("v") and d[1:].isdigit()
        )

    def current_version(self, table: str) -> int | None:
        try:
            with open(self._vptr(table)) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def snapshot_write(self, df: DataFrame, table: str) -> int:
        """Publish a new immutable (unpartitioned) version; returns its
        number."""
        vr = self._vroot(table)
        os.makedirs(vr, exist_ok=True)
        vs = self.snapshots(table)
        version = (vs[-1] + 1) if vs else 1
        _write(df, os.path.join(vr, f"v{version}"), "overwrite", None)
        self._set_pointer(table, version)
        return version

    def _set_pointer(self, table: str, version: int) -> None:
        tmp = self._vptr(table) + f".__tmp_{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, self._vptr(table))

    def read_snapshot(self, table: str) -> DataFrame:
        """Read the current (pointer) version; ``rollback`` moves the
        pointer to an older retained one."""
        version = self.current_version(table)
        if version is None:
            raise FileNotFoundError(f"no snapshots for table {table}")
        return self.spark.read.parquet(
            os.path.join(self._vroot(table), f"v{version}")
        )

    def rollback(self, table: str, version: int) -> None:
        """Point the table back at an older retained version — a pure
        pointer move; no data is rewritten, newer versions stay
        retained (re-rollback-able) until vacuumed."""
        if version not in self.snapshots(table):
            raise FileNotFoundError(
                f"cannot roll back {table} to missing version {version}"
            )
        self._set_pointer(table, version)

    def vacuum_snapshots(self, table: str, keep_last: int = 2) -> list[int]:
        """Drop old version dirs, always retaining the current pointer's
        version and the ``keep_last`` highest-numbered versions.
        Returns the versions removed."""
        current = self.current_version(table)
        vs = self.snapshots(table)
        keep = set(vs[-keep_last:] if keep_last > 0 else [])
        if current is not None:
            keep.add(current)
        removed = []
        for v in vs:
            if v not in keep:
                shutil.rmtree(os.path.join(self._vroot(table), f"v{v}"))
                removed.append(v)
        return removed

    def file_stats(self, table: str) -> dict:
        """Small-files census for one table: parquet file count + byte
        distribution — the metric that decides when ``compact()`` runs.
        Pure metadata walk (driver-side listing, no Spark job), the
        same cost class as the planner's own file listing."""
        sizes = []
        for dirpath, _, files in os.walk(self.path(table)):
            for f in files:
                if f.endswith(".parquet"):
                    sizes.append(os.path.getsize(os.path.join(dirpath, f)))
        if not sizes:
            return {"n_files": 0, "total_bytes": 0,
                    "min_bytes": 0, "max_bytes": 0, "avg_bytes": 0.0}
        sizes.sort()
        return {
            "n_files": len(sizes),
            "total_bytes": sum(sizes),
            "min_bytes": sizes[0],
            "max_bytes": sizes[-1],
            "avg_bytes": round(sum(sizes) / len(sizes), 1),
        }
