"""The benchmark's workloads: set-up, one operation, and output checks.

A workload object is built once per run. ``setup()`` prepares inputs
and whatever warm-up the workload needs; ``op()`` runs one timed
operation and returns its wall time, its step latencies, and one
outcome per checked result: None when correct, else what was wrong.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from contextlib import nullcontext

import feeds
import tables
from spans import Tracer

# PERFBENCH_TINY=1 shrinks the inputs to the ×1 feed and sf0.001-sized
# tables; PERFBENCH_WRONG_EXPECTED=1 corrupts one expected result. Both
# exist for selftest.py only.
TINY = os.environ.get("PERFBENCH_TINY") == "1"
WRONG_EXPECTED = os.environ.get("PERFBENCH_WRONG_EXPECTED") == "1"
ETL_SCALE = 1 if TINY else 10
TABLE_FRACTION = 0.1 if TINY else 1.0


def _close(a: float | None, b: float | None) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _cached(root: str, make) -> str:
    """Build ``root`` with ``make(root)`` unless an earlier run did."""
    marker = os.path.join(root, ".complete")
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        make(root)
        open(marker, "w").close()
    return root


def parquet_census(root: str) -> tuple[int, float]:
    files, size = 0, 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size / 1e6


class EtlBackfill:
    """Cold-start tick of the seeded ×10 feed into an empty warehouse,
    the three roll-ups of ``rollup_views()``, then a replay of the same
    feed that must insert nothing."""

    def __init__(self, spark, seed: int, work: str, tracer: Tracer | None):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.scale = ETL_SCALE

    def setup(self) -> None:
        rows = feeds.generate(self.scale, self.seed)
        self.feed = _cached(
            os.path.join(self.work, "inputs", f"etl-x{self.scale}-seed{self.seed}"),
            lambda root: feeds.write(rows, root),
        )
        self.expected = feeds.expected(rows)
        if WRONG_EXPECTED:
            by_brand = self.expected["emission_by_brand"]
            by_brand["brand0"] += 1.0
        if self.tracer:
            self._patch_layers()

    def _patch_layers(self) -> None:
        from emission_project_spark.functions import datetime as fdt
        from emission_project_spark.operators import dedup, incremental, joins, keys, validation
        from emission_project_spark.pipeline.emission import EmissionPipeline
        from emission_project_spark.sources import csv_feed
        from emission_project_spark.sources.warehouse import Warehouse

        t = self.tracer
        t.patch("sources.csv_feed.read_feed", csv_feed, "read_feed")
        for m in ("read", "append", "overwrite_atomic"):
            t.patch(f"sources.warehouse.{m}", Warehouse, m)
        t.patch("functions.datetime.date_dim", fdt, "date_dim")
        t.patch("operators.dedup.dedup_subset", dedup, "dedup_subset")
        t.patch("operators.incremental.incremental_insert", incremental, "incremental_insert")
        t.patch("operators.keys.add_surrogate_key", keys, "add_surrogate_key")
        t.patch("operators.joins.join_nullsafe", joins, "join_nullsafe")
        t.patch("operators.validation.validate_fks", validation, "validate_fks")
        t.patch("pipeline.emission.run", EmissionPipeline, "run")

    def _timed(self, step: str, samples: list[float], fn):
        if self.tracer:
            self.tracer.step = step
        t0 = time.perf_counter()
        out = fn()
        samples.append(time.perf_counter() - t0)
        return out

    def op(self, i: int) -> tuple[float, list[float], list[str | None]]:
        from emission_project_spark.pipeline.emission import EmissionPipeline
        from emission_project_spark.sources.warehouse import Warehouse

        self.warehouse = os.path.join(self.work, "warehouse")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        pipe = EmissionPipeline(self.spark, Warehouse(self.spark, self.warehouse))
        walls: list[float] = []
        t0 = time.perf_counter()
        backfill = self._timed("backfill", walls, lambda: pipe.run(self.feed))
        rollups = self._timed("rollup", walls, lambda: self._rollups(pipe))
        replay = self._timed("replay", walls, lambda: pipe.run(self.feed))
        wall = time.perf_counter() - t0
        self.backfill, self.step_walls = backfill, walls
        # steps: every pipeline stage of both ticks, and the roll-ups
        steps = [*backfill.stage_seconds.values(), *replay.stage_seconds.values(), walls[1]]
        bad = self.check(backfill, rollups, replay)
        return wall, steps, ["; ".join(bad) if bad else None]

    def _rollups(self, pipe) -> dict:
        span = self.tracer.span("pipeline.emission.rollup_views") if self.tracer else nullcontext()
        with span, pipe.rollup_views() as views:
            return {name: [tuple(r) for r in df.collect()] for name, df in views.items()}

    def check(self, backfill, rollups: dict, replay) -> list[str]:
        import pyarrow.parquet as pq

        exp = self.expected
        bad = []
        if backfill.inserted != exp["inserted"]:
            bad.append(f"backfill inserted {backfill.inserted}, expected {exp['inserted']}")
        if any(backfill.fk_violations.values()):
            bad.append(f"FK violations {backfill.fk_violations}")
        if any(replay.inserted.values()):
            bad.append(f"replay inserted {replay.inserted}")
        cars = pq.read_table(os.path.join(self.warehouse, "cars")).to_pylist()
        car_nk = {
            c["car_id"]: (c["brand"], c["model"], c["vehicle_class"], c["engine_size_l"],
                          c["cylinders"], c["transmission"], c["fuel_type"])
            for c in cars
        }
        drivers = pq.read_table(os.path.join(self.warehouse, "drivers")).to_pylist()
        driver_nk = {d["driver_id"]: (d["name"], d["first_name"]) for d in drivers}
        keyers = {
            "emission_by_brand": lambda k: k,
            "emission_by_car": lambda k: car_nk.get(k),
            "emission_by_driver": lambda k: driver_nk.get(k),
        }
        for name, rows in rollups.items():
            got = {keyers[name](k): v for k, v in rows}
            want = exp[name]
            if got.keys() != want.keys() or not all(_close(got[k], want[k]) for k in want):
                diff = [k for k in want if not _close(got.get(k), want[k])][:3]
                bad.append(f"{name}: {len(got)} groups vs {len(want)} expected, first diffs {diff}")
        return bad

    def layer_extras(self) -> dict:
        files, mb = parquet_census(self.warehouse)
        fact = self.backfill.inserted.get("car_driver_log", 0)
        return {
            "sources.warehouse.append.files": (files, "count"),
            "sources.warehouse.append.mb": (mb, "MB"),
            "pipeline.emission.run.insert_ratio": (fact / self.expected["offered"], "ratio"),
            "stages": self.backfill.stage_seconds,
        }


class QueryHeadline:
    """One pass over the 24 ``bench.HEADLINE`` queries over seeded
    stand-in tables. Each query is built and
    its result collected inside the timed pass; outside it, the rows are
    compared with the query's DuckDB ``oracle_sql()`` using the
    canonicalization of ``tools/compare.py``."""

    def __init__(self, spark, seed: int, work: str, tracer: Tracer | None):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer

    def setup(self) -> None:
        import duckdb

        import __spark_entry__ as entry
        from bench import HEADLINE
        from compare import rows_to_multiset

        self.names = list(HEADLINE)
        self.sf_dir = _cached(
            os.path.join(self.work, "inputs", f"tables-{TABLE_FRACTION}-seed{self.seed}"),
            lambda root: tables.write(self.seed, root, TABLE_FRACTION),
        )
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in tables.ROWS.keys() | {"region", "nation"}:
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.expected = {}
        for name in self.names:
            res = con.sql(oracles[name])
            cols = [d[0] for d in res.description]
            self.expected[name] = (sorted(cols), rows_to_multiset(cols, res.fetchall()))
        if WRONG_EXPECTED:
            self.expected[self.names[0]][1].pop()
        con.close()
        if self.tracer:
            from emission_project_spark.catalog import tables as catalog_tables

            self.tracer.patch("catalog.tables.load_table", catalog_tables, "load_table")

    def op(self, i: int) -> tuple[float, list[float], list[str | None]]:
        from compare import rows_to_multiset

        # The first pass runs in a cold JVM, where each query also pays
        # for the code paths it is first to use; a fixed order keeps that
        # cost on the same queries in every run. Later passes shuffle.
        order = self.names[:]
        if i:
            random.Random(f"{self.seed}-{i}").shuffle(order)
        steps, outcomes, results = [], [], {}
        for name in order:
            self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                results[name] = self._run(name)
            except Exception as e:  # noqa: BLE001 - any failure is a failed operation
                results[name] = e
            steps.append(time.perf_counter() - t0)
        for name in order:
            got = results[name]
            if isinstance(got, Exception):
                outcomes.append(f"{name}: {type(got).__name__}: {got}")
                continue
            cols, rows = got
            want_cols, want = self.expected[name]
            if sorted(cols) != want_cols:
                outcomes.append(f"{name}: columns {sorted(cols)} != oracle {want_cols}")
            elif rows_to_multiset(cols, rows) != want:
                outcomes.append(f"{name}: {len(rows)} rows differ from the oracle's {len(want)}")
            else:
                outcomes.append(None)
        return sum(steps), steps, outcomes

    def _run(self, name: str) -> tuple[list[str], list[tuple]]:
        t = self.tracer
        if t is None:
            df = self.queries[name](self.spark, self.sf_dir)
            return df.columns, [tuple(r) for r in df.collect()]
        t.step = name
        with t.span("plans.build"):
            df = self.queries[name](self.spark, self.sf_dir)
        with t.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        with t.span("plans.exec"):
            return df.columns, [tuple(r) for r in df.collect()]

    def layer_extras(self) -> dict:
        return {}


WORKLOADS = {"etl_backfill": EtlBackfill, "query_headline": QueryHeadline}
