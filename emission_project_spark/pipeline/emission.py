"""The emission star-schema ETL — the reference's primary product
(``dags/emission-dag.py`` transform_and_load, 223 LoC of pandas)
re-expressed as one lazy Spark job.

Per-run shape (reference lifecycle, SURVEY §3.1): extract CSV feeds →
incremental dimension loads (dedup → anti-join vs warehouse state →
surrogate keys → append) → fact assembly (null-safe car join → derived
total_emission → driver/date/city/country joins → 7-id dedup →
incremental append) → roll-up views.

The tick runs as its DAG, like the reference's per-table Airflow
tasks: after extract, the date-dim init, ``drivers``, ``cars`` and the
``country → city`` chain are four branches whose Spark jobs run
concurrently, and the fact waits for all four. Most of a branch's jobs
are single-task probes and small appends, so run one after another
they leave most cores idle.

Catalyst plans the whole fact assembly as broadcast-hash joins over a
single scan of the logbook; at 100 TB the fact partition key is
``date_id`` and every dimension broadcasts.

Deliberate fixes over the reference (SURVEY §4.5, kept as engine
semantics and covered by tests):
- city keyed by (city_name, country_id), not city_name alone
- city cold-start path reads the country *table*, not a dangling local
- archive-after-commit instead of archive-before-load
- cars incremental anti-join on the 7-col natural key (12-col in the
  reference, which can fan out the fact join on re-delivery)
"""

from __future__ import annotations

import os
import time
from concurrent.futures import Future, ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from emission_project_spark.catalog import schemas as S
from emission_project_spark.functions.datetime import date_dim
from emission_project_spark.operators.dedup import dedup_subset
from emission_project_spark.operators.incremental import incremental_insert
from emission_project_spark.operators.joins import join_nullsafe
from emission_project_spark.operators.keys import add_surrogate_key
from emission_project_spark.operators.validation import validate_fks
from emission_project_spark.sources.csv_feed import archive_consumed, read_feed
from emission_project_spark.sources.warehouse import Warehouse


# The run record lists stages and tables in tick order, whichever
# branch finished first.
STAGES = ("init", "extract", "dim_drivers", "dim_cars", "dim_country", "dim_city", "fact", "archive")
TABLES = ("drivers", "cars", "country", "city", "car_driver_log")


@dataclass
class RunStats:
    inserted: dict[str, int] = field(default_factory=dict)
    archived: list[str] = field(default_factory=list)
    fk_violations: dict[str, int] = field(default_factory=dict)
    # Wall-clock per stage (init / extract / dim_* / fact / archive).
    # Spark is lazy, but every stage here ends in an action (count or
    # append), so the boundary times are real work, not plan-building.
    # Stages of independent branches (init, dim_drivers, dim_cars and
    # dim_country → dim_city) overlap, so the sum can exceed the
    # tick's wall.
    stage_seconds: dict[str, float] = field(default_factory=dict)

    def in_tick_order(self) -> RunStats:
        """Re-key both records in ``TABLES`` / ``STAGES`` order."""
        self.inserted = {t: self.inserted[t] for t in TABLES if t in self.inserted}
        self.stage_seconds = {s: self.stage_seconds[s] for s in STAGES if s in self.stage_seconds}
        return self


@contextmanager
def _stage(stats: RunStats, name: str):
    """Record the wall-clock of the enclosed block as
    ``stats.stage_seconds[name]`` (only when it completes)."""
    t0 = time.perf_counter()
    yield
    stats.stage_seconds[name] = round(time.perf_counter() - t0, 3)


@contextmanager
def _insert_step(rows: DataFrame, table: str, stats: RunStats):
    """The one insert step of every table: persist the insert set,
    count it, yield ``(rows, n)`` for the caller to append when
    ``n > 0``, then unpersist and record ``stats.inserted[table]``.

    The count and the append (plus, for the fact, the FK check) are
    separate actions; the persist makes the feed scan → dedup →
    anti-join → key chain run once instead of per action. For the
    fact that chain is the dominant stage, and its FK check reads
    the cached batch in 1.4 s vs 3.9 s as a recompute at the x100
    feed. MEMORY_AND_DISK: a huge batch spills instead of OOMing.
    An empty feed needs no guard: it yields an empty insert set and
    ``n == 0`` skips the append."""
    rows = rows.persist()
    try:
        n = rows.count()
        yield rows, n
    finally:
        rows.unpersist()
    stats.inserted[table] = n


def _all_results(futures: list[Future]) -> list:
    """The branches' results, once every branch has finished: a failing
    branch re-raises only after the others are done, so nothing is
    still reading the cached feed when the caller unpersists it."""
    wait(futures)
    return [f.result() for f in futures]


class EmissionPipeline:
    def __init__(self, spark: SparkSession, warehouse: Warehouse):
        self.spark = spark
        self.wh = warehouse

    # --- DDL / init (reference create_tables task, S8) ---

    def init_warehouse(self) -> None:
        """Idempotent: build the generated date dim once
        (create_tables.py:69-85)."""
        if not self.wh.exists("date"):
            self.wh.overwrite_atomic(date_dim(self.spark), "date")

    # --- helpers ---

    def _submit(self, pool: ThreadPoolExecutor, fn, *args) -> Future:
        """Run ``fn(*args)`` on ``pool`` with this thread's Spark job
        group, job tags and other local properties, so the branch's
        jobs are the caller's to track and cancel. Wrapped per call:
        the wrapper captures the properties when it is made."""
        return pool.submit(inheritable_thread_target(self.spark)(fn), *args)

    def _init_stage(self, stats: RunStats) -> None:
        with _stage(stats, "init"):
            self.init_warehouse()

    def _load_dim(
        self,
        batch: DataFrame,
        table: str,
        schema,
        id_col: str,
        natural_key: list[str],
        order_by: list[str],
        stats: RunStats,
    ) -> DataFrame:
        """Incremental dimension load: dedup batch → anti-join vs
        warehouse → SERIAL-style ids in sorted order → append.
        Returns the refreshed dimension.

        The id offset is a scalar subquery over the stored max id, so
        keying needs no driver round trip; when the anti-join comes out
        empty AQE drops the subquery and a no-op tick pays nothing."""
        with _stage(stats, f"dim_{table}"):
            current = self.wh.read(table, schema)
            new_rows = incremental_insert(current, dedup_subset(batch, natural_key), natural_key)
            start = current.select(F.coalesce(F.max(id_col), F.lit(0)) + 1).scalar()
            new_rows = add_surrogate_key(new_rows, id_col, order_by=order_by, start=start)
            with _insert_step(new_rows, table, stats) as (rows, n):
                if n:
                    self.wh.append(rows.select(*schema.names), table)
        return self.wh.read(table, schema)

    def _load_geo(self, logbook: DataFrame, stats: RunStats) -> tuple[DataFrame, DataFrame]:
        """The ``country → city`` branch: cities key on the country ids
        this branch has just loaded."""
        # countries: set-union of start/target columns (U1)
        countries_batch = (
            logbook.select(F.col("start_country").alias("country_name"))
            .unionByName(logbook.select(F.col("target_country").alias("country_name")))
            .filter(F.col("country_name").isNotNull())
        )
        country = self._load_dim(
            countries_batch,
            "country",
            S.COUNTRY_DIM,
            "country_id",
            ["country_name"],
            order_by=["country_name"],
            stats=stats,
        )

        # cities keyed by (city_name, country_id) — fixed key (§4.5)
        cities_batch = (
            logbook.select(
                F.col("start_city").alias("city_name"),
                F.col("start_country").alias("country_name"),
            )
            .unionByName(
                logbook.select(
                    F.col("target_city").alias("city_name"),
                    F.col("target_country").alias("country_name"),
                )
            )
            .filter(F.col("city_name").isNotNull())
        )
        cities_batch = join_nullsafe(
            cities_batch, country, ["country_name"], how="left", broadcast_right=True
        ).select("city_name", "country_id")
        city = self._load_dim(
            cities_batch,
            "city",
            S.CITY_DIM,
            "city_id",
            ["city_name", "country_id"],
            order_by=["city_name", "country_id"],
            stats=stats,
        )
        return country, city

    # --- the run ---

    def run(self, incoming_root: str, archive_root: str | None = None) -> RunStats:
        """One scheduled run. ``incoming_root`` contains the three feed
        dirs (``drivers_incoming_data`` etc. per README.md:58)."""
        stats = RunStats()
        with _stage(stats, "extract"):
            drivers_raw, f1 = read_feed(
                self.spark, os.path.join(incoming_root, "drivers_incoming_data"), S.DRIVERS_FEED
            )
            vehicles_raw, f2 = read_feed(
                self.spark,
                os.path.join(incoming_root, "vehicle_fuel_consumptions_incoming_data"),
                S.VEHICLES_FEED_RAW,
                rename=S.VEHICLES_RENAME,
            )
            logbook, f3 = read_feed(
                self.spark, os.path.join(incoming_root, "drivers_logbook_incoming_data"), S.LOGBOOK_FEED
            )
            # The logbook feed fans out to FIVE consumers (country batch
            # ×2 legs, city batch ×2 legs, fact assembly), each ending in
            # its own action: persist the CSV parse once instead of
            # re-reading the feed per consumer
            logbook = logbook.persist()

        # the tick's four independent branches: the date-dim init, two
        # feed-only dims, and the country → city chain
        branches = [
            (self._init_stage, stats),
            (
                self._load_dim,
                drivers_raw.select("name", "first_name"),
                "drivers",
                S.DRIVERS_DIM,
                "driver_id",
                S.DRIVERS_NK,
                ["name", "first_name"],  # SERIAL order = sort_values('name')
                stats,
            ),
            (
                self._load_dim,
                vehicles_raw,
                "cars",
                S.CARS_DIM,
                "car_id",
                S.CARS_NK,
                ["brand", "model", "vehicle_class", "engine_size_l"],
                stats,
            ),
            (self._load_geo, logbook, stats),
        ]
        # every logbook consumer (the geo branch AND the fact assembly)
        # runs under one try/finally: a failure in any branch must not
        # leak the cached feed for the session. The fact reuses a pool
        # thread for its FK check.
        try:
            with ThreadPoolExecutor(max_workers=len(branches), thread_name_prefix="tick") as pool:
                _, drivers, cars, (country, city) = _all_results(
                    [self._submit(pool, *branch) for branch in branches]
                )
                with _stage(stats, "fact"):
                    self._load_fact(logbook, drivers, cars, country, city, stats, pool)
        finally:
            logbook.unpersist()

        if archive_root:
            # crash-safe ordering: archive only after all writes landed
            with _stage(stats, "archive"):
                for files, sub in ((f1, "drivers_used_data"), (f2, "vehicle_fuel_consumptions_used_data"), (f3, "drivers_logbook_used_data")):
                    stats.archived += archive_consumed(files, os.path.join(archive_root, sub))
        return stats.in_tick_order()

    def _load_fact(
        self,
        logbook: DataFrame,
        drivers: DataFrame,
        cars: DataFrame,
        country: DataFrame,
        city: DataFrame,
        stats: RunStats,
        pool: ThreadPoolExecutor,
    ) -> None:
        dates = self.wh.read("date", S.DATE_DIM)

        # J6: attach car_id + co2 over the 6-col null-safe attribute FK
        # (pandas NaN==NaN parity — the §4.4 trap); cars broadcast
        fact = join_nullsafe(
            logbook,
            cars.select(*S.CARS_LOGBOOK_KEYS, "car_id", "co2_emission_g_per_km"),
            S.CARS_LOGBOOK_KEYS,
            how="left",
            broadcast_right=True,
        )
        # P4: THE derived measure (emission-dag.py:161-162)
        fact = fact.withColumn(
            "total_emission", F.col("distance_km") * F.col("co2_emission_g_per_km")
        )
        # J7: driver_id (orphans → null, preserved in the fact)
        fact = join_nullsafe(fact, drivers, S.DRIVERS_NK, how="left", broadcast_right=True)
        # J8: date_id via the date dim (out-of-range dates → null)
        fact = join_nullsafe(
            fact.withColumn("date", F.to_date("date")),
            dates.select("date", "date_id"),
            ["date"],
            how="left",
            broadcast_right=True,
        )
        # J10 then J9 (role-playing country/city, fixed city key)
        for role in ("start", "target"):
            fact = join_nullsafe(
                fact,
                country.select(
                    F.col("country_name").alias(f"{role}_country"),
                    F.col("country_id").alias(f"{role}_country_id"),
                ),
                [f"{role}_country"],
                how="left",
                broadcast_right=True,
            )
            fact = join_nullsafe(
                fact,
                city.select(
                    F.col("city_name").alias(f"{role}_city"),
                    F.col("country_id").alias(f"{role}_country_id"),
                    F.col("city_id").alias(f"{role}_city_id"),
                ),
                [f"{role}_city", f"{role}_country_id"],
                how="left",
                broadcast_right=True,
            )

        fact = fact.select(*[f.name for f in S.FACT_CAR_DRIVER_LOG.fields])
        # D1 + J11: in-batch dedup then incremental anti-join, both on
        # the 7-id natural key (null-safe: orphan ids are null)
        fact = dedup_subset(fact, S.FACT_NK, tiebreaker=["distance_km", "total_emission"])
        current = self.wh.read("car_driver_log", S.FACT_CAR_DRIVER_LOG)
        new_rows = incremental_insert(current, fact, S.FACT_NK)
        with _insert_step(new_rows, "car_driver_log", stats) as (rows, n):
            if n:
                # FK enforcement (SURVEY §1.3: the reference's DDL
                # constraints become an anti-join orphan check) on the
                # cached batch, run beside the append that reads the
                # same cache. Riding observe counters on the append
                # instead measured +55 s at x100: the metric joins
                # de-optimize the partitioned write stage.
                check = self._submit(
                    pool,
                    validate_fks,
                    rows,
                    [
                        ("fact.car_id->cars", "car_id", cars, "car_id"),
                        ("fact.driver_id->drivers", "driver_id", drivers, "driver_id"),
                        ("fact.start_city_id->city", "start_city_id", city, "city_id"),
                        ("fact.target_city_id->city", "target_city_id", city, "city_id"),
                        ("fact.start_country_id->country", "start_country_id", country, "country_id"),
                        ("fact.target_country_id->country", "target_country_id", country, "country_id"),
                        ("fact.date_id->date", "date_id", dates, "date_id"),
                    ],
                )
                # Fact partitioned by date_id (module docstring / SURVEY
                # §3.1): date-bounded roll-ups prune to the touched
                # partitions instead of scanning the whole 100 TB fact;
                # the append co-locates date_id before the write (the
                # small-files fix measured 134 → 14 s in Warehouse.append).
                try:
                    self.wh.append(rows, "car_driver_log", partition_by=["date_id"])
                finally:
                    # the check reads the cache that _insert_step unpersists
                    wait([check])
                stats.fk_violations = check.result()

    # --- consumption surface (README.md:3 roll-ups, A2) ---

    def fact_df(self) -> DataFrame:
        return self.wh.read("car_driver_log", S.FACT_CAR_DRIVER_LOG)

    def _rollups(self, base: DataFrame) -> dict[str, DataFrame]:
        """The three roll-ups over ``base`` (a fact projection holding
        ``car_id``, ``driver_id`` and ``total_emission``). Lazy: the
        contract read of ``cars`` launches no job."""
        cars = self.wh.read("cars", S.CARS_DIM).select("car_id", "brand")
        total = F.sum("total_emission").alias("total_emission")
        return {
            "emission_by_brand": (
                base.join(F.broadcast(cars), "car_id", "left").groupBy("brand").agg(total)
            ),
            "emission_by_car": base.groupBy("car_id").agg(total),
            "emission_by_driver": base.groupBy("driver_id").agg(total),
        }

    def emission_by_brand(self) -> DataFrame:
        return self._rollups(self.fact_df())["emission_by_brand"]

    def emission_by_car(self) -> DataFrame:
        return self._rollups(self.fact_df())["emission_by_car"]

    def emission_by_driver(self) -> DataFrame:
        return self._rollups(self.fact_df())["emission_by_driver"]

    @contextmanager
    def rollup_views(self):
        """All three roll-up readouts from ONE scan of the fact.

        The individual methods above are each the right plan alone, but
        a consumer running all three per schedule (the reference's
        reporting cadence) would scan the partitioned fact three times:
        6.2 s vs 2.9 s for the cached single scan at the x100 feed (a
        grouping-sets single pass measured 3.1 s, losing to the cache on
        expansion overhead). Here the 3-column projection persists once
        (MEMORY_AND_DISK: a fact outgrowing executor memory spills
        instead of OOMing) and the three groupBys read the cache; the
        context manager owns the unpersist.

            with pipe.rollup_views() as views:
                for name, df in views.items():
                    df.write...
        """
        base = self.fact_df().select("car_id", "driver_id", "total_emission").persist()
        try:
            yield self._rollups(base)
        finally:
            base.unpersist()
