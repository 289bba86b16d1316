"""Golden tests for the emission star-schema ETL on fixture feeds
reproducing the reference CSV shapes and the SURVEY §4.4/§4.5 traps:
null join keys (pandas NaN==NaN parity), duplicate natural keys,
same-named cities in different countries, orphan drivers, incremental
re-delivery, crash-safe archival."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from emission_project_spark.pipeline.emission import EmissionPipeline
from emission_project_spark.sources.warehouse import Warehouse

VEHICLE_HEADER = (
    "BRAND,MODEL,VEHICLE CLASS,ENGINE SIZE L,CYLINDERS,TRANSMISSION,FUEL_TYPE,"
    '"FUEL CONSUMPTION (L/100 km)","HWY (L/100 km)","COMB (L/100 km)","COMB (mpg)",'
    "CO2_Emissions(g/km)"
)

LOGBOOK_HEADER = (
    "brand,model,engine_size_l,cylinders,fuel_type,transmission,name,first_name,"
    "start_city,start_country,target_city,target_country,distance_km,date"
)


def _write(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.fixture()
def pipeline(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "warehouse"))
    return EmissionPipeline(spark, wh), str(tmp_path / "incoming"), str(tmp_path / "archive")


def _batch1(incoming: str) -> None:
    _write(
        f"{incoming}/drivers_incoming_data/drivers.csv",
        [
            "name,first_name,city",
            "Doe,John,Helsinki",
            "Doe,John,Espoo",  # duplicate (name, first_name) pair → dedup
            "Smith,Anna,Turku",
        ],
    )
    _write(
        f"{incoming}/vehicle_fuel_consumptions_incoming_data/vehicles.csv",
        [
            VEHICLE_HEADER,
            "bmw,m1,suv,2.0,4,A8,X,9.0,7.0,8.0,30,200",
            "bmw,m2,suv,3.0,,M7,,12.0,9.0,10.5,25,300",  # null cylinders + fuel_type
            "audi,a1,compact,1.6,4,A6,Z,6.0,5.0,5.5,40,150",
        ],
    )
    _write(
        f"{incoming}/drivers_logbook_incoming_data/logbook.csv",
        [
            LOGBOOK_HEADER,
            # null-keyed car B row: must still match via null-safe join
            "bmw,m2,3.0,,,M7,Doe,John,Paris,France,Berlin,Germany,100.0,2014-03-07",
            # same city name (Paris) in two countries
            "bmw,m1,2.0,4,X,A8,Smith,Anna,Paris,USA,Paris,France,50.5,2014-11-20",
            # orphan driver → null driver_id
            "audi,a1,1.6,4,Z,A6,Ghost,Bob,Berlin,Germany,Paris,France,10.0,2015-01-10",
            # exact duplicate of row 1 → in-batch 7-id dedup
            "bmw,m2,3.0,,,M7,Doe,John,Paris,France,Berlin,Germany,100.0,2014-03-07",
        ],
    )


def test_cold_start_run(pipeline):
    pipe, incoming, archive = pipeline
    _batch1(incoming)
    stats = pipe.run(incoming, archive)
    assert stats.inserted == {
        "drivers": 2,
        "cars": 3,
        "country": 3,
        "city": 3,
        "car_driver_log": 3,
    }
    # consume-once: incoming drained, archive stamped
    assert not os.listdir(f"{incoming}/drivers_incoming_data")
    assert len(stats.archived) == 3

    # FK validation ran on the appended batch: all 7 FKs clean (the
    # orphan driver lands as NULL driver_id, which is not a violation)
    assert len(stats.fk_violations) == 7
    assert all(v == 0 for v in stats.fk_violations.values())

    fact = pipe.fact_df()
    rows = {
        (r.car_id, r.driver_id): r for r in fact.collect()
    }
    cars = {r.model: r.car_id for r in pipe.wh.read("cars").collect()}
    drivers = {(r.name, r.first_name): r.driver_id for r in pipe.wh.read("drivers").collect()}

    # §4.4 trap: the null-keyed logbook row matched its car
    null_key_row = rows[(cars["m2"], drivers[("Doe", "John")])]
    assert null_key_row.total_emission == pytest.approx(100.0 * 300)
    assert null_key_row.date_id == 20140307  # zero-padded month/day

    # orphan driver kept with null driver_id
    orphan = rows[(cars["a1"], None)]
    assert orphan.total_emission == pytest.approx(10.0 * 150)

    # city disambiguation: two Paris rows under different countries
    city = pipe.wh.read("city")
    paris = city.filter(F.col("city_name") == "Paris").collect()
    assert len(paris) == 2 and len({r.country_id for r in paris}) == 2

    # SERIAL semantics: dense ascending ids in sorted order
    assert [r.name for r in pipe.wh.read("drivers").orderBy("driver_id").collect()] == [
        "Doe",
        "Smith",
    ]


def test_stage_timers(pipeline):
    """Every stage reports a wall-clock entry (bench's pipeline decade
    block records these so the dominant stage is read, not inferred)."""
    pipe, incoming, archive = pipeline
    _batch1(incoming)
    stats = pipe.run(incoming, archive)
    # branches finish in any order; the record lists tick order
    assert list(stats.stage_seconds) == [
        "init", "extract", "dim_drivers", "dim_cars", "dim_country",
        "dim_city", "fact", "archive",
    ]
    assert all(v >= 0 for v in stats.stage_seconds.values())
    # the dim+fact stages end in actions, so they carry real time
    assert stats.stage_seconds["fact"] > 0

    # no archive_root → no archive stage entry
    _batch1(incoming)
    stats2 = pipe.run(incoming)
    assert "archive" not in stats2.stage_seconds


def test_incremental_second_run(pipeline):
    pipe, incoming, archive = pipeline
    _batch1(incoming)
    pipe.run(incoming, archive)

    # batch 2: one already-loaded row (skip), one new row over known
    # dims, and one new row bringing a new driver and a new city in a
    # known country; the vehicles feed is absent
    _write(
        f"{incoming}/drivers_incoming_data/drivers2.csv",
        ["name,first_name,city", "Doe,John,Helsinki", "Young,Zoe,Munich"],
    )
    _write(
        f"{incoming}/drivers_logbook_incoming_data/logbook2.csv",
        [
            LOGBOOK_HEADER,
            "bmw,m1,2.0,4,X,A8,Smith,Anna,Paris,USA,Paris,France,50.5,2014-11-20",
            "audi,a1,1.6,4,Z,A6,Doe,John,Berlin,Germany,Paris,USA,20.0,2015-01-09",
            "audi,a1,1.6,4,Z,A6,Young,Zoe,Munich,Germany,Berlin,Germany,30.0,2015-01-09",
        ],
    )
    stats = pipe.run(incoming, archive)
    assert stats.inserted == {
        "drivers": 1,
        "cars": 0,
        "country": 0,
        "city": 1,
        "car_driver_log": 2,
    }
    assert pipe.fact_df().count() == 5

    # the new ids continue from the stored maximum (keyed in-plan)
    drivers = {(r.name, r.first_name): r.driver_id for r in pipe.wh.read("drivers").collect()}
    assert drivers == {("Doe", "John"): 1, ("Smith", "Anna"): 2, ("Young", "Zoe"): 3}
    city = {r.city_name: r.city_id for r in pipe.wh.read("city").collect() if r.city_name != "Paris"}
    assert city == {"Berlin": 1, "Munich": 4}

    # and the fact row joins to them
    (row,) = pipe.fact_df().filter(F.col("driver_id") == 3).collect()
    assert row.start_city_id == 4 and row.target_city_id == 1
    assert row.total_emission == pytest.approx(30.0 * 150)
    assert all(v == 0 for v in stats.fk_violations.values())


def test_empty_run_is_noop(pipeline):
    pipe, incoming, archive = pipeline
    _batch1(incoming)
    pipe.run(incoming, archive)
    stats = pipe.run(incoming, archive)  # nothing pending
    assert all(v == 0 for v in stats.inserted.values())


def test_fact_partitioned_by_date_and_pruned(pipeline):
    """The fact lands partitioned by date_id, and a date-bounded scan
    prunes to the touched partition directory (the 100 TB contract:
    roll-ups over a date range never scan the whole fact)."""
    pipe, incoming, archive = pipeline
    _batch1(incoming)
    pipe.run(incoming, archive)

    # layout: one Hive-style directory per date_id
    fact_dir = pipe.wh.path("car_driver_log")
    parts = sorted(d for d in os.listdir(fact_dir) if d.startswith("date_id="))
    assert parts == ["date_id=20140307", "date_id=20141120", "date_id=20150110"]

    # pruning: the date filter lands in PartitionFilters (metadata-only),
    # not as a post-scan row filter over all partitions
    pruned = pipe.fact_df().filter(F.col("date_id") == 20140307)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2 and "date_id" in pf[1].split("]", 1)[0]
    assert pruned.count() == 1


def test_rollups(pipeline):
    pipe, incoming, archive = pipeline
    _batch1(incoming)
    pipe.run(incoming, archive)
    by_brand = {r.brand: r.total_emission for r in pipe.emission_by_brand().collect()}
    assert by_brand["bmw"] == pytest.approx(100.0 * 300 + 50.5 * 200)
    assert by_brand["audi"] == pytest.approx(10.0 * 150)
    by_driver = {r.driver_id: r.total_emission for r in pipe.emission_by_driver().collect()}
    assert by_driver[None] == pytest.approx(1500.0)  # orphan bucket

    # date dim generated once, full range
    assert pipe.wh.read("date").count() == 7306

    # single-scan combined readout == the three individual plans, and
    # the persisted projection is released when the context exits
    singles = {
        "emission_by_brand": pipe.emission_by_brand(),
        "emission_by_car": pipe.emission_by_car(),
        "emission_by_driver": pipe.emission_by_driver(),
    }
    # other tests on the shared session may hold their own caches —
    # assert no NET leak, not an empty global cache registry
    cached_before = pipe.spark.sparkContext._jsc.getPersistentRDDs().size()
    with pipe.rollup_views() as views:
        assert sorted(views) == sorted(singles)
        for name, df in views.items():
            assert sorted(df.columns) == sorted(singles[name].columns)
            got = {tuple(r) for r in df.collect()}
            want = {tuple(r) for r in singles[name].collect()}
            assert got == want, name
    assert (
        pipe.spark.sparkContext._jsc.getPersistentRDDs().size()
        == cached_before
    )


WAREHOUSE_TABLES = ("date", "drivers", "cars", "country", "city", "car_driver_log")


def _tables(wh: Warehouse) -> dict[str, list[tuple]]:
    return {t: sorted(map(tuple, wh.read(t).collect()), key=repr) for t in WAREHOUSE_TABLES}


def test_failed_branch_replays_to_clean_tick(spark, tmp_path, monkeypatch):
    """A branch that fails mid-tick re-raises once the other branches
    have finished, leaks no cached feed, and a replay of the same feed
    leaves every table, ids included, equal to one clean tick."""
    incoming = str(tmp_path / "incoming")
    _batch1(incoming)
    pipe = EmissionPipeline(spark, Warehouse(spark, str(tmp_path / "wh")))
    append = Warehouse.append
    finished: dict[str, float] = {}

    def failing_append(self, df, table, partition_by=None):
        if table == "cars":
            raise RuntimeError("injected cars append failure")
        append(self, df, table, partition_by)
        finished[table] = time.monotonic()

    monkeypatch.setattr(Warehouse, "append", failing_append)
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="injected cars append failure"):
        pipe.run(incoming, str(tmp_path / "archive"))
    raised = time.monotonic()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before
    # the other branches landed before the error surfaced; the fact,
    # which waits for every branch, never ran
    assert set(finished) == {"drivers", "country", "city"}
    assert all(t <= raised for t in finished.values())
    assert pipe.wh.exists("date") and not pipe.wh.exists("cars")
    assert not pipe.wh.exists("car_driver_log")

    monkeypatch.setattr(Warehouse, "append", append)
    stats = pipe.run(incoming, str(tmp_path / "archive"))
    assert stats.inserted == {
        "drivers": 0, "cars": 3, "country": 0, "city": 0, "car_driver_log": 3,
    }

    clean_incoming = str(tmp_path / "clean_incoming")
    _batch1(clean_incoming)
    clean = EmissionPipeline(spark, Warehouse(spark, str(tmp_path / "clean_wh")))
    clean.run(clean_incoming)
    assert _tables(pipe.wh) == _tables(clean.wh)


def test_tick_jobs_stay_in_callers_job_group(pipeline):
    """Every job a tick launches, on any branch thread, runs in the job
    group its caller set: the group is how a caller (or a tracer)
    tracks and cancels the tick's work."""
    pipe, incoming, archive = pipeline
    _batch1(incoming)
    sc = pipe.spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("emission-tick-test", "one tick")
    try:
        pipe.run(incoming, archive)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert len(tracker.getJobIdsForGroup("emission-tick-test")) > 0
