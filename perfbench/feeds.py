"""Seeded ETL feeds and their independently computed expected results.

The three CSV feeds follow ``tools/gen_pipeline_feed.py`` (its headers
and ``_vehicle_key`` are imported, not copied) and keep its trap rates:
~5 % null ``cylinders`` and ~10 % null ``fuel_type``, ~0.5 % duplicate
natural keys in each dimension feed, ~1 % orphan drivers, and the
``Sharedville`` city that exists in two countries. That tool seeds its
RNG from the scale alone; here the seed picks the trips and the vehicle
consumption figures while every size stays fixed.

``expected()`` recomputes, in plain Python over the rows that were
written, what one cold-start tick must insert and what the three
roll-ups must total. It follows the engine's documented semantics:
``dedup_subset`` keeps the first row by the non-key columns ascending
(nulls last), the car join is null-safe on the 6-column attribute key,
orphans keep a NULL driver, and the fact dedups on its 7 ids with
``distance_km, total_emission`` as tiebreaker.
"""

from __future__ import annotations

import os
import random

from gen_pipeline_feed import COUNTRIES, LOGBOOK_HEADER, VEHICLE_HEADER, _vehicle_key

FEED_DIRS = (
    "drivers_incoming_data",
    "vehicle_fuel_consumptions_incoming_data",
    "drivers_logbook_incoming_data",
)


def _num(s: str) -> float | None:
    return float(s) if s else None


def _str(s: str) -> str | None:
    return s or None


def generate(scale: int, seed: int) -> dict:
    """Rows of the three feeds at ``scale`` × the reference envelope
    (1,000 drivers / 999 vehicles / 5,000 trips per unit of scale)."""
    rng = random.Random(seed)
    n_drivers, n_vehicles, n_trips = 1000 * scale, 999 * scale, 5000 * scale
    shift = rng.randrange(90)

    drivers = []
    for i in range(n_drivers):
        drivers.append((f"name{i}", f"first{i % 97}", f"city{i % 450}"))
        if i % 200 == 0:  # duplicate (name, first_name) → dedup
            drivers.append((f"name{i}", f"first{i % 97}", "othercity"))

    vehicles = []
    for i in range(n_vehicles):
        k = _vehicle_key(i)
        cons = 5.0 + ((i + shift) % 90) / 10.0
        co2 = 100 + (i * 7 + shift) % 400
        vehicles.append(
            k + (f"{cons:.1f}", f"{cons - 1.5:.1f}", f"{cons - 0.7:.1f}", str(int(282 / cons)), str(co2))
        )
        if i % 200 == 7:  # duplicate natural key, different consumption
            vehicles.append(
                k
                + (f"{cons + 2:.1f}", f"{cons:.1f}", f"{cons + 1:.1f}", str(int(240 / cons)), str(co2 + 20))
            )

    trips = []
    for j in range(n_trips):
        brand, model, _vclass, engine, cyl, trans, fuel = _vehicle_key(rng.randrange(n_vehicles))
        if rng.random() < 0.01:  # orphan driver → NULL driver_id
            name, first = f"ghost{j}", "Bob"
        else:
            d = rng.randrange(n_drivers)
            name, first = f"name{d}", f"first{d % 97}"
        sc, tc = rng.randrange(457), rng.randrange(457)
        # Sharedville is Finnish as a start and German as a target
        s_city = "Sharedville" if sc == 0 else f"city{sc}"
        t_city = "Sharedville" if tc == 0 else f"city{tc}"
        s_ctry = COUNTRIES[sc % len(COUNTRIES)]
        t_ctry = COUNTRIES[1] if tc == 0 else COUNTRIES[tc % len(COUNTRIES)]
        day = rng.randrange(730)
        date = f"{2014 + day // 365}-{1 + (day % 365) // 31:02d}-{1 + day % 28:02d}"
        trips.append(
            (brand, model, engine, cyl, fuel, trans, name, first,
             s_city, s_ctry, t_city, t_ctry, f"{rng.randrange(5, 900) / 10.0:.1f}", date)
        )
    return {"drivers": drivers, "vehicles": vehicles, "trips": trips}


def write(rows: dict, root: str) -> None:
    """Write the feeds in the layout ``EmissionPipeline.run`` consumes."""
    files = {
        "drivers": (FEED_DIRS[0], "drivers.csv", "name,first_name,city"),
        "vehicles": (FEED_DIRS[1], "vehicles.csv", VEHICLE_HEADER),
        "trips": (FEED_DIRS[2], "logbook.csv", LOGBOOK_HEADER),
    }
    for key, (sub, fname, header) in files.items():
        os.makedirs(os.path.join(root, sub), exist_ok=True)
        with open(os.path.join(root, sub, fname), "w") as fh:
            fh.write(header + "\n")
            fh.writelines(",".join(r) + "\n" for r in rows[key])


def _min_nulls_last(rows: list[tuple]) -> tuple:
    return min(rows, key=lambda r: tuple((v is None, v if v is not None else 0) for v in r))


def expected(rows: dict) -> dict:
    """Insert counts of a cold-start tick and the roll-up totals keyed by
    natural key: brand, car 7-key, and (name, first_name) or None."""
    drivers = {(n, f) for n, f, _ in rows["drivers"]}

    cars: dict[tuple, list[tuple]] = {}
    for v in rows["vehicles"]:
        nk = (v[0], v[1], v[2], float(v[3]), _num(v[4]), v[5], _str(v[6]))
        rest = tuple(float(x) for x in v[7:10]) + (int(v[10]), int(v[11]))
        cars.setdefault(nk, []).append(rest)
    car_co2 = {}
    by_attr: dict[tuple, list[tuple]] = {}
    for nk, rests in cars.items():
        car_co2[nk] = _min_nulls_last(rests)[-1]
        # the logbook joins on the 6 attributes (no vehicle_class)
        by_attr.setdefault((nk[0], nk[1], nk[3], nk[4], nk[6], nk[5]), []).append(nk)

    countries, cities, facts = set(), set(), {}
    for t in rows["trips"]:
        brand, model, engine, cyl, fuel, trans, name, first, sc, sco, tc, tco, dist, date = t
        countries.update((sco, tco))
        cities.update(((sc, sco), (tc, tco)))
        dist = float(dist)
        for car in by_attr.get((brand, model, float(engine), _num(cyl), _str(fuel), trans), [None]):
            total = dist * car_co2[car] if car else None
            driver = (name, first) if (name, first) in drivers else None
            key = (car, driver, (sc, sco), sco, (tc, tco), tco, date)
            facts.setdefault(key, []).append((dist, total))

    by_brand: dict = {}
    by_car: dict = {}
    by_driver: dict = {}
    for key, vals in facts.items():
        _dist, total = _min_nulls_last(vals)
        car, driver = key[0], key[1]
        for acc, k in ((by_brand, car[0] if car else None), (by_car, car), (by_driver, driver)):
            acc[k] = acc.get(k, 0.0) + (total or 0.0)
    return {
        "inserted": {
            "drivers": len(drivers),
            "cars": len(cars),
            "country": len(countries),
            "city": len(cities),
            "car_driver_log": len(facts),
        },
        "emission_by_brand": by_brand,
        "emission_by_car": by_car,
        "emission_by_driver": by_driver,
        "offered": len(rows["trips"]),
    }
