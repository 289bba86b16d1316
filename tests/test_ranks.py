"""functions/ranks.py — distributed exact rank vs the single-partition
window ground truth (the thing it replaces at scale). Every comparison
runs at several session widths: the bucket count is
``spark.sql.shuffle.partitions``."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from emission_project_spark.functions.ranks import (
    _bucket_labels,
    _with_range_bucket,
    global_position,
    ntile_from_position,
)

WIDTHS = [1, 3, 8]


@pytest.fixture(params=WIDTHS)
def width(spark, request):
    """The session width (bucket count) for one test, restored after."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(request.param))
    yield request.param
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _cells(spark, values):
    from collections import Counter

    c = Counter(values)
    return spark.createDataFrame(
        [Row(value=float(v), cnt=int(n)) for v, n in c.items()]
    )


def _positions(df, order, key="k", out="i"):
    return {r[key]: r[out] for r in global_position(df, order, out_col=out).collect()}


def _window(df, order, key="k"):
    return {
        r[key]: r["i"]
        for r in df.select(key, F.row_number().over(Window.orderBy(*order)).alias("i")).collect()
    }


def test_weighted_position_matches_global_rank(spark, width):
    rng = random.Random(7)
    values = [rng.choice([1.0, 2.5, 2.5, 3.0, 7.5, 9.0, 9.0, 42.0]) for _ in range(200)]
    cells = _cells(spark, values)
    got = {
        r["value"]: r["minrank"]
        for r in global_position(cells, ["value"], out_col="minrank", weight="cnt").collect()
    }
    # ground truth: rank() over the exploded rows == 1 + Σ_{u<v} cnt(u)
    rows = spark.createDataFrame([Row(value=float(v)) for v in values])
    truth = {
        r["value"]: r["rk"]
        for r in rows.select(
            "value", F.rank().over(Window.orderBy("value")).alias("rk")
        )
        .distinct()
        .collect()
    }
    assert got == truth


def test_weighted_position_constant_column(spark, width):
    cells = _cells(spark, [5.0] * 30)
    [r] = global_position(cells, ["value"], out_col="minrank", weight="cnt").collect()
    assert r["minrank"] == 1 and r["cnt"] == 30


@pytest.mark.parametrize("n", [1, 7, 500])
def test_position_unique_keys(spark, width, n):
    rng = random.Random(13)
    rows = [Row(k=i, x=rng.choice([1.0, 2.0, 3.0, 9.0])) for i in range(n)]
    df = spark.createDataFrame(rows)
    order = [F.col("x").asc(), F.col("k").asc()]
    assert _positions(df, order) == _window(df, order)


def test_position_descending(spark, width):
    rng = random.Random(29)
    rows = [Row(k=i, x=float(rng.randint(0, 5))) for i in range(100)]
    df = spark.createDataFrame(rows)
    order = [F.col("x").desc(), F.col("k").asc()]
    assert _positions(df, order) == _window(df, order)


def test_position_empty_and_one_row(spark, width):
    df = spark.createDataFrame([Row(k=1, x=2.0)], "k int, x double")
    assert global_position(df.limit(0), ["x", "k"]).collect() == []
    assert _positions(df, ["x", "k"]) == {1: 1}


@pytest.mark.parametrize("n,buckets", [(10, 4), (37, 10), (100, 4), (4, 4)])
def test_ntile_formula_matches_window_ntile(spark, n, buckets):
    df = spark.createDataFrame([Row(k=i) for i in range(n)])
    pos = df.select(
        "k", F.row_number().over(Window.orderBy("k")).alias("i")
    ).crossJoin(F.broadcast(df.agg(F.count("*").alias("n"))))
    got = pos.select(
        "k", ntile_from_position(F.col("i"), F.col("n"), buckets).alias("t")
    )
    truth = df.select(
        "k", F.ntile(buckets).over(Window.orderBy("k")).alias("t")
    )
    assert {r["k"]: r["t"] for r in got.collect()} == {
        r["k"]: r["t"] for r in truth.collect()
    }


def test_weighted_position_null_and_nan(spark, width):
    """NULL and NaN values are ranked, never dropped, exactly where the
    single-partition window puts them (Spark ASC: NULLs FIRST, NaN
    greater than any double)."""
    vals = [None, None, float("nan"), 1.0, 1.0, 2.0, 5.0, 5.0, 5.0, 9.0]
    cells = spark.createDataFrame(
        [Row(value=v, cnt=i + 1) for i, v in enumerate(vals[:3])]
        + [Row(value=v, cnt=1) for v in set(v for v in vals[3:])],
        "value double, cnt int",
    ).groupBy("value").agg(F.sum("cnt").alias("cnt"))
    got = {
        (str(r["value"])): r["minrank"]
        for r in global_position(
            cells, ["value"], out_col="minrank", weight="cnt"
        ).collect()
    }
    truth = {
        (str(r["value"])): r["rk"]
        for r in cells.select(
            "value", F.rank().over(Window.orderBy("value")).alias("rk")
        ).collect()
    }
    # ground truth here ranks CELLS (cnt folded separately); rebuild the
    # count-weighted truth by prefix over the cell counts instead
    ordered = sorted(
        cells.collect(),
        key=lambda r: (
            0 if r["value"] is None else 2
            if r["value"] != r["value"] else 1,
            r["value"] if r["value"] == r["value"] and r["value"] is not None
            else 0.0,
        ),
    )
    run, expect = 1, {}
    for r in ordered:
        expect[str(r["value"])] = run
        run += r["cnt"]
    assert got == expect
    assert set(got) == set(truth)  # no row lost


def test_position_null_and_nan(spark, width):
    """NULL/NaN ordering-key rows keep their place in the global
    row_number() window, ascending and descending (unique tie-break k)."""
    rows = [
        Row(k=0, x=None), Row(k=1, x=float("nan")), Row(k=2, x=1.0),
        Row(k=3, x=None), Row(k=4, x=7.0), Row(k=5, x=float("nan")),
        Row(k=6, x=3.0), Row(k=7, x=-0.0), Row(k=8, x=0.0),
    ]
    df = spark.createDataFrame(rows, "k int, x double")
    for order in (
        [F.col("x").asc(), F.col("k").asc()],
        [F.col("x").desc(), F.col("k").asc()],
        [F.col("x").asc_nulls_last(), F.col("k").desc()],
        [F.col("x").desc_nulls_first(), F.col("k").asc()],
    ):
        assert _positions(df, order) == _window(df, order), order


def test_no_datasized_global_window_in_plan(spark):
    """The point of the module: the only partition-less Window in the
    physical plan must be the bucket-offset prefix (input = the
    bucket-total aggregate), never the data-sized relation."""
    df = spark.range(1000).select(
        (F.col("id") % 97).cast("double").alias("value")
    )
    cells = df.groupBy("value").agg(F.count("*").alias("cnt"))
    plan = global_position(
        cells, ["value"], weight="cnt"
    )._jdf.queryExecution().executedPlan().toString()
    import re

    windows = list(re.finditer(r"Window \[([^\]]*)\], \[([^\]]*)\](?:, \[([^\]]*)\])?", plan))
    assert windows
    for m in windows:
        groups = [g for g in m.groups() if g is not None]
        if len(groups) == 2:  # spec = [exprs], [order] → partition-less
            assert "__bt" in m.group(0) or "__b" in m.group(0)


def test_position_matches_window_on_mixed_keys(spark, width):
    """Exact against row_number() over the global window for unique
    composite keys: string tie-breaks, a hapax-skewed lead column, NULLs
    in the lead column (NULLS FIRST for ASC, LAST for DESC, like the
    window), and descending lead columns."""
    rng = random.Random(99)
    rows = [
        Row(
            s=f"{rng.choice('abcxyz')}{i:04d}",
            f=None if i % 31 == 0 else (1 if i % 5 else rng.randrange(2, 9)),
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows)
    for order in (
        [F.col("f").asc(), F.col("s").asc()],
        [F.col("f").desc(), F.col("s").asc()],
        [F.col("s").asc()],
        [F.col("s").desc_nulls_first()],
    ):
        assert _positions(df, order, key="s") == _window(df, order, key="s"), order


@pytest.mark.parametrize("lead_desc", [True, False], ids=["zipf", "jaccard"])
def test_skewed_lead_is_exact_and_balanced(spark, lead_desc):
    """95 % of the rows share the lead value (a hapax-dominated document
    frequency, ranked as text_zipf_slope and dedup_jaccard_prefix_join
    rank it). The positions are exact, and the sampled boundaries split
    the tied block on its tie-break: no bucket holds more than 2× its
    even share. A bucket drawn on the lead value alone puts the whole
    block in one bucket."""
    n, width = 20_000, 8
    order = [F.col("f").desc() if lead_desc else F.col("f").asc(), F.col("t").asc()]
    df = spark.range(n).select(
        F.when(F.col("id") % 20 == 0, F.col("id") % 7 + 2).otherwise(1).alias("f"),
        F.format_string("t%05d", (F.col("id") * 7919) % n).alias("t"),
    )
    assert _positions(df, order, key="t") == _window(df, order, key="t")
    sizes = [r["count"] for r in _with_range_bucket(df, order, width, width).groupBy("__b").count().collect()]
    assert sum(sizes) == n and max(sizes) <= 2 * n / width, sizes


def test_bucket_labels_get_their_own_partition(spark):
    """The window exchange hash-partitions the bucket label: the n
    labels must land on n different partitions of the exchange width,
    in increasing order."""
    for n, width in ((2, 2), (3, 3), (4, 4), (8, 8), (64, 200)):
        labels = _bucket_labels(n, width)
        parts = [
            r["p"]
            for r in spark.createDataFrame([(v,) for v in labels], "v int")
            .select(F.expr(f"pmod(hash(v), {width})").alias("p"))
            .collect()
        ]
        assert labels == sorted(labels) and len(set(parts)) == n


def test_position_when_the_sample_is_smaller_than_the_input(spark):
    """200k rows, more than the key sample holds, so the boundaries come
    from a sample, not the whole key set. The ids must still be exactly
    1..N, unique, and in key order — surrogate_keys_dense relies on this
    at scale."""
    n = 200_000
    # 7919 is prime and does not divide n: k is a permutation of 0..n-1
    df = spark.range(n).select(((F.col("id") * 7919) % n).alias("k"))
    ranked = global_position(df, [F.col("k")], out_col="rk")
    got = ranked.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("rk").alias("ids"),
        F.min("rk").alias("lo"),
        F.max("rk").alias("hi"),
        F.sum((F.col("rk") != F.col("k") + 1).cast("long")).alias("out_of_order"),
    ).first()
    assert got.asDict() == {"rows": n, "ids": n, "lo": 1, "hi": n, "out_of_order": 0}
