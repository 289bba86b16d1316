"""Unit tests for core operators — pinned pandas-parity semantics
(SURVEY.md §4.4 traps) on tiny in-memory frames."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from emission_project_spark.operators.dedup import dedup_subset, union_distinct
from emission_project_spark.operators.incremental import incremental_insert, upsert
from emission_project_spark.operators.joins import anti_join, join_nullsafe
from emission_project_spark.operators.keys import (
    add_surrogate_key,
    add_surrogate_key_distributed,
    date_id_expr,
)


def test_nullsafe_join_matches_null_keys(spark):
    """The §4.4 trap: pandas merge matches NaN==NaN; our join must too."""
    fact = spark.createDataFrame(
        [("a", None, 1.0), ("a", "x", 2.0), (None, None, 3.0)],
        "k1 string, k2 string, v double",
    )
    dim = spark.createDataFrame(
        [("a", None, 10), ("a", "x", 20), (None, None, 30)],
        "k1 string, k2 string, dim_val int",
    )
    out = join_nullsafe(fact, dim, ["k1", "k2"], how="left").orderBy("v")
    assert [r.dim_val for r in out.collect()] == [10, 20, 30]
    # default (non-null-safe) semantics would drop the null-key matches
    out2 = join_nullsafe(fact, dim, ["k1", "k2"], how="left", null_safe=False).orderBy("v")
    assert [r.dim_val for r in out2.collect()] == [None, 20, None]


def test_anti_join_nullsafe(spark):
    new = spark.createDataFrame([("a",), (None,), ("b",)], "k string")
    existing = spark.createDataFrame([("a",), (None,)], "k string")
    out = anti_join(new, existing, ["k"])
    assert [r.k for r in out.collect()] == ["b"]


def test_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [("k", 2, "second"), ("k", 1, "first"), ("k", 3, "third"), ("j", 9, "only")],
        "key string, ord int, val string",
    )
    out = dedup_subset(df, ["key"], tiebreaker=["ord"])
    got = {r.key: r.val for r in out.collect()}
    assert got == {"k": "first", "j": "only"}


def test_union_distinct(spark):
    a = spark.createDataFrame([(1,), (2,)], "x int")
    b = spark.createDataFrame([(2,), (3,)], "x int")
    assert sorted(r.x for r in union_distinct(a, b).collect()) == [1, 2, 3]


def test_surrogate_keys_dense_and_distributed_agree(spark):
    df = spark.createDataFrame([(c,) for c in "fcadbe"], "name string")
    exact = add_surrogate_key(df, "id", order_by=["name"])
    dist = add_surrogate_key_distributed(df, "id", order_by=["name"], num_partitions=3)
    expected = [(i + 1, c) for i, c in enumerate("abcdef")]
    assert [(r.id, r.name) for r in exact.orderBy("id").collect()] == expected
    assert [(r.id, r.name) for r in dist.orderBy("id").collect()] == expected


def test_surrogate_key_start_offset(spark):
    """``start`` is an int or a Column, e.g. a scalar subquery over the
    stored max id (an empty store then starts at 1)."""
    df = spark.createDataFrame([("b",), ("a",)], "name string")
    stored = spark.createDataFrame([(7,), (99,)], "id bigint")
    empty = spark.createDataFrame([], "id bigint")
    starts = [(100, 100)] + [
        (store.select(F.coalesce(F.max("id"), F.lit(0)) + 1).scalar(), first)
        for store, first in ((stored, 100), (empty, 1))
    ]
    for start, first in starts:
        out = add_surrogate_key(df, "id", order_by=["name"], start=start)
        assert [(r.id, r.name) for r in out.orderBy("id").collect()] == [
            (first, "a"),
            (first + 1, "b"),
        ]


def test_date_id_expr(spark):
    df = spark.createDataFrame([("2014-03-07",)], "d string")
    out = df.select(date_id_expr(F.to_date("d")).alias("date_id"))
    assert out.collect()[0].date_id == 20140307  # zero-padded month+day


def test_incremental_insert_cold_and_warm(spark):
    schema = "k int, v string"
    empty = spark.createDataFrame([], schema)
    batch = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    assert incremental_insert(empty, batch, ["k"]).count() == 2  # cold start
    existing = spark.createDataFrame([(1, "a")], schema)
    out = incremental_insert(existing, batch, ["k"]).collect()
    assert [(r.k, r.v) for r in out] == [(2, "b")]


def test_upsert_replaces_by_key(spark):
    existing = spark.createDataFrame([(1, "old"), (2, "keep")], "k int, v string")
    batch = spark.createDataFrame([(1, "new"), (3, "ins")], "k int, v string")
    got = {r.k: r.v for r in upsert(existing, batch, ["k"]).collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_date_dim_shape(spark):
    from emission_project_spark.functions.datetime import date_dim

    dd = date_dim(spark)
    assert dd.count() == 7306  # 2010-01-01..2030-01-01 inclusive
    row = dd.filter(F.col("date_id") == 20210101).collect()[0]
    # ISO week 53 of 2020, but calendar year 2021 (SURVEY §4.4)
    assert row.week == 53 and row.year == 2021 and row.week_day == "Friday"


def test_salted_join_matches_plain_join(spark):
    from emission_project_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k int, v string"
    )
    small = spark.createDataFrame([(1, "X"), (2, "Y")], "k int, w string")
    plain = big.join(small, "k", "left")
    salted = salted_join(big, small, ["k"], how="left", salts=4)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # inner variant too
    assert sorted(map(tuple, salted_join(big, small, ["k"], salts=4).collect())) == sorted(
        map(tuple, big.join(small, "k").collect())
    )


def test_salted_aggregate_matches_plain_groupby(spark):
    from pyspark.sql import functions as F
    from emission_project_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0)], "k string, x double"
    )
    got = {
        r.k: (r.n, r.total, r.lo, r.hi, r.mean)
        for r in salted_aggregate(
            df,
            ["k"],
            {
                "n": ("count", "x"),
                "total": ("sum", "x"),
                "lo": ("min", "x"),
                "hi": ("max", "x"),
                "mean": ("avg", "x"),
            },
            salts=4,
        ).collect()
    }
    assert got == {"a": (3, 6.0, 1.0, 3.0, 2.0), "b": (1, 10.0, 10.0, 10.0, 10.0)}


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with NO Exchange in the physical plan (co-located join)."""
    from emission_project_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    facts = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
    dims = spark.range(0, 100).selectExpr("id AS k", "CAST(id AS STRING) AS name")
    wh.save_bucketed(facts, "bt_facts", ["k"], n_buckets=4, sort_by=["k"])
    wh.save_bucketed(dims, "bt_dims", ["k"], n_buckets=4, sort_by=["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a big-big (sort-merge) join — the case bucketing serves;
        # tiny tables would otherwise broadcast and sidestep the test
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = wh.read_bucketed("bt_facts").join(wh.read_bucketed("bt_dims"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan  # no shuffle on either side
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_facts")
        spark.sql("DROP TABLE IF EXISTS bt_dims")


def test_range_join_window_semantics(spark):
    from pyspark.sql import functions as F
    from emission_project_spark.operators.range_join import range_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "lid int, ts_s string"
    ).select("lid", F.to_timestamp("ts_s").alias("l_ts"))
    right = spark.createDataFrame(
        [
            (10, "2023-12-31 23:59:59"),  # before window
            (11, "2024-01-01 00:00:00"),  # delta 0 (inclusive)
            (12, "2024-01-01 00:01:30"),  # inside
            (13, "2024-01-01 00:02:00"),  # delta == upper (inclusive)
            (14, "2024-01-01 00:02:01"),  # after window
        ],
        "rid int, ts_s string",
    ).select("rid", F.to_timestamp("ts_s").alias("r_ts"))
    got = sorted(
        (r.rid, r.delta_us)
        for r in range_join(left, right, "l_ts", "r_ts", 0, 120).collect()
    )
    assert got == [(11, 0), (12, 90_000_000), (13, 120_000_000)]
    # duplicate-free even when a pair's buckets overlap twice
    assert range_join(left, right, "l_ts", "r_ts", 0, 120).count() == 3


def test_fk_violation_counts(spark):
    from emission_project_spark.operators.validation import (
        fk_violation_counts,
        validate_fks,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None), (5, 20)],  # 99 is an orphan
        "id int, dim_id int",
    )
    parent = spark.createDataFrame([(10, "a"), (20, "b")], "pk int, name string")
    out = fk_violation_counts(child, [("child.dim_id->parent", "dim_id", parent, "pk")])
    rows = out.collect()
    assert out.columns == ["fk_name", "violations"]
    assert [(r.fk_name, r.violations) for r in rows] == [("child.dim_id->parent", 1)]
    # null child keys are NOT violations; multiple FKs in one pass
    other = spark.createDataFrame([(1, "x")], "ok int, v string")
    got = validate_fks(
        child,
        [
            ("fk_a", "dim_id", parent, "pk"),
            ("fk_b", "id", other, "ok"),  # ids 2..5 orphaned vs other
        ],
    )
    assert got == {"fk_a": 1, "fk_b": 4}


def test_jsonl_corpus_roundtrip_and_quarantine(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from emission_project_spark.sources.jsonl_corpus import (
        read_jsonl_corpus,
        write_jsonl_corpus,
    )

    src = tmp_path / "corpus"
    src.mkdir()
    (src / "part1.jsonl").write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
        '{"doc_id": 2, "text": "hola", "lang": "es"}\n'
        "this line is not json\n"
        '{"doc_id": 3, "text": "no lang field"}\n'
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    good, bad = read_jsonl_corpus(spark, str(src), schema)
    rows = {r.doc_id: r for r in good.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[3].lang is None  # missing optional field parses, not quarantined
    assert good.columns == ["doc_id", "text", "lang"]
    assert [r.raw_line for r in bad.collect()] == ["this line is not json"]

    out = tmp_path / "out"
    write_jsonl_corpus(good, str(out), partitions=2)
    back, bad2 = read_jsonl_corpus(spark, str(out), schema)
    assert back.count() == 3 and bad2.count() == 0


def test_warehouse_compact_and_stale_tmp(spark, tmp_path):
    from emission_project_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    # simulate append-heavy history: many small files
    for _ in range(5):
        wh.append(df.repartition(8), "t")
    import glob as _glob

    before = len(_glob.glob(str(tmp_path / "wh" / "t" / "*.parquet")))
    assert before >= 40
    after = wh.compact("t")
    assert after < before and wh.read("t").count() == 5000

    # partitioned table keeps its layout through compaction
    pdf = df.withColumn("p", (F.col("id") % 3).cast("int"))
    for _ in range(3):
        wh.append(pdf.repartition(4), "tp", partition_by=["p"])
    import os as _os

    # partitioned append co-locates each partition value into one
    # task: ONE file per (append × value), not one per (task × value)
    # — the small-files fix measured 7,968 files/134 s → 664/14 s on
    # the x100 fact batch (round 11)
    pre_parts = sorted(
        d for d in _os.listdir(tmp_path / "wh" / "tp") if d.startswith("p=")
    )
    files_per_part = [
        len(_glob.glob(str(tmp_path / "wh" / "tp" / d / "*.parquet")))
        for d in pre_parts
    ]
    assert all(c == 3 for c in files_per_part), files_per_part

    n = wh.compact("tp", partition_by=["p"])

    parts = sorted(d for d in _os.listdir(tmp_path / "wh" / "tp") if d.startswith("p="))
    assert parts == ["p=0", "p=1", "p=2"]
    assert wh.read("tp").count() == 3000 and n >= 3

    # stale swap debris is removed, live tables untouched
    (_os.makedirs(tmp_path / "wh" / "t.__tmp_dead"))
    (_os.makedirs(tmp_path / "wh" / "t.__old_dead"))
    removed = wh.drop_stale_tmp()
    assert sorted(removed) == ["t.__old_dead", "t.__tmp_dead"]
    assert wh.exists("t") and wh.exists("tp")


def test_contract_violations_planted(spark):
    """Every check type counts exactly its planted violations; NULLs
    pass accepted/range checks and are skipped by unique (SQL UNIQUE
    semantics)."""
    from emission_project_spark.operators.contracts import (
        TableContract,
        validate_contract,
    )

    rows = [
        # (id, status, price)
        (1, "O", 10.0),
        (1, "F", 20.0),      # duplicate id -> 1 surplus row
        (2, "X", -5.0),      # bad status + below range
        (None, "O", None),   # null id -> not_null hit; null price passes range
        (3, None, 2_000_000.0),  # null status passes accepted; above range
    ]
    df = spark.createDataFrame(rows, "id bigint, status string, price double")
    contract = TableContract(
        not_null=["id"],
        unique=[["id"]],
        accepted_values={"status": ["O", "F", "P"]},
        ranges={"price": (0, 1_000_000)},
    )
    got = validate_contract(df, contract)
    assert got == {
        "not_null:id": 1,
        "unique:id": 1,
        "accepted:status": 1,
        "range:price": 2,
    }

    # empty table: every count is zero, not NULL
    empty = spark.createDataFrame([], "id bigint, status string, price double")
    assert set(validate_contract(empty, contract).values()) == {0}


def test_warehouse_compact_range_clustered(spark, tmp_path):
    """compact(sort_by=...) rewrites into range-clustered files: each
    parquet file's min/max on the sort key is disjoint from every
    other's, so a selective predicate skips whole files."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from emission_project_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # scrambled insert order: id hashes spread across every file
    df = (
        spark.range(0, 20000)
        .withColumn("v", F.md5(F.col("id").cast("string")))
        .repartition(8, F.col("v"))
    )
    wh.append(df, "t")
    after = wh.compact("t", target_file_mb=0.05, sort_by=["id"])
    assert after >= 3  # fractional target forced a multi-file rewrite
    ranges = []
    for p in _glob.glob(str(tmp_path / "wh" / "t" / "*.parquet")):
        md = _pq.read_metadata(p)
        mins = [md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)]
        maxs = [md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # disjoint: file-level stats prune
    assert wh.read("t").count() == 20000

    # with partition_by the sort clusters within each partition value:
    # compaction's own layout must reach the files without a second
    # shuffle, so every file under each p= directory is sorted by id
    for i in range(4):
        batch = (
            spark.range(i * 5000, (i + 1) * 5000)
            .withColumn("p", (F.col("id") % 3).cast("int"))
            .withColumn("v", F.md5(F.col("id").cast("string")))
            .repartition(4, F.col("v"))
        )
        wh.append(batch, "tp", partition_by=["p"])
    wh.compact("tp", target_file_mb=0.05, partition_by=["p"], sort_by=["id"])
    parts = sorted(_glob.glob(str(tmp_path / "wh" / "tp" / "p=*")))
    assert [p.rsplit("/", 1)[1] for p in parts] == ["p=0", "p=1", "p=2"]
    for part in parts:
        files = _glob.glob(part + "/*.parquet")
        assert files
        for f in files:
            ids = _pq.read_table(f, columns=["id"]).column("id").to_pylist()
            assert ids == sorted(ids), f
    assert wh.read("tp").count() == 20000


def test_asof_join_forward_direction(spark):
    from emission_project_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "k", 100), (2, "k", 250), (3, "k", 400)], "lid int, k string, ts long"
    )
    right = spark.createDataFrame(
        [("k", 100, "at100"), ("k", 300, "at300")], "k string, rts long, v string"
    )
    got = {
        r.lid: (r.next_v, r.next_rts)
        for r in asof_join(
            left, right, "k", "ts", "rts", ["v"], prefix="next_", direction="forward"
        ).collect()
    }
    assert got[1] == ("at100", 100)   # equal ts matches (>= semantics)
    assert got[2] == ("at300", 300)   # next future row
    assert got[3] == (None, None)     # nothing after → null


def test_fk_violation_counts_empty_child_returns_zeros(spark):
    """ADVICE r2: SUM over an empty child is NULL — the public API must
    return 0 violations, not crash validate_fks on int(None)."""
    from emission_project_spark.operators.validation import (
        fk_violation_counts,
        validate_fks,
    )

    parent = spark.createDataFrame([(1,), (2,)], "pk bigint")
    child = spark.createDataFrame([], "dim_id bigint, other string")
    rows = fk_violation_counts(
        child, [("child.dim_id->parent", "dim_id", parent, "pk")]
    ).collect()
    assert [(r.fk_name, r.violations) for r in rows] == [("child.dim_id->parent", 0)]
    assert validate_fks(child, [("fk", "dim_id", parent, "pk")]) == {"fk": 0}


def test_warehouse_append_migrates_legacy_flat_layout(spark, tmp_path):
    """ADVICE r2 (medium): a table written FLAT before partitioning was
    introduced must be migrated on the first partitioned append —
    otherwise partition dirs land beside flat part files and the next
    read fails partition discovery."""
    import os as _os

    from emission_project_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    legacy = spark.range(100).selectExpr("id", "CAST(id % 3 AS INT) AS date_id")
    wh.append(legacy, "fact")  # pre-partitioning deployment: flat files
    root = tmp_path / "wh" / "fact"
    assert any(f.endswith(".parquet") for f in _os.listdir(root))

    fresh = spark.range(100, 150).selectExpr("id", "CAST(3 AS INT) AS date_id")
    wh.append(fresh, "fact", partition_by=["date_id"])  # triggers migration

    # layout is now uniformly hive-partitioned; nothing flat remains
    assert not any(f.endswith(".parquet") for f in _os.listdir(root))
    parts = sorted(d for d in _os.listdir(root) if d.startswith("date_id="))
    assert parts == ["date_id=0", "date_id=1", "date_id=2", "date_id=3"]
    out = wh.read("fact")
    assert out.count() == 150
    assert out.filter("date_id = 3").count() == 50
    assert out.filter("date_id = 1").count() == 33  # legacy rows intact


def test_warehouse_contract_read_launches_no_job(spark, tmp_path):
    """``read(table, schema)`` reads by the contract: no schema-inference
    job for a flat or a date_id-partitioned table, columns back in
    contract order with contract types (the partition column reads back
    last from the files), and a contract column absent from the files
    reads as NULL."""
    import uuid

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from emission_project_spark.sources.warehouse import Warehouse

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("date_id", IntegerType()),
            StructField("v", DoubleType()),
        ]
    )
    rows = [(1, 20140307, 1.5), (2, 20150110, 2.5), (3, 20150110, None)]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(spark.createDataFrame(rows, schema), "flat")
    wh.append(spark.createDataFrame(rows, schema), "part", partition_by=["date_id"])
    wider = StructType([*schema.fields, StructField("note", StringType())])

    sc = spark.sparkContext
    group = f"contract-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "contract read")
    try:
        reads = [wh.read(t, s) for t in ("flat", "part") for s in (schema, wider)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    for df, contract in zip(reads, [schema, wider] * 2):
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in contract
        ]
        got = sorted(tuple(r) for r in df.collect())
        pad = (None,) * (len(contract) - len(schema))
        assert got == [r + pad for r in rows]


def test_warehouse_snapshot_versioning(spark, tmp_path):
    """Time travel + rollback + vacuum on the snapshot layer: publishes
    are immutable versions, the pointer move is the only mutation."""
    import pytest as _pytest

    from emission_project_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    v1 = wh.snapshot_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), "t"
    )
    v2 = wh.snapshot_write(
        spark.createDataFrame([(1, "a2"), (3, "c")], "k int, v string"), "t"
    )
    assert (v1, v2) == (1, 2)
    assert wh.current_version("t") == 2
    assert {r["v"] for r in wh.read_snapshot("t").collect()} == {"a2", "c"}
    # time travel: v1 still intact
    assert {r["v"] for r in wh.read_snapshot("t", 1).collect()} == {"a", "b"}

    # rollback is a pointer move; v2 stays retained
    wh.rollback("t", 1)
    assert wh.current_version("t") == 1
    assert {r["v"] for r in wh.read_snapshot("t").collect()} == {"a", "b"}
    assert wh.snapshots("t") == [1, 2]

    # next publish continues the version sequence
    v3 = wh.snapshot_write(
        spark.createDataFrame([(9, "z")], "k int, v string"), "t"
    )
    assert v3 == 3 and wh.current_version("t") == 3

    # vacuum keeps current + keep_last highest; current is protected
    wh.rollback("t", 1)
    removed = wh.vacuum_snapshots("t", keep_last=1)
    assert removed == [2]
    assert wh.snapshots("t") == [1, 3]
    assert {r["v"] for r in wh.read_snapshot("t").collect()} == {"a", "b"}

    with _pytest.raises(FileNotFoundError):
        wh.read_snapshot("t", 2)
    with _pytest.raises(FileNotFoundError):
        wh.rollback("t", 99)
    with _pytest.raises(FileNotFoundError):
        wh.read_snapshot("missing")


def test_observed_stage_counters_ride_the_action(spark):
    """observe(): metrics come from the same action, no second scan;
    counts match an independent recomputation."""
    from emission_project_spark.operators.observe import observed_stage

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 500.0), (4, -3.0)],
        "id int, v double",
    )
    inst, obs = observed_stage(
        df, not_null=["v"], ranges={"v": (0, 100)}, name="probe"
    )
    assert inst.count() == 4          # the action that feeds the metrics
    got = obs.get
    assert got["n_rows"] == 4
    assert got["null_v"] == 1
    assert got["oor_v"] == 2          # 500 and -3; NULL not counted


def test_warehouse_file_stats_census(spark, tmp_path):
    from emission_project_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert wh.file_stats("t")["n_files"] == 0
    df = spark.range(1000).withColumnRenamed("id", "k")
    wh.append(df.repartition(8), "t")
    st = wh.file_stats("t")
    assert st["n_files"] == 8
    assert st["total_bytes"] > 0
    assert st["min_bytes"] <= st["avg_bytes"] <= st["max_bytes"]


def test_load_table_with_provenance(spark):
    from emission_project_spark.catalog.tables import load_table_with_provenance

    df = load_table_with_provenance(spark, "/root/testdata/sf0.001", "nation")
    rows = df.collect()
    assert len(rows) == 25
    assert all(r["_src_file"].endswith(".parquet") for r in rows)
    assert all(r["_src_file_size"] > 0 for r in rows)
    # byte-range lineage: the split region is well-formed and inside the file
    assert all(r["_src_block_start"] >= 0 for r in rows)
    assert all(
        0 < r["_src_block_length"]
        and r["_src_block_start"] + r["_src_block_length"] <= r["_src_file_size"]
        for r in rows
    )


def test_v2_parquet_aggregate_pushdown(spark):
    """Opt-in V2 session: a filterless count answers from footer stats
    (PushedAggregation in the plan) and matches the V1 answer; the NTZ
    events table stays readable under V2. Both knobs are dynamic SQL
    confs, so a cloned session (shared SparkContext, isolated conf)
    carries them without touching the suite's session."""
    from pyspark.sql import functions as F

    from emission_project_spark.session import v2_parquet_conf

    spark2 = spark.newSession()
    for k, v in v2_parquet_conf().items():
        spark2.conf.set(k, v)
    df = spark2.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    agg = df.agg(F.count(F.lit(1)).alias("n"))
    plan = agg._jdf.queryExecution().explainString(
        spark2._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedAggregation" in plan
    assert agg.first()["n"] == df.count()
    ev = spark2.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert ev.count() > 0
    # and the suite's session is untouched (still V1 for parquet)
    assert "parquet" in spark.conf.get("spark.sql.sources.useV1SourceList")
