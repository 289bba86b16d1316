"""Dual-mode operator tests: the operators whose batch form the
registered queries run (session and distinct-user windows, the near-dup
bucket, the interval join), on batch frames and on micro-batch streams."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_session_windows_gap_split(spark):
    from emission_project_spark.streaming.stateful import session_window_totals

    events = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", 1, 1.0),
            ("2024-01-01 00:10:00", 1, 1.0),  # same session (10 min gap)
            ("2024-01-01 01:00:00", 1, 1.0),  # new session (50 min gap)
            ("2024-01-01 00:00:00", 2, 9.0),
        ],
        "ts_s string, user_id int, value double",
    ).select(F.to_timestamp("ts_s").alias("ts"), "user_id", "value")
    out = session_window_totals(events).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append((str(r.session_start), r.n_events))
    assert sorted(by_user[1]) == [("2024-01-01 00:00:00", 2), ("2024-01-01 01:00:00", 1)]
    assert by_user[2] == [("2024-01-01 00:00:00", 1)]


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join pairs signup→purchase within the
    interval; out-of-window and wrong-user purchases don't pair."""
    from pyspark.sql import functions as F

    from emission_project_spark.streaming.dedup import interval_join_streams

    sdir, pdir = tmp_path / "s", tmp_path / "p"
    sdir.mkdir(); pdir.mkdir()
    (sdir / "s.csv").write_text(
        "user_id,sts,sid\n"
        "1,2024-01-01 10:00:00,100\n"
        "2,2024-01-01 10:05:00,200\n"
    )
    (pdir / "p.csv").write_text(
        "user_id,pts,pid\n"
        "1,2024-01-01 10:30:00,900\n"   # within 1h of signup 100 → pairs
        "1,2024-01-01 12:00:00,901\n"   # beyond 1h → no pair
        "3,2024-01-01 10:10:00,902\n"   # no matching signup
    )

    def stream(d, schema):
        return (
            spark.readStream.format("csv").schema(schema).option("header", "true").load(str(d))
        )

    s = stream(sdir, "user_id bigint, sts timestamp, sid int")
    p = stream(pdir, "user_id bigint, pts timestamp, pid int")
    joined = interval_join_streams(
        s, p.select(F.col("user_id"), "pts", "pid"),
        key="user_id", left_ts="sts", right_ts="pts",
        lateness="5 minutes", window_seconds=3600,
    )
    q = (
        joined.select("sid", "pid")
        .writeStream.format("memory")
        .queryName("ss_join_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted((r.sid, r.pid) for r in spark.sql("SELECT * FROM ss_join_out").collect())
    assert rows == [(100, 900)]


def test_streaming_session_windows(spark, tmp_path):
    """Native session windows maintained in the state store: events
    under the gap merge into one session; the session finalizes (emits
    in append mode) only once the watermark passes its end, so the
    still-open session around the sentinel event stays unemitted —
    bounded state, incremental emission."""
    from emission_project_spark.streaming.stateful import session_window_totals

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    (incoming / "a.csv").write_text(
        "user_id,ts,value\n"
        "1,2024-01-01 10:00:00,1.5\n"
        "1,2024-01-01 10:10:00,2.5\n"   # gap 10m < 30m → merges
        # sentinel far past session end: watermark (max ts − 10m)
        # passes 10:40:00, finalizing the session; its own session
        # stays open and must NOT emit
        "1,2024-01-01 20:00:00,9.0\n"
    )
    stream = (
        spark.readStream.format("csv")
        .schema("user_id bigint, ts timestamp, value double")
        .option("header", "true")
        .load(str(incoming))
    )
    q = (
        session_window_totals(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("session_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, session_start, session_end, n_events, total_value"
        " FROM session_out"
    ).collect()
    assert len(rows) == 1
    (r,) = rows
    assert (r.user_id, r.n_events, r.total_value) == (1, 2, 4.0)
    assert r.session_start.strftime("%H:%M:%S") == "10:00:00"
    assert r.session_end.strftime("%H:%M:%S") == "10:40:00"  # max ts + gap


def test_streaming_windowed_distinct(spark, tmp_path):
    """HLL-backed distinct users per tumbling window on a stream:
    windows finalize in append mode once the watermark passes their
    end; the open window around the sentinel stays unemitted. At these
    cardinalities HLL++ runs in sparse mode, so the streamed estimates
    are exactly the batch-exact distinct counts."""
    from emission_project_spark.streaming.stateful import windowed_distinct_users

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    (incoming / "a.csv").write_text(
        "user_id,event_type,ts\n"
        "1,click,2024-01-01 10:05:00\n"
        "2,click,2024-01-01 10:15:00\n"
        "1,click,2024-01-01 10:25:00\n"   # repeat user — not double-counted
        "3,view,2024-01-01 10:45:00\n"
        # sentinel: watermark (max ts − 10m) passes 11:00, finalizing
        # the 10:00 window; the 20:00 window stays open, must not emit
        "9,click,2024-01-01 20:00:00\n"
    )
    stream = (
        spark.readStream.format("csv")
        .schema("user_id bigint, event_type string, ts timestamp")
        .option("header", "true")
        .load(str(incoming))
    )
    q = (
        windowed_distinct_users(stream)
        .writeStream.format("memory")
        .queryName("wdist_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wdist"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT window_start, event_type, approx_users FROM wdist_out"
    ).collect()
    got = {
        (r.window_start.strftime("%H:%M"), r.event_type): r.approx_users
        for r in rows
    }
    assert got == {("10:00", "click"): 2, ("10:00", "view"): 1}


def test_streaming_neardup_filter(spark, tmp_path):
    """Near-dup filter on a document stream: per-row minhash bucket
    (narrow expression — legal upstream of the stateful dedup) +
    dropDuplicates on the bucket. A re-delivered text in a LATER
    micro-batch is suppressed by bucket state from the first batch;
    shingle-less docs take the unique fallback bucket and always
    survive."""
    from emission_project_spark.streaming.dedup import minhash_keyed

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    (incoming / "a.csv").write_text(
        "doc_id,text\n"
        '1,"alpha beta gamma delta epsilon zeta"\n'
        '3,"one two three four five six"\n'
    )
    (incoming / "b.csv").write_text(
        "doc_id,text\n"
        '4,"alpha beta gamma delta epsilon zeta"\n'   # same bucket as 1
        '5,"seven eight nine ten eleven twelve"\n'    # novel
        '6,"hi"\n'                                    # < 3 tokens: fallback bucket
    )
    # pin batch order: the file source orders by modification time, and
    # back-to-back writes can land on the same mtime tick
    os.utime(incoming / "a.csv", (1000000000, 1000000000))
    os.utime(incoming / "b.csv", (1000000100, 1000000100))
    stream = (
        spark.readStream.format("csv")
        .schema("doc_id bigint, text string")
        .option("header", "true")
        .option("maxFilesPerTrigger", "1")   # force two micro-batches
        .load(str(incoming))
    )
    q = (
        minhash_keyed(stream).dropDuplicates(["bucket"])
        .writeStream.format("memory")
        .queryName("neardup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_neardup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id, bucket FROM neardup_out").collect()
    survivors = {r.doc_id for r in rows}
    assert survivors == {1, 3, 5, 6}
    buckets = {r.doc_id: r.bucket for r in rows}
    assert buckets[6] == -7  # -(doc_id) - 1 fallback, unique per doc


def test_session_window_gap_boundary_semantics(spark):
    """Pin the closed merge boundary the oracle mirrors: Spark merges an
    event landing EXACTLY at prev ts + gap into the open session (merge
    when new start <= session end), so only an event strictly past
    ts + gap starts a new session. The gaps-and-islands oracle must use
    `ts > lag + gap`, not `>=` — the testdata's µs-resolution stamps
    never land on the boundary, so only this test guards it."""
    import datetime

    from emission_project_spark.streaming.stateful import session_window_totals

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def rows_at(offset_s):
        return [
            (1, t0, 1.0),
            (1, t0 + datetime.timedelta(seconds=offset_s), 2.0),
        ]

    df_at = spark.createDataFrame(rows_at(1800), "user_id bigint, ts timestamp, value double")
    out_at = session_window_totals(df_at, gap="30 minutes").collect()
    assert len(out_at) == 1  # exactly at gap → still merges (closed end)
    assert out_at[0].n_events == 2

    df_past = spark.createDataFrame(rows_at(1801), "user_id bigint, ts timestamp, value double")
    out_past = sorted(
        session_window_totals(df_past, gap="30 minutes").collect(),
        key=lambda r: r.session_start,
    )
    assert len(out_past) == 2  # strictly past gap → new session
    assert [r.n_events for r in out_past] == [1, 1]


def test_stream_stream_left_outer_join(spark, tmp_path):
    """Left-outer stream-stream join: matched pairs emit as in the
    inner join; an unmatched signup emits with NULL purchase columns
    only after the watermark passes its window end (proving the
    negative requires watermark progress — batch 2's far-future
    sentinel provides it)."""
    import os

    from pyspark.sql import functions as F

    from emission_project_spark.streaming.dedup import interval_join_streams

    sdir, pdir = tmp_path / "s", tmp_path / "p"
    sdir.mkdir(); pdir.mkdir()
    (sdir / "s1.csv").write_text(
        "user_id,sts,sid\n"
        "1,2024-01-01 10:00:00,100\n"   # converts (purchase 900)
        "2,2024-01-01 10:05:00,200\n"   # never converts → NULL row
    )
    # batch 2: a far-future signup pushes the watermark past signup
    # 200's window end (11:05 + lateness), forcing its NULL emission.
    (sdir / "s2.csv").write_text(
        "user_id,sts,sid\n"
        "9,2024-01-02 00:00:00,300\n"
    )
    os.utime(sdir / "s1.csv", (1000000000, 1000000000))
    os.utime(sdir / "s2.csv", (1000000100, 1000000100))
    (pdir / "p.csv").write_text(
        "user_id,pts,pid\n"
        "1,2024-01-01 10:30:00,900\n"   # within 1h of signup 100
        "9,2024-01-02 00:30:00,901\n"   # keeps the purchase watermark moving too
    )

    def stream(d, schema):
        return (
            spark.readStream.format("csv").schema(schema)
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .load(str(d))
        )

    s = stream(sdir, "user_id bigint, sts timestamp, sid int")
    p = stream(pdir, "user_id bigint, pts timestamp, pid int")
    joined = interval_join_streams(
        s, p,
        key="user_id", left_ts="sts", right_ts="pts",
        lateness="5 minutes", window_seconds=3600, how="left_outer",
    )
    q = (
        joined.select("sid", "pid")
        .writeStream.format("memory")
        .queryName("ss_loj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = sorted(
        (r.sid, r.pid) for r in spark.sql("SELECT * FROM ss_loj_out").collect()
    )
    assert (100, 900) in rows                      # the match
    assert (200, None) in rows                     # watermark-proven abandonment
    assert (200, 900) not in rows and (200, 901) not in rows


def test_interval_join_rejects_unknown_how(spark):
    import pytest

    from emission_project_spark.streaming.dedup import interval_join_streams

    df = spark.range(1).select(
        F.col("id").alias("user_id"),
        F.current_timestamp().alias("ts"),
    )
    with pytest.raises(ValueError, match="left_outer"):
        interval_join_streams(df, df, key="user_id", left_ts="ts", right_ts="ts", how="full")
