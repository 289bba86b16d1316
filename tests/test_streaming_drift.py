"""Streaming PSI drift monitor (streaming/drift.py): planted-drift
detection in batch mode (same code path — the aggregate is identical),
a true readStream run with watermark + availableNow, and the
reference-freezing helper's smoothing invariants. The oracle-checked
batch twin is stream_psi_drift_batch (tools/compare.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from emission_project_spark.streaming.drift import (
    N_BINS,
    reference_proportions,
    value_bin,
    windowed_psi,
)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "ts_s string, value double"
    ).select(F.to_timestamp("ts_s").alias("ts"), "value")


def _clean_hour(hour, n=50):
    # uniform-ish: values cycle through all ten bins
    return [
        (f"2024-01-01 {hour:02d}:{i % 60:02d}:00", float((i % 10) * 50 + 25))
        for i in range(n)
    ]


class TestWindowedPsiBatchMode:
    def test_planted_drift_window_flags(self, spark):
        # hours 0 and 1 match the reference shape; hour 2 collapses
        # into bin 0 — only hour 2 may cross the action threshold
        rows = _clean_hour(0) + _clean_hour(1) + [
            (f"2024-01-01 02:{i % 60:02d}:00", 5.0) for i in range(50)
        ]
        ev = _mk_events(spark, rows)
        ref = reference_proportions(_mk_events(spark, _clean_hour(0)))
        out = {str(r.window_start): r for r in windowed_psi(ev, ref).collect()}
        assert len(out) == 3
        assert not out["2024-01-01 00:00:00"].drift_action
        assert not out["2024-01-01 01:00:00"].drift_action
        assert out["2024-01-01 02:00:00"].drift_action
        assert out["2024-01-01 02:00:00"].psi > out["2024-01-01 00:00:00"].psi * 10

    def test_identical_distribution_scores_near_zero(self, spark):
        ev = _mk_events(spark, _clean_hour(0))
        ref = reference_proportions(ev)
        (row,) = windowed_psi(ev, ref).collect()
        assert row.n_events == 50
        assert abs(row.psi) < 1e-6  # same smoothed proportions both sides
        assert not row.drift_action

    def test_matches_pure_python_psi(self, spark):
        rows = _clean_hour(0, n=37) + [("2024-01-01 00:30:00", 499.0)] * 3
        ev = _mk_events(spark, rows)
        ref = [1.0 / N_BINS] * N_BINS
        (row,) = windowed_psi(ev, ref).collect()
        counts = [0] * N_BINS
        for _, v in rows:
            counts[min(int(v // 50), N_BINS - 1)] += 1
        n = sum(counts)
        psi = sum(
            ((c + 0.5) / (n + 5.0) - r) * math.log(((c + 0.5) / (n + 5.0)) / r)
            for c, r in zip(counts, ref)
        )
        assert row.n_events == n
        assert abs(row.psi - round(psi, 6)) < 1e-9

    def test_reference_smoothing_never_zero(self, spark):
        # single-bin corpus: every other bin still gets finite mass
        ev = _mk_events(spark, [("2024-01-01 00:00:00", 5.0)] * 10)
        ref = reference_proportions(ev)
        assert len(ref) == N_BINS
        assert all(r > 0 for r in ref)
        assert abs(sum(ref) - 1.0) < 1e-12
        assert ref[0] == (10 + 0.5) / (10 + 5.0)

    def test_bin_clamp_top(self, spark):
        df = spark.range(1).select(F.lit(9999.0).alias("v"))
        assert df.select(value_bin("v").alias("b")).first().b == N_BINS - 1


class TestWindowedPsiStreaming:
    def test_readstream_flags_planted_window(self, spark, tmp_path):
        incoming = tmp_path / "incoming"
        incoming.mkdir()
        clean = "\n".join(
            f"2024-01-01 00:{i % 60:02d}:00,{float((i % 10) * 50 + 25)}"
            for i in range(50)
        )
        drifted = "\n".join(
            f"2024-01-01 01:{i % 60:02d}:00,5.0" for i in range(50)
        )
        (incoming / "a.csv").write_text("ts,value\n" + clean + "\n")
        (incoming / "b.csv").write_text("ts,value\n" + drifted + "\n")

        stream = (
            spark.readStream.format("csv")
            .schema("ts timestamp, value double")
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .load(str(incoming))
        )
        ref = [1.0 / N_BINS] * N_BINS
        q = (
            windowed_psi(stream, ref)
            .writeStream.format("memory")
            .queryName("psi_drift")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        rows = {str(r.window_start): r for r in
                spark.sql("SELECT * FROM psi_drift").collect()}
        assert len(rows) == 2
        assert not rows["2024-01-01 00:00:00"].drift_action
        assert rows["2024-01-01 01:00:00"].drift_action
        assert rows["2024-01-01 01:00:00"].n_events == 50
