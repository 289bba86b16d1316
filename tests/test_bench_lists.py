"""Every query name bench.py times must resolve in the registry — a
typo here would only surface when the external driver runs the bench,
long after the commit that introduced it."""

from __future__ import annotations

import os

import bench
import __spark_entry__ as entrymod


def test_bench_lists_resolve():
    """Every manifest row, and so every derived list (HEADLINE, each
    rN_extras block, the sf1 and sf10 decades), names a registered
    query, and every row is timed somewhere."""
    registered = set(entrymod.queries())
    unknown = [n for n in bench.MANIFEST if n not in registered]
    assert unknown == [], unknown
    for name, row in bench.MANIFEST.items():
        assert row.block is not None or row.sf1 or row.band, name
    derived = (
        bench.HEADLINE
        + [n for names in bench.EXTRA_BLOCKS.values() for n in names]
        + bench.SF1
        + list(bench.SF10_BANDS)
    )
    assert set(derived) == set(bench.MANIFEST)


def test_py_calibration_probe_is_gil_bound():
    """The pure-python probe pair must exist and a 2-worker fork run
    must land within 2x of a single worker on any non-saturated host —
    the property a BLAS-threaded probe lacks (a numpy matmul probe read
    ~7x on an idle 32-core box)."""
    single = bench.cpu_calibration_py()
    mt = bench.cpu_calibration_py_mt(n_workers=2)
    assert 0 < single < 10 and 0 < mt < 20


def test_proc_stat_steal_probe():
    """The round-9 co-tenant audit: read_proc_stat returns a
    monotone (steal, total) pair and steal_pct_since handles the
    degenerate cases (None snapshot, zero elapsed) without raising."""
    import time

    snap = bench.read_proc_stat()
    assert snap is not None  # linux container: /proc/stat exists
    steal, total = snap
    assert steal >= 0 and total > steal
    assert bench.steal_pct_since(None) is None
    # an immediate re-read may land inside the same scheduler tick
    # (zero elapsed jiffies → None) or one tick later (a valid pct) —
    # both are correct; only an exception or a wild value is a bug
    quick = bench.steal_pct_since(snap)
    assert quick is None or 0.0 <= quick <= 100.0
    time.sleep(1.2)
    pct = bench.steal_pct_since(snap)
    assert pct is not None and 0.0 <= pct <= 100.0


def test_py_calibration_is_median_of_three():
    """cpu_calibration_py medians 3 GIL-bound loops (the r9 fix for
    the 0.33-0.50 s single-shot turbo spread) — it must return a
    plausible per-loop time, not the 3-loop total."""
    t = bench.cpu_calibration_py()
    assert 0.05 < t < 5.0


def test_sf10_expected_bands_reference_heavy_queries():
    """Every sf10 band names a registered query (a rename would
    silently orphan its band) and is a real envelope, 0 < lo < hi."""
    qs = entrymod.queries()
    for name, (lo, hi) in bench.SF10_BANDS.items():
        assert name in qs, name
        assert 0 < lo < hi, name


def test_py_mt_probe_default_workers_follow_host_cores(monkeypatch):
    """The all-cores probe forks one worker per core this process may
    run on (session.DEFAULT_CPUS's rule): more workers than cores
    measure oversubscription, not co-tenant theft."""
    import multiprocessing as mp

    started = []
    ctx = mp.get_context("fork")

    class CountingContext:
        def Queue(self):
            return ctx.Queue()

        def Process(self, *args, **kwargs):
            started.append(1)
            return ctx.Process(*args, **kwargs)

    monkeypatch.setattr(mp, "get_context", lambda method: CountingContext())
    assert bench.cpu_calibration_py_mt() > 0
    assert len(started) == len(os.sched_getaffinity(0))


def test_mem_fault_probe_returns_plausible_bandwidth():
    """First-touch probe (round 12): GB/s in the physically possible
    range — the measured host envelope spans 0.01 (degraded window) to
    a few GB/s (quiet); anything outside [0.001, 100] is a unit bug."""
    v = bench.mem_fault_calibration()
    assert 0.001 <= v <= 100.0
