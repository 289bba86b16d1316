"""Multimodal plumbing: binary payload columns + Arrow-batched feature
extraction (real plumbing, stubbed decode per the environment)."""

from __future__ import annotations

import pytest

from emission_project_spark.catalog.tables import load_table
from emission_project_spark.extensions.multimodal import (
    attach_payload,
    decode_image,
    extract_features,
    fake_image_decoder,
)


def test_extract_features_with_fake_decoder(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(10)
    feats = extract_features(attach_payload(docs), decoder=fake_image_decoder)
    rows = feats.collect()
    assert len(rows) == 10
    assert all(r.ok and 1 <= r.width <= 640 and 1 <= r.n_frames <= 16 for r in rows)


def test_extract_features_stub_decoder_flags_not_ok(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(3)
    rows = extract_features(attach_payload(docs)).collect()  # real (stub) decoder
    assert len(rows) == 3
    assert all((not r.ok) and r.width is None for r in rows)


def test_decode_image_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00")


def test_decode_image_dispatches_to_installed_decoder(monkeypatch):
    """decode_image probes PIL at call time: with a stand-in module
    installed it must decode through it (proving the dispatch), and the
    NotImplementedError fallback only fires when the import fails."""
    import sys
    import types

    from emission_project_spark.extensions import multimodal as mm

    class _FakeImage:
        width, height, n_frames = 320, 240, 5

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    fake_pil = types.ModuleType("PIL")
    fake_pil_image = types.ModuleType("PIL.Image")
    fake_pil_image.open = lambda buf: _FakeImage()
    fake_pil.Image = fake_pil_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_pil_image)
    assert mm.decode_image(b"\x89PNG") == (320, 240, 5)


def test_extract_features_quarantines_corrupt_payloads(spark, sf_dir):
    """Triage contract: a decoder blowing up on one payload must mark
    that row ok=False, not kill the job (corrupt media is routine at
    corpus scale)."""

    def flaky(payload: bytes):
        if len(payload) % 2 == 0:
            raise ValueError("corrupt image")
        return (10, 10, 1)

    docs = load_table(spark, sf_dir, "documents").limit(8)
    rows = extract_features(attach_payload(docs), decoder=flaky).collect()
    assert len(rows) == 8
    assert {r.ok for r in rows} == {True, False}
    assert all(r.width == 10 for r in rows if r.ok)
    assert all(r.width is None for r in rows if not r.ok)


def test_perceptual_hash_deterministic_and_signed(spark):
    from emission_project_spark.extensions.multimodal import (
        attach_payload,
        gray8x8_fake,
        perceptual_hash,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = attach_payload(docs.limit(50))
    h1 = {r["doc_id"]: r["phash"]
          for r in perceptual_hash(media, gray8x8_fake).collect()}
    h2 = {r["doc_id"]: r["phash"]
          for r in perceptual_hash(media.repartition(5), gray8x8_fake).collect()}
    assert h1 == h2 and len(h1) == 50
    assert all(-(2**63) <= v < 2**63 for v in h1.values())


def test_phash_neardup_finds_planted_pairs(spark):
    """Exact copies pair at hamming 0; a lightly-perturbed copy pairs
    within the threshold; unrelated payloads don't pair."""
    from emission_project_spark.extensions.multimodal import (
        gray8x8_fake,
        perceptual_hash,
        phash_candidate_pairs,
    )

    import numpy as np

    rng = np.random.default_rng(3)
    base = bytes(rng.integers(0, 256, 4096, dtype=np.uint8))
    # perturb a single byte -> at most one grid cell flips
    near = bytearray(base)
    near[100] ^= 0xFF
    rows = [
        (1, bytearray(base)),
        (2, bytearray(base)),              # exact copy of 1
        (3, bytes(near)),                  # near copy of 1
        (4, bytes(rng.integers(0, 256, 4096, dtype=np.uint8))),
        (5, bytes(rng.integers(0, 256, 2048, dtype=np.uint8))),
    ]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashes = perceptual_hash(media, gray8x8_fake)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in phash_candidate_pairs(hashes, bands=4)
        .filter("hamming <= 3")
        .collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert (2, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_phash_recall_guard_and_cap(spark):
    from emission_project_spark.extensions.multimodal import (
        gray8x8_fake,
        perceptual_hash,
        phash_candidate_pairs,
    )

    media = spark.createDataFrame(
        [(i, bytes([i % 7] * 128)) for i in range(10)],
        "doc_id long, payload binary",
    )
    hashes = perceptual_hash(media, gray8x8_fake)
    # constant-grid payloads all hash to 0 -> one giant bucket; the cap
    # drops it entirely
    assert (
        phash_candidate_pairs(hashes, bands=4, max_bucket=3)
        .filter("hamming <= 3")
        .count() == 0
    )


def test_phash_real_decoder_raises_without_pil(spark):
    from emission_project_spark.extensions.multimodal import gray8x8_real

    import pytest as _pytest

    try:
        import PIL  # noqa: F401

        _pytest.skip("PIL available in this environment")
    except ImportError:
        pass
    with _pytest.raises(NotImplementedError):
        gray8x8_real(b"not-an-image")
