"""Multimodal columns: image/video as opaque binary + metadata.

The Spark-side plumbing is real — typed schema, Arrow-batched
``mapInPandas`` feature extraction — and
``decode_image`` dispatches to PIL when it is importable executor-side
(probed at call time). In containers without media libraries (such as
this one) it raises ``NotImplementedError``, which the tolerant
``extract_features`` path records as ``ok=False``; tests and oracle
queries run through ``fake_image_decoder``, a deterministic stand-in
with the same signature and batch shape a real (PIL/ffmpeg) decoder
has.

Scale design: payloads never pass through the driver; ``mapInPandas``
streams Arrow batches executor-side (a 100 MB video row can't be
batched 1000-wide — cap via
``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, media_type string, width int, height int, n_frames int, ok boolean"
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Demo payload column: utf-8 bytes of the text stand in for a real
    media blob. Real ingestion would read binary files via
    ``spark.read.format('binaryFile')`` — identical downstream shape."""
    return docs.select(
        "doc_id",
        F.lit("image/fake").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def decode_image(payload: bytes) -> tuple[int, int, int]:
    """Real decoder: dispatches to PIL when it is importable (checked
    at CALL time, executor-side — the driver environment is
    irrelevant), else raises ``NotImplementedError`` so the tolerant
    path (``extract_features``'s ``ok=False``) degrades gracefully in
    containers without media libraries (such as this one)."""
    try:
        from PIL import Image  # noqa: PLC0415 - optional, probed per call site
    except ImportError as exc:
        raise NotImplementedError(
            "image decoding requires PIL/libvips; not in this container"
        ) from exc
    import io

    with Image.open(io.BytesIO(payload)) as im:
        return im.width, im.height, int(getattr(im, "n_frames", 1))


def fake_image_decoder(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in: derives (width, height, n_frames) from
    payload bytes — same contract as ``decode_image``."""
    n = len(payload)
    return (n % 640 + 1, n % 480 + 1, n % 16 + 1)


def _pickle_by_value() -> None:
    # ship this module's functions by VALUE: executors' Python workers
    # need no emission_project_spark on their PYTHONPATH (the driver may
    # have been launched from anywhere)
    try:
        from pyspark import cloudpickle as _cp
        import sys as _sys

        _cp.register_pickle_by_value(_sys.modules[__name__])
    except Exception:  # noqa: BLE001 - best-effort; repo-on-path still works
        pass


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes], tuple[int, int, int]] = decode_image,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads."""
    _pickle_by_value()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mtype, payload in zip(pdf["doc_id"], pdf["media_type"], pdf["payload"]):
                try:
                    w, h, nf = decoder(bytes(payload))
                    rows.append((doc_id, mtype, w, h, nf, True))
                except Exception:  # noqa: BLE001 - triage pass: corrupt
                    # payloads are routine at corpus scale; one bad image
                    # must not kill the job. ok=False marks the row for
                    # quarantine; strict ops (resize/frame-sample) run on
                    # payloads this pass has already validated.
                    rows.append((doc_id, mtype, None, None, None, False))
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_type", "width", "height", "n_frames", "ok"]
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, out_width int, out_height int, resized_md5 string"
)


def resize_images(
    media: DataFrame,
    target_w: int,
    target_h: int,
    decoder: Callable[[bytes], tuple[int, int, int]] = decode_image,
) -> DataFrame:
    """Aspect-preserving fit-within-box resize over binary payloads.

    Real pipeline: decode → PIL/libvips ``thumbnail`` → re-encode bytes.
    Here the *geometry* (scale = min(tw/w, th/h, 1), floor, never
    upscale) and the Arrow/mapInPandas plumbing are real; the pixel
    resample is stubbed — ``resized_md5`` digests the original payload
    as a stand-in for the re-encoded image bytes.
    """
    _pickle_by_value()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                w, h, _nf = decoder(buf)
                scale = min(target_w / w, target_h / h, 1.0)
                ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
                rows.append((doc_id, w, h, ow, oh, hashlib.md5(buf).hexdigest()))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "out_width", "out_height", "resized_md5"],
            )

    return media.mapInPandas(run, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, n_frames int, frame_idx int, frame_md5 string"


def sample_frames(
    media: DataFrame,
    every_n: int = 4,
    decoder: Callable[[bytes], tuple[int, int, int]] = decode_image,
) -> DataFrame:
    """Every-Nth-frame sampling over video payloads — one output row per
    sampled frame (a fan-out map, so mapInPandas not a scalar UDF).

    Real pipeline: ffmpeg/pyav seek+decode per kept frame. Here the
    frame *selection* (indices 0, N, 2N, … < n_frames) and the
    batch-streaming plumbing are real; the decoded frame bytes are
    stubbed as md5(payload ‖ ':' ‖ frame_idx).
    """
    _pickle_by_value()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                _w, _h, nf = decoder(buf)
                for idx in range(0, nf, every_n):
                    digest = hashlib.md5(buf + b":" + str(idx).encode()).hexdigest()
                    rows.append((doc_id, nf, idx, digest))
            yield pd.DataFrame(rows, columns=["doc_id", "n_frames", "frame_idx", "frame_md5"])

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup: the multimodal counterpart of the
# text dedup kit. aHash (average hash): downsample to an 8x8 grayscale
# grid, threshold at the grid mean, pack 64 bits; visually-identical
# images land within a few bits of each other, so near-dup = hamming
# distance <= t. Candidate generation reuses the kit's banding
# discipline: split the 64-bit hash into ``bands`` segments - a pair
# within hamming t must agree EXACTLY on at least one band when
# t < bands (pigeonhole), so candidates come from same-band-value
# buckets (bucket-array pair-gen, no self-join) and the exact
# bit_count(xor) filter runs JVM-side on the candidates only.


def gray8x8_real(payload: bytes) -> "list[int]":
    """PIL path: decode, convert to grayscale, resize to 8x8."""
    try:
        from PIL import Image  # noqa: PLC0415 - optional, probed per call
    except ImportError as exc:
        raise NotImplementedError(
            "image decoding requires PIL; not in this container"
        ) from exc
    import io

    with Image.open(io.BytesIO(payload)) as im:
        px = list(im.convert("L").resize((8, 8)).getdata())
    return px


def gray8x8_fake(payload: bytes) -> "list[int]":
    """Deterministic stand-in with the same contract: resample the
    payload bytes to a 64-value grid (empty payload -> zeros)."""
    if not payload:
        return [0] * 64
    n = len(payload)
    return [payload[(i * n) // 64] for i in range(64)]


def _ahash_bits(grid: "list[int]") -> int:
    mean = sum(grid) / 64.0
    h = 0
    for i, v in enumerate(grid):
        if v > mean:
            h |= 1 << i
    return h - (1 << 64) if h >= (1 << 63) else h  # signed-64 wrap


def perceptual_hash(
    media: DataFrame,
    grid_fn: Callable[[bytes], "list[int]"] = gray8x8_real,
) -> DataFrame:
    """(doc_id, phash bigint) via one Arrow-batched pass."""
    _pickle_by_value()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [
                        _ahash_bits(grid_fn(bytes(p))) for p in pdf["payload"]
                    ],
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        gen, schema="doc_id bigint, phash bigint"
    )


def phash_candidate_pairs(
    hashes: DataFrame,
    bands: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every DISTINCT same-band-value
    candidate pair — the raw LSH candidate relation with its exact
    hamming distance attached, before any threshold. Hot buckets
    beyond ``max_bucket`` are dropped before any pair materializes
    (the dedup-kit cap discipline; report separately if needed)."""
    width = 64 // bands
    mask = (1 << width) - 1
    banded = hashes.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("phash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "phash", "bv.band", "bv.val")
    buckets = banded.groupBy("band", "val").agg(
        F.sort_array(
            F.collect_list(F.struct("doc_id", "phash"))
        ).alias("members")
    )
    small = buckets.filter(F.size("members").between(2, max_bucket))
    n = F.size("members")
    pair_structs = F.flatten(
        F.transform(
            "members",
            lambda x, i: F.transform(
                F.slice(
                    F.col("members"), i + 2, F.greatest(n - i - 1, F.lit(0))
                ),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    F.bit_count(
                        x["phash"].bitwiseXOR(y["phash"])
                    ).alias("hamming"),
                ),
            ),
        )
    )
    return (
        small.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
    )
