"""Multimodal column operators — image/audio/video as opaque BINARY
columns with typed metadata, processed in Arrow-batched Python.

The Spark-side plumbing (schema, partitioning, batch shape, UDF
signatures) is real and tested; the codec step is stubbed because
this container ships no image/audio libraries. Each worker follows
the same pattern:

    binary column → arrow_stage (Arrow batches) → typed rows

and takes a ``decode`` callable so a real deployment drops in
Pillow/ffmpeg without touching the plan. The deterministic fake
decoder lets every pipeline stage downstream of decode be exercised
and hash-checked.

At 100 TB: payloads stay opaque bytes end to end (no JVM↔Python
string conversion), `spark.sql.execution.arrow.maxRecordsPerBatch`
bounds batch memory against payload size, and partition counts are
the GPU/CPU decode concurrency knob.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from metadata_wrangler_spark.operators.arrow_stage import arrow_stage


def _fake_pixels(payload: bytes, w: int, h: int) -> list[int]:
    """Deterministic stand-in for a decoded grayscale image: one
    byte per pixel derived from md5(payload || coordinates)."""
    out = []
    seed = hashlib.md5(payload).digest()
    for i in range(w * h):
        out.append(seed[i % 16] ^ (i & 0xFF))
    return out


def stub_decode(payload: bytes) -> dict:
    """STUB codec. Real deployments replace with e.g.
    ``PIL.Image.open(io.BytesIO(payload))``; raising here documents
    the boundary when someone expects true decoding.

    Returns fake but deterministic (width, height, pixels).
    """
    if payload[:6] not in (b"GIF89a", b"FAKEIM"):
        raise NotImplementedError(
            "real image decoding needs a codec library not present "
            "in this container; payloads must carry a known fake "
            "prefix for the deterministic stand-in"
        )
    w, h = 8, 6
    return {"width": w, "height": h, "pixels": _fake_pixels(payload, w, h)}


IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_luma", T.DoubleType()),
    T.StructField("thumb_8x6_md5", T.StringType()),
])


def image_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decode: Callable[[bytes], dict] = stub_decode,
) -> DataFrame:
    """decode → feature-extract: dimensions, mean luminance, and an
    md5 of the (stub-)resized thumbnail."""

    def decode_image(pdf):
        rows = {k.name: [] for k in IMAGE_FEATURES_SCHEMA.fields}
        for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
            img = decode(bytes(payload))
            px = img["pixels"]
            rows["doc_id"].append(int(doc_id))
            rows["width"].append(img["width"])
            rows["height"].append(img["height"])
            rows["mean_luma"].append(sum(px) / len(px))
            # thumbnail fingerprint over the SERIALIZED pixel
            # vector (portable to any engine/oracle)
            rows["thumb_8x6_md5"].append(
                hashlib.md5(
                    ",".join(str(p) for p in px).encode()
                ).hexdigest()
            )
        return rows

    # NULL payloads (no media delivered) are excluded, the same
    # way SQL aggregates skip NULLs — never a worker crash.
    return arrow_stage(
        df.select(id_col, payload_col), "mm_decode_image",
        IMAGE_FEATURES_SCHEMA, decode_image, not_null=payload_col,
    )


FRAME_SAMPLE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_no", T.IntegerType()),
    T.StructField("frame_md5", T.StringType()),
])


def sample_frames(
    df: DataFrame,
    every_nth: int = 10,
    n_frames: int = 30,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Video frame sampling plumbing: one payload in, one row per
    sampled frame out (UDTF shape). Frames are deterministic fakes
    (md5(payload || frame index)); a real deployment replaces the
    frame loop with an ffmpeg/pyav iterator — the schema, the
    every-nth policy, and the row explosion stay identical."""

    def sample(pdf):
        rows = {"doc_id": [], "frame_no": [], "frame_md5": []}
        for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
            for frame_no in range(0, n_frames, every_nth):
                h = hashlib.md5(
                    bytes(payload) + b"#" + str(frame_no).encode()
                ).hexdigest()
                rows["doc_id"].append(int(doc_id))
                rows["frame_no"].append(frame_no)
                rows["frame_md5"].append(h)
        return rows

    # NULL payloads (no media delivered) are excluded, the same
    # way SQL aggregates skip NULLs — never a worker crash.
    return arrow_stage(
        df.select(id_col, payload_col), "mm_sample_frames",
        FRAME_SAMPLE_SCHEMA, sample, not_null=payload_col,
    )


AUDIO_WINDOW_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("window_no", T.IntegerType()),
    T.StructField("sum_abs", T.LongType()),
    T.StructField("peak", T.LongType()),
    T.StructField("energy", T.LongType()),
    T.StructField("window_md5", T.StringType()),
])


def _fake_pcm(payload: bytes, n_samples: int) -> list[int]:
    """Deterministic stand-in for decoded PCM: one centered sample
    per md5(payload) byte (range [-128, 127])."""
    seed = hashlib.md5(payload).digest()
    return [seed[i % 16] - 128 for i in range(n_samples)]


def audio_window_features(
    df: DataFrame,
    window: int = 8,
    hop: int = 4,
    n_samples: int = 16,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decode: Callable[[bytes], list[int]] | None = None,
) -> DataFrame:
    """Audio plumbing: one payload in, one row per OVERLAPPING
    analysis window out (window/hop framing — the STFT-shaped
    explosion every audio featurizer does). The PCM decode is a
    deterministic fake behind the same seam as the image/video
    codecs (swap in soundfile/ffmpeg via ``decode``); the framing
    policy, integer features (sum|x|, peak, energy) and fingerprint
    are the production path and are hash-checked.
    """
    decode = decode or (lambda p: _fake_pcm(p, n_samples))

    def frame_windows(pdf):
        rows = {k.name: [] for k in AUDIO_WINDOW_SCHEMA.fields}
        for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
            samples = decode(bytes(payload))
            for w_no, start in enumerate(
                range(0, len(samples) - window + 1, hop)
            ):
                win = samples[start:start + window]
                rows["doc_id"].append(int(doc_id))
                rows["window_no"].append(w_no)
                rows["sum_abs"].append(sum(abs(x) for x in win))
                rows["peak"].append(max(abs(x) for x in win))
                rows["energy"].append(sum(x * x for x in win))
                rows["window_md5"].append(
                    hashlib.md5(
                        ",".join(str(x) for x in win).encode()
                    ).hexdigest()
                )
        return rows

    # NULL payloads (no media delivered) are excluded, the same
    # way SQL aggregates skip NULLs — never a worker crash.
    return arrow_stage(
        df.select(id_col, payload_col), "mm_audio_windows",
        AUDIO_WINDOW_SCHEMA, frame_windows, not_null=payload_col,
    )
