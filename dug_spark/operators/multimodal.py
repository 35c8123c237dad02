"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Not in the reference (Dug's `type` mentions "image" as a study modality
only); required for a training-data pipeline over mixed-modality corpora.

Design: media travel as ``binary`` columns with a typed metadata struct
(mime, width/height or sample-rate, duration).  Per-item work (decode,
feature-extract, resize, frame-sample) runs as Arrow-batched
``mapInPandas`` — the Spark-side plumbing (schema, partition preservation,
batch shape) is real and tested.

Codec status (round 5): image/png, audio/wav AND video/y4m decode are
REAL — pure-stdlib codecs written from the public specs
(dug_spark/functions/codecs.py: zlib+struct PNG with all five scanline
filters; wave-module 16-bit PCM; YUV4MPEG2 uncompressed planar video per
the yuv4mpeg(5) spec, with the public BT.601 integer RGB transform).
The round-3/4 ``deterministic_fake`` stub mode is DELETED — every
operator here decodes for real, and mimes with no stdlib decoder
(image/jpeg, video/mp4 — compressed containers genuinely need external
codecs) raise ``NotImplementedError`` honestly.
"""

from __future__ import annotations

from typing import Iterator

from dug_spark.functions import codecs

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("mime", StringType(), True),
        StructField("features", ArrayType(DoubleType()), True),
    ]
)

FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame", BinaryType(), True),
    ]
)


def media_codec(payload: bytes, mime: str):
    """The decode boundary.  PNG, WAV and Y4M video decode for real via
    the from-spec stdlib codecs; compressed formats (jpeg, mp4, …) have
    no stdlib decoder and raise."""
    if mime == "image/png":
        return codecs.png_features(payload or b"")
    if mime == "audio/wav":
        return codecs.wav_features(payload or b"")
    if mime == "video/y4m":
        return codecs.y4m_features(payload or b"")
    raise NotImplementedError(
        f"no stdlib decoder for {mime}; compressed containers need "
        "external codecs (PIL/pyav) — re-encode media as png/wav/y4m"
    )


def extract_features(media: DataFrame, batch_note: str = "feature") -> DataFrame:
    """binary payload → fixed-width feature vector via mapInPandas.
    Narrow (no shuffle); Arrow batches bound executor memory."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                media_codec(bytes(p) if p is not None else b"", m)
                for p, m in zip(pdf["payload"], pdf["mime"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("object"),
                    "mime": pdf["mime"].astype("object"),
                    "features": pd.Series(feats, dtype="object"),
                }
            )

    return media.select("media_id", "mime", "payload").mapInPandas(
        run, schema=FEATURES_SCHEMA
    )


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize inside the batch loop: REAL for PNG (decode →
    nearest-neighbour resample → re-encode, all from-spec stdlib).
    Non-PNG **image** mimes raise NotImplementedError (same contract as
    media_codec — a caller asking to resize image/jpeg must not silently
    get the original bytes back); audio/video rows pass through untouched
    with their original width/height."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out, ws, hs = [], [], []
            for p, m, w_in, h_in in zip(
                pdf["payload"], pdf["mime"], pdf["width"], pdf["height"]
            ):
                raw = bytes(p) if p is not None else b""
                if m == "image/png":
                    w0, h0, ch, rows = codecs.decode_png(raw)
                    resized = codecs.resize_nearest(w0, h0, ch, rows, width, height)
                    out.append(codecs.encode_png(width, height, ch, resized))
                    ws.append(width)
                    hs.append(height)
                elif m is not None and m.startswith("image/"):
                    raise NotImplementedError(
                        f"no stdlib decoder for {m}; only image/png resizes "
                        "for real — re-encode as png"
                    )
                else:
                    # non-image: pass through with dims untouched (null-safe:
                    # Arrow delivers null ints as NaN)
                    out.append(raw)
                    ws.append(int(w_in) if pd.notna(w_in) else None)
                    hs.append(int(h_in) if pd.notna(h_in) else None)
            res = pdf.copy()
            res["payload"] = pd.Series(out, dtype="object")
            res["width"] = pd.Series(ws, dtype="object")
            res["height"] = pd.Series(hs, dtype="object")
            yield res

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def sample_frames(
    media: DataFrame, every_ms: int = 1000, use_numpy: bool | None = None
) -> DataFrame:
    """REAL video frame sampling (row explosion inside mapInPandas, the
    canonical 1→N media op): Y4M streams decode from spec, one frame is
    kept every ``every_ms`` of video time (integer-exact stride
    ``max(1, every_ms·fps_num // (1000·fps_den))``), and each kept YUV
    frame is converted to RGB (BT.601 integer transform) and re-encoded
    as PNG — so sampled frames feed straight into the existing PNG
    feature/resize machinery.  ``frame_idx`` is the source frame number.
    Non-video rows emit no frames; video mimes without a stdlib decoder
    (mp4/webm) raise."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, m, p in zip(pdf["media_id"], pdf["mime"], pdf["payload"]):
                if m is None or not m.startswith("video/"):
                    continue
                if m != "video/y4m":
                    raise NotImplementedError(
                        f"no stdlib decoder for {m}; only video/y4m "
                        "decodes for real — see media_codec"
                    )
                raw = bytes(p) if p is not None else b""
                w, h, num, den, cs, planes = codecs.decode_y4m(raw)
                step = max(1, (every_ms * num) // (1000 * den))
                for fi in range(0, len(planes), step):
                    rows = codecs.y4m_frame_rgb(
                        w, h, cs, planes[fi], use_numpy=use_numpy
                    )
                    ids.append(mid)
                    idxs.append(fi)
                    frames.append(codecs.encode_png(w, h, 3, rows))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="object"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": pd.Series(frames, dtype="object"),
                }
            )

    return media.select("media_id", "mime", "payload").mapInPandas(
        run, schema=FRAMES_SCHEMA
    )


def synthetic_y4m_payload(i: int, seed: int = 7) -> bytes:
    """One deterministic 8×6 C420jpeg 6-frame 4fps Y4M stream from
    integer formulas (mirrored by the driver-side oracle recompute)."""
    w, h, nframes = 8, 6, 6
    planes = []
    for f in range(nframes):
        y = bytes(
            (x * 7 + yy * 3 + f * 11 + i * 5 + seed) % 256
            for yy in range(h)
            for x in range(w)
        )
        u = bytes(
            (x * 13 + yy * 17 + f * 7 + i) % 256
            for yy in range(h // 2)
            for x in range(w // 2)
        )
        v = bytes(
            (x * 19 + yy * 23 + f * 5 + seed) % 256
            for yy in range(h // 2)
            for x in range(w // 2)
        )
        planes.append((y, u, v))
    return codecs.encode_y4m(w, h, 4, 1, planes, colorspace="420jpeg")


def synthetic_real_media(spark, n: int = 12, seed: int = 7) -> DataFrame:
    """Deterministic VALID media: real PNG images (patterned RGB pixels),
    real 16-bit PCM WAV clips, and real Y4M video streams, generated from
    integer formulas — no external data, decodable by the from-spec
    codecs."""
    rows = []
    for i in range(n):
        if i % 3 == 0:
            w, h = 24, 16
            px = [
                bytearray(
                    b
                    for x in range(w)
                    for b in (
                        (x * 7 + i * 13 + seed) % 256,
                        (y * 11 + i * 5) % 256,
                        (x * y + i) % 256,
                    )
                )
                for y in range(h)
            ]
            payload = codecs.encode_png(w, h, 3, px)
            rows.append((f"r{i:04d}", "image/png", payload, w, h, None, None))
        elif i % 3 == 1:
            samples = [((t * (i + 3) + seed) % 2048 - 1024) * 16 for t in range(400)]
            payload = codecs.encode_wav(8000, 1, samples)
            rows.append((f"r{i:04d}", "audio/wav", payload, None, None, 8000, 50))
        else:
            payload = synthetic_y4m_payload(i, seed)
            # 6 frames at 4 fps → 1500 ms
            rows.append((f"r{i:04d}", "video/y4m", payload, 8, 6, None, 1500))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def synthetic_media(spark, n: int = 32, seed: int = 42) -> DataFrame:
    """Deterministic UNDECODABLE media table (digest payloads) — the
    negative-path fixture: operators must RAISE on these, never silently
    pass garbage through (no external data)."""
    import hashlib

    rows = []
    for i in range(n):
        payload = hashlib.sha256(f"media-{seed}-{i}".encode()).digest() * 4
        mime = ["image/png", "audio/wav", "video/mp4"][i % 3]
        rows.append(
            (
                f"m{i:04d}", mime, payload,
                64 if mime.startswith("image") else None,
                64 if mime.startswith("image") else None,
                16000 if mime.startswith("audio") else None,
                3000 if mime.startswith("video") else None,
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
