"""Multimodal plumbing tests: media feature extraction, frame sampling,
resizing and the from-spec PNG/WAV/Y4M codecs."""

import pytest
from pyspark.sql import functions as F

from dug_spark.operators import multimodal


def test_multimodal_feature_extraction(spark):
    """Real decode of every supported mime (png/wav/y4m) through the
    Arrow plumbing, deterministic across runs."""
    media = multimodal.synthetic_real_media(spark, n=12)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 12
    assert all(len(r["features"]) == 16 for r in feats)
    assert {r["mime"] for r in feats} == {"image/png", "audio/wav", "video/y4m"}
    again = multimodal.extract_features(
        multimodal.synthetic_real_media(spark, n=12)
    ).collect()
    assert {r["media_id"]: tuple(r["features"]) for r in feats} == {
        r["media_id"]: tuple(r["features"]) for r in again
    }
    # video features carry real stream structure, not digests: dims 8×6,
    # 6 frames, 4.0 fps in the first four slots
    vid = next(r for r in feats if r["mime"] == "video/y4m")
    assert vid["features"][:4] == [8.0, 6.0, 6.0, 4.0]


def test_multimodal_decode_undecodable_raises(spark):
    """Digest payloads (and mp4, which has no stdlib codec) must raise —
    there is no fake fallback any more."""
    media = multimodal.synthetic_media(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError|codecs|decoder"):
        multimodal.extract_features(media).collect()


def test_multimodal_frame_sampling(spark):
    """Real Y4M sampling: 6 frames at 4fps, every_ms=500 → stride 2 →
    source frames 0,2,4; each emitted frame is a decodable real PNG of
    the right dimensions."""
    from dug_spark.functions import codecs

    media = multimodal.synthetic_real_media(spark, n=9)
    vids = media.where(F.col("mime") == "video/y4m")
    rows = multimodal.sample_frames(vids, every_ms=500).collect()
    per = {}
    for r in rows:
        per.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 2, 4] for v in per.values())
    assert len(per) == vids.count()
    w, h, ch, _rows = codecs.decode_png(bytes(rows[0]["frame"]))
    assert (w, h, ch) == (8, 6, 3)


def test_multimodal_frame_sampling_mp4_raises(spark):
    media = multimodal.synthetic_media(spark, n=9).where(
        F.col("mime") == "video/mp4"
    )
    with pytest.raises(Exception, match="video/mp4"):
        multimodal.sample_frames(media).collect()


def test_multimodal_resize(spark):
    media = multimodal.synthetic_real_media(spark, n=6).where(
        F.col("mime") == "image/png"
    )
    out = multimodal.resize_images(media, 32, 32).collect()
    assert all(r["width"] == 32 and r["height"] == 32 for r in out)


def test_resize_real_raises_for_non_png_image(spark):
    """A caller asking to really resize image/jpeg must get an error, not
    the original payload silently passed back (same contract as
    media_codec for undecodable mimes)."""
    import pytest as _pytest

    media = multimodal.synthetic_media(spark, n=3).withColumn(
        "mime", F.lit("image/jpeg")
    )
    with _pytest.raises(Exception, match="image/jpeg"):
        multimodal.resize_images(media, 8, 8).collect()


def test_sample_frames_mixed_media(spark):
    """Mixed batches: image/audio rows emit NO frames (a frame sampler's
    contract is video-only), videos emit their sampled frames — and the
    mix must not crash the Arrow batch loop."""
    from dug_spark.operators import multimodal

    media = multimodal.synthetic_real_media(spark, n=12)  # mixed png/wav/y4m
    rows = multimodal.sample_frames(media, every_ms=250).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    # every_ms=250 at 4fps → stride 1 → all 6 source frames, videos only
    assert set(by_media) == {f"r{i:04d}" for i in range(12) if i % 3 == 2}
    assert all(sorted(v) == list(range(6)) for v in by_media.values())


# ---------------------------------------------------------------------------
# Real PNG/WAV codecs (dug_spark/functions/codecs.py — from-spec stdlib)


def test_png_roundtrip_and_filters():
    """encode → decode is lossless, and the decoder handles every scanline
    filter type (a re-filtered stream from a strict encoder exercises
    Sub/Up/Average/Paeth through synthetic re-encoding)."""
    from dug_spark.functions import codecs
    import struct
    import zlib

    w, h = 9, 7
    rows = [
        bytearray((x * 31 + y * 17 + c) % 256 for x in range(w) for c in (0, 1, 2))
        for y in range(h)
    ]
    payload = codecs.encode_png(w, h, 3, rows)
    w2, h2, ch, rows2 = codecs.decode_png(payload)
    assert (w2, h2, ch) == (w, h, 3)
    assert rows2 == rows
    # hand-build a stream that uses filters 1-4 and check it unfilters
    stride = w * 3

    def filt(ftype, line, prev):
        out = bytearray([ftype])
        for i in range(stride):
            left = line[i - 3] if i >= 3 else 0
            up = prev[i]
            upleft = prev[i - 3] if i >= 3 else 0
            if ftype == 1:
                out.append((line[i] - left) & 0xFF)
            elif ftype == 2:
                out.append((line[i] - up) & 0xFF)
            elif ftype == 3:
                out.append((line[i] - ((left + up) >> 1)) & 0xFF)
            else:
                out.append((line[i] - codecs._paeth(left, up, upleft)) & 0xFF)
        return bytes(out)

    raw = b""
    prev = bytearray(stride)
    for y, ftype in zip(range(h), [1, 2, 3, 4, 1, 2, 4]):
        raw += filt(ftype, rows[y], prev)
        prev = rows[y]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload2 = (
        b"\x89PNG\r\n\x1a\n"
        + codecs._chunk(b"IHDR", ihdr)
        + codecs._chunk(b"IDAT", zlib.compress(raw))
        + codecs._chunk(b"IEND", b"")
    )
    assert codecs.decode_png(payload2)[3] == rows


def test_wav_roundtrip():
    from dug_spark.functions import codecs

    samples = [((t * 37) % 4096 - 2048) * 8 for t in range(256)]
    payload = codecs.encode_wav(16000, 1, samples)
    rate, nch, got = codecs.decode_wav(payload)
    assert (rate, nch) == (16000, 1)
    assert got == samples


def test_real_media_features_and_resize(spark):
    """The REAL decode path works end-to-end for PNG, WAV and Y4M
    through the same Arrow mapInPandas plumbing; resized PNGs re-decode
    at the target dimensions while audio/video pass through intact."""
    from dug_spark.functions import codecs
    from dug_spark.operators import multimodal

    media = multimodal.synthetic_real_media(spark, n=12)
    feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert len(feats) == 12
    for mid, r in feats.items():
        assert len(r["features"]) == 16
        if r["mime"] == "image/png":
            assert r["features"][0] == 24.0 and r["features"][1] == 16.0
        elif r["mime"] == "audio/wav":
            assert abs(r["features"][0] - 8000 / 48000) < 1e-9
        else:  # video/y4m: w, h, frames, fps
            assert r["features"][:4] == [8.0, 6.0, 6.0, 4.0]
    out = {r["media_id"]: r for r in
           multimodal.resize_images(media, 8, 8).collect()}
    for mid, r in out.items():
        if r["mime"] == "image/png":
            w, h, ch, rows = codecs.decode_png(bytes(r["payload"]))
            assert (w, h, ch) == (8, 8, 3)
            assert r["width"] == 8 and r["height"] == 8
        elif r["mime"] == "audio/wav":  # non-image passes through untouched
            rate, nch, _s = codecs.decode_wav(bytes(r["payload"]))
            assert rate == 8000
        else:
            assert codecs.decode_y4m(bytes(r["payload"]))[0] == 8


def test_video_mp4_and_garbage_raise(spark):
    from dug_spark.operators import multimodal

    import pytest as _pytest

    from pyspark.sql import functions as F

    media = multimodal.synthetic_media(spark, n=3)
    video = media.where(F.col("mime") == "video/mp4")
    with _pytest.raises(Exception, match="no stdlib decoder"):
        multimodal.extract_features(video).collect()
    # invalid bytes under a REAL mime also fail loudly, not silently
    garbage = media.where(F.col("mime") == "audio/wav")  # sha payload, not RIFF
    with _pytest.raises(Exception, match="RIFF"):
        multimodal.extract_features(garbage).collect()


def test_codec_roundtrip_fuzz():
    """Deterministic fuzz: random pixels/samples across every supported
    channel/color combination survive encode→decode bit-exactly."""
    import random

    from dug_spark.functions import codecs

    rng = random.Random(99)
    for _ in range(10):
        w, h = rng.randint(1, 40), rng.randint(1, 30)
        ch = rng.choice([1, 3, 4])
        rows = [bytearray(rng.randrange(256) for _ in range(w * ch)) for _ in range(h)]
        assert codecs.decode_png(codecs.encode_png(w, h, ch, rows))[3] == rows
    for _ in range(10):
        n, nch = rng.randint(0, 800), rng.choice([1, 2])
        n += n % 2 if nch == 2 else 0
        s = [rng.randint(-32768, 32767) for _ in range(n)]
        assert codecs.decode_wav(codecs.encode_wav(16000, nch, s))[2] == s

def test_codec_numpy_pure_bit_identity_fuzz():
    """The numpy executor path and the pure-Python oracle path must be
    BIT-identical (same exact integer moments, same IEEE float ops):
    decode, features, and resize, fuzzed over sizes/channels/filters."""
    import random
    import struct
    import zlib

    from dug_spark.functions import codecs

    rng = random.Random(1234)
    for _ in range(12):
        w, h = rng.randint(1, 48), rng.randint(1, 32)
        ch = rng.choice([1, 3, 4])
        rows = [bytearray(rng.randrange(256) for _ in range(w * ch)) for _ in range(h)]
        payload = codecs.encode_png(w, h, ch, rows)
        assert codecs.decode_png(payload, use_numpy=True) == codecs.decode_png(
            payload, use_numpy=False
        )
        fn = codecs.png_features(payload, use_numpy=True)
        fp = codecs.png_features(payload, use_numpy=False)
        assert fn == fp  # exact equality, not approx
        nw, nh = rng.randint(1, 20), rng.randint(1, 20)
        assert codecs.resize_nearest(
            w, h, ch, rows, nw, nh, use_numpy=True
        ) == codecs.resize_nearest(w, h, ch, rows, nw, nh, use_numpy=False)
    # every scanline filter type through BOTH decoders (re-filtered stream)
    w, h, ch = 11, 10, 3
    stride = w * ch
    rows = [
        bytearray((x * 13 + y * 7) % 256 for x in range(stride)) for y in range(h)
    ]

    def filt(ftype, line, prev):
        out = bytearray([ftype])
        for i in range(stride):
            left = line[i - ch] if i >= ch else 0
            upleft = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                out.append(line[i])
            elif ftype == 1:
                out.append((line[i] - left) & 0xFF)
            elif ftype == 2:
                out.append((line[i] - prev[i]) & 0xFF)
            elif ftype == 3:
                out.append((line[i] - ((left + prev[i]) >> 1)) & 0xFF)
            else:
                out.append((line[i] - codecs._paeth(left, prev[i], upleft)) & 0xFF)
        return bytes(out)

    raw, prev = b"", bytearray(stride)
    for y, ftype in zip(range(h), [0, 1, 2, 3, 4, 1, 2, 3, 4, 0]):
        raw += filt(ftype, rows[y], prev)
        prev = rows[y]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + codecs._chunk(b"IHDR", ihdr)
        + codecs._chunk(b"IDAT", zlib.compress(raw))
        + codecs._chunk(b"IEND", b"")
    )
    assert codecs.decode_png(payload, use_numpy=True)[3] == rows
    assert codecs.decode_png(payload, use_numpy=False)[3] == rows
    assert codecs.png_features(payload, use_numpy=True) == codecs.png_features(
        payload, use_numpy=False
    )
    # WAV: numpy frombuffer path vs pure unpack path
    for _ in range(8):
        n, nch = rng.randint(0, 600), rng.choice([1, 2])
        n += n % 2 if nch == 2 else 0
        s = [rng.randint(-32768, 32767) for _ in range(n)]
        payload = codecs.encode_wav(16000, nch, s)
        assert codecs.wav_features(payload, use_numpy=True) == codecs.wav_features(
            payload, use_numpy=False
        )


# ---------------------------------------------------------------------------
# Y4M codec (from-spec YUV4MPEG2 — dug_spark/functions/codecs.py)


def test_y4m_roundtrip_and_header():
    from dug_spark.functions import codecs

    planes = [
        (bytes(range(48)), bytes(range(12)), bytes(range(100, 112)))
        for _ in range(3)
    ]
    payload = codecs.encode_y4m(8, 6, 30, 1, planes)
    w, h, num, den, cs, got = codecs.decode_y4m(payload)
    assert (w, h, num, den, cs) == (8, 6, 30, 1, "420jpeg")
    assert got == planes


def test_y4m_colorspaces_and_defaults():
    from dug_spark.functions import codecs

    # C444: full-resolution chroma
    p444 = [(bytes(24), bytes([128] * 24), bytes([128] * 24))]
    payload = codecs.encode_y4m(6, 4, 25, 1, p444, colorspace="444")
    assert codecs.decode_y4m(payload)[4] == "444"
    # Cmono: luma only
    pm = [(bytes(range(24)), None, None)]
    payload = codecs.encode_y4m(6, 4, 25, 1, pm, colorspace="mono")
    w, h, _n, _d, cs, frames = codecs.decode_y4m(payload)
    assert cs == "mono" and frames[0][1] is None
    # spec defaults: header without C tag → 420jpeg
    raw = b"YUV4MPEG2 W2 H2\nFRAME\n" + bytes(4) + bytes(1) + bytes(1)
    w, h, num, den, cs, frames = codecs.decode_y4m(raw)
    assert (w, h, num, den, cs) == (2, 2, 25, 1, "420jpeg")


def test_y4m_malformed_raises():
    import pytest as _pytest

    from dug_spark.functions import codecs

    with _pytest.raises(ValueError, match="magic"):
        codecs.decode_y4m(b"RIFF1234")
    with _pytest.raises(ValueError, match="newline"):
        codecs.decode_y4m(b"YUV4MPEG2 W2 H2")
    with _pytest.raises(ValueError, match="W, H"):
        codecs.decode_y4m(b"YUV4MPEG2 W2\n")
    with _pytest.raises(ValueError, match="truncated Y4M frame"):
        codecs.decode_y4m(b"YUV4MPEG2 W2 H2\nFRAME\n\x00\x00")
    with _pytest.raises(ValueError, match="FRAME"):
        codecs.decode_y4m(b"YUV4MPEG2 W2 H2\nJUNK!\n" + bytes(6))
    with _pytest.raises(ValueError, match="divisible"):
        codecs.decode_y4m(b"YUV4MPEG2 W3 H2 C420\nFRAME\n" + bytes(9))
    with _pytest.raises(ValueError, match="colorspace"):
        codecs.decode_y4m(b"YUV4MPEG2 W2 H2 C410\nFRAME\n" + bytes(6))


def test_y4m_rgb_numpy_pure_bit_identity():
    """The BT.601 integer transform is exact — numpy and pure-Python
    paths must agree byte-for-byte on random planes, every colorspace."""
    import random

    from dug_spark.functions import codecs

    rng = random.Random(4242)
    for cs in ["420jpeg", "422", "444", "mono"]:
        w, h = 8, 4
        ys, cssz = codecs._y4m_plane_sizes(w, h, cs)
        y = bytes(rng.randrange(256) for _ in range(ys))
        u = bytes(rng.randrange(256) for _ in range(cssz)) if cssz else None
        v = bytes(rng.randrange(256) for _ in range(cssz)) if cssz else None
        a = codecs.y4m_frame_rgb(w, h, cs, (y, u, v), use_numpy=True)
        b = codecs.y4m_frame_rgb(w, h, cs, (y, u, v), use_numpy=False)
        assert [bytes(r) for r in a] == [bytes(r) for r in b], cs


def test_y4m_features_numpy_pure_bit_identity():
    from dug_spark.operators import multimodal
    from dug_spark.functions import codecs

    for i in (2, 5, 8):
        payload = multimodal.synthetic_y4m_payload(i)
        fn = codecs.y4m_features(payload, use_numpy=True)
        fp = codecs.y4m_features(payload, use_numpy=False)
        assert fn == fp
        assert fn[:4] == [8.0, 6.0, 6.0, 4.0]


def test_y4m_gray_maps_luma_to_gray_rgb():
    """Cmono with Y=16..235 maps to equal R=G=B per the limited-range
    transform (d=e=0 → R=G=B=(298·(Y−16)+128)>>8)."""
    from dug_spark.functions import codecs

    y = bytes([16, 126, 235, 50])
    rows = codecs.y4m_frame_rgb(2, 2, "mono", (y, None, None), use_numpy=False)
    flat = b"".join(bytes(r) for r in rows)
    for px in range(4):
        r, g, b = flat[px * 3 : px * 3 + 3]
        assert r == g == b
    assert flat[0] == 0 and flat[6:9] == b"\xff\xff\xff"
