"""Multimodal plumbing tests: binary columns, Arrow-batched decode /
feature extraction, JVM-side frame slicing, binaryFile source."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from metalpipe_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_media,
    extract_features,
    frame_sample,
    read_binary_dir,
    resize_media,
)
from metalpipe_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def media_df(spark):
    """documents.text encoded as fake binary payloads."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    return docs.select(
        F.col("doc_id").alias("id"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("image/fake").alias("media_type"),
    )


def test_decode_media_schema_and_determinism(spark, media_df):
    out = decode_media(media_df)
    assert out.columns == ["id", "media_type", "n_bytes", "width", "height", "sha"]
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 50
    # Cross-check one row against driver-side hashing.
    src = {r["id"]: bytes(r["content"]) for r in media_df.collect()}
    some_id = next(iter(src))
    assert rows[some_id]["sha"] == hashlib.sha256(src[some_id]).hexdigest()
    assert rows[some_id]["n_bytes"] == len(src[some_id])
    assert 16 <= rows[some_id]["width"] <= 255


def test_extract_features_shape(spark, media_df):
    out = extract_features(media_df)
    row = out.head()
    assert len(row["feature"]) == FEATURE_DIM
    assert all(-1.0 <= v <= 1.0 for v in row["feature"])
    # Deterministic: same content -> same feature.
    again = extract_features(media_df)
    assert out.orderBy("id").head()["feature"] == again.orderBy("id").head()["feature"]


def test_features_feed_ann(spark, media_df):
    """The fake features are ANN-compatible: array<float> usable by the
    similarity operators."""
    from metalpipe_spark.operators.similarity import lsh_neardup_pairs

    feats = extract_features(media_df).withColumnRenamed("id", "vec_id").withColumnRenamed(
        "feature", "embedding"
    )
    pairs = lsh_neardup_pairs(feats, num_planes=4, dim=FEATURE_DIM, threshold=-1.0)
    assert pairs.columns == ["d1", "d2", "cosine_sim"]
    pairs.count()  # executes the bucketed join


def test_frame_sample_slices(spark, media_df):
    frames = frame_sample(media_df, n_frames=4, frame_size=10)
    assert frames.columns == ["id", "frame_id", "frame"]
    one = frames.filter(F.col("frame_id") == 0).head()
    assert len(bytes(one["frame"])) <= 10
    # Slice 0 must equal the first bytes of the source payload.
    src = dict(
        (r["id"], bytes(r["content"])) for r in media_df.collect()
    )
    assert bytes(one["frame"]) == src[one["id"]][:10]


def test_read_binary_dir(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"hello world")
    (tmp_path / "b.bin").write_bytes(b"spark")
    df = read_binary_dir(spark, str(tmp_path), glob="*.bin")
    rows = {r["path"].split("/")[-1]: bytes(r["content"]) for r in df.collect()}
    assert rows == {"a.bin": b"hello world", "b.bin": b"spark"}


def test_resize_media_nearest_neighbor_kernel(spark):
    """resize_media is a real numpy kernel over raw RGB tensors: a 2x2
    image upsampled to 4x4 repeats each source pixel in a 2x2 block,
    and downsampling back returns the original."""
    import numpy as np

    from metalpipe_spark.operators.multimodal import resize_media

    px = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [9, 9, 9]]], dtype=np.uint8
    )
    df = spark.createDataFrame(
        [(1, bytearray(px.tobytes()), 2, 2)], "id long, content binary, width int, height int"
    )
    up = resize_media(df, 4, 4)
    row = up.first()
    assert (row["width"], row["height"]) == (4, 4)
    got = np.frombuffer(bytes(row["content"]), dtype=np.uint8).reshape(4, 4, 3)
    want = px.repeat(2, axis=0).repeat(2, axis=1)
    assert (got == want).all()
    back = resize_media(up, 2, 2).first()
    assert bytes(back["content"]) == px.tobytes()


def test_pcm16_decode_and_audio_features_physics(spark):
    """REAL PCM16 decode + windowed features, checked against physics:
    a full-scale sine at frequency f has RMS ~ amp/sqrt(2) and
    zero-crossing rate ~ 2f/sr; silence has RMS 0 and ZCR 0."""
    import numpy as np

    from metalpipe_spark.operators.multimodal import (
        audio_window_features,
        decode_pcm16,
    )

    sr = 16000
    t = np.arange(sr) / sr  # 1 second
    amp = 0.5
    f = 440.0
    sine = (amp * np.sin(2 * np.pi * f * t) * 32768).astype("<i2").tobytes()
    silence = np.zeros(sr, dtype="<i2").tobytes()
    # odd trailing byte must be dropped, not crash
    df = spark.createDataFrame(
        [("sine", bytearray(sine + b"\x01")), ("silence", bytearray(silence))],
        "id string, content binary",
    )
    decoded = decode_pcm16(df)
    rows = {r["id"]: r for r in decoded.collect()}
    assert rows["sine"]["n_samples"] == sr
    assert abs(max(rows["sine"]["waveform"]) - amp) < 0.01

    feats = audio_window_features(decoded, frame=512, hop=256)
    import collections

    by_id = collections.defaultdict(list)
    for r in feats.collect():
        by_id[r["id"]].append(r)
    n_expected = (sr - 512) // 256 + 1
    assert len(by_id["sine"]) == n_expected
    mean_rms = float(np.mean([r["rms"] for r in by_id["sine"]]))
    assert abs(mean_rms - amp / np.sqrt(2)) < 0.02
    mean_zcr = float(np.mean([r["zcr"] for r in by_id["sine"]]))
    assert abs(mean_zcr - 2 * f / sr) < 0.01  # ~0.055 crossings/sample
    assert all(r["rms"] == 0.0 for r in by_id["silence"])
    assert all(r["zcr"] == 0.0 for r in by_id["silence"])


def test_audio_window_features_emits_marker_row_for_subframe_clip(spark):
    """ADVICE r7: clips shorter than one frame must not vanish — they
    emit one NULL-feature marker row so downstream joins keep the id."""
    from metalpipe_spark.operators.multimodal import audio_window_features

    rows = [
        (1, [0.1] * 600),   # one real window at frame=512
        (2, [0.5] * 100),   # sub-frame: marker row only
    ]
    df = spark.createDataFrame(rows, "id long, waveform array<double>")
    got = audio_window_features(df, frame=512, hop=256).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["id"], []).append(r)
    assert len(by_id[1]) == 1 and by_id[1][0]["window_id"] == 0
    assert by_id[1][0]["rms"] is not None
    assert len(by_id[2]) == 1
    marker = by_id[2][0]
    assert marker["window_id"] is None
    assert marker["rms"] is None and marker["zcr"] is None


def test_image_dhash_neardup_physics(spark):
    """dHash physics on constructed images: a small edit of a gradient
    image stays within hamming 3 of the original, an unrelated image
    measures far, and hamming_neardup_pairs surfaces exactly the near
    pair — the image twin of the SimHash near-dup contract."""
    import hashlib

    import numpy as np

    from metalpipe_spark.operators.dedup import hamming_neardup_pairs
    from metalpipe_spark.operators.multimodal import image_dhash

    w, h = 36, 32
    yy, xx = np.mgrid[0:h, 0:w]
    base = ((yy * 3 + xx * 5) % 251).astype(np.uint8)
    img_a = np.repeat(base[:, :, None], 3, axis=2)
    img_b = img_a.copy()
    img_b[0:2, 0:2, :] = 255          # small local edit
    rnd = hashlib.sha256(b"unrelated").digest() * (w * h * 3 // 32 + 1)
    img_c = np.frombuffer(rnd[: w * h * 3], dtype=np.uint8).reshape(h, w, 3)

    rows = [
        (1, bytearray(img_a.tobytes()), w, h),
        (2, bytearray(img_b.tobytes()), w, h),
        (3, bytearray(img_c.tobytes()), w, h),
    ]
    df = spark.createDataFrame(
        rows, "id long, content binary, width int, height int"
    )
    codes = {r["id"]: r["dhash"] for r in image_dhash(df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert 0 < hamming(codes[1], codes[2]) <= 3
    assert hamming(codes[1], codes[3]) > 10

    pairs = hamming_neardup_pairs(
        image_dhash(df), code_col="dhash", id_col="id",
        bits=64, max_hamming=3, blocks=4,
    ).collect()
    assert [(r["d1"], r["d2"]) for r in pairs] == [(1, 2)]


def test_image_phash_physics(spark):
    """pHash physics: per-pixel noise and a 2x rescale of the same image
    stay within a small hamming distance (global frequency envelope
    unchanged), an unrelated image measures far, and the codes drive
    hamming_neardup_pairs exactly like dHash codes."""
    import hashlib

    import numpy as np

    from metalpipe_spark.operators.dedup import hamming_neardup_pairs
    from metalpipe_spark.operators.multimodal import image_phash

    w, h = 36, 32
    yy, xx = np.mgrid[0:h, 0:w]
    base = (128 + 90 * np.sin(yy / 5.0) * np.cos(xx / 7.0)).astype(np.uint8)
    img_a = np.repeat(base[:, :, None], 3, axis=2)
    rng_bytes = hashlib.sha256(b"noise").digest() * (w * h * 3 // 32 + 1)
    noise = (np.frombuffer(rng_bytes[: w * h * 3], dtype=np.uint8).reshape(h, w, 3) % 7).astype(np.int16) - 3
    img_b = np.clip(img_a.astype(np.int16) + noise, 0, 255).astype(np.uint8)
    big = np.repeat(np.repeat(img_a, 2, axis=0), 2, axis=1)  # 2x upscale
    rnd = hashlib.sha256(b"unrelated").digest() * (w * h * 3 // 32 + 1)
    img_u = np.frombuffer(rnd[: w * h * 3], dtype=np.uint8).reshape(h, w, 3)

    rows = [
        (1, bytearray(img_a.tobytes()), w, h),
        (2, bytearray(img_b.tobytes()), w, h),
        (3, bytearray(big.tobytes()), 2 * w, 2 * h),
        (4, bytearray(img_u.tobytes()), w, h),
    ]
    df = spark.createDataFrame(
        rows, "id long, content binary, width int, height int"
    )
    codes = {r["id"]: r["phash"] for r in image_phash(df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(codes[1], codes[2]) <= 6     # noise: near (measured 4)
    assert hamming(codes[1], codes[3]) <= 3     # 2x rescale: near (measured 0)
    assert hamming(codes[1], codes[4]) > 20     # unrelated: far (measured 36)

    pairs = hamming_neardup_pairs(
        image_phash(df), code_col="phash", id_col="id",
        bits=64, max_hamming=6, blocks=8,
    ).collect()
    got = sorted((r["d1"], r["d2"]) for r in pairs)
    assert (1, 2) in got and (1, 3) in got
    assert not any(4 in p for p in got)


def test_audio_fingerprint_physics(spark):
    """Audio fingerprint physics: uniform gain is hamming-0 (RMS scales
    linearly), mild noise stays near, different material measures far,
    sub-frame clips yield NULL, and the codes drive the shared banding."""
    import numpy as np

    from metalpipe_spark.operators.dedup import hamming_neardup_pairs
    from metalpipe_spark.operators.multimodal import audio_fingerprint

    sr, dur = 8000, 4.0
    t = np.arange(int(sr * dur)) / sr
    am = 0.5 + 0.4 * np.sin(2 * np.pi * 0.9 * t)     # slow AM envelope
    sig = (am * np.sin(2 * np.pi * 440 * t))
    rng = np.random.default_rng(7)
    noisy = sig + 0.01 * rng.standard_normal(sig.shape)
    quiet = 0.25 * sig                                # uniform gain
    other = (0.5 + 0.4 * np.sin(2 * np.pi * 3.7 * t + 1.3)) * np.sin(
        2 * np.pi * 440 * t
    )                                                 # different envelope

    rows = [
        (1, sig.tolist()),
        (2, noisy.tolist()),
        (3, quiet.tolist()),
        (4, other.tolist()),
        (5, [0.1] * 100),                             # sub-frame clip
    ]
    df = spark.createDataFrame(rows, "id long, waveform array<double>")
    codes = {r["id"]: r["afp"] for r in audio_fingerprint(df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert codes[5] is None
    assert hamming(codes[1], codes[3]) == 0           # gain-invariant
    assert hamming(codes[1], codes[2]) <= 6           # mild noise: near
    assert hamming(codes[1], codes[4]) > 12           # different: far

    hashable = audio_fingerprint(df).where("afp IS NOT NULL")
    pairs = hamming_neardup_pairs(
        hashable, code_col="afp", id_col="id",
        bits=64, max_hamming=6, blocks=8,
    ).collect()
    got = sorted((r["d1"], r["d2"]) for r in pairs)
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert not any(4 in p or 5 in p for p in got)


def test_video_neardup_matches_reedited_copy_not_distinct(spark):
    """Video near-dup physics: a copy with one re-edited frame matches
    its original on the 3 untouched frames; an unrelated video matches
    nothing; within-video frame pairs never surface."""
    import numpy as np

    from metalpipe_spark.operators.multimodal import video_neardup_pairs

    w, h, nf = 18, 16, 4
    fsize = w * h * 3

    def frame(seed: int) -> bytes:
        # seeded random pixels: unrelated frames sit ~32 hamming apart
        # (smooth gradient patterns all hash alike and would collide)
        return np.random.RandomState(seed).randint(
            0, 256, fsize, dtype=np.uint8
        ).tobytes()

    a_frames = [frame(100 + f) for f in range(nf)]
    vid_a = b"".join(a_frames)
    # re-edit frame 0 entirely, keep 1..3
    vid_b = frame(999) + b"".join(a_frames[1:])
    vid_c = b"".join(frame(500 + f) for f in range(nf))
    df = spark.createDataFrame(
        [(0, bytearray(vid_a)), (1, bytearray(vid_b)), (2, bytearray(vid_c))],
        "id long, content binary",
    )
    got = video_neardup_pairs(
        df, nf, w, h, max_hamming=3, min_matching_frames=2
    ).collect()
    assert [(r["v1"], r["v2"]) for r in got] == [(0, 1)]
    assert got[0]["matching_frames"] == 3


def test_video_neardup_partial_trailing_frame_and_negative_id(spark):
    """Review fixes (r9): a payload that is not an exact multiple of
    frame_size must not crash (the partial trailing window is skipped,
    complete frames still match); a negative video id fails LOUDLY
    instead of silently misattributing frames to the neighboring id."""
    import numpy as np
    import pytest

    from metalpipe_spark.operators.multimodal import video_neardup_pairs

    w, h, nf = 18, 16, 4
    fsize = w * h * 3

    def frame(seed):
        return np.random.RandomState(seed).randint(
            0, 256, fsize, dtype=np.uint8
        ).tobytes()

    frames = [frame(i) for i in range(nf)]
    full = b"".join(frames)
    ragged = full + frame(99)[: fsize // 2]  # partial trailing window
    df = spark.createDataFrame(
        [(0, bytearray(full)), (1, bytearray(ragged))],
        "id long, content binary",
    )
    got = video_neardup_pairs(
        df, nf + 1, w, h, max_hamming=3, min_matching_frames=2
    ).collect()
    assert [(r["v1"], r["v2"], r["matching_frames"]) for r in got] == [(0, 1, 4)]

    bad = spark.createDataFrame(
        [(-1, bytearray(full)), (2, bytearray(full))],
        "id long, content binary",
    )
    with pytest.raises(Exception):
        video_neardup_pairs(bad, nf, w, h).collect()


# ---- real compressed-format decode (VERDICT r11 task 5) -------------


def _encode_png(arr, filters=None):
    """A real, minimal PNG encoder (8-bit RGB, one IDAT): the test's
    fixture generator, so decode tests run against genuine PNG bytes
    with a chosen filter per scanline — exercising every RFC 2083
    unfilter branch, not just filter 0."""
    import struct
    import zlib

    import numpy as np

    h, w, _ = arr.shape
    filters = filters or [0] * h
    ch = 3

    def flt(y):
        line = arr[y].reshape(-1).astype(np.int32)
        prev = arr[y - 1].reshape(-1).astype(np.int32) if y else np.zeros(w * ch, np.int32)
        f = filters[y]
        left = np.concatenate([np.zeros(ch, np.int32), line[:-ch]])
        ul = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
        if f == 0:
            out = line
        elif f == 1:
            out = line - left
        elif f == 2:
            out = line - prev
        elif f == 3:
            out = line - (left + prev) // 2
        elif f == 4:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            out = line - pred
        return bytes([f]) + (out % 256).astype(np.uint8).tobytes()

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"".join(flt(y) for y in range(h)))
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    )


def _jpeg_header_fixture(w, h):
    """Minimal real JPEG byte layout: SOI + APP0(JFIF) + SOF0 carrying
    (h, w) + EOI — a genuine header parse target (pixel data would need
    a codec library, which dimension extraction does not)."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x48\x00\x48\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", h, w) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_decode_image_auto_real_dims_and_fallback(spark):
    import numpy as np

    from metalpipe_spark.operators.multimodal import (
        decode_image,
        decode_media,
    )

    rng = np.random.RandomState(7)
    png = _encode_png(rng.randint(0, 256, (11, 13, 3), dtype=np.uint8))
    jpg = _jpeg_header_fixture(640, 480)
    gif = b"GIF89a" + (37).to_bytes(2, "little") + (21).to_bytes(2, "little") + b"\x00" * 6
    blob = b"not an image at all"
    df = spark.createDataFrame(
        [
            (1, bytearray(png), "image/png"),
            (2, bytearray(jpg), "image/jpeg"),
            (3, bytearray(gif), "image/gif"),
            (4, bytearray(blob), "application/octet-stream"),
        ],
        "id long, content binary, media_type string",
    )
    got = {r["id"]: r for r in decode_image(df, codec="auto").collect()}
    assert (got[1]["width"], got[1]["height"]) == (13, 11)
    assert (got[2]["width"], got[2]["height"]) == (640, 480)
    assert (got[3]["width"], got[3]["height"]) == (37, 21)
    # Unclaimed bytes fall back to the fake codec — identical to the
    # oracle face, so mixed corpora keep flowing.
    fake = {r["id"]: r for r in decode_media(df).collect()}
    assert (got[4]["width"], got[4]["height"]) == (fake[4]["width"], fake[4]["height"])
    # codec="raw" IS decode_media, byte-identical (the oracle face).
    raw = sorted(map(tuple, decode_image(df, codec="raw").collect()))
    assert raw == sorted(map(tuple, decode_media(df).collect()))


def test_png_pixel_decode_roundtrip_all_filters(spark):
    import numpy as np
    import pytest

    from metalpipe_spark.operators.multimodal import (
        decode_image_rgb,
        image_dhash,
    )

    rng = np.random.RandomState(11)
    arr = rng.randint(0, 256, (5, 7, 3), dtype=np.uint8)
    png = _encode_png(arr, filters=[0, 1, 2, 3, 4])  # every unfilter branch
    df = spark.createDataFrame(
        [(1, bytearray(png))], "id long, content binary"
    )
    row = decode_image_rgb(df).first()
    assert (row["width"], row["height"]) == (7, 5)
    assert bytes(row["content"]) == arr.tobytes()  # pixel-exact
    # The decoded raw RGB feeds the real dHash kernel directly — the
    # compressed-corpus -> raw-tensor bridge this function exists for.
    gradient = np.tile(
        (np.arange(16, dtype=np.uint8) * 16).repeat(3), (16, 1)
    ).reshape(16, 16, 3)
    code = image_dhash(
        decode_image_rgb(
            spark.createDataFrame(
                [(2, bytearray(_encode_png(gradient)))],
                "id long, content binary",
            )
        )
    ).first()["dhash"]
    assert code == -1  # strictly increasing rows: all 64 bits set

    # Pixels of a format nobody present can decode fail LOUDLY.
    jpg = _jpeg_header_fixture(8, 8)
    bad = spark.createDataFrame([(3, bytearray(jpg))], "id long, content binary")
    if __import__("importlib").util.find_spec("PIL") is None:
        with pytest.raises(Exception, match="pillow"):
            decode_image_rgb(bad).collect()


def test_pil_branch_dispatch_without_dependency():
    """The pillow path itself, exercised WITHOUT pillow installed: a
    stub module shaped like PIL proves the dispatch order (PIL first,
    stdlib parsers second) and that a real install needs no code
    change.  Driver-side only — executor imports resolve per worker."""
    import sys
    import types

    from metalpipe_spark.operators import multimodal as mm

    class _Img:
        size = (123, 45)

    fake_pil = types.ModuleType("PIL")
    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = lambda buf: _Img()
    fake_pil.Image = fake_image_mod
    had = {k: sys.modules.get(k) for k in ("PIL", "PIL.Image")}
    sys.modules["PIL"] = fake_pil
    sys.modules["PIL.Image"] = fake_image_mod
    try:
        # Garbage bytes: the stdlib path would return None, but the
        # (stub) PIL claims everything — PIL dispatch wins.
        assert mm.real_image_dims(b"anything") == (123, 45)
    finally:
        for k, v in had.items():
            if v is None:
                del sys.modules[k]
            else:
                sys.modules[k] = v
    # And with the stub gone, the same bytes are unclaimed again.
    assert mm.real_image_dims(b"anything") is None


def test_real_image_dims_corrupt_payloads_fall_back(spark):
    """Review-pass hardening: payloads that pass the magic sniff but
    fail the parse (truncated downloads — routine at corpus scale) are
    UNCLAIMED (None -> fake-codec fallback in decode_image), never a
    job-aborting exception; JPEG 0xFF fill-byte padding before markers
    parses correctly; a pillow that REJECTS bytes falls through to the
    stdlib parsers instead of propagating."""
    import struct
    import sys
    import types

    from metalpipe_spark.operators import multimodal as mm
    from metalpipe_spark.operators.multimodal import decode_image, decode_media

    truncated_png = b"\x89PNG\r\n\x1a\n" + b"garbage"
    bare_gif = b"GIF89a"
    sofless_jpeg = b"\xff\xd8\xff\xe0" + struct.pack(">H", 4) + b"xx\xff\xd9"
    assert mm.real_image_dims(truncated_png) is None
    assert mm.real_image_dims(bare_gif) is None
    assert mm.real_image_dims(sofless_jpeg) is None

    # Fill-byte padding: FF FF FF C0 is one SOF0 marker after padding.
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x48\x00\x48\x00\x00"
    sof0 = b"\xff\xff\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 33, 44) + b"\x01\x11\x00"
    padded = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    assert mm.real_image_dims(padded) == (44, 33)

    # Corrupt-but-sniffable rows flow through codec="auto" as fake dims.
    df = spark.createDataFrame(
        [(1, bytearray(truncated_png), "image/png")],
        "id long, content binary, media_type string",
    )
    got = decode_image(df, codec="auto").first()
    fake = decode_media(df).first()
    assert (got["width"], got["height"]) == (fake["width"], fake["height"])

    # A pillow that raises on open (UnidentifiedImageError-shaped) must
    # not propagate: stdlib parsers take over.
    class _Boom(Exception):
        pass

    fake_pil = types.ModuleType("PIL")
    fake_image_mod = types.ModuleType("PIL.Image")
    def _raise(buf):
        raise _Boom("cannot identify image file")
    fake_image_mod.open = _raise
    fake_pil.Image = fake_image_mod
    had = {k: sys.modules.get(k) for k in ("PIL", "PIL.Image")}
    sys.modules["PIL"] = fake_pil
    sys.modules["PIL.Image"] = fake_image_mod
    try:
        assert mm.real_image_dims(b"junk") is None
        assert mm.real_image_dims(padded) == (44, 33)  # stdlib took over
    finally:
        for k, v in had.items():
            if v is None:
                del sys.modules[k]
            else:
                sys.modules[k] = v


def test_decode_auto_pillow_decision_is_drivers(spark):
    """ADVICE r12 (medium): the pillow-vs-stdlib choice is made ONCE on
    the driver and shipped in the closure — executor-local installs
    cannot flip a row's output.  Three contracts:

    1. ``use_pillow=False`` ignores a locally importable PIL (a
       pillow-carrying executor under a stdlib plan stays stdlib);
    2. ``use_pillow=True`` without pillow raises ImportError (a
       pillow-less executor under a pillow plan is a LOUD config
       error, not a silent fake-dims fallback);
    3. end-to-end: a plan built while the driver could import (stub)
       PIL dies loudly on workers that cannot — the split-brain the
       old per-executor probe silently absorbed.
    """
    import sys
    import types

    import pytest

    from metalpipe_spark.operators import multimodal as mm

    class _Img:
        size = (123, 45)

    # Probe BEFORE stubbing: find_spec raises on a stub whose
    # __spec__ is None.
    pil_missing = __import__("importlib").util.find_spec("PIL") is None
    fake_pil = types.ModuleType("PIL")
    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = lambda buf: _Img()
    fake_pil.Image = fake_image_mod
    had = {k: sys.modules.get(k) for k in ("PIL", "PIL.Image")}
    sys.modules["PIL"] = fake_pil
    sys.modules["PIL.Image"] = fake_image_mod
    try:
        # (1) stdlib decision wins over a locally importable PIL.
        assert mm.real_image_dims(b"anything", use_pillow=False) is None
        # (3) plan built under a PIL-importing driver: local-mode
        # Python workers are separate processes with no stub, so the
        # heterogeneous-install posture fires end-to-end.
        df = spark.createDataFrame(
            [(1, bytearray(b"opaque-bytes"), "image/png")],
            "id long, content binary, media_type string",
        )
        plan = mm.decode_image(df, codec="auto")
        if pil_missing:
            with pytest.raises(Exception, match="pillow"):
                plan.collect()
    finally:
        for k, v in had.items():
            if v is None:
                del sys.modules[k]
            else:
                sys.modules[k] = v
    # (2) pillow decision without pillow: loud ImportError.
    if pil_missing:
        with pytest.raises(ImportError, match="driver"):
            mm.real_image_dims(b"anything", use_pillow=True)


def test_mixed_corpus_e2e_pillow_posture(spark):
    """VERDICT r12 task 8: one mixed corpus (PNG with real pixels, JPEG
    header-only, GIF header, opaque blob) driven end-to-end through the
    decode surfaces, green WITH and WITHOUT pillow:

    - decode_image(codec='auto') processes every row (real dims for
      sniffable formats, fake-codec dims for the blob) regardless of
      installs;
    - decode_image_rgb over the stdlib-decodable subset (sniffed PNG)
      feeds the raw-tensor kernel (image_dhash) — the documented
      pillow-less pattern from README's multimodal section;
    - decode_image_rgb over the FULL mixed corpus is LOUD without
      pillow: NotImplementedError naming the dependency, never a faked
      pixel buffer.
    """
    import numpy as np

    from metalpipe_spark.operators.multimodal import (
        decode_image,
        decode_image_rgb,
        image_dhash,
        sniff_image_format,
    )

    rng = np.random.RandomState(23)
    rows = [
        (1, bytearray(_encode_png(rng.randint(0, 256, (9, 9, 3), dtype=np.uint8), filters=[0, 1, 2, 3, 4, 0, 1, 2, 3])), "image/png"),
        (2, bytearray(_jpeg_header_fixture(320, 200)), "image/jpeg"),
        (3, bytearray(b"GIF89a" + (17).to_bytes(2, "little") + (5).to_bytes(2, "little") + b"\x00" * 6), "image/gif"),
        (4, bytearray(b"\x00\x01opaque-binary-payload"), "application/octet-stream"),
    ]
    df = spark.createDataFrame(rows, "id long, content binary, media_type string")

    # Dimensions flow for EVERY row, pillow or not.
    dims = {r["id"]: (r["width"], r["height"]) for r in decode_image(df, codec="auto").collect()}
    assert dims[1] == (9, 9) and dims[2] == (320, 200) and dims[3] == (17, 5)
    assert len(dims) == 4  # the blob fell back, did not kill the job

    # Pillow-less pixel pattern: sniff-filter to stdlib formats first.
    # (Executor-side sniff via the same function, driver-side here since
    # the corpus is 4 rows.)
    png_ids = [i for i, c, _ in rows if sniff_image_format(bytes(c)) == "png"]
    subset = df.where(F.col("id").isin(png_ids))
    rgb = decode_image_rgb(subset)
    hashed = image_dhash(rgb.withColumn("media_type", F.lit("image/raw")))
    got = hashed.collect()
    assert len(got) == len(png_ids) == 1
    assert got[0]["dhash"] is not None

    # Full mixed corpus through the pixel path: loud without pillow
    # (JPEG pixels need a codec); with pillow the header-only JPEG
    # still fails inside pillow, so the loud path is pillow-less-only.
    if __import__("importlib").util.find_spec("PIL") is None:
        with pytest.raises(Exception, match="pillow"):
            decode_image_rgb(df).collect()


def test_audio_energy_segments_islands_and_edges(spark):
    """VAD segmentation: full-active, alternating, all-silent, and
    shorter-than-one-frame clips; hop<frame overlapping windows; plan
    stays Python-free (no BatchEvalPython / mapInPandas in the plan)."""
    import pytest
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.multimodal import audio_energy_segments

    def clip(pattern, block=100):
        out = []
        for p in pattern:
            out += [5.0 if p else 0.5] * block
        return out

    df = spark.createDataFrame(
        [
            (1, clip([0, 0, 0, 0])),
            (2, clip([1, 1, 1, 1])),
            (3, clip([0, 1, 0, 1])),
            (4, [0.1] * 30),  # shorter than one frame: no rows
        ],
        "id long, waveform array<double>",
    )
    got = sorted(
        (r["id"], r["start_frame"], r["end_frame"], r["n_active_frames"],
         r["start_sample"])
        for r in audio_energy_segments(df, frame=50, threshold=2.0).collect()
    )
    assert got == [
        (2, 0, 7, 8, 0),
        (3, 2, 3, 2, 100),
        (3, 6, 7, 2, 300),
    ]
    # overlapping hop: a lone active block widens by the overlap
    overlap = audio_energy_segments(
        df.where("id = 3"), frame=100, hop=50, threshold=2.0
    ).collect()
    assert all(r["start_sample"] == r["start_frame"] * 50 for r in overlap)
    plan = audio_energy_segments(df, frame=50)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "mapInPandas" not in plan.lower()
    with pytest.raises(ValueError, match="frame"):
        audio_energy_segments(df, frame=0)
    with pytest.raises(ValueError, match="hop"):
        audio_energy_segments(df, frame=10, hop=0)
