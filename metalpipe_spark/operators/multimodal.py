"""Multimodal columns: image/audio/video as opaque BINARY with typed
metadata (BASELINE.json north star).

Convention: a media row is ``(id, content: binary, media_type: string,
meta: struct)``.  All Spark-side plumbing here is real — the binaryFile
source, Arrow-batched ``mapInPandas`` signatures, deterministic
partitioning, frame slicing — while the *codec* step is a
DETERMINISTIC FAKE (this environment has no image/audio libraries).
Each fake is clearly marked; swap ``_fake_decode_*`` for a real
PIL/ffmpeg call and nothing else changes.

Scale notes: decode/feature-extract are embarrassingly parallel per
row — mapInPandas with Arrow batches keeps the Python boundary
amortized; ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds
executor memory per batch; binary payloads never route through a
shuffle unless the caller groups on content (use content hashes
instead).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# id column type is interpolated per input frame (string/long ids both
# occur in media tables); these are the payload field lists.
DECODE_FIELDS = "media_type string, n_bytes long, width int, height int, sha string"

FEATURE_DIM = 16
FEATURE_FIELDS = "feature array<float>"  # FEATURE_DIM floats per row


def read_binary_dir(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Binary media ingestion — Spark's binaryFile source: (path,
    modificationTime, length, content).  Real, columnar, partition-aware."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def _fake_decode_image(content: bytes) -> tuple[int, int]:
    """DETERMINISTIC FAKE decode (no image libs in this container).

    A real implementation calls PIL.Image.open(io.BytesIO(content)).size;
    the fake derives a stable (width, height) from the content hash so
    tests exercise the full distributed plumbing with checkable outputs.
    """
    h = hashlib.md5(content).digest()
    return 16 + h[0] % 240, 16 + h[1] % 240


# ---- real compressed-format decode (VERDICT r11 task 5) -------------
# The fake codec above stays the ORACLE face (deterministic,
# SQL-replayable, zero dependencies); the functions below are a REAL
# decode path: pillow when importable, and — because raw-byte parsing
# needs no codec library — stdlib decoders for the formats where the
# math is just struct/zlib: PNG dimensions AND full pixel decode
# (RFC 2083: zlib inflate + per-scanline unfilter), JPEG dimensions
# (SOF marker scan), GIF dimensions (fixed header).

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def sniff_image_format(content: bytes) -> str | None:
    """Magic-byte sniff — the payload's self-description, independent of
    any media_type column (which at 100 TB is frequently wrong)."""
    if content[:8] == _PNG_MAGIC:
        return "png"
    if content[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return None


def _png_ihdr(content: bytes) -> tuple[int, int, int, int]:
    """(width, height, bit_depth, color_type) from the IHDR chunk."""
    import struct

    if content[12:16] != b"IHDR":
        raise ValueError("PNG without leading IHDR chunk")
    w, h = struct.unpack(">II", content[16:24])
    return w, h, content[24], content[25]


def _jpeg_dims(content: bytes) -> tuple[int, int]:
    """JPEG dimensions from the first SOF marker — a real header parse
    (the entropy-coded image data itself needs a codec library)."""
    import struct

    i = 2
    n = len(content)
    while i + 9 < n:
        if content[i] != 0xFF:
            i += 1
            continue
        marker = content[i + 1]
        if marker == 0xFF:  # legal fill-byte padding before a marker
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        length = struct.unpack(">H", content[i + 2 : i + 4])[0]
        # SOF0-SOF15 minus DHT(C4)/JPG(C8)/DAC(CC)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", content[i + 5 : i + 9])
            return w, h
        i += 2 + length
    raise ValueError("JPEG without SOF marker")


def _gif_dims(content: bytes) -> tuple[int, int]:
    import struct

    w, h = struct.unpack("<HH", content[6:10])
    return w, h


def _pillow_on_driver() -> bool:
    """Probe pillow ONCE where the plan is built.  The decision is
    captured into the mapInPandas closures so every executor follows the
    SAME decode path: per-executor import probing on a cluster with
    heterogeneous installs would make output a function of which node
    ran the row (pillow nodes return real webp/bmp/tiff dims,
    pillow-less nodes the fake-codec dims) — a silent split-brain.
    Driver says pillow → an executor missing it raises ImportError
    (loud config error); driver says no → executors that happen to
    carry pillow still run stdlib-only (deterministic).

    Probes ``PIL.Image`` — what the decode path actually imports — not
    just the ``PIL`` package: a broken install whose package imports
    but whose Image module doesn't would otherwise select the pillow
    path and fail everywhere with a misleading heterogeneous-install
    message."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError:
        return False
    return True


def _pil_open(content: bytes, required: bool = False):
    """The optional-dependency hook: a PIL Image when pillow is
    importable, else None (the stdlib parsers take over).
    ``required=True`` — the driver decided on the pillow path — turns a
    missing executor install into a loud ImportError instead of a
    silent fallback."""
    try:
        import io

        from PIL import Image
    except ImportError:
        if required:
            raise ImportError(
                "pillow was importable on the driver (the plan chose the "
                "pillow decode path) but is missing on this executor — "
                "install pillow cluster-wide or nowhere"
            )
        return None
    return Image.open(io.BytesIO(content))


def real_image_dims(
    content: bytes, use_pillow: bool | None = None
) -> tuple[int, int] | None:
    """(width, height) of a recognized compressed payload, or None for
    bytes NO decoder claims — including corrupt/truncated payloads that
    pass the magic sniff but fail the parse (a truncated download is
    routine at corpus scale and must fall back, not abort the job), and
    bytes an installed pillow rejects (UnidentifiedImageError).

    ``use_pillow`` is the DRIVER's decision (:func:`_pillow_on_driver`)
    when called from a plan closure; ``None`` (direct single-process
    callers) probes locally.  When the driver chose pillow, a missing
    executor install raises (ImportError is re-raised, never swallowed
    into the corrupt-bytes fallback)."""
    if use_pillow is None:
        use_pillow = _pillow_on_driver()
    if use_pillow:
        try:
            img = _pil_open(content, required=True)
            if img is not None:
                return img.size
        except ImportError:
            raise  # heterogeneous install: loud, not a silent fallback
        except Exception:
            pass  # pillow present but refuses the bytes: fall through
    try:
        fmt = sniff_image_format(content)
        if fmt == "png":
            w, h, _, _ = _png_ihdr(content)
            return w, h
        if fmt == "jpeg":
            return _jpeg_dims(content)
        if fmt == "gif":
            return _gif_dims(content)
    except Exception:
        return None  # sniffed but truncated/corrupt: unclaimed
    return None


def _png_decode_rgb(content: bytes):
    """Full PNG pixel decode to an (h, w, 3) uint8 array — stdlib only
    (zlib inflate + RFC 2083 unfilter), for 8-bit RGB/RGBA
    non-interlaced images (the overwhelmingly common case; pillow, when
    installed, handles the rest via ``_pil_open``).  Filters 0-4 all
    implemented; Sub vectorizes as a per-lane modular cumsum, Average/
    Paeth run the spec's sequential recurrences."""
    import struct
    import zlib

    import numpy as np

    w, h, depth, color = _png_ihdr(content)
    if depth != 8 or color not in (2, 6):
        raise NotImplementedError(
            f"stdlib PNG decode covers 8-bit RGB/RGBA (color type 2/6); "
            f"got depth={depth} color={color} — install pillow for the rest"
        )
    ch = 3 if color == 2 else 4
    # Walk chunks; IDAT segments concatenate into one zlib stream.
    idat = []
    i = 8
    while i + 8 <= len(content):
        (length,) = struct.unpack(">I", content[i : i + 4])
        tag = content[i + 4 : i + 8]
        if tag == b"IDAT":
            idat.append(content[i + 8 : i + 8 + length])
        if tag == b"IEND":
            break
        i += 12 + length  # length + tag + data + crc
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT length mismatch (interlaced or corrupt)")
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if f == 0:
            out[y] = line
        elif f == 1:  # Sub: recon[i] = line[i] + recon[i-ch] -> lane cumsum
            out[y] = (
                np.cumsum(line.reshape(-1, ch), axis=0, dtype=np.uint32) % 256
            ).astype(np.uint8).reshape(-1)
        elif f == 2:  # Up
            out[y] = line + prev
        elif f == 3:  # Average (sequential left-dependency)
            rec = out[y]
            for x in range(stride):
                left = int(rec[x - ch]) if x >= ch else 0
                rec[x] = (int(line[x]) + (left + int(prev[x])) // 2) % 256
        elif f == 4:  # Paeth (sequential)
            rec = out[y]
            for x in range(stride):
                a = int(rec[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec[x] = (int(line[x]) + pred) % 256
        else:
            raise ValueError(f"PNG filter {f} is not in RFC 2083")
    return out.reshape(h, w, ch)[:, :, :3]


def decode_image(df: DataFrame, id_col: str = "id", codec: str = "raw") -> DataFrame:
    """:func:`decode_media` with a codec knob (same output schema):

    - ``codec="raw"`` — the deterministic fake codec, byte-identical to
      :func:`decode_media`.  The ORACLE face: q_multimodal_decode pins
      it, and it needs no libraries.
    - ``codec="auto"`` — REAL dimensions for recognized compressed
      payloads: pillow when importable, else the stdlib parsers (PNG
      IHDR, JPEG SOF scan, GIF header).  Bytes no decoder claims fall
      back to the fake codec, so mixed corpora (and the synthetic
      fixtures) keep flowing instead of dying on the first opaque blob.

    The pillow-vs-stdlib decision is made ONCE on the DRIVER
    (:func:`_pillow_on_driver`) and shipped inside the closure, so
    every executor decodes the same way regardless of its local
    installs: a pillow-less executor under a pillow-driver plan raises
    ImportError (loud config error), and a pillow-carrying executor
    under a stdlib-driver plan stays stdlib (deterministic output,
    never a per-node split-brain)."""
    if codec == "raw":
        return decode_media(df, id_col)
    if codec != "auto":
        raise ValueError(f"codec must be 'raw' or 'auto', got {codec!r}")
    id_type = df.schema[id_col].dataType.simpleString()
    use_pillow = _pillow_on_driver()  # plan-build-time, not per executor

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = [
                real_image_dims(bytes(c), use_pillow=use_pillow)
                or _fake_decode_image(bytes(c))
                for c in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(c) for c in pdf["content"]],
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                    "sha": [hashlib.sha256(c).hexdigest() for c in pdf["content"]],
                }
            )

    return df.mapInPandas(batches, schema=f"id {id_type}, {DECODE_FIELDS}")


def decode_image_rgb(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Compressed image → RAW RGB rows ``(id, content, width, height)``
    — the bridge from a compressed-payload corpus into the raw-tensor
    kernels (:func:`resize_media`, :func:`image_dhash`,
    :func:`image_phash`): pillow when importable (any format), else the
    stdlib PNG pixel decoder.  A format nobody present can decode
    raises ``NotImplementedError`` executor-side with the dependency
    named — loud, never a silently-fake pixel buffer (the fake codec
    exists for *dimensions*, not pixels).  The pillow decision is the
    DRIVER's (:func:`_pillow_on_driver`), shipped in the closure — same
    heterogeneous-install posture as :func:`decode_image`."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()
    use_pillow = _pillow_on_driver()  # plan-build-time, not per executor

    def decode_one(content: bytes):
        if use_pillow:
            try:
                img = _pil_open(content, required=True)
                rgb = img.convert("RGB")
                w, h = rgb.size
                arr = np.asarray(rgb, dtype=np.uint8)
                return arr.tobytes(), w, h
            except ImportError:
                raise  # executor missing pillow under a pillow plan
            except Exception:
                pass  # pillow refused the bytes: the stdlib PNG path may still work
        if sniff_image_format(content) == "png":
            arr = _png_decode_rgb(content)
            return arr.tobytes(), arr.shape[1], arr.shape[0]
        raise NotImplementedError(
            f"no decoder for {sniff_image_format(content) or 'unknown'} "
            "pixels without pillow installed"
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [decode_one(bytes(c)) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "content": [d[0] for d in decoded],
                    "width": [d[1] for d in decoded],
                    "height": [d[2] for d in decoded],
                }
            )

    return df.mapInPandas(
        batches, f"id {id_type}, content binary, width int, height int"
    )


def decode_media(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Decode step over Arrow batches: one pandas DataFrame per batch,
    binary column stays bytes end-to-end (no base64 detours).  The id
    column's TYPE follows the input (string content-hash ids are as
    common as numeric ones — a hardcoded ``id long`` schema would crash
    the Arrow conversion for them)."""
    id_type = df.schema[id_col].dataType.simpleString()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = [_fake_decode_image(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(c) for c in pdf["content"]],
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                    "sha": [hashlib.sha256(c).hexdigest() for c in pdf["content"]],
                }
            )

    return df.mapInPandas(batches, schema=f"id {id_type}, {DECODE_FIELDS}")


def extract_features(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Feature extraction to a fixed-dim float vector.

    DETERMINISTIC FAKE embedding: 16 floats from the sha256 digest,
    scaled to [-1, 1].  A real implementation runs a vision/audio model
    over the batch; the Arrow batch shape, schema, and downstream ANN
    compatibility (array<float>, FEATURE_DIM) are the real contract.
    """

    id_type = df.schema[id_col].dataType.simpleString()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for c in pdf["content"]:
                d = hashlib.sha256(c).digest()
                feats.append([(b - 128) / 128.0 for b in d[:FEATURE_DIM]])
            yield pd.DataFrame({"id": pdf[id_col], "feature": feats})

    return df.mapInPandas(batches, schema=f"id {id_type}, {FEATURE_FIELDS}")


def frame_sample(
    df: DataFrame, n_frames: int, frame_size: int, id_col: str = "id"
) -> DataFrame:
    """Frame sampling for video-like payloads: slice ``n_frames`` fixed
    windows out of the binary content.  Pure JVM byte slicing
    (``substring`` on BINARY) — no Python, no decode; a real sampler
    replaces the slicer with keyframe offsets."""
    frames = F.array(
        *[
            F.substring(F.col("content"), 1 + i * frame_size, frame_size).alias(f"f{i}")
            for i in range(n_frames)
        ]
    )
    out = df.select(F.col(id_col).alias("id"), F.posexplode(frames).alias("frame_id", "frame"))
    return out.filter(F.length("frame") > 0)


RESIZE_FIELDS = "content binary, width int, height int"


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "id",
    width_col: str = "width",
    height_col: str = "height",
) -> DataFrame:
    """Nearest-neighbor resize over RAW RGB byte tensors — a REAL
    vectorized numpy kernel, not a stub: resizing raw pixels is pure
    index arithmetic and needs no image library.  (Only
    compressed-format decode needs PIL/ffmpeg — that boundary lives in
    ``decode_media``'s clearly-marked fake codec.)

    Input rows carry ``(id, content: h*w*3 raw RGB bytes, width,
    height)``; output is the same shape at the target size.  Runs as
    Arrow-batched ``mapInPandas`` — embarrassingly parallel, payloads
    never shuffle."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()
    tgt_y = np.arange(height)
    tgt_x = np.arange(width)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_content = []
            for content, w, h in zip(
                pdf["content"], pdf[width_col], pdf[height_col]
            ):
                img = np.frombuffer(content, dtype=np.uint8)
                img = img[: int(w) * int(h) * 3].reshape(int(h), int(w), 3)
                sy = (tgt_y * int(h)) // height
                sx = (tgt_x * int(w)) // width
                out_content.append(img[sy][:, sx].tobytes())
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "content": out_content,
                    "width": width,
                    "height": height,
                }
            )

    return df.mapInPandas(batches, f"id {id_type}, {RESIZE_FIELDS}")


def decode_pcm16(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
) -> DataFrame:
    """REAL PCM16 audio decode — not a stub: 16-bit little-endian PCM is
    pure byte interpretation (``numpy.frombuffer``), no codec library
    required (that boundary — mp3/ogg/flac — lives in ``decode_media``'s
    clearly-marked fake).  Emits ``(id, waveform: array<double>,
    n_samples)`` with samples scaled to [-1, 1); an odd trailing byte is
    dropped.  Arrow-batched ``mapInPandas``: embarrassingly parallel,
    payloads never shuffle."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            waves = []
            for content in pdf[content_col]:
                raw = bytes(content)
                n = len(raw) // 2 * 2
                wav = np.frombuffer(raw[:n], dtype="<i2").astype(np.float64)
                waves.append(wav / 32768.0)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "waveform": waves,
                    "n_samples": [len(w) for w in waves],
                }
            )

    return df.mapInPandas(
        batches, f"{id_col} {id_type}, waveform array<double>, n_samples long"
    )


def image_dhash(
    df: DataFrame,
    content_col: str = "content",
    width_col: str = "width",
    height_col: str = "height",
    id_col: str = "id",
) -> DataFrame:
    """Perceptual dHash over RAW RGB byte tensors — a REAL kernel, not a
    stub (like :func:`resize_media`, raw-pixel hashing is pure index
    arithmetic and needs no image library; only compressed-format decode
    lives behind ``decode_media``'s marked fake): nearest-neighbor
    downsample to a 9x8 grid, grayscale each cell (channel sum — the
    mean's /3 is monotone, so comparisons are unchanged), then bit
    ``r*8 + c`` = "cell (r, c+1) brighter than cell (r, c)" — the
    classic difference hash.  Output ``(id, dhash: long)``, 64 bits in
    the int64 bit pattern (bit 63 lands in the sign bit).

    Crops, re-encodes and small edits flip few gradient comparisons, so
    near-duplicate images land within a small hamming distance; feed
    the codes to :func:`~metalpipe_spark.operators.dedup.
    hamming_neardup_pairs` for the bucket-banded pair join (the image
    twin of SimHash near-dup — same Manku banding, same 8-bytes/image
    state).  Arrow-batched ``mapInPandas``: embarrassingly parallel,
    payloads never shuffle, and downstream dedup moves only the 8-byte
    code."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()
    grid_w, grid_h = 9, 8
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            codes = []
            for content, w, h in zip(
                pdf[content_col], pdf[width_col], pdf[height_col]
            ):
                w, h = int(w), int(h)
                img = np.frombuffer(bytes(content), dtype=np.uint8)
                img = img[: w * h * 3].reshape(h, w, 3)
                sy = (np.arange(grid_h) * h) // grid_h
                sx = (np.arange(grid_w) * w) // grid_w
                gray = img[sy][:, sx].astype(np.int32).sum(axis=2)
                bits = (gray[:, 1:] > gray[:, :-1]).flatten()
                code = np.uint64(bits.astype(np.uint64) @ weights)
                codes.append(int(code.astype(np.int64)))
            yield pd.DataFrame({id_col: pdf[id_col], "dhash": codes})

    return df.mapInPandas(batches, f"{id_col} {id_type}, dhash long")


def image_phash(
    df: DataFrame,
    content_col: str = "content",
    width_col: str = "width",
    height_col: str = "height",
    id_col: str = "id",
) -> DataFrame:
    """Perceptual pHash over RAW RGB byte tensors — a REAL kernel (2-D
    DCT-II as two matrix products against a precomputed cosine basis;
    pure numpy, no image/scipy dependency): nearest-neighbor resize to
    32x32, grayscale, DCT, keep the 8x8 lowest-frequency block, and
    bit i = "coefficient above the median of the 63 AC coefficients"
    (DC excluded — it only encodes brightness).  Output
    ``(id, phash: long)``, 64 bits in the int64 bit pattern.

    pHash complements :func:`image_dhash`: dHash reads local gradients
    (sensitive to small local edits by design), pHash reads the global
    frequency envelope — robust to per-pixel noise, re-encoding
    artifacts and rescaling, which is why production image-dedup runs
    both and unions the pair sets.  Feed the codes to
    :func:`~metalpipe_spark.operators.dedup.hamming_neardup_pairs` /
    ``incremental_hamming_dedup`` exactly like dHash codes (same
    8-bytes-per-image state, same Manku banding)."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()
    size, keep = 32, 8
    # DCT-II basis: B[k, x] = cos(pi * (2x + 1) * k / (2N)); 2-D DCT of
    # G is B @ G @ B.T (orthonormalization constants don't change
    # median comparisons and are omitted).
    x = np.arange(size)
    basis = np.cos(np.pi * (2 * x[None, :] + 1) * x[:, None] / (2 * size))
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            codes = []
            for content, w, h in zip(
                pdf[content_col], pdf[width_col], pdf[height_col]
            ):
                w, h = int(w), int(h)
                img = np.frombuffer(bytes(content), dtype=np.uint8)
                img = img[: w * h * 3].reshape(h, w, 3)
                sy = (np.arange(size) * h) // size
                sx = (np.arange(size) * w) // size
                gray = img[sy][:, sx].astype(np.float64).sum(axis=2)
                coeffs = (basis @ gray @ basis.T)[:keep, :keep].flatten()
                med = np.median(coeffs[1:])  # AC coefficients only
                bits = coeffs > med
                bits[0] = False  # DC carries brightness, not structure
                code = np.uint64(bits.astype(np.uint64) @ weights)
                codes.append(int(code.astype(np.int64)))
            yield pd.DataFrame({id_col: pdf[id_col], "phash": codes})

    return df.mapInPandas(batches, f"{id_col} {id_type}, phash long")


def audio_fingerprint(
    df: DataFrame,
    frame: int = 512,
    hop: int = 256,
    id_col: str = "id",
    wave_col: str = "waveform",
) -> DataFrame:
    """64-bit audio fingerprint over the RMS energy ENVELOPE — the audio
    member of the hamming-code dedup family (text SimHash, image
    dHash/pHash, now audio): windowed RMS (``frame`` samples every
    ``hop``), nearest-neighbor resample of the envelope to 65 points
    (length normalization, the image-resize trick over time), bit i =
    "energy rises from point i to i+1".  Robust to uniform gain (RMS
    scales linearly, comparisons unchanged — tested), mild noise, and
    duration differences of the same material; NOT to large time
    shifts (envelope hashing, not landmark matching — a real
    Shazam-style matcher swaps in here).

    Output ``(id, afp: long)``; recordings shorter than one frame get a
    NULL code (the ``audio_window_features`` marker convention — the id
    stays joinable, ``afp IS NOT NULL`` filters to hashable clips).
    Feed codes to ``dedup.hamming_neardup_pairs`` /
    ``incremental_hamming_dedup`` exactly like image codes."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()
    points = 65
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, codes = [], []
            for rid, wave in zip(pdf[id_col], pdf[wave_col]):
                w = np.asarray(wave, dtype=np.float64)
                n_win = (len(w) - frame) // hop + 1 if len(w) >= frame else 0
                ids.append(rid)
                if n_win <= 0:
                    codes.append(None)
                    continue
                view = np.lib.stride_tricks.sliding_window_view(w, frame)[::hop]
                env = np.sqrt((view * view).mean(axis=1))
                idx = (np.arange(points) * n_win) // points
                env = env[idx]
                bits = env[1:] > env[:-1]
                code = np.uint64(bits.astype(np.uint64) @ weights)
                codes.append(int(code.astype(np.int64)))
            yield pd.DataFrame({id_col: ids, "afp": codes})

    return df.mapInPandas(batches, f"{id_col} {id_type}, afp long")


def audio_window_features(
    df: DataFrame,
    frame: int = 512,
    hop: int = 256,
    id_col: str = "id",
    wave_col: str = "waveform",
) -> DataFrame:
    """Windowed audio features over decoded waveforms: per analysis
    window (``frame`` samples every ``hop``) emit RMS energy and
    zero-crossing RATE (fraction of adjacent sample pairs that change
    sign) — the classic VAD/segmentation features, and the plumbing a
    real frontend (fbank/MFCC) drops into.

    Vectorized numpy per row (sliding windows are strided views, no
    copies); one output row per window via the Arrow batch, so a long
    recording fans out to many rows without ever shuffling the raw
    payload.  Windows shorter than ``frame`` at the tail are dropped
    (standard frontend behavior).  A recording shorter than ONE frame
    has no analysis windows at all — it still emits a single marker row
    (``window_id``/``rms``/``zcr`` all NULL) so the id stays visible to
    downstream joins instead of vanishing silently; filter
    ``window_id IS NOT NULL`` where only real windows are wanted."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, wins, rms, zcr = [], [], [], []
            for rid, wave in zip(pdf[id_col], pdf[wave_col]):
                w = np.asarray(wave, dtype=np.float64)
                n_win = (len(w) - frame) // hop + 1 if len(w) >= frame else 0
                if n_win <= 0:
                    # sub-frame recording: NULL marker row, not silence
                    ids.append(rid)
                    wins.append(None)
                    rms.append(None)
                    zcr.append(None)
                    continue
                view = np.lib.stride_tricks.sliding_window_view(w, frame)[::hop]
                ids.extend([rid] * n_win)
                wins.extend(range(n_win))
                rms.extend(np.sqrt((view * view).mean(axis=1)))
                signs = np.signbit(view)
                zcr.extend(
                    (signs[:, 1:] != signs[:, :-1]).mean(axis=1)
                )
            yield pd.DataFrame(
                {id_col: ids, "window_id": wins, "rms": rms, "zcr": zcr}
            )

    return df.mapInPandas(
        batches, f"{id_col} {id_type}, window_id long, rms double, zcr double"
    )


def video_neardup_pairs(
    df: DataFrame,
    n_frames: int,
    frame_width: int,
    frame_height: int,
    max_hamming: int = 3,
    blocks: int = 4,
    min_matching_frames: int = 2,
    id_col: str = "id",
) -> DataFrame:
    """Video near-duplicate pairs by frame-signature agreement — the
    video member of the perceptual-dedup family (text SimHash, image
    dHash, audio RMS hash all feed the same Manku banding):

    1. :func:`frame_sample` slices ``n_frames`` fixed windows out of
       each payload (pure JVM byte slicing; a real sampler substitutes
       keyframe offsets — the frame GEOMETRY, not the pipeline, is the
       stub);
    2. every frame dHashes as a raw ``frame_width x frame_height`` RGB
       buffer (:func:`image_dhash` — 8 bytes of state per frame);
    3. frame-level near-matches meet through
       ``hamming_neardup_pairs``'s block buckets (never all pairs);
    4. one aggregate counts matching frame pairs per video pair; pairs
       with at least ``min_matching_frames`` survive.

    Returns ``(v1, v2, matching_frames)`` with ``v1 < v2``.
    ``matching_frames`` counts frame-level matches (frame i of A vs
    frame j of B), so re-ordered or shifted near-copies still match;
    it can exceed ``n_frames`` when several frame combinations agree.
    Requires an integral ``id_col`` (frame ids pack as
    ``id * n_frames + frame_id``).

    Scale shape: payload bytes never shuffle (frames explode map-side
    and reduce to 8-byte codes in the same stage); the only data-scale
    shuffles are the banding bucket join and the final pair count —
    both sized by frames and matches, not video bytes."""
    from metalpipe_spark.operators.dedup import hamming_neardup_pairs

    frame_size = frame_width * frame_height * 3
    frames = frame_sample(df, n_frames, frame_size, id_col=id_col)
    # Only complete frames hash: a payload that is not an exact
    # multiple of frame_size yields a partial trailing window, and the
    # dHash kernel's reshape needs exactly width*height*3 bytes (real
    # byte streams are never exact multiples).  The fid packing needs
    # NON-NEGATIVE ids (truncating `div` would misattribute a negative
    # id's frames to the neighboring video); assert_true folds into the
    # fid expression so a bad id fails the job loudly instead of
    # silently producing wrong pairs.
    frames = frames.where(F.length("frame") == frame_size)
    fid = (F.col("id") * n_frames + F.col("frame_id")) + F.coalesce(
        F.assert_true(F.col("id") >= 0).cast("long"), F.lit(0)
    )
    fdf = frames.select(
        fid.alias("fid"),
        F.col("frame").alias("content"),
        F.lit(frame_width).alias("width"),
        F.lit(frame_height).alias("height"),
    )
    codes = image_dhash(fdf, id_col="fid")
    pairs = hamming_neardup_pairs(
        codes, code_col="dhash", id_col="fid",
        bits=64, max_hamming=max_hamming, blocks=blocks,
        # Frame decode + dHash (numpy, Arrow-batched) would otherwise
        # run once per self-join side (r17, guide §5).
        cache_codes=True,
    )
    # fid order preserves video order, so v1 <= v2 already holds; the
    # strict filter drops within-video frame matches.
    return (
        pairs.select(
            F.expr(f"`d1` div {n_frames}L").alias("v1"),
            F.expr(f"`d2` div {n_frames}L").alias("v2"),
        )
        .where(F.col("v1") != F.col("v2"))
        .groupBy("v1", "v2")
        .agg(F.count(F.lit(1)).alias("matching_frames"))
        .where(F.col("matching_frames") >= min_matching_frames)
    )


def audio_energy_segments(
    df: DataFrame,
    waveform_col: str = "waveform",
    id_col: str = "id",
    frame: int = 256,
    hop: int | None = None,
    threshold: float = 0.01,
) -> DataFrame:
    """Energy-based activity segmentation — the VAD primitive of audio
    curation (speech/silence splitting before transcription or
    dedup): frames of ``frame`` samples every ``hop`` samples score
    mean-square energy; consecutive frames at or above ``threshold``
    merge into segments ``(id, start_frame, end_frame,
    n_active_frames, start_sample)``.

    Pure JVM higher-order functions, zero Python and zero shuffle:
    energies come from one ``transform``+``aggregate`` pass over the
    waveform array; islands come from the ALIGNED-BOUNDARY trick —
    segment starts are active frames whose predecessor is inactive,
    ends are active frames whose successor is inactive, and the two
    filtered position arrays zip 1:1 (no fold, no window, no
    explode-then-shuffle).  Clips shorter than one frame emit no
    rows."""
    if frame < 1:
        raise ValueError(f"frame must be >= 1, got {frame}")
    if hop is None:
        hop = frame
    if hop < 1:
        raise ValueError(f"hop must be >= 1, got {hop}")
    w = F.col(waveform_col)
    n_frames = (F.size(w) - F.lit(frame)) / F.lit(hop) + 1
    n_frames = F.floor(n_frames).cast("int")
    seq = F.when(n_frames > 0, F.sequence(F.lit(0), n_frames - 1)).otherwise(
        F.array().cast("array<int>")
    )

    def energy(k):
        return (
            F.aggregate(
                F.slice(w, k * F.lit(hop) + 1, frame),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
            / F.lit(float(frame))
        )

    staged = df.select(
        F.col(id_col).alias("id"),
        F.transform(seq, energy).alias("__e"),
    )
    e = F.col("__e")

    def active(k):
        return F.element_at(e, k + 1) >= F.lit(threshold)

    idx = F.when(F.size(e) > 0, F.sequence(F.lit(0), F.size(e) - 1)).otherwise(
        F.array().cast("array<int>")
    )
    starts = F.filter(
        idx, lambda k: active(k) & ((k == 0) | ~active(k - 1))
    )
    ends = F.filter(
        idx,
        lambda k: active(k) & ((k == F.size(e) - 1) | ~active(k + 1)),
    )
    segs = F.zip_with(
        starts, ends, lambda s, t: F.struct(s.alias("s"), t.alias("t"))
    )
    return (
        staged.select("id", F.explode(segs).alias("seg"))
        .select(
            "id",
            F.col("seg.s").alias("start_frame"),
            F.col("seg.t").alias("end_frame"),
            (F.col("seg.t") - F.col("seg.s") + 1).alias("n_active_frames"),
            (F.col("seg.s") * hop).cast("long").alias("start_sample"),
        )
    )
