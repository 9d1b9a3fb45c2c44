"""Multimodal (image/audio/video) column processing for training-data
pipelines.

Media lives in DataFrames as opaque ``payload BINARY`` plus typed
metadata columns — the same "table + small artifact" discipline as the
vector operators. All Spark-side plumbing here is real and tested:
schemas, Arrow batch shapes, ``mapInArrow`` signatures, partitioning,
and the metadata fast paths.

Codecs: real, stdlib-only formats — binary PPM (P6), uncompressed
24-bit BMP, and baseline PNG (``zlib``; 8-bit gray/RGB/RGBA, all five
row filters) for images, and PCM WAV for audio (the stdlib ``wave``
module; 8-bit unsigned and 16-bit signed).
Every other format (JPEG/FLAC/MP3/...) needs a library this
container doesn't have: those decode calls raise ``NotImplementedError``
unless ``fake=True``, which substitutes a deterministic synthetic decode
so the downstream plumbing (feature extraction, resize bookkeeping,
frame sampling) can still be exercised and asserted end-to-end.

Schema conventions:
  images : (id BIGINT, payload BINARY, format STRING, width INT,
            height INT, channels INT)
  audio  : (id BIGINT, payload BINARY, codec STRING, sample_rate INT,
            n_samples BIGINT)
  video  : (id BIGINT, payload BINARY, codec STRING, fps DOUBLE,
            n_frames BIGINT, width INT, height INT)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_SCHEMA = (
    "id bigint, payload binary, format string, width int, height int, "
    "channels int"
)
AUDIO_SCHEMA = (
    "id bigint, payload binary, codec string, sample_rate int, n_samples bigint"
)
VIDEO_SCHEMA = (
    "id bigint, payload binary, codec string, fps double, n_frames bigint, "
    "width int, height int"
)


def _fake_decode_image(payload: bytes, width: int, height: int, channels: int) -> np.ndarray:
    """Deterministic stand-in for a real image decoder: pixels derived
    from the payload bytes, tiled to (height, width, channels) uint8."""
    src = np.frombuffer(payload, dtype=np.uint8)
    if src.size == 0:
        src = np.zeros(1, dtype=np.uint8)
    need = height * width * channels
    reps = -(-need // src.size)
    return np.tile(src, reps)[:need].reshape(height, width, channels)


# ------------------------------------------------- real stdlib codecs --


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM (P6, maxval 255)."""
    h, w, c = img.shape
    if c != 3:
        raise ValueError(f"PPM is RGB; got {c} channels")
    return f"P6\n{w} {h}\n255\n".encode() + np.ascontiguousarray(
        img, np.uint8
    ).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → (h, w, 3) uint8. Full header grammar: tokens
    separated by whitespace, '#' comments to end-of-line, one whitespace
    byte after maxval, then raw RGB rows."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval
    w, h, maxval = vals
    if maxval > 255:
        raise NotImplementedError("16-bit-per-sample PPM unsupported")
    px = np.frombuffer(payload, np.uint8, count=w * h * 3, offset=pos)
    return px.reshape(h, w, 3)


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → uncompressed 24-bit BMP (BGR, bottom-up
    rows padded to 4 bytes — the BITMAPINFOHEADER layout)."""
    import struct

    h, w, c = img.shape
    if c != 3:
        raise ValueError(f"24-bit BMP is RGB; got {c} channels")
    row = (3 * w + 3) // 4 * 4
    img_size = row * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    buf = np.zeros((h, row), np.uint8)
    buf[:, : 3 * w] = img[::-1, :, ::-1].reshape(h, 3 * w)  # bottom-up BGR
    return header + info + buf.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP → (h, w, 3) uint8 RGB."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, comp={comp})"
        )
    bottom_up = h > 0
    h = abs(h)
    row = (3 * w + 3) // 4 * 4
    buf = np.frombuffer(payload, np.uint8, count=row * h, offset=data_off)
    img = buf.reshape(h, row)[:, : 3 * w].reshape(h, w, 3)[:, :, ::-1]  # BGR→RGB
    return img[::-1] if bottom_up else img


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: PNG color type → channel count (truecolor family + grayscale)
_PNG_CTYPES = {0: 1, 2: 3, 6: 4}


def encode_png(img: np.ndarray) -> bytes:
    """(h, w, {1|3|4}) or (h, w) uint8 → PNG bytes (pure stdlib ``zlib``
    + ``struct``): 8-bit grayscale / truecolor / truecolor-alpha, filter
    type 0 on every row, one IDAT chunk. The most common real-world
    lossless format, upgraded from loud-stub to real."""
    import struct
    import zlib

    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    ct = {1: 0, 3: 2, 4: 6}.get(c)
    if ct is None:
        raise ValueError(f"PNG encode supports 1/3/4 channels; got {c}")
    body = np.empty((h, 1 + w * c), np.uint8)
    body[:, 0] = 0  # filter type None per row
    body[:, 1:] = np.ascontiguousarray(img, np.uint8).reshape(h, w * c)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(body.tobytes(), 6))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (h, w, c) uint8. Supports the baseline still-image
    profile: 8-bit depth, color types 0 (gray) / 2 (RGB) / 6 (RGBA),
    no interlace, all five row filters (None/Sub/Up/Average/Paeth —
    PNG spec §9; Sub is a per-channel mod-256 prefix sum so it
    vectorizes, Average/Paeth carry a data dependency and run per
    pixel). CRCs are verified."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, hdr = 8, [], None
    while pos + 8 <= len(payload):
        ln, tag = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        pos += 12 + ln
        if tag == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if hdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ct, comp, filt, interlace = hdr
    if depth != 8 or ct not in _PNG_CTYPES or comp or filt or interlace:
        raise NotImplementedError(
            f"PNG profile unsupported (depth={depth}, color_type={ct}, "
            f"interlace={interlace}); baseline 8-bit gray/RGB/RGBA only"
        )
    c = _PNG_CTYPES[ct]
    stride = w * c
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG IDAT length mismatch")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        off = y * (1 + stride)
        f = raw[off]
        row = np.frombuffer(raw, np.uint8, stride, off + 1).astype(np.int32)
        if f == 0:  # None
            cur = row
        elif f == 1:  # Sub: per-channel prefix sum mod 256
            cur = row.reshape(w, c).cumsum(axis=0).reshape(stride) & 0xFF
        elif f == 2:  # Up
            cur = (row + prev) & 0xFF
        elif f == 3:  # Average
            cur = row
            for x in range(stride):
                a = cur[x - c] if x >= c else 0
                cur[x] = (cur[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = row
            for x in range(stride):
                a = int(cur[x - c]) if x >= c else 0
                b = int(prev[x])
                cc = int(prev[x - c]) if x >= c else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {f} invalid")
        out[y] = cur
        prev = cur
    return out.reshape(h, w, c)


def encode_wav(samples: np.ndarray, sample_rate: int, sampwidth: int = 2) -> bytes:
    """float waveform in [-1, 1) → PCM WAV bytes (mono; sampwidth 1 =
    unsigned 8-bit, 2 = signed 16-bit little-endian)."""
    import io
    import wave as wavemod

    x = np.asarray(samples, np.float64)
    if sampwidth == 2:
        pcm = np.clip(np.round(x * 32768.0), -32768, 32767).astype("<i2")
    elif sampwidth == 1:
        pcm = np.clip(np.round(x * 128.0 + 128.0), 0, 255).astype(np.uint8)
    else:
        raise NotImplementedError("sampwidth must be 1 or 2")
    bio = io.BytesIO()
    with wavemod.open(bio, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(sampwidth)
        wf.setframerate(int(sample_rate))
        wf.writeframes(pcm.tobytes())
    return bio.getvalue()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV bytes → (float32 waveform in [-1, 1), sample_rate).
    8-bit unsigned and 16-bit signed PCM; multichannel is downmixed to
    mono by mean (documented convention — the feature extractors are
    channel-agnostic)."""
    import io
    import wave as wavemod

    with wavemod.open(io.BytesIO(payload), "rb") as wf:
        sw = wf.getsampwidth()
        ch = wf.getnchannels()
        sr = wf.getframerate()
        raw = wf.readframes(wf.getnframes())
    if sw == 2:
        x = np.frombuffer(raw, "<i2").astype(np.float32) / 32768.0
    elif sw == 1:
        x = (np.frombuffer(raw, np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"PCM sample width {sw} unsupported")
    if ch > 1:
        x = x.reshape(-1, ch).mean(1)
    return x, sr


def decode_image(payload: bytes, width: int, height: int, channels: int,
                 fake: bool = False, fmt: str | None = None) -> np.ndarray:
    """Dispatch on ``fmt``: 'ppm', 'bmp' and 'png' decode for real
    (stdlib-only codecs above); anything else needs an image library not
    present in this container — pass fake=True for the deterministic
    synthetic decoder that exercises the plumbing."""
    if fmt == "ppm":
        return decode_ppm(payload)
    if fmt == "bmp":
        return decode_bmp(payload)
    if fmt == "png":
        return decode_png(payload)
    if fake:
        return _fake_decode_image(payload, width, height, channels)
    raise NotImplementedError(
        f"image format {fmt!r} requires an imaging library (e.g. Pillow); "
        "use format 'ppm'/'bmp'/'png' or fake=True for the synthetic decoder"
    )


def image_features(
    df: DataFrame, fake: bool = False, batch_note: str = "mean/std per channel"
) -> DataFrame:
    """Per-image channel statistics: (id, mean array<double>,
    std array<double>, n_pixels bigint).

    The Arrow batch is the unit of work: one decode per row, numpy stats
    vectorized per image. Partitioning/pushdown: only (id, payload, width,
    height, channels) are read — column pruning reaches the parquet scan."""

    def feats(batches):
        # Arrow boundary (r14): the binary payload column is consumed
        # straight from the record batch (decode stays inherently
        # per-row) and the per-channel stats emit as flat ListArrays —
        # no pandas framing on either side. Stat arithmetic unchanged.
        import pyarrow as pa

        from faiss_spark.kernels import arrow_i64

        for b in batches:
            if b.num_rows == 0:
                continue
            pay = b.column(1)
            w = b.column(2).to_numpy(zero_copy_only=False)
            h = b.column(3).to_numpy(zero_copy_only=False)
            c = b.column(4).to_numpy(zero_copy_only=False)
            fmt = b.column(5).to_pylist()
            means, stds, npx = [], [], []
            for i in range(b.num_rows):
                img = decode_image(
                    pay[i].as_py(), w[i], h[i], c[i], fake, fmt=fmt[i]
                ).astype(np.float64)
                means.append(img.mean(axis=(0, 1)))
                stds.append(img.std(axis=(0, 1)))
                npx.append(img.shape[0] * img.shape[1])
            lens = np.fromiter((len(x) for x in means), np.int64, len(means))
            offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(arrow_i64(b.column(0)), pa.int64()),
                    pa.ListArray.from_arrays(
                        pa.array(offs, pa.int32()),
                        pa.array(np.concatenate(means), pa.float64()),
                    ),
                    pa.ListArray.from_arrays(
                        pa.array(offs, pa.int32()),
                        pa.array(np.concatenate(stds), pa.float64()),
                    ),
                    pa.array(np.asarray(npx, np.int64), pa.int64()),
                ],
                ["id", "mean", "std", "n_pixels"],
            )

    src = df.select("id", "payload", "width", "height", "channels", "format")
    return src.mapInArrow(
        feats,
        schema="id bigint, mean array<double>, std array<double>, n_pixels bigint",
    )


def _fake_decode_audio(payload: bytes, n_samples: int) -> np.ndarray:
    """Deterministic stand-in for a real audio decoder: int16 PCM derived
    from the payload bytes, tiled/truncated to n_samples, scaled to
    [-1, 1) float32."""
    src = np.frombuffer(payload, dtype=np.uint8)
    if src.size == 0:
        src = np.zeros(1, dtype=np.uint8)
    reps = -(-int(n_samples) // src.size)
    pcm = np.tile(src, reps)[:n_samples].astype(np.int32) * 257 - 32768
    return pcm.astype(np.float32) / 32768.0


def decode_audio(payload: bytes, n_samples: int, fake: bool = False,
                 codec: str | None = None) -> np.ndarray:
    """Dispatch on ``codec``: 'wav' decodes PCM WAV for real (stdlib
    ``wave``); anything else needs an audio library not present in this
    container — pass fake=True for the deterministic synthetic decoder."""
    if codec == "wav":
        return decode_wav(payload)[0]
    if fake:
        return _fake_decode_audio(payload, n_samples)
    raise NotImplementedError(
        f"audio codec {codec!r} requires an audio library (e.g. "
        "soundfile/ffmpeg); use codec 'wav' or fake=True for the "
        "synthetic decoder"
    )


def audio_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Per-clip waveform statistics: (id, rms double, peak double,
    zero_crossings bigint, duration_sec double).

    Same discipline as image_features: the Arrow batch is the unit of
    work, decode is per-row, stats are vectorized numpy over the decoded
    waveform. Column pruning: only (id, payload, sample_rate, n_samples)
    are read."""

    def feats(batches):
        # Arrow boundary (r14) — see image_features; stat arithmetic
        # unchanged, per-row decode unchanged.
        import pyarrow as pa

        from faiss_spark.kernels import arrow_i64

        for b in batches:
            if b.num_rows == 0:
                continue
            pay = b.column(1)
            sr = b.column(2).to_numpy(zero_copy_only=False)
            ns = b.column(3).to_numpy(zero_copy_only=False)
            codec = b.column(4).to_pylist()
            rms, peak, zc, dur = [], [], [], []
            for i in range(b.num_rows):
                wave = decode_audio(
                    pay[i].as_py(), ns[i], fake, codec=codec[i]
                ).astype(np.float64)
                rms.append(float(np.sqrt(np.mean(wave**2))) if wave.size else 0.0)
                peak.append(float(np.abs(wave).max()) if wave.size else 0.0)
                zc.append(int(np.count_nonzero(np.signbit(wave[1:]) != np.signbit(wave[:-1]))))
                dur.append(float(ns[i]) / float(sr[i]) if sr[i] else 0.0)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(arrow_i64(b.column(0)), pa.int64()),
                    pa.array(rms, pa.float64()),
                    pa.array(peak, pa.float64()),
                    pa.array(np.asarray(zc, np.int64), pa.int64()),
                    pa.array(dur, pa.float64()),
                ],
                ["id", "rms", "peak", "zero_crossings", "duration_sec"],
            )

    src = df.select("id", "payload", "sample_rate", "n_samples", "codec")
    return src.mapInArrow(
        feats,
        schema=(
            "id bigint, rms double, peak double, zero_crossings bigint, "
            "duration_sec double"
        ),
    )


def make_fake_audio(spark, n: int, sample_rate: int = 16000,
                    n_samples: int = 4000, seed: int = 11) -> DataFrame:
    """Deterministic synthetic audio table (for tests/demos)."""
    rng = np.random.default_rng(seed)
    rows = [
        (
            i,
            bytes(rng.integers(0, 256, 64, dtype=np.uint8).tolist()),
            "fake",
            sample_rate,
            n_samples,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, AUDIO_SCHEMA)


def resize_images(
    df: DataFrame, out_w: int, out_h: int, fake: bool = False
) -> DataFrame:
    """Nearest-neighbor resize: returns the images table with payload
    replaced by the raw resized pixel buffer and width/height updated.
    (Real pipelines re-encode; the plumbing — new payload bytes, updated
    metadata, preserved schema — is what is exercised here.)"""

    def do(batches):
        # Arrow boundary (r14) — see image_features; resize arithmetic
        # unchanged, new payload bytes emitted as one BinaryArray.
        import pyarrow as pa

        from faiss_spark.kernels import arrow_i64

        for b in batches:
            if b.num_rows == 0:
                continue
            pay = b.column(1)
            fmt = b.column(2).to_pylist()
            w = b.column(3).to_numpy(zero_copy_only=False)
            h = b.column(4).to_numpy(zero_copy_only=False)
            c = b.column(5).to_numpy(zero_copy_only=False)
            n = b.num_rows
            payloads = []
            for i in range(n):
                img = decode_image(pay[i].as_py(), w[i], h[i], c[i], fake, fmt=fmt[i])
                ys = (np.arange(out_h) * h[i] // out_h).astype(int)
                xs = (np.arange(out_w) * w[i] // out_w).astype(int)
                payloads.append(img[ys][:, xs].tobytes())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(arrow_i64(b.column(0)), pa.int64()),
                    pa.array(payloads, pa.binary()),
                    pa.array(["raw"] * n, pa.string()),
                    pa.array(np.full(n, out_w, np.int32), pa.int32()),
                    pa.array(np.full(n, out_h, np.int32), pa.int32()),
                    pa.array(np.asarray(c, np.int32), pa.int32()),
                ],
                ["id", "payload", "format", "width", "height", "channels"],
            )

    return df.select(
        "id", "payload", "format", "width", "height", "channels"
    ).mapInArrow(do, schema=IMAGE_SCHEMA)


def sample_video_frames(
    df: DataFrame, every_n: int = 30
) -> DataFrame:
    """Frame-sampling BOOKKEEPING (pure SQL, no decode): explode each
    video row into (id, frame_no, ts_sec) for frames 0, n, 2n, … —
    the shuffle-free planning step a real pipeline runs before paying for
    decode; the decode itself would be a mapInArrow like image_features."""
    frame_nos = F.when(
        F.col("n_frames") > 0,
        F.sequence(F.lit(0), (F.col("n_frames") - 1).cast("int"), F.lit(every_n)),
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        "id",
        F.explode(frame_nos).alias("frame_no"),
        "fps",
    ).select(
        "id",
        "frame_no",
        F.round(F.col("frame_no") / F.col("fps"), 6).alias("ts_sec"),
    )


def audio_windows(
    df: DataFrame, window_samples: int = 16000, hop: int = 8000
) -> DataFrame:
    """Audio windowing bookkeeping (pure SQL): (id, win_no, start_sample,
    end_sample) covering n_samples with the given hop."""
    n_wins = F.greatest(
        F.ceil((F.col("n_samples") - window_samples) / hop + 1), F.lit(1)
    ).cast("int")
    return df.select(
        "id",
        F.explode(F.sequence(F.lit(0), n_wins - 1)).alias("win_no"),
        "n_samples",
    ).select(
        "id",
        "win_no",
        (F.col("win_no") * hop).alias("start_sample"),
        F.least(
            F.col("win_no") * hop + window_samples, F.col("n_samples")
        ).alias("end_sample"),
    )


def make_fake_images(spark, n: int, width: int = 8, height: int = 6,
                     channels: int = 3, seed: int = 7) -> DataFrame:
    """Deterministic synthetic images table (for tests/demos)."""
    rng = np.random.default_rng(seed)
    rows = [
        (
            i,
            bytes(rng.integers(0, 256, 32, dtype=np.uint8).tolist()),
            "fake",
            width,
            height,
            channels,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, IMAGE_SCHEMA)
