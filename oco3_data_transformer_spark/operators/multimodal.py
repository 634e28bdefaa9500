"""Multimodal columns for a training-data pipeline: image/audio/video as
opaque ``binary`` columns with typed metadata, processed with Arrow-batched
``mapInPandas`` kernels.

Real image/audio wheels (PIL, ffmpeg, torchaudio) are not in this
container, so codecs are implemented from their public specifications:
'png' (this module), 'jpeg' baseline+progressive (operators/jpeglite.py),
'webp' lossless VP8L (operators/webplite.py), 'wav' RIFF/WAVE PCM+float
(this module), plus the trivially-deterministic 'raw'/'pcm16'.  LOSSY
WebP (VP8) decodes through the system ``libwebp.so`` via ctypes
(operators/syscodecs.py, feature-detected — also the live differential
proving webplite's VP8L interop, tests/test_syscodecs.py); compressed
audio ('mp3') still raises ``NotImplementedError`` at the decode
boundary (no system codec library shipped), nothing else changes. Each
codec has one decoder, whatever image libraries are importable.

Design notes for 100 TB of blobs:
  - blobs never pass through a shuffle: decode → feature/resize → encode all
    happen inside one ``mapInPandas`` pass over the scan partitions;
    only small feature rows continue into joins/aggregations.
  - ``spark.sql.files.maxPartitionBytes`` bounds task input; a blob column
    of ~1 MB rows at 128 MB partitions ≈ 128 rows/task — Arrow batches are
    sliced further by spark.sql.execution.arrow.maxRecordsPerBatch.
  - metadata (width/height/channels/sample_rate) rides as plain columns so
    filters on it prune *before* any decode happens.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("codec", T.StringType()),  # 'raw' | 'jpeg' | 'png'
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("std_intensity", T.DoubleType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # color type -> channels (8-bit only)
_PNG_COLORTYPE = {1: 0, 3: 2, 4: 6}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib as _z

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF)
    )


def png_encode(arr: np.ndarray) -> bytes:
    """Minimal PNG encoder (public PNG spec, ISO/IEC 15948): 8-bit
    grayscale/RGB/RGBA, non-interlaced, filter type 0 per scanline,
    zlib-deflated IDAT. Any PNG reader decodes it."""
    import zlib as _z

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if ch not in _PNG_COLORTYPE:
        raise ValueError(f"png_encode: {ch} channels unsupported (1/3/4)")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_COLORTYPE[ch], 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), arr.reshape(h, w * ch)], axis=1
    ).tobytes()  # filter byte 0 + scanline
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def png_decode(payload: bytes) -> np.ndarray:
    """Minimal PNG decoder: 8-bit gray/RGB/RGBA, non-interlaced, all five
    scanline filter types (None/Sub/Up/Average/Paeth) — the shapes real
    encoders emit. Returns (H, W, C) uint8."""
    import zlib as _z

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, idat, ihdr = 8, [], None
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("PNG truncated (chunk header past EOF)")
        (ln,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        if pos + 12 + ln > len(payload):
            raise ValueError(
                f"PNG truncated ({ctype!r} chunk length {ln} past EOF)"
            )
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if crc != _z.crc32(ctype + data) & 0xFFFFFFFF:
            raise ValueError(f"PNG {ctype!r} chunk CRC mismatch")
        pos += 12 + ln
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype_, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError(
            f"PNG IHDR invalid (compression {comp}, filter method {filt}; "
            "both must be 0 per spec)"
        )
    if depth != 8 or ctype_ not in _PNG_CHANNELS or interlace:
        raise ValueError(
            f"PNG shape unsupported (depth {depth}, color type {ctype_}, "
            f"interlace {interlace}) — 8-bit gray/RGB/RGBA non-interlaced only"
        )
    ch = _PNG_CHANNELS[ctype_]
    stride = w * ch
    raw = _z.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT size does not match IHDR dimensions")
    rows = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), np.int64)
    bpp = ch
    zero_pix = np.zeros(bpp, np.int64)
    for y in range(h):
        ft, line = rows[y, 0], rows[y, 1:].astype(np.int64)
        up = out[y - 1] if y else np.zeros(stride, np.int64)
        cur = out[y]
        if ft == 0:
            cur[:] = line
        elif ft == 1:  # Sub: per-lane running sum mod 256 (vectorized)
            cur[:] = np.cumsum(line.reshape(w, bpp), axis=0).reshape(stride) & 0xFF
        elif ft == 2:  # Up (vectorized)
            cur[:] = (line + up) & 0xFF
        elif ft in (3, 4):  # Average/Paeth: recurrence on the previous
            # PIXEL — loop per pixel, all bpp lanes at once
            line_px = line.reshape(w, bpp)
            up_px = up.reshape(w, bpp)
            cur_px = cur.reshape(w, bpp)
            for x in range(w):
                a = cur_px[x - 1] if x else zero_pix
                b = up_px[x]
                c = up_px[x - 1] if x else zero_pix
                if ft == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                    )
                cur_px[x] = (line_px[x] + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ft} invalid")
    return out.astype(np.uint8).reshape(h, w, ch)


def decode_image(codec: str, payload: bytes, width: int, height: int, channels: int) -> np.ndarray:
    """Decode one blob to (H, W, C) uint8. 'raw', 'png', 'jpeg'
    (baseline SOF0 and progressive SOF2) and 'webp' decode here ('png'
    via the from-spec codec above, 'jpeg' via operators/jpeglite.py,
    'webp' via the system libwebp (operators/syscodecs.py, lossy VP8 and
    lossless VP8L) when it loads, else the from-spec VP8L decoder in
    operators/webplite.py); any other codec raises
    NotImplementedError."""
    if codec == "raw":
        arr = np.frombuffer(payload, dtype=np.uint8)
        return arr.reshape(height, width, channels)
    if codec == "png":
        return png_decode(payload)
    if codec == "jpeg":
        from .jpeglite import jpeg_decode

        return jpeg_decode(payload)
    if codec == "webp":
        # both decoders return (H, W, 4) RGBA
        from . import syscodecs

        if syscodecs.available():
            rgba = syscodecs.webp_decode(payload)
        else:
            from .webplite import webp_decode

            rgba = webp_decode(payload)
        return rgba[:, :, :channels] if channels in (1, 3) else rgba
    raise NotImplementedError(
        f"codec {codec!r} needs an image library not present in this "
        "container; 'raw', 'png', 'jpeg' and lossless 'webp' decode here"
    )


def encode_image(arr: np.ndarray, codec: str = "raw") -> bytes:
    if codec == "raw":
        return np.ascontiguousarray(arr, dtype=np.uint8).tobytes()
    if codec == "png":
        return png_encode(arr)
    if codec == "jpeg":
        from .jpeglite import jpeg_encode

        return jpeg_encode(arr)
    if codec == "webp":
        from .webplite import webp_encode

        return webp_encode(arr)
    raise NotImplementedError(f"codec {codec!r} not available")


def image_features(images: DataFrame) -> DataFrame:
    """Decode → per-image intensity stats, one mapInPandas pass (no shuffle,
    no blob movement beyond the scan)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                arr = decode_image(row.codec, row.payload, row.width, row.height, row.channels)
                out.append(
                    {
                        "item_id": row.item_id,
                        "width": row.width,
                        "height": row.height,
                        "mean_intensity": float(arr.mean()),
                        "std_intensity": float(arr.std()),
                        "n_bytes": len(row.payload),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields])

    return images.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize (pure numpy index sampling — deterministic,
    codec-independent), emitting the same IMAGE_SCHEMA with new payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                arr = decode_image(row.codec, row.payload, row.width, row.height, row.channels)
                ys = (np.arange(out_h) * row.height // out_h).astype(np.int64)
                xs = (np.arange(out_w) * row.width // out_w).astype(np.int64)
                resized = arr[ys[:, None], xs[None, :], :]
                rows.append(
                    {
                        "item_id": row.item_id,
                        "codec": "raw",
                        "width": out_w,
                        "height": out_h,
                        "channels": row.channels,
                        "payload": encode_image(resized),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_SCHEMA.fields])

    return images.mapInPandas(run, IMAGE_SCHEMA)


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def sample_frames(videos: DataFrame, every_n: int) -> DataFrame:
    """Frame sampling: a raw 'video' is (n_frames, H, W, C) bytes with an
    ``n_frames`` column; emit every-n-th frame as an image row (1→N UDTF-ish
    expansion inside mapInPandas — the blob fan-out stays executor-side)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                if row.codec != "raw":
                    raise NotImplementedError(f"codec {row.codec!r} not available")
                frame_bytes = row.width * row.height * row.channels
                arr = np.frombuffer(row.payload, dtype=np.uint8).reshape(
                    row.n_frames, row.height, row.width, row.channels
                )
                for fi in range(0, row.n_frames, every_n):
                    rows.append(
                        {
                            "item_id": row.item_id,
                            "frame_idx": fi,
                            "codec": "raw",
                            "width": row.width,
                            "height": row.height,
                            "channels": row.channels,
                            "payload": arr[fi].tobytes(),
                        }
                    )
                del frame_bytes
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_FRAME_SCHEMA.fields])

    return videos.mapInPandas(run, VIDEO_FRAME_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("codec", T.StringType()),  # 'pcm16' | 'wav' | 'mp3'
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
    ]
)


def wav_encode(
    samples: np.ndarray, sample_rate: int, bits: int = 16
) -> bytes:
    """Encode (n_samples, channels) float64 in [-1, 1] as a canonical
    RIFF/WAVE file (public RIFF + WAVE format spec): PCM uint8 / int16 /
    int24 / int32 (``bits`` 8/16/24/32) or IEEE float32 (``bits`` -32)."""
    x = np.asarray(samples, np.float64)
    if x.ndim == 1:
        x = x[:, None]
    n, ch = x.shape
    if bits == -32:
        fmt_code, bps = 3, 32
        data = x.astype("<f4").tobytes()
    elif bits == 8:
        fmt_code, bps = 1, 8
        data = (np.clip(np.rint(x * 128 + 128), 0, 255)).astype(np.uint8).tobytes()
    elif bits in (16, 32):
        fmt_code, bps = 1, bits
        lim = float(1 << (bits - 1))
        q = np.clip(np.rint(x * lim), -lim, lim - 1)
        data = q.astype(f"<i{bits // 8}").tobytes()
    elif bits == 24:
        fmt_code, bps = 1, 24
        q = np.clip(np.rint(x * 8388608.0), -8388608, 8388607).astype("<i4")
        b = q.reshape(-1).view(np.uint8).reshape(-1, 4)[:, :3]  # LE low 3
        data = b.tobytes()
    else:
        raise ValueError(f"wav_encode: bits {bits} unsupported (8/16/24/32/-32)")
    block = ch * bps // 8
    fmt = struct.pack(
        "<HHIIHH", fmt_code, ch, sample_rate, sample_rate * block, block, bps
    )
    data_len = len(data)
    if data_len % 2:
        data += b"\x00"  # RIFF pad byte, NOT counted in the chunk size
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", data_len) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF/WAVE payload → ((n_samples, channels) float64 in
    [-1, 1], sample_rate). PCM 8 (unsigned) / 16 / 24 / 32-bit and IEEE
    float32/float64, including WAVE_FORMAT_EXTENSIBLE wrappers; unknown
    chunks (LIST, fact, cue, ...) are skipped per the RIFF rules."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("WAV truncated (chunk body past EOF)")
        pos += 8 + ln + (ln & 1)  # word alignment
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    code, ch, rate, _, _, bps = struct.unpack_from("<HHIIHH", fmt, 0)
    if code == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: real code in the GUID
        if len(fmt) < 40:
            raise ValueError("WAV extensible fmt chunk too short")
        (code,) = struct.unpack_from("<H", fmt, 24)
    if code == 1:  # PCM
        if bps == 8:
            x = np.frombuffer(data, np.uint8).astype(np.float64)
            x = (x - 128.0) / 128.0
        elif bps in (16, 32):
            x = np.frombuffer(data, f"<i{bps // 8}").astype(np.float64)
            x /= float(1 << (bps - 1))
        elif bps == 24:
            raw = np.frombuffer(data, np.uint8)
            raw = raw[: len(raw) - len(raw) % 3].reshape(-1, 3)
            v = (
                raw[:, 0].astype(np.int32)
                | (raw[:, 1].astype(np.int32) << 8)
                | (raw[:, 2].astype(np.int32) << 16)
            )
            v = (v ^ 0x800000) - 0x800000  # sign-extend 24 bits
            x = v.astype(np.float64) / 8388608.0
        else:
            raise ValueError(f"WAV PCM {bps}-bit unsupported")
    elif code == 3:  # IEEE float
        x = np.frombuffer(data, "<f4" if bps == 32 else "<f8").astype(np.float64)
    else:
        raise NotImplementedError(
            f"WAV format code {code} (e.g. ADPCM/mp3-in-wav) needs an audio "
            "library not present in this container"
        )
    return x[: len(x) - len(x) % ch].reshape(-1, ch), rate


def decode_audio(codec: str, payload: bytes, channels: int) -> np.ndarray:
    """Decode one audio blob to (n_samples, channels) float64 in [-1, 1].
    'pcm16' (raw little-endian int16, interleaved) and 'wav' (RIFF
    container, from spec) are fully implemented; compressed codecs plug
    in behind the same signature."""
    if codec == "pcm16":
        arr = np.frombuffer(payload, dtype="<i2").astype(np.float64) / 32768.0
        return arr.reshape(-1, channels)
    if codec == "wav":
        return wav_decode(payload)[0]
    if codec == "flac":
        from .flaclite import flac_decode

        x, _, bps = flac_decode(payload)
        return x.astype(np.float64) / float(1 << (bps - 1))
    raise NotImplementedError(
        f"codec {codec!r} needs an audio library not present in this "
        "container; 'pcm16', 'wav' and 'flac' decode here. mp3 would "
        "activate through a system mpg123/mad/ffmpeg library (the "
        "syscodecs ctypes pattern that bound libwebp/liblz4/libzstd) — "
        "syscodecs.probe_report() found none on this image (r10), and "
        "a from-spec Layer III decoder is not honestly writable here: "
        "ISO 11172-3's Huffman/scalefactor tables are published data "
        "that cannot be re-derived and are not in-container to "
        "transcribe"
    )


def audio_features(audio: DataFrame) -> DataFrame:
    """Decode → per-clip features (duration, RMS, peak, zero-crossing rate)
    in one mapInPandas pass — blobs never shuffle, only feature rows do."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                x = decode_audio(row.codec, row.payload, row.channels)
                mono = x.mean(axis=1)
                zc = float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8)))))
                out.append(
                    {
                        "item_id": row.item_id,
                        "duration_s": x.shape[0] / float(row.sample_rate),
                        "rms": float(np.sqrt(np.mean(mono**2))),
                        "peak": float(np.abs(mono).max(initial=0.0)),
                        "zero_crossing_rate": zc,
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    return audio.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def synthetic_audio(spark, n: int, sample_rate: int = 8000, seconds: float = 0.25):
    """Deterministic fake clips: item_id-seeded sine + noise as raw pcm16."""
    ids = spark.range(n).select(F.col("id").alias("item_id"))
    n_samples = int(sample_rate * seconds)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for item_id in pdf["item_id"]:
                rng = np.random.default_rng(int(item_id))
                t = np.arange(n_samples) / sample_rate
                freq = 100.0 + (int(item_id) % 10) * 50.0
                x = 0.5 * np.sin(2 * np.pi * freq * t) + 0.05 * rng.standard_normal(
                    n_samples
                )
                pcm = np.clip(x * 32767, -32768, 32767).astype("<i2")
                rows.append(
                    {
                        "item_id": int(item_id),
                        "codec": "pcm16",
                        "sample_rate": sample_rate,
                        "channels": 1,
                        "payload": pcm.tobytes(),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_SCHEMA.fields])

    return ids.mapInPandas(gen, AUDIO_SCHEMA)


def gradient_images(
    ids: DataFrame,
    id_col: str = "doc_id",
    width: int = 16,
    height: int = 12,
    channels: int = 3,
) -> DataFrame:
    """Closed-form image per id for CONTRACT-ORACLE queries (catalog q43,
    the q132 pattern): pixel[r, c, ch] = (id % 251 + 7r + 3c + 11ch) % 256,
    so the per-image intensity SUM has an exact closed form a DuckDB
    oracle recomputes with three range() joins — the oracle numerically
    checks the whole encode → decode → feature path, not just that it
    ran. Codec alternates png (from-spec codec) / raw on (id // 20) % 2
    — a bit that VARIES within a ``doc_id % 20 == r`` sample class, so
    residue-sampled contract queries (catalog q43) exercise BOTH decode
    legs (ADVICE r9: plain id parity is constant within such a class)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw_id in pdf[id_col]:
                did = int(raw_id)
                base = did % 251
                r = np.arange(height)[:, None, None]
                c = np.arange(width)[None, :, None]
                ch = np.arange(channels)[None, None, :]
                arr = ((base + 7 * r + 3 * c + 11 * ch) % 256).astype(np.uint8)
                codec = "png" if (did // 20) % 2 else "raw"
                rows.append(
                    {
                        "item_id": did,
                        "codec": codec,
                        "width": width,
                        "height": height,
                        "channels": channels,
                        "payload": encode_image(arr, codec),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_SCHEMA.fields])

    return ids.mapInPandas(gen, IMAGE_SCHEMA)


def square_wave_audio(
    ids: DataFrame,
    id_col: str = "doc_id",
    sample_rate: int = 8000,
    n_samples: int = 2000,
) -> DataFrame:
    """Closed-form clip per id for CONTRACT-ORACLE queries (catalog q53):
    a square wave of amplitude a = 1000 + (id % 10)·500 (int16-exact,
    power-of-two normalization keeps decode values EXACT floats) with
    half-period L = 4 + id % 4, so RMS = a/32768 exactly and the
    zero-crossing count is floor((n_samples-1)/L) — both recomputable by
    a DuckDB oracle in closed form. Codec alternates flac/wav on
    (id // 20) % 2 — a bit that VARIES within a ``doc_id % 20 == r``
    sample class, so residue-sampled contract queries (catalog q53)
    drive BOTH from-spec audio codecs through the feature path (ADVICE
    r9: plain id parity is constant within such a class)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .flaclite import flac_encode

        i = np.arange(n_samples)
        for pdf in batches:
            rows = []
            for raw_id in pdf[id_col]:
                did = int(raw_id)
                a = 1000 + (did % 10) * 500
                half = 4 + did % 4
                pcm = np.where((i // half) % 2 == 0, a, -a).astype("<i2")
                if (did // 20) % 2:
                    codec, payload = "flac", flac_encode(
                        pcm.astype(np.int64), sample_rate, bps=16
                    )
                else:
                    codec, payload = "wav", wav_encode(
                        pcm.astype(np.float64) / 32768.0, sample_rate, bits=16
                    )
                rows.append(
                    {
                        "item_id": did,
                        "codec": codec,
                        "sample_rate": sample_rate,
                        "channels": 1,
                        "payload": payload,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_SCHEMA.fields])

    return ids.mapInPandas(gen, AUDIO_SCHEMA)


def synthetic_images(spark, n: int, width: int = 8, height: int = 6, channels: int = 3):
    """Deterministic fake corpus for tests/benchmarks (seeded per item):
    payload bytes are a fixed function of item_id."""
    ids = spark.range(n).select(F.col("id").alias("item_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for item_id in pdf["item_id"]:
                rng = np.random.default_rng(int(item_id))
                arr = rng.integers(0, 256, size=(height, width, channels), dtype=np.uint8)
                rows.append(
                    {
                        "item_id": int(item_id),
                        "codec": "raw",
                        "width": width,
                        "height": height,
                        "channels": channels,
                        "payload": arr.tobytes(),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_SCHEMA.fields])

    return ids.mapInPandas(gen, IMAGE_SCHEMA)
