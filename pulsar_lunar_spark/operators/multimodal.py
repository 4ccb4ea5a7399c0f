"""Multimodal columns: image/audio/video as opaque binary + typed metadata
(SURVEY north-star ops; BASELINE.json "multimodal columns").

Design for 100 TB: media bytes ride as a ``binary`` column next to typed
metadata; decode/feature-extract runs partition-wise via ``mapInPandas``
(iterator of Arrow batches — bytes never cross a Python row boundary).
Partitioning discipline: media tables are written with
``maxRecordsPerFile`` tuned so (rows x avg_media_size) fits an executor;
the decode stage is a map-only stage — no shuffle.

Codecs decoded FOR REAL in pure python + numpy: BMP (24-bpp BI_RGB), PNG
(zlib + scanline filters, via this module), WAV (16-bit PCM + G.711
mu-law), and uncompressed RIFF AVI video (encode_avi/decode_avi —
24-bpp DIB frames; baseline JPEG lives in operators/jpeg.py). Formats
that genuinely need external libraries (mp3/flac -> soundfile,
compressed video -> ffmpeg, progressive/subsampled JPEG -> PIL) raise
NotImplementedError and are flagged ``decode_ok=false`` instead of
crashing the batch. The Spark-side schema, UDF signature and Arrow batch
shape are identical across all paths.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

#: Canonical media column group: bytes + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("format", StringType()),  # png/jpeg/wav/mp4/...
        StructField("width", IntegerType()),  # images/video
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),  # audio/video
    ]
)

#: Output schema of the image feature extractor.
IMAGE_FEATURES_SCHEMA = (
    "media_id string, format string, n_bytes long, width int, height int, "
    "mean_luma double, decode_ok boolean"
)

#: Output schema of the audio feature extractor.
AUDIO_FEATURES_SCHEMA = (
    "media_id string, format string, n_bytes long, duration_ms int, "
    "rms double, decode_ok boolean"
)

#: Output schema of REAL (decoded) video frame sampling.
AVI_FRAME_SCHEMA = (
    "media_id string, frame_index int, frame_ms int, width int, height int, "
    "luma_sum long, decode_ok boolean"
)

#: Output schema of consecutive-frame delta extraction (scene-cut input).
FRAME_DELTA_SCHEMA = (
    "media_id string, frame_index int, width int, height int, "
    "delta_sum long, decode_ok boolean"
)

#: Output schema of windowed Haar-band audio fingerprints.
AUDIO_FP_SCHEMA = (
    "media_id string, win_index int, n_windows int, bands string, "
    "decode_ok boolean"
)


# -- real codecs (pure python + numpy; no external media libs needed) ------


def encode_bmp(pixels: "np.ndarray | int", width: int | None = None, height: int | None = None) -> bytes:
    """Encode an 8-bit grayscale image as a 24-bpp uncompressed BMP (BI_RGB).

    ``pixels`` is an (h, w) uint8 array, or a single gray level with
    explicit width/height. Bottom-up row order, rows padded to 4 bytes —
    the standard Windows BMP layout."""
    if isinstance(pixels, (int, np.integer)):
        if width is None or height is None:
            raise ValueError("constant-gray encode needs width and height")
        pixels = np.full((height, width), int(pixels) & 0xFF, dtype=np.uint8)
    h, w = pixels.shape
    row_size = (w * 3 + 3) // 4 * 4
    data = np.zeros((h, row_size), dtype=np.uint8)
    # gray -> B,G,R triplets; bottom-up: last image row first in the file
    data[:, : w * 3] = np.repeat(pixels[::-1], 3, axis=1)
    body = data.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


def _bmp_bgr(content: bytes) -> tuple[np.ndarray, int, int, bool]:
    """Parse a 24-bpp uncompressed BMP (BI_RGB): its (h, w*3) B,G,R byte
    grid with the row padding stripped, in FILE row order, plus (w, h)
    and whether the file stores rows bottom-up. Errors as decode_bmp."""
    if len(content) < 54 or content[:2] != b"BM":
        raise ValueError("not a BMP file")
    (data_offset,) = struct.unpack_from("<I", content, 10)
    w, h_signed = struct.unpack_from("<ii", content, 18)
    _, bpp = struct.unpack_from("<HH", content, 26)
    (compression,) = struct.unpack_from("<I", content, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP {bpp}-bpp compression={compression} unsupported")
    h = abs(h_signed)
    row_size = (w * 3 + 3) // 4 * 4
    if data_offset + row_size * h > len(content):
        raise ValueError("truncated BMP pixel data")
    px = np.frombuffer(content, np.uint8, count=row_size * h, offset=data_offset)
    return px.reshape(h, row_size)[:, : w * 3], w, h, h_signed > 0


def decode_bmp(content: bytes) -> tuple[int, int, float]:
    """Decode a 24-bpp uncompressed BMP: (width, height, mean_luma).

    mean_luma is the mean over all B,G,R channel bytes (== the gray level
    for grayscale content). Raises ValueError for corrupt bytes and
    NotImplementedError for BMP variants beyond 24-bpp BI_RGB."""
    px, w, h, _ = _bmp_bgr(content)
    return (w, h, float(px.mean()) if px.size else 0.0)


def decode_bmp_pixels(content: bytes) -> np.ndarray:
    """Decode a 24-bpp BMP to its (h, w) uint8 luma grid in TOP-DOWN row
    order (un-flips the file's bottom-up storage). Grayscale content has
    B == G == R, so the blue channel is the luma exactly."""
    px, w, h, bottom_up = _bmp_bgr(content)
    luma = px.reshape(h, w, 3)[:, :, 0]
    return luma[::-1] if bottom_up else luma


def resize_images(df: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Nearest-neighbor thumbnail resize over (media_id, content) BMP rows
    — decode pixels, resample src[(i*h)//out_h, (j*w)//out_w], re-encode,
    then report features decoded from the RESIZED bytes so the whole
    decode -> resample -> encode -> decode loop is exercised per row.

    Arrow-batched mapInPandas, map-only (no shuffle); at 100 TB the resize
    fleet is embarrassingly parallel and output bytes are a fixed
    54 + padded_row * out_h per image regardless of input size — the
    uniform-thumbnail shape a vision-embedding stage wants."""

    def _rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    src = decode_bmp_pixels(bytes(content))
                    h, w = src.shape
                    yi = (np.arange(out_h) * h) // out_h
                    xi = (np.arange(out_w) * w) // out_w
                    thumb = src[np.ix_(yi, xi)]
                    b2 = encode_bmp(thumb)
                    t2 = decode_bmp_pixels(b2)
                    rows.append(
                        (media_id, out_w, out_h, len(b2), int(t2.astype(np.int64).sum()), True)
                    )
                except (ValueError, NotImplementedError):
                    rows.append((media_id, 0, 0, 0, 0, False))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "out_width", "out_height", "n_bytes", "luma_sum", "decode_ok",
                ],
            )

    return df.mapInPandas(
        _rs,
        schema=(
            "media_id string, out_width int, out_height int, "
            "n_bytes bigint, luma_sum bigint, decode_ok boolean"
        ),
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(pixels: np.ndarray, filters: "list[int] | None" = None) -> bytes:
    """Encode a uint8 image as a real PNG — (h, w) grayscale (color type 0)
    or (h, w, 3) RGB (color type 2) — bit depth 8, non-interlaced:
    per-scanline filtering, one zlib-deflated IDAT, CRC-32 per chunk,
    pure stdlib zlib + struct.

    ``filters`` gives the filter type per row (0=None 1=Sub 2=Up 3=Average
    4=Paeth); default cycles through all five so a decoder must implement
    every unfilter path to get the pixels back. Filter neighbor offsets
    are bpp-aware per the spec (the 'left' byte is bpp bytes back)."""
    import zlib

    pixels = np.asarray(pixels, dtype=np.uint8)
    color = pixels.ndim == 3
    h, w = pixels.shape[:2]
    bpp = 3 if color else 1
    stride = w * bpp
    flat = pixels.reshape(h, stride)
    if filters is None:
        filters = [y % 5 for y in range(h)]
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    zeros = np.zeros(bpp, dtype=np.int32)
    for y in range(h):
        row = flat[y].astype(np.int32)
        left = np.concatenate((zeros, row[:-bpp]))  # bpp bytes back
        f = filters[y]
        raw.append(f)
        if f == 0:
            out = row
        elif f == 1:  # Sub
            out = row - left
        elif f == 2:  # Up
            out = row - prev
        elif f == 3:  # Average
            out = row - (left + prev) // 2
        elif f == 4:  # Paeth (left-dependent: per-byte loop)
            out = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                out[x] = row[x] - _paeth(a, b, c)
        else:
            raise ValueError(f"unknown PNG filter {f}")
        raw += (out % 256).astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if color else 0, 0, 0, 0)

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    idat = zlib.compress(bytes(raw), 6)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def decode_png_pixels(content: bytes) -> np.ndarray:
    """Decode a real PNG to its (h, w[, 3]) uint8 sample grid: chunk walk
    (multi-IDAT), zlib inflate, and full scanline unfiltering (None / Sub /
    Up / Average / Paeth). Supports bit depth 8, color types 0 (gray) and
    2 (RGB), non-interlaced — ValueError for corrupt bytes,
    NotImplementedError beyond that (PIL territory)."""
    import zlib

    if len(content) < 8 or content[:8] != _PNG_SIG:
        raise ValueError("not a PNG file")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(content):
        (size,) = struct.unpack_from(">I", content, pos)
        typ = content[pos + 4 : pos + 8]
        body = content[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("truncated PNG chunk")
        if typ == b"IHDR":
            ihdr = body
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        pos += 12 + size  # len + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or color not in (0, 2) or comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            f"PNG depth={depth} color={color} interlace={interlace} requires PIL"
        )
    bpp = 1 if color == 0 else 3
    stride = w * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data size mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if f == 0:
            cur = row
        elif f == 2:  # Up: vectorized
            cur = (row + prev) % 256
        elif f in (1, 3, 4):  # left-dependent: per-byte reference loop
            cur = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    pred = _paeth(a, b, c)
                cur[x] = (int(row[x]) + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out if color == 0 else out.reshape(h, w, 3)


def decode_png(content: bytes) -> tuple[int, int, float]:
    """Decode a PNG: (width, height, mean over all samples)."""
    px = decode_png_pixels(content)
    h, w = px.shape[:2]
    return (w, h, float(px.astype(np.float64).mean()) if px.size else 0.0)


def encode_avi(frames: np.ndarray, usec_per_frame: int = 500_000) -> bytes:
    """Encode (n, h, w) uint8 luma frames as an uncompressed RIFF AVI
    ('vids'/'DIB ' stream, 24-bpp BI_RGB '00db' frames — the raw-DIB
    container every AVI reader accepts). Pure stdlib struct packing:
    hdrl(avih + strl(strh/strf)) + movi(per-frame chunks), chunks padded
    to even length per the RIFF rules."""
    frames = np.asarray(frames, dtype=np.uint8)
    n, h, w = frames.shape
    row_size = (w * 3 + 3) // 4 * 4
    dibs = []
    for f in frames:
        data = np.zeros((h, row_size), dtype=np.uint8)
        data[:, : w * 3] = np.repeat(f[::-1], 3, axis=1)  # bottom-up BGR
        dibs.append(data.tobytes())
    frame_bytes = len(dibs[0]) if dibs else 0

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(subtype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", subtype + body)

    avih = struct.pack(
        "<14I", usec_per_frame, frame_bytes * 1_000_000 // max(usec_per_frame, 1),
        0, 0, n, 0, 1, frame_bytes, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIiI4H",
        b"vids", b"DIB ", 0, 0, 0, 0, usec_per_frame, 1_000_000, 0, n,
        frame_bytes, -1, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 2835, 2835, 0, 0
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", d) for d in dibs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(content: bytes) -> tuple[int, int, int, list[np.ndarray]]:
    """Decode an uncompressed RIFF AVI to (width, height, usec_per_frame,
    [per-frame (h, w) uint8 luma]). Raises ValueError for corrupt bytes
    and NotImplementedError for compressed streams (non-DIB handler or
    biCompression != 0 — those genuinely need ffmpeg)."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not an AVI file")

    def walk(buf: bytes, pos: int, end: int):
        while pos + 8 <= end:
            fourcc = buf[pos : pos + 4]
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            body_lo = pos + 8
            body_hi = body_lo + size
            if body_hi > end:
                raise ValueError("truncated AVI chunk")
            yield fourcc, body_lo, body_hi
            pos = body_hi + (size % 2)  # RIFF even-byte padding

    usec = w = h = None
    dib_frames: list[bytes] = []

    def scan(lo: int, hi: int) -> None:
        nonlocal usec, w, h
        for fourcc, b_lo, b_hi in walk(content, lo, hi):
            if fourcc == b"LIST":
                scan(b_lo + 4, b_hi)  # skip the list-subtype fourcc
            elif fourcc == b"avih":
                (usec,) = struct.unpack_from("<I", content, b_lo)
            elif fourcc == b"strh":
                fcc_type, handler = struct.unpack_from("<4s4s", content, b_lo)
                if fcc_type == b"vids" and handler not in (b"DIB ", b"\x00" * 4, b"    "):
                    raise NotImplementedError(f"AVI codec {handler!r} needs ffmpeg")
            elif fourcc == b"strf":
                _, w_, h_, _, bpp, comp = struct.unpack_from("<IiiHHI", content, b_lo)
                if bpp != 24 or comp != 0:
                    raise NotImplementedError(f"AVI {bpp}-bpp compression={comp} unsupported")
                w, h = w_, abs(h_)
            elif fourcc in (b"00db", b"00dc"):
                dib_frames.append(content[b_lo:b_hi])

    scan(12, 8 + struct.unpack_from("<I", content, 4)[0])
    if usec is None or w is None:
        raise ValueError("AVI missing avih/strf headers")
    row_size = (w * 3 + 3) // 4 * 4
    frames = []
    for d in dib_frames:
        if len(d) < row_size * h:
            raise ValueError("truncated AVI frame")
        px = np.frombuffer(d, np.uint8, count=row_size * h).reshape(h, row_size)
        frames.append(px[:, : w * 3].reshape(h, w, 3)[:, :, 0][::-1])  # luma, top-down
    return (w, h, int(usec), frames)


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Encode int16 mono samples as a canonical PCM WAV (RIFF/fmt /data)."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16)
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + 8 + len(data), b"WAVE")
    return riff + fmt + struct.pack("<4sI", b"data", len(data)) + data


_MULAW_BIAS = 0x84
_MULAW_CLIP = 32635


def mulaw_encode(samples: np.ndarray) -> np.ndarray:
    """G.711 mu-law companding: int16 PCM -> uint8 codes (vectorized)."""
    x = np.asarray(samples, dtype=np.int32)
    sign = np.where(x < 0, 0x80, 0).astype(np.int32)
    mag = np.minimum(np.abs(x), _MULAW_CLIP) + _MULAW_BIAS
    # exponent = position of the MSB of mag within bits 7..14
    exponent = np.clip(np.floor(np.log2(mag)).astype(np.int32) - 7, 0, 7)
    mantissa = (mag >> (exponent + 3)) & 0x0F
    return (~(sign | (exponent << 4) | mantissa) & 0xFF).astype(np.uint8)


def mulaw_decode(codes: np.ndarray) -> np.ndarray:
    """G.711 mu-law expansion: uint8 codes -> int16 PCM (vectorized)."""
    u = (~np.asarray(codes, dtype=np.int32)) & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    mag = (((mantissa << 3) + _MULAW_BIAS) << exponent) - _MULAW_BIAS
    return np.where(sign != 0, -mag, mag).astype(np.int16)


def encode_wav_mulaw(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Encode int16 mono samples as a mu-law WAV (fmt tag 7, 8 bits)."""
    data = mulaw_encode(samples).tobytes()
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 7, 1, rate, rate, 1, 8)
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + 8 + len(data), b"WAVE")
    return riff + fmt + struct.pack("<4sI", b"data", len(data)) + data


def _wav_chunks(content: bytes) -> tuple[int, int, int, int, bytes]:
    """Walk a WAV file's RIFF chunks (fmt /data may be in any order, odd
    sizes padded): (audio_fmt, channels, rate, bits, data). Raises
    ValueError for corrupt bytes."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a WAV file")
    audio_fmt = channels = rate = bits = None
    data = None
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            audio_fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if audio_fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    return audio_fmt, channels, rate, bits, data


def _pcm16(audio_fmt: int, bits: int, data: bytes) -> np.ndarray:
    """The int16 samples of a 16-bit PCM data chunk; NotImplementedError
    for any other encoding (those need ffmpeg/soundfile)."""
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError(f"WAV fmt={audio_fmt} bits={bits} needs soundfile")
    return np.frombuffer(data[: len(data) // 2 * 2], "<i2")


def decode_wav(content: bytes) -> tuple[int, float]:
    """Decode a PCM (16-bit) or G.711 mu-law (8-bit) WAV: (duration_ms,
    rms) over the samples. Raises ValueError for corrupt bytes,
    NotImplementedError for other encodings."""
    audio_fmt, channels, rate, bits, data = _wav_chunks(content)
    if audio_fmt == 7 and bits == 8:  # G.711 mu-law: expand, then as PCM
        samples = mulaw_decode(np.frombuffer(data, np.uint8))
    else:
        samples = _pcm16(audio_fmt, bits, data)
    samples = samples.astype(np.float64)
    n_frames = len(samples) // max(channels, 1)
    duration_ms = int(n_frames * 1000 // rate) if rate else 0
    rms = float(np.sqrt(np.mean(samples**2))) if samples.size else 0.0
    return (duration_ms, rms)


def decode_wav_samples(content: bytes) -> np.ndarray:
    """Decode a 16-bit PCM WAV to its raw int64 sample vector (the
    fingerprinting input — exact integers, unlike decode_wav's float
    rms). Same RIFF walk as decode_wav; mu-law raises
    NotImplementedError here."""
    audio_fmt, _, _, bits, data = _wav_chunks(content)
    return _pcm16(audio_fmt, bits, data).astype(np.int64)


def audio_fingerprints(df: DataFrame, window: int = 32) -> DataFrame:
    """Windowed Haar-band audio fingerprints over REAL WAV content — the
    Philips-robust-hash shape with exact integer bands so a SQL oracle
    can verify the whole decode→fingerprint pipeline value-for-value.

    Each non-overlapping ``window``-sample block runs a full integer
    Haar decomposition (log2(window) detail levels + the final
    approximation); the fingerprint payload is the comma-joined absolute
    band-energy vector (all BIGINT adds/subtracts — no FFT floats, so
    Spark, numpy, and DuckDB agree bit-for-bit). Callers hash the string
    (md5_int) and run the SimHash-style banded inverted-index lookup;
    near-duplicate clips share most window fingerprints, and any decode
    error (chunk offsets, sample widths) changes every band.

    Map-only Arrow stage: bytes cross to Python once per batch; one clip
    fans out to n_samples/window rows."""
    import math as _math

    levels = int(_math.log2(window))
    if 1 << levels != window:
        raise ValueError("window must be a power of two")

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # zip, not iterrows: per-row Series construction dominates the
            # stage on small media tables (r10 measurement)
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else b""
                try:
                    s = decode_wav_samples(content)
                except (ValueError, NotImplementedError):
                    rows.append((mid, -1, -1, "", False))
                    continue
                n_w = len(s) // window
                x0 = s[: n_w * window].reshape(n_w, window)
                # vectorized Haar over ALL windows at once: each level
                # halves the row width; band sums stay exact int64
                x = x0
                band_cols = []
                for _lvl in range(levels):
                    d = x[:, ::2] - x[:, 1::2]
                    x = x[:, ::2] + x[:, 1::2]
                    band_cols.append(np.abs(d).sum(axis=1))
                band_cols.append(np.abs(x[:, 0]))
                for w_i in range(n_w):
                    rows.append(
                        (
                            mid,
                            w_i,
                            n_w,
                            ",".join(str(int(bc[w_i])) for bc in band_cols),
                            True,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "win_index", "n_windows", "bands", "decode_ok",
                ],
            )

    return df.filter(F.col("media_type") == "audio").mapInPandas(
        _fp, schema=AUDIO_FP_SCHEMA
    )


def frame_deltas(df: DataFrame) -> DataFrame:
    """Consecutive-frame absolute pixel deltas over REAL AVI content —
    the scene-cut detector's input. Emits one row per frame transition
    (frame_index = the LATER frame) with the exact integer sum of
    absolute pixel differences; thresholding + gaps-and-islands shot
    assembly happen relationally downstream. Map-only Arrow stage."""

    def _deltas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else b""
                try:
                    w, h, _usec, frames = decode_avi(content)
                except (ValueError, NotImplementedError):
                    rows.append((mid, -1, -1, -1, -1, False))
                    continue
                if len(frames) < 2:
                    # A valid clip with <2 frames has no transitions; emit
                    # the sentinel so the clip stays visible downstream
                    # instead of silently vanishing from per-video aggs.
                    rows.append((mid, -1, -1, -1, -1, False))
                    continue
                stack = np.stack(frames).astype(np.int64)
                deltas = np.abs(np.diff(stack, axis=0)).sum(axis=(1, 2))
                for t, d in enumerate(deltas, start=1):
                    rows.append((mid, t, w, h, int(d), True))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_index", "width", "height",
                    "delta_sum", "decode_ok",
                ],
            )

    return df.filter(F.col("media_type") == "video").mapInPandas(
        _deltas, schema=FRAME_DELTA_SCHEMA
    )


def _decode_image(content: bytes, fmt: str) -> tuple[int, int, float]:
    """Dispatch image decode: BMP, PNG and baseline JPEG are decoded for
    real (pure python — PNG does the full zlib inflate + scanline
    unfilter); any other codec needs PIL."""
    if fmt == "bmp":
        return decode_bmp(content)
    if fmt == "png":
        return decode_png(content)
    if fmt == "jpeg":
        from pulsar_lunar_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(content)
    raise NotImplementedError(f"image codec '{fmt}' requires PIL (not in container)")


def _decode_audio(content: bytes, fmt: str) -> tuple[int, float]:
    """Dispatch audio decode: WAV is decoded for real; anything else needs
    soundfile/ffmpeg."""
    if fmt == "wav":
        return decode_wav(content)
    raise NotImplementedError(f"audio codec '{fmt}' requires soundfile (not in container)")


def image_features(df: DataFrame) -> DataFrame:
    """Partition-wise image decode + feature extraction over MEDIA_SCHEMA
    columns. mapInPandas: bytes arrive as Arrow binary arrays, one batch at
    a time — the scalable multimodal pattern."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r["content"]) if r["content"] is not None else b""
                try:
                    w, h, luma = _decode_image(content, r["format"])
                    ok = True
                except (NotImplementedError, ValueError):
                    w = h = -1
                    luma = float("nan")
                    ok = False
                rows.append(
                    {
                        "media_id": r["media_id"],
                        "format": r["format"],
                        "n_bytes": len(content),
                        "width": w,
                        "height": h,
                        "mean_luma": luma,
                        "decode_ok": ok,
                    }
                )
            yield pd.DataFrame(rows)

    return df.filter(F.col("media_type") == "image").mapInPandas(
        _extract, schema=IMAGE_FEATURES_SCHEMA
    )


def audio_features(df: DataFrame) -> DataFrame:
    """Partition-wise audio decode + features (rms, duration)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r["content"]) if r["content"] is not None else b""
                try:
                    dur, rms = _decode_audio(content, r["format"])
                    ok = True
                except (NotImplementedError, ValueError):
                    dur, rms, ok = -1, float("nan"), False
                rows.append(
                    {
                        "media_id": r["media_id"],
                        "format": r["format"],
                        "n_bytes": len(content),
                        "duration_ms": dur,
                        "rms": rms,
                        "decode_ok": ok,
                    }
                )
            yield pd.DataFrame(rows)

    return df.filter(F.col("media_type") == "audio").mapInPandas(
        _extract, schema=AUDIO_FEATURES_SCHEMA
    )


def sample_avi_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL video frame sampling over uncompressed AVI content: decode the
    RIFF container (decode_avi), pick every k-th frame where
    k = every_ms·1000 // usec_per_frame, and emit per-sampled-frame
    dimensions + the exact integer luma sum of the DECODED pixels.
    One video row fans out to N frame rows inside mapInPandas — bytes
    never cross a Python row boundary, and the stage is map-only (no
    shuffle); at 100 TB the fan-out parallelism is the scan's file
    splits. Compressed streams surface as decode_ok=false rows (one per
    video) rather than failing the batch."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r["content"]) if r["content"] is not None else b""
                try:
                    w, h, usec, frames = decode_avi(content)
                except (ValueError, NotImplementedError):
                    rows.append((r["media_id"], -1, -1, None, None, None, False))
                    continue
                step = max(1, every_ms * 1000 // max(usec, 1))
                for j, idx in enumerate(range(0, len(frames), step)):
                    rows.append(
                        (
                            r["media_id"], j, idx * usec // 1000, w, h,
                            int(frames[idx].astype(np.int64).sum()), True,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_index", "frame_ms", "width", "height",
                    "luma_sum", "decode_ok",
                ],
            )

    return df.filter(F.col("media_type") == "video").mapInPandas(
        _sample, schema=AVI_FRAME_SCHEMA
    )


#: Output schema of image difference-hash (dHash) extraction.
IMAGE_DHASH_SCHEMA = (
    "media_id string, b0 long, b1 long, b2 long, b3 long, decode_ok boolean"
)


def _dhash_bands(src: "np.ndarray", rows: int = 8, cols: int = 9) -> list[int]:
    """dHash band integers from a 2-D pixel array: NN-resample to
    rows x cols (src[(i*h)//rows, (j*w)//cols]), one bit per horizontally
    adjacent pair (left < right), packed into rows//2 16-bit band ints —
    shared by the image lane (image_dhash) and the video shot-signature
    lane (video_frame_features); exact integer indexing and comparisons."""
    h, w = src.shape
    yi = (np.arange(rows) * h) // rows
    xi = (np.arange(cols) * w) // cols
    grid = src[np.ix_(yi, xi)].astype(np.int64)
    bits = (grid[:, :-1] < grid[:, 1:]).astype(np.int64)
    bands = []
    for k in range(rows // 2):
        pair = bits[2 * k : 2 * k + 2].reshape(-1)
        bands.append(int((pair << np.arange(pair.size)).sum()))
    return bands


def image_dhash(df: DataFrame, rows: int = 8, cols: int = 9) -> DataFrame:
    """Perceptual difference-hash (dHash) over REAL BMP content: decode
    pixels, nearest-neighbor resample to rows x cols (the same integer
    index math as resize_images: src[(i*h)//rows, (j*w)//cols]), then one
    bit per horizontally adjacent pixel pair (left < right). The 64 bits
    pack into FOUR 16-bit band integers (two rows each) — the SimHash
    banding unit, and sign-safe in int64 — so near-duplicate lookup is a
    band equi-join and verification is bit_count(xor) Hamming distance,
    both JVM-side. Brightness shifts cancel in the comparisons (the
    property that makes dHash a dedup hash, not a checksum).

    Map-only Arrow stage; all arithmetic is exact integer indexing and
    comparisons, so a SQL oracle replays the hash from closed-form
    fixtures bit-for-bit."""

    def _dh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else b""
                try:
                    src = decode_bmp_pixels(content)
                except (ValueError, NotImplementedError):
                    out.append((mid, -1, -1, -1, -1, False))
                    continue
                out.append((mid, *_dhash_bands(src, rows, cols), True))
            yield pd.DataFrame(
                out,
                columns=["media_id", "b0", "b1", "b2", "b3", "decode_ok"],
            )

    return df.filter(F.col("media_type") == "image").mapInPandas(
        _dh, schema=IMAGE_DHASH_SCHEMA
    )


#: Output schema of combined per-frame video features (delta + dHash).
VIDEO_FRAME_FEATURES_SCHEMA = (
    "media_id string, frame_index int, n_frames int, width int, height int, "
    "delta_sum long, b0 long, b1 long, b2 long, b3 long, decode_ok boolean"
)


def video_frame_features(df: DataFrame, rows: int = 8, cols: int = 9) -> DataFrame:
    """Combined per-frame video features in ONE decode pass: the
    consecutive-frame absolute pixel delta (frame_deltas' exact integer;
    -1 on frame 0, which has no predecessor) AND the frame's perceptual
    dHash bands (_dhash_bands) ride the same output row. A consumer that
    needs both — video near-dup matching cuts shots from deltas and
    fingerprints each shot's first frame — pays bytes-across-Arrow once
    instead of twice, and the keyframe hash needs no join back (the cut
    row already carries its frame's bands). The deltas equal frame_deltas'
    and the bands equal the image lane's (shared _dhash_bands); pytest
    pins both."""

    def _vff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else b""
                try:
                    w, h, _usec, frames = decode_avi(content)
                except (ValueError, NotImplementedError):
                    out.append((mid, -1, -1, -1, -1, -1, -1, -1, -1, -1, False))
                    continue
                if not frames:
                    out.append((mid, -1, -1, -1, -1, -1, -1, -1, -1, -1, False))
                    continue
                stack = np.stack(frames).astype(np.int64)
                deltas = np.abs(np.diff(stack, axis=0)).sum(axis=(1, 2))
                for t, fr in enumerate(frames):
                    bands = _dhash_bands(np.asarray(fr), rows, cols)
                    d = int(deltas[t - 1]) if t >= 1 else -1
                    out.append(
                        (mid, t, len(frames), w, h, d, *bands, True)
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "frame_index", "n_frames", "width",
                    "height", "delta_sum", "b0", "b1", "b2", "b3",
                    "decode_ok",
                ],
            )

    return df.filter(F.col("media_type") == "video").mapInPandas(
        _vff, schema=VIDEO_FRAME_FEATURES_SCHEMA
    )


#: Output schema of windowed audio energy extraction (VAD input).
AUDIO_ENERGY_SCHEMA = (
    "media_id string, win_index int, n_windows int, energy long, "
    "decode_ok boolean"
)


def audio_window_energy(df: DataFrame, window: int = 32) -> DataFrame:
    """Windowed audio energy over REAL WAV content: the exact integer
    sum of absolute sample values per non-overlapping ``window``-sample
    block — the voice-activity-detection input (silence = windows under
    an energy threshold; gaps-and-islands assembly happens relationally
    downstream, mirroring the video lane's scene cuts). Map-only Arrow
    stage; all integer, so a SQL oracle replays it from closed-form
    fixtures value-for-value."""

    def _en(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else b""
                try:
                    s = decode_wav_samples(content)
                except (ValueError, NotImplementedError):
                    rows.append((mid, -1, -1, -1, False))
                    continue
                n_w = len(s) // window
                e = np.abs(s[: n_w * window].reshape(n_w, window)).sum(axis=1)
                for w_i in range(n_w):
                    rows.append((mid, w_i, n_w, int(e[w_i]), True))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "win_index", "n_windows", "energy",
                    "decode_ok",
                ],
            )

    return df.filter(F.col("media_type") == "audio").mapInPandas(
        _en, schema=AUDIO_ENERGY_SCHEMA
    )
