"""Pure-Python media codecs for uncompressed formats.

The multimodal pattern keeps media as opaque parquet ``binary``; decode
runs Arrow-batched inside ``mapInPandas``. This module provides REAL
decoders for the container formats that need no external codec
libraries — binary netpbm images (PGM ``P5`` / PPM ``P6``) and RIFF
WAVE PCM audio — plus their encoders for fixture construction.
Compressed codecs (JPEG/PNG/MP3/H.264) genuinely require native
libraries and stay behind the documented
:func:`..operators.multimodal.decode_media` hook.

Both formats are public specs: netpbm's header-then-raster layout and
RIFF's chunked fmt/data layout (PCM fields little-endian).
"""

from __future__ import annotations

import io
import struct
import sys
import wave

import numpy as np
from pyspark import cloudpickle

from . import payloads
from .payloads import safe_inflate


# ---------------------------------------------------------------------------
# netpbm (PGM P5 grayscale / PPM P6 rgb), binary variants
# ---------------------------------------------------------------------------


def encode_pgm(pixels: np.ndarray, maxval: int = 255) -> bytes:
    """Serialize a 2-D uint8 array as binary PGM (``P5``)."""
    h, w = pixels.shape
    return f"P5 {w} {h} {maxval}\n".encode("ascii") + pixels.astype(np.uint8).tobytes()


def _read_pnm_tokens(buf: bytes, n: int) -> tuple[list[int], int]:
    """Read ``n`` whitespace-separated ASCII integers after the magic,
    skipping ``#`` comments; returns (values, raster offset)."""
    vals: list[int] = []
    pos = 2  # past magic
    tok = b""
    while len(vals) < n:
        c = buf[pos : pos + 1]
        if not c:
            raise ValueError("truncated pnm header")
        pos += 1
        if c == b"#":  # comment to end of line
            while buf[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        if c.isspace():
            if tok:
                vals.append(int(tok))
                tok = b""
            continue
        tok += c
    return vals, pos


def decode_pnm(buf: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode binary PGM/PPM: returns (width, height, maxval, pixels);
    pixels is (h, w) uint8 for P5 and (h, w, 3) for P6."""
    magic = bytes(buf[:2])
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary pgm/ppm: {magic!r}")
    (w, h, maxval), pos = _read_pnm_tokens(buf, 3)
    channels = 3 if magic == b"P6" else 1
    raster = np.frombuffer(buf, dtype=np.uint8, count=w * h * channels, offset=pos)
    pixels = raster.reshape((h, w, 3) if channels == 3 else (h, w))
    return w, h, maxval, pixels


def mean_pool(pixels: np.ndarray, k: int = 2) -> np.ndarray:
    """k x k mean-pool downsample (the thumbnail/resize step)."""
    h, w = pixels.shape[:2]
    h2, w2 = h - h % k, w - w % k
    p = pixels[:h2, :w2].astype(np.float64)
    return p.reshape(h2 // k, k, w2 // k, k, *p.shape[2:]).mean(axis=(1, 3))


# ---------------------------------------------------------------------------
# RIFF WAVE, PCM
# ---------------------------------------------------------------------------


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """Serialize int16 mono samples as a RIFF WAVE file."""
    out = io.BytesIO()
    with wave.open(out, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(samples.astype("<i2").tobytes())
    return out.getvalue()


def decode_wav(buf: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode RIFF WAVE PCM: returns (n_channels, sample_rate,
    sample_width_bytes, samples[int]); samples interleave channels."""
    if bytes(buf[:4]) != b"RIFF" or bytes(buf[8:12]) != b"WAVE":
        raise ValueError("not a RIFF WAVE payload")
    with wave.open(io.BytesIO(bytes(buf)), "rb") as wf:
        nch, width, rate, nframes = (
            wf.getnchannels(), wf.getsampwidth(), wf.getframerate(), wf.getnframes(),
        )
        raw = wf.readframes(nframes)
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    elif width == 1:  # unsigned in WAV
        samples = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
    else:
        # Little-endian: pad on the LOW side so the sample lands in the
        # high bytes, then arithmetic-shift back down — this sign-extends
        # 24-bit PCM correctly (appending the pad instead would zero the
        # sign and divide the magnitude by 256).
        samples = np.array(
            [
                struct.unpack("<i", b"\x00" * (4 - width) + raw[i : i + width])[0]
                >> (8 * (4 - width))
                for i in range(0, len(raw), width)
            ],
            dtype=np.int64,
        )
    return nch, rate, width, samples


# ---------------------------------------------------------------------------
# PNG (non-interlaced, 8-bit gray / RGB) — pure stdlib-zlib codec
#
# The one compressed image format the container CAN decode without
# native codec libraries: PNG's DEFLATE stream is stdlib zlib, and the
# rest of the spec (chunk framing with CRC32, scanline filters 0-4) is
# plain byte arithmetic. Public spec: RFC 2083 / W3C PNG.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec 6.6): nearest of left/up/up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(pixels: np.ndarray) -> bytes:
    """Serialize a (h, w) uint8 gray or (h, w, 3) uint8 RGB array as a
    non-interlaced 8-bit PNG. Scanline filters cycle 0..4 per row so a
    round-trip exercises every unfilter path."""
    import zlib

    h, w = pixels.shape[:2]
    ch = 1 if pixels.ndim == 2 else pixels.shape[2]
    color_type = 0 if ch == 1 else 2
    raw = pixels.astype(np.uint8).reshape(h, w * ch)
    bpp = ch
    lines = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        f = y % 5
        row = raw[y].astype(np.int64)
        left = np.concatenate((np.zeros(bpp, dtype=np.int64), row[:-bpp]))
        ul = np.concatenate((np.zeros(bpp, dtype=np.int64), prev[:-bpp]))
        if f == 0:
            filt = row
        elif f == 1:  # Sub
            filt = row - left
        elif f == 2:  # Up
            filt = row - prev
        elif f == 3:  # Average
            filt = row - (left + prev) // 2
        else:  # Paeth
            pred = np.fromiter(
                (_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prev, ul)),
                dtype=np.int64,
                count=len(row),
            )
            filt = row - pred
        lines.append(f)
        lines.extend((filt & 0xFF).astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(buf: bytes) -> tuple[int, int, int, int, np.ndarray]:
    """Decode a non-interlaced 8-bit gray/RGB PNG: returns (width,
    height, bit_depth, color_type, pixels); pixels is (h, w) uint8 for
    gray, (h, w, 3) for RGB. Chunk CRCs are verified; the DEFLATE
    stream inflates through the engine's bounded ``safe_inflate`` (zip
    bombs return None there and raise here)."""
    import zlib

    if bytes(buf[:8]) != _PNG_SIG:
        raise ValueError("not a png payload")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(buf):
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        typ = bytes(buf[pos + 4 : pos + 8])
        data = bytes(buf[pos + 8 : pos + 8 + length])
        (crc,) = struct.unpack(">I", buf[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"png chunk crc mismatch in {typ!r}")
        pos += 12 + length
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.extend(data)
        elif typ == b"IEND":
            break
    if ihdr is None:
        raise ValueError("png missing IHDR")
    w, h, bit_depth, color_type, compression, filt_method, interlace = ihdr
    if bit_depth != 8 or color_type not in (0, 2) or interlace != 0:
        raise NotImplementedError(
            "only non-interlaced 8-bit gray/RGB PNG decodes here"
        )
    ch = 1 if color_type == 0 else 3
    data = safe_inflate(bytes(idat))
    if data is None:
        raise ValueError("png IDAT inflate failed or exceeded bound")
    stride, bpp = w * ch, ch
    if len(data) != h * (stride + 1):
        raise ValueError("png scanline payload length mismatch")
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _y in range(h):
        f = data[pos]
        pos += 1
        row = bytearray(data[pos : pos + stride])
        pos += stride
        if f == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown png filter {f}")
        out.extend(row)
        prev = row
    pixels = np.frombuffer(bytes(out), dtype=np.uint8)
    pixels = pixels.reshape((h, w, 3) if ch == 3 else (h, w))
    return w, h, bit_depth, color_type, pixels


# ship by value into mapInPandas closures (the workers may not have
# the package on sys.path when the driver runs from another cwd);
# payloads must ride along because decode_png calls its safe_inflate
cloudpickle.register_pickle_by_value(payloads)
cloudpickle.register_pickle_by_value(sys.modules[__name__])
