"""Vendored pure-Python PNG and WAV codecs (stdlib zlib/wave only).

The multimodal operators' ``decode="real"`` branch prefers the native
libraries (Pillow / soundfile) when installed, but those are optional
dependencies; this module keeps the REAL-decode path executable in any
environment for the two container formats a training-data pipeline most
commonly stores losslessly:

  PNG   full decoder: 8-bit depth, color types 0/2/3/4/6 (palette expanded
        to RGB), all five scanline filters (None/Sub/Up/Average/Paeth),
        non-interlaced; plus a filter-0 encoder for re-encode stages.
        Implements the PNG specification (RFC 2083) directly — decompress
        the IDAT stream, unfilter each scanline against its predecessor.
  WAV   stdlib ``wave`` (RIFF/WAVE): sample rate + frame count.

Everything is deterministic, dependency-free, and runs inside the same
Arrow-batched ``mapInPandas`` workers as the fake codec — the operators
dispatch here only from executor-side batch functions.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_CHANNELS_BY_COLOR_TYPE = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def is_png(raw: bytes) -> bool:
    return raw[:8] == PNG_MAGIC


def is_wav(raw: bytes) -> bool:
    return raw[:4] == b"RIFF" and raw[8:12] == b"WAVE"


def _chunks(raw: bytes):
    pos = 8
    while pos + 8 <= len(raw):
        (length,) = struct.unpack(">I", raw[pos : pos + 4])
        ctype = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + length]
        yield ctype, data
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IEND":
            break


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(decompressed: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Reverse per-scanline filtering (PNG spec §6). ``bpp`` = bytes per
    complete pixel. Returns the raw pixel bytes, rows concatenated."""
    stride = width * bpp
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _y in range(height):
        ftype = decompressed[pos]
        row = bytearray(decompressed[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                up_left = prev[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + _paeth(left, prev[i], up_left)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"PNG: unknown filter type {ftype}")
        out.extend(row)
        prev = row
    return out


def png_decode(raw: bytes) -> tuple[int, int, int, np.ndarray]:
    """PNG bytes → (width, height, channels, flat uint8 pixel array).
    Palette images are expanded to RGB (channels=3), mirroring what a
    native decoder's ``convert`` step would feed a model."""
    if not is_png(raw):
        raise ValueError("not a PNG payload (bad signature)")
    width = height = None
    bit_depth = color_type = interlace = None
    palette = b""
    idat = bytearray()
    for ctype, data in _chunks(raw):
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"PLTE":
            palette = data
        elif ctype == b"IDAT":
            idat.extend(data)
    if width is None:
        raise ValueError("PNG: missing IHDR")
    if bit_depth != 8:
        raise ValueError(f"PNG: only bit depth 8 supported, got {bit_depth}")
    if interlace != 0:
        raise ValueError("PNG: interlaced images not supported")
    if color_type not in _CHANNELS_BY_COLOR_TYPE:
        raise ValueError(f"PNG: unknown color type {color_type}")
    channels = _CHANNELS_BY_COLOR_TYPE[color_type]
    pixels = _unfilter(zlib.decompress(bytes(idat)), width, height, channels)
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8)
    if color_type == 3:  # palette → RGB
        if not palette:
            raise ValueError("PNG: palette image without PLTE chunk")
        plte = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        arr = plte[arr].ravel()
        channels = 3
    return width, height, channels, arr


def png_header(raw: bytes) -> tuple[int, int, int]:
    """IHDR-only parse → (width, height, channels) without touching pixel
    data — the metadata-sweep path. Palette images report 3 channels (what
    :func:`png_decode` yields after PLTE expansion)."""
    if not is_png(raw):
        raise ValueError("not a PNG payload (bad signature)")
    for ctype, data in _chunks(raw):
        if ctype == b"IHDR":
            width, height, _depth, color_type, _c, _f, _i = struct.unpack(
                ">IIBBBBB", data
            )
            if color_type not in _CHANNELS_BY_COLOR_TYPE:
                raise ValueError(f"PNG: unknown color type {color_type}")
            ch = 3 if color_type == 3 else _CHANNELS_BY_COLOR_TYPE[color_type]
            return width, height, ch
    raise ValueError("PNG: missing IHDR")


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def png_encode(width: int, height: int, channels: int, pixels) -> bytes:
    """(w, h, c, flat uint8 pixels) → PNG bytes (filter 0 scanlines, one
    IDAT). Accepts channels 1/2/3/4 (gray, gray+alpha, RGB, RGBA)."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(channels)
    if color_type is None:
        raise ValueError(f"PNG: cannot encode {channels} channels")
    buf = np.asarray(pixels, dtype=np.uint8).ravel()
    if len(buf) != width * height * channels:
        raise ValueError("PNG: pixel buffer size does not match dimensions")
    stride = width * channels
    scan = bytearray()
    for y in range(height):
        scan.append(0)
        scan.extend(buf[y * stride : (y + 1) * stride].tobytes())
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(scan)))
        + _chunk(b"IEND", b"")
    )


def wav_decode(raw: bytes) -> tuple[int, int]:
    """WAV bytes → (sample_rate, n_frames) via stdlib ``wave`` — the same
    two numbers ``soundfile.read`` yields as (rate, data.shape[0])."""
    if not is_wav(raw):
        raise ValueError("not a WAV payload (bad RIFF/WAVE header)")
    with wave.open(io.BytesIO(raw), "rb") as w:
        return w.getframerate(), w.getnframes()


def resize_nearest(
    pixels, width: int, height: int, channels: int, target_w: int, target_h: int
) -> np.ndarray:
    """Nearest-neighbor resample of a flat uint8 pixel buffer — the
    dependency-free stand-in for a native resize (deterministic: source
    index = floor(i · src/target), the classic mapping)."""
    arr = np.asarray(pixels, dtype=np.uint8).reshape(height, width, channels)
    ys = (np.arange(target_h) * height) // target_h
    xs = (np.arange(target_w) * width) // target_w
    return arr[ys][:, xs].ravel()
