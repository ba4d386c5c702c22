"""Minimal from-scratch PNG codec (stdlib only: zlib + struct).

Purpose: the real-decode rung of the multimodal kernels
(``llm/multimodal.py``). This module implements enough of the PNG spec
(RFC 2083 / W3C PNG) for that rung: IHDR parsing, IDAT inflate, all five scanline filters (None/Sub/Up/Average/
Paeth), color types 0/2/3/4/6 at bit depth 8, PLTE palettes, and a
filter-0 encoder for the resize path. Interlaced (Adam7) images and
non-8-bit depths are rejected — callers fall back to the deterministic
stub exactly as they do for undecodable payloads.

This is a verifier-grade decoder, not a performance path. It exists so
schema, batching, and feature arithmetic run against REAL pixels, not
only the stub's byte arithmetic.
"""

from __future__ import annotations

import struct
import zlib

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# channels per pixel by PNG color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class PngError(ValueError):
    """Payload is not a PNG this decoder supports."""


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _chunks(data: bytes):
    if not data.startswith(PNG_SIGNATURE):
        raise PngError("bad signature")
    pos = len(PNG_SIGNATURE)
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise PngError("truncated chunk")
        yield ctype, body
        pos += 12 + length  # length + type + body + CRC (CRC not verified)
        if ctype == b"IEND":
            return
    raise PngError("missing IEND")


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode ``data`` → (width, height, channels, pixels).

    ``pixels`` is the defiltered raw byte stream, row-major,
    ``channels`` bytes per pixel (palette entries expanded to RGB).
    Raises :class:`PngError` for anything outside the supported subset.
    """
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    palette: bytes | None = None
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif ctype == b"PLTE":
            palette = body
        elif ctype == b"IDAT":
            idat.extend(body)
    if width is None:
        raise PngError("missing IHDR")
    if bit_depth != 8:
        raise PngError(f"unsupported bit depth {bit_depth}")
    if color_type not in _CHANNELS:
        raise PngError(f"unsupported color type {color_type}")
    if interlace != 0:
        raise PngError("interlaced PNG unsupported")
    if width == 0 or height == 0:
        raise PngError("zero-dimension image")

    nch = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * nch
    if len(raw) != height * (stride + 1):
        raise PngError("bad IDAT length")

    out = bytearray(height * stride)
    prev_start = -1
    for y in range(height):
        fpos = y * (stride + 1)
        ftype = raw[fpos]
        line = raw[fpos + 1 : fpos + 1 + stride]
        ostart = y * stride
        if ftype == 0:  # None
            out[ostart : ostart + stride] = line
        elif ftype == 1:  # Sub
            for i in range(stride):
                left = out[ostart + i - nch] if i >= nch else 0
                out[ostart + i] = (line[i] + left) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                up = out[prev_start + i] if y > 0 else 0
                out[ostart + i] = (line[i] + up) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = out[ostart + i - nch] if i >= nch else 0
                up = out[prev_start + i] if y > 0 else 0
                out[ostart + i] = (line[i] + ((left + up) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = out[ostart + i - nch] if i >= nch else 0
                up = out[prev_start + i] if y > 0 else 0
                ul = out[prev_start + i - nch] if (y > 0 and i >= nch) else 0
                out[ostart + i] = (line[i] + _paeth(left, up, ul)) & 0xFF
        else:
            raise PngError(f"bad filter type {ftype}")
        prev_start = ostart

    if color_type == 3:
        if palette is None:
            raise PngError("palette image without PLTE")
        rgb = bytearray(height * width * 3)
        for i, idx in enumerate(out):
            p = idx * 3
            if p + 3 > len(palette):
                raise PngError("palette index out of range")
            rgb[i * 3 : i * 3 + 3] = palette[p : p + 3]
        return width, height, 3, bytes(rgb)
    return width, height, nch, bytes(out)


def luminance(pixels: bytes, channels: int) -> bytes:
    """Per-pixel 8-bit luminance, matching Pillow's ``convert("L")``
    ITU-R 601-2 transform: L = (R*299 + G*587 + B*114) // 1000
    (alpha ignored, gray passthrough)."""
    if channels in (1, 2):  # gray / gray+alpha
        return bytes(pixels[::channels])
    out = bytearray(len(pixels) // channels)
    for i in range(len(out)):
        p = i * channels
        out[i] = (
            pixels[p] * 299 + pixels[p + 1] * 587 + pixels[p + 2] * 114
        ) // 1000
    return bytes(out)


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Encode raw row-major pixels as a valid PNG (filter 0 scanlines,
    one zlib-deflated IDAT). ``channels``: 1=gray, 2=gray+alpha, 3=RGB,
    4=RGBA."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(channels)
    if color_type is None:
        raise PngError(f"unsupported channel count {channels}")
    if len(pixels) != width * height * channels:
        raise PngError("pixel buffer size mismatch")
    stride = width * channels
    raw = bytearray()
    for y in range(height):
        raw.append(0)
        raw.extend(pixels[y * stride : (y + 1) * stride])

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def resize_nearest(
    pixels: bytes, width: int, height: int, channels: int, new_w: int, new_h: int
) -> bytes:
    """Nearest-neighbor resample (verifier-grade: dimensions and schema
    are what the pipeline contract checks)."""
    out = bytearray(new_w * new_h * channels)
    for y in range(new_h):
        sy = y * height // new_h
        for x in range(new_w):
            sx = x * width // new_w
            sp = (sy * width + sx) * channels
            dp = (y * new_w + x) * channels
            out[dp : dp + channels] = pixels[sp : sp + channels]
    return bytes(out)
