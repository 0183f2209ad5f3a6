"""Media fixture builders and header probes used by the codec tests.

The engine decodes every format it serves (operators/multimodal.py:
decode_png, decode_jpeg_baseline, decode_wav, decode_bmp, ...); the
encoders and header-only probes here exist to build adversarial inputs
and to check decoded geometry against, so they live with the tests.
"""

from __future__ import annotations

import struct
import zlib

from diabetes_etl_spark.operators.multimodal import (
    _PNG_CHANNELS,
    _PNG_SIG,
    _png_chunks,
    _wav_chunks,
    decode_jpeg_baseline,
)


def png_palette_bytes(
    width: int, height: int, palette: bytes, indices: bytes
) -> bytes:
    """Encode a PALETTE PNG (color type 3): ``palette`` is the PLTE
    payload (RGB triples, <= 256 entries), ``indices`` one byte per
    pixel.  Filter-0 scanlines, pure stdlib — the fixture/round-trip
    twin of :func:`png_bytes` for the indexed-color decode path."""
    if len(palette) % 3 or not 0 < len(palette) // 3 <= 256:
        raise ValueError("palette must be 1..256 RGB triples")
    if len(indices) != width * height:
        raise ValueError("indices must be width*height bytes")
    if max(indices) >= len(palette) // 3:
        raise ValueError("palette index out of range")

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0, 0)
    raw = b"".join(
        b"\x00" + indices[y * width : (y + 1) * width]
        for y in range(height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", palette)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def jpeg_bytes(width: int, height: int, n_components: int = 3) -> bytes:
    """Minimal JFIF container (SOI + APP0 + SOF0 + EOI) with a real,
    parseable frame header.  Carries no entropy-coded image data — it
    exists to exercise the header prober over honest JPEG marker
    structure, not to fake pixels."""
    app0 = (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1)
        + b"\x00\x00"
    )
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 8 + 3 * n_components)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + bytes([n_components])
        + b"".join(bytes([i + 1, 0x11, 0]) for i in range(n_components))
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def probe_png(payload: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from IHDR — header-only, O(1)."""
    for tag, data in _png_chunks(payload):
        if tag == b"IHDR":
            w, h, depth, color = struct.unpack(">IIBB", data[:10])
            if color not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color}")
            return w, h, _PNG_CHANNELS[color]
    raise ValueError("PNG missing IHDR")


def decode_jpeg_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Grayscale-only wrapper over :func:`decode_jpeg_baseline`
    (original single-component entry point; raises ValueError on color
    streams so metadata-only callers keep their probe fallback)."""
    width, height, ncomp, raw = decode_jpeg_baseline(payload)
    if ncomp != 1:
        raise ValueError("color JPEG: use decode_jpeg_baseline")
    return width, height, raw


def probe_wav(payload: bytes) -> tuple[int, int, int, int]:
    """(sample_rate, n_channels, bits_per_sample, n_frames) from the
    fmt chunk + data chunk size — header-only, no sample decode."""
    rate = channels = bits = block = None
    data_len = None
    for tag, data in _wav_chunks(payload):
        if tag == b"fmt ":
            fmt_code, channels, rate, _brate, block, bits = struct.unpack(
                "<HHIIHH", data[:16]
            )
            if fmt_code != 1:
                raise ValueError(
                    f"unsupported WAV format code {fmt_code} (PCM only)"
                )
        elif tag == b"data":
            data_len = len(data)
    if rate is None or data_len is None:
        raise ValueError("WAV missing fmt/data chunk")
    if not block or block <= 0:
        raise ValueError("invalid WAV block align")
    return rate, channels, bits, data_len // block


def probe_bmp(payload: bytes) -> tuple[int, int, int]:
    """(width, height, n_channels) from the info header — no pixel
    decode.  Decoded output is always expanded to 3-channel RGB."""
    if len(payload) < 26 or payload[:2] != b"BM":
        raise ValueError("not a BMP stream")
    w, h = struct.unpack("<ii", payload[18:26])
    return w, abs(h), 3
