"""Unit tests for the pure-Python media decoders in
operators/multimodal.py (round-3 VERDICT #4: de-stub a real decoder).

The PNG decoder is exercised against hand-built encodes using ALL five
scanline filter types — the encoder only emits filter 0, so the other
unfilter paths need adversarial inputs built here."""

from __future__ import annotations

import struct
import zlib

import pytest

from diabetes_etl_spark.operators.multimodal import (
    decode_jpeg_baseline,
    decode_jpeg_gray,
    decode_payload,
    fixture_color_block_rgb,
    jpeg_color_bytes,
    decode_png,
    decode_wav,
    fixture_audio_params,
    fixture_jpeg_block_value,
    fixture_media_dims,
    jpeg_bytes,
    jpeg_gray_bytes,
    png_bytes,
    probe_jpeg,
    probe_png,
    probe_wav,
    wav_bytes,
)


def _pix(n: int, seed: int = 5) -> bytes:
    return bytes((seed * 31 + i * 7) % 256 for i in range(n))


# -- PNG round trip -------------------------------------------------------


@pytest.mark.parametrize("w,h", [(1, 1), (4, 3), (16, 9), (13, 1)])
def test_png_roundtrip_rgb(w, h):
    pixels = _pix(w * h * 3)
    payload = png_bytes(w, h, pixels)
    assert probe_png(payload) == (w, h, 3)
    assert decode_png(payload) == (w, h, 3, pixels)
    # decode_payload routes PNG to the real decoder
    assert decode_payload("image/png", payload) == pixels


def _png_with_filters(w, h, channels, color_type, pixels, filters):
    """Hand-roll a PNG whose scanlines are FILTERED with the given
    per-row filter types (what libpng emits; our encoder only writes 0).
    """
    stride = w * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = pixels[y * stride : (y + 1) * stride]
        f = filters[y % len(filters)]
        raw.append(f)
        if f == 0:
            raw += line
        elif f == 1:  # Sub: store delta vs left
            raw += bytes(
                (line[i] - (line[i - channels] if i >= channels else 0)) & 0xFF
                for i in range(stride)
            )
        elif f == 2:  # Up
            raw += bytes((line[i] - prev[i]) & 0xFF for i in range(stride))
        elif f == 3:  # Average
            raw += bytes(
                (line[i] - ((line[i - channels] if i >= channels else 0)
                            + prev[i]) // 2) & 0xFF
                for i in range(stride)
            )
        elif f == 4:  # Paeth
            out = bytearray()
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out.append((line[i] - pred) & 0xFF)
            raw += out
        prev = line

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("filters", [[1], [2], [3], [4], [0, 1, 2, 3, 4]])
def test_png_unfilters_all_filter_types(filters):
    w, h = 7, 6
    pixels = _pix(w * h * 3)
    payload = _png_with_filters(w, h, 3, 2, pixels, filters)
    assert decode_png(payload) == (w, h, 3, pixels)


@pytest.mark.parametrize(
    "color_type,channels", [(0, 1), (4, 2), (6, 4)]
)
def test_png_gray_and_alpha_color_types(color_type, channels):
    w, h = 5, 4
    pixels = _pix(w * h * channels)
    payload = _png_with_filters(w, h, channels, color_type, pixels, [0, 2])
    assert probe_png(payload) == (w, h, channels)
    assert decode_png(payload) == (w, h, channels, pixels)


def test_png_split_idat_chunks_concatenate():
    """Real encoders split IDAT; the decoder must concatenate."""
    w, h = 4, 4
    pixels = _pix(w * h * 3)
    whole = png_bytes(w, h, pixels)
    # re-split the single IDAT into two chunks
    def chunks(b):
        pos = 8
        while pos < len(b):
            (ln,) = struct.unpack(">I", b[pos : pos + 4])
            yield b[pos + 4 : pos + 8], b[pos + 8 : pos + 8 + ln]
            pos += 12 + ln
    parts = dict(chunks(whole))
    idat = parts[b"IDAT"]
    mid = len(idat) // 2

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    rebuilt = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", parts[b"IHDR"])
        + chunk(b"IDAT", idat[:mid])
        + chunk(b"IDAT", idat[mid:])
        + chunk(b"IEND", b"")
    )
    assert decode_png(rebuilt) == (w, h, 3, pixels)


def test_png_corrupt_inputs_fail_loudly():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"GIF89a not a png")
    good = png_bytes(2, 2, _pix(12))
    with pytest.raises(ValueError, match="truncated|IEND"):
        decode_png(good[:-8])
    # 16-bit depth rejected, not mis-decoded
    bad_ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    deep = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", bad_ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 26)) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(deep)


# -- JPEG header probe ----------------------------------------------------


@pytest.mark.parametrize("w,h,ncomp", [(8, 8, 3), (640, 480, 3), (1, 1, 1)])
def test_jpeg_probe_parses_sof0(w, h, ncomp):
    assert probe_jpeg(jpeg_bytes(w, h, ncomp)) == (w, h, ncomp)


def test_jpeg_probe_progressive_and_skips_segments():
    """SOF2 (progressive) after COM + fill bytes must still be found."""
    com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
    sof2 = (
        b"\xff\xff"  # fill byte before marker (legal)
        + b"\xff\xc2" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 33, 44) + b"\x01" + bytes([1, 0x11, 0])
    )
    payload = b"\xff\xd8" + com + sof2 + b"\xff\xd9"
    assert probe_jpeg(payload) == (44, 33, 1)


def test_jpeg_probe_rejects_non_jpeg():
    with pytest.raises(ValueError, match="SOI"):
        probe_jpeg(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError, match="no SOF"):
        probe_jpeg(b"\xff\xd8\xff\xd9")


# -- baseline JPEG entropy codec -------------------------------------------


@pytest.mark.parametrize("w,h", [(8, 8), (16, 16), (19, 13), (28, 22), (1, 1)])
def test_jpeg_gray_roundtrip_near_lossless(w, h):
    """Arbitrary pixels through encode -> full Huffman/IDCT decode:
    with the all-ones quantization table the only loss is float DCT
    rounding (a couple of LSBs) — this drives nonzero AC coefficients,
    ZRL runs, byte stuffing, and DC prediction."""
    pixels = _pix(w * h, seed=w * 100 + h)
    payload = jpeg_gray_bytes(w, h, pixels)
    assert probe_jpeg(payload) == (w, h, 1)
    dw, dh, dec = decode_jpeg_gray(payload)
    assert (dw, dh) == (w, h)
    assert len(dec) == w * h
    assert max(abs(a - b) for a, b in zip(pixels, dec)) <= 2


def test_jpeg_gray_constant_blocks_decode_bit_exactly():
    """The fixture contract: constant-per-8x8-block images reconstruct
    exactly (DC-only spectrum, exact quantization) — this is what lets
    the SQL oracle recompute decoded-pixel statistics arithmetically."""
    w, h = 28, 22
    for doc_id in (1, 5, 77, 1021):
        pixels = bytes(
            fixture_jpeg_block_value(doc_id, x // 8, y // 8)
            for y in range(h)
            for x in range(w)
        )
        dw, dh, dec = decode_jpeg_gray(jpeg_gray_bytes(w, h, pixels))
        assert (dw, dh, dec) == (w, h, pixels)
        assert decode_payload(
            "image/jpeg", jpeg_gray_bytes(w, h, pixels)
        ) == pixels


def test_jpeg_gray_decoder_rejects_unsupported_shapes():
    # header-only container (no scan data)
    with pytest.raises(ValueError, match="missing SOF/SOS"):
        decode_jpeg_gray(jpeg_bytes(8, 8, 1))
    # a real color stream through the gray-only wrapper
    with pytest.raises(ValueError, match="color JPEG"):
        decode_jpeg_gray(jpeg_color_bytes(8, 8, bytes(range(64)) * 3))
    # 4:2:0 sampling factors are ACCEPTED since round 7 (this frame
    # still fails later for having no scan); an ILLEGAL factor (3 is
    # not in T.81's {1,2,4}) is rejected at SOF parse
    with pytest.raises(ValueError, match="missing SOF/SOS"):
        decode_jpeg_gray(
            b"\xff\xd8"
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 8, 8) + b"\x03"
            + bytes([1, 0x22, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
            + b"\xff\xd9"
        )
    with pytest.raises(ValueError, match="illegal JPEG sampling"):
        decode_jpeg_gray(
            b"\xff\xd8"
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 8, 8) + b"\x03"
            + bytes([1, 0x33, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
            + b"\xff\xd9"
        )
    # progressive frame
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg_gray(
            b"\xff\xd8"
            + b"\xff\xc2" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 8, 8) + b"\x01" + bytes([1, 0x11, 0])
            + b"\xff\xd9"
        )
    # truncated entropy stream
    good = jpeg_gray_bytes(16, 16, _pix(256))
    with pytest.raises(ValueError, match="truncated|invalid"):
        decode_jpeg_gray(good[:-12])


def test_wav_rejects_zero_block_align():
    good = wav_bytes(8000, 1, [1, 2, 3, 4])
    bad = bytearray(good)
    bad[32:34] = struct.pack("<H", 0)  # fmt block-align field
    with pytest.raises(ValueError, match="block align"):
        probe_wav(bytes(bad))
    with pytest.raises(ValueError, match="block align"):
        decode_wav(bytes(bad))


def test_codec_gaps_still_stubbed():
    with pytest.raises(NotImplementedError, match="audio/mpeg"):
        decode_payload("audio/mpeg", b"\xff\xfb\x90\x00")
    with pytest.raises(NotImplementedError, match="video/mp4"):
        decode_payload("video/mp4", b"\x00\x00\x00\x18ftypmp42")


# -- MP3 frame-header probe -------------------------------------------------


@pytest.mark.parametrize(
    "kbps,rate,frames,ch",
    [(128, 44100, 3, 2), (320, 48000, 1, 1), (32, 32000, 5, 2)],
)
def test_mp3_probe_walks_frame_chain(kbps, rate, frames, ch):
    from diabetes_etl_spark.operators.multimodal import (
        mp3_frame_bytes,
        probe_mp3,
    )

    payload = mp3_frame_bytes(kbps, rate, n_frames=frames, channels=ch)
    assert probe_mp3(payload) == (kbps, rate, ch, frames)


def test_mp3_probe_rejects_bad_streams():
    from diabetes_etl_spark.operators.multimodal import (
        mp3_frame_bytes,
        probe_mp3,
    )

    with pytest.raises(ValueError, match="frame sync"):
        probe_mp3(b"ID3\x04\x00" + b"\x00" * 40)
    with pytest.raises(ValueError, match="truncated"):
        probe_mp3(mp3_frame_bytes(128, 44100)[:-10])
    with pytest.raises(ValueError, match="too short"):
        probe_mp3(b"\xff")
    # MPEG-2 version bits rejected, not mis-parsed
    p = bytearray(mp3_frame_bytes(128, 44100))
    p[1] = 0xF3  # version = MPEG-2
    with pytest.raises(ValueError, match="MPEG-1 Layer III"):
        probe_mp3(bytes(p))


# -- WAV round trip -------------------------------------------------------


@pytest.mark.parametrize(
    "rate,ch,frames", [(8000, 1, 1), (8000, 2, 7), (44100, 2, 64)]
)
def test_wav_roundtrip_pcm16(rate, ch, frames):
    samples = [((i * 7919) % 65536) - 32768 for i in range(ch * frames)]
    payload = wav_bytes(rate, ch, samples)
    r_rate, r_ch, r_frames, raw = decode_wav(payload)
    assert (r_rate, r_ch, r_frames) == (rate, ch, frames)
    assert raw == struct.pack(f"<{len(samples)}h", *samples)
    assert probe_wav(payload) == (rate, ch, 16, frames)
    assert decode_payload("audio/wav", payload) == raw


def test_wav_skips_foreign_chunks_and_odd_padding():
    # a LIST chunk with odd length before fmt/data must be skipped with
    # its pad byte (RIFF chunks align to even offsets)
    samples = [0, 1000, -1000, 32767]
    base = wav_bytes(8000, 1, samples)
    foreign = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    payload = base[:12] + foreign + base[12:]
    payload = payload[:4] + struct.pack(
        "<I", len(payload) - 8
    ) + payload[8:]
    assert probe_wav(payload) == (8000, 1, 16, 4)
    assert decode_wav(payload)[3] == struct.pack("<4h", *samples)


def test_wav_corrupt_inputs_fail_loudly():
    with pytest.raises(ValueError, match="RIFF/WAVE"):
        probe_wav(b"OggS" + b"\x00" * 40)
    with pytest.raises(ValueError, match="missing fmt/data"):
        decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    # truncated data chunk
    good = wav_bytes(8000, 1, [1, 2, 3, 4])
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(good[:-3])
    # non-PCM format code
    bad_fmt = bytearray(good)
    bad_fmt[20] = 3  # IEEE float
    with pytest.raises(ValueError, match="format code"):
        decode_wav(bytes(bad_fmt))


def test_wav_fixture_byte_arithmetic_matches_oracle_formula():
    """The SQL oracle recomputes decoded WAV bytes as (u mod 256 /
    u div 256 + 128 mod 256) — verify that formula against the real
    encoder+decoder for several doc ids."""
    for doc_id in (2, 6, 10, 14):
        rate, ch, frames = fixture_audio_params(doc_id)
        n = ch * frames
        samples = [((doc_id * 37 + i * 11) % 65536) - 32768 for i in range(n)]
        _, _, _, raw = decode_wav(wav_bytes(rate, ch, samples))
        for j in range(2 * n):
            u = (doc_id * 37 + (j // 2) * 11) % 65536
            expect = u % 256 if j % 2 == 0 else ((u // 256) + 128) % 256
            assert raw[j] == expect, (doc_id, j)


# -- Spark-side plumbing ---------------------------------------------------


def test_extract_features_mixed_corpus(spark):
    from pyspark.sql import Row

    from diabetes_etl_spark.operators.multimodal import (
        attach_media_payloads,
        extract_features,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"some text {i}") for i in range(12)]
    )
    rows = {r.doc_id: r for r in
            extract_features(attach_media_payloads(docs)).collect()}
    assert len(rows) == 12
    for i in range(12):
        r = rows[i]
        png_w, png_h, jpg_w, jpg_h = fixture_media_dims(i)
        if i % 4 == 0:
            assert r.mime == "image/png"
            assert (r.width, r.height, r.n_channels) == (png_w, png_h, 3)
            assert r.byte_len == png_w * png_h * 3  # decoded size
            assert r.n_space is not None
            assert r.sample_rate is None and r.n_frames is None
        elif i % 4 == 1:
            assert r.mime == "image/jpeg"
            assert (r.width, r.height, r.n_channels) == (jpg_w, jpg_h, 1)
            assert r.byte_len == jpg_w * jpg_h  # decoded gray8 size
            # bit-exact decode of the constant-per-block fixture
            expect_space = sum(
                1
                for y in range(jpg_h)
                for x in range(jpg_w)
                if fixture_jpeg_block_value(i, x // 8, y // 8) == 32
            )
            assert r.n_space == expect_space
            assert r.head_fingerprint is not None
        elif i % 4 == 2:
            rate, ch, frames = fixture_audio_params(i)
            assert r.mime == "audio/wav"
            assert (r.sample_rate, r.n_channels, r.n_frames) == (
                rate, ch, frames,
            )
            assert r.width is None and r.height is None
            assert r.byte_len == 2 * ch * frames  # decoded PCM size
            assert r.n_space is not None and r.head_fingerprint is not None
        else:
            assert r.mime == "text/plain"
            assert r.width is None
            assert r.byte_len == len(f"some text {i}")
            assert r.n_space == 2


# -- ISO-BMFF (MP4) probe ----------------------------------------------------


def test_mp4_probe_round_trips_builder_metadata():
    from diabetes_etl_spark.operators.multimodal import mp4_bytes, probe_mp4

    p = mp4_bytes(640, 360, 2500, with_audio=True)
    assert probe_mp4(p) == (2500, 640, 360, 1, 1)
    assert probe_mp4(mp4_bytes(64, 48, 500)) == (500, 64, 48, 1, 0)


def test_mp4_probe_handles_largesize_and_to_end_boxes():
    import struct

    from diabetes_etl_spark.operators.multimodal import mp4_bytes, probe_mp4

    p = mp4_bytes(320, 240, 1000)
    # rewrite the trailing mdat as a largesize box, then append a
    # size==0 (to-end) free box — both must walk cleanly
    assert p.endswith(struct.pack(">I", 8) + b"mdat")
    body = p[:-8]
    large_mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16)
    to_end_free = struct.pack(">I", 0) + b"free" + b"xx"
    assert probe_mp4(body + large_mdat + to_end_free) == (1000, 320, 240, 1, 0)


def test_mp4_probe_rejects_malformed():
    import pytest

    from diabetes_etl_spark.operators.multimodal import mp4_bytes, probe_mp4

    with pytest.raises(ValueError):
        probe_mp4(b"\x00\x00")  # too short
    with pytest.raises(ValueError):
        probe_mp4(b"\x00\x00\x00\x08mdat")  # no ftyp
    good = mp4_bytes(64, 48, 500)
    with pytest.raises(ValueError):
        probe_mp4(good[: len(good) // 2])  # truncated box
    # moov-less container
    ftyp_only = good[:24]
    with pytest.raises(ValueError):
        probe_mp4(ftyp_only)


def test_video_payload_plumbing(spark):
    from diabetes_etl_spark.operators.multimodal import (
        attach_video_payloads,
        fixture_video_params,
        probe_video_features,
    )

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    out = {r.doc_id: r for r in probe_video_features(
        attach_video_payloads(docs)
    ).collect()}
    for i in range(8):
        w, h, dur, audio = fixture_video_params(i)
        r = out[i]
        assert (r.width, r.height, r.duration_ms) == (w, h, dur)
        assert r.n_audio_tracks == (1 if audio else 0)


# -- 3-component 4:4:4 baseline color JPEG ----------------------------------


def _color_pixels(doc_id: int, w: int, h: int) -> bytes:
    out = bytearray()
    for y in range(h):
        for x in range(w):
            out += bytes(fixture_color_block_rgb(doc_id, x // 8, y // 8))
    return bytes(out)


def test_jpeg_color_constant_blocks_decode_to_transform_fixpoint():
    """Constant-per-block color fixtures reconstruct EXACTLY the
    floor(x+0.5)-rounded RGB->YCbCr->RGB transform of the input (the
    YCbCr integers survive the codec bit-exactly; the only change is
    the color transform itself — which the SQL oracle replays)."""
    import numpy as np

    from diabetes_etl_spark.operators.multimodal import (
        _rgb_to_ycbcr,
        _ycbcr_to_rgb,
    )

    for doc_id in (2, 9, 41, 1021):
        w = 8 + doc_id % 21
        h = 8 + doc_id % 15
        rgb = _color_pixels(doc_id, w, h)
        dw, dh, nc, dec = decode_jpeg_baseline(jpeg_color_bytes(w, h, rgb))
        assert (dw, dh, nc) == (w, h, 3)
        arr = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        y, cb, cr = _rgb_to_ycbcr(
            arr[:, :, 0].astype(np.float64),
            arr[:, :, 1].astype(np.float64),
            arr[:, :, 2].astype(np.float64),
        )
        r, g, b = _ycbcr_to_rgb(y, cb, cr)
        exp = np.stack([r, g, b], axis=-1).astype(np.uint8).tobytes()
        assert dec == exp


def test_jpeg_color_nonconstant_blocks_roundtrip_losslessly():
    """All-ones quantization is lossless whenever every DCT coefficient
    rounds to itself — a gradient image decodes back to the exact
    YCbCr the encoder stored, so decode(encode(x)) is idempotent:
    encoding the DECODED RGB again reproduces identical pixels."""
    w, h = 16, 16
    rgb = bytes(
        ((x * 7 + y * 3 + c * 29) % 256)
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    _, _, _, once = decode_jpeg_baseline(jpeg_color_bytes(w, h, rgb))
    _, _, _, twice = decode_jpeg_baseline(jpeg_color_bytes(w, h, once))
    assert once == twice


def test_probe_reports_color_dimensions():
    payload = jpeg_color_bytes(24, 13, _color_pixels(3, 24, 13))
    assert probe_jpeg(payload) == (24, 13, 3)


def test_decode_payload_routes_color_jpeg():
    payload = jpeg_color_bytes(8, 8, _color_pixels(7, 8, 8))
    raw = decode_payload("image/jpeg", payload)
    assert len(raw) == 8 * 8 * 3


# -- nearest-neighbor resize (resize_images) --------------------------------


def _asset_df(spark, rows):
    """(doc_id, payload, asset_meta) frame matching the attach_* shape."""
    return spark.createDataFrame(
        rows, "doc_id long, payload binary, asset_meta map<string,string>"
    )


def test_resize_upsample_duplicates_pixels_exactly(spark):
    # 2x1 gray-as-rgb PNG: pixels P0=(10,20,30), P1=(200,210,220);
    # NN to 4x2 -> columns [P0,P0,P1,P1] twice: sum = 4*(sum P0 + sum P1)
    px = bytes([10, 20, 30, 200, 210, 220])
    df = _asset_df(
        spark, [(1, png_bytes(2, 1, px), {"mime": "image/png"})]
    )
    from diabetes_etl_spark.operators.multimodal import resize_images

    r = resize_images(df, 4, 2).collect()[0]
    assert (r.in_width, r.in_height, r.n_channels) == (2, 1, 3)
    assert r.px_sum == 4 * (10 + 20 + 30 + 200 + 210 + 220)
    assert r.px_min == 10 and r.px_max == 220


def test_resize_downsample_picks_integer_grid(spark):
    # 4x4 single-channel-per-pixel values via rgb triples all equal;
    # NN 4x4 -> 2x2 picks sources ((0,0),(2,0),(0,2),(2,2))
    vals = list(range(16))
    px = bytes(v for v in vals for _ in range(3))
    df = _asset_df(
        spark, [(1, png_bytes(4, 4, bytes(px)), {"mime": "image/png"})]
    )
    from diabetes_etl_spark.operators.multimodal import resize_images

    r = resize_images(df, 2, 2).collect()[0]
    assert r.px_sum == 3 * (vals[0] + vals[2] + vals[8] + vals[10])


def test_resize_drops_non_raster_rows(spark):
    from diabetes_etl_spark.operators.multimodal import resize_images

    df = _asset_df(
        spark,
        [
            (1, png_bytes(2, 2, bytes(12)), {"mime": "image/png"}),
            (2, b"plain words", {"mime": "text/plain"}),
        ],
    )
    out = resize_images(df, 2, 2).collect()
    assert [r.doc_id for r in out] == [1]


def test_resize_jpeg_gray_path(spark):
    # constant-block gray JPEG decodes bit-exactly; resize of a
    # constant image is constant
    from diabetes_etl_spark.operators.multimodal import resize_images

    payload = jpeg_gray_bytes(8, 8, bytes([77] * 64))
    df = _asset_df(spark, [(3, payload, {"mime": "image/jpeg"})])
    r = resize_images(df, 4, 4).collect()[0]
    assert (r.n_channels, r.px_sum, r.px_min, r.px_max) == (1, 77 * 16, 77, 77)


# -- nearest-sample audio resample (resample_audio) -------------------------


def test_resample_downsample_picks_integer_frames(spark):
    from diabetes_etl_spark.operators.multimodal import resample_audio

    # 8 frames mono at 8000 Hz -> 4000 Hz: frames 0,2,4,6
    samples = [0, 100, -200, 300, -400, 500, -600, 32767]
    payload = wav_bytes(8000, 1, samples)
    df = _asset_df(spark, [(1, payload, {"mime": "audio/wav"})])
    r = resample_audio(df, 4000).collect()[0]
    picked = [samples[0], samples[2], samples[4], samples[6]]
    assert r.n_frames_out == 4
    assert r.sample_sum == sum(picked)
    assert (r.sample_min, r.sample_max) == (min(picked), max(picked))


def test_resample_keeps_channels_interleaved(spark):
    from diabetes_etl_spark.operators.multimodal import resample_audio

    # stereo: frames [(1,-1), (2,-2), (3,-3), (4,-4)] -> half rate
    # keeps frames 0 and 2 with BOTH channels
    inter = [1, -1, 2, -2, 3, -3, 4, -4]
    payload = wav_bytes(8000, 2, inter)
    df = _asset_df(spark, [(1, payload, {"mime": "audio/wav"})])
    r = resample_audio(df, 4000).collect()[0]
    assert (r.n_channels, r.n_frames_out) == (2, 2)
    assert r.sample_sum == (1 - 1) + (3 - 3)
    assert (r.sample_min, r.sample_max) == (-3, 3)


def test_resample_drops_non_wav_rows(spark):
    from diabetes_etl_spark.operators.multimodal import resample_audio

    df = _asset_df(
        spark,
        [
            (1, wav_bytes(8000, 1, [5, 6]), {"mime": "audio/wav"}),
            (2, b"words", {"mime": "text/plain"}),
        ],
    )
    out = resample_audio(df, 4000).collect()
    assert [r.doc_id for r in out] == [1]


# -- video frame-sampling plan (plan_video_frames) --------------------------


def test_frame_plan_uniform_timestamps(spark):
    from diabetes_etl_spark.operators.multimodal import (
        attach_video_payloads,
        plan_video_frames,
    )

    docs = spark.createDataFrame([(3,)], "doc_id long")
    rows = plan_video_frames(
        attach_video_payloads(docs), 4, fps=25
    ).collect()
    # doc 3: duration 500 + 3*40 = 620 ms -> ts 0,155,310,465
    assert [r.ts_ms for r in sorted(rows, key=lambda r: r.ts_ms)] == [
        0, 155, 310, 465,
    ]
    assert all(r.n_frames_sampled == 4 for r in rows)
    assert all((r.width, r.height) == (80, 16) for r in rows)  # 16*(2+3), 16*(1+3%3)


def test_frame_plan_clamps_to_short_clips(spark):
    from diabetes_etl_spark.operators.multimodal import (
        mp4_bytes,
        plan_video_frames,
    )

    # 80 ms at 25 fps = 2 total frames -> plan asks for min(4, 2) = 2
    df = _asset_df(
        spark, [(1, mp4_bytes(32, 32, 80), {"mime": "video/mp4"})]
    ).select("doc_id", "payload")
    rows = plan_video_frames(df, 4, fps=25).collect()
    assert len(rows) == 2 and all(r.n_frames_sampled == 2 for r in rows)


def test_video_frame_decode_is_env_gated(spark):
    import pytest

    from diabetes_etl_spark.operators.multimodal import decode_video_frame

    with pytest.raises(NotImplementedError, match="codec"):
        decode_video_frame(b"\x00", 0)


# -- 4:2:0 chroma-subsampled baseline JPEG (round-7) ------------------------


def _macro_rgb_img(w, h, f):
    out = bytearray()
    for y in range(h):
        for x in range(w):
            out += bytes(f(x // 16, y // 16))
    return bytes(out)


def _roundtrip_expected(rgb, w, h):
    """Integer YCbCr roundtrip of constant regions (both transforms
    floor(x+0.5) — the arithmetic the oracle replays)."""
    import numpy as np

    from diabetes_etl_spark.operators.multimodal import (
        _rgb_to_ycbcr,
        _ycbcr_to_rgb,
    )

    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3).astype(float)
    y, cb, cr = _rgb_to_ycbcr(arr[:, :, 0], arr[:, :, 1], arr[:, :, 2])
    r, g, b = _ycbcr_to_rgb(y, cb, cr)
    return np.stack([r, g, b], axis=-1).astype(np.uint8).tobytes()


def test_jpeg_420_constant_macro_blocks_roundtrip_bit_exactly():
    from diabetes_etl_spark.operators.multimodal import (
        decode_jpeg_baseline,
        jpeg_color_bytes,
        probe_jpeg,
    )

    # odd dims, partial edge MCUs, multiple MCUs per row/col
    for w, h in [(16, 16), (33, 17), (17, 31), (48, 40), (16, 25)]:
        f = lambda mx, my: (
            (mx * 17 + my * 53 + 5) % 256,
            (mx * 29 + 7) % 256,
            (my * 31 + 90) % 256,
        )
        rgb = _macro_rgb_img(w, h, f)
        payload = jpeg_color_bytes(w, h, rgb, subsampling="420")
        assert probe_jpeg(payload) == (w, h, 3)
        dw, dh, nc, raw = decode_jpeg_baseline(payload)
        assert (dw, dh, nc) == (w, h, 3)
        assert raw == _roundtrip_expected(rgb, w, h)


def test_jpeg_420_luma_survives_nonconstant_content():
    """Chroma loses per-pixel detail by construction; luma must not —
    catches MCU/plane indexing bugs the constant fixture can't see."""
    import numpy as np

    from diabetes_etl_spark.operators.multimodal import (
        _rgb_to_ycbcr,
        decode_jpeg_baseline,
        jpeg_color_bytes,
    )

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, (24, 24, 3), dtype=np.uint8)
    payload = jpeg_color_bytes(24, 24, rgb.tobytes(), subsampling="420")
    _, _, _, raw = decode_jpeg_baseline(payload)
    dec = np.frombuffer(raw, dtype=np.uint8).reshape(24, 24, 3)
    y0, _, _ = _rgb_to_ycbcr(*[rgb[:, :, i].astype(float) for i in range(3)])
    y1, _, _ = _rgb_to_ycbcr(*[dec[:, :, i].astype(float) for i in range(3)])
    assert float(np.abs(y0 - y1).mean()) < 1.0


def test_jpeg_color_bytes_rejects_unknown_subsampling():
    from diabetes_etl_spark.operators.multimodal import jpeg_color_bytes

    with pytest.raises(ValueError, match="subsampling"):
        jpeg_color_bytes(16, 16, bytes(16 * 16 * 3), subsampling="411")


def test_decode_payload_routes_420_jpeg():
    from diabetes_etl_spark.operators.multimodal import (
        decode_payload,
        fixture_color420_dims,
        jpeg_color_bytes,
    )
    from diabetes_etl_spark.operators.multimodal import (
        _fixture_color420_pixels,
    )

    w, h = fixture_color420_dims(3)
    payload = jpeg_color_bytes(
        w, h, _fixture_color420_pixels(3, w, h), subsampling="420"
    )
    assert len(decode_payload("image/jpeg", payload)) == w * h * 3


# -- palette PNG (color type 3, round-7) ------------------------------------


def test_palette_png_decodes_to_rgb():
    from diabetes_etl_spark.operators.multimodal import (
        decode_png,
        png_palette_bytes,
        probe_png,
    )

    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])
    indices = bytes([0, 1, 2, 3, 3, 2, 1, 0])  # 4x2
    payload = png_palette_bytes(4, 2, palette, indices)
    assert probe_png(payload) == (4, 2, 3)  # decoded channels
    w, h, ch, raw = decode_png(payload)
    assert (w, h, ch) == (4, 2, 3)
    want = b"".join(palette[3 * i : 3 * i + 3] for i in indices)
    assert raw == want


def test_palette_png_filtered_scanlines_roundtrip():
    # indices vary per row so Sub/Up filters would corrupt if bpp were
    # wrong; filter-0 encode + full decode must reproduce exactly
    from diabetes_etl_spark.operators.multimodal import (
        decode_png,
        png_palette_bytes,
    )

    palette = bytes(b for i in range(16) for b in (i * 16, 255 - i * 16, i))
    indices = bytes((x * 3 + y * 5) % 16 for y in range(7) for x in range(5))
    payload = png_palette_bytes(5, 7, palette, indices)
    w, h, ch, raw = decode_png(payload)
    assert (w, h, ch) == (5, 7, 3)
    assert raw == b"".join(palette[3 * i : 3 * i + 3] for i in indices)


def test_palette_png_rejects_bad_index_and_missing_plte():
    import struct as _struct
    import zlib as _zlib

    import pytest as _pytest

    from diabetes_etl_spark.operators.multimodal import (
        decode_png,
        png_palette_bytes,
    )

    with _pytest.raises(ValueError, match="index out of range"):
        png_palette_bytes(1, 1, bytes([1, 2, 3]), bytes([5]))

    # hand-build a palette PNG with no PLTE
    def chunk(tag, data):
        return (
            _struct.pack(">I", len(data)) + tag + data
            + _struct.pack(">I", _zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = _struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    raw = _zlib.compress(b"\x00\x00")
    payload = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", raw) + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="missing PLTE"):
        decode_png(payload)


def test_decode_payload_routes_palette_png(spark):
    from diabetes_etl_spark.operators.multimodal import (
        decode_payload,
        png_palette_bytes,
    )

    palette = bytes([10, 20, 30])
    payload = png_palette_bytes(2, 2, palette, bytes(4))
    assert decode_payload("image/png", payload) == bytes([10, 20, 30]) * 4


# -- progressive JPEG (round-8: T.81 Annex G decode + encoder) --------------


def test_progressive_roundtrip_matches_baseline_gray():
    """A progressive and a baseline encode of the SAME pixels carry the
    same quantized coefficients, so the two decoders must reconstruct
    IDENTICAL output — including odd dims with partial edge blocks."""
    import random

    from diabetes_etl_spark.operators.multimodal import (
        decode_jpeg_baseline,
        decode_jpeg_progressive,
        jpeg_gray_bytes,
        jpeg_progressive_bytes,
    )

    rng = random.Random(11)
    for w, h in ((8, 8), (17, 13), (5, 5), (24, 9)):
        px = bytes(rng.randrange(256) for _ in range(w * h))
        assert decode_jpeg_progressive(
            jpeg_progressive_bytes(w, h, px, n_components=1)
        ) == decode_jpeg_baseline(jpeg_gray_bytes(w, h, px))


def test_progressive_roundtrip_matches_baseline_color_444_and_420():
    import random

    from diabetes_etl_spark.operators.multimodal import (
        decode_jpeg_baseline,
        decode_jpeg_progressive,
        jpeg_color_bytes,
        jpeg_progressive_bytes,
    )

    rng = random.Random(13)
    for w, h in ((16, 8), (17, 13)):
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        assert decode_jpeg_progressive(
            jpeg_progressive_bytes(w, h, rgb)
        ) == decode_jpeg_baseline(jpeg_color_bytes(w, h, rgb))
    for w, h in ((16, 16), (33, 18)):
        # 4:2:0: dummy edge blocks are DC-coded in the interleaved scan
        # but excluded from the per-component AC scans (T.81 A.2)
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        assert decode_jpeg_progressive(
            jpeg_progressive_bytes(w, h, rgb, subsampling="420")
        ) == decode_jpeg_baseline(
            jpeg_color_bytes(w, h, rgb, subsampling="420")
        )


def test_progressive_constant_blocks_reconstruct_bit_exactly():
    """Constant 8x8 blocks survive the progressive codec bit-exactly
    (DC-only coefficients, all-ones quantization) — the property the
    multimodal_progressive_decode oracle's arithmetic relies on."""
    from diabetes_etl_spark.operators.multimodal import (
        _fixture_color_pixels,
        decode_jpeg_progressive,
        fixture_media_dims,
        jpeg_progressive_bytes,
    )

    for doc_id in (0, 7, 123):
        _, _, jw, jh = fixture_media_dims(doc_id)
        rgb = _fixture_color_pixels(doc_id, jw, jh)
        w, h, ch, raw = decode_jpeg_progressive(
            jpeg_progressive_bytes(jw, jh, rgb)
        )
        assert (w, h, ch) == (jw, jh, 3)
        # decoded RGB equals the fixture constants pushed through the
        # exact floor(x+0.5) YCbCr round trip — spot-check block (0,0)
        from diabetes_etl_spark.operators.multimodal import (
            _rgb_to_ycbcr,
            _ycbcr_to_rgb,
        )
        import numpy as np

        r0, g0, b0 = rgb[0], rgb[1], rgb[2]
        y, cb, cr = _rgb_to_ycbcr(
            np.array([[float(r0)]]), np.array([[float(g0)]]),
            np.array([[float(b0)]]),
        )
        rr, gg, bb = _ycbcr_to_rgb(y, cb, cr)
        assert raw[0] == int(rr[0, 0])
        assert raw[1] == int(gg[0, 0])
        assert raw[2] == int(bb[0, 0])


def test_decode_jpeg_auto_dispatches_both_families():
    from diabetes_etl_spark.operators.multimodal import (
        decode_jpeg_auto,
        jpeg_gray_bytes,
        jpeg_progressive_bytes,
    )

    px = bytes(range(64))
    base = decode_jpeg_auto(jpeg_gray_bytes(8, 8, px))
    prog = decode_jpeg_auto(jpeg_progressive_bytes(8, 8, px, n_components=1))
    assert base == prog
    assert base[0] == 8 and base[2] == 1


def test_progressive_decoder_rejects_baseline_and_malformed():
    import pytest as _pytest

    from diabetes_etl_spark.operators.multimodal import (
        decode_jpeg_progressive,
        jpeg_gray_bytes,
    )

    with _pytest.raises(ValueError, match="expected SOF2"):
        decode_jpeg_progressive(jpeg_gray_bytes(8, 8, bytes(64)))
    with _pytest.raises(ValueError, match="missing SOI"):
        decode_jpeg_progressive(b"\x00\x01")


def test_feature_extraction_decodes_progressive_pixels(spark):
    """extract_features over progressive payloads must produce REAL
    pixel statistics (not the NULL probe fallback) — the end-to-end
    wiring of decode_jpeg_auto into the mapInPandas path."""
    from diabetes_etl_spark.operators.multimodal import (
        attach_progressive_jpeg_payloads,
        extract_features,
    )

    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    rows = {
        r.doc_id: r
        for r in extract_features(
            attach_progressive_jpeg_payloads(docs)
        ).collect()
    }
    for doc_id, r in rows.items():
        assert r.n_channels == 3
        assert r.byte_len == r.width * r.height * 3  # decoded, not container
        assert r.n_space is not None and r.head_fingerprint is not None


# -- Adam7 interlaced PNG -------------------------------------------------


def test_adam7_pass_grid_partitions_every_size():
    """The seven passes must visit every pixel exactly once for any
    image size, including the degenerate ones (w or h < 8 -> empty
    passes with ZERO scanlines)."""
    from diabetes_etl_spark.operators.multimodal import _adam7_pass_dims

    for w in (1, 2, 3, 5, 7, 8, 9, 16):
        for h in (1, 2, 3, 5, 7, 8, 9, 11):
            seen = set()
            for x0, y0, dx, dy, pw, ph in _adam7_pass_dims(w, h):
                for r in range(ph):
                    for c in range(pw):
                        p = (x0 + c * dx, y0 + r * dy)
                        assert p not in seen and p[0] < w and p[1] < h
                        seen.add(p)
            assert len(seen) == w * h


@pytest.mark.parametrize(
    "w,h", [(1, 1), (3, 3), (5, 3), (8, 8), (9, 7), (16, 11), (4, 13)]
)
def test_png_interlaced_roundtrip(w, h):
    from diabetes_etl_spark.operators.multimodal import png_interlaced_bytes

    pixels = _pix(w * h * 3)
    payload = png_interlaced_bytes(w, h, pixels)
    assert probe_png(payload) == (w, h, 3)
    assert decode_png(payload) == (w, h, 3, pixels)
    assert decode_payload("image/png", payload) == pixels


def _interlaced_png_with_filters(w, h, channels, color_type, pixels, filters):
    """Hand-roll an INTERLACED PNG whose pass scanlines use the given
    filter types — each pass filtered independently at its own width
    (what libpng does), so a decoder that carries `prev` across pass
    boundaries or unfilters at the full image width fails this."""
    from diabetes_etl_spark.operators.multimodal import _adam7_pass_dims

    raw = bytearray()
    for x0, y0, dx, dy, pw, ph in _adam7_pass_dims(w, h):
        if pw == 0 or ph == 0:
            continue
        stride = pw * channels
        prev = bytes(stride)
        for r in range(ph):
            y = y0 + r * dy
            line = bytearray()
            for c in range(pw):
                x = x0 + c * dx
                line += pixels[
                    (y * w + x) * channels : (y * w + x + 1) * channels
                ]
            f = filters[r % len(filters)]
            raw.append(f)
            if f == 0:
                raw += line
            elif f == 2:  # Up vs the PASS-local previous scanline
                raw += bytes((line[i] - prev[i]) & 0xFF for i in range(stride))
            else:
                raise AssertionError("test helper supports filters 0/2 only")
            prev = bytes(line)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_interlaced_filter_history_resets_per_pass():
    """Up-filtered scanlines in every pass: correct decode requires the
    filter predecessor row to reset to zeros at each pass start and to
    be the PASS scanline, not the image scanline."""
    w, h = 13, 11
    pixels = _pix(w * h * 3, seed=9)
    payload = _interlaced_png_with_filters(w, h, 3, 2, pixels, [2])
    assert decode_png(payload) == (w, h, 3, pixels)
    payload = _interlaced_png_with_filters(w, h, 3, 2, pixels, [0, 2])
    assert decode_png(payload) == (w, h, 3, pixels)


def test_png_interlaced_gray_and_alpha_color_types():
    for color_type, channels in ((0, 1), (4, 2), (6, 4)):
        w, h = 9, 10
        pixels = _pix(w * h * channels, seed=3)
        payload = _interlaced_png_with_filters(
            w, h, channels, color_type, pixels, [0, 2]
        )
        assert probe_png(payload) == (w, h, channels)
        assert decode_png(payload) == (w, h, channels, pixels)


def test_png_interlaced_truncated_stream_raises():
    from diabetes_etl_spark.operators.multimodal import png_interlaced_bytes

    w, h = 9, 7
    payload = png_interlaced_bytes(w, h, _pix(w * h * 3))
    # rebuild with the last pass's scanlines chopped off
    pos = payload.index(b"IDAT") - 4
    (length,) = struct.unpack(">I", payload[pos : pos + 4])
    idat = payload[pos + 8 : pos + 8 + length]
    raw = zlib.decompress(idat)
    short = zlib.compress(raw[: len(raw) - 5])

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    rebuilt = (
        payload[:pos]
        + chunk(b"IDAT", short)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truncated"):
        decode_png(rebuilt)


# -- GIF (87a/89a): LZW, interlace, palettes --------------------------------


def _gif_rgb(indices: bytes) -> bytes:
    from diabetes_etl_spark.operators.multimodal import fixture_gif_palette

    pal = fixture_gif_palette()
    return bytes(v for j in indices for v in pal[3 * j : 3 * j + 3])


def test_gif_lzw_roundtrip_forces_width_growth_and_clear():
    """A 60k random-byte stream drives the dictionary through every
    code width 9->12 and past 4096 entries (mid-stream CLEAR + reset);
    a low-entropy run stream drives long dictionary entries and the
    self-referential code case."""
    import random

    from diabetes_etl_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rnd = random.Random(11)
    s = bytes(rnd.randrange(256) for _ in range(60000))
    enc = _lzw_encode(s, 8)
    assert len(enc) > 60000  # random bytes do not compress
    assert _lzw_decode(enc, 8, len(s)) == s
    runs = bytes([i // 97 % 7 for i in range(50000)])
    enc = _lzw_encode(runs, 8)
    assert len(enc) < len(runs) // 4  # runs must actually compress
    assert _lzw_decode(enc, 8, len(runs)) == runs


@pytest.mark.parametrize("w,h", [(1, 1), (5, 4), (8, 8), (15, 12), (3, 13)])
@pytest.mark.parametrize("interlaced", [False, True])
def test_gif_roundtrip(w, h, interlaced):
    from diabetes_etl_spark.operators.multimodal import (
        decode_gif,
        decode_payload,
        gif_bytes,
        probe_gif,
    )

    idx = _pix(w * h, seed=7)
    payload = gif_bytes(w, h, idx, interlaced=interlaced)
    assert probe_gif(payload) == (w, h, 3)
    assert decode_gif(payload) == (w, h, 3, _gif_rgb(idx))
    assert decode_payload("image/gif", payload) == _gif_rgb(idx)


def test_gif_interlaced_differs_on_wire_not_after_decode():
    """Interlacing must change the stored raster (row permutation) but
    not the decoded pixels."""
    from diabetes_etl_spark.operators.multimodal import decode_gif, gif_bytes

    w, h = 9, 11
    idx = _pix(w * h, seed=2)
    seq = gif_bytes(w, h, idx, interlaced=False)
    inter = gif_bytes(w, h, idx, interlaced=True)
    assert seq != inter
    assert decode_gif(seq) == decode_gif(inter)


def test_gif_skips_comment_and_application_extensions():
    from diabetes_etl_spark.operators.multimodal import decode_gif, gif_bytes

    w, h = 6, 5
    idx = _pix(w * h, seed=3)
    payload = gif_bytes(w, h, idx)
    # image descriptor offset: header 6 + LSD 7 + GCT 768 + GCE 8
    at = 789
    assert payload[at] == 0x2C
    comment = b"\x21\xfe\x05hello\x00"
    app = b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    spliced = payload[:at] + comment + app + payload[at:]
    assert decode_gif(spliced) == decode_gif(payload)


def test_gif_local_color_table_overrides_global():
    from diabetes_etl_spark.operators.multimodal import decode_gif, gif_bytes

    w, h = 4, 3
    idx = _pix(w * h, seed=4)
    payload = bytearray(gif_bytes(w, h, idx))
    at = 789  # header 6 + LSD 7 + GCT 768 + GCE 8
    assert payload[at] == 0x2C
    # enable the LCT flag (256 entries) and splice a remapped palette
    lct = bytes(b for j in range(256) for b in (255 - j, j, 128))
    packed = payload[at + 9] | 0x80 | 0x07
    rebuilt = (
        bytes(payload[: at + 9])
        + bytes((packed,))
        + lct
        + bytes(payload[at + 10 :])
    )
    _, _, _, rgb = decode_gif(bytes(rebuilt))
    want = bytes(v for j in idx for v in (255 - j, j, 128))
    assert rgb == want


def test_gif_truncated_stream_raises():
    from diabetes_etl_spark.operators.multimodal import decode_gif, gif_bytes

    w, h = 8, 7
    payload = gif_bytes(w, h, _pix(w * h, seed=6))
    with pytest.raises(ValueError, match="truncated|no image"):
        decode_gif(payload[: len(payload) // 2])
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTGIF" + payload[6:])


def test_gif_features_in_plan(spark):
    """extract_features routes image/gif through the real decoder:
    byte_len counts DECODED RGB bytes and the stats match the palette
    arithmetic."""
    from diabetes_etl_spark.operators.multimodal import (
        _fixture_pixels,
        attach_gif_payloads,
        extract_features,
        fixture_gif_dims,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    rows = {
        r.doc_id: r
        for r in extract_features(attach_gif_payloads(docs)).collect()
    }
    assert len(rows) == 12
    for doc_id, r in rows.items():
        w, h = fixture_gif_dims(doc_id)
        rgb = _gif_rgb(_fixture_pixels(doc_id, w * h))
        assert (r.width, r.height, r.n_channels) == (w, h, 3)
        assert r.byte_len == len(rgb)
        assert r.n_space == rgb.count(b" ")
        assert r.n_alpha == sum(1 for x in rgb if 97 <= x <= 122)


# -- BMP (Windows DIB): BI_RGB 8/24-bit, BI_RLE8, row orders ----------------


def _bmp_rgb(indices: bytes) -> bytes:
    from diabetes_etl_spark.operators.multimodal import fixture_gif_palette

    pal = fixture_gif_palette()
    return bytes(v for j in indices for v in pal[3 * j : 3 * j + 3])


@pytest.mark.parametrize("w,h", [(1, 1), (4, 3), (6, 5), (15, 12), (3, 13)])
@pytest.mark.parametrize(
    "kw",
    [
        dict(bpp=24),
        dict(bpp=24, top_down=True),
        dict(bpp=8),
        dict(bpp=8, rle=True),
    ],
)
def test_bmp_roundtrip(w, h, kw):
    from diabetes_etl_spark.operators.multimodal import (
        bmp_bytes,
        decode_bmp,
        decode_payload,
        probe_bmp,
    )

    idx = _pix(w * h, seed=9)
    payload = bmp_bytes(w, h, idx, **kw)
    assert probe_bmp(payload) == (w, h, 3)
    assert decode_bmp(payload) == (w, h, 3, _bmp_rgb(idx))
    assert decode_payload("image/bmp", payload) == _bmp_rgb(idx)


def test_bmp_wire_shapes_differ_but_decode_identically():
    """24-bit bottom-up / 24-bit top-down / 8-bit RLE8 are three
    different byte streams that must decode to the same RGB."""
    from diabetes_etl_spark.operators.multimodal import bmp_bytes, decode_bmp

    w, h = 7, 6
    idx = _pix(w * h, seed=3)
    variants = [
        bmp_bytes(w, h, idx, bpp=24),
        bmp_bytes(w, h, idx, bpp=24, top_down=True),
        bmp_bytes(w, h, idx, bpp=8),
        bmp_bytes(w, h, idx, bpp=8, rle=True),
    ]
    assert len({v for v in variants}) == 4  # genuinely distinct wires
    decoded = {decode_bmp(v) for v in variants}
    assert len(decoded) == 1


def test_bmp_rle8_exercises_both_modes():
    """The fixture's row-parity run structure must produce BOTH RLE8
    modes on the wire: absolute-mode markers (0, n>=3) for the
    singleton-run even rows and encoded (count>=2, value) pairs for
    the odd rows — and absolute runs must be word-aligned."""
    from diabetes_etl_spark.operators.multimodal import (
        _rle8_encode_row,
        fixture_bmp_indices,
    )

    w, h = 9, 6
    idx = fixture_bmp_indices(0, w, h)
    rows = [idx[r * w : (r + 1) * w] for r in range(h)]
    even_enc = _rle8_encode_row(bytes(rows[0]))  # singleton runs
    odd_enc = _rle8_encode_row(bytes(rows[1]))  # length-2 runs
    assert even_enc[0] == 0 and even_enc[1] >= 3  # absolute mode
    assert len(even_enc) % 2 == 0  # word alignment held
    # odd rows: a leading singleton then length-2 encoded runs
    pairs = [
        (odd_enc[i], odd_enc[i + 1]) for i in range(0, len(odd_enc), 2)
    ]
    assert any(n >= 2 for n, _ in pairs)  # encoded mode present
    # splitting >255-byte literal stretches stays lossless
    long_row = bytes(i % 251 for i in range(600))
    enc = _rle8_encode_row(long_row)
    out = bytearray()
    i = 0
    while i < len(enc):
        n, v = enc[i], enc[i + 1]
        i += 2
        if n > 0:
            out += bytes((v,)) * n
        else:
            out += enc[i : i + v]
            i += v + (v & 1)
    assert bytes(out) == long_row


def test_bmp_rle8_undefined_pixels_refused():
    """Delta escapes and underfilled rows leave pixels undefined; the
    decoder must refuse rather than fabricate values."""
    from diabetes_etl_spark.operators.multimodal import (
        bmp_bytes,
        decode_bmp,
        _rle8_decode,
    )

    with pytest.raises(ValueError, match="delta"):
        _rle8_decode(b"\x00\x02\x01\x01\x00\x01", 4, 1)
    with pytest.raises(ValueError, match="underfilled"):
        _rle8_decode(b"\x02\x05\x00\x00\x04\x07\x00\x01", 4, 2)
    with pytest.raises(ValueError, match="truncated"):
        _rle8_decode(b"\x04\x05\x00", 4, 1)
    with pytest.raises(ValueError, match="overflows"):
        _rle8_decode(b"\x05\x09\x00\x01", 4, 1)
    # a top-down RLE8 header is spec-invalid: flip the height sign
    w, h = 4, 3
    payload = bytearray(bmp_bytes(w, h, _pix(w * h), bpp=8, rle=True))
    import struct

    payload[22:26] = struct.pack("<i", -h)
    with pytest.raises(ValueError, match="top-down"):
        decode_bmp(bytes(payload))


def test_bmp_v5_header_and_bad_streams():
    """A BITMAPV5HEADER (124-byte info header) must decode like the
    40-byte form; OS/2 core headers and unknown depths fail loudly."""
    import struct

    from diabetes_etl_spark.operators.multimodal import bmp_bytes, decode_bmp

    w, h = 5, 4
    idx = _pix(w * h, seed=8)
    base = bmp_bytes(w, h, idx, bpp=8)
    # rebuild with a 124-byte header: splice 84 zero bytes after the
    # 40-byte info block and bump data_off/hdr_size accordingly
    extra = 84
    data_off = struct.unpack("<I", base[10:14])[0]
    rebuilt = bytearray(base[:54] + b"\x00" * extra + base[54:])
    rebuilt[10:14] = struct.pack("<I", data_off + extra)
    rebuilt[14:18] = struct.pack("<I", 124)
    assert decode_bmp(bytes(rebuilt)) == decode_bmp(base)
    # OS/2 BITMAPCOREHEADER (size 12) refused
    core = bytearray(base)
    core[14:18] = struct.pack("<I", 12)
    with pytest.raises(ValueError, match="OS/2"):
        decode_bmp(bytes(core))
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"XX" + base[2:])
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(base[: len(base) - 8])
    bad_bpp = bytearray(base)
    bad_bpp[28:30] = struct.pack("<H", 4)
    with pytest.raises(ValueError, match="unsupported"):
        decode_bmp(bytes(bad_bpp))


def test_bmp_features_in_plan(spark):
    """extract_features routes image/bmp through the real decoder and
    the fixture mixes all three wire shapes across doc ids."""
    from diabetes_etl_spark.operators.multimodal import (
        attach_bmp_payloads,
        extract_features,
        fixture_bmp_dims,
        fixture_bmp_indices,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    rows = {
        r.doc_id: r
        for r in extract_features(attach_bmp_payloads(docs)).collect()
    }
    assert len(rows) == 12
    for doc_id, r in rows.items():
        w, h = fixture_bmp_dims(doc_id)
        rgb = _bmp_rgb(fixture_bmp_indices(doc_id, w, h))
        assert (r.width, r.height, r.n_channels) == (w, h, 3)
        assert r.byte_len == len(rgb)
        assert r.n_space == rgb.count(b" ")
        assert r.n_alpha == sum(1 for x in rgb if 97 <= x <= 122)


# -- audio signal features ---------------------------------------------------


def test_audio_signal_features_known_waveform(spark):
    """A hand-built square-ish wave: period 4 -> best autocorrelation
    lag 4, known zero crossings and energy."""
    from diabetes_etl_spark.operators.multimodal import (
        audio_signal_features,
        wav_bytes,
    )
    import hashlib

    # 4-periodic mono signal: +1000 +1000 -1000 -1000 ...
    samples = ([1000, 1000, -1000, -1000] * 8)
    payload = wav_bytes(8000, 1, samples)
    assets = spark.createDataFrame(
        [(1, bytearray(payload), {"mime": "audio/wav",
                                  "n_bytes": len(payload),
                                  "checksum": hashlib.md5(payload).hexdigest()})],
        "doc_id long, payload binary, asset_meta map<string,string>",
    )
    row = audio_signal_features(assets, max_lag=6).collect()[0]
    assert (row.rate, row.n_channels, row.n_frames) == (8000, 1, 32)
    assert row.energy == 1000 * 1000 * 32
    assert row.peak_amp == 1000
    # sign flips every 2 samples: 16 boundaries, minus edge = 15? count:
    # pattern ++--++--: crossings at indices 2,4,6,... -> 15 in 32 samples
    assert row.zero_crossings == 15
    assert row.best_lag == 4
    # R(4) = sum s[j]*s[j+4] = 28 * 1e6 (all aligned)
    assert row.best_autocorr == 1000 * 1000 * 28


def test_audio_signal_features_tie_breaks_to_smallest_lag(spark):
    """A constant signal: every lag's autocorrelation is maximal and
    decreasing in overlap length, so lag 1 wins outright; a truly tied
    construction (all-zero signal) must also pick lag 1."""
    from diabetes_etl_spark.operators.multimodal import (
        audio_signal_features,
        wav_bytes,
    )
    import hashlib

    payload = wav_bytes(8000, 1, [0] * 16)
    assets = spark.createDataFrame(
        [(1, bytearray(payload), {"mime": "audio/wav",
                                  "n_bytes": len(payload),
                                  "checksum": hashlib.md5(payload).hexdigest()})],
        "doc_id long, payload binary, asset_meta map<string,string>",
    )
    row = audio_signal_features(assets).collect()[0]
    assert row.best_lag == 1 and row.best_autocorr == 0
    assert row.zero_crossings == 0 and row.energy == 0


def test_audio_signal_features_drops_non_wav_rows(spark):
    from diabetes_etl_spark.operators.multimodal import (
        audio_signal_features,
        wav_bytes,
    )
    import hashlib

    wav = wav_bytes(8000, 2, [1, -1, 2, -2, 3, -3, 4, -4])
    assets = spark.createDataFrame(
        [
            (1, bytearray(wav), {"mime": "audio/wav",
                                 "n_bytes": len(wav),
                                 "checksum": hashlib.md5(wav).hexdigest()}),
            (2, bytearray(b"\xff\xfbnot-decodable"),
             {"mime": "audio/mpeg", "n_bytes": 14, "checksum": "x"}),
        ],
        "doc_id long, payload binary, asset_meta map<string,string>",
    )
    rows = audio_signal_features(assets).collect()
    assert [r.doc_id for r in rows] == [1]
    assert rows[0].n_channels == 2 and rows[0].n_frames == 4


# -- perceptual dHash --------------------------------------------------------


def _asset_rows(spark, rows):
    import hashlib

    return spark.createDataFrame(
        [
            (i, bytearray(p), {"mime": m, "n_bytes": len(p),
                               "checksum": hashlib.md5(p).hexdigest()})
            for i, m, p in rows
        ],
        "doc_id long, payload binary, asset_meta map<string,string>",
    )


def test_dhash_codec_invariant_png_vs_gif(spark):
    """The SAME pixels through two different codecs must hash
    identically — the perceptual-hash property a byte checksum lacks.
    GIF fixture palette entry j is (j, 3j, 7j) mod 256, so a PNG built
    from those RGB bytes decodes to the same raster."""
    from diabetes_etl_spark.operators.multimodal import (
        fixture_gif_palette,
        gif_bytes,
        image_dhash,
        png_bytes,
    )

    w, h = 12, 10
    idx = _pix(w * h, seed=9)
    pal = fixture_gif_palette()
    rgb = bytes(v for j in idx for v in pal[3 * j : 3 * j + 3])
    assets = _asset_rows(
        spark,
        [
            (1, "image/png", png_bytes(w, h, rgb)),
            (2, "image/gif", gif_bytes(w, h, idx)),
        ],
    )
    hashes = {r.doc_id: r.dhash for r in image_dhash(assets).collect()}
    assert hashes[1] == hashes[2]


def test_dhash_near_pair_found_unrelated_not(spark):
    from diabetes_etl_spark.operators.dedup import bit_signature_near_pairs
    from diabetes_etl_spark.operators.multimodal import (
        image_dhash,
        png_bytes,
    )

    w, h = 18, 16
    base = bytearray(_pix(w * h * 3, seed=4))
    tweaked = bytearray(base)
    tweaked[0] ^= 0x40  # one-channel change in one pixel
    unrelated = bytes(
        (251 * i * i + 17 * i) % 256 for i in range(w * h * 3)
    )
    assets = _asset_rows(
        spark,
        [
            (1, "image/png", png_bytes(w, h, bytes(base))),
            (2, "image/png", png_bytes(w, h, bytes(tweaked))),
            (3, "image/png", png_bytes(w, h, unrelated)),
        ],
    )
    sig = image_dhash(assets)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in bit_signature_near_pairs(
            sig, "doc_id", "dhash", max_hamming=3, bucket_cap=1 << 20
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_dhash_skips_undecodable_and_non_images(spark):
    from diabetes_etl_spark.operators.multimodal import image_dhash

    assets = _asset_rows(
        spark,
        [
            (1, "image/png", b"\x89PNG but truncated"),
            (2, "text/plain", b"hello"),
        ],
    )
    assert image_dhash(assets).count() == 0


# -- audio fingerprint -------------------------------------------------------


def test_audio_fingerprint_pairs_detect_amplitude_scaled_copy(spark):
    """A globally amplitude-scaled copy keeps the ENERGY-GRADIENT
    contour (every E_i scales by the same factor, comparisons
    unchanged) -> identical fingerprint; an unrelated signal does not
    pair."""
    import hashlib
    import random

    from diabetes_etl_spark.operators.dedup import bit_signature_near_pairs
    from diabetes_etl_spark.operators.multimodal import (
        audio_fingerprint,
        wav_bytes,
    )

    rnd = random.Random(5)
    base = [rnd.randrange(-12000, 12000) for _ in range(256)]
    half = [s // 2 for s in base]
    other = [rnd.randrange(-12000, 12000) for _ in range(256)]

    def row(i, samples):
        p = wav_bytes(8000, 1, samples)
        return (i, bytearray(p), {"mime": "audio/wav", "n_bytes": len(p),
                                  "checksum": hashlib.md5(p).hexdigest()})

    assets = spark.createDataFrame(
        [row(1, base), row(2, half), row(3, other)],
        "doc_id long, payload binary, asset_meta map<string,string>",
    )
    sig = audio_fingerprint(assets)
    fps = {r.doc_id: r.afp for r in sig.collect()}
    # halving every sample halves int-divides energies -> contour may
    # flip only where energies tie; require near-identical prints
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in bit_signature_near_pairs(
            sig, "doc_id", "afp", max_hamming=3, bucket_cap=1 << 20
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    assert fps[1] != fps[3]


def test_multimodal_prep_pipeline_accounting_consistent(spark, sf_dir):
    """Per-mime accounting must balance: kept + dropped = total,
    clusters <= kept (each cluster keeps exactly one representative
    within the whole corpus), and representatives exist per mime."""
    from diabetes_etl_spark.plans.registry import all_queries

    rows = (
        all_queries(include_extended=True)["multimodal_prep_pipeline"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert {r.mime for r in rows} == {"image/png", "image/jpeg"}
    for r in rows:
        assert r.n_kept + r.n_dropped == r.n_images
        assert 0 < r.n_kept <= r.n_images
        assert (r.pixels_dropped == 0) == (r.n_dropped == 0)


# -- restart-interval (DRI/RSTn) streams (round 9, verdict-r8 item 5) -------


def test_jpeg_dri_gray_roundtrip_all_intervals():
    """DRI streams decode identically to their no-restart twins at
    every interval shape: sub-row, row-spanning, wrapping past RST7
    (interval 1 on a 12+ MCU image), and interval >= MCU count (no
    markers actually emitted mid-stream)."""
    import numpy as np

    from diabetes_etl_spark.operators.multimodal import decode_jpeg_baseline

    w, h = 40, 24  # 5x3 = 15 MCUs
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(h, w)).astype(np.uint8).tobytes()
    base = decode_jpeg_baseline(jpeg_gray_bytes(w, h, px))[3]
    for interval in (1, 2, 4, 7, 14, 15, 100):
        enc = jpeg_gray_bytes(w, h, px, restart_interval=interval)
        assert (b"\xff\xdd" in enc) == True  # DRI segment present
        n_markers = sum(
            enc.count(bytes([0xFF, 0xD0 + i])) for i in range(8)
        )
        assert n_markers == (15 - 1) // interval
        assert decode_jpeg_baseline(enc)[3] == base, interval


def test_jpeg_dri_resets_dc_prediction():
    """A decoder that failed to reset DC predictors at RSTn would
    produce wrong pixels on any image whose blocks differ: constant-
    block fixtures must still reconstruct bit-exactly through
    restart boundaries."""
    from diabetes_etl_spark.operators.multimodal import decode_jpeg_baseline

    w, h = 28, 22
    for doc_id in (1, 5, 77, 1021):
        pixels = bytes(
            fixture_jpeg_block_value(doc_id, x // 8, y // 8)
            for y in range(h)
            for x in range(w)
        )
        for interval in (1, 3):
            enc = jpeg_gray_bytes(w, h, pixels, restart_interval=interval)
            dw, dh, ncomp, dec = decode_jpeg_baseline(enc)
            assert (dw, dh, ncomp, dec) == (w, h, 1, pixels)


def test_jpeg_dri_color_444_and_420_match_no_restart():
    import numpy as np

    from diabetes_etl_spark.operators.multimodal import decode_jpeg_baseline

    w, h = 32, 32
    rng = np.random.default_rng(13)
    mb = rng.integers(0, 256, size=(2, 2, 3))
    rgb = np.repeat(np.repeat(mb, 16, 0), 16, 1).astype(np.uint8).tobytes()
    for sub in ("444", "420"):
        base = decode_jpeg_baseline(jpeg_color_bytes(w, h, rgb, sub))[3]
        for interval in (1, 2, 3):
            enc = jpeg_color_bytes(
                w, h, rgb, sub, restart_interval=interval
            )
            assert decode_jpeg_baseline(enc)[3] == base, (sub, interval)


def test_jpeg_dri_out_of_sequence_marker_rejected():
    from diabetes_etl_spark.operators.multimodal import decode_jpeg_baseline

    w, h = 40, 24
    pixels = bytes((x // 8 * 40 + y // 8 * 81) % 256 for y in range(h) for x in range(w))
    enc = bytearray(jpeg_gray_bytes(w, h, pixels, restart_interval=2))
    # corrupt the first restart marker RST0 -> RST5
    i = enc.find(bytes([0xFF, 0xD0]))
    assert i > 0
    enc[i + 1] = 0xD5
    with pytest.raises(ValueError, match="out of sequence"):
        decode_jpeg_baseline(bytes(enc))


def test_attach_dri_payloads_decode_with_real_pixel_stats(spark):
    """The corpus fixture produces decodable DRI streams end-to-end:
    extract_features yields REAL pixel stats (no NULL fallback rows)
    matching the constant-block arithmetic."""
    from diabetes_etl_spark.operators.multimodal import (
        attach_dri_jpeg_payloads,
        extract_features,
        fixture_color_block_rgb,
        fixture_media_dims,
    )

    from pyspark.sql import functions as F

    df = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    rows = {
        r["doc_id"]: r
        for r in extract_features(attach_dri_jpeg_payloads(df)).collect()
    }
    assert len(rows) == 12
    for doc_id, r in rows.items():
        _, _, jw, jh = fixture_media_dims(doc_id)
        assert (r["width"], r["height"], r["n_channels"]) == (jw, jh, 3)
        assert r["n_space"] is not None  # real decode, not probe fallback
        assert r["head_fingerprint"] is not None


# -- shared asset plumbing: producer shape, NULL rows -----------------------

_ASSET_DDL = (
    "doc_id long, payload binary, "
    "asset_meta struct<mime: string, n_bytes: int, checksum: string>"
)


def test_every_producer_emits_the_shared_asset_shape(spark):
    """All nine attach_*_payloads producers emit (doc_id, payload,
    asset_meta{mime, n_bytes, checksum}) with n_bytes = len(payload)
    and checksum = md5(payload)."""
    import hashlib

    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators import multimodal as mm

    docs = spark.range(0, 8).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )
    producers = [
        mm.attach_color_jpeg_payloads,
        mm.attach_dri_jpeg_payloads,
        mm.attach_progressive_jpeg_payloads,
        mm.attach_color420_jpeg_payloads,
        mm.attach_interlaced_png_payloads,
        mm.attach_media_payloads,
        mm.attach_gif_payloads,
        mm.attach_bmp_payloads,
        mm.attach_video_payloads,
    ]
    want = spark.createDataFrame([], _ASSET_DDL).schema
    for produce in producers:
        assets = produce(docs)
        assert assets.schema == want, produce.__name__
        rows = assets.collect()
        assert sorted(r.doc_id for r in rows) == list(range(8))
        for r in rows:
            payload = bytes(r.payload)
            assert r.asset_meta.n_bytes == len(payload), produce.__name__
            assert (
                r.asset_meta.checksum == hashlib.md5(payload).hexdigest()
            ), produce.__name__


def test_every_decoder_drops_null_payload_and_null_meta_rows(spark):
    """Each decoder kernel fed a NULL-asset_meta row, a NULL-payload row
    and one valid row succeeds and emits output for the valid row only
    — a NULL never fails the task."""
    from diabetes_etl_spark.operators import multimodal as mm

    png = png_bytes(4, 4, _pix(48))
    wav = wav_bytes(8000, 1, list(range(-200, 200, 3)))
    mp4 = mm.mp4_bytes(32, 16, 400)
    decoders = [
        (mm.extract_features, "image/png", png),
        (mm.probe_video_features, "video/mp4", mp4),
        (lambda a: mm.resize_images(a, 2, 2), "image/png", png),
        (lambda a: mm.resample_audio(a, 4000), "audio/wav", wav),
        (lambda a: mm.plan_video_frames(a, 2), "video/mp4", mp4),
        (mm.audio_signal_features, "audio/wav", wav),
        (mm.image_dhash, "image/png", png),
        (mm.audio_fingerprint, "audio/wav", wav),
        (mm.image_patch_stats, "image/png", png),
    ]
    for decode, mime, payload in decoders:
        meta = {"mime": mime, "n_bytes": len(payload), "checksum": "x"}
        assets = spark.createDataFrame(
            [(1, payload, None), (2, None, meta), (3, payload, meta)],
            _ASSET_DDL,
        )
        rows = decode(assets).collect()
        assert rows and {r.doc_id for r in rows} == {3}, (mime, rows)
