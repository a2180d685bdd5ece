"""Corruption-robustness property: for EVERY from-scratch codec, a
valid stream that is truncated or bit-flipped at an arbitrary position
must either decode to well-formed rasters or raise a clean Python
exception — never hang, never return junk-typed output. This is the
fail-loud contract under adversarial bytes (a web-scale corpus WILL
contain every possible corruption), complementing the targeted
truncation tests in test_media_decode."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from openocr_spark.kernels.media_decode import decode_bytes, encode_png
from openocr_spark.kernels.pdf_format import encode_pdf
from openocr_spark.kernels.tiff_format import encode_tiff_pages
from openocr_spark.kernels.webp_format import encode_webp_gray


def _img() -> np.ndarray:
    rng = np.random.RandomState(5)
    x, y = np.meshgrid(np.arange(24), np.arange(16))
    base = (96 + 60 * np.sin(x / 3.0) + 40 * np.cos(y / 2.0))
    return (base + rng.randint(0, 8, (16, 24))).clip(0, 255).astype(np.uint8)


def _streams() -> dict[str, bytes]:
    import struct

    from jpeg_arith_ref_encoder import (
        encode_jpeg_arith,
        encode_jpeg_arith_lossless,
        encode_jpeg_arith_progressive,
    )
    from jpeg_hier_ref_encoder import encode_jpeg_hierarchical
    from jpeg_ref_encoder import (
        encode_jpeg,
        encode_jpeg_lossless,
        encode_jpeg_progressive,
    )
    from tiff_ref_encoder import write_tiff
    from webp_ref_encoder import encode_vp8l

    from test_bmp_pnm_ext import _bmp_headers, _pal_bytes
    from test_exr import write_exr
    from test_float_raster_formats import (
        _float2rgbe,
        _pad16,
        _ras_header,
        _rle_encode_ras,
        _write_hdr_flat,
        _write_pfm,
    )

    img = _img()
    h, w = img.shape
    out = {
        "png": encode_png(img),
        "pdf": encode_pdf([img]),
        "tiff": encode_tiff_pages(img, img > 128),
        "vp8l": encode_webp_gray(img),
        "jpeg": encode_jpeg(img, qtable=[2] * 64),
        "jpeg_lossless": encode_jpeg_lossless(img, predictor=4),
        "pnm": b"P5\n24 16\n255\n" + img.tobytes(),
        "exr": write_exr({"Y": img.astype(np.float32) / 255.0},
                         compression=3),
        "gif": __import__("test_media_decode")._make_gif(
            (img >> 4).astype(np.uint8),
            [(i * 17, i * 17, i * 17) for i in range(16)],
        ),
        "hdr": _write_hdr_flat(_float2rgbe(
            np.repeat(img[:, :, None], 3, axis=2).astype(np.float64) / 255.0
        )),
    }

    # --- r6 matrix closure (VERDICT r5 item 3): every decode_bytes
    # dispatch target joins the truncation+bitflip matrix — the BMP
    # RLE8/RLE4 escape machines, Sun Raster RLE, PFM, arithmetic and
    # hierarchical JPEG, TIFF LZW + G3-2D variants, animated WebP.
    idx = (img >> 4).astype(np.uint8)  # 4-bit indices for RLE streams
    pal256 = _pal_bytes([(i, i, i) for i in range(256)])
    rle8 = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up rows
        x = 0
        row = idx[y]
        while x < w:
            run = 1
            while x + run < w and row[x + run] == row[x] and run < 255:
                run += 1
            rle8 += bytes([run, int(row[x])])
            x += run
        rle8 += bytes([0, 0])  # EOL
    rle8 += bytes([0, 1])  # EOF
    out["bmp_rle8"] = (
        _bmp_headers(w, h, 8, 1, len(rle8), n_pal=256) + pal256 + bytes(rle8)
    )

    pal16 = _pal_bytes([(i * 17, 255 - i * 17, i) for i in range(16)])
    rle4 = bytearray()
    for y in range(h - 1, -1, -1):
        for x in range(0, w, 2):  # pixel pairs: count 2, two nibbles
            rle4 += bytes([2, (int(idx[y, x]) << 4) | int(idx[y, x + 1])])
        rle4 += bytes([0, 0])
    rle4 += bytes([0, 1])
    out["bmp_rle4"] = (
        _bmp_headers(w, h, 4, 2, len(rle4), n_pal=16) + pal16 + bytes(rle4)
    )

    rows565 = b""
    for y in range(h - 1, -1, -1):
        vals = (
            (img[y].astype(np.uint16) >> 3 << 11)
            | (img[y].astype(np.uint16) >> 2 << 5)
            | (img[y].astype(np.uint16) >> 3)
        )
        row = vals.astype("<u2").tobytes()
        rows565 += row + b"\x00" * ((-len(row)) % 4)
    out["bmp_bitfields"] = (
        _bmp_headers(w, h, 16, 3, len(rows565),
                     masks=(0xF800, 0x07E0, 0x001F)) + rows565
    )

    raw = b"".join(_pad16(img[y].tobytes()) for y in range(h))
    body = _rle_encode_ras(raw)
    out["ras_rle"] = _ras_header(w, h, 8, len(body), 2) + body

    out["pfm"] = _write_pfm(img.astype(np.float32) / 255.0)

    out["jpeg_arith"] = encode_jpeg_arith(img, qtable=[2] * 64)
    out["jpeg_hier"] = encode_jpeg_hierarchical(
        img, [{"kind": "lossless"}, {"kind": "lossless", "exp": (1, 1)}]
    )

    # the entropy-loop paths the decode benchmark leans on: VP8L
    # backrefs + color cache, VP8L color indexing, JPEG restart markers
    out["vp8l_lz77_cache"] = encode_vp8l(
        img, subtract_green=True, lz77=True, cache_bits=6
    )
    out["vp8l_palette"] = encode_vp8l((img >> 4) << 4, palette=True, lz77=True)
    color = np.dstack([img, img[::-1], np.roll(img, 5, axis=1)])
    out["jpeg_restart"] = encode_jpeg(color, subsample=True, restart_interval=2)
    # every JPEG scan walk: progressive Huffman (restart intervals, EOB
    # runs across blocks), progressive and lossless arithmetic
    out["jpeg_progressive"] = encode_jpeg_progressive(
        color, subsample=True, restart_interval=2
    )
    out["jpeg_arith_progressive"] = encode_jpeg_arith_progressive(
        color, subsample=True
    )
    out["jpeg_arith_lossless"] = encode_jpeg_arith_lossless(
        img, predictor=4, restart_interval=5
    )

    out["tiff_lzw"] = write_tiff(
        [{"pixels": img, "compression": 5, "predictor": 2}]
    )
    out["tiff_g3"] = write_tiff(
        [{"pixels": img > 128, "compression": 3, "t4_2d": True}]
    )

    def _anmf(frame: np.ndarray) -> bytes:
        payload = encode_vp8l(frame)
        i = payload.index(b"VP8L")
        (sz,) = struct.unpack("<I", payload[i + 4 : i + 8])
        chunk = payload[i : i + 8 + sz + (sz & 1)]
        head = (
            b"\x00\x00\x00" + b"\x00\x00\x00"
            + bytes([w - 1, 0, 0]) + bytes([h - 1, 0, 0])
            + b"\x00\x00\x00" + b"\x00"
        )
        b2 = head + chunk
        return (
            b"ANMF" + struct.pack("<I", len(b2)) + b2
            + (b"\x00" if len(b2) % 2 else b"")
        )

    rgb = np.repeat(img[:, :, None], 3, axis=2)
    vp8x = (
        b"VP8X" + struct.pack("<I", 10) + bytes([0x02, 0, 0, 0])
        + bytes([w - 1, 0, 0]) + bytes([h - 1, 0, 0])
    )
    anim = b"ANIM" + struct.pack("<I", 6) + b"\x00" * 6
    riff = b"WEBP" + vp8x + anim + _anmf(rgb) + _anmf(rgb[::-1])
    out["webp_anim"] = b"RIFF" + struct.pack("<I", len(riff)) + riff

    # r6 audio/video legs: AVI/MJPEG walks decode_bytes like any other
    # container; WAV's real parser gets its own contract test below
    # (decode_bytes only raises the clean audio-container pointer)
    from riff_ref_writer import avi_mjpeg_bytes, wav_bytes

    out["avi_mjpeg"] = avi_mjpeg_bytes([img, img[::-1]])
    out["wav"] = wav_bytes(
        np.stack([np.sin(np.arange(200) / 7.0)] * 2, axis=1), 8000
    )

    # literal dispatch-target closure: the remaining decode_bytes entry
    # branches not already in the matrix — ASCII P2, color P6, plain
    # (uncompressed palette) BMP, and the headerless-DIB synthesis path
    out["pnm_ascii"] = (
        b"P2\n24 16\n255\n"
        + "\n".join(" ".join(str(v) for v in row) for row in img).encode()
        + b"\n"
    )
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    out["ppm_color"] = b"P6\n24 16\n255\n" + rgb.tobytes()
    rows8 = b""
    for y in range(h - 1, -1, -1):
        row = img[y].tobytes()
        rows8 += row + b"\x00" * ((-len(row)) % 4)
    bmp_plain = (
        _bmp_headers(w, h, 8, 0, len(rows8), n_pal=256) + pal256 + rows8
    )
    out["bmp_plain"] = bmp_plain
    out["dib_headerless"] = bmp_plain[14:]  # strip the BM file header
    return out


STREAMS = _streams()
FMTS = sorted(STREAMS)


@pytest.mark.parametrize("fmt", FMTS)
@given(cut=st.floats(0.01, 0.999))
@settings(max_examples=60, deadline=2000)
def test_truncation_terminates_cleanly(fmt, cut):
    data = STREAMS[fmt]
    trunc = data[: max(1, int(len(data) * cut))]
    try:
        pages = decode_bytes(trunc)
    except Exception:
        return  # clean, loud failure is the contract
    assert isinstance(pages, list)
    for p in pages:
        assert isinstance(p, np.ndarray) and p.dtype == np.uint8
        assert p.ndim in (2, 3) and p.size > 0


@pytest.mark.parametrize("fmt", FMTS)
@given(off=st.floats(0.0, 0.999), bit=st.integers(0, 7))
@settings(max_examples=60, deadline=2000)
def test_bitflip_terminates_cleanly(fmt, off, bit):
    data = bytearray(STREAMS[fmt])
    data[int(len(data) * off)] ^= 1 << bit
    try:
        pages = decode_bytes(bytes(data))
    except Exception:
        return
    assert isinstance(pages, list)
    for p in pages:
        assert isinstance(p, np.ndarray) and p.dtype == np.uint8
        assert p.ndim in (2, 3) and p.size > 0


@given(cut=st.floats(0.01, 0.999), off=st.floats(0.0, 0.999), bit=st.integers(0, 7))
@settings(max_examples=60, deadline=2000)
def test_wav_parser_corruption_contract(cut, off, bit):
    """decode_wav under truncation + bitflip: clean exception or a
    well-formed (samples, rate) pair — decode_bytes only raises the
    audio-container pointer for WAVE, so the real parser needs its own
    matrix entry."""
    from openocr_spark.kernels.riff_media import decode_wav

    data = bytearray(STREAMS["wav"][: max(12, int(len(STREAMS["wav"]) * cut))])
    data[int(len(data) * off)] ^= 1 << bit
    try:
        samples, rate = decode_wav(bytes(data))
    except Exception:
        return
    assert isinstance(samples, np.ndarray) and samples.dtype == np.float32
    assert samples.ndim == 2 and rate >= 1


def test_ras_depth_bomb_rejected_fast():
    """Regression (soak-caught): one bitflip in the Sun Raster depth
    header word turned row_bytes*h into a multi-GB ljust allocation —
    a >20s stall per stream. Depth must be validated BEFORE any size
    arithmetic."""
    import time

    data = bytearray(STREAMS["ras_rle"])
    data[12] ^= 1 << 5  # depth MSB: 24 -> 0x20000018
    t0 = time.monotonic()
    with pytest.raises(Exception):
        decode_bytes(bytes(data))
    assert time.monotonic() - t0 < 2.0


@pytest.mark.parametrize("tail", [b"\xff\x00", b"\xff\xd0"], ids=["stuffed", "rst"])
def test_jpeg_scan_ending_in_two_byte_escape(tail):
    """Regression: when the last two bytes of a truncated scan are a
    stuffed FF 00 or an RSTn pair, the marker scan must run to the end
    of the data. It returned None, and the decoder then raised a
    TypeError, outside the decoder-error contract."""
    from openocr_spark.kernels.jpeg_format import _next_marker

    assert _next_marker(b"\x11\x22" + tail, 0) == 4
    data = STREAMS["jpeg"]
    cut = data.find(b"\xff\x00", data.index(b"\xff\xda"))
    assert cut > 0  # the scan holds a stuffed byte to cut at
    pages = decode_bytes(data[:cut] + tail)
    assert [p.shape for p in pages] == [_img().shape]
