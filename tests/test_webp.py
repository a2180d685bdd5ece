"""WebP-lossless (VP8L) decode validation: every decoder path is
round-tripped through the INDEPENDENT test-side encoder
(tests/webp_ref_encoder.py — own bit writer, own Huffman construction,
own forward transforms and LZ77 tokenizer; only the spec-fixed
code-length order and plane-code tables shared). VP8L is lossless, so
every comparison is exact.
"""

import numpy as np
import pytest

from openocr_spark.kernels.webp_format import decode_webp
from tests.webp_ref_encoder import encode_vp8l


def _rgb(h, w, seed=0, levels=256):
    rng = np.random.RandomState(seed)
    return (rng.randint(0, levels, (h, w, 3)) * (256 // levels)).astype(np.uint8)


def _check(img, **kw):
    out = decode_webp(encode_vp8l(img, **kw))
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=2)
    assert out.shape == img.shape
    assert np.array_equal(out, img), f"mismatch for {kw}"


# ----------------------------------------------------------- entropy layer


def test_literals_full_codes():
    _check(_rgb(13, 17, seed=1))


def test_literals_no_repeat_opcodes():
    _check(_rgb(9, 9, seed=2), use_repeats=False)


def test_max_symbol_early_stop():
    _check(_rgb(11, 12, seed=3), use_max_symbol=True)


def test_simple_codes_two_tone():
    img = np.zeros((10, 14, 3), dtype=np.uint8)
    img[::2] = [200, 30, 90]  # two distinct pixels → 1-2 symbol codes
    _check(img)


def test_single_color_image():
    img = np.full((6, 31, 3), 77, dtype=np.uint8)
    _check(img)


def test_color_cache():
    rng = np.random.RandomState(4)
    tiles = rng.randint(0, 256, (4, 3)).astype(np.uint8)
    img = tiles[rng.randint(0, 4, (16, 16))]
    _check(img, cache_bits=4)
    _check(img, cache_bits=1)


def test_lz77_runs_and_plane_codes():
    img = _rgb(12, 40, seed=5)
    img[:, 8:30] = [10, 200, 40]      # horizontal runs (dist 1)
    img[6:] = img[5]                  # vertical copies (dist = width)
    _check(img, lz77=True)
    _check(img, lz77=True, cache_bits=3)


def test_long_backref_big_distance():
    img = _rgb(9, 30, seed=6)
    img[5:9] = img[0:4]  # distance 5*width > plane neighborhood → code+120
    _check(img, lz77=True)


def test_meta_prefix_groups():
    img = _rgb(17, 23, seed=7)
    bits = 3
    mh, mw = (17 + 7) >> 3, (23 + 7) >> 3
    groups = (np.indices((mh, mw)).sum(axis=0) % 2).astype(np.int64)
    _check(img, meta={"bits": bits, "groups": groups})


# -------------------------------------------------------------- transforms


def test_subtract_green():
    _check(_rgb(10, 11, seed=8), subtract_green=True)


@pytest.mark.parametrize("mode", list(range(14)))
def test_predictor_modes_uniform(mode):
    img = _rgb(14, 19, seed=20 + mode, levels=32)
    bits = 4
    bh, bw = (14 + 15) >> 4, (19 + 15) >> 4
    modes = np.full((bh, bw), mode, dtype=np.int64)
    _check(img, predictor=(modes, bits))


def test_predictor_mixed_blocks():
    img = _rgb(20, 33, seed=40)
    bits = 3
    bh, bw = (20 + 7) >> 3, (33 + 7) >> 3
    rng = np.random.RandomState(41)
    modes = rng.randint(0, 14, (bh, bw)).astype(np.int64)
    _check(img, predictor=(modes, bits))


def test_predictor_after_subtract_green():
    img = _rgb(15, 16, seed=42)
    bits = 4
    modes = np.full((1, 1), 7, dtype=np.int64)
    _check(img, subtract_green=True, predictor=(modes, bits))


def test_color_transform():
    img = _rgb(13, 14, seed=43)
    _check(img, color=(0x23, 0xF1, 0x4C, 3))
    _check(img, color=(0x80, 0x7F, 0x01, 2))  # extreme signed deltas


@pytest.mark.parametrize("n_colors", [2, 4, 16, 180])
def test_palette_with_bundling(n_colors):
    rng = np.random.RandomState(50 + n_colors)
    pal = rng.randint(0, 256, (n_colors, 3)).astype(np.uint8)
    idx = rng.randint(0, n_colors, (11, 29))
    _check(pal[idx], palette=True)


def test_palette_width_not_multiple_of_bundle():
    rng = np.random.RandomState(60)
    pal = rng.randint(0, 256, (3, 3)).astype(np.uint8)
    idx = rng.randint(0, 3, (7, 13))  # 4px/byte bundling, 13 % 4 != 0
    _check(pal[idx], palette=True)


@pytest.mark.parametrize("n_colors,bad", [(3, 3), (20, 200)])
def test_palette_index_past_table_is_zero(n_colors, bad):
    """An index at or past the color table's size decodes to
    0x00000000 (RFC 9649 §4.4), for bundled (2-bit) and plain indices."""
    rng = np.random.RandomState(61)
    table = [0xFF000000 | int(c) for c in rng.randint(1, 1 << 24, n_colors)]
    idx = rng.randint(0, n_colors, (6, 11))
    idx[2, 3:7] = bad
    out = decode_webp(encode_vp8l(idx, color_table=table))
    argb = np.array(table + [0] * (256 - n_colors), dtype=np.uint32)[idx]
    want = np.stack([(argb >> s) & 0xFF for s in (16, 8, 0)], axis=2)
    assert np.array_equal(out, want.astype(np.uint8))
    assert not out[2, 3:7].any()


def test_oversubscribed_prefix_code_fails_loudly():
    """Code lengths whose canonical code overflows (three 1-bit codes)
    leave a symbol unreachable; libwebp rejects them, and so does the
    decoder instead of decoding junk."""
    from openocr_spark.kernels.webp_format import _Prefix

    with pytest.raises(NotImplementedError, match="oversubscribed"):
        _Prefix([1, 1, 1])


# --------------------------------------------------------------- container


def test_vp8x_container():
    _check(_rgb(8, 8, seed=70), vp8x=True)


def test_lossy_vp8_fails_loudly():
    import struct

    payload = b"\x00" * 10
    riff = b"WEBP" + b"VP8 " + struct.pack("<I", len(payload)) + payload
    data = b"RIFF" + struct.pack("<I", len(riff)) + riff
    with pytest.raises(NotImplementedError, match="lossy"):
        decode_webp(data)


def test_animated_webp_first_frame():
    """ANIM/ANMF containers decode to the FIRST frame's pixels — the
    same convention the GIF path (and cv2.imread) applies."""
    import struct

    f1 = _rgb(6, 9, seed=72)
    f2 = _rgb(6, 9, seed=73)

    def anmf(img):
        payload = encode_vp8l(img)
        # extract the raw VP8L chunk from the encoder's RIFF wrapper
        idx = payload.index(b"VP8L")
        (sz,) = struct.unpack("<I", payload[idx + 4 : idx + 8])
        chunk = payload[idx : idx + 8 + sz + (sz & 1)]
        # 16-byte ANMF header: x/3, y/3, (w-1)/3, (h-1)/3, duration/3, flags/1
        head = (b"\x00\x00\x00" + b"\x00\x00\x00"
                + bytes([8, 0, 0]) + bytes([5, 0, 0])
                + b"\x00\x00\x00" + b"\x00")
        body = head + chunk
        return b"ANMF" + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) % 2 else b"")

    vp8x = b"VP8X" + struct.pack("<I", 10) + bytes([0x02, 0, 0, 0]) + bytes(
        [8, 0, 0]) + bytes([5, 0, 0])
    anim = b"ANIM" + struct.pack("<I", 6) + b"\x00" * 6
    riff = b"WEBP" + vp8x + anim + anmf(f1) + anmf(f2)
    data = b"RIFF" + struct.pack("<I", len(riff)) + riff
    out = decode_webp(data)
    assert np.array_equal(out, f1)


def test_package_sink_roundtrip():
    """The minimal package WRITE sink (encode_webp_gray — the
    decode_roundtrip driver query's WebP leg) round-trips bit-exact."""
    from openocr_spark.kernels.webp_format import encode_webp_gray

    rng = np.random.RandomState(90)
    for shape in [(7, 11), (1, 1), (5, 64)]:
        g = rng.randint(0, 256, shape).astype(np.uint8)
        out = decode_webp(encode_webp_gray(g))
        assert out.shape == shape + (3,)
        for c in range(3):
            assert np.array_equal(out[:, :, c], g)


def test_gray_input_roundtrip():
    rng = np.random.RandomState(71)
    _check(rng.randint(0, 256, (9, 21)).astype(np.uint8))


# ------------------------------------------------------------- Spark path


def test_webp_through_spark_decode(spark):
    from openocr_spark.kernels.media_decode import _luma, decode_bytes, decode_media

    img = _rgb(12, 18, seed=80)
    data = encode_vp8l(img, lz77=True, cache_bits=2, subtract_green=True)
    pages = decode_bytes(data)
    assert len(pages) == 1
    expect = _luma(img[:, :, 0].astype(np.uint32), img[:, :, 1], img[:, :, 2])
    assert np.array_equal(pages[0], expect)

    df = spark.createDataFrame(
        [("d1", "m1", bytearray(data))],
        "doc_id string, media_ref string, content binary",
    )
    got = decode_media(df).collect()
    assert (got[0].height, got[0].width) == (12, 18)
    assert np.array_equal(
        np.frombuffer(got[0].pixels, np.uint8).reshape(12, 18), expect
    )


def test_package_sink_dimension_limit_fails_loudly():
    # the VP8L header's 14-bit dimension fields top out at 16384; a
    # wider image must raise, not silently corrupt the bitstream
    import pytest

    from openocr_spark.kernels.webp_format import encode_webp_gray

    with pytest.raises(NotImplementedError, match="16384"):
        encode_webp_gray(np.zeros((1, 16385), dtype=np.uint8))
