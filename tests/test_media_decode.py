"""Multimodal plumbing tests: fake-codec roundtrip, 1→N page explosion,
feature extraction batch shapes, and the NotImplementedError stub gate."""

import struct

import numpy as np
import pytest

from openocr_spark.kernels.media_decode import (
    decode_bytes,
    decode_media,
    encode_fake,
    extract_features,
)


def _pages(seed, n):
    rng = np.random.RandomState(seed)
    return [rng.randint(0, 255, size=(8, 12)).astype(np.uint8) for _ in range(n)]


def test_fake_codec_roundtrip():
    pages = _pages(1, 3)
    out = decode_bytes(encode_fake(pages))
    assert len(out) == 3
    for a, b in zip(pages, out):
        assert np.array_equal(a, b)


def test_unknown_magic_rejected():
    with pytest.raises(NotImplementedError):
        decode_bytes(b"\x00\x01\x02\x03 not a known format")


def test_decode_media_explodes_pages(spark):
    rows = [
        ("d1", "m1", bytearray(encode_fake(_pages(1, 2)))),
        ("d2", "m2", bytearray(encode_fake(_pages(2, 1)))),
    ]
    df = spark.createDataFrame(rows, "doc_id string, media_ref string, content binary")
    out = decode_media(df)
    got = [(r["media_ref"], r["page_no"], r["height"], r["width"]) for r in out.collect()]
    assert sorted(got) == [("m1", 0, 8, 12), ("m1", 1, 8, 12), ("m2", 0, 8, 12)]


def test_extract_features(spark):
    pages = _pages(7, 1)
    df = spark.createDataFrame(
        [("d1", "m1", bytearray(encode_fake(pages)))],
        "doc_id string, media_ref string, content binary",
    )
    feats = extract_features(decode_media(df)).collect()[0]
    assert feats["mean_px"] == pytest.approx(float(pages[0].mean()), abs=1e-9)
    assert feats["std_px"] == pytest.approx(float(pages[0].std()), abs=1e-9)
    assert 0.9 <= feats["nonzero_frac"] <= 1.0


# --- real formats (VERDICT r2 item 6): hand-built bytes, no image libs ------


def _make_pgm_p5(px):
    h, w = px.shape
    return f"P5\n# comment\n{w} {h}\n255\n".encode() + px.astype(np.uint8).tobytes()


def _make_pgm_p2(px):
    h, w = px.shape
    body = "\n".join(" ".join(str(v) for v in row) for row in px.tolist())
    return f"P2\n{w} {h}\n255\n{body}\n".encode()


def _make_ppm_p6(rgb):
    h, w, _ = rgb.shape
    return f"P6\n{w} {h}\n255\n".encode() + rgb.astype(np.uint8).tobytes()


def _make_bmp24(rgb, top_down=False):
    """Hand-assembled uncompressed 24-bit BMP (BGR, 4-byte row pad)."""
    import struct

    h, w, _ = rgb.shape
    row_bytes = (w * 3 + 3) & ~3
    img = b""
    ys = range(h) if top_down else range(h - 1, -1, -1)
    for y in ys:
        row = b"".join(
            bytes([rgb[y, x, 2], rgb[y, x, 1], rgb[y, x, 0]]) for x in range(w)
        )
        img += row + b"\x00" * (row_bytes - len(row))
    off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", off + len(img), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
        len(img), 2835, 2835, 0, 0,
    )
    return header + info + img


def _make_bmp8(idx, palette):
    """8-bit palette BMP: palette entries are (B,G,R,0)."""
    import struct

    h, w = idx.shape
    row_bytes = (w + 3) & ~3
    img = b""
    for y in range(h - 1, -1, -1):
        row = bytes(idx[y].tolist())
        img += row + b"\x00" * (row_bytes - len(row))
    pal = b"".join(bytes([b, g, r, 0]) for r, g, b in palette)
    off = 14 + 40 + len(pal)
    header = b"BM" + struct.pack("<IHHI", off + len(img), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(img), 2835, 2835, len(palette), 0,
    )
    return header + info + pal + img


def _luma_ref(rgb):
    r = rgb[..., 0].astype(np.uint32)
    g = rgb[..., 1].astype(np.uint32)
    b = rgb[..., 2].astype(np.uint32)
    return ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)


def test_pgm_p5_decodes_exact():
    px = np.arange(48, dtype=np.uint8).reshape(6, 8)
    (out,) = decode_bytes(_make_pgm_p5(px))
    assert np.array_equal(out, px)


def test_pgm_p2_ascii_decodes_exact():
    px = (np.arange(30, dtype=np.uint8) * 7 % 256).astype(np.uint8).reshape(5, 6)
    (out,) = decode_bytes(_make_pgm_p2(px))
    assert np.array_equal(out, px)


def test_ppm_p6_luma():
    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 255, size=(4, 5, 3)).astype(np.uint8)
    (out,) = decode_bytes(_make_ppm_p6(rgb))
    assert np.array_equal(out, _luma_ref(rgb))


def test_bmp24_bottom_up_and_top_down():
    rng = np.random.RandomState(5)
    rgb = rng.randint(0, 255, size=(5, 7, 3)).astype(np.uint8)
    (up,) = decode_bytes(_make_bmp24(rgb, top_down=False))
    (down,) = decode_bytes(_make_bmp24(rgb, top_down=True))
    want = _luma_ref(rgb)
    assert np.array_equal(up, want)
    assert np.array_equal(down, want)


def test_bmp8_palette():
    palette = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (255, 255, 255)]
    idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
    (out,) = decode_bytes(_make_bmp8(idx, palette))
    want = np.array(
        [[_luma_ref(np.array([[p]], dtype=np.uint8))[0, 0] for p in
          [palette[i] for i in row]] for row in idx.tolist()]
    )
    assert np.array_equal(out, want)


def test_real_format_through_spark_extract(spark):
    """A real-format (PGM/BMP) payload flows through the distributed
    decode + feature extraction end-to-end."""
    px = np.full((6, 8), 100, dtype=np.uint8)
    px[0, 0] = 0
    rng = np.random.RandomState(9)
    rgb = rng.randint(1, 255, size=(4, 4, 3)).astype(np.uint8)
    rows = [
        ("d1", "m1.pgm", bytearray(_make_pgm_p5(px))),
        ("d2", "m2.bmp", bytearray(_make_bmp24(rgb))),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, media_ref string, content binary"
    )
    feats = {r.media_ref: r for r in extract_features(decode_media(df)).collect()}
    assert set(feats) == {"m1.pgm", "m2.bmp"}
    f1 = feats["m1.pgm"]
    assert f1.page_no == 0
    assert abs(f1.mean_px - (100 * 47 / 48)) < 1e-9
    assert abs(f1.nonzero_frac - 47 / 48) < 1e-12
    f2 = feats["m2.bmp"]
    assert abs(f2.mean_px - float(_luma_ref(rgb).mean())) < 1e-9


# --- PNG / GIF / PDF (VERDICT r3 items 4+5): test-side encoders are
# written independently of the package decoders (filter math, LZW
# compressor, PDF syntax all re-derived from the specs here) ----------


def _png_chunk(ctype, body):
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _filter_raster(flat, channels, row_filters):
    """Forward-filter one (h, w*channels) sub-image per the spec
    (independent of the package's unfilter); returns the raster bytes
    with the leading filter-type byte per scanline."""
    bpp = channels
    h = flat.shape[0]
    raster = bytearray()
    for y in range(h):
        f = row_filters[y % len(row_filters)]
        cur = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros_like(cur)
        out = np.zeros_like(cur)
        for x in range(flat.shape[1]):
            left = int(cur[x - bpp]) if x >= bpp else 0
            up = int(prev[x])
            ul = int(prev[x - bpp]) if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(left, up, ul)
            out[x] = (int(cur[x]) - pred) & 0xFF
        raster.append(f)
        raster += bytes(out.astype(np.uint8).tolist())
    return raster


_ADAM7_PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _make_png(arr, ctype, row_filters, palette=None, interlace=False):
    """Test-side PNG encoder: applies the chosen filter type per row
    (forward direction, re-derived from the spec independently of the
    package's unfilter). interlace=True emits Adam7: each of the 7
    passes is filtered as its own sub-image and concatenated."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    h, w = arr.shape[:2]
    a3 = arr.reshape(h, w, channels).astype(np.int32)
    raster = bytearray()
    if not interlace:
        raster += _filter_raster(a3.reshape(h, w * channels), channels, row_filters)
    else:
        for x0, y0, dx, dy in _ADAM7_PASSES:
            sub = a3[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue
            raster += _filter_raster(
                sub.reshape(ph, pw * channels), channels, row_filters
            )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1 if interlace else 0)
    png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        png += _png_chunk(b"PLTE", bytes(v for rgb in palette for v in rgb))
    png += _png_chunk(b"IDAT", zlib.compress(bytes(raster)))
    return png + _png_chunk(b"IEND", b"")


def test_png_gray_all_five_filters():
    rng = np.random.RandomState(11)
    px = rng.randint(0, 255, size=(10, 13)).astype(np.uint8)
    (out,) = decode_bytes(_make_png(px, 0, [0, 1, 2, 3, 4]))
    assert np.array_equal(out, px)


def test_png_rgb_and_rgba_luma():
    rng = np.random.RandomState(12)
    rgb = rng.randint(0, 255, size=(6, 7, 3)).astype(np.uint8)
    (out,) = decode_bytes(_make_png(rgb, 2, [4, 3, 2, 1, 0]))
    assert np.array_equal(out, _luma_ref(rgb))
    rgba = np.dstack([rgb, rng.randint(0, 255, size=(6, 7)).astype(np.uint8)])
    (out4,) = decode_bytes(_make_png(rgba, 6, [1, 4]))
    assert np.array_equal(out4, _luma_ref(rgb))


def test_png_palette():
    palette = [(0, 0, 0), (250, 10, 30), (10, 200, 50), (255, 255, 255)]
    rng = np.random.RandomState(13)
    idx = rng.randint(0, 4, size=(9, 5)).astype(np.uint8)
    (out,) = decode_bytes(_make_png(idx, 3, [0, 1, 2], palette=palette))
    rgb = np.array(palette, dtype=np.uint8)[idx]
    assert np.array_equal(out, _luma_ref(rgb))


def test_png_multiple_idat_chunks():
    """Decoders must concatenate IDAT chunks before inflating."""
    import zlib

    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    raster = b"".join(bytes([0]) + px[y].tobytes() for y in range(8))
    z = zlib.compress(raster)
    import struct

    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", z[: len(z) // 2])
        + _png_chunk(b"IDAT", z[len(z) // 2 :])
        + _png_chunk(b"IEND", b"")
    )
    (out,) = decode_bytes(png)
    assert np.array_equal(out, px)


def test_png_adam7_gray_all_filters():
    """Adam7: 7 independently-filtered sub-images; mixed filter types
    exercise the per-pass unfilter state isolation."""
    rng = np.random.RandomState(23)
    px = rng.randint(0, 255, size=(21, 17)).astype(np.uint8)
    (out,) = decode_bytes(_make_png(px, 0, [0, 1, 2, 3, 4], interlace=True))
    assert np.array_equal(out, px)


def test_png_adam7_rgb_and_odd_dims():
    rng = np.random.RandomState(29)
    rgb = rng.randint(0, 255, size=(13, 9, 3)).astype(np.uint8)
    (out,) = decode_bytes(_make_png(rgb, 2, [4, 3, 2, 1, 0], interlace=True))
    assert np.array_equal(out, _luma_ref(rgb))
    # tiny images: most passes are EMPTY (contribute zero bytes)
    for h, w in ((1, 1), (3, 3), (2, 9), (9, 2)):
        px = rng.randint(0, 255, size=(h, w)).astype(np.uint8)
        (got,) = decode_bytes(_make_png(px, 0, [1, 4], interlace=True))
        assert np.array_equal(got, px), (h, w)


def test_png_adam7_truncated_fails_loud():
    import struct
    import zlib

    # well-formed header but raster bytes for only part of the passes
    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 0, 0, 0, 1)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 20))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="interlaced raster"):
        decode_bytes(png)


def _lzw_encode(min_code_size, data):
    """Test-side GIF LZW compressor (re-derived from the spec): emits
    CLEAR, grows code width in decoder-lagged sync, stops adding at
    4096."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    table = {bytes([i]): i for i in range(1 << min_code_size)}
    next_code, width = eoi + 1, min_code_size + 1
    buf = bytearray()
    acc = nacc = 0

    def emit(code):
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    emit(clear)
    wseq = b""
    for b in bytes(data):
        nxt = wseq + bytes([b])
        if nxt in table:
            wseq = nxt
            continue
        emit(table[wseq])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            # the decoder's table lags the encoder's by one entry, so it
            # widens one step later: widen when OUR count passes 2^w + 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        wseq = bytes([b])
    emit(table[wseq])
    emit(eoi)
    if nacc:
        buf.append(acc & 0xFF)
    return bytes(buf)


def _make_gif(idx, palette, interlace=False, version=b"GIF89a",
              offset=(0, 0), screen_wh=None, bg=0):
    import struct

    h, w = idx.shape
    n = len(palette)
    depth = max(2, (n - 1).bit_length())
    pal = list(palette) + [(0, 0, 0)] * ((1 << depth) - n)
    gct = b"".join(bytes(p) for p in pal)
    sw, sh = screen_wh if screen_wh else (w, h)
    screen = struct.pack("<HHBBB", sw, sh, 0x80 | (depth - 1), bg, 0)
    rows = idx
    iflags = 0
    if interlace:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        rows = idx[np.array(order)]
        iflags |= 0x40
    mcs = max(2, depth)
    lzw = _lzw_encode(mcs, rows.tobytes())
    blocks = b""
    for i in range(0, len(lzw), 200):
        chunk = lzw[i : i + 200]
        blocks += bytes([len(chunk)]) + chunk
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control ext
    desc = b"\x2c" + struct.pack("<HHHHB", offset[0], offset[1], w, h,
                                 iflags)
    return (
        version + screen + gct + gce + desc + bytes([mcs]) + blocks + b"\x00\x3b"
    )


def test_gif_first_frame_exact():
    palette = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (30, 60, 200)]
    rng = np.random.RandomState(21)
    idx = rng.randint(0, 4, size=(30, 40)).astype(np.uint8)
    (out,) = decode_bytes(_make_gif(idx, palette))
    rgb = np.array(palette, dtype=np.uint8)[idx]
    assert np.array_equal(out, _luma_ref(rgb))


def test_gif_interlaced_and_gif87a():
    palette = [(10, 10, 10), (200, 150, 90), (0, 255, 255), (90, 0, 180)]
    rng = np.random.RandomState(22)
    idx = rng.randint(0, 4, size=(17, 9)).astype(np.uint8)
    want = _luma_ref(np.array(palette, dtype=np.uint8)[idx])
    (out,) = decode_bytes(_make_gif(idx, palette, interlace=True))
    assert np.array_equal(out, want)
    (out87,) = decode_bytes(_make_gif(idx, palette, version=b"GIF87a"))
    assert np.array_equal(out87, want)


def test_gif_lzw_width_growth():
    """A 256-color random image forces 9→10-bit LZW codes."""
    palette = [(i, 255 - i, (i * 7) % 256) for i in range(256)]
    rng = np.random.RandomState(23)
    idx = rng.randint(0, 256, size=(24, 32)).astype(np.uint8)
    (out,) = decode_bytes(_make_gif(idx, palette))
    assert np.array_equal(out, _luma_ref(np.array(palette, dtype=np.uint8)[idx]))


def test_gif_subscreen_frame_composited_on_canvas():
    """A frame smaller than the logical screen with a (left, top)
    offset — optimizer output — must land on the full-screen canvas
    over the background color, not be returned as the bare
    sub-rectangle (dims and region coordinates would shift)."""
    palette = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (200, 200, 200)]
    idx = np.array([[1, 2, 1, 2], [2, 1, 2, 1], [1, 1, 2, 2]],
                   dtype=np.uint8)
    data = _make_gif(idx, palette, offset=(2, 1), screen_wh=(10, 6), bg=3)
    (out,) = decode_bytes(data)
    assert out.shape == (6, 10)
    pal = np.array(palette, dtype=np.uint8)
    expect = np.full((6, 10), _luma_ref(pal[3][None, None, :])[0, 0],
                     dtype=np.uint8)
    expect[1:4, 2:6] = _luma_ref(pal[idx])
    assert np.array_equal(out, expect)


def test_pdf_writer_reader_multipage():
    """encode_pdf → decode_bytes: per-page pixel-exact round trip and
    the 1→N page explosion contract."""
    from openocr_spark.kernels.pdf_format import encode_pdf

    rng = np.random.RandomState(31)
    pages = [
        rng.randint(0, 255, size=(12, 16)).astype(np.uint8) for _ in range(3)
    ]
    out = decode_bytes(encode_pdf(pages))
    assert len(out) == 3
    for a, b in zip(pages, out):
        assert np.array_equal(a, b)


def test_pdf_handwritten_canonical():
    """A hand-written PDF (uncompressed DeviceGray image, indirect
    /Length, comment, incremental-update-style duplicate object) —
    validates the parser against PDF *syntax*, not the sibling
    encode_pdf writer."""
    px = bytes([10, 20, 30, 40, 50, 60, 70, 80])  # 4x2
    pdf = (
        b"%PDF-1.4\n% binary comment \xc3\xa9\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R] >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 4 2]\n"
        b"  /Resources << /XObject << /Im0 4 0 R >> >> /Contents 6 0 R >>\n"
        b"endobj\n"
        b"4 0 obj << /Type /XObject /Subtype /Image /Width 4 /Height 2\n"
        b"  /ColorSpace /DeviceGray /BitsPerComponent 8 /Length 5 0 R >>\n"
        b"stream\n" + px + b"\nendstream endobj\n"
        b"5 0 obj 8 endobj\n"
        b"6 0 obj << /Length 22 >>\nstream\nq 4 0 0 2 0 0 cm /Im0 Do Q\nendstream endobj\n"
        b"trailer << /Size 7 /Root 1 0 R >>\n%%EOF\n"
    )
    (out,) = decode_bytes(pdf)
    assert out.shape == (2, 4)
    assert np.array_equal(out, np.frombuffer(px, dtype=np.uint8).reshape(2, 4))


def test_pdf_inherited_resources_and_undecodable_sibling():
    """Two spec shapes real writers emit: (a) /Resources lives on the
    parent /Pages node and is INHERITED by pages that omit it (PDF
    32000 7.7.3.4); (b) a page carrying an undecodable sibling XObject
    (here a 1-bit stencil mask) still contributes its largest
    DECODABLE image instead of failing the whole file."""
    px = bytes(range(8, 8 + 8))  # 4x2
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R]\n"
        b"  /Resources << /XObject << /Im0 4 0 R /Mask0 5 0 R >> >> >>\n"
        b"endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 4 2]\n"
        b"  /Contents 6 0 R >> endobj\n"
        b"4 0 obj << /Type /XObject /Subtype /Image /Width 4 /Height 2\n"
        b"  /ColorSpace /DeviceGray /BitsPerComponent 8 /Length 8 >>\n"
        b"stream\n" + px + b"\nendstream endobj\n"
        b"5 0 obj << /Type /XObject /Subtype /Image /Width 4 /Height 2\n"
        b"  /ImageMask true /BitsPerComponent 1 /Length 2 >>\n"
        b"stream\n\xf0\xf0\nendstream endobj\n"
        b"6 0 obj << /Length 22 >>\nstream\nq 4 0 0 2 0 0 cm /Im0 Do Q\n"
        b"endstream endobj\n"
        b"trailer << /Size 7 /Root 1 0 R >>\n%%EOF\n"
    )
    (out,) = decode_bytes(pdf)
    assert out.shape == (2, 4)
    assert np.array_equal(out, np.frombuffer(px, dtype=np.uint8).reshape(2, 4))


def test_pdf_cyclic_reference_fails_loudly():
    """A damaged PDF whose indirect references chain in a cycle must
    raise, not hang the executor task."""
    from openocr_spark.kernels.pdf_format import Ref, _resolve

    objects = {1: Ref(2), 2: Ref(1)}
    with pytest.raises(NotImplementedError, match="cyclic"):
        _resolve(objects, Ref(1))


def test_pdf_flate_png_predictor():
    """FlateDecode + /Predictor 15 (PNG filters) image stream."""
    import zlib

    rng = np.random.RandomState(33)
    px = rng.randint(0, 255, size=(6, 9)).astype(np.uint8)
    # PNG-filter the raster with Up (type 2) rows, independently
    raster = bytearray()
    prev = np.zeros(9, dtype=np.uint8)
    for y in range(6):
        raster.append(2)
        raster += bytes(((px[y].astype(np.int32) - prev) & 0xFF).astype(np.uint8))
        prev = px[y]
    z = zlib.compress(bytes(raster))
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R] >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R "
        b"/Resources << /XObject << /ImA 4 0 R >> >> >> endobj\n"
        b"4 0 obj << /Subtype /Image /Width 9 /Height 6 /ColorSpace /DeviceGray"
        b" /BitsPerComponent 8 /Filter /FlateDecode"
        b" /DecodeParms << /Predictor 15 /Columns 9 >> /Length "
        + str(len(z)).encode()
        + b" >>\nstream\n" + z + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )
    (out,) = decode_bytes(pdf)
    assert np.array_equal(out, px)


def test_pdf_dct_pages():
    """Mixed Flate + /DCTDecode pages: the embedded-JPEG stream routes
    through the from-scratch baseline decoder (gray and color)."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.pdf_format import encode_pdf

    flate = np.full((6, 9), 77, dtype=np.uint8)
    x, y = np.meshgrid(np.arange(24), np.arange(16))
    gray = (128 + 70 * np.sin(x / 5.0) + 40 * np.cos(y / 4.0)).clip(0, 255).astype(np.uint8)
    rgb = np.dstack([
        (128 + 80 * np.sin(x / 7.0)).clip(0, 255),
        (128 + 80 * np.cos(y / 6.0)).clip(0, 255),
        (128 + 60 * np.sin((x + y) / 9.0)).clip(0, 255),
    ]).astype(np.uint8)
    pdf = encode_pdf([flate, encode_jpeg(gray, qtable=[1] * 64), encode_jpeg(rgb, qtable=[1] * 64)])
    p0, p1, p2 = decode_bytes(pdf)
    assert np.array_equal(p0, flate)
    assert p1.shape == gray.shape
    assert int(np.abs(p1.astype(int) - gray.astype(int)).max()) <= 1
    # color JPEG page lands as BT.601 luma like every other codec
    from openocr_spark.kernels.media_decode import _luma

    want = _luma(rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2])
    assert p2.shape == want.shape
    assert int(np.abs(p2.astype(int) - want.astype(int)).max()) <= 3


def test_pdf_dct_dim_mismatch_fails_loud():
    """A /DCTDecode XObject whose /Width//Height disagree with the JPEG
    SOF0 header is corrupt input, not a silent resize."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.pdf_format import encode_pdf

    jb = encode_jpeg(np.full((8, 8), 50, dtype=np.uint8), qtable=[1] * 64)
    pdf = encode_pdf([jb]).replace(b"/Width 8", b"/Width 9")
    with pytest.raises(NotImplementedError, match="DCTDecode dims"):
        decode_bytes(pdf)


def test_pdf_dct_truncated_fails_loud():
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R] >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R "
        b"/Resources << /XObject << /ImA 4 0 R >> >> >> endobj\n"
        b"4 0 obj << /Subtype /Image /Width 2 /Height 2 /ColorSpace /DeviceGray"
        b" /BitsPerComponent 8 /Filter /DCTDecode /Length 4 >>\n"
        b"stream\n\xff\xd8\xff\xd9\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )
    with pytest.raises(NotImplementedError):
        decode_bytes(pdf)


def test_png_gif_pdf_through_spark_extract(spark):
    """Entropy-coded formats flow through the distributed decode +
    feature extraction — including the PDF 1→N page explosion."""
    from openocr_spark.kernels.pdf_format import encode_pdf

    rng = np.random.RandomState(41)
    png_px = rng.randint(0, 255, size=(8, 10)).astype(np.uint8)
    palette = [(0, 0, 0), (255, 128, 0), (0, 200, 100), (255, 255, 255)]
    gif_idx = rng.randint(0, 4, size=(6, 6)).astype(np.uint8)
    from jpeg_ref_encoder import encode_jpeg

    pdf_pages = [np.full((5, 5), 60 + 10 * i, dtype=np.uint8) for i in range(2)]
    # third page: embedded baseline JPEG behind /DCTDecode
    pdf_pages.append(encode_jpeg(np.full((8, 8), 90, dtype=np.uint8), qtable=[1] * 64))
    rows = [
        ("d1", "a.png", bytearray(_make_png(png_px, 0, [0, 1, 2, 3, 4]))),
        ("d2", "b.gif", bytearray(_make_gif(gif_idx, palette))),
        ("d3", "c.pdf", bytearray(encode_pdf(pdf_pages))),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, media_ref string, content binary"
    )
    feats = {
        (r.media_ref, r.page_no): r
        for r in extract_features(decode_media(df)).collect()
    }
    assert set(feats) == {
        ("a.png", 0), ("b.gif", 0), ("c.pdf", 0), ("c.pdf", 1), ("c.pdf", 2)
    }
    assert feats[("a.png", 0)].mean_px == pytest.approx(float(png_px.mean()))
    assert feats[("c.pdf", 0)].mean_px == pytest.approx(60.0)
    assert feats[("c.pdf", 1)].mean_px == pytest.approx(70.0)
    assert feats[("c.pdf", 2)].mean_px == pytest.approx(90.0, abs=1.0)


# --- baseline JPEG (from-scratch Huffman+IDCT decoder; the test-side
# encoder in jpeg_ref_encoder.py is an independent T.81 implementation
# with its own bit writer / code assignment / forward DCT) -----------


def _smooth(h, w, color=False):
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    if not color:
        return (128 + 70 * np.sin(x / 5.0) + 40 * np.cos(y / 4.0)).clip(0, 255).astype(np.uint8)
    return np.dstack([
        (128 + 80 * np.sin(x / 7.0)).clip(0, 255),
        (128 + 80 * np.cos(y / 6.0)).clip(0, 255),
        (128 + 60 * np.sin((x + y) / 9.0)).clip(0, 255),
    ]).astype(np.uint8)


def test_jpeg_gray_near_lossless_roundtrip():
    """All-ones quant table: the only loss is IDCT rounding (≤1/px) —
    pins the Huffman layer, DC prediction, zigzag, and IDCT exactly."""
    from jpeg_ref_encoder import encode_jpeg

    img = _smooth(16, 24)
    (out,) = decode_bytes(encode_jpeg(img, qtable=[1] * 64))
    assert out.shape == img.shape
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 1


def test_jpeg_default_quant_quality():
    from jpeg_ref_encoder import encode_jpeg

    img = _smooth(24, 40)
    (out,) = decode_bytes(encode_jpeg(img))
    rmse = float(np.sqrt(((out.astype(float) - img) ** 2).mean()))
    assert rmse < 4.0, rmse


def test_jpeg_color_444_and_420():
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rgb = _smooth(24, 40, color=True)
    out = decode_jpeg(encode_jpeg(rgb, qtable=[1] * 64))
    assert out.shape == rgb.shape
    assert int(np.abs(out.astype(int) - rgb.astype(int)).max()) <= 2
    out420 = decode_jpeg(encode_jpeg(rgb, qtable=[1] * 64, subsample=True))
    rmse = float(np.sqrt(((out420.astype(float) - rgb) ** 2).mean()))
    assert rmse < 5.0, rmse  # chroma subsample loss only
    # decode_bytes converts color JPEG to luma like every other codec
    (gray,) = decode_bytes(encode_jpeg(rgb, qtable=[1] * 64))
    assert gray.shape == rgb.shape[:2]


def test_jpeg_restart_markers_and_odd_dims():
    from jpeg_ref_encoder import encode_jpeg

    img = _smooth(17, 33)
    (out,) = decode_bytes(encode_jpeg(img, qtable=[1] * 64, restart_interval=2))
    assert out.shape == (17, 33)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 1


def test_jpeg_oversubscribed_huffman_table_fails_loudly():
    """A DHT with more codes than its lengths can hold (three 1-bit
    codes) leaves a symbol unreachable; libjpeg rejects it
    (JERR_BAD_HUFF_TABLE), and so does the decoder."""
    from openocr_spark.kernels.jpeg_format import _HuffTable

    with pytest.raises(NotImplementedError, match="oversubscribed"):
        _HuffTable([3] + [0] * 15, b"\x01\x02\x03")


def test_jpeg_differential_requires_hierarchy():
    """A differential SOF (SOF5/SOF7) with no preceding DHP segment is
    malformed per Annex J and fails loud rather than mis-decoding."""
    from jpeg_ref_encoder import encode_jpeg

    jb = bytearray(encode_jpeg(_smooth(8, 8), qtable=[1] * 64))
    idx = jb.find(b"\xff\xc0")
    for sof in (0xC5, 0xC7):
        jb[idx + 1] = sof
        with pytest.raises(NotImplementedError, match="hierarchical"):
            decode_bytes(bytes(jb))


def test_jpeg_lossless_roundtrip():
    """SOF3 lossless: BIT-EXACT round trip for every predictor (1-7),
    gray and RGB, odd dims, and a nonzero point transform."""
    from jpeg_ref_encoder import encode_jpeg_lossless
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rng = np.random.RandomState(3)
    gray = rng.randint(0, 256, size=(13, 21)).astype(np.uint8)
    for pred in range(1, 8):
        out = decode_jpeg(encode_jpeg_lossless(gray, predictor=pred))
        assert np.array_equal(out, gray), pred
    rgb = rng.randint(0, 256, size=(9, 14, 3)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg_lossless(rgb, predictor=4))
    assert np.array_equal(out, rgb)
    # point transform drops Pt low bits (lossy by design, exact on the
    # transformed samples): decode == (px >> 2) << 2
    out = decode_jpeg(encode_jpeg_lossless(gray, predictor=1, pt=2))
    assert np.array_equal(out, (gray >> 2) << 2)
    # smooth content exercises small-category runs through Spark decode
    (page,) = decode_bytes(encode_jpeg_lossless(_smooth(16, 24)))
    assert np.array_equal(page, _smooth(16, 24))


def test_jpeg_lossless_multi_scan_roundtrip():
    """A 3-component SOF3 frame coded as THREE single-component scans
    (non-interleaved, T.81 A.2.2 — legal and produced by real
    encoders). The decoder must accumulate planes across scans and
    return the full color image, not just the first scan's component."""
    from jpeg_ref_encoder import encode_jpeg_lossless
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rng = np.random.RandomState(17)
    rgb = rng.randint(0, 256, size=(11, 7, 3)).astype(np.uint8)
    data = encode_jpeg_lossless(rgb, predictor=5, multi_scan=True)
    # layout check: the stream really carries three SOS segments
    assert data.count(b"\xff\xda") == 3
    out = decode_jpeg(data)
    assert out.ndim == 3 and np.array_equal(out, rgb)
    # interleaved and non-interleaved code the same samples
    assert np.array_equal(
        out, decode_jpeg(encode_jpeg_lossless(rgb, predictor=5))
    )
    # with restart intervals (per-scan restart state)
    data = encode_jpeg_lossless(rgb, predictor=2, restart_interval=5,
                                multi_scan=True)
    assert np.array_equal(decode_jpeg(data), rgb)

    # a frame whose remaining component scans are missing must fail
    # loudly at EOI, not return a partial image
    data = encode_jpeg_lossless(rgb, predictor=5, multi_scan=True)
    second_sos = data.index(b"\xff\xda", data.index(b"\xff\xda") + 2)
    with pytest.raises(NotImplementedError, match="undecoded"):
        decode_jpeg(data[:second_sos] + b"\xff\xd9")


def test_jpeg_lossless_restart_intervals():
    """SOF3 with DRI: prediction resets to the default at each RSTn
    (T.81 H.1.1) and the round trip stays bit-exact."""
    from jpeg_ref_encoder import encode_jpeg_lossless
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rng = np.random.RandomState(7)
    gray = rng.randint(0, 256, size=(11, 17)).astype(np.uint8)
    for ri in (1, 5, 17, 40):
        data = encode_jpeg_lossless(gray, predictor=4, restart_interval=ri)
        assert b"\xff\xd0" in data  # at least one restart marker emitted
        assert np.array_equal(decode_jpeg(data), gray), ri
    rgb = rng.randint(0, 256, size=(9, 13, 3)).astype(np.uint8)
    out = decode_jpeg(
        encode_jpeg_lossless(rgb, predictor=7, restart_interval=10)
    )
    assert np.array_equal(out, rgb)


def test_jpeg_lossless_high_precision():
    """SOF3 at 12- and 16-bit precision: mod-2^16 diffs (incl. the
    SSSS=16 +32768 special case), decoded with high-bits
    down-conversion to uint8 — the 16-bit-PNG convention."""
    from jpeg_ref_encoder import encode_jpeg_lossless
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rng = np.random.RandomState(11)
    img12 = rng.randint(0, 4096, size=(10, 15)).astype(np.uint16)
    out = decode_jpeg(encode_jpeg_lossless(img12, predictor=1, prec=12))
    assert np.array_equal(out, (img12 >> 4).astype(np.uint8))

    img16 = rng.randint(0, 65536, size=(12, 9)).astype(np.uint16)
    for pred in (1, 4, 7):
        out = decode_jpeg(encode_jpeg_lossless(img16, predictor=pred, prec=16))
        assert np.array_equal(out, (img16 >> 8).astype(np.uint8)), pred

    # force the SSSS=16 path: alternating 0 / 32768 columns make every
    # horizontal-predictor diff exactly ±32768 ≡ 32768 (mod 2^16)
    jump = np.zeros((6, 8), np.uint16)
    jump[:, 1::2] = 32768
    data = encode_jpeg_lossless(jump, predictor=1, prec=16)
    assert np.array_equal(decode_jpeg(data), (jump >> 8).astype(np.uint8))

    # 16-bit with restart intervals composes
    out = decode_jpeg(
        encode_jpeg_lossless(img16, predictor=4, prec=16, restart_interval=13)
    )
    assert np.array_equal(out, (img16 >> 8).astype(np.uint8))


# --- progressive (SOF2): the test-side encoder emits a full successive-
# approximation scan script (DC Al=1 + refine, AC band splits at Al=2,
# AC refine 2->1->0, EOBn runs, two-buffer correction-bit ordering), so
# a fully-refined progressive stream must decode BIT-IDENTICAL to the
# baseline encoding of the same image --------------------------------


def test_jpeg_progressive_gray_equals_baseline():
    from jpeg_ref_encoder import encode_jpeg, encode_jpeg_progressive
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    img = _smooth(24, 40)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(img)), decode_jpeg(encode_jpeg(img))
    )
    # q=1 near-lossless + odd dims (partial edge MCUs in every scan)
    odd = _smooth(17, 33)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(odd, qtable=[1] * 64)),
        decode_jpeg(encode_jpeg(odd, qtable=[1] * 64)),
    )


def test_jpeg_progressive_color_444_and_420():
    from jpeg_ref_encoder import encode_jpeg, encode_jpeg_progressive
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rgb = _smooth(24, 40, color=True)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(rgb)), decode_jpeg(encode_jpeg(rgb))
    )
    # 4:2:0: chroma's non-interleaved block grid differs from the
    # MCU-padded store — exercises the ceil-grid AC scan geometry
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(rgb, subsample=True)),
        decode_jpeg(encode_jpeg(rgb, subsample=True)),
    )


def test_jpeg_progressive_restart_and_eob_runs():
    from jpeg_ref_encoder import encode_jpeg, encode_jpeg_progressive
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    img = _smooth(24, 40)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(img, restart_interval=2)),
        decode_jpeg(encode_jpeg(img)),
    )
    # near-flat image at default quant: almost every AC block is zero,
    # so the stream is dominated by multi-block EOBn runs
    flat = np.full((48, 64), 127, dtype=np.uint8)
    flat[20, 30] = 200  # one feature so not all scans are empty
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(flat)), decode_jpeg(encode_jpeg(flat))
    )


def test_jpeg_progressive_through_decode_bytes():
    from jpeg_ref_encoder import encode_jpeg_progressive

    img = _smooth(16, 24)
    (out,) = decode_bytes(encode_jpeg_progressive(img, qtable=[1] * 64))
    assert out.shape == img.shape
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 1


def test_jpeg_through_spark_extract(spark):
    from jpeg_ref_encoder import encode_jpeg

    img = _smooth(10, 12)
    df = spark.createDataFrame(
        [("d1", "a.jpg", bytearray(encode_jpeg(img, qtable=[1] * 64)))],
        "doc_id string, media_ref string, content binary",
    )
    feats = extract_features(decode_media(df)).collect()[0]
    assert feats.media_ref == "a.jpg"
    assert abs(feats.mean_px - float(img.mean())) < 1.5


def test_pdf_object_streams():
    """PDF 1.5 layout: the catalog / page tree live ONLY inside a
    Flate-compressed /ObjStm (as modern writers emit), with an xref
    STREAM instead of a classic table; the image XObject stays top-
    level (streams cannot be packed). Hand-built, not via encode_pdf."""
    import struct
    import zlib

    px = np.full((4, 6), 55, dtype=np.uint8)
    z = zlib.compress(px.tobytes())
    # objects 1..3 packed into the object stream (catalog, pages, page)
    packed = (
        b"<< /Type /Catalog /Pages 2 0 R >> "
        b"<< /Type /Pages /Count 1 /Kids [3 0 R] >> "
        b"<< /Type /Page /Parent 2 0 R "
        b"/Resources << /XObject << /ImA 4 0 R >> >> >>"
    )
    off2 = packed.index(b"<< /Type /Pages")
    off3 = packed.index(b"<< /Type /Page /Parent")
    header = b"1 0 2 %d 3 %d " % (off2, off3)
    stm = zlib.compress(header + packed)
    body = bytearray(b"%PDF-1.5\n")
    body += (
        b"5 0 obj << /Type /ObjStm /N 3 /First %d /Filter /FlateDecode "
        b"/Length %d >>\nstream\n" % (len(header), len(stm))
    ) + stm + b"\nendstream endobj\n"
    body += (
        b"4 0 obj << /Subtype /Image /Width 6 /Height 4 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
        b"/Filter /FlateDecode /Length %d >>\nstream\n" % len(z)
    ) + z + b"\nendstream endobj\n"
    # an xref STREAM object (parser skips it; present for realism)
    xr = zlib.compress(b"\x00" * 12)
    xref_off = len(body)
    body += (
        b"6 0 obj << /Type /XRef /Size 7 /W [1 2 1] /Root 1 0 R "
        b"/Filter /FlateDecode /Length %d >>\nstream\n" % len(xr)
    ) + xr + b"\nendstream endobj\n"
    body += b"startxref\n%d\n%%%%EOF\n" % xref_off
    (out,) = decode_bytes(bytes(body))
    assert np.array_equal(out, px)


def _make_png16(arr16, ctype, row_filters, interlace=False):
    """16-bit variant of the test encoder: big-endian sample bytes,
    filtering at byte granularity with bpp = channels*2 (spec §9)."""
    import struct
    import zlib

    channels = {0: 1, 2: 3}[ctype]
    h, w = arr16.shape[:2]
    b = np.ascontiguousarray(arr16.astype(">u2")).view(np.uint8)
    a3 = b.reshape(h, w, channels * 2).astype(np.int32)
    raster = bytearray()
    if not interlace:
        raster += _filter_raster(a3.reshape(h, w * channels * 2), channels * 2, row_filters)
    else:
        for x0, y0, dx, dy in _ADAM7_PASSES:
            sub = a3[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue
            raster += _filter_raster(sub.reshape(ph, pw * channels * 2), channels * 2, row_filters)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, 1 if interlace else 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raster)))
        + _png_chunk(b"IEND", b"")
    )


def test_png_16bit_gray_and_rgb():
    rng = np.random.RandomState(31)
    g16 = rng.randint(0, 65536, size=(9, 11)).astype(np.uint16)
    (out,) = decode_bytes(_make_png16(g16, 0, [0, 1, 2, 3, 4]))
    assert np.array_equal(out, (g16 >> 8).astype(np.uint8))
    rgb16 = rng.randint(0, 65536, size=(7, 5, 3)).astype(np.uint16)
    (outc,) = decode_bytes(_make_png16(rgb16, 2, [4, 2, 1]))
    assert np.array_equal(outc, _luma_ref((rgb16 >> 8).astype(np.uint8)))


def test_png_16bit_adam7():
    rng = np.random.RandomState(37)
    g16 = rng.randint(0, 65536, size=(13, 10)).astype(np.uint16)
    (out,) = decode_bytes(_make_png16(g16, 0, [1, 3, 4], interlace=True))
    assert np.array_equal(out, (g16 >> 8).astype(np.uint8))


def _make_png_subbyte(arr, depth, ctype, row_filters, palette=None, interlace=False):
    """1/2/4-bit test encoder: MSB-first packed samples, scanlines
    byte-padded, filtering at byte granularity with bpp=1 (spec §9)."""
    import struct
    import zlib

    h, w = arr.shape

    def pack_rows(sub):
        ph, pw = sub.shape
        # sample i occupies bit positions i*depth .. i*depth+depth-1
        ordered = np.zeros((ph, ((pw * depth + 7) // 8) * 8), dtype=np.uint8)
        for i in range(pw):
            for j in range(depth):
                ordered[:, i * depth + j] = (sub[:, i] >> (depth - 1 - j)) & 1
        return np.packbits(ordered, axis=1).astype(np.int32)

    raster = bytearray()
    if not interlace:
        raster += _filter_raster(pack_rows(arr), 1, row_filters)
    else:
        for x0, y0, dx, dy in _ADAM7_PASSES:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            raster += _filter_raster(pack_rows(sub), 1, row_filters)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1 if interlace else 0)
    png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        png += _png_chunk(b"PLTE", bytes(v for rgb in palette for v in rgb))
    png += _png_chunk(b"IDAT", zlib.compress(bytes(raster)))
    return png + _png_chunk(b"IEND", b"")


def test_png_subbyte_gray():
    rng = np.random.RandomState(41)
    for depth in (1, 2, 4):
        mx = (1 << depth) - 1
        px = rng.randint(0, mx + 1, size=(9, 13)).astype(np.uint8)
        (out,) = decode_bytes(_make_png_subbyte(px, depth, 0, [0, 1, 2, 3, 4]))
        want = (px.astype(np.uint16) * 255 // mx).astype(np.uint8)
        assert np.array_equal(out, want), depth


def test_png_subbyte_palette_and_adam7():
    rng = np.random.RandomState(43)
    palette = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (255, 255, 255)]
    idx = rng.randint(0, 4, size=(11, 7)).astype(np.uint8)
    (out,) = decode_bytes(_make_png_subbyte(idx, 2, 3, [1, 4], palette=palette))
    want = _luma_ref(np.array(palette, dtype=np.uint8)[idx])
    assert np.array_equal(out, want)
    # 1-bit Adam7 (fax-style bilevel, interlaced)
    bw = rng.randint(0, 2, size=(17, 14)).astype(np.uint8)
    (o2,) = decode_bytes(_make_png_subbyte(bw, 1, 0, [0, 2], interlace=True))
    assert np.array_equal(o2, bw * 255)


def test_jpeg_dimensions_skips_standalone_markers():
    """TEM (0x01) and RSTn are length-less standalone markers; treating
    their following bytes as a segment length misparses the header walk
    (ADVICE r4 item 4)."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import jpeg_dimensions

    jb = encode_jpeg(_smooth(10, 14), qtable=[1] * 64)
    # inject TEM + a stray RST3 + a fill byte right after SOI
    patched = jb[:2] + b"\xff\x01\xff\xd3\xff\xff\xdb" + jb[4:]
    # (the \xff\xdb re-introduces the DQT marker the splice consumed)
    h, w, nc = jpeg_dimensions(patched)
    assert (h, w, nc) == (10, 14, 1)
    # the FULL decode loop must tolerate the same legal padding
    # (T.81 B.1.1.2 allows 0xFF fill before any marker)
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    assert np.array_equal(decode_jpeg(patched), decode_jpeg(jb))


def test_pdf_filter_chain_fails_loud():
    """A multi-element /Filter cascade like [/FlateDecode /DCTDecode]
    must fail at the filter-chain boundary, not hand a still-deflated
    stream to the JPEG decoder (ADVICE r4 item 3)."""
    import zlib as _zlib

    from jpeg_ref_encoder import encode_jpeg

    jb = encode_jpeg(np.full((4, 4), 99, dtype=np.uint8), qtable=[1] * 64)
    stream = _zlib.compress(jb)
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R] >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R "
        b"/Resources << /XObject << /ImA 4 0 R >> >> >> endobj\n"
        b"4 0 obj << /Subtype /Image /Width 4 /Height 4"
        b" /ColorSpace /DeviceGray /BitsPerComponent 8"
        b" /Filter [/FlateDecode /DCTDecode] /Length "
        + str(len(stream)).encode()
        + b" >>\nstream\n"
        + stream
        + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )
    with pytest.raises(NotImplementedError, match="filter chain"):
        decode_bytes(pdf)


# --- CMYK / YCCK / Adobe APP14 (VERDICT r4 next-round #2) --------------


def _smooth_cmyk(h, w):
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    return np.dstack([
        (100 + 90 * np.sin(x / 6.0)).clip(0, 255),
        (100 + 90 * np.cos(y / 5.0)).clip(0, 255),
        (128 + 70 * np.sin((x + y) / 8.0)).clip(0, 255),
        (60 + 50 * np.cos((x - y) / 7.0)).clip(0, 255),
    ]).astype(np.uint8)


def _cmyk_to_rgb_ref(cmyk):
    """Independent expected-RGB: composite each (255−ink) channel
    against the (255−K) plate — the convention the decoder documents."""
    inv = 255.0 - cmyk.astype(np.float64)
    ch = [inv[:, :, i] * inv[:, :, 3] / 255.0 for i in range(3)]
    return np.dstack([np.clip(np.round(c), 0, 255).astype(np.uint8) for c in ch])


def test_jpeg_cmyk_plain_and_adobe_inverted():
    """4-component CMYK, both storage conventions: plain (no APP14, ink
    stored directly) and Adobe transform=0 (APP14, samples inverted) —
    both must decode to the same composited RGB."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    cmyk = _smooth_cmyk(24, 40)
    want = _cmyk_to_rgb_ref(cmyk)
    for transform in (None, 0):
        out = decode_jpeg(encode_jpeg(cmyk, qtable=[1] * 64,
                                      adobe_transform=transform))
        assert out.shape == want.shape
        err = int(np.abs(out.astype(int) - want.astype(int)).max())
        assert err <= 3, (transform, err)


def test_jpeg_ycck_444_and_420():
    """Adobe transform=2 (YCCK): BT.601 over the inverted C/M/Y planes,
    K passthrough — 4:4:4 near-lossless, 4:2:0 within chroma-loss rmse."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    cmyk = _smooth_cmyk(24, 40)
    want = _cmyk_to_rgb_ref(cmyk)
    out = decode_jpeg(encode_jpeg(cmyk, qtable=[1] * 64, adobe_transform=2))
    assert int(np.abs(out.astype(int) - want.astype(int)).max()) <= 5
    out420 = decode_jpeg(
        encode_jpeg(cmyk, qtable=[1] * 64, adobe_transform=2, subsample=True)
    )
    rmse = float(np.sqrt(((out420.astype(float) - want) ** 2).mean()))
    assert rmse < 6.0, rmse


def test_jpeg_cmyk_progressive_equals_baseline():
    """Fully-refined progressive CMYK/YCCK decodes bit-identical to the
    baseline encoding of the same planes (the same invariant the
    gray/color paths pin)."""
    from jpeg_ref_encoder import encode_jpeg, encode_jpeg_progressive
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    cmyk = _smooth_cmyk(17, 26)
    for transform in (None, 0, 2):
        base = decode_jpeg(encode_jpeg(cmyk, qtable=[1] * 64,
                                       adobe_transform=transform))
        prog = decode_jpeg(
            encode_jpeg_progressive(cmyk, qtable=[1] * 64,
                                    adobe_transform=transform)
        )
        assert np.array_equal(base, prog), transform


def test_jpeg_adobe_rgb_direct():
    """3-component Adobe transform=0: components ARE RGB — no YCbCr
    matrix on either side, so the all-ones-qtable round trip is
    near-lossless per channel."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rgb = _smooth(16, 24, color=True)
    out = decode_jpeg(encode_jpeg(rgb, qtable=[1] * 64, adobe_transform=0))
    assert int(np.abs(out.astype(int) - rgb.astype(int)).max()) <= 1


def test_pdf_dct_cmyk_page(spark):
    """A YCCK JPEG inside a PDF /DCTDecode image XObject — where real
    scanned-document CMYK actually lives — through the distributed
    decode (PDF 1→N explode → jpeg_format → luma)."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.media_decode import decode_media, extract_features
    from openocr_spark.kernels.pdf_format import encode_pdf

    cmyk = _smooth_cmyk(16, 24)
    want = _luma_ref(_cmyk_to_rgb_ref(cmyk))
    jb = encode_jpeg(cmyk, qtable=[1] * 64, adobe_transform=2)
    assert b"/DeviceCMYK" in encode_pdf([jb])
    (direct,) = decode_bytes(encode_pdf([jb]))
    assert direct.shape == want.shape
    assert int(np.abs(direct.astype(int) - want.astype(int)).max()) <= 5
    mdf = spark.createDataFrame(
        [("d1", "doc.pdf", bytearray(encode_pdf([jb, cmyk[:, :, 0]])))],
        "doc_id string, media_ref string, content binary",
    )
    rows = {r.page_no: r for r in extract_features(decode_media(mdf)).collect()}
    assert len(rows) == 2
    assert abs(rows[0].mean_px - float(want.mean())) < 2.0


def test_encode_png_roundtrip():
    """The package-side PNG write sink round-trips bit-exact through
    the from-scratch decoder (and external tools: valid CRCs)."""
    import zlib as _z

    from openocr_spark.kernels.media_decode import encode_png

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(23, 41)).astype(np.uint8)
    png = encode_png(img)
    (out,) = decode_bytes(png)
    assert np.array_equal(out, img)
    # CRC of the IHDR chunk is valid
    ln = int.from_bytes(png[8:12], "big")
    body = png[12 : 16 + ln]
    crc = int.from_bytes(png[16 + ln : 20 + ln], "big")
    assert crc == (_z.crc32(body) & 0xFFFFFFFF)


def test_jpeg_16bit_quant_table():
    """DQT Pq=1 (16-bit quantisation values, T.81 B.2.4.1) parses and
    dequantises correctly: the test-side encoder emits a 16-bit table
    whenever a value exceeds 255, and the decoder must honour it."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    img = _smooth(16, 24)
    q16 = [300] + [1] * 63  # DC coarse (>8-bit), AC near-lossless
    jb = encode_jpeg(img, qtable=q16)
    assert b"\xff\xdb" in jb and jb[jb.index(b"\xff\xdb") + 4] == 0x10
    out = decode_jpeg(jb)
    assert out.shape == img.shape
    # DC quantised at 300 → block means move by ≤ ~q/2·(1/8) each, AC
    # structure survives near-losslessly
    assert abs(float(out.astype(float).mean()) - float(img.mean())) <= 20.0
    err = np.abs(out.astype(float) - img.astype(float))
    assert float(np.median(err)) <= 25.0


# --- arithmetic coding (T.81 Annex D/F, SOF9) — r5 ---------------------


def _huff_vs_arith(img, **kw):
    from jpeg_arith_ref_encoder import encode_jpeg_arith
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    q = kw.pop("qtable", [1] * 64)
    huff = decode_jpeg(encode_jpeg(
        img, qtable=q, subsample=kw.get("subsample", False),
        adobe_transform=kw.get("adobe_transform")))
    arith = decode_jpeg(encode_jpeg_arith(img, qtable=q, **kw))
    assert np.array_equal(huff, arith), (
        f"max diff {np.abs(huff.astype(int) - arith.astype(int)).max()}")


def test_arith_qm_coder_random_streams():
    """The raw QM layer round-trips arbitrary context/decision streams
    (adaptation, conditional exchange, carry resolution, 0xFF
    stuffing) — encoder and decoder are independent implementations of
    the Annex D flowcharts sharing only the spec-fixed Qe table."""
    import random

    from jpeg_arith_ref_encoder import ArithEncoder
    from jpeg_arith_ref_encoder import _Ctx as ECtx
    from openocr_spark.kernels.jpeg_arith import ArithDecoder
    from openocr_spark.kernels.jpeg_arith import _Ctx as DCtx

    rng = random.Random(11)
    for _ in range(120):
        n = rng.randint(1, 600)
        heavy = rng.random() < 0.5
        bits = [
            (rng.randrange(4),
             (1 if rng.random() < 0.03 else 0) if heavy else rng.randrange(2))
            for _ in range(n)
        ]
        enc = ArithEncoder()
        ectx = [ECtx() for _ in range(4)]
        for c, b in bits:
            enc.encode(ectx[c], b)
        data = enc.flush() + b"\xff\xd9"
        dec = ArithDecoder(data, 0)
        dctx = [DCtx() for _ in range(4)]
        got = [(c, dec.decode(dctx[c])) for c, _ in bits]
        assert got == bits


def test_jpeg_arith_equals_huffman_gray_and_color():
    """Sequential arithmetic (SOF9) decodes BIT-IDENTICAL to the
    Huffman encoding of the same quantized planes — gray, color 4:4:4,
    color 4:2:0, near-lossless and Annex-K quant tables."""
    from jpeg_ref_encoder import K1

    gray = _smooth(24, 40)
    _huff_vs_arith(gray)
    _huff_vs_arith(gray, qtable=list(K1))
    rgb = _smooth(24, 40, color=True)
    _huff_vs_arith(rgb)
    _huff_vs_arith(rgb, subsample=True)


def test_jpeg_arith_odd_dims_restart_conditioning():
    """Odd dimensions, restart intervals (per-interval stats +
    predictor + coder reset on both sides), and non-default DAC
    conditioning (DC L/U, AC Kx)."""
    g = _smooth(17, 33)
    _huff_vs_arith(g)
    _huff_vs_arith(g, restart_interval=2)
    _huff_vs_arith(_smooth(24, 40), dc_cond=(1, 2), kx=3)


def test_jpeg_arith_cmyk_and_pdf(spark):
    """SOF9 composes with the APP14 color transforms (YCCK) and with
    PDF /DCTDecode embedding, through the distributed decode."""
    from jpeg_arith_ref_encoder import encode_jpeg_arith
    from openocr_spark.kernels.jpeg_format import decode_jpeg
    from openocr_spark.kernels.media_decode import decode_media, extract_features
    from openocr_spark.kernels.pdf_format import encode_pdf

    cmyk = _smooth_cmyk(16, 24)
    want = _luma_ref(_cmyk_to_rgb_ref(cmyk))
    jb = encode_jpeg_arith(cmyk, qtable=[1] * 64, adobe_transform=2)
    out = decode_jpeg(jb)
    assert int(np.abs(_luma_ref(out).astype(int) - want.astype(int)).max()) <= 5
    (page,) = decode_bytes(encode_pdf([jb]))
    assert page.shape == want.shape
    mdf = spark.createDataFrame(
        [("d1", "a.pdf", bytearray(encode_pdf([jb])))],
        "doc_id string, media_ref string, content binary",
    )
    rows = extract_features(decode_media(mdf)).collect()
    assert len(rows) == 1 and abs(rows[0].mean_px - float(want.mean())) < 2.0


def test_jpeg_arith_progressive_equals_baseline():
    """Progressive arithmetic (SOF10, fully refined) decodes
    BIT-IDENTICAL to the baseline Huffman encoding — the same
    invariant the Huffman-progressive and sequential-arithmetic paths
    pin, over the full scan script (DC first/refine at the fixed bin,
    AC bands first at Al=2, refine 2→1→0)."""
    from jpeg_arith_ref_encoder import encode_jpeg_arith_progressive
    from jpeg_ref_encoder import K1, encode_jpeg
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    gray = _smooth(24, 40)
    rgb = _smooth(24, 40, color=True)
    for img, kw in (
        (gray, {}),
        (gray, {"qtable": list(K1)}),
        (rgb, {}),
        (rgb, {"subsample": True}),
        (gray[:17, :33], {}),
        (gray, {"dc_cond": (1, 2), "kx": 3}),
    ):
        q = kw.pop("qtable", [1] * 64)
        huff = decode_jpeg(encode_jpeg(
            img, qtable=q, subsample=kw.get("subsample", False)))
        arith = decode_jpeg(encode_jpeg_arith_progressive(img, qtable=q, **kw))
        assert np.array_equal(huff, arith), kw


def test_jpeg_arith_progressive_ycck():
    """SOF10 composes with the APP14 YCCK transform (4-component
    progressive arithmetic — the maximal coding-mode combination)."""
    from jpeg_arith_ref_encoder import encode_jpeg_arith_progressive
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    cmyk = _smooth_cmyk(16, 24)
    huff = decode_jpeg(encode_jpeg(cmyk, qtable=[1] * 64, adobe_transform=2))
    arith = decode_jpeg(
        encode_jpeg_arith_progressive(cmyk, qtable=[1] * 64, adobe_transform=2)
    )
    assert np.array_equal(huff, arith)


def test_jpeg_sof1_extended_sequential():
    """SOF1 extended sequential: identical decode process to baseline
    (T.81 Annex F) — an SOF1 stream must decode byte-identical to the
    SOF0 encoding of the same image."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import decode_jpeg, jpeg_dimensions

    rng = np.random.RandomState(41)
    rgb = rng.randint(0, 255, size=(20, 28, 3)).astype(np.uint8)
    ext = encode_jpeg(rgb, qtable=[1] * 64, extended=True)
    assert b"\xff\xc1" in ext and b"\xff\xc0" not in ext
    assert jpeg_dimensions(ext) == (20, 28, 3)
    assert np.array_equal(
        decode_jpeg(ext), decode_jpeg(encode_jpeg(rgb, qtable=[1] * 64))
    )


def test_jpeg_12bit_precision():
    """12-bit DCT precision (SOF1 extended sequential — the conforming
    marker for 12-bit Huffman, level shift 2048, extended Huffman
    ranges): decodes with high-bits down-conversion to uint8 — the
    same convention as the 16-bit PNG path."""
    from jpeg_ref_encoder import encode_jpeg_12bit
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    x, y = np.meshgrid(np.arange(24), np.arange(16))
    img16 = (2048 + 1500 * np.sin(x / 5.0) + 500 * np.cos(y / 4.0)).clip(
        0, 4095
    ).astype(np.uint16)
    out = decode_jpeg(encode_jpeg_12bit(img16, qtable=[1] * 64))
    want = (img16 >> 4).astype(np.uint8)
    assert out.shape == want.shape
    # near-lossless at 12-bit, then truncated to the high 8 bits: the
    # ±1-at-12-bit IDCT rounding can flip a truncation boundary
    assert int(np.abs(out.astype(int) - want.astype(int)).max()) <= 1


# --- lossless arithmetic (SOF11, Annex H.2) — r5 -----------------------


def test_jpeg_arith_lossless_roundtrip():
    """SOF11: BIT-EXACT round trip for every predictor (1-7), gray and
    RGB, against the independent test-side Annex H.2 encoder (its own
    QM byte-out and two-dimensional conditioning bookkeeping)."""
    from jpeg_arith_ref_encoder import encode_jpeg_arith_lossless
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rng = np.random.RandomState(23)
    gray = rng.randint(0, 256, size=(21, 17)).astype(np.uint8)
    for pred in range(1, 8):
        out = decode_jpeg(encode_jpeg_arith_lossless(gray, predictor=pred))
        assert np.array_equal(out, gray), f"predictor {pred}"

    rgb = rng.randint(0, 256, size=(13, 19, 3)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg_arith_lossless(rgb, predictor=7))
    assert out.shape == (13, 19, 3)
    assert np.array_equal(out, rgb)

    # point transform drops the low bits before prediction
    out = decode_jpeg(encode_jpeg_arith_lossless(gray, predictor=1, pt=2))
    assert np.array_equal(out, (gray >> 2) << 2)

    # smooth content: the adaptive model must actually compress (the
    # conditioning contexts converge), unlike the random image above
    smooth = np.add.outer(np.arange(32), np.arange(48) // 3).astype(np.uint8)
    data = encode_jpeg_arith_lossless(smooth, predictor=4)
    assert len(data) < smooth.size // 2
    assert np.array_equal(decode_jpeg(data), smooth)


def test_jpeg_arith_lossless_restart_conditioning_dispatch():
    """SOF11 composes with restart intervals (coder + statistics reset,
    prediction and contexts fresh at the interval head), non-default
    DAC (L, U) conditioning, and routes through the magic-sniffed
    decode_bytes dispatcher."""
    from jpeg_arith_ref_encoder import encode_jpeg_arith_lossless
    from openocr_spark.kernels.jpeg_format import decode_jpeg, jpeg_dimensions
    from openocr_spark.kernels.media_decode import decode_bytes

    rng = np.random.RandomState(29)
    gray = rng.randint(0, 256, size=(14, 23)).astype(np.uint8)
    for ri in (7, 23):  # mid-row and row-straddling intervals
        data = encode_jpeg_arith_lossless(gray, predictor=4, restart_interval=ri)
        assert np.array_equal(decode_jpeg(data), gray), ri

    data = encode_jpeg_arith_lossless(gray, predictor=6, dc_cond=(1, 3))
    assert np.array_equal(decode_jpeg(data), gray)
    assert jpeg_dimensions(data) == (14, 23, 1)

    # decode_bytes normalizes color pages to BT.601 luma — compare
    # against the luma of the (bit-exactly recovered) RGB samples
    from openocr_spark.kernels.media_decode import _luma

    rgb = rng.randint(0, 256, size=(9, 9, 3)).astype(np.uint8)
    (page,) = decode_bytes(
        encode_jpeg_arith_lossless(rgb, predictor=4, restart_interval=5)
    )
    assert np.array_equal(
        page, _luma(rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2])
    )


def test_jpeg_arith_lossless_high_precision():
    """SOF11 at 16-bit precision: mod-2^16 differences (the ±32768
    fold coded as magnitude 32768 — the deepest magnitude ladder
    rung), high-bits down-conversion on output."""
    from jpeg_arith_ref_encoder import encode_jpeg_arith_lossless
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rng = np.random.RandomState(31)
    img16 = rng.randint(0, 65536, size=(12, 9)).astype(np.uint16)
    for pred in (1, 4, 7):
        out = decode_jpeg(
            encode_jpeg_arith_lossless(img16, predictor=pred, prec=16)
        )
        assert np.array_equal(out, (img16 >> 8).astype(np.uint8)), pred

    # alternating 0 / 32768 columns force |diff| = 32768 every sample
    jump = np.zeros((6, 8), np.uint16)
    jump[:, 1::2] = 32768
    data = encode_jpeg_arith_lossless(jump, predictor=1, prec=16)
    assert np.array_equal(decode_jpeg(data), (jump >> 8).astype(np.uint8))

    out = decode_jpeg(
        encode_jpeg_arith_lossless(img16, predictor=4, prec=16,
                                   restart_interval=13)
    )
    assert np.array_equal(out, (img16 >> 8).astype(np.uint8))


# --- hierarchical mode (T.81 Annex J: DHP / EXP / SOF5-7/13-15) — r5 ---


def _hier_img(h=29, w=37, seed=5):
    rng = np.random.RandomState(seed)
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    img = ((x * 3 + y * 5) % 256).astype(np.uint8)
    return np.clip(
        img.astype(int) + rng.randint(-8, 9, img.shape), 0, 255
    ).astype(np.uint8)


def test_jpeg_hierarchical_lossless_pyramids():
    """All-lossless hierarchies are BIT-EXACT end-to-end: DHP + a
    downsampled base frame + EXP-expanded differential frames, in both
    entropy modes (SOF3+SOF7 Huffman, SOF11+SOF15 arithmetic), gray
    and RGB, horizontal-only expansion, and a 4-level odd-dims
    pyramid (the J.1.1.2 edge-replication path)."""
    from jpeg_hier_ref_encoder import encode_jpeg_hierarchical
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    img = _hier_img()
    rgb = np.dstack([img, img[::-1, :], _hier_img(seed=9)])
    L = {"kind": "lossless"}
    A = {"kind": "arith-lossless"}
    for im, plan in [
        (img, [L, dict(L, exp=(1, 1))]),
        (img, [A, dict(A, exp=(1, 1))]),
        (rgb, [L, dict(L, exp=(1, 1))]),
        (rgb, [A, dict(A, exp=(1, 1))]),
        (img, [L, dict(L, exp=(1, 0))]),  # horizontal-only EXP
        (img[:23, :31], [L] + [dict(L, exp=(1, 1))] * 3),  # 4 levels
    ]:
        out = decode_jpeg(encode_jpeg_hierarchical(im, plan))
        assert np.array_equal(out, im)


def test_jpeg_hierarchical_dct_refinement():
    """Lossy DCT base + differential DCT refinement + final lossless
    correction frame — the classic hierarchical usage — reconstructs
    the original BIT-EXACTLY, with the DCT levels in either entropy
    mode (SOF0/SOF5 Huffman, SOF9/SOF13 arithmetic) and mixed."""
    from jpeg_hier_ref_encoder import encode_jpeg_hierarchical
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    img = _hier_img()
    for plan, kw in [
        ([{"kind": "dct"}, {"kind": "lossless"}], {}),
        ([{"kind": "dct"}, {"kind": "dct", "exp": (1, 1)},
          {"kind": "lossless"}], {}),
        ([{"kind": "arith-dct"}, {"kind": "arith-dct", "exp": (1, 1)},
          {"kind": "arith-lossless"}], {}),
        ([{"kind": "dct"}, {"kind": "arith-dct", "exp": (1, 1)},
          {"kind": "lossless"}], {}),  # mixed entropy modes per level
        ([{"kind": "dct"}, {"kind": "lossless"}], {"q": [4] * 64}),
    ]:
        out = decode_jpeg(encode_jpeg_hierarchical(img, plan, **kw))
        assert np.array_equal(out, img), (plan, kw)

    # a lossy-only hierarchy (no correction frame) is close, not exact
    out = decode_jpeg(
        encode_jpeg_hierarchical(img, [{"kind": "dct"}], q=[1] * 64)
    )
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_jpeg_hierarchical_per_frame_dqt_redefinition():
    """Each DCT frame carries its own DQT reusing table id 0 — the
    normal multi-frame layout. The fold of frame k runs when frame
    k+1's SOF arrives, AFTER the redefining DQT has been parsed, so
    the decoder must dequantize with the table frozen at frame k's
    scan (T.81 binds Tq in the frame header; libjpeg copies at scan
    start), not the live table. The final lossless correction frame
    was computed by the encoder against the correctly-folded pyramid,
    so any table mix-up breaks the bit-exact round trip."""
    from jpeg_hier_ref_encoder import encode_jpeg_hierarchical
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    img = _hier_img()
    plan = [
        {"kind": "dct", "q": [3] * 64},
        {"kind": "dct", "exp": (1, 1), "q": [7] * 64},
        {"kind": "lossless"},
    ]
    out = decode_jpeg(encode_jpeg_hierarchical(img, plan))
    assert np.array_equal(out, img)

    # arithmetic coding takes the same deferred-dequant path
    plan = [
        {"kind": "arith-dct", "q": [2] * 64},
        {"kind": "arith-dct", "exp": (1, 1), "q": [9] * 64},
        {"kind": "arith-lossless"},
    ]
    out = decode_jpeg(encode_jpeg_hierarchical(img, plan))
    assert np.array_equal(out, img)


def test_jpeg_hierarchical_progressive_differential():
    """Differential PROGRESSIVE frames (SOF6 Huffman, SOF14
    arithmetic): multi-scan levels (interleaved DC scan + per-component
    AC band scans) folded at the next frame header, final lossless
    frame makes the pyramid exact."""
    from jpeg_hier_ref_encoder import encode_jpeg_hierarchical
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    img = _hier_img()
    for plan in [
        [{"kind": "prog"}, {"kind": "prog", "exp": (1, 1)},
         {"kind": "lossless"}],
        [{"kind": "arith-prog"}, {"kind": "arith-prog", "exp": (1, 1)},
         {"kind": "arith-lossless"}],
    ]:
        out = decode_jpeg(encode_jpeg_hierarchical(img, plan))
        assert np.array_equal(out, img), plan


def test_jpeg_hierarchical_restarts_and_dispatch():
    """Restart intervals inside differential scans compose; DHP
    carries the full-resolution dims for jpeg_dimensions; hierarchical
    streams route through the magic-sniffed decode_bytes dispatcher."""
    from jpeg_hier_ref_encoder import encode_jpeg_hierarchical
    from openocr_spark.kernels.jpeg_format import decode_jpeg, jpeg_dimensions
    from openocr_spark.kernels.media_decode import decode_bytes

    img = _hier_img()
    data = encode_jpeg_hierarchical(
        img, [{"kind": "dct"}, {"kind": "dct", "exp": (1, 1)},
              {"kind": "lossless"}], restart_interval=7,
    )
    assert np.array_equal(decode_jpeg(data), img)
    assert jpeg_dimensions(data) == (img.shape[0], img.shape[1], 1)
    (page,) = decode_bytes(data)
    assert np.array_equal(page, img)

    data = encode_jpeg_hierarchical(
        img, [{"kind": "arith-dct"}, {"kind": "arith-dct", "exp": (1, 1)},
              {"kind": "arith-lossless"}], restart_interval=5,
    )
    assert np.array_equal(decode_jpeg(data), img)


def test_jpeg_hierarchical_malformed():
    """Structural errors fail loud: a differential frame whose
    reference was never expanded (missing EXP) and a second DHP."""
    from jpeg_hier_ref_encoder import encode_jpeg_hierarchical
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    img = _hier_img()
    data = encode_jpeg_hierarchical(
        img, [{"kind": "lossless"}, {"kind": "lossless", "exp": (1, 1)}]
    )
    # strip the EXP segment (FF DF 00 03 xx): reference stays at the
    # base resolution, smaller than the differential frame
    idx = data.find(b"\xff\xdf")
    broken = data[:idx] + data[idx + 5:]
    with pytest.raises(NotImplementedError, match="EXP"):
        decode_jpeg(broken)

    dhp = data[2:2 + 4 + 9]  # the DHP segment (1-component SOF syntax)
    assert dhp[:2] == b"\xff\xde"
    with pytest.raises(NotImplementedError, match="DHP"):
        decode_jpeg(data[:2] + dhp + data[2:])


def _exif_app1(orientation, order=">"):
    """Minimal Exif APP1 segment: TIFF header + 1-entry IFD0 holding
    tag 0x0112 (orientation, SHORT). Independent of the package's
    parser — built straight from the TIFF/EXIF layout."""
    bom = b"MM" if order == ">" else b"II"
    tiff = bom + struct.pack(order + "HI", 42, 8)
    tiff += struct.pack(order + "H", 1)  # one IFD0 entry
    tiff += struct.pack(order + "HHI", 0x0112, 3, 1)
    tiff += struct.pack(order + "H", orientation) + b"\x00\x00"
    tiff += struct.pack(order + "I", 0)  # no next IFD
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def _exif_expected(stored, o):
    """Display image from stored pixels per the EXIF row0/col0 table,
    by direct index formulas (independent of the package's
    flip/rot composition)."""
    hs, ws = stored.shape[:2]
    if o in (1, 2, 3, 4):
        out = np.zeros_like(stored)
        for i in range(hs):
            for j in range(ws):
                si = hs - 1 - i if o in (3, 4) else i
                sj = ws - 1 - j if o in (2, 3) else j
                out[i, j] = stored[si, sj]
    else:
        out = np.zeros((ws, hs) + stored.shape[2:], stored.dtype)
        for i in range(ws):
            for j in range(hs):
                sj = ws - 1 - i if o in (7, 8) else i
                si = hs - 1 - j if o in (6, 7) else j
                out[i, j] = stored[si, sj]
    return out


def test_jpeg_exif_orientation():
    """All 8 EXIF orientations, both TIFF byte orders, applied by
    default exactly as cv2.imread (tools/infer_e2e.py:289) and
    cv2.imdecode with default flags (opendet/preprocess/__init__.py:104)
    apply them; apply_orientation=False returns stored pixels."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (24, 16, 3), dtype=np.uint8)
    plain = encode_jpeg(img, qtable=[1] * 64)
    stored = decode_jpeg(plain)
    for order in (">", "<"):
        for o in range(1, 9):
            tagged = plain[:2] + _exif_app1(o, order) + plain[2:]
            out = decode_jpeg(tagged)
            assert np.array_equal(out, _exif_expected(stored, o)), (o, order)
            assert out.flags["C_CONTIGUOUS"]
            assert np.array_equal(
                decode_jpeg(tagged, apply_orientation=False), stored
            ), (o, order)
    # grayscale 2-D arrays route through the same axis-0/1 transforms
    gray = encode_jpeg(rng.integers(0, 256, (10, 14), dtype=np.uint8),
                       qtable=[1] * 64)
    gstored = decode_jpeg(gray)
    gtagged = gray[:2] + _exif_app1(6) + gray[2:]
    assert np.array_equal(
        decode_jpeg(gtagged), _exif_expected(gstored, 6)
    )


def test_jpeg_exif_orientation_edge_cases():
    """Off-spec metadata degrades to orientation 1 (cv2's tolerance);
    XMP APP1 segments are not Exif; PDF-embedded /DCTDecode JPEGs keep
    stored orientation (PDF renderers ignore EXIF)."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import (
        decode_jpeg,
        exif_orientation,
    )
    from openocr_spark.kernels.pdf_format import encode_pdf, decode_pdf_pages

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    plain = encode_jpeg(img, qtable=[1] * 64)
    stored = decode_jpeg(plain)

    assert exif_orientation(plain) == 1  # no APP1 at all
    # XMP APP1 (not Exif) — ignored
    xmp = b"http://ns.adobe.com/xap/1.0/\x00<x/>"
    app1 = b"\xff\xe1" + struct.pack(">H", len(xmp) + 2) + xmp
    assert exif_orientation(plain[:2] + app1 + plain[2:]) == 1
    # bad byte-order mark / truncated IFD / out-of-range value -> 1
    good = _exif_app1(6)
    bad_bom = good.replace(b"MM", b"XX", 1)
    assert exif_orientation(plain[:2] + bad_bom + plain[2:]) == 1
    trunc = good[:14]
    trunc = trunc[:2] + struct.pack(">H", len(trunc) - 2) + trunc[4:]
    assert exif_orientation(plain[:2] + trunc + plain[2:]) == 1
    assert exif_orientation(plain[:2] + _exif_app1(9) + plain[2:]) == 1
    # orientation after SOS is never scanned (metadata precedes scan)
    assert exif_orientation(plain + _exif_app1(6)) == 1

    # embedded in a PDF: the page ignores the tag
    tagged = plain[:2] + _exif_app1(6) + plain[2:]
    (page,) = decode_pdf_pages(encode_pdf([tagged]))
    assert page.shape[:2] == stored.shape[:2]


def test_jpeg_noninterleaved_sequential_scans():
    """A sequential frame whose components arrive in separate Ns=1
    scans (block raster over each component's own grid, T.81 A.2.2 —
    never MCU-padded) decodes identically to the interleaved encoding
    of the same image, including 4:2:0 sampling and restart intervals
    counted per data unit."""
    from jpeg_ref_encoder import encode_jpeg
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rng = np.random.default_rng(13)
    gray = rng.integers(0, 256, (21, 19), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(gray, qtable=[1] * 64, noninterleaved=True)),
        decode_jpeg(encode_jpeg(gray, qtable=[1] * 64)),
    )
    rgb = rng.integers(0, 256, (22, 27, 3), dtype=np.uint8)
    for subsample in (False, True):
        for ri in (0, 3):
            a = decode_jpeg(encode_jpeg(
                rgb, qtable=[1] * 64, subsample=subsample,
                noninterleaved=True, restart_interval=ri,
            ))
            b = decode_jpeg(encode_jpeg(
                rgb, qtable=[1] * 64, subsample=subsample,
            ))
            assert np.array_equal(a, b), (subsample, ri)


def test_jpeg_arith_noninterleaved_sequential_scans():
    """SOF9 with one Ns=1 scan per component (fresh statistics and
    codestream each) decodes identically to the interleaved arithmetic
    encoding — which itself is pinned bit-identical to Huffman."""
    from jpeg_arith_ref_encoder import encode_jpeg_arith
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rng = np.random.default_rng(14)
    gray = rng.integers(0, 256, (21, 19), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_arith(gray, qtable=[1] * 64, noninterleaved=True)),
        decode_jpeg(encode_jpeg_arith(gray, qtable=[1] * 64)),
    )
    rgb = rng.integers(0, 256, (18, 23, 3), dtype=np.uint8)
    for subsample in (False, True):
        for ri in (0, 4):
            a = decode_jpeg(encode_jpeg_arith(
                rgb, qtable=[1] * 64, subsample=subsample,
                noninterleaved=True, restart_interval=ri,
            ))
            b = decode_jpeg(encode_jpeg_arith(
                rgb, qtable=[1] * 64, subsample=subsample,
            ))
            assert np.array_equal(a, b), (subsample, ri)


def _edit_sos(data: bytes, nth: int, edit) -> bytes:
    """`data` with the body of its `nth` SOS segment replaced by
    `edit(body)` (the segment length follows the new body)."""
    pos, seen = 2, 0
    while True:
        marker = data[pos + 1]
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        if marker == 0xDA:
            if seen == nth:
                body = edit(bytearray(data[pos + 4 : pos + 2 + seglen]))
                return (data[: pos + 2] + struct.pack(">H", len(body) + 2)
                        + bytes(body) + data[pos + 2 + seglen :])
            seen += 1
            pos = data.index(b"\xff", pos + 2 + seglen)
            while data[pos + 1] in (0x00, *range(0xD0, 0xD8)):
                pos = data.index(b"\xff", pos + 2)
        else:
            pos += 2 + seglen


def _set(i: int, v: int):
    def edit(body: bytearray) -> bytearray:
        body[i] = v
        return body
    return edit


@pytest.mark.parametrize("mode", ["sequential", "progressive"])
@pytest.mark.parametrize("edit, prog_scan, msg", [
    (_set(1, 9), 0, "component"),     # Cs names no frame component
    (_set(2, 0x30), 0, "table"),      # Td = 3: no such DC table
    (_set(2, 0x03), 1, "table"),      # Ta = 3: no such AC table
], ids=["unknown_component", "missing_dc_table", "missing_ac_table"])
def test_jpeg_malformed_scan_header_raises_not_implemented(
    mode, edit, prog_scan, msg
):
    """A scan header naming an unknown component or an undefined
    Huffman table is a malformed stream: it raises NotImplementedError
    (the contract PDF pages rely on to skip one bad image), never
    StopIteration, KeyError or AttributeError. In the progressive
    stream scan 0 is the DC scan (it reads no AC table) and scan 1 an
    AC band."""
    from jpeg_ref_encoder import encode_jpeg, encode_jpeg_progressive
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    gray = _smooth(16, 24)
    if mode == "sequential":
        data = _edit_sos(encode_jpeg(gray), 0, edit)
    else:
        data = _edit_sos(encode_jpeg_progressive(gray), prog_scan, edit)
    with pytest.raises(NotImplementedError, match=msg):
        decode_jpeg(data)


def _repeat_component(body: bytearray) -> bytearray:
    """Ns=1 scan header → Ns=2 listing its component twice."""
    return bytearray([2]) + body[1:3] + body[1:3] + body[3:]


@pytest.mark.parametrize("mode", ["arith", "progressive", "arith_progressive"])
def test_jpeg_scan_repeating_a_component_raises(mode):
    """A scan that lists one component twice is malformed in every
    coding mode (the Huffman sequential scan always rejected it; the
    arithmetic one decoded it to wrong pixels)."""
    from jpeg_arith_ref_encoder import (
        encode_jpeg_arith,
        encode_jpeg_arith_progressive,
    )
    from jpeg_ref_encoder import encode_jpeg_progressive
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    enc = {"arith": encode_jpeg_arith, "progressive": encode_jpeg_progressive,
           "arith_progressive": encode_jpeg_arith_progressive}[mode]
    data = _edit_sos(enc(_smooth(16, 24)), 0, _repeat_component)
    with pytest.raises(NotImplementedError, match="repeated"):
        decode_jpeg(data)


def _pin_streams() -> dict:
    """Name → (decoder, stream) for the entropy-decoder digest pins.
    JPEG streams use the Annex K tables (long AC codes) or the QM coder
    with non-default DAC conditioning, and cover every scan walk:
    interleaved and single-component, sequential, progressive and
    lossless, restart intervals, hierarchical differential frames.
    VP8L streams mix literals, backrefs and color-cache hits."""
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
    from openocr_spark.kernels.jpeg_format import decode_jpeg
    from openocr_spark.kernels.pdf_format import encode_pdf
    from openocr_spark.kernels.webp_format import decode_webp

    rng = np.random.default_rng(960)
    gray = (_smooth(37, 53).astype(int)
            + rng.integers(-12, 13, (37, 53))).clip(0, 255).astype(np.uint8)
    rgb = (_smooth(29, 45, color=True).astype(int)
           + rng.integers(-12, 13, (29, 45, 3))).clip(0, 255).astype(np.uint8)
    tiles = rng.integers(0, 256, (6, 3)).astype(np.uint8)
    patchy = tiles[rng.integers(0, 6, (9, 13))].repeat(3, 0).repeat(4, 1)
    mh, mw = (27 + 7) >> 3, (52 + 7) >> 3
    groups = (np.indices((mh, mw)).sum(axis=0) % 3).astype(np.int64)
    base = encode_jpeg(gray)
    vp8l = encode_vp8l(rgb, subtract_green=True, lz77=True, cache_bits=6)
    arith = encode_jpeg_arith(rgb, subsample=True, restart_interval=3,
                              dc_cond=(1, 4), kx=2)
    arith_plain = encode_jpeg_arith(rgb, subsample=True, dc_cond=(1, 4), kx=2)
    img16 = (gray.astype(np.uint16) << 8) | rng.integers(
        0, 256, gray.shape, dtype=np.uint16)
    return {
        "jpeg_arith_420": (decode_jpeg, arith),
        "jpeg_arith_noninterleaved": (decode_jpeg, encode_jpeg_arith(
            rgb, subsample=True, noninterleaved=True, restart_interval=4,
            dc_cond=(1, 4), kx=2)),
        "jpeg_arith_progressive": (decode_jpeg, encode_jpeg_arith_progressive(
            rgb, subsample=True, dc_cond=(1, 3), kx=3)),
        "jpeg_arith_lossless": (decode_jpeg, encode_jpeg_arith_lossless(
            rgb, predictor=5, restart_interval=7, dc_cond=(1, 3))),
        "jpeg_arith_lossless16": (decode_jpeg, encode_jpeg_arith_lossless(
            img16, predictor=7, prec=16)),
        "jpeg_arith_truncated": (decode_jpeg, arith_plain[
            : len(arith_plain) * 2 // 3]),
        "jpeg_progressive": (decode_jpeg, encode_jpeg_progressive(
            rgb, subsample=True, restart_interval=2)),
        "jpeg_lossless": (decode_jpeg, encode_jpeg_lossless(
            rgb, predictor=6, restart_interval=9, multi_scan=True)),
        "jpeg_hier_progressive": (decode_jpeg, encode_jpeg_hierarchical(
            gray, [{"kind": "prog"}, {"kind": "prog", "exp": (1, 1)}])),
        # the test encoder writes restart markers (and DRI) only in
        # sequential and lossless frames, so the interval is set where
        # no progressive frame follows
        "jpeg_hier_arith_dct": (decode_jpeg, encode_jpeg_hierarchical(
            gray, [{"kind": "arith-prog"},
                   {"kind": "arith-prog", "exp": (1, 1)},
                   {"kind": "arith-dct"}], restart_interval=3)),
        "jpeg_hier_arith_lossless": (decode_jpeg, encode_jpeg_hierarchical(
            gray, [{"kind": "arith-lossless"},
                   {"kind": "arith-lossless", "exp": (1, 1)}],
            restart_interval=5)),
        "jpeg_gray": (decode_jpeg, base),
        "jpeg_420": (decode_jpeg, encode_jpeg(rgb, subsample=True)),
        "jpeg_noninterleaved": (decode_jpeg, encode_jpeg(
            rgb, subsample=True, noninterleaved=True)),
        "jpeg_restart": (decode_jpeg, encode_jpeg(rgb, restart_interval=3)),
        "jpeg_sof1": (decode_jpeg, encode_jpeg(gray, extended=True)),
        "dct_pdf": (decode_bytes, encode_pdf([base])),
        "tiff_jpeg": (decode_bytes, write_tiff([{
            "pixels": gray, "compression": 7, "photometric": 1,
            "jpeg_bytes": base, "jpeg_split_tables": True}])),
        "jpeg_hier": (decode_jpeg, encode_jpeg_hierarchical(
            gray, [{"kind": "dct"}, {"kind": "dct", "exp": (1, 1)}])),
        "jpeg_truncated": (decode_jpeg, base[: len(base) * 2 // 3]),
        "vp8l_lz77_cache": (decode_webp, vp8l),
        "vp8l_palette": (decode_webp, encode_vp8l(
            (gray >> 4) << 4, palette=True, lz77=True)),
        "vp8l_meta_cache": (decode_webp, encode_vp8l(
            patchy, cache_bits=4, lz77=True,
            meta={"bits": 3, "groups": groups})),
        "vp8l_truncated": (decode_webp, vp8l[: len(vp8l) * 3 // 5]),
    }


_PIN_DIGESTS = {
    "dct_pdf": "76ce279d3cc694b1bede50f521ed8e8f",
    "jpeg_420": "0b07df1f1729a7c88c94b84eccfee0f7",
    "jpeg_arith_420": "0b07df1f1729a7c88c94b84eccfee0f7",
    "jpeg_arith_lossless": "2ce17d26cad7736343efa1bc696c7d13",
    "jpeg_arith_lossless16": "2d3c9446d7b35f51282cb3e44e89bcea",
    "jpeg_arith_noninterleaved": "0b07df1f1729a7c88c94b84eccfee0f7",
    "jpeg_arith_progressive": "0b07df1f1729a7c88c94b84eccfee0f7",
    "jpeg_arith_truncated": "ed9c49f4ffe4198b06c1d1fcb89560b8",
    "jpeg_gray": "76ce279d3cc694b1bede50f521ed8e8f",
    "jpeg_hier": "a7afea2b367fec0ac1152c0015676d75",
    "jpeg_hier_arith_dct": "502a0821dbb1794f9938cb91bb6ea718",
    "jpeg_hier_arith_lossless": "2d3c9446d7b35f51282cb3e44e89bcea",
    "jpeg_hier_progressive": "a7afea2b367fec0ac1152c0015676d75",
    "jpeg_lossless": "2ce17d26cad7736343efa1bc696c7d13",
    "jpeg_noninterleaved": "0b07df1f1729a7c88c94b84eccfee0f7",
    "jpeg_progressive": "0b07df1f1729a7c88c94b84eccfee0f7",
    "jpeg_restart": "3f6b2d5a96446487e1a2874a7625db6c",
    "jpeg_sof1": "76ce279d3cc694b1bede50f521ed8e8f",
    "jpeg_truncated": "2e4312c272f10ed3b9a8c0b3230f938d",
    "tiff_jpeg": "76ce279d3cc694b1bede50f521ed8e8f",
    "vp8l_lz77_cache": "2ce17d26cad7736343efa1bc696c7d13",
    "vp8l_meta_cache": "d5ae7ca7557646c9947f0d3b41c00587",
    "vp8l_palette": "f061acc953fbe7a355e00a339eb2403d",
    "vp8l_truncated": "2d8e57aeedcbd0db0470c4b9f90830aa",
}


@pytest.mark.parametrize("name", sorted(_PIN_DIGESTS))
def test_entropy_decoders_pinned_pixels(name):
    """md5 of the decoded pixels (shape, dtype and bytes of every page)
    for the Huffman-, QM- and VP8L-coded containers, recorded before
    the entropy loops and the JPEG scan walk were rewritten. decode_mix compares Spark against
    this package's own decode_bytes, so only these pins see a codec
    change that both paths share."""
    import hashlib

    decode, stream = _pin_streams()[name]
    pages = decode(stream)
    if isinstance(pages, np.ndarray):
        pages = [pages]
    h = hashlib.md5()
    for p in pages:
        h.update(f"{p.shape}{p.dtype}".encode())
        h.update(np.ascontiguousarray(p).tobytes())
    assert h.hexdigest() == _PIN_DIGESTS[name]
