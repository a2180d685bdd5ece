"""Multimodal decode kernels — real Spark plumbing AND real from-scratch
codecs for every format the reference reads.

The reference decodes images with cv2/PIL (DecodeImage,
opendet/preprocess/__init__.py:85-143), GIF first-frames and PDF pages
with PyMuPDF (tools/utils/utility.py:76-107). cv2/PIL/PyMuPDF are not
in this container, so every codec here is built from the public format
specs with stdlib zlib + numpy only:

  PGM  (P2 ascii / P5 binary, 8-bit grayscale)
  PPM  (P6 binary RGB → BT.601 integer luma)
  BMP  (BITMAPINFOHEADER, uncompressed, 8-bit palette [biClrUsed] or
        24-bit BGR, bottom-up or top-down, 4-byte row padding)
  PNG  (all 5 scanline filters, 8-bit gray/RGB/palette/alpha)
  GIF  (87a/89a first frame, variable-width LZW, interlace)
  PDF  (Flate/raw/DCTDecode image XObject pages — kernels/pdf_format)
  JPEG (baseline SOF0 + progressive SOF2 Huffman+IDCT —
        kernels/jpeg_format; arithmetic-coded streams raise)

Binary layout of the fake codec (kept for multi-page tests — the real
formats are single-page):
  header b'FAKEIMG1' | uint16 h | uint16 w | uint8 pages
  then pages * h * w bytes of grayscale pixels.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_MAGIC = b"FAKEIMG1"

# decoded-raster sanity bound shared by every from-scratch decoder:
# 2^28 samples (~268 MB of uint8) is far beyond any sane document
# raster (A3 at 600 dpi RGB is ~100M); header dims past it are
# corrupt/adversarial and would otherwise become multi-GB allocation
# bombs — a HANG class the corruption fuzz found, not an exception
MAX_DECODE_SAMPLES = 1 << 28


def check_dims(w: int, h: int, what: str, channels: int = 1) -> None:
    if w <= 0 or h <= 0 or w * h * channels > MAX_DECODE_SAMPLES:
        raise NotImplementedError(
            f"{what}: implausible dimensions {w}x{h}x{channels}"
        )

DECODED_SCHEMA = (
    "doc_id string, media_ref string, page_no int, height int, width int, "
    "pixels binary"
)

FEATURE_SCHEMA = (
    "doc_id string, media_ref string, page_no int, mean_px double, "
    "std_px double, nonzero_frac double"
)


def encode_fake(pages: list[np.ndarray]) -> bytes:
    """Deterministic fake encoder (test fixture side)."""
    h, w = pages[0].shape
    head = _MAGIC + struct.pack("<HHB", h, w, len(pages))
    return head + b"".join(p.astype(np.uint8).tobytes() for p in pages)


def encode_png(gray: np.ndarray) -> bytes:
    """PNG write sink: 8-bit grayscale, filter 0 per scanline, one IDAT,
    valid CRCs — the crop/page export counterpart of the from-scratch
    decoder (the reference writes crops with cv2.imwrite,
    tools/infer_det.py; also the payload generator for the
    decode_real_media bench leg)."""
    import zlib

    h, w = gray.shape
    rows = np.zeros((h, w + 1), dtype=np.uint8)
    rows[:, 1:] = gray
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(rows.tobytes()))
        + chunk(b"IEND", b"")
    )


def _luma(r: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Integer BT.601 luma — deterministic RGB→grayscale."""
    return (
        (299 * r.astype(np.uint32) + 587 * g.astype(np.uint32) + 114 * b.astype(np.uint32))
        // 1000
    ).astype(np.uint8)


def _gray(px: np.ndarray) -> np.ndarray:
    """A decoded page as grayscale: RGB folds to luma, gray passes."""
    if px.ndim == 3:
        return _luma(px[:, :, 0], px[:, :, 1], px[:, :, 2])
    return px


def _decode_pnm(data: bytes) -> np.ndarray:
    """PGM P2/P5 and PPM P6 parser (netpbm spec): magic, whitespace/
    comment-separated header tokens (width, height, maxval), then ascii
    samples (P2) or raw bytes (P5/P6)."""
    magic = data[:2]
    pos = 2
    tokens: list[int] = []
    while len(tokens) < 3:
        # skip whitespace and '#' comments
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if pos < len(data) and data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(data[start:pos]))
    w, h, maxval = tokens
    check_dims(w, h, "netpbm", 3)
    if not 0 < maxval <= 65535:
        # the netpbm legal maximum is 65535; beyond it the 2-byte raster
        # layout is undefined and decoding would yield silent garbage
        raise NotImplementedError(f"netpbm maxval {maxval} out of range")
    if magic == b"P2":
        vals = np.array(data[pos:].split()[: h * w], dtype=np.uint32)
        return (vals * 255 // maxval).astype(np.uint8).reshape(h, w)
    pos += 1  # single whitespace byte after maxval before raster
    # raw rasters: 1 byte/sample for maxval ≤ 255, else 2 bytes
    # BIG-endian (netpbm "plain raster" rule), scaled to 8-bit
    wide = maxval > 255
    if magic == b"P5":
        n = h * w
        if wide:
            v = np.frombuffer(data[pos : pos + 2 * n], dtype=">u2").astype(np.uint32)
            return (v * 255 // maxval).astype(np.uint8).reshape(h, w)
        px = np.frombuffer(data[pos : pos + n], dtype=np.uint8).reshape(h, w)
        return px if maxval == 255 else (px.astype(np.uint16) * 255 // maxval).astype(np.uint8)
    if magic == b"P6":
        n = h * w * 3
        if wide:
            v = np.frombuffer(data[pos : pos + 2 * n], dtype=">u2").astype(np.uint32)
            rgb = (v * 255 // maxval).astype(np.uint8).reshape(h, w, 3)
        else:
            rgb = np.frombuffer(data[pos : pos + n], dtype=np.uint8).reshape(h, w, 3)
            if maxval != 255:
                rgb = (rgb.astype(np.uint16) * 255 // maxval).astype(np.uint8)
        return _luma(rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2])
    raise NotImplementedError(f"netpbm magic {magic!r} not supported")


def _decode_pfm(data: bytes) -> np.ndarray:
    """Portable Float Map (PF color / Pf gray — the netpbm float
    extension cv2.imread supports): header tokens width/height/scale,
    scale's SIGN selects endianness (negative = little), float32 raster
    stored BOTTOM-UP. Output clips [0,1]-normalized values to 8-bit
    (|scale| is the normalization divisor), matching cv2's 8-bit read
    convention of clamping the float image."""
    lines = data.split(b"\n", 3)
    if len(lines) < 4:
        raise NotImplementedError("truncated PFM header")
    magic = lines[0].strip()
    w, h = (int(t) for t in lines[1].split())
    check_dims(w, h, "PFM", 3)
    scale = float(lines[2].decode("ascii"))
    raster = lines[3]
    nch = 3 if magic == b"PF" else 1
    dt = np.dtype(np.float32).newbyteorder("<" if scale < 0 else ">")
    n = h * w * nch
    px = np.frombuffer(raster[: n * 4], dtype=dt).reshape(h, w, nch)
    px = px[::-1]  # bottom-up
    norm = abs(scale) or 1.0
    # Corrupt streams can carry inf/NaN floats: keep the arithmetic
    # dtype unchanged for valid data but make non-finite values
    # well-defined (NaN→0) instead of UB NaN→uint8 casts.
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = px / norm * 255.0 + 0.5
    u8 = np.clip(
        np.nan_to_num(scaled, nan=0.0, posinf=255.0, neginf=0.0), 0, 255
    ).astype(np.uint8)
    if nch == 1:
        return u8[:, :, 0]
    return _luma(u8[:, :, 0], u8[:, :, 1], u8[:, :, 2])


def _decode_sun_raster(data: bytes) -> np.ndarray:
    """Sun Raster (.ras/.sr, cv2-readable): 8 big-endian int32 header
    words (magic 0x59a66a95, w, h, depth, length, rastype, maptype,
    maplength), optional RGB colormap, rows padded to 16 bits; depths
    1/8/24; RT_OLD/RT_STANDARD raw and RT_BYTE_ENCODED RLE (0x80 esc)."""
    magic, w, h, depth, _length, rastype, maptype, maplen = struct.unpack(
        ">8I", data[:32]
    )
    if magic != 0x59A66A95:
        raise NotImplementedError("not a Sun Raster stream")
    # Validate depth BEFORE any size arithmetic: a corrupt depth word
    # otherwise turns row_bytes*h into a multi-GB ljust allocation bomb
    # (caught by scripts/soak_decode_fuzz.py on a single header bitflip).
    if depth not in (1, 8, 24):
        raise NotImplementedError(f"Sun Raster depth {depth}")
    check_dims(w, h, "Sun Raster", 3)
    pos = 32
    cmap = None
    if maptype == 1 and maplen:  # RMT_EQUAL_RGB: r-plane, g-plane, b-plane
        planes = np.frombuffer(data[pos : pos + maplen], dtype=np.uint8)
        cmap = planes.reshape(3, maplen // 3)
        pos += maplen
    elif maplen:
        pos += maplen  # RMT_RAW: skip
    row_bytes = ((w * depth + 15) // 16) * 2  # rows pad to 16 bits
    need = row_bytes * h
    if rastype == 2:  # RT_BYTE_ENCODED: 0x80 <count> <byte> runs
        out = bytearray()
        i = pos
        while i < len(data) and len(out) < need:
            b = data[i]
            if b == 0x80:
                cnt = data[i + 1]
                if cnt == 0:
                    out.append(0x80)
                    i += 2
                else:
                    out += bytes([data[i + 2]]) * (cnt + 1)
                    i += 3
            else:
                out.append(b)
                i += 1
        raw = bytes(out[:need])
    elif rastype in (0, 1):  # RT_OLD / RT_STANDARD
        raw = data[pos : pos + need]
    else:
        raise NotImplementedError(f"Sun Raster type {rastype} (RT_FORMAT_*)")
    buf = np.frombuffer(raw.ljust(need, b"\x00"), dtype=np.uint8).reshape(h, row_bytes)
    if depth == 1:
        bits = np.unpackbits(buf, axis=1)[:, :w]
        return np.where(bits > 0, 0, 255).astype(np.uint8)  # 1 = black ink
    if depth == 8:
        idx = buf[:, :w]
        if cmap is not None:
            return _luma(cmap[0][idx], cmap[1][idx], cmap[2][idx])
        return idx.copy()
    if depth == 24:  # BGR order (like BMP)
        px = buf[:, : w * 3].reshape(h, w, 3)
        return _luma(px[:, :, 2], px[:, :, 1], px[:, :, 0])
    raise NotImplementedError(f"Sun Raster depth {depth}")


def _decode_hdr(data: bytes) -> np.ndarray:
    """Radiance HDR / RGBE (.hdr, cv2-readable): '#?RADIANCE' text
    header, '-Y h +X w' resolution line, per-scanline RGBE — new-style
    per-channel RLE (scanline marker 0x02 0x02) or flat/old-RLE rows.
    Shared-exponent decode (2^(e-136) per byte mantissa), then clamp to
    8-bit like cv2's LDR read of an HDR file."""
    nl = data.find(b"\n")
    if not data[:nl].startswith((b"#?RADIANCE", b"#?RGBE")):
        raise NotImplementedError("not a Radiance HDR stream")
    pos = 0
    # header ends at the first empty line; next line is the resolution
    while True:
        nl = data.find(b"\n", pos)
        if nl == -1:  # unterminated header must not loop forever
            raise NotImplementedError("HDR: unterminated header")
        line = data[pos:nl]
        pos = nl + 1
        if line == b"":
            break
    nl = data.find(b"\n", pos)
    if nl == -1:
        raise NotImplementedError("HDR: missing resolution line")
    res = data[pos:nl].split()
    pos = nl + 1
    if res[0] != b"-Y" or res[2] != b"+X":
        raise NotImplementedError(f"HDR orientation {b' '.join(res)!r}")
    h, w = int(res[1]), int(res[3])
    check_dims(w, h, "HDR", 4)
    rgbe = np.zeros((h, w, 4), dtype=np.uint8)
    for y in range(h):
        if (
            w >= 8
            and w < 0x8000
            and data[pos] == 2
            and data[pos + 1] == 2
            and (data[pos + 2] << 8 | data[pos + 3]) == w
        ):
            pos += 4  # new-style: 4 channels, each RLE'd over the row
            for c in range(4):
                x = 0
                while x < w:
                    n = data[pos]
                    if n > 128:  # run of n-128 copies
                        rgbe[y, x : x + n - 128, c] = data[pos + 1]
                        x += n - 128
                        pos += 2
                    else:  # n literals
                        lit = np.frombuffer(data[pos + 1 : pos + 1 + n], np.uint8)
                        rgbe[y, x : x + n, c] = lit
                        x += n
                        pos += 1 + n
        else:
            # flat or OLD-STYLE RLE row of RGBE quadruples: a quadruple
            # (1,1,1,n) repeats the previous pixel n << (8*shift) times,
            # consecutive markers raising the shift (Radiance color.c
            # oldreadcolrs). A row with no marker is plain flat data —
            # consume it vectorized; otherwise scan pixel-wise.
            chunk = np.frombuffer(data[pos : pos + w * 4], np.uint8)
            full = chunk.size == w * 4
            if full:
                quads = chunk.reshape(w, 4)
                has_marker = bool(
                    ((quads[:, 0] == 1) & (quads[:, 1] == 1)
                     & (quads[:, 2] == 1)).any()
                )
            else:
                has_marker = True  # short tail ⇒ the row must be RLE'd
            if not has_marker:
                rgbe[y] = quads
                pos += w * 4
            else:
                x = 0
                shift = 0
                while x < w:
                    r0, g0, b0, e0 = data[pos : pos + 4]
                    pos += 4
                    if r0 == 1 and g0 == 1 and b0 == 1:
                        if x == 0 and y == 0:
                            raise NotImplementedError(
                                "HDR old-RLE repeat with no previous pixel"
                            )
                        count = e0 << shift
                        if x + count > w:
                            raise NotImplementedError(
                                "HDR old-RLE run crosses the row end"
                            )
                        prev = rgbe[y, x - 1] if x else rgbe[y - 1, w - 1]
                        rgbe[y, x : x + count] = prev
                        x += count
                        shift += 8
                    else:
                        rgbe[y, x] = (r0, g0, b0, e0)
                        x += 1
                        shift = 0
    mant = rgbe[:, :, :3].astype(np.float64)
    exp = rgbe[:, :, 3].astype(np.int32)
    scale = np.where(exp > 0, np.power(2.0, exp - 136), 0.0)[:, :, None]
    rgb = mant * scale
    u8 = np.clip(rgb * 255.0 + 0.5, 0, 255).astype(np.uint8)
    return _luma(u8[:, :, 0], u8[:, :, 1], u8[:, :, 2])


def _bmp_rle_decode(data: bytes, pos: int, w: int, h: int, four_bit: bool) -> np.ndarray:
    """BI_RLE8 / BI_RLE4 → (h, w) palette indices in FILE row order
    (bottom-up; caller flips). Escapes: 00 00 end-of-line, 00 01
    end-of-bitmap, 00 02 dx dy delta, 00 n absolute run (word-padded)."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    while pos + 1 < len(data) and y < h:
        cnt, val = data[pos], data[pos + 1]
        pos += 2
        if cnt > 0:
            if four_bit:
                pair = [(val >> 4) & 0xF, val & 0xF]
                for i in range(cnt):
                    if x < w:
                        out[y, x] = pair[i & 1]
                        x += 1
            else:
                end = min(x + cnt, w)
                out[y, x:end] = val
                x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta
            x += data[pos]
            y += data[pos + 1]
            pos += 2
        else:  # absolute run of `val` pixels, padded to a word boundary
            if four_bit:
                nbytes = (val + 1) // 2
                for i in range(val):
                    b = data[pos + (i >> 1)]
                    if x < w:
                        out[y, x] = (b >> 4) & 0xF if i & 1 == 0 else b & 0xF
                        x += 1
                pos += nbytes + (nbytes & 1)
            else:
                end = min(x + val, w)
                out[y, x:end] = np.frombuffer(data[pos : pos + (end - x)], np.uint8)
                x += val
                pos += val + (val & 1)
    return out


def _decode_bmp(data: bytes) -> np.ndarray:
    """BMP parser (BITMAPFILEHEADER + BITMAPINFO/V4/V5 header):
    1/4/8-bit palette (raw + BI_RLE4/BI_RLE8), 16-bit (555 default or
    BI_BITFIELDS masks), 24-bit BGR, 32-bit BGRA/bitfields; bottom-up
    (positive height) or top-down (negative), rows padded to 4 bytes;
    output 8-bit grayscale."""
    if data[:2] != b"BM":
        raise NotImplementedError("not a BMP")
    (px_offset,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    w, h_signed = struct.unpack_from("<ii", data, 18)
    check_dims(w, abs(h_signed), "BMP", 4)
    _planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if hdr_size < 40 or bpp not in (1, 4, 8, 16, 24, 32):
        raise NotImplementedError(
            f"unsupported BMP shape (hdr={hdr_size}, comp={compression}, bpp={bpp})"
        )
    if compression not in (0, 1, 2, 3) or (compression == 1 and bpp != 8) or (
            compression == 2 and bpp != 4):
        raise NotImplementedError(f"BMP compression {compression} at {bpp} bpp")
    top_down = h_signed < 0
    h = abs(h_signed)
    row_bytes = ((w * bpp + 7) // 8 + 3) & ~3
    if bpp <= 8:
        # palette: 4 bytes/entry (B,G,R,0) after the info header (and
        # after the 12 mask bytes if comp=3 with a plain 40-byte header);
        # length is biClrUsed (0 = full 2^bpp), further bounded by the
        # bytes before pixel data — a fixed slice would read PIXELS as
        # palette for encoders that write a truncated table
        (clr_used,) = struct.unpack_from("<I", data, 46)
        pal_at = 14 + hdr_size + (12 if (compression == 3 and hdr_size == 40) else 0)
        n_entries = clr_used or (1 << bpp)
        n_entries = min(n_entries, max((px_offset - pal_at) // 4, 0))
        if n_entries <= 0:
            raise NotImplementedError("BMP palette missing")
        pal = np.frombuffer(
            data[pal_at : pal_at + 4 * n_entries], dtype=np.uint8
        ).reshape(-1, 4)
        gray_lut = _luma(pal[:, 2], pal[:, 1], pal[:, 0])
        # rows are sliced individually — a corrupt px_offset/size that
        # leaves EVERY row short would otherwise np.stack into a silent
        # (h, 0) raster (fuzz-caught on the bitfields leg), so each row
        # slice is length-checked before use
        def row_slice(y: int, nbytes: int) -> bytes:
            seg = data[px_offset + y * row_bytes :][:nbytes]
            if len(seg) != nbytes:
                raise NotImplementedError("BMP pixel data truncated")
            return seg

        if compression in (1, 2):
            idx = _bmp_rle_decode(data, px_offset, w, h, compression == 2)
        elif bpp == 8:
            rows = [
                np.frombuffer(row_slice(y, w), np.uint8) for y in range(h)
            ]
            idx = np.stack(rows)
        else:  # 1/4-bit packed, MSB-first within the byte
            nb = (w * bpp + 7) // 8
            buf = np.stack([
                np.frombuffer(row_slice(y, nb), np.uint8) for y in range(h)
            ])
            bits = np.unpackbits(buf, axis=1)[:, : w * bpp].reshape(h, w, bpp)
            weights = (1 << np.arange(bpp - 1, -1, -1)).astype(np.uint8)
            idx = (bits * weights).sum(axis=2).astype(np.uint8)
        if int(idx.max(initial=0)) >= n_entries:
            # an index past the palette is corrupt input — fail loud
            # rather than clamp to a garbage luma value
            raise NotImplementedError("BMP palette index out of range")
        px = gray_lut[idx]
    elif bpp in (16, 32):
        if compression == 3:
            rmask, gmask, bmask = struct.unpack_from("<III", data, 54)
        elif bpp == 16:
            rmask, gmask, bmask = 0x7C00, 0x03E0, 0x001F  # 555 default
        else:
            rmask, gmask, bmask = 0x00FF0000, 0x0000FF00, 0x000000FF

        def extract(v: np.ndarray, mask: int) -> np.ndarray:
            shift = (mask & -mask).bit_length() - 1
            width = int(mask >> shift).bit_length()
            c = (v >> shift) & (mask >> shift)
            return ((c.astype(np.uint32) * 255) // ((1 << width) - 1)).astype(np.uint8)

        step = bpp // 8
        dt = np.uint16 if bpp == 16 else np.uint32
        rows = []
        for y in range(h):
            off = px_offset + y * row_bytes
            seg = data[off : off + w * step]
            if len(seg) != w * step:  # fuzz-caught: silent (h, 0) raster
                raise NotImplementedError("BMP pixel data truncated")
            v = np.frombuffer(seg, dtype=f"<u{step}").astype(dt)
            rows.append(_luma(extract(v, rmask), extract(v, gmask), extract(v, bmask)))
        px = np.stack(rows)
    else:  # 24-bit BGR
        rows = []
        for y in range(h):
            off = px_offset + y * row_bytes
            seg = data[off : off + w * 3]
            if len(seg) != w * 3:
                raise NotImplementedError("BMP pixel data truncated")
            bgr = np.frombuffer(seg, dtype=np.uint8).reshape(w, 3)
            rows.append(_luma(bgr[:, 2], bgr[:, 1], bgr[:, 0]))
        px = np.stack(rows)
    return px if top_down else px[::-1].copy()


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG per-scanline filtering (spec §9 Filtering): each
    scanline is 1 filter-type byte + `stride` filtered bytes. Types
    0 None / 2 Up are vectorized; 1 Sub is a per-channel cumsum (the
    recurrence recon[x] = raw[x] + recon[x-bpp] telescopes); 3 Average
    and 4 Paeth carry an intra-row data dependence and run per-byte
    (fine: rows are short relative to the zlib inflate that dominates)."""
    out = np.zeros((h, stride), dtype=np.uint8)
    rows = raw.reshape(h, stride + 1)
    for y in range(h):
        ftype = int(rows[y, 0])
        cur = rows[y, 1:].copy()
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:
            out[y] = cur
        elif ftype == 1:  # Sub
            for c in range(bpp):
                out[y, c::bpp] = np.cumsum(cur[c::bpp], dtype=np.uint64) & 0xFF
        elif ftype == 2:  # Up
            out[y] = cur + prev  # uint8 wraps mod 256 per spec
        elif ftype == 3:  # Average
            for x in range(stride):
                left = int(out[y, x - bpp]) if x >= bpp else 0
                out[y, x] = (int(cur[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = int(out[y, x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out[y, x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise NotImplementedError(f"PNG filter type {ftype}")
    return out


_ADAM7 = (  # (x0, y0, dx, dy) per pass, PNG spec §8.2
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _decode_png(data: bytes) -> np.ndarray:
    """From-scratch PNG decoder (PNG spec, stdlib zlib for inflate):
    chunk walk (IHDR / PLTE / IDAT* / IEND), concatenated-IDAT zlib
    stream, all 5 scanline filters, 8-bit depth, color types 0 gray /
    2 RGB / 3 palette / 4 gray+alpha / 6 RGBA (alpha dropped, color via
    BT.601 luma — same normalization as the other codecs), progressive
    Adam7 interlace (7 independently-filtered sub-images), 16-bit
    samples (filtered at byte granularity per spec §9, down-converted
    via the high byte), and 1/2/4-bit gray/palette (MSB-first packed,
    byte-padded scanlines; gray scales to the full 8-bit range)."""
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError("not a PNG")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise NotImplementedError("PNG missing IHDR/IDAT")
    w, h, depth, ctype_n, comp, filt, interlace = ihdr
    check_dims(w, h, "PNG", 4)
    if depth not in (1, 2, 4, 8, 16) or comp != 0 or filt != 0 or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG depth={depth} interlace={interlace} not supported"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype_n)
    if channels is None:
        raise NotImplementedError(f"PNG color type {ctype_n}")
    if depth < 8 and ctype_n not in (0, 3):
        raise NotImplementedError(f"PNG depth {depth} with color type {ctype_n}")
    if depth == 16 and ctype_n == 3:
        raise NotImplementedError("PNG 16-bit palette is not legal")
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)

    def reconstruct(pw: int, ph: int, sub: np.ndarray) -> np.ndarray:
        """Unfilter + unpack one (sub-)image of `sub` raster bytes to
        (ph, pw, channels) samples (sub-byte depths bit-unpack per
        scanline; 16-bit keeps byte pairs until the final high-byte
        down-conversion)."""
        if depth >= 8:
            ch_b = channels * (depth // 8)
            pstride = pw * ch_b
        else:
            ch_b = 1  # filter bpp is max(1, depth/8)·channels = 1 byte
            pstride = (pw * depth + 7) // 8
        if sub.size != ph * (pstride + 1):
            raise NotImplementedError("PNG raster size mismatch")
        u = _png_unfilter(sub, ph, pstride, ch_b)
        if depth == 16:
            return u.reshape(ph, pw, channels, 2)[:, :, :, 0]
        if depth == 8:
            return u.reshape(ph, pw, channels)
        # 1/2/4-bit: MSB-first packed samples, scanlines pad to a byte
        bits = np.unpackbits(u, axis=1)[:, : pw * depth]
        weights = 1 << np.arange(depth - 1, -1, -1)
        vals = (bits.reshape(ph, pw, depth) * weights).sum(axis=2)
        return vals.astype(np.uint8).reshape(ph, pw, 1)

    if interlace == 0:
        px = reconstruct(w, h, raw)
    else:
        # Adam7: seven independently-filtered sub-images concatenated in
        # the same zlib stream; pass k covers the (x0 + i·dx, y0 + j·dy)
        # grid and empty passes contribute no bytes (PNG spec §8.2)
        px = np.zeros((h, w, channels), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            pstride = (
                pw * channels * (depth // 8) if depth >= 8 else (pw * depth + 7) // 8
            )
            sub = raw[off : off + ph * (pstride + 1)]
            if sub.size != ph * (pstride + 1):
                raise NotImplementedError("PNG interlaced raster size mismatch")
            off += ph * (pstride + 1)
            px[y0::dy, x0::dx] = reconstruct(pw, ph, sub)
        if off != raw.size:
            raise NotImplementedError("PNG interlaced raster size mismatch")
    if depth < 8:
        if ctype_n == 0:  # gray: scale to full 8-bit range (255/(2^d−1))
            px = (px.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(np.uint8)
        # palette indexes pass through unscaled
    if ctype_n == 0:
        return px[:, :, 0].copy()
    if ctype_n == 4:  # gray + alpha: drop alpha
        return px[:, :, 0].copy()
    if ctype_n == 3:
        if plte is None:
            raise NotImplementedError("palette PNG without PLTE")
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise NotImplementedError("PNG palette index out of range")
        rgb = plte[idx]
        return _luma(rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2])
    return _luma(px[:, :, 0], px[:, :, 1], px[:, :, 2])  # 2 RGB / 6 RGBA


def _gif_lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> np.ndarray:
    """GIF variable-width LZW decompressor (GIF89a spec appendix F):
    little-endian bit packing, clear/EOI codes, code width grows after
    the table fills through 12 bits. Returns exactly n_pixels palette
    indexes."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0

    def reset_table() -> tuple[dict[int, bytes], int, int]:
        return (
            {i: bytes([i]) for i in range(1 << min_code_size)},
            eoi + 1,
            min_code_size + 1,
        )

    table, next_code, width = reset_table()
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table, next_code, width = reset_table()
                prev = None
                continue
            if code == eoi:
                if n_out != n_pixels:
                    raise NotImplementedError("GIF LZW ended short")
                return out
            if code in table:
                entry = table[code]
            elif prev is not None and code == next_code:  # the KwKwK case
                entry = prev + prev[:1]
            else:
                raise NotImplementedError("corrupt GIF LZW stream")
            out[n_out : n_out + len(entry)] = np.frombuffer(entry, dtype=np.uint8)
            n_out += len(entry)
            if prev is not None and next_code < 4096:
                table[next_code] = prev + entry[:1]
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
    if n_out != n_pixels:
        raise NotImplementedError("GIF LZW stream truncated")
    return out


def _decode_gif(data: bytes) -> np.ndarray:
    """From-scratch GIF87a/89a FIRST-frame decoder (the reference's GIF
    semantics — check_and_read takes frame 0, tools/utils/utility.py:
    76-87): logical screen descriptor, global/local color table,
    extension-block skip, LZW raster, Adam-style 4-pass interlace
    reorder, palette → BT.601 luma."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF")
    sw, sh = struct.unpack_from("<HH", data, 6)
    check_dims(sw, sh, "GIF screen")
    flags = data[10]
    bg_idx = data[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            _left, _top, w, h = struct.unpack_from("<HHHH", data, pos + 1)
            iflags = data[pos + 9]
            pos += 10
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                pal = np.frombuffer(
                    data[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(-1, 3)
                pos += 3 * n
            if pal is None:
                raise NotImplementedError("GIF frame without a color table")
            min_code = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos] != 0:
                size = data[pos]
                lzw += data[pos + 1 : pos + 1 + size]
                pos += 1 + size
            idx = _gif_lzw_decode(min_code, bytes(lzw), h * w).reshape(h, w)
            if iflags & 0x40:  # interlaced: rows in 4-pass order
                order = (
                    list(range(0, h, 8)) + list(range(4, h, 8))
                    + list(range(2, h, 4)) + list(range(1, h, 2))
                )
                deinter = np.empty_like(idx)
                deinter[np.array(order)] = idx
                idx = deinter
            if int(idx.max(initial=0)) >= len(pal):
                raise NotImplementedError("GIF palette index out of range")
            rgb = pal[idx]
            frame = _luma(rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2])
            if (_left, _top) == (0, 0) and (w, h) == (sw, sh):
                return frame
            # sub-screen frame (optimizer output): composite frame 0
            # onto the logical screen at (left, top) over the
            # background color, so output dims match the full canvas
            if gct is not None and bg_idx < len(gct):
                bg = int(_luma(*(gct[bg_idx][i : i + 1].astype(np.uint8)
                                 for i in range(3)))[0])
            else:
                bg = 0
            canvas = np.full((sh, sw), bg, dtype=np.uint8)
            hh = min(h, max(sh - _top, 0))
            ww = min(w, max(sw - _left, 0))
            canvas[_top : _top + hh, _left : _left + ww] = frame[:hh, :ww]
            return canvas
        elif b0 == 0x3B:  # trailer before any image
            break
        else:
            raise NotImplementedError(f"unexpected GIF block 0x{b0:02x}")
    raise NotImplementedError("GIF contains no image frame")


def decode_bytes(data: bytes) -> list[np.ndarray]:
    """Codec entrypoint — format sniffed from the magic bytes. Real
    from-scratch decoders: PGM/PPM, uncompressed BMP, PNG (stdlib zlib
    inflate, all 5 filters, Adam7, full depth matrix), GIF87a/89a
    first frame (pure-python LZW), Flate/DCT-PDF image pages
    (kernels/pdf_format.py), and JPEG across the full T.81 process
    matrix (kernels/jpeg_format.py: sequential/progressive/lossless/
    hierarchical × Huffman/arithmetic), with EXIF orientation applied
    to standalone JPEGs as cv2.imread/imdecode do, and TIFF
    (kernels/tiff_format.py: strips/tiles, CCITT G3/G4 fax, LZW,
    Deflate, PackBits, JPEG-in-TIFF). Single-image
    formats return a 1-page list (check_and_read's contract,
    tools/utils/utility.py:76-107: everything normalizes to a page
    list); PDFs and multi-page TIFF IFD chains return one entry per
    page (1→N)."""
    if data[: len(_MAGIC)] == _MAGIC:
        h, w, n = struct.unpack("<HHB", data[len(_MAGIC) : len(_MAGIC) + 5])
        check_dims(w, h, "FAKEIMG", max(n, 1))
        body = data[len(_MAGIC) + 5 :]
        return [
            np.frombuffer(body[i * h * w : (i + 1) * h * w], dtype=np.uint8).reshape(
                h, w
            )
            for i in range(n)
        ]
    if data[:2] in (b"P2", b"P5", b"P6"):
        return [_decode_pnm(data)]
    if data[:2] == b"BM":
        return [_decode_bmp(data)]
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return [_decode_png(data)]
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return [_decode_gif(data)]
    if data[:5] == b"%PDF-":
        from openocr_spark.kernels.pdf_format import decode_pdf_pages

        return decode_pdf_pages(data)
    if data[:2] == b"\xff\xd8":
        from openocr_spark.kernels.jpeg_format import decode_jpeg

        return [_gray(decode_jpeg(data))]
    if data[:2] in (b"PF", b"Pf") and data[2:3].isspace():
        return [_decode_pfm(data)]
    if data[:4] == b"\x59\xa6\x6a\x95":
        return [_decode_sun_raster(data)]
    if data[:2] == b"#?" and data[: data.find(b"\n")] in (b"#?RADIANCE", b"#?RGBE"):
        return [_decode_hdr(data)]
    if data[:4] == b"\x76\x2f\x31\x01":
        from openocr_spark.kernels.exr_format import decode_exr

        return [_gray(decode_exr(data))]
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from openocr_spark.kernels.riff_media import decode_avi_frames

        return decode_avi_frames(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        raise NotImplementedError(
            "RIFF/WAVE is an audio container — use kernels/riff_media."
            "decode_wav or operators/multimodal.audio_stats"
        )
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from openocr_spark.kernels.webp_format import decode_webp

        return [_gray(decode_webp(data))]
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        from openocr_spark.kernels.tiff_format import decode_tiff

        return [_gray(px) for px in decode_tiff(data)]
    if data[:4] in (b"\x28\x00\x00\x00", b"\x6c\x00\x00\x00", b"\x7c\x00\x00\x00"):
        # headerless DIB (.dib — the BITMAPINFO/V4/V5 header with no BM
        # file header, as cv2.imread accepts): synthesize the 14-byte
        # file header; pixel data follows header (+ masks) + palette
        (hdr_size,) = struct.unpack_from("<I", data, 0)
        _w, _h = struct.unpack_from("<ii", data, 4)
        (bpp,) = struct.unpack_from("<H", data, 14)
        (comp,) = struct.unpack_from("<I", data, 16)
        (clr_used,) = struct.unpack_from("<I", data, 32)
        masks = 12 if (comp == 3 and hdr_size == 40) else 0
        pal = 4 * (clr_used or ((1 << bpp) if bpp <= 8 else 0))
        px_offset = 14 + hdr_size + masks + pal
        filehdr = b"BM" + struct.pack("<IHHI", 14 + len(data), 0, 0, px_offset)
        return [_decode_bmp(filehdr + data)]
    raise NotImplementedError(
        "unknown media magic; supported from-scratch codecs: FAKEIMG1, "
        "PGM/PPM (P2/P5/P6, 16-bit), BMP (1/4/8/16/24/32-bit, RLE4/"
        "RLE8, bitfields, headerless DIB), PNG (all "
        "depths incl. Adam7), GIF87a/89a first frame, PDF (Flate/"
        "DCTDecode/ObjStm), JPEG (T.81 sequential/progressive/"
        "lossless/hierarchical, Huffman + arithmetic), TIFF (strips/"
        "tiles, CCITT G3/G4, LZW, Deflate, PackBits, JPEG-in-TIFF, "
        "multi-page IFD chain), WebP lossless (VP8L), OpenEXR scanline "
        "(NONE/ZIPS/ZIP, half+float), PFM (float maps), Sun Raster "
        "(raw + RLE), Radiance HDR (RGBE)"
    )


def decode_media(df: DataFrame) -> DataFrame:
    """(doc_id, media_ref, content:binary) → one row per page
    (the check_and_read PDF→pages 1→N expansion, SURVEY §2.1 S2, as a
    mapInPandas explode)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref, content in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["content"]
            ):
                for page_no, px in enumerate(decode_bytes(bytes(content))):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "media_ref": ref,
                            "page_no": page_no,
                            "height": px.shape[0],
                            "width": px.shape[1],
                            "pixels": px.tobytes(),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "media_ref", "page_no", "height", "width", "pixels",
                ],
            )

    return df.mapInPandas(kernel, schema=DECODED_SCHEMA)


def extract_features(decoded: DataFrame) -> DataFrame:
    """Per-page feature extraction (vectorized numpy per Arrow batch) —
    the stand-in for embedding/feature models over decoded pixels."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            means, stds, nz = [], [], []
            for h, w, buf in zip(pdf["height"], pdf["width"], pdf["pixels"]):
                px = np.frombuffer(buf, dtype=np.uint8).reshape(int(h), int(w))
                means.append(float(px.mean()))
                stds.append(float(px.std()))
                nz.append(float((px > 0).mean()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "page_no": pdf["page_no"],
                    "mean_px": means,
                    "std_px": stds,
                    "nonzero_frac": nz,
                }
            )

    return decoded.mapInPandas(kernel, schema=FEATURE_SCHEMA)
