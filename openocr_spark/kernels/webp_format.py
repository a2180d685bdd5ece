"""From-scratch WebP lossless (VP8L) decoder — numpy + stdlib only.

The reference reads WebP implicitly through cv2.imread/imdecode
(opendet/preprocess/__init__.py:85-143, tools/utils/utility.py:76-107)
— web-crawl corpora, this engine's 100-TB target, carry WebP heavily.
Implements the published "WebP Lossless Bitstream Specification":

- RIFF/WEBP container walk (VP8L chunk direct, or inside a VP8X
  extended container; lossy VP8 chunks fail loudly at a documented
  boundary).
- LSB-first bit reader; 14-bit dimensions header.
- Prefix codes: "simple" (1-2 symbol) and full code-length-coded
  canonical codes (code-length-code ordering, repeat opcodes 16/17/18,
  and the optional max_symbol early-stop), decoded MSB-first within
  the code as the spec prescribes.
- Entropy image / meta prefix groups (per-block code-group selection),
  color cache (the 0x1e35a7bd multiplicative hash), LZ77 backward
  references with the 120-entry 2D plane-code distance mapping, and
  the length/distance extra-bits prefix ranges.
- All four transforms, inverted in reverse order: PREDICTOR (the 14
  spatial predictors incl. Select and the two ClampAddSubtract modes,
  per-channel mod-256), COLOR (signed 3.5 fixed-point cross-channel
  deltas), SUBTRACT_GREEN, and COLOR_INDEXING (cumulative palette with
  1/2/4-bit pixel bundling and the packed sub-resolution width).

The fixed constants below (code-length-code order, the plane-code
table) are published spec tables — the same sharing stance as the JPEG
Qe table and the T.4 run-length codes: constants ARE the wire
contract; the machinery here and in the independent test-side encoder
(tests/webp_ref_encoder.py) is written separately on each side.

Output: (h, w, 3) uint8 RGB (alpha dropped — cv2.imread's default
LDR/BGR read path does the same) or (h, w) when the image is gray.
"""

from __future__ import annotations

import array
import struct

import numpy as np

# spec table: order in which code-length-code lengths are transmitted
_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# spec table: the first 120 LZ77 distance codes map to 2D neighborhood
# offsets (x in [-8, 7], y in [0, 7]) in this exact order
_CODE_TO_PLANE = [
    0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29, 0x16, 0x1A,
    0x26, 0x2A, 0x38, 0x05, 0x37, 0x39, 0x15, 0x1B, 0x36, 0x3A,
    0x25, 0x2B, 0x48, 0x04, 0x47, 0x49, 0x14, 0x1C, 0x35, 0x3B,
    0x46, 0x4A, 0x24, 0x2C, 0x58, 0x45, 0x4B, 0x34, 0x3C, 0x03,
    0x57, 0x59, 0x13, 0x1D, 0x56, 0x5A, 0x23, 0x2D, 0x44, 0x4C,
    0x55, 0x5B, 0x33, 0x3D, 0x68, 0x02, 0x67, 0x69, 0x12, 0x1E,
    0x66, 0x6A, 0x22, 0x2E, 0x54, 0x5C, 0x43, 0x4D, 0x65, 0x6B,
    0x32, 0x3E, 0x78, 0x01, 0x77, 0x79, 0x53, 0x5D, 0x11, 0x1F,
    0x64, 0x6C, 0x42, 0x4E, 0x76, 0x7A, 0x21, 0x2F, 0x75, 0x7B,
    0x31, 0x3F, 0x63, 0x6D, 0x52, 0x5E, 0x00, 0x74, 0x7C, 0x41,
    0x4F, 0x10, 0x20, 0x62, 0x6E, 0x30, 0x73, 0x7D, 0x51, 0x5F,
    0x40, 0x72, 0x7E, 0x61, 0x6F, 0x50, 0x71, 0x7F, 0x60, 0x70,
]


class _LSBReader:
    """LSB-first bit reader with a refillable bit buffer (the DEFLATE
    byte-packing convention)."""

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.bytepos = 0
        self.buf = 0
        self.n = 0

    def _fill(self, need: int) -> None:
        # bulk refill: grab 12 bytes at once (LSB-first == little-endian
        # int.from_bytes). Past EOF, zero bytes are supplied and bytepos
        # keeps advancing over them. The pixel loop of
        # _decode_entropy_image refills the same way from its locals.
        d, bp, buf, n = self.d, self.bytepos, self.buf, self.n
        chunk = d[bp : bp + 12]
        if chunk:
            buf |= int.from_bytes(chunk, "little") << n
            n += 8 * len(chunk)
            bp += len(chunk)
        while n < need:  # zero-pad past EOF
            n += 8
            bp += 1
        self.bytepos, self.buf, self.n = bp, buf, n

    def bits(self, k: int) -> int:
        if self.n < k:
            self._fill(k)
        v = self.buf & ((1 << k) - 1)
        self.buf >>= k
        self.n -= k
        return v


class _Prefix:
    """Canonical prefix code (codes are MSB-first in the spec; against
    the LSB-first stream that makes the raw peeked value the
    bit-reversed code, so a full-width LUT indexes directly on it).
    `lut[bits & mask]` is (symbol, code length). A single-symbol code
    takes zero bits: a one-slot LUT with mask 0, so every read is the
    same three steps. Code lengths that overflow the code space or
    leave part of it unused are rejected, as libwebp does."""

    def __init__(self, lengths: list[int]) -> None:
        # canonical assignment: shorter codes first, ties by symbol
        nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise NotImplementedError("VP8L prefix code with no symbols")
        if len(nz) == 1:
            self.max_len, self.mask, self.lut = 0, 0, [(nz[0][1], 0)]
            return
        max_len = max(ln for ln, _ in nz)
        if max_len > 15:
            raise NotImplementedError("VP8L prefix code deeper than 15")
        size = 1 << max_len
        lut = [None] * size
        code = 0
        prev_len = 0
        for ln, sym in sorted(nz):
            code <<= ln - prev_len
            prev_len = ln
            if code >> ln:
                raise NotImplementedError("oversubscribed VP8L prefix code")
            rev = 0
            c = code
            for _ in range(ln):
                rev = (rev << 1) | (c & 1)
                c >>= 1
            step = 1 << ln
            # strided slice assignment instead of a Python fill loop —
            # deep tables fill thousands of slots per symbol
            lut[rev::step] = [(sym, ln)] * len(range(rev, size, step))
            code += 1
        if None in lut:
            raise NotImplementedError("incomplete VP8L prefix code")
        self.max_len, self.mask, self.lut = max_len, size - 1, lut

    def read(self, br: _LSBReader) -> int:
        if br.n < self.max_len:
            br._fill(self.max_len)
        sym, ln = self.lut[br.buf & self.mask]
        br.buf >>= ln
        br.n -= ln
        return sym


def _read_prefix_code(br: _LSBReader, alphabet_size: int) -> _Prefix:
    if br.bits(1):  # simple code: 1 or 2 symbols
        num_symbols = br.bits(1) + 1
        first_8bit = br.bits(1)
        lengths = [0] * alphabet_size
        s0 = br.bits(8 if first_8bit else 1)
        lengths[s0] = 1
        if num_symbols == 2:
            s1 = br.bits(8)
            lengths[s1] = 1
        return _Prefix(lengths)
    # full code: code lengths are themselves prefix-coded
    num_codes = br.bits(4) + 4
    clc_lengths = [0] * 19
    for i in range(num_codes):
        clc_lengths[_CLC_ORDER[i]] = br.bits(3)
    clc = _Prefix(clc_lengths)
    lengths = [0] * alphabet_size
    if br.bits(1):  # optional early-stop symbol count
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    sym = 0
    prev_len = 8
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = clc.read(br)
        if code_len < 16:
            lengths[sym] = code_len
            sym += 1
            if code_len != 0:
                prev_len = code_len
        elif code_len == 16:
            for _ in range(3 + br.bits(2)):
                if sym < alphabet_size:
                    lengths[sym] = prev_len
                    sym += 1
        elif code_len == 17:
            sym += 3 + br.bits(3)
        else:  # 18
            sym += 11 + br.bits(7)
    return _Prefix(lengths)


# LZ77 length/distance prefix code → (base, extra bits): the value is
# base + the next `extra` bits (spec §4.2.2)
_PREFIX_RANGE = [
    (c + 1, 0) if c < 4 else (((2 + (c & 1)) << ((c - 2) >> 1)) + 1, (c - 2) >> 1)
    for c in range(40)
]


def _decode_entropy_image(br: _LSBReader, w: int, h: int,
                          level0: bool) -> np.ndarray:
    """Spatially-coded ARGB image (used for the main image, entropy
    image, transform sub-images, and palettes) → uint32 (h, w). Every
    stream carries the color-cache flag; only the level-0 (main) image
    carries the meta-prefix-codes flag."""
    cache_bits = 0
    if br.bits(1):
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise NotImplementedError(f"VP8L color-cache bits {cache_bits}")
    meta = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.bits(1):  # meta prefix codes (main image only)
        meta_bits = br.bits(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        groups = (_decode_entropy_image(br, mw, mh, level0=False) >> 8) & 0xFFFF
        meta = groups.tolist()
        n_groups = int(groups.max()) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    green_alpha = 256 + 24 + cache_size
    codes = []
    for _ in range(n_groups):
        g = _read_prefix_code(br, green_alpha)
        r = _read_prefix_code(br, 256)
        b = _read_prefix_code(br, 256)
        a = _read_prefix_code(br, 256)
        dist = _read_prefix_code(br, 40)
        # red, blue and alpha all single-symbol (gray and palette
        # images): a literal is its green read OR one constant
        const = None
        if r.max_len == b.max_len == a.max_len == 0:
            const = (a.lut[0][0] << 24) | (r.lut[0][0] << 16) | b.lut[0][0]
        codes.append((g.lut, g.mask, r.lut, r.mask, b.lut, b.mask,
                      a.lut, a.mask, dist.lut, dist.mask, const))
    cache = [0] * cache_size
    cache_shift = 32 - cache_bits
    total = w * h
    out: list[int] = [0] * total
    block = 1 << meta_bits
    # The pixel loop is serial prefix decoding, written for the fewest
    # interpreted operations per symbol: the reader's state lives in
    # locals (written back at the end, so the next sub-image continues
    # from it); one refill check per symbol tops the buffer up to >= 60
    # bits, enough for a whole literal (4 codes of <= 15 bits) or
    # backref (15 + 10 + 15 + 18 bits); reads past the data get zero
    # bits. The prefix-code group is looked up again only where the
    # meta grid's block changes (a backref may run past that point).
    d, bp, buf, n = br.d, br.bytepos, br.buf, br.n
    pos = 0
    while pos < total:
        if meta is None:
            grp = codes[0]
            end = total
        else:  # decode up to the end of this meta block's row segment
            y, x = divmod(pos, w)
            grp = codes[meta[y >> meta_bits][x >> meta_bits]]
            end = pos + min(block - (x & (block - 1)), w - x)
        (glut, gmask, rlut, rmask, blut, bmask,
         alut, amask, dlut, dmask, const) = grp
        while pos < end:
            if n < 60:
                buf |= int.from_bytes(d[bp : bp + 12], "little") << n
                n += 96
                bp += 12
            s, ln = glut[buf & gmask]
            buf >>= ln
            n -= ln
            if s < 256:
                if const is None:
                    red, ln = rlut[buf & rmask]
                    buf >>= ln
                    blue, ln2 = blut[buf & bmask]
                    buf >>= ln2
                    alpha, ln3 = alut[buf & amask]
                    buf >>= ln3
                    n -= ln + ln2 + ln3
                    px = (alpha << 24) | (red << 16) | (s << 8) | blue
                else:
                    px = const | (s << 8)
                out[pos] = px
                pos += 1
                if cache_size:
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> cache_shift] = px
            elif s < 280:  # LZ77 backward reference
                length, k = _PREFIX_RANGE[s - 256]
                length += buf & ((1 << k) - 1)
                buf >>= k
                s, ln = dlut[buf & dmask]
                buf >>= ln
                dist, k2 = _PREFIX_RANGE[s]
                dist += buf & ((1 << k2) - 1)
                buf >>= k2
                n -= k + ln + k2
                if dist > 120:
                    dist -= 120
                else:
                    plane = _CODE_TO_PLANE[dist - 1]
                    dist = max(1, (plane >> 4) * w + 8 - (plane & 0xF))
                if dist > pos:
                    raise NotImplementedError("VP8L backref beyond start")
                length = min(length, total - pos)
                src = pos - dist
                if dist >= length:
                    out[pos : pos + length] = out[src : src + length]
                else:  # overlapping copy: the last `dist` pixels repeat
                    out[pos : pos + length] = (
                        out[src:pos] * (length // dist + 1)
                    )[:length]
                if cache_size:
                    for px in out[pos : pos + length]:
                        cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> cache_shift] = px
                pos += length
            else:  # color-cache reference
                out[pos] = cache[s - 280]
                pos += 1
    br.bytepos, br.buf, br.n = bp, buf, n
    # via array.array: ~3x faster than np.array on a list of ints
    return np.frombuffer(array.array("I", out), np.uintc).reshape(h, w)


# ------------------------------------------------------- inverse transforms


def _avg2t(a: tuple, b: tuple) -> tuple:
    return ((a[0] + b[0]) >> 1, (a[1] + b[1]) >> 1,
            (a[2] + b[2]) >> 1, (a[3] + b[3]) >> 1)


def _predict_tuple(mode: int, L: tuple, T: tuple, TL: tuple, TR: tuple) -> tuple:
    """One of the 14 spatial predictors over (a, r, g, b) int tuples.
    Plain-int arithmetic: ~10x faster than per-pixel tiny-ndarray ops
    in this inherently serial (L-dependent) recurrence."""
    if mode == 0:
        return (0xFF, 0, 0, 0)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2t(_avg2t(L, TR), T)
    if mode == 6:
        return _avg2t(L, TL)
    if mode == 7:
        return _avg2t(L, T)
    if mode == 8:
        return _avg2t(TL, T)
    if mode == 9:
        return _avg2t(T, TR)
    if mode == 10:
        return _avg2t(_avg2t(L, TL), _avg2t(T, TR))
    if mode == 11:  # Select: whole-pixel Manhattan choice
        pl = (abs(T[0] - TL[0]) + abs(T[1] - TL[1])
              + abs(T[2] - TL[2]) + abs(T[3] - TL[3]))
        pt = (abs(L[0] - TL[0]) + abs(L[1] - TL[1])
              + abs(L[2] - TL[2]) + abs(L[3] - TL[3]))
        return L if pl < pt else T
    if mode == 12:  # ClampAddSubtractFull, per channel
        return tuple(min(255, max(0, l + t - tl))
                     for l, t, tl in zip(L, T, TL))
    if mode == 13:  # ClampAddSubtractHalf (C-style truncating half-delta)
        out = []
        for l, t, tl in zip(L, T, TL):
            ave = (l + t) >> 1
            d = ave - tl
            half = (abs(d) // 2) * (1 if d >= 0 else -1)
            out.append(min(255, max(0, ave + half)))
        return tuple(out)
    raise NotImplementedError(f"VP8L predictor mode {mode}")


def _inv_predictor(px: np.ndarray, modes: np.ndarray, bits: int) -> np.ndarray:
    """px: (h, w, 4) uint8 ARGB residuals -> actual pixels (mod 256)."""
    h, w, _ = px.shape
    res = px.reshape(h * w, 4).tolist()
    out: list = [None] * (h * w)
    mode_rows = [[int(m) for m in row] for row in modes]
    pos = 0
    for y in range(h):
        mrow = mode_rows[y >> bits]
        for x in range(w):
            r = res[pos]
            if x == 0 and y == 0:
                p = (0xFF, 0, 0, 0)
            elif y == 0:
                p = out[pos - 1]  # first row: L
            elif x == 0:
                p = out[pos - w]  # first column: T
            else:
                L = out[pos - 1]
                T = out[pos - w]
                TL = out[pos - w - 1]
                # TR off the right edge: the FIRST pixel of the CURRENT
                # row (already reconstructed at x=0) -- the spec codifies
                # the reference decoder's contiguous-buffer addressing,
                # where top[width] aliases row y's pixel 0
                TR = out[pos - w + 1] if x + 1 < w else out[pos - x]
                p = _predict_tuple(mrow[x >> bits], L, T, TL, TR)
            out[pos] = ((r[0] + p[0]) & 0xFF, (r[1] + p[1]) & 0xFF,
                        (r[2] + p[2]) & 0xFF, (r[3] + p[3]) & 0xFF)
            pos += 1
    return np.array(out, dtype=np.uint8).reshape(h, w, 4)


def _ct_delta(pred: np.ndarray, val: np.ndarray) -> np.ndarray:
    """Signed 3.5 fixed-point cross-channel delta: (int8(p)*int8(v))>>5."""
    return (pred.astype(np.int8).astype(np.int32)
            * val.astype(np.int8).astype(np.int32)) >> 5


def _inv_color_transform(px: np.ndarray, elems: np.ndarray, bits: int) -> np.ndarray:
    h, w, _ = px.shape
    by = np.arange(h) >> bits
    bx = np.arange(w) >> bits
    blk = elems[np.ix_(by, bx)]
    g2r = (blk & 0xFF).astype(np.uint8)
    g2b = ((blk >> 8) & 0xFF).astype(np.uint8)
    r2b = ((blk >> 16) & 0xFF).astype(np.uint8)
    a, r, g, b = (px[:, :, i].astype(np.int32) for i in range(4))
    r = (r + _ct_delta(g2r, px[:, :, 2])) & 0xFF
    b = (b + _ct_delta(g2b, px[:, :, 2])) & 0xFF
    b = (b + _ct_delta(r2b, r.astype(np.uint8))) & 0xFF
    return np.stack([a, r, g, b], axis=2).astype(np.uint8)


def _inv_subtract_green(px: np.ndarray) -> np.ndarray:
    g = px[:, :, 2].astype(np.uint16)
    px = px.copy()
    px[:, :, 1] = ((px[:, :, 1] + g) % 256).astype(np.uint8)
    px[:, :, 3] = ((px[:, :, 3] + g) % 256).astype(np.uint8)
    return px


def decode_vp8l(data: bytes) -> np.ndarray:
    """VP8L chunk payload (starting at the 0x2F signature) → (h, w, 4)
    uint8 ARGB."""
    if data[0] != 0x2F:
        raise NotImplementedError("bad VP8L signature byte")
    br = _LSBReader(data[1:])
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bits(1)  # alpha-used hint
    if br.bits(3) != 0:
        raise NotImplementedError("VP8L version != 0")

    transforms = []  # applied forward in stream order; invert in reverse
    xsize = w
    while br.bits(1):
        ttype = br.bits(2)
        if ttype == 0:  # PREDICTOR
            bits = br.bits(3) + 2
            bw = (xsize + (1 << bits) - 1) >> bits
            bh = (h + (1 << bits) - 1) >> bits
            sub = _decode_entropy_image(br, bw, bh, level0=False)
            transforms.append(("pred", bits, (sub >> 8) & 0xFF))
        elif ttype == 1:  # COLOR
            bits = br.bits(3) + 2
            bw = (xsize + (1 << bits) - 1) >> bits
            bh = (h + (1 << bits) - 1) >> bits
            sub = _decode_entropy_image(br, bw, bh, level0=False)
            transforms.append(("color", bits, sub))
        elif ttype == 2:  # SUBTRACT_GREEN
            transforms.append(("subg", 0, None))
        else:  # COLOR_INDEXING
            n_colors = br.bits(8) + 1
            pal_img = _decode_entropy_image(br, n_colors, 1, level0=False)
            # palette entries are delta-coded component-wise
            pal = pal_img[0].astype(np.uint32)
            acc = np.zeros(4, dtype=np.uint32)
            # indices past the table give 0x00000000 (RFC 9649 §4.4;
            # libwebp zero-fills the 256-entry map the same way)
            out_pal = np.zeros(256, dtype=np.uint32)
            for i in range(n_colors):
                e = int(pal[i])
                comps = [(e >> s) & 0xFF for s in (24, 16, 8, 0)]
                acc = (acc + comps) % 256
                out_pal[i] = (int(acc[0]) << 24) | (int(acc[1]) << 16) | (
                    int(acc[2]) << 8) | int(acc[3])
            if n_colors <= 2:
                pack_bits = 3
            elif n_colors <= 4:
                pack_bits = 2
            elif n_colors <= 16:
                pack_bits = 1
            else:
                pack_bits = 0
            transforms.append(("palette", pack_bits, out_pal))
            xsize = (xsize + (1 << pack_bits) - 1) >> pack_bits

    argb_flat = _decode_entropy_image(br, xsize, h, level0=True)
    # unpack to (h, w, 4) uint8 ARGB channels
    img = np.stack([
        (argb_flat >> 24) & 0xFF, (argb_flat >> 16) & 0xFF,
        (argb_flat >> 8) & 0xFF, argb_flat & 0xFF,
    ], axis=2).astype(np.uint8)

    for kind, bits, aux in reversed(transforms):
        if kind == "palette":
            if bits:  # unbundle sub-pixels from the green channel
                packed = img[:, :, 2]
                per = 1 << bits
                ibits = 8 >> bits
                mask = (1 << ibits) - 1
                idx = np.zeros((h, w), dtype=np.int64)
                for i in range(per):
                    cols = np.arange(packed.shape[1]) * per + i
                    keep = cols < w
                    idx[:, cols[keep]] = (packed[:, keep] >> (i * ibits)) & mask
            else:
                idx = img[:, :, 2].astype(np.int64)
            px = aux[idx]
            img = np.stack([
                (px >> 24) & 0xFF, (px >> 16) & 0xFF,
                (px >> 8) & 0xFF, px & 0xFF,
            ], axis=2).astype(np.uint8)
        elif kind == "subg":
            img = _inv_subtract_green(img)
        elif kind == "color":
            img = _inv_color_transform(img, aux, bits)
        elif kind == "pred":
            img = _inv_predictor(img, aux, bits)
    return img


class _LSBWriterMin:
    """Minimal LSB-first bit writer for the encode sink below."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        assert 0 <= value < (1 << nbits), (value, nbits)
        self.acc |= value << self.n
        self.n += nbits
        while self.n >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def tobytes(self) -> bytes:
        out = bytes(self.buf)
        if self.n:
            out += bytes([self.acc & ((1 << self.n) - 1)])
        return out


def encode_webp_gray(gray: np.ndarray) -> bytes:
    """Minimal WebP-lossless WRITE sink (the encode side of S8/S10,
    like encode_png/encode_tiff_pages): a gray image as a literal-only
    VP8L stream — subtract-green transform makes red/blue residuals a
    constant 0, so the red/blue/alpha channels are single-symbol codes
    (zero bits per pixel) and only the green channel carries an 8-bit
    simple/full code per pixel. Lossless by construction; decode_webp
    round-trips bit-exact (pinned by test and usable by the
    decode_roundtrip driver oracle). The full feature matrix is
    exercised by the independent test-side encoder; this sink stays
    deliberately small and shares NO machinery with the decoder above
    beyond the module's spec constants."""
    gray = np.ascontiguousarray(gray, dtype=np.uint8)
    h, w = gray.shape
    if w > 16384 or h > 16384:
        # the VP8L header carries 14-bit dimension fields; anything
        # larger would silently overflow into the next field
        raise NotImplementedError(
            f"VP8L dimension limit is 16384, got {w}x{h}"
        )
    wtr = _LSBWriterMin()
    wtr.write(w - 1, 14)
    wtr.write(h - 1, 14)
    wtr.write(0, 1)  # alpha hint
    wtr.write(0, 3)  # version
    wtr.write(1, 1)  # one transform...
    wtr.write(2, 2)  # ...subtract-green (r/b residuals become 0)
    wtr.write(0, 1)  # no more transforms
    wtr.write(0, 1)  # no color cache
    wtr.write(0, 1)  # no meta prefix codes

    # green channel: a full code-length-coded table with every byte
    # value at length 8 (a complete, canonical, order-preserving code:
    # code(v) = v) and the 24 LZ77-length symbols at 0. Lengths go out
    # as one literal 8, repeat-16 runs to 256, then one repeat-18 zero
    # run over the tail. clc = {8:'0', 16:'10', 18:'11'} (canonical,
    # Kraft-complete).
    wtr.write(0, 1)  # not simple
    clc = {8: 1, 16: 2, 18: 2}
    order_pos = {s: i for i, s in enumerate(_CLC_ORDER)}
    num_codes = max(order_pos[s] for s in clc) + 1
    wtr.write(num_codes - 4, 4)
    for i in range(num_codes):
        wtr.write(clc.get(_CLC_ORDER[i], 0), 3)
    wtr.write(0, 1)  # no max_symbol

    def clc_emit(sym: int) -> None:  # codes written MSB-first, bit by bit
        if sym == 8:
            wtr.write(0, 1)
        elif sym == 16:
            wtr.write(1, 1)
            wtr.write(0, 1)
        else:  # 18
            wtr.write(1, 1)
            wtr.write(1, 1)

    clc_emit(8)  # literal length 8 for symbol 0 (prev_len := 8)
    emitted = 1
    while emitted < 256:
        run = min(6, 256 - emitted)
        if run >= 3:
            clc_emit(16)          # repeat prev_len
            wtr.write(run - 3, 2)
            emitted += run
        else:
            clc_emit(8)
            emitted += 1
    clc_emit(18)                  # 24 zeros for the LZ77-length symbols
    wtr.write(24 - 11, 7)
    # red/blue/alpha/distance: single-symbol simple codes (0 bits/px)
    for sym in (0, 0, 255, 0):
        wtr.write(1, 1)  # simple
        wtr.write(0, 1)  # one symbol
        if sym > 1:
            wtr.write(1, 1)
            wtr.write(sym, 8)
        else:
            wtr.write(0, 1)
            wtr.write(sym, 1)
    # pixels: green byte per pixel, canonical code(v) = v at length 8,
    # written MSB-first
    for v in gray.ravel():
        b = int(v)
        rev = 0
        for _ in range(8):
            rev = (rev << 1) | (b & 1)
            b >>= 1
        wtr.write(rev, 8)  # LSB-writer emits rev low-bit-first == MSB of v first
    payload = b"\x2f" + wtr.tobytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def decode_webp(data: bytes) -> np.ndarray:
    """RIFF/WEBP container → (h, w, 3) uint8 RGB (alpha dropped, like
    cv2.imread's default read)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise NotImplementedError("not a RIFF/WEBP stream")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"VP8L":
            argb = decode_vp8l(body)
            return argb[:, :, 1:4]  # RGB
        if tag == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 WebP not supported (VP8L lossless only)"
            )
        if tag == b"ANMF":
            # animated WebP: decode the FIRST frame's pixels — the same
            # first-frame convention the GIF path (and cv2.imread)
            # applies to animations. The 16-byte ANMF header (frame
            # x/y/w/h/duration/flags) precedes the frame's own chunks.
            inner = body[16:]
            ipos = 0
            while ipos + 8 <= len(inner):
                itag = inner[ipos : ipos + 4]
                (isize,) = struct.unpack("<I", inner[ipos + 4 : ipos + 8])
                if itag == b"VP8L":
                    argb = decode_vp8l(inner[ipos + 8 : ipos + 8 + isize])
                    return argb[:, :, 1:4]
                if itag == b"VP8 ":
                    raise NotImplementedError(
                        "lossy VP8 WebP not supported (VP8L lossless only)"
                    )
                ipos += 8 + isize + (isize & 1)
            raise NotImplementedError("ANMF frame without a VP8L chunk")
        # VP8X/ANIM/ALPH/ICCP/EXIF/XMP etc: walk on to the image chunk
        pos += 8 + size + (size & 1)
    raise NotImplementedError("WEBP container without a VP8L chunk")
