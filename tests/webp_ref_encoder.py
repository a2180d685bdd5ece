"""Test-side WebP-lossless (VP8L) ENCODER — written independently of
the package decoder (its own LSB bit writer, its own Huffman length
construction and canonical assignment, its own forward transforms and
LZ77 tokenizer) so decode(encode(px)) validates kernels/webp_format
against the published lossless bitstream spec rather than a sibling.
Only the spec-fixed constants (code-length-code order, plane-code
table) are shared by import — the Qe-table stance.

Feature coverage is option-driven so each test can turn on exactly one
decoder path: simple vs full prefix codes (with/without zero-run
repeat opcodes and the max_symbol early stop), color cache, LZ77
backrefs (1D distances and 2D plane codes), meta prefix groups, and
the four transforms (subtract-green, uniform/blocked predictor, color
transform, palette with bundling).
"""

from __future__ import annotations

import heapq
import struct

import numpy as np

from openocr_spark.kernels.webp_format import _CLC_ORDER, _CODE_TO_PLANE


class _LSBWriter:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:  # LSB-first field
        for i in range(n):
            self.bits.append((value >> i) & 1)

    def write_code(self, code: int, length: int) -> None:  # MSB-first code
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def tobytes(self) -> bytes:
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for j, bit in enumerate(self.bits[i : i + 8]):
                b |= bit << j
            out.append(b)
        return bytes(out)


# ------------------------------------------------------------ prefix codes


def _huff_lengths(freq: dict[int, int], max_depth: int = 15) -> dict[int, int]:
    """Huffman code lengths from frequencies, depth-limited to
    `max_depth` (15 for the main codes, 7 for the code-length code) by
    iteratively flattening the histogram (f -> ceil(f/2)) and
    rebuilding — terminates at the all-equal balanced tree, whose depth
    ceil(log2(n)) fits every VP8L alphabet within its limit."""
    syms = [s for s, f in freq.items() if f > 0]
    if not syms:
        raise ValueError("empty histogram")
    if len(syms) == 1:
        return {syms[0]: 1}
    cur = {s: freq[s] for s in syms}
    while True:
        heap = [(cur[s], i, (s,)) for i, s in enumerate(syms)]
        heapq.heapify(heap)
        tick = len(heap)
        depth = {s: 0 for s in syms}
        while len(heap) > 1:
            f1, _, g1 = heapq.heappop(heap)
            f2, _, g2 = heapq.heappop(heap)
            for s in g1 + g2:
                depth[s] += 1
            heapq.heappush(heap, (f1 + f2, tick, g1 + g2))
            tick += 1
        if max(depth.values()) <= max_depth:
            return depth
        cur = {s: (f + 1) // 2 for s, f in cur.items()}


def _canonical(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """{sym: (code, len)} with the (len, sym)-sorted canonical rule."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    prev = 0
    for ln, sym in sorted((ln, s) for s, ln in lengths.items()):
        code <<= ln - prev
        out[sym] = (code, ln)
        code += 1
        prev = ln
    return out


def _write_prefix_code(w: _LSBWriter, lengths: dict[int, int],
                       alphabet_size: int, use_repeats: bool = True,
                       use_max_symbol: bool = False) -> None:
    syms = sorted(lengths)
    if len(syms) <= 2 and all(lengths[s] == 1 for s in syms) and max(syms) < 256:
        w.write(1, 1)  # simple code
        w.write(len(syms) - 1, 1)
        first_8bit = 1 if syms[0] > 1 else 0
        w.write(first_8bit, 1)
        w.write(syms[0], 8 if first_8bit else 1)
        if len(syms) == 2:
            w.write(syms[1], 8)
        return
    w.write(0, 1)  # full code-length coding
    seq = [lengths.get(s, 0) for s in range(alphabet_size)]
    last = max(i for i, v in enumerate(seq) if v > 0)
    # token stream over code lengths. Without the max_symbol early-stop
    # the decoder reads lengths for the WHOLE alphabet, so trailing
    # zeros must be transmitted (as 17/18 repeats or literals).
    tokens: list[tuple[int, int, int]] = []  # (symbol, extra, extra_bits)
    i = 0
    end = last + 1 if use_max_symbol else alphabet_size
    while i < end:
        v = seq[i]
        run = 1
        while i + run < end and seq[i + run] == v:
            run += 1
        if v == 0 and use_repeats and run >= 3:
            left = run
            while left >= 3:
                if left >= 11:
                    n = min(left, 138)
                    tokens.append((18, n - 11, 7))
                else:
                    n = left
                    tokens.append((17, n - 3, 3))
                left -= n
            for _ in range(left):
                tokens.append((0, 0, 0))
            i += run
        else:
            for _ in range(run):
                tokens.append((v, 0, 0))
            i += run
    clc_freq: dict[int, int] = {}
    for sym, _, _ in tokens:
        clc_freq[sym] = clc_freq.get(sym, 0) + 1
    clc_len = _huff_lengths(clc_freq, max_depth=7)
    assert max(clc_len.values()) <= 7, "code-length code too deep"
    clc_codes = _canonical(clc_len)
    # how many of the ordered slots must be transmitted
    used = set(clc_len)
    num_codes = max(i for i, s in enumerate(_CLC_ORDER) if s in used) + 1
    num_codes = max(num_codes, 4)
    w.write(num_codes - 4, 4)
    for i in range(num_codes):
        w.write(clc_len.get(_CLC_ORDER[i], 0), 3)
    if use_max_symbol:
        w.write(1, 1)
        n_tokens = len(tokens)
        nbits_sel = 7  # length_nbits = 2 + 2*7 = 16 bits
        w.write(nbits_sel, 3)
        w.write(n_tokens - 2, 2 + 2 * nbits_sel)
    else:
        w.write(0, 1)
    for sym, extra, ebits in tokens:
        c, ln = clc_codes[sym]
        w.write_code(c, ln)
        if ebits:
            w.write(extra, ebits)


# -------------------------------------------------------------- LZ77 model


def _range_code(v: int) -> tuple[int, int, int]:
    """value ≥ 1 → (prefix code, extra value, extra bits)."""
    x = v - 1
    if x < 4:
        return x, 0, 0
    e = x.bit_length() - 2
    b = (x >> e) - 2
    return 2 * e + 2 + b, x - ((2 + b) << e), e


_PLANE_INDEX = {p: i + 1 for i, p in enumerate(_CODE_TO_PLANE)}


def _dist_to_code(dist: int, width: int) -> int:
    """Prefer a 2D plane code when the offset is in the neighborhood."""
    y, rem = divmod(dist, width)
    for yoff, xoff in ((y, rem), (y + 1, rem - width)):
        if not (0 <= yoff <= 7 and -7 <= xoff <= 8):
            continue
        if yoff == 0 and xoff <= 0:
            continue
        plane = (yoff << 4) | (8 - xoff)  # xoff = 8 - (plane & 0xF)
        idx = _PLANE_INDEX.get(plane)
        if idx is not None and yoff * width + xoff == dist:
            return idx
    return dist + 120


def _cache_key(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


def _tokenize(pixels: list[int], width: int, cache_bits: int,
              lz77: bool) -> list[tuple]:
    """→ tokens: ('lit', argb) | ('cache', idx) | ('copy', len, dist)."""
    cache = [None] * (1 << cache_bits) if cache_bits else None
    out: list[tuple] = []
    i = 0
    n = len(pixels)
    while i < n:
        px = pixels[i]
        if lz77 and i > 0:
            # greedy: try dist=1 and dist=width runs
            best_len, best_dist = 0, 0
            for dist in (1, width, width + 1):
                if dist > i:
                    continue
                ln = 0
                while i + ln < n and ln < 4096 and pixels[i + ln] == pixels[i + ln - dist]:
                    ln += 1
                if ln > best_len:
                    best_len, best_dist = ln, dist
            if best_len >= 3:
                out.append(("copy", best_len, best_dist))
                if cache is not None:
                    for k in range(best_len):
                        cache[_cache_key(pixels[i + k], cache_bits)] = pixels[i + k]
                i += best_len
                continue
        if cache is not None and cache[_cache_key(px, cache_bits)] == px:
            out.append(("cache", _cache_key(px, cache_bits)))
            i += 1
            continue
        out.append(("lit", px))
        if cache is not None:
            cache[_cache_key(px, cache_bits)] = px
        i += 1
    return out


def _write_image_stream(w: _LSBWriter, pixels: list[int], width: int,
                        level0: bool, cache_bits: int = 0,
                        lz77: bool = False, meta: dict | None = None,
                        use_repeats: bool = True,
                        use_max_symbol: bool = False) -> None:
    if cache_bits:
        w.write(1, 1)
        w.write(cache_bits, 4)
    else:
        w.write(0, 1)
    n_groups = 1
    meta_bits = 0
    group_of_block = None
    if level0:
        if meta:
            w.write(1, 1)
            meta_bits = meta["bits"]
            w.write(meta_bits - 2, 3)
            mw = (width + (1 << meta_bits) - 1) >> meta_bits
            h = (len(pixels) + width - 1) // width
            mh = (h + (1 << meta_bits) - 1) >> meta_bits
            group_of_block = meta["groups"]  # (mh, mw) int array
            n_groups = int(group_of_block.max()) + 1
            meta_pixels = [
                (0xFF << 24) | (int(g) << 8) for g in group_of_block.ravel()
            ]
            _write_image_stream(w, meta_pixels, mw, level0=False)
        else:
            w.write(0, 1)

    tokens = _tokenize(pixels, width, cache_bits, lz77)
    # token → group assignment follows the pixel position
    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    freqs = [
        {"g": {}, "r": {}, "b": {}, "a": {}, "d": {}} for _ in range(n_groups)
    ]

    def bump(f, k, s):
        f[k][s] = f[k].get(s, 0) + 1

    pos = 0
    tok_group = []
    for t in tokens:
        if group_of_block is not None:
            x, y = pos % width, pos // width
            g = int(group_of_block[y >> meta_bits, x >> meta_bits])
        else:
            g = 0
        tok_group.append(g)
        f = freqs[g]
        if t[0] == "lit":
            px = t[1]
            bump(f, "g", (px >> 8) & 0xFF)
            bump(f, "r", (px >> 16) & 0xFF)
            bump(f, "b", px & 0xFF)
            bump(f, "a", (px >> 24) & 0xFF)
            pos += 1
        elif t[0] == "cache":
            bump(f, "g", 280 + t[1])
            pos += 1
        else:
            code, _, _ = _range_code(t[1])
            bump(f, "g", 256 + code)
            # the distance prefix code is over the (plane-mapped) distance CODE
            pc, _, _ = _range_code(_dist_to_code(t[2], width))
            bump(f, "d", pc)
            pos += t[1]

    group_codes = []
    for g in range(n_groups):
        f = freqs[g]
        chans = {}
        for key, alpha_size in (("g", green_alpha), ("r", 256), ("b", 256),
                                ("a", 256), ("d", 40)):
            fr = f[key]
            fr = {k: v for k, v in fr.items() if v > 0}
            if not fr:
                fr = {0: 1}  # unused channel: 1-symbol placeholder code
            lens = _huff_lengths(fr)
            _write_prefix_code(w, lens, alpha_size, use_repeats,
                               use_max_symbol)
            chans[key] = _canonical(lens)
        group_codes.append(chans)

    def emit(chans, key, sym):
        code, ln = chans[key][sym]
        if len(chans[key]) == 1:
            return  # single-symbol codes read no bits
        w.write_code(code, ln)

    for t, g in zip(tokens, tok_group):
        chans = group_codes[g]
        if t[0] == "lit":
            px = t[1]
            emit(chans, "g", (px >> 8) & 0xFF)
            emit(chans, "r", (px >> 16) & 0xFF)
            emit(chans, "b", px & 0xFF)
            emit(chans, "a", (px >> 24) & 0xFF)
        elif t[0] == "cache":
            emit(chans, "g", 280 + t[1])
        else:
            lcode, lextra, lbits = _range_code(t[1])
            emit(chans, "g", 256 + lcode)
            if lbits:
                w.write(lextra, lbits)
            dc = _dist_to_code(t[2], width)
            pc, pextra, pbits = _range_code(dc)
            emit(chans, "d", pc)
            if pbits:
                w.write(pextra, pbits)


# --------------------------------------------------------------- transforms


def _fwd_subtract_green(argb: np.ndarray) -> np.ndarray:
    a = (argb >> 24) & 0xFF
    r = (argb >> 16) & 0xFF
    g = (argb >> 8) & 0xFF
    b = argb & 0xFF
    r = (r - g) & 0xFF
    b = (b - g) & 0xFF
    return (a << 24) | (r << 16) | (g << 8) | b


def _ctd(pred: int, val: int) -> int:
    p = pred - 256 if pred >= 128 else pred
    v = val - 256 if val >= 128 else val
    return (p * v) >> 5


def _fwd_color_transform(argb: np.ndarray, g2r: int, g2b: int, r2b: int) -> np.ndarray:
    out = argb.copy()
    h, w = argb.shape
    for y in range(h):
        for x in range(w):
            px = int(argb[y, x])
            a = (px >> 24) & 0xFF
            r = (px >> 16) & 0xFF
            g = (px >> 8) & 0xFF
            b = px & 0xFF
            nr = (r - _ctd(g2r, g)) & 0xFF
            nb = (b - _ctd(g2b, g) - _ctd(r2b, r)) & 0xFF
            out[y, x] = (a << 24) | (nr << 16) | (g << 8) | nb
    return out


def _avg2(a, b):
    return tuple((x + y) // 2 for x, y in zip(a, b))


def _chan(px: int) -> tuple[int, int, int, int]:
    return ((px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF)


def _pack(c) -> int:
    return (c[0] << 24) | (c[1] << 16) | (c[2] << 8) | c[3]


def _predict_px(mode: int, L, T, TL, TR) -> tuple:
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
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:
        pl = sum(abs(t - tl) for t, tl in zip(T, TL))
        pt = sum(abs(l - tl) for l, tl in zip(L, TL))
        return L if pl < pt else T
    if mode == 12:
        return tuple(min(255, max(0, l + t - tl)) for l, t, tl in zip(L, T, TL))
    if mode == 13:
        ave = _avg2(L, T)
        out = []
        for av, tl in zip(ave, TL):
            d = av - tl
            half = (abs(d) // 2) * (1 if d >= 0 else -1)
            out.append(min(255, max(0, av + half)))
        return tuple(out)
    raise ValueError(mode)


def _fwd_predictor(argb: np.ndarray, modes: np.ndarray, bits: int) -> np.ndarray:
    """Residuals = pixel − prediction (per channel mod 256), predictions
    from the ACTUAL image (what the decoder reconstructs)."""
    h, w = argb.shape
    res = np.zeros_like(argb)
    for y in range(h):
        for x in range(w):
            cur = _chan(int(argb[y, x]))
            if x == 0 and y == 0:
                pred = (0xFF, 0, 0, 0)
            elif y == 0:
                pred = _chan(int(argb[0, x - 1]))
            elif x == 0:
                pred = _chan(int(argb[y - 1, 0]))
            else:
                mode = int(modes[y >> bits, x >> bits])
                L = _chan(int(argb[y, x - 1]))
                T = _chan(int(argb[y - 1, x]))
                TL = _chan(int(argb[y - 1, x - 1]))
                # TR at the right edge: first pixel of the CURRENT row
                # (the reference decoder's top[width] buffer aliasing)
                TR = _chan(int(argb[y - 1, x + 1])) if x + 1 < w else _chan(
                    int(argb[y, 0]))
                pred = _predict_px(mode, L, T, TL, TR)
            res[y, x] = _pack(tuple((c - p) & 0xFF for c, p in zip(cur, pred)))
    return res


# ------------------------------------------------------------------ driver


def encode_vp8l(img: np.ndarray, *, cache_bits: int = 0, lz77: bool = False,
                subtract_green: bool = False,
                predictor: tuple[np.ndarray, int] | None = None,
                color: tuple[int, int, int, int] | None = None,
                palette: bool = False,
                color_table: list[int] | None = None,
                meta: dict | None = None,
                use_repeats: bool = True,
                use_max_symbol: bool = False,
                vp8x: bool = False) -> bytes:
    """img: (h, w, 3) uint8 RGB or (h, w) gray → RIFF/WEBP bytes.

    predictor: (modes array of shape (ceil(h/b), ceil(w/b)), size_bits)
    color: (g2r, g2b, r2b, size_bits) uniform transform element
    meta: {'bits': n, 'groups': (mh, mw) int array} meta prefix groups
    color_table: ARGB entries written as the color-indexing table; `img`
    is then a 2-D array of indices into it, which may point past its end
    """
    if color_table is not None:
        indices = np.asarray(img, dtype=np.int64)
        img = np.zeros(indices.shape + (3,), dtype=np.uint8)
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=2)
    h, w0, _ = img.shape
    argb = (
        (np.uint32(0xFF) << 24)
        | (img[:, :, 0].astype(np.uint32) << 16)
        | (img[:, :, 1].astype(np.uint32) << 8)
        | img[:, :, 2].astype(np.uint32)
    )

    wtr = _LSBWriter()
    wtr.write(w0 - 1, 14)
    wtr.write(h - 1, 14)
    wtr.write(0, 1)  # alpha hint
    wtr.write(0, 3)  # version

    width = w0
    # transforms, in stream order; data must be transformed in the same
    # order (decoder inverts in reverse)
    if subtract_green:
        wtr.write(1, 1)
        wtr.write(2, 2)
        argb = _fwd_subtract_green(argb)
    if color is not None:
        g2r, g2b, r2b, bits = color
        wtr.write(1, 1)
        wtr.write(1, 2)
        wtr.write(bits - 2, 3)
        bw = (width + (1 << bits) - 1) >> bits
        bh = (h + (1 << bits) - 1) >> bits
        elem = (0xFF << 24) | (r2b << 16) | (g2b << 8) | g2r
        _write_image_stream(wtr, [elem] * (bw * bh), bw, level0=False)
        argb = _fwd_color_transform(argb, g2r, g2b, r2b)
    if predictor is not None:
        modes, bits = predictor
        wtr.write(1, 1)
        wtr.write(0, 2)
        wtr.write(bits - 2, 3)
        bw = (width + (1 << bits) - 1) >> bits
        bh = (h + (1 << bits) - 1) >> bits
        assert modes.shape == (bh, bw)
        argb = _fwd_predictor(argb, modes, bits)
        mode_pixels = [
            (0xFF << 24) | (int(m) << 8) for m in modes.ravel()
        ]
        _write_image_stream(wtr, mode_pixels, bw, level0=False)
    if palette or color_table is not None:
        if color_table is None:
            uniq = sorted(set(int(v) for v in argb.ravel()))
        else:
            uniq = list(color_table)
        n_colors = len(uniq)
        assert n_colors <= 256
        wtr.write(1, 1)
        wtr.write(3, 2)
        wtr.write(n_colors - 1, 8)
        # palette stream: component-wise delta-coded entries
        deltas = []
        prev = 0
        for v in uniq:
            d = 0
            for s in (24, 16, 8, 0):
                d |= (((v >> s) - (prev >> s)) & 0xFF) << s
            deltas.append(d)
            prev = v
        _write_image_stream(wtr, deltas, n_colors, level0=False)
        if n_colors <= 2:
            pack_bits = 3
        elif n_colors <= 4:
            pack_bits = 2
        elif n_colors <= 16:
            pack_bits = 1
        else:
            pack_bits = 0
        if color_table is None:
            index_of = {v: i for i, v in enumerate(uniq)}
            idx = np.vectorize(index_of.get)(argb)
        else:
            idx = indices
        if pack_bits:
            per = 1 << pack_bits
            ibits = 8 >> pack_bits
            packed_w = (width + per - 1) // per
            packed = np.zeros((h, packed_w), dtype=np.uint32)
            for i in range(per):
                cols = np.arange(packed_w) * per + i
                keep = cols < width
                packed[:, keep] |= idx[:, cols[keep]].astype(np.uint32) << (
                    i * ibits)
            argb = (np.uint32(0xFF) << 24) | (packed << 8)
            width = packed_w
        else:
            argb = (np.uint32(0xFF) << 24) | (idx.astype(np.uint32) << 8)

    wtr.write(0, 1)  # no more transforms
    pixels = [int(v) for v in argb.ravel()]
    _write_image_stream(wtr, pixels, width, level0=True,
                        cache_bits=cache_bits, lz77=lz77, meta=meta,
                        use_repeats=use_repeats,
                        use_max_symbol=use_max_symbol)

    payload = b"\x2f" + wtr.tobytes()
    if len(payload) % 2:
        padded = payload + b"\x00"
    else:
        padded = payload
    chunks = b"VP8L" + struct.pack("<I", len(payload)) + padded
    if vp8x:
        flags = 0
        vp8x_body = struct.pack("<I", flags)[:4] + _u24(w0 - 1) + _u24(h - 1)
        chunks = b"VP8X" + struct.pack("<I", 10) + vp8x_body + chunks
    riff = b"WEBP" + chunks
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _u24(v: int) -> bytes:
    return bytes([v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF])
