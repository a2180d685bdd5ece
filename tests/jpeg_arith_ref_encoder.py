"""Test-side ARITHMETIC-coded JPEG encoder (T.81 Annex D/F, SOF9) —
the encode direction implemented independently of the package decoder
(its own carry/stuff byte-out pipeline, its own statistics
bookkeeping), so decode(arith_encode(img)) validates
kernels/jpeg_arith against the spec rather than a code sibling. The
Qe state table is fixed by the spec (Table D.3) and imported — it is
data, not logic.

The pixel pipeline (plane prep, forward DCT, quantization) is shared
with jpeg_ref_encoder: the property the tests pin is that the
ARITHMETIC entropy layer round-trips the same quantized coefficients
bit-identically to the Huffman entropy layer.
"""

from __future__ import annotations

import os
import struct
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jpeg_ref_encoder import ZIG, K1, _color_planes, _dqt_seg, _seg, fdct_8x8  # noqa: E402

from openocr_spark.kernels.jpeg_arith import FIXED_BIN, QE_TABLE  # noqa: E402


class _Ctx:
    __slots__ = ("idx", "mps")

    def __init__(self, idx: int = 0) -> None:
        self.idx = idx
        self.mps = 0


class ArithEncoder:
    """QM encoder: software-convention registers, pending-byte buffer
    with stacked-0xFF carry resolution, 0xFF00 byte stuffing."""

    def __init__(self) -> None:
        self.a = 0x8000
        self.c = 0
        self.ct = 11
        self.out = bytearray()
        self.buffer: int | None = None  # pending byte awaiting carry
        self.sc = 0  # stacked 0xFF bytes after the pending byte

    # --- byte plumbing -------------------------------------------------
    def _emit(self, b: int) -> None:
        self.out.append(b)
        if b == 0xFF:
            self.out.append(0x00)  # JPEG byte stuffing

    def _flush_pending(self, carry: bool) -> None:
        if carry:
            if self.buffer is not None:
                self._emit(self.buffer + 1)
            for _ in range(self.sc):
                self._emit(0x00)  # carry turns stacked 0xFFs into 0x00
        else:
            if self.buffer is not None:
                self._emit(self.buffer)
            for _ in range(self.sc):
                self._emit(0xFF)  # _emit stuffs the 0x00 after each
        self.buffer = None
        self.sc = 0

    def _byteout(self) -> None:
        t = self.c >> 19
        if t > 0xFF:
            self._flush_pending(carry=True)
            self.buffer = t & 0xFF
        elif t == 0xFF:
            self.sc += 1
        else:
            self._flush_pending(carry=False)
            self.buffer = t
        self.c &= 0x7FFFF

    def _renorm(self) -> None:
        while True:
            self.a = (self.a << 1) & 0xFFFF
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
                self.ct = 8
            if self.a & 0x8000:
                break

    # --- symbol coding (Figures D.5-D.9) -------------------------------
    def encode(self, ctx: _Ctx, d: int) -> None:
        qe, nmps, nlps, switch = QE_TABLE[ctx.idx]
        self.a -= qe
        if d == ctx.mps:
            if self.a & 0x8000:
                return
            if self.a < qe:  # conditional exchange: MPS takes upper
                self.c += self.a
                self.a = qe
            ctx.idx = nmps
            self._renorm()
        else:
            if self.a >= qe:  # no exchange: LPS takes upper
                self.c += self.a
                self.a = qe
            if switch:
                ctx.mps = 1 - ctx.mps
            ctx.idx = nlps
            self._renorm()

    def flush(self) -> bytes:
        # CLEARBITS (Figure D.11) + final byteouts
        t = (self.c + self.a - 1) & 0xFFFF0000
        if t < self.c:
            t += 0x8000
        self.c = t
        self.c <<= self.ct
        self._byteout()
        self.c <<= 8
        self._byteout()
        self._flush_pending(carry=False)
        data = bytes(self.out)
        self.__init__()
        return data


class _Stats:
    def __init__(self, n_dc_tables: int, n_ac_tables: int) -> None:
        self.dc = [[_Ctx() for _ in range(64)] for _ in range(n_dc_tables)]
        self.ac = [[_Ctx() for _ in range(256)] for _ in range(n_ac_tables)]
        self.fixed = _Ctx(FIXED_BIN)


def _encode_dc(enc: ArithEncoder, st: list[_Ctx], dc_context: list[int],
               ci: int, diff: int, cond: tuple[int, int]) -> None:
    L, U = cond
    base = dc_context[ci]
    if diff == 0:
        enc.encode(st[base], 0)
        dc_context[ci] = 0
        return
    enc.encode(st[base], 1)
    sign = 1 if diff < 0 else 0
    enc.encode(st[base + 1], sign)
    v = (-diff if sign else diff) - 1
    k = base + 2 + sign
    m = 0
    if v:
        enc.encode(st[k], 1)
        m = 1
        v2 = v
        k = 20
        while v2 >> 1:
            v2 >>= 1
            enc.encode(st[k], 1)
            m <<= 1
            k += 1
    enc.encode(st[k], 0)
    if m < ((1 << L) >> 1):
        dc_context[ci] = 0
    elif m > ((1 << U) >> 1):
        dc_context[ci] = 12 + sign * 4
    else:
        dc_context[ci] = 4 + sign * 4
    bits_ctx = st[k + 14]
    mm = m >> 1
    while mm:
        enc.encode(bits_ctx, 1 if (mm & v) else 0)
        mm >>= 1


def _encode_ac(enc: ArithEncoder, st: list[_Ctx], stats: _Stats,
               kx: int, zz: np.ndarray) -> None:
    ke = max([k for k in range(1, 64) if zz[k]], default=0)
    k = 1
    while k <= ke:
        base = 3 * (k - 1)
        enc.encode(st[base], 0)  # not EOB
        while zz[k] == 0:
            enc.encode(st[base + 1], 0)
            k += 1
            base = 3 * (k - 1)
        enc.encode(st[base + 1], 1)
        val = int(zz[k])
        sign = 1 if val < 0 else 0
        enc.encode(stats.fixed, sign)
        v = (-val if sign else val) - 1
        j = base + 2
        m = 0
        if v:
            enc.encode(st[j], 1)
            m = 1
            v2 = v
            if v2 >> 1:
                v2 >>= 1
                enc.encode(st[j], 1)
                m <<= 1
                j = 189 if k <= kx else 217
                while v2 >> 1:
                    v2 >>= 1
                    enc.encode(st[j], 1)
                    m <<= 1
                    j += 1
        enc.encode(st[j], 0)
        bits_ctx = st[j + 14]
        mm = m >> 1
        while mm:
            enc.encode(bits_ctx, 1 if (mm & v) else 0)
            mm >>= 1
        k += 1
    if ke < 63:
        enc.encode(st[3 * (ke + 1 - 1)], 1)  # EOB


def encode_jpeg_arith(
    img: np.ndarray,
    qtable: list[int] | None = None,
    subsample: bool = False,
    restart_interval: int = 0,
    adobe_transform: int | None = None,
    dc_cond: tuple[int, int] = (0, 1),
    kx: int = 5,
    noninterleaved: bool = False,
) -> bytes:
    """Sequential arithmetic-coded (SOF9) encoding of the same pixel
    pipeline as encode_jpeg — the quantized planes are identical, only
    the entropy layer differs, so the package decoder's output must be
    bit-identical to decoding the Huffman encoding. noninterleaved=True
    emits one Ns=1 scan per component (T.81 A.2.2 block raster over the
    component's own grid, never MCU-padded), each with fresh statistics
    and its own arithmetic codestream."""
    q = np.array(qtable if qtable is not None else K1, dtype=np.int32)
    h, w = img.shape[:2]
    planes, samps, app14 = _color_planes(img, subsample, adobe_transform)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    padded = []
    for p, (sh, sv) in zip(planes, samps):
        th, tw = mcus_y * sv * 8, mcus_x * sh * 8
        padded.append(
            np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge")
        )
    qnat = np.empty(64, np.int32)
    qnat[[ZIG[i] for i in range(64)]] = q

    nc = len(planes)

    def block_zz(p, by, bx):
        block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
        cq = np.round(fdct_8x8(block) / qnat.reshape(8, 8)).astype(np.int32)
        return cq.reshape(-1)[ZIG]

    scan_blobs: list[tuple[list[int], bytes]] = []  # (comp ids, data)
    if noninterleaved:
        for ci, (p, (sh, sv)) in enumerate(zip(padded, samps)):
            ph = -(-h * sv // vmax)
            pw = -(-w * sh // hmax)
            bh, bw = -(-ph // 8), -(-pw // 8)
            enc = ArithEncoder()
            stats = _Stats(1, 1)
            dc_context = [0]
            pred_c = 0
            chunks: list[bytes] = []
            n = 0
            rst = 0
            for by in range(bh):
                for bx in range(bw):
                    if restart_interval and n and n % restart_interval == 0:
                        chunks.append(enc.flush())
                        chunks.append(bytes([0xFF, 0xD0 + (rst % 8)]))
                        rst += 1
                        enc = ArithEncoder()
                        stats = _Stats(1, 1)
                        dc_context = [0]
                        pred_c = 0
                    zz = block_zz(p, by, bx)
                    diff = int(zz[0]) - pred_c
                    pred_c = int(zz[0])
                    _encode_dc(enc, stats.dc[0], dc_context, 0, diff, dc_cond)
                    _encode_ac(enc, stats.ac[0], stats, kx, zz)
                    n += 1
            chunks.append(enc.flush())
            scan_blobs.append(([ci], b"".join(chunks)))
    else:
        enc = ArithEncoder()
        stats = _Stats(1, 1)  # one shared DC + one shared AC table (ids 0)
        dc_context = [0] * nc
        pred = [0] * nc
        chunks = []
        mcu_count = 0
        rst = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    chunks.append(enc.flush())
                    chunks.append(bytes([0xFF, 0xD0 + (rst % 8)]))
                    rst += 1
                    stats = _Stats(1, 1)
                    dc_context = [0] * nc
                    pred = [0] * nc
                for ci, (p, (sh, sv)) in enumerate(zip(padded, samps)):
                    for by in range(sv):
                        for bx in range(sh):
                            zz = block_zz(p, my * sv + by, mx * sh + bx)
                            diff = int(zz[0]) - pred[ci]
                            pred[ci] = int(zz[0])
                            _encode_dc(
                                enc, stats.dc[0], dc_context, ci, diff, dc_cond
                            )
                            _encode_ac(enc, stats.ac[0], stats, kx, zz)
                mcu_count += 1
        chunks.append(enc.flush())
        scan_blobs.append((list(range(nc)), b"".join(chunks)))

    head = bytearray(b"\xff\xd8")
    head += app14
    head += _dqt_seg(q)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i, (sh, sv) in enumerate(samps):
        sof += bytes([i + 1, (sh << 4) | sv, 0])
    head += _seg(0xC9, sof)  # SOF9: sequential arithmetic
    # DAC: DC table 0 conditioning (U<<4 | L) and AC table 0 Kx
    head += _seg(
        0xCC,
        bytes([0x00, (dc_cond[1] << 4) | dc_cond[0], 0x10, kx]),
    )
    if restart_interval:
        head += _seg(0xDD, struct.pack(">H", restart_interval))
    body = bytearray()
    for comp_ids, blob in scan_blobs:
        sos = bytes([len(comp_ids)])
        for i in comp_ids:
            sos += bytes([i + 1, 0x00])
        sos += bytes([0, 63, 0])
        body += _seg(0xDA, sos) + blob
    return bytes(head) + bytes(body) + b"\xff\xd9"


# --- progressive (SOF10) encoder ---------------------------------------
#
# Mirrors the Huffman progressive scan script (jpeg_ref_encoder.
# encode_jpeg_progressive): interleaved DC at Al=1, per-component AC
# bands (1-5)/(6-63) at Al=2, AC refine 2→1, interleaved DC refine,
# AC refine 1→0 — each scan independently arithmetic-coded (fresh
# coder + statistics, flushed before the next SOS).


def _enc_prog_ac_first(enc, st, stats, kx, zz, ss, se, al):
    ke = se
    while ke >= ss and (abs(int(zz[ke])) >> al) == 0:
        ke -= 1
    k = ss
    while k <= ke:
        base = 3 * (k - 1)
        enc.encode(st[base], 0)  # not EOB
        while (abs(int(zz[k])) >> al) == 0:
            enc.encode(st[base + 1], 0)
            k += 1
            base = 3 * (k - 1)
        enc.encode(st[base + 1], 1)
        val = int(zz[k])
        sign = 1 if val < 0 else 0
        enc.encode(stats.fixed, sign)
        v = (abs(val) >> al) - 1
        j = base + 2
        m = 0
        if v:
            enc.encode(st[j], 1)
            m = 1
            v2 = v
            if v2 >> 1:
                v2 >>= 1
                enc.encode(st[j], 1)
                m <<= 1
                j = 189 if k <= kx else 217
                while v2 >> 1:
                    v2 >>= 1
                    enc.encode(st[j], 1)
                    m <<= 1
                    j += 1
        enc.encode(st[j], 0)
        bits_ctx = st[j + 14]
        mm = m >> 1
        while mm:
            enc.encode(bits_ctx, 1 if (mm & v) else 0)
            mm >>= 1
        k += 1
    if ke < se:
        enc.encode(st[3 * (ke + 1 - 1)], 1)  # EOB


def _enc_prog_ac_refine(enc, st, stats, zz, ss, se, al):
    """Per jcarith/F.1.4.3.3 structure: the EOB decision is emitted
    only at OUTER loop entries (k > kex); the still-zero run advances
    with significance-0 decisions alone until the next coefficient
    that is nonzero at this precision."""
    ke = se
    while ke >= ss and (abs(int(zz[ke])) >> al) == 0:
        ke -= 1
    kex = ke
    while kex >= ss and (abs(int(zz[kex])) >> (al + 1)) == 0:
        kex -= 1
    k = ss
    while k <= ke:
        base = 3 * (k - 1)
        if k > kex:
            enc.encode(st[base], 0)  # not EOB yet
        while True:
            val = int(zz[k])
            sign = 1 if val < 0 else 0
            v = abs(val) >> al
            if v:
                if v >> 1:  # previously nonzero: correction bit
                    enc.encode(st[base + 2], v & 1)
                else:  # newly significant
                    enc.encode(st[base + 1], 1)
                    enc.encode(stats.fixed, sign)
                break
            enc.encode(st[base + 1], 0)  # still zero
            k += 1
            base = 3 * (k - 1)
        k += 1
    if ke < se:
        enc.encode(st[3 * (ke + 1 - 1)], 1)  # EOB


def encode_jpeg_arith_progressive(
    img: np.ndarray,
    qtable: list[int] | None = None,
    subsample: bool = False,
    adobe_transform: int | None = None,
    dc_cond: tuple[int, int] = (0, 1),
    kx: int = 5,
) -> bytes:
    """Progressive arithmetic (SOF10) encoding, fully refined — the
    package decoder's output must be bit-identical to decoding the
    baseline Huffman encoding of the same image."""
    q = np.array(qtable if qtable is not None else K1, dtype=np.int32)
    h, w = img.shape[:2]
    planes, samps, app14 = _color_planes(img, subsample, adobe_transform)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    qnat = np.empty(64, np.int32)
    qnat[[ZIG[i] for i in range(64)]] = q

    coefs = []
    grids = []  # (padded_bh, padded_bw, ceil_bh, ceil_bw)
    for p, (sh, sv) in zip(planes, samps):
        tbh, tbw = mcus_y * sv, mcus_x * sh
        pad = np.pad(
            p, ((0, tbh * 8 - p.shape[0]), (0, tbw * 8 - p.shape[1])),
            mode="edge",
        )
        cz = np.zeros((tbh, tbw, 64), np.int32)
        for by in range(tbh):
            for bx in range(tbw):
                blk = pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                cq = np.round(fdct_8x8(blk) / qnat.reshape(8, 8)).astype(np.int32)
                cz[by, bx] = cq.reshape(-1)[ZIG]
        coefs.append(cz)
        cw = -(-(-(-w * sh // hmax)) // 8)
        ch = -(-(-(-h * sv // vmax)) // 8)
        grids.append((tbh, tbw, ch, cw))

    nc = len(planes)

    def sos_seg(comp_ids, ss, se, ah, al):
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])
        body += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, body)

    def dc_scan(ah, al):
        enc = ArithEncoder()
        stats = _Stats(1, 1)
        dc_context = [0] * nc
        pred = [0] * nc
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, (sh, sv) in enumerate(samps):
                    for by in range(sv):
                        for bx in range(sh):
                            zz0 = int(coefs[ci][my * sv + by, mx * sh + bx][0])
                            if ah == 0:
                                tv = zz0 >> al if zz0 >= 0 else -((-zz0) >> al)
                                # point transform is an ARITHMETIC shift
                                tv = zz0 >> al
                                diff = tv - pred[ci]
                                pred[ci] = tv
                                _encode_dc(enc, stats.dc[0], dc_context,
                                           ci, diff, dc_cond)
                            else:
                                enc.encode(stats.fixed, (zz0 >> al) & 1)
        return sos_seg(list(range(1, nc + 1)), 0, 0, ah, al) + enc.flush()

    def ac_scan(ci, ss, se, ah, al):
        enc = ArithEncoder()
        stats = _Stats(1, 1)
        _tbh, _tbw, cbh, cbw = grids[ci]
        for by in range(cbh):
            for bx in range(cbw):
                zz = coefs[ci][by, bx]
                if ah == 0:
                    _enc_prog_ac_first(enc, stats.ac[0], stats, kx, zz,
                                       ss, se, al)
                else:
                    _enc_prog_ac_refine(enc, stats.ac[0], stats, zz,
                                        ss, se, al)
        return sos_seg([ci + 1], ss, se, ah, al) + enc.flush()

    head = bytearray(b"\xff\xd8")
    head += app14
    head += _dqt_seg(q)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i, (sh, sv) in enumerate(samps):
        sof += bytes([i + 1, (sh << 4) | sv, 0])
    head += _seg(0xCA, sof)  # SOF10: progressive arithmetic
    head += _seg(0xCC, bytes([0x00, (dc_cond[1] << 4) | dc_cond[0], 0x10, kx]))
    out = bytearray(head)
    out += dc_scan(0, 1)
    for ci in range(nc):
        out += ac_scan(ci, 1, 5, 0, 2)
        out += ac_scan(ci, 6, 63, 0, 2)
    for ci in range(nc):
        out += ac_scan(ci, 1, 63, 2, 1)
    out += dc_scan(1, 0)
    for ci in range(nc):
        out += ac_scan(ci, 1, 63, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)


# --- lossless arithmetic (SOF11, Annex H.2) encoder --------------------
#
# Same 158-bin statistics layout as the package decoder derives from
# the spec (25 two-dimensional (Da, Db) contexts × 4 decisions, two
# magnitude ladders selected by Db's classification), implemented here
# in the ENCODE direction with this module's own QM byte-out pipeline.

_LL_SET0 = 100
_LL_SET1 = 129


def _ll_cls(m: int, sign: int, L: int, U: int) -> int:
    if m < ((1 << L) >> 1):
        return 0
    if m > ((1 << U) >> 1):
        return 3 + sign
    return 1 + sign


def _encode_ll_diff(enc: ArithEncoder, st: list[_Ctx], da: int, db: int,
                    diff: int, cond: tuple[int, int]) -> int:
    """Encode one prediction difference; returns its classification
    code for use as a future (Da, Db) context."""
    L, U = cond
    base = 4 * (5 * da + db)
    if diff == 0:
        enc.encode(st[base], 0)
        return 0
    enc.encode(st[base], 1)
    sign = 1 if diff < 0 else 0
    enc.encode(st[base + 1], sign)
    v = (-diff if sign else diff) - 1
    k = base + 2 + sign
    m = 0
    if v:
        enc.encode(st[k], 1)
        m = 1
        v2 = v
        k = _LL_SET1 if db >= 3 else _LL_SET0
        while v2 >> 1:
            v2 >>= 1
            enc.encode(st[k], 1)
            m <<= 1
            k += 1
    enc.encode(st[k], 0)
    bits_ctx = st[k + 14]
    mm = m >> 1
    while mm:
        enc.encode(bits_ctx, 1 if (mm & v) else 0)
        mm >>= 1
    return _ll_cls(m, sign, L, U)


def encode_jpeg_arith_lossless(
    img: np.ndarray,
    predictor: int = 4,
    pt: int = 0,
    prec: int = 8,
    restart_interval: int = 0,
    dc_cond: tuple[int, int] = (0, 1),
) -> bytes:
    """T.81 Annex H.2 lossless arithmetic (SOF11): the same spatial
    prediction / modulo-2^16 difference pipeline as jpeg_ref_encoder.
    encode_jpeg_lossless (diff == -32768 is coded as magnitude 32768,
    which the mod-65536 reconstruction makes equivalent), with the
    difference values arithmetic-coded under the two-dimensional
    conditioning model. Decodes back bit-exactly."""
    h, w = img.shape[:2]
    nch = 1 if img.ndim == 2 else img.shape[2]
    planes = [img] if nch == 1 else [img[:, :, i] for i in range(nch)]
    arrs = [p.astype(np.int64) >> pt for p in planes]
    cls = [np.zeros((h, w), np.uint8) for _ in range(nch)]
    st = [_Ctx() for _ in range(158)]  # single DC table (id 0), shared
    enc = ArithEncoder()
    chunks: list[bytes] = []
    default = 1 << (prec - 1 - pt)
    unit = 0
    rst = 0
    fresh = True
    ra_row = 0  # T.81 H.1.1: Ra predicts the first line of the scan
    # and of each restart interval (mirrors the package decoder)
    for y in range(h):
        for x in range(w):
            if restart_interval and unit and unit % restart_interval == 0:
                chunks.append(enc.flush())
                chunks.append(bytes([0xFF, 0xD0 + (rst % 8)]))
                rst += 1
                st = [_Ctx() for _ in range(158)]
                fresh = True
                ra_row = y
            for ci, arr in enumerate(arrs):
                s = int(arr[y, x])
                if fresh:
                    px = default
                elif y == ra_row:
                    px = int(arr[y, x - 1])
                elif x == 0:
                    px = int(arr[y - 1, 0])
                else:
                    a = int(arr[y, x - 1])
                    b = int(arr[y - 1, x])
                    c = int(arr[y - 1, x - 1])
                    px = (
                        a, b, c, a + b - c,
                        a + ((b - c) >> 1), b + ((a - c) >> 1),
                        (a + b) >> 1,
                    )[predictor - 1]
                diff = ((s - px + 32768) & 0xFFFF) - 32768
                da = 0 if (fresh or x == 0) else int(cls[ci][y, x - 1])
                db = 0 if (fresh or y == ra_row) else int(cls[ci][y - 1, x])
                cls[ci][y, x] = _encode_ll_diff(enc, st, da, db, diff, dc_cond)
            fresh = False
            unit += 1
    chunks.append(enc.flush())

    head = bytearray(b"\xff\xd8")
    sof = struct.pack(">BHHB", prec, h, w, nch)
    for i in range(nch):
        sof += bytes([i + 1, 0x11, 0])
    head += _seg(0xCB, sof)  # SOF11: lossless arithmetic
    head += _seg(0xCC, bytes([0x00, (dc_cond[1] << 4) | dc_cond[0]]))
    if restart_interval:
        head += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nch])
    for i in range(nch):
        sos += bytes([i + 1, 0x00])
    sos += bytes([predictor, 0, pt])
    head += _seg(0xDA, sos)
    return bytes(head) + b"".join(chunks) + b"\xff\xd9"
