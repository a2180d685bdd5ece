"""Test-side HIERARCHICAL JPEG encoder (T.81 Annex J: DHP / EXP /
differential frames) — emits multi-frame pyramids whose frames use any
mix of the coding processes: Huffman or arithmetic, DCT sequential,
DCT progressive, or lossless.

Frame kinds (first frame in a plan maps to the non-differential SOF,
later frames to the differential one):
  "lossless"        SOF3  / SOF7
  "arith-lossless"  SOF11 / SOF15
  "dct"             SOF0  / SOF5
  "arith-dct"       SOF9  / SOF13
  "prog"            SOF2  / SOF6
  "arith-prog"      SOF10 / SOF14

Independence note: every entropy layer, prediction chain, statistics
area and byte pipeline here is test-side (shared with the other
test-side encoders, which are independent of the package decoder), and
the EXP reference-expansion filter is re-implemented from the J.1.1.2
formula. The ONE package import is idct_8x8: a hierarchical encoder
must model the decoder's DCT reconstruction to compute the next
frame's residual, and T.81 leaves the IDCT implementation-defined —
bit-exact pyramid composition therefore requires encoder and decoder
to agree on the IDCT, exactly as real hierarchical encoders embed
their own decoder. The entropy machinery being validated shares
nothing with the package.
"""

from __future__ import annotations

import os
import struct
import sys

import numpy as np

_TESTS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TESTS))
sys.path.insert(0, _TESTS)
from jpeg_ref_encoder import (  # noqa: E402
    ZIG,
    _BitWriter,
    _category,
    _codes,
    _enc_value,
    _dqt_seg,
    _seg,
    fdct_8x8,
    L16_DC_BITS,
    L16_DC_VALS,
)
from jpeg_arith_ref_encoder import (  # noqa: E402
    ArithEncoder,
    _Ctx,
    _encode_ac,
    _encode_dc,
    _encode_ll_diff,
)

from openocr_spark.kernels.jpeg_format import idct_8x8  # see module docstring

# extended sequential AC table for differential frames: all (run, size)
# symbols with size 1..14 at a single canonical code length (residual
# DCT coefficients can exceed the 8-bit Annex-K size range)
HIER_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)
]
HIER_AC_BITS = [0] * 7 + [len(HIER_AC_VALS)] + [0] * 8


def downsample2(p: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """Box-average downsample by 2 in the expanded directions (the
    pyramid construction filter is the encoder's free choice)."""
    p = p.astype(np.int64)
    if ev:
        if p.shape[0] % 2:
            p = np.vstack([p, p[-1:, :]])
        p = (p[0::2, :] + p[1::2, :] + 1) >> 1
    if eh:
        if p.shape[1] % 2:
            p = np.hstack([p, p[:, -1:]])
        p = (p[:, 0::2] + p[:, 1::2] + 1) >> 1
    return p


def expand_ref(p: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """J.1.1.2 interpolation, re-implemented from the formula: even
    output samples copy the reference, odd ones are the rounded mean
    of the neighbours, the last odd sample replicates the edge."""
    p = p.astype(np.int64)
    if eh:
        q = np.empty((p.shape[0], 2 * p.shape[1]), np.int64)
        q[:, 0::2] = p
        if p.shape[1] > 1:
            q[:, 1:-1:2] = (p[:, :-1] + p[:, 1:] + 1) >> 1
        q[:, -1] = p[:, -1]
        p = q
    if ev:
        q = np.empty((2 * p.shape[0], p.shape[1]), np.int64)
        q[0::2, :] = p
        if p.shape[0] > 1:
            q[1:-1:2, :] = (p[:-1, :] + p[1:, :] + 1) >> 1
        q[-1, :] = p[-1, :]
        p = q
    return p


def _pad8(p: np.ndarray) -> np.ndarray:
    h, w = p.shape
    return np.pad(p, ((0, (-h) % 8), (0, (-w) % 8)), mode="edge")


def _block_coefs(plane: np.ndarray, q: np.ndarray, shift: float):
    """Quantized zigzag coefficients + the decoder-visible spatial
    reconstruction for every 8×8 block of one plane."""
    p = _pad8(plane).astype(np.float64)
    qnat = np.empty(64, np.int64)
    qnat[[ZIG[i] for i in range(64)]] = q
    qn = qnat.reshape(8, 8)
    bh, bw = p.shape[0] // 8, p.shape[1] // 8
    zzs = np.zeros((bh, bw, 64), np.int64)
    recon = np.zeros_like(p)
    for by in range(bh):
        for bx in range(bw):
            block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - shift
            cq = np.round(fdct_8x8(block) / qn).astype(np.int64)
            zzs[by, bx] = cq.reshape(-1)[[ZIG[i] for i in range(64)]]
            recon[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                idct_8x8((cq * qn).astype(np.float64)) + shift
            )
    return zzs, recon[: plane.shape[0], : plane.shape[1]]


# --- per-frame emitters (headers + entropy-coded scan bytes) -----------


def _sof_seg(marker: int, prec: int, h: int, w: int, nch: int) -> bytes:
    sof = struct.pack(">BHHB", prec, h, w, nch)
    for i in range(nch):
        sof += bytes([i + 1, 0x11, 0])
    return _seg(marker, sof)


def _sos_seg(nch: int, ss: int, se: int, ahal: int) -> bytes:
    sos = bytes([nch])
    for i in range(nch):
        sos += bytes([i + 1, 0x00])
    return _seg(0xDA, sos + bytes([ss, se, ahal]))


def _frame_lossless_huff(values: list[np.ndarray], prec: int,
                         differential: bool, predictor: int,
                         restart_interval: int) -> bytes:
    """SOF3 (spatial prediction over the samples) or SOF7 (Ss=0, the
    planes ARE the residuals, coded with PRED = 0)."""
    h, w = values[0].shape
    nch = len(values)
    dc_c = _codes(L16_DC_BITS, L16_DC_VALS)
    wtr = _BitWriter()
    chunks: list[bytes] = []
    default = 1 << (prec - 1)
    unit = 0
    rst = 0
    fresh = True
    ra_row = 0  # T.81 H.1.1 first-line Ra rule per restart interval
    for y in range(h):
        for x in range(w):
            if restart_interval and unit and unit % restart_interval == 0:
                wtr.pad()
                chunks.append(bytes(wtr.buf))
                chunks.append(bytes([0xFF, 0xD0 + (rst % 8)]))
                rst += 1
                wtr = _BitWriter()
                fresh = True
                ra_row = y
            for arr in values:
                s = int(arr[y, x])
                if differential:
                    px = 0
                elif fresh:
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
                if diff == -32768:
                    wtr.write(*dc_c[16])
                else:
                    t = _category(diff)
                    wtr.write(*dc_c[t])
                    _enc_value(wtr, diff, t)
            fresh = False
            unit += 1
    wtr.pad()
    chunks.append(bytes(wtr.buf))

    out = _sof_seg(0xC7 if differential else 0xC3, prec, h, w, nch)
    out += _seg(0xC4, bytes([0x00]) + bytes(L16_DC_BITS) + bytes(L16_DC_VALS))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _sos_seg(nch, 0 if differential else predictor, 0, 0)
    return out + b"".join(chunks)


def _frame_lossless_arith(values: list[np.ndarray], prec: int,
                          differential: bool, predictor: int,
                          restart_interval: int) -> bytes:
    """SOF11 (Annex H.2 two-dimensional conditioning) or SOF15 (same
    model, PRED = 0 over residual planes)."""
    h, w = values[0].shape
    nch = len(values)
    cls = [np.zeros((h, w), np.uint8) for _ in range(nch)]
    st = [_Ctx() for _ in range(158)]
    enc = ArithEncoder()
    chunks: list[bytes] = []
    default = 1 << (prec - 1)
    unit = 0
    rst = 0
    fresh = True
    ra_row = 0  # T.81 H.1.1 first-line Ra rule per restart interval
    for y in range(h):
        for x in range(w):
            if restart_interval and unit and unit % restart_interval == 0:
                chunks.append(enc.flush())
                chunks.append(bytes([0xFF, 0xD0 + (rst % 8)]))
                rst += 1
                st = [_Ctx() for _ in range(158)]
                fresh = True
                ra_row = y
            for ci, arr in enumerate(values):
                s = int(arr[y, x])
                if differential:
                    px = 0
                elif fresh:
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
                cls[ci][y, x] = _encode_ll_diff(enc, st, da, db, diff, (0, 1))
            fresh = False
            unit += 1
    chunks.append(enc.flush())

    out = _sof_seg(0xCF if differential else 0xCB, prec, h, w, nch)
    out += _seg(0xCC, bytes([0x00, 0x10]))  # DAC: table 0, U=1 L=0
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _sos_seg(nch, 0 if differential else predictor, 0, 0)
    return out + b"".join(chunks)


def _frame_dct(values: list[np.ndarray], q: np.ndarray, differential: bool,
               arith: bool, progressive: bool, restart_interval: int):
    """DCT frame in any of the four coding processes. `values` are the
    target planes (non-differential) or residual planes (differential,
    signed). Returns (segment bytes, decoder-visible reconstruction
    planes)."""
    h, w = values[0].shape
    nch = len(values)
    shift = 0.0 if differential else 128.0
    per_comp = [_block_coefs(p, q, shift) for p in values]
    recons = [r for _z, r in per_comp]
    coefs = [z for z, _r in per_comp]
    bh, bw = coefs[0].shape[:2]

    chunks: list[bytes] = []
    if not arith and not progressive:
        dc_c = _codes(L16_DC_BITS, L16_DC_VALS)
        ac_c = _codes(HIER_AC_BITS, HIER_AC_VALS)
        wtr = _BitWriter()
        pred = [0] * nch
        unit = 0
        rst = 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and unit and unit % restart_interval == 0:
                    wtr.pad()
                    chunks.append(bytes(wtr.buf))
                    chunks.append(bytes([0xFF, 0xD0 + (rst % 8)]))
                    rst += 1
                    wtr = _BitWriter()
                    pred = [0] * nch
                for ci in range(nch):
                    zz = coefs[ci][by, bx]
                    dc = int(zz[0])
                    diff = dc if differential else dc - pred[ci]
                    pred[ci] = 0 if differential else dc
                    t = _category(diff)
                    wtr.write(*dc_c[t])
                    _enc_value(wtr, diff, t)
                    run = 0
                    last_nz = max(
                        [k for k in range(1, 64) if zz[k]], default=0
                    )
                    for k in range(1, 64):
                        v = int(zz[k])
                        if k > last_nz:
                            wtr.write(*ac_c[0x00])
                            break
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            wtr.write(*ac_c[0xF0])
                            run -= 16
                        s = _category(v)
                        wtr.write(*ac_c[(run << 4) | s])
                        _enc_value(wtr, v, s)
                        run = 0
                unit += 1
        wtr.pad()
        chunks.append(bytes(wtr.buf))
        marker = 0xC5 if differential else 0xC0
        out = _dqt_seg(np.asarray(q, np.int32))
        out += _sof_seg(marker, 8, h, w, nch)
        out += _seg(
            0xC4, bytes([0x00]) + bytes(L16_DC_BITS) + bytes(L16_DC_VALS)
        )
        out += _seg(
            0xC4, bytes([0x10]) + bytes(HIER_AC_BITS) + bytes(HIER_AC_VALS)
        )
        if restart_interval:
            out += _seg(0xDD, struct.pack(">H", restart_interval))
        out += _sos_seg(nch, 0, 63, 0)
        return out + b"".join(chunks), recons

    if arith and not progressive:
        enc = ArithEncoder()
        dc_st = [_Ctx() for _ in range(64)]
        ac_st = [_Ctx() for _ in range(256)]

        class _MiniStats:
            fixed = _Ctx(113)

        stats = _MiniStats()
        dc_context = [0] * nch
        pred = [0] * nch
        unit = 0
        rst = 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and unit and unit % restart_interval == 0:
                    chunks.append(enc.flush())
                    chunks.append(bytes([0xFF, 0xD0 + (rst % 8)]))
                    rst += 1
                    dc_st = [_Ctx() for _ in range(64)]
                    ac_st = [_Ctx() for _ in range(256)]
                    stats = _MiniStats()
                    dc_context = [0] * nch
                    pred = [0] * nch
                for ci in range(nch):
                    zz = coefs[ci][by, bx]
                    dc = int(zz[0])
                    diff = dc if differential else dc - pred[ci]
                    pred[ci] = 0 if differential else dc
                    _encode_dc(enc, dc_st, dc_context, ci, diff, (0, 1))
                    _encode_ac(enc, ac_st, stats, 5, zz)
                unit += 1
        chunks.append(enc.flush())
        marker = 0xCD if differential else 0xC9
        out = _dqt_seg(np.asarray(q, np.int32))
        out += _sof_seg(marker, 8, h, w, nch)
        out += _seg(0xCC, bytes([0x00, 0x10, 0x10, 5]))
        if restart_interval:
            out += _seg(0xDD, struct.pack(">H", restart_interval))
        out += _sos_seg(nch, 0, 63, 0)
        return out + b"".join(chunks), recons

    # progressive (Huffman SOF2/SOF6 or arithmetic SOF10/SOF14):
    # scan script = one interleaved DC scan, then one full AC band scan
    # per component (spectral selection, no successive approximation)
    marker = (
        (0xCE if differential else 0xCA) if arith
        else (0xC6 if differential else 0xC2)
    )
    out = _dqt_seg(np.asarray(q, np.int32))
    out += _sof_seg(marker, 8, h, w, nch)
    if arith:
        out += _seg(0xCC, bytes([0x00, 0x10, 0x10, 63]))
        # DC scan
        enc = ArithEncoder()
        dc_st = [_Ctx() for _ in range(64)]
        dc_context = [0] * nch
        pred = [0] * nch
        out += _sos_seg(nch, 0, 0, 0)
        for by in range(bh):
            for bx in range(bw):
                for ci in range(nch):
                    dc = int(coefs[ci][by, bx][0])
                    diff = dc if differential else dc - pred[ci]
                    pred[ci] = 0 if differential else dc
                    _encode_dc(enc, dc_st, dc_context, ci, diff, (0, 1))
        out += enc.flush()
        # per-component AC band scans
        from jpeg_arith_ref_encoder import _enc_prog_ac_first, _Stats

        for ci in range(nch):
            enc = ArithEncoder()
            stats = _Stats(1, 1)
            sos = bytes([1, ci + 1, 0x00, 1, 63, 0])
            out += _seg(0xDA, sos)
            for by in range(bh):
                for bx in range(bw):
                    _enc_prog_ac_first(
                        enc, stats.ac[0], stats, 63, coefs[ci][by, bx], 1, 63, 0
                    )
            out += enc.flush()
        return out, recons

    from jpeg_ref_encoder import (
        P_AC_BITS,
        P_AC_VALS,
        _emit_eobrun,
        _enc_ac_first,
    )

    dc_c = _codes(L16_DC_BITS, L16_DC_VALS)
    ac_c = _codes(P_AC_BITS, P_AC_VALS)
    out += _seg(0xC4, bytes([0x00]) + bytes(L16_DC_BITS) + bytes(L16_DC_VALS))
    out += _seg(0xC4, bytes([0x10]) + bytes(P_AC_BITS) + bytes(P_AC_VALS))
    # DC scan (interleaved)
    wtr = _BitWriter()
    pred = [0] * nch
    out += _sos_seg(nch, 0, 0, 0)
    for by in range(bh):
        for bx in range(bw):
            for ci in range(nch):
                dc = int(coefs[ci][by, bx][0])
                diff = dc if differential else dc - pred[ci]
                pred[ci] = 0 if differential else dc
                t = _category(diff)
                wtr.write(*dc_c[t])
                _enc_value(wtr, diff, t)
    wtr.pad()
    out += bytes(wtr.buf)
    # per-component AC band scans
    for ci in range(nch):
        wtr = _BitWriter()
        st = {"eobrun": 0, "be": []}
        sos = bytes([1, ci + 1, 0x00, 1, 63, 0])
        out += _seg(0xDA, sos)
        for by in range(bh):
            for bx in range(bw):
                _enc_ac_first(wtr, ac_c, coefs[ci][by, bx], 1, 63, 0, st)
        _emit_eobrun(wtr, ac_c, st)
        wtr.pad()
        out += bytes(wtr.buf)
    return out, recons


# --- the pyramid driver -------------------------------------------------


def encode_jpeg_hierarchical(
    img: np.ndarray,
    plan: list[dict],
    prec: int = 8,
    q: list[int] | None = None,
    restart_interval: int = 0,
    predictor: int = 4,
) -> bytes:
    """Encode `img` as a hierarchical stream following `plan`: a list
    of frame specs, each `{"kind": ..., "exp": None | (eh, ev)}`. The
    first frame is non-differential; each spec with "exp" doubles the
    reference resolution (EXP segment) before its differential frame.
    Level targets are built by box-downsampling the original once per
    exp step (walking the plan backwards). Frames whose "kind" is
    lossless make the running reconstruction exact at their level, so
    any plan ending in a lossless differential frame round-trips the
    original bit-exactly."""
    h, w = img.shape[:2]
    nch = 1 if img.ndim == 2 else img.shape[2]
    full = [img.astype(np.int64)] if nch == 1 else [
        img[:, :, i].astype(np.int64) for i in range(nch)
    ]
    qarr = np.asarray(q if q is not None else [1] * 64, np.int64)

    # per-frame targets, last = full resolution
    targets = [None] * len(plan)
    cur = full
    for i in range(len(plan) - 1, -1, -1):
        targets[i] = cur
        exp = plan[i].get("exp")
        if exp and i > 0:
            cur = [downsample2(p, exp[0], exp[1]) for p in cur]

    out = bytearray(b"\xff\xd8")
    out += _sof_seg(0xDE, prec, h, w, nch)  # DHP: full-resolution dims
    ref: list[np.ndarray] | None = None
    mx = (1 << prec) - 1
    for i, spec in enumerate(plan):
        kind = spec["kind"]
        differential = i > 0
        tgt = targets[i]
        th, tw = tgt[0].shape
        exp = spec.get("exp")
        if exp and differential:
            out += _seg(0xDF, bytes([(exp[0] << 4) | exp[1]]))
            ref = [expand_ref(p, exp[0], exp[1])[:th, :tw] for p in ref]
        if "lossless" in kind:
            if differential:
                values = [
                    (((t - r) + 32768) & 0xFFFF) - 32768
                    for t, r in zip(tgt, ref)
                ]
            else:
                values = tgt
            if kind == "lossless":
                out += _frame_lossless_huff(
                    values, prec, differential, predictor, restart_interval
                )
            else:
                out += _frame_lossless_arith(
                    values, prec, differential, predictor, restart_interval
                )
            ref = [t.copy() for t in tgt]  # lossless ⇒ recon is exact
        else:
            values = (
                [(t - r).astype(np.float64) for t, r in zip(tgt, ref)]
                if differential else [t.astype(np.float64) for t in tgt]
            )
            # a spec may carry its own quant table — each DCT frame
            # emits its own DQT, so per-frame tables REDEFINE id 0
            # mid-stream (the T.81-legal layout that catches decoders
            # which dequantize a frame with a successor's table)
            qf = (np.asarray(spec["q"], np.int64)
                  if spec.get("q") is not None else qarr)
            segs, recons = _frame_dct(
                values, qf, differential,
                arith=kind.startswith("arith"),
                progressive=kind.endswith("prog"),
                restart_interval=restart_interval,
            )
            out += segs
            folded = []
            for ci, rp in enumerate(recons):
                rr = np.round(rp).astype(np.int64)
                if differential:
                    rr = ref[ci] + rr
                folded.append(np.clip(rr, 0, mx))
            ref = folded
    out += b"\xff\xd9"
    return bytes(out)
