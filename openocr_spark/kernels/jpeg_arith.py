"""T.81 Annex D/F/H arithmetic-coded JPEG entropy decoding — the QM
coder plus the Annex F/H statistical models, from the public spec,
numpy/stdlib only.

The reference decodes JPEG via cv2 (opendet/preprocess/__init__.py:
85-143); cv2/libjpeg treat arithmetic streams as a first-class coding
mode, and round 4's fail-loud boundary here was the last JPEG coding
mode this engine rejected. Scope: sequential DCT (SOF9, differential
SOF13), progressive DCT (SOF10/SOF14 — DC first/refine, AC band
first/refine per F.2.1.4.3, accumulated into the same coefficient store
as Huffman progressive) and lossless (SOF11/SOF15, Annex H.2), 8-bit
DCT and 2..16-bit lossless samples, interleaved and single-component
scans, restart intervals, DAC conditioning (L/U for DC and lossless, Kx
for AC). This module supplies only the entropy decoding: the data-unit
order of every DCT scan (jpeg_format._scan_walk) and the lossless
sample loop with its predictors (jpeg_format._decode_lossless_scan)
live in jpeg_format and are shared with the Huffman coder.

Validation: the test-side encoder (tests/jpeg_arith_ref_encoder.py)
implements the ENCODE direction independently (its own carry/stuff
byte-out, its own statistics bookkeeping); a stream it emits must
decode to coefficients BIT-IDENTICAL to the Huffman encoding of the
same image, because both entropy layers carry the same quantized
planes. The Qe state table itself is fixed by the spec (Table D.3) and
therefore necessarily shared.

Layout of the statistics areas (Table F.4):
  DC (49 bins/table): 5 conditioning classes × 4 decisions at 0..19,
    magnitude-category ladder X1..X15 at 20..34, magnitude bits
    M2..M15 at 35..48.
  AC (245 bins/table, allocated 256): per-k triples (EOB, nonzero,
    first-magnitude) at 3·(k−1), low-k ladder+bits at 189..216,
    high-k (k > Kx) ladder+bits at 217..244. The AC sign uses a FIXED
    (non-adapting) 0.5-probability state.
"""

from __future__ import annotations

import numpy as np

# T.81 Table D.3: (Qe, NMPS, NLPS, SWITCH). Index 113 is the fixed
# non-adapting ~0.5 state used for AC signs.
QE_TABLE: list[tuple[int, int, int, int]] = [
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32E4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1),
    (0x5A1D, 113, 113, 0),  # 113: fixed ~0.5, never adapts
]

FIXED_BIN = 113


class _Ctx:
    """One adaptive context: Qe-table index + current MPS sense."""

    __slots__ = ("idx", "mps")

    def __init__(self) -> None:
        self.idx = 0
        self.mps = 0


def _ctx_bank(n: int) -> list[_Ctx]:
    return [_Ctx() for _ in range(n)]


class ArithDecoder:
    """QM arithmetic decoder with the JPEG entropy-segment byte feed
    (0xFF00 unstuffing; zero bytes fed after the terminating marker,
    per F.2.2.1 / the libjpeg-documented convention)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.marker_hit = False
        # INITDEC: the first two data bytes form the initial code value
        # v = B0<<8 | B1 aligned at chigh (bits 16..31), CT = 0 so the
        # first renormalization immediately feeds the next byte at bits
        # 8..15 (each byte then needs exactly 8 shifts to reach chigh —
        # consistent with the encoder's CT=11 / window-at-19 emission)
        self.c = (self._byte() << 24) | (self._byte() << 16)
        self.ct = 0
        self.a = 0x8000

    def _byte(self) -> int:
        """Next entropy byte: 0xFF00 → 0xFF; a real marker stops the
        feed (zero bytes from then on, marker left for the caller)."""
        if self.marker_hit or self.pos >= len(self.data):
            return 0
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
            if nxt == 0x00:
                self.pos += 1
                return 0xFF
            # a restart or terminating marker: stop consuming; leave
            # self.pos pointing AT the 0xFF for the restart handler
            self.pos -= 1
            self.marker_hit = True
            return 0
        return b

    def _bytein(self) -> None:
        self.c += self._byte() << 8
        self.ct = 8

    def decode(self, ctx: _Ctx) -> int:
        # local-variable form of the spec's DECODE + RENORMD (with
        # _bytein inlined): this method runs once per coded decision
        # and the self.a/self.c/self.ct attribute traffic was the
        # hottest remaining line of the arithmetic decode once the
        # IDCT stopped dominating (guide §1.2). Control flow and
        # arithmetic are line-for-line the previous form's.
        qe, nmps, nlps, switch = QE_TABLE[ctx.idx]
        a = self.a - qe
        c = self.c
        if (c >> 16) & 0xFFFF < a:
            if a & 0x8000:
                self.a = a
                return ctx.mps
            # MPS_EXCHANGE
            if a < qe:
                d = 1 - ctx.mps
                if switch:
                    ctx.mps = 1 - ctx.mps
                ctx.idx = nlps
            else:
                d = ctx.mps
                ctx.idx = nmps
        else:
            # LPS path: remove the MPS sub-interval from C
            c -= a << 16
            # LPS_EXCHANGE
            if a < qe:
                d = ctx.mps
                ctx.idx = nmps
            else:
                d = 1 - ctx.mps
                if switch:
                    ctx.mps = 1 - ctx.mps
                ctx.idx = nlps
            a = qe
        # RENORMD (with _bytein inlined)
        ct = self.ct
        while a < 0x8000:
            if ct == 0:
                c += self._byte() << 8
                ct = 8
            a = (a << 1) & 0xFFFFFFFF
            c = (c << 1) & 0xFFFFFFFF
            ct -= 1
        self.a = a
        self.c = c
        self.ct = ct
        return d

    def align_restart(self) -> None:
        """Consume one RSTn marker (byte-aligned by construction)."""
        d = self.data
        pos = self.pos
        while pos + 1 < len(d):
            if d[pos] == 0xFF and 0xD0 <= d[pos + 1] <= 0xD7:
                self.pos = pos + 2
                return
            pos += 1
        raise NotImplementedError("JPEG-arith: expected restart marker")


class _Stats:
    """One restart interval's statistics areas (per table id) and the
    DC predictor and conditioning class of each scan slot."""

    def __init__(self, scan: list[tuple[dict, int, int]]) -> None:
        self.dc = {td: _ctx_bank(64) for _c, td, _ta in scan}
        self.ac = {ta: _ctx_bank(256) for _c, _td, ta in scan}
        self.fixed = _Ctx()
        self.fixed.idx = FIXED_BIN
        self.dc_context = [0] * len(scan)
        self.pred = [0] * len(scan)


def _magnitude(dec: ArithDecoder, st: list[_Ctx], m: int, k: int,
               what: str) -> tuple[int, int]:
    """Figures F.23/F.24: climb the magnitude-category ladder from bin
    X_n = `k` while it decides "larger" (the category base `m` doubles
    per rung), then decode the bits below m's top bit from bin
    M_n = X_n + 14. Returns (m, |value|), |value| = (m | bits) + 1."""
    while dec.decode(st[k]):
        m <<= 1
        if m == 0x8000:
            raise NotImplementedError(f"JPEG-arith: {what} magnitude overflow")
        k += 1
    v = m
    bits_ctx = st[k + 14]
    mm = m >> 1
    while mm:
        if dec.decode(bits_ctx):
            v |= mm
        mm >>= 1
    return m, v + 1


def _classify(m: int, sign: int, L: int, U: int) -> int:
    """Conditioning class of a decoded DC or lossless difference: 0 =
    zero, 1/2 = small +/−, 3/4 = large +/− (F.1.4.4.1.2 thresholds on
    the magnitude-category base m)."""
    if m < ((1 << L) >> 1):
        return 0
    if m > ((1 << U) >> 1):
        return 3 + sign
    return 1 + sign


def _decode_dc(dec: ArithDecoder, st: list[_Ctx], stats: _Stats,
               slot: int, cond: tuple[int, int]) -> int:
    """F.2.1.4.1: decode one DC DIFF and update the conditioning
    class for the next block of this scan slot. Value reconstruction
    per Figures F.23/F.24: magnitude category m ∈ {0,1,2,4,...}, then
    bit_length(m)−1 magnitude bits, then v = (m|bits) + 1."""
    base = stats.dc_context[slot]
    if dec.decode(st[base]) == 0:
        stats.dc_context[slot] = 0
        return 0
    sign = dec.decode(st[base + 1])
    if dec.decode(st[base + 2 + sign]):
        m, v = _magnitude(dec, st, 1, 20, "DC")  # X1 at 20 (Table F.4)
    else:
        m, v = 0, 1
    # conditioning category for the NEXT block: 4 bins per class
    stats.dc_context[slot] = 4 * _classify(m, sign, *cond)
    return -v if sign else v


def _prog_ac_first(dec: ArithDecoder, st: list[_Ctx], stats: _Stats,
                   kx: int, zz: np.ndarray, ss: int, se: int, al: int) -> None:
    """F.2.1.4.2: the AC coefficients Ss..Se of one block into zz
    (zigzag order), point-transformed by Al — the whole 1..63 band with
    Al = 0 in sequential scans. Unlike DC, the magnitude category
    spends TWO decisions in the per-k context (v>1?, v>2?) before
    entering the shared low-k / high-k ladder."""
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if dec.decode(st[base]):  # EOB
            return
        while dec.decode(st[base + 1]) == 0:
            k += 1
            if k > se:
                raise NotImplementedError("JPEG-arith: AC index past Se")
            base = 3 * (k - 1)
        sign = dec.decode(stats.fixed)
        j = base + 2
        if not dec.decode(st[j]):
            v = 1
        elif not dec.decode(st[j]):
            v = 2
        else:
            v = _magnitude(dec, st, 2, 189 if k <= kx else 217, "AC")[1]
        zz[k] = -(v << al) if sign else (v << al)
        k += 1


def _prog_ac_refine(dec: ArithDecoder, st: list[_Ctx], stats: _Stats,
                    zz: np.ndarray, ss: int, se: int, al: int) -> None:
    p1 = 1 << al
    m1 = -(1 << al)
    kex = se
    while kex >= ss and zz[kex] == 0:
        kex -= 1
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if k > kex:
            if dec.decode(st[base]):  # EOB
                return
        while True:
            if zz[k]:
                if dec.decode(st[base + 2]):
                    zz[k] += m1 if zz[k] < 0 else p1
                break
            if dec.decode(st[base + 1]):
                zz[k] = m1 if dec.decode(stats.fixed) else p1
                break
            k += 1
            if k > se:
                raise NotImplementedError("JPEG-arith: AC-refine past Se")
            base = 3 * (k - 1)
        k += 1


def decode_arith_scan(data, pos, frame, scan, walk, conditioning,
                      spectral, store) -> None:
    """One arithmetic DCT scan (SOF9/SOF10, differential SOF13/SOF14)
    into the zigzag coefficient store, in the data-unit order of `walk`
    (jpeg_format._scan_walk); the store-based reconstruction is the
    Huffman path's. A progressive scan (F.2.1.4.3) has the Huffman
    progressive structure with the Annex F models per scan kind:
    DC-first = the DC model over point-transformed values; DC-refine =
    ONE fixed-bin decision per block; AC-first = the AC model over the
    Ss..Se band; AC-refine = per-coefficient correction/significance
    decisions. A sequential scan is DC-first then AC-first over 1..63
    with Al = 0 in every block, and rewrites every block of its
    components. Statistics and the coder reset at every scan and
    restart interval."""
    if frame["progressive"]:
        ss, se, ah, al = spectral
        if ss == 0:
            if se != 0:
                raise NotImplementedError("JPEG-arith: DC scan with Se != 0")
        elif len(scan) != 1:
            raise NotImplementedError("JPEG-arith: interleaved AC scan")
    else:
        ss, se, ah, al = 0, 63, 0, 0
        for comp, _td, _ta in scan:
            store[comp["id"]].fill(0)
    flats = [store[c["id"]].reshape(-1) for c, _td, _ta in scan]
    models = [(td, ta, conditioning.get(("dc", td), (0, 1)),
               conditioning.get(("ac", ta), 5)) for _c, td, ta in scan]
    # differential frames (hierarchical): DC coded directly (PRED = 0)
    diff_frame = bool(frame.get("differential"))
    for i, interval in enumerate(walk):
        if i:  # RSTn: fresh coder and statistics (F.1.4.3)
            dec.align_restart()
            pos = dec.pos
        dec = ArithDecoder(data, pos)
        stats = _Stats(scan)
        for slot, off in interval:
            td, ta, cond, kx = models[slot]
            blk = flats[slot][off : off + 64]
            if ss == 0:
                if ah == 0:
                    diff = _decode_dc(dec, stats.dc[td], stats, slot, cond)
                    if not diff_frame:
                        stats.pred[slot] += diff
                        diff = stats.pred[slot]
                    blk[0] = diff << al
                elif dec.decode(stats.fixed):
                    blk[0] |= 1 << al
            if se:  # the AC band: Ss..Se, 1..63 in sequential scans
                if ah == 0:
                    _prog_ac_first(dec, stats.ac[ta], stats, kx, blk,
                                   ss or 1, se, al)
                else:
                    _prog_ac_refine(dec, stats.ac[ta], stats, blk,
                                    ss, se, al)


# --- lossless arithmetic (SOF11, Annex H.2) ----------------------------
#
# The lossless statistical model is the sequential DC model expanded to
# two dimensions (H.2.1): contexts are conditioned on the 5-category
# classification (zero / ±small / ±large, per the DC conditioning bounds
# L,U of F.1.4.4.1.1) of the differences already coded for the sample to
# the LEFT (Da) and the sample ABOVE (Db). Statistics bank layout
# (158 bins per DC table, Table H.1's accounting):
#   0..99    25 (Da,Db) contexts × 4 decisions (S0, SS, SP, SN)
#   100..128 magnitude ladder X1..X15 + bits M2..M15 (Mn = Xn + 14),
#            used when Db is NOT in a large category
#   129..157 second ladder + bits, used when Db IS large
# Spatial prediction, modulo-65536 reconstruction, point transform and
# restart semantics are the Huffman lossless path's (Annex H.1 applies
# to both entropy modes): jpeg_format._decode_lossless_scan runs them
# for both, and ArithLossless supplies only the difference decoding.
# The first sample of the scan / of a restart interval is coded with
# the default prediction and (Da, Db) = (zero, zero).

_LL_SET0 = 100  # ladder when Db classification is zero/small
_LL_SET1 = 129  # ladder when Db classification is large


class ArithLossless:
    """Annex H.2 difference decoder for jpeg_format's lossless sample
    loop (_decode_lossless_scan): differences QM-coded under the
    two-dimensional (Da, Db) conditioning model, with one
    classification plane per scan slot."""

    def __init__(self, data: bytes, pos: int, frame: dict,
                 scan: list[tuple[dict, int, int]], conditioning: dict) -> None:
        self.data = data
        self.dec = ArithDecoder(data, pos)
        self.tds = [td for _c, td, _ta in scan]
        self.banks = {td: _ctx_bank(158) for td in self.tds}
        self.conds = [conditioning.get(("dc", td), (0, 1)) for td in self.tds]
        self.cls = [np.zeros((frame["h"], frame["w"]), np.uint8) for _ in scan]

    def restart(self) -> None:
        """RSTn: fresh coder and statistics."""
        self.dec.align_restart()
        self.dec = ArithDecoder(self.data, self.dec.pos)
        self.banks = {td: _ctx_bank(158) for td in self.banks}

    def diff(self, j: int, y: int, x: int, fresh: bool, ra_row: int) -> int:
        """The difference of slot `j`'s sample (y, x). The first line
        of the scan and of each restart interval treats the line above
        as outside the interval (mirrored by the test encoder)."""
        dec = self.dec
        st = self.banks[self.tds[j]]
        cl = self.cls[j]
        da = 0 if (fresh or x == 0) else int(cl[y, x - 1])
        db = 0 if (fresh or y == ra_row) else int(cl[y - 1, x])
        base = 4 * (5 * da + db)
        if dec.decode(st[base]) == 0:
            cl[y, x] = 0
            return 0
        sign = dec.decode(st[base + 1])
        if dec.decode(st[base + 2 + sign]):
            m, v = _magnitude(dec, st, 1, _LL_SET1 if db >= 3 else _LL_SET0,
                              "lossless")
        else:
            m, v = 0, 1
        cl[y, x] = _classify(m, sign, *self.conds[j])
        return -v if sign else v
