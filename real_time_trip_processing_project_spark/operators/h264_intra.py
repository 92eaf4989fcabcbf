"""H.264 FULL baseline-intra CAVLC codec (predicted-macroblock tier).

Closes the seam ``h264.py`` documented as out of scope: real PREDICTED
macroblocks — Intra_16x16 (V/H/DC/Plane) AND Intra_4x4 (all nine
directional modes with most-probable-mode signaling and the me(v)
CodedBlockPattern mapping), the 4x4 integer core transform with the
luma-DC Hadamard hierarchy, spec quantization/rescale, CAVLC entropy
coding (``h264_cavlc.py``), and a per-macroblock I4x4/I16/I_PCM
min-bits mode decision — alongside the lossless I_PCM profile.  Every
decode path is the normative inverse (§8.3 prediction, §8.5
transform/scaling, §9.2 CAVLC), so the decoder reconstructs BIT-EXACTLY
what the encoder's own reconstruction loop produced; distortion vs the
source is the quantizer's, floored in tests like the MJPEG float-DCT
path.

Spec conformance notes (ITU-T H.264):

- mb_type 1..24 carry (pred mode, CodedBlockPatternChroma,
  CodedBlockPatternLuma∈{0,15}) per Table 7-11; I_PCM (25) is decoded
  too, so mixed PCM/predicted slices work — the encoder falls back to
  I_PCM per macroblock when the entropy-coded form would be larger
  (the spec's own worst-case bound rationale for I_PCM's existence).
- The slice header sets ``disable_deblocking_filter_idc = 1`` (via the
  deblocking-control PPS ``encode_pps(deblocking_control=True)``), so
  a conformant external decoder skips the in-loop filter and this
  module's reconstruction is the normative output, not an
  approximation of it.
- nC context (§9.2.1): per-4x4 TotalCoeff maps for luma and both
  chroma planes, cross-macroblock, with I_PCM neighbors inferred as 16.
- No external H.264 decoder exists in the build container; conformance
  rests on the table prefix-freeness + published-vector + roundtrip
  fuzz suite in tests/test_h264_intra.py (same discipline as the
  I_PCM/MP4 layer, which survived external byte-layout review).

At 100 TB this is row-local work that would run inside
``mapInPandas`` around the MP4 container of ``h264.py``; nothing
shuffles.
"""

from __future__ import annotations

import numpy as np

from real_time_trip_processing_project_spark.operators import (
    h264_cavlc as CV,
)
from real_time_trip_processing_project_spark.operators.h264 import (
    MB,
    BitReader,
    BitWriter,
    I_PCM_MB_TYPE,
    ebsp_to_rbsp,
    rbsp_to_ebsp,
)

# ---------------------------------------------------------------------------
# Transforms + quantization (§8.5)

#: Forward core transform matrix (encoder side, non-normative shape —
#: the standard integer approximation whose inverse §8.5.12 expects).
_CF = np.array(
    [[1, 1, 1, 1], [2, 1, -1, -2], [1, -1, -1, 1], [1, -2, 2, -1]],
    dtype=np.int64,
)
_H4 = np.array(
    [[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
    dtype=np.int64,
)
_H2 = np.array([[1, 1], [1, -1]], dtype=np.int64)

#: Quant multipliers MF (encoder) and rescale V (decoder), per qp%6 and
#: coefficient class (0: positions (0,0),(0,2),(2,0),(2,2); 1: (1,1),
#: (1,3),(3,1),(3,3); 2: the rest) — the standard Table 8-15-derived
#: constants for flat scaling lists.
_MF = np.array(
    [
        [13107, 5243, 8066],
        [11916, 4660, 7490],
        [10082, 4194, 6554],
        [9362, 3647, 5825],
        [8192, 3355, 5243],
        [7282, 2893, 4559],
    ],
    dtype=np.int64,
)
_V = np.array(
    [
        [10, 16, 13],
        [11, 18, 14],
        [13, 20, 16],
        [14, 23, 18],
        [16, 25, 20],
        [18, 29, 23],
    ],
    dtype=np.int64,
)

#: position → class index, 4x4
_CLS = np.array(
    [[0, 2, 0, 2], [2, 1, 2, 1], [0, 2, 0, 2], [2, 1, 2, 1]],
    dtype=np.int64,
)

#: zigzag scan: scan position → raster index (§8.5.6)
ZIGZAG = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]

#: chroma qP mapping for qPi > 29 (Table 8-15); qPc = qPi below 30.
_QPC = [29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36, 37, 37, 37, 38,
        38, 38, 39, 39, 39, 39]

#: luma 4x4 blkIdx → (x, y) in 4-sample units (§6.4.3 coding order)
_BLK_XY = [
    (0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0), (2, 1), (3, 1),
    (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2), (2, 3), (3, 3),
]


def chroma_qp(qp: int) -> int:
    return qp if qp < 30 else _QPC[qp - 30]


def fwd4x4(block: np.ndarray) -> np.ndarray:
    return _CF @ block.astype(np.int64) @ _CF.T


def inv4x4(d: np.ndarray) -> np.ndarray:
    """§8.5.12.2 inverse core transform, including the (x+32)>>6."""
    d = d.astype(np.int64)
    e = np.empty_like(d)
    # horizontal
    e[:, 0] = d[:, 0] + d[:, 2]
    e[:, 1] = d[:, 0] - d[:, 2]
    e[:, 2] = (d[:, 1] >> 1) - d[:, 3]
    e[:, 3] = d[:, 1] + (d[:, 3] >> 1)
    f = np.empty_like(d)
    f[:, 0] = e[:, 0] + e[:, 3]
    f[:, 1] = e[:, 1] + e[:, 2]
    f[:, 2] = e[:, 1] - e[:, 2]
    f[:, 3] = e[:, 0] - e[:, 3]
    g = np.empty_like(d)
    g[0, :] = f[0, :] + f[2, :]
    g[1, :] = f[0, :] - f[2, :]
    g[2, :] = (f[1, :] >> 1) - f[3, :]
    g[3, :] = f[1, :] + (f[3, :] >> 1)
    h = np.empty_like(d)
    h[0, :] = g[0, :] + g[3, :]
    h[1, :] = g[1, :] + g[2, :]
    h[2, :] = g[1, :] - g[2, :]
    h[3, :] = g[0, :] - g[3, :]
    return (h + 32) >> 6


def quant4x4(w: np.ndarray, qp: int, skip_dc: bool) -> np.ndarray:
    """Forward quant: level = sign·((|W|·MF + f) >> qbits), intra
    rounding f = 2^qbits/3."""
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    mf = _MF[qp % 6][_CLS]
    lv = np.sign(w) * ((np.abs(w) * mf + f) >> qbits)
    if skip_dc:
        lv[0, 0] = 0
    return lv


def dequant4x4(levels: np.ndarray, qp: int) -> np.ndarray:
    """§8.5.12.1 rescale for flat lists: d = c·V·2^(qp/6)."""
    v = _V[qp % 6][_CLS]
    return levels.astype(np.int64) * v << (qp // 6)


def luma_dc_fwd(wdc: np.ndarray, qp: int) -> np.ndarray:
    """Encoder luma-DC path: unnormalized Hadamard (gain 16 over the
    roundtrip) then quant at qbits+2 — calibrated so the §8.5.10
    decoder scale lands the DC position at 4·W00, the SAME dequantized
    domain the AC path feeds inv4x4 (MF·V ≈ 2^17 makes quant∘rescale a
    ×4 map for every class at every qp; the inverse transform's >>6
    absorbs it).  Verified ratio≈4.00 across qp 0..44 in tests."""
    y = _H4 @ wdc @ _H4
    qbits = 15 + qp // 6
    f = (1 << (qbits + 2)) // 3
    return np.sign(y) * ((np.abs(y) * _MF[qp % 6][0] + f) >> (qbits + 2))


def luma_dc_inv(c: np.ndarray, qp: int) -> np.ndarray:
    """§8.5.10: inverse Hadamard + scaling (LevelScale = 16·V00)."""
    f = _H4 @ c.astype(np.int64) @ _H4
    scale = 16 * _V[qp % 6][0]
    if qp >= 36:
        return (f * scale) << (qp // 6 - 6)
    return (f * scale + (1 << (5 - qp // 6))) >> (6 - qp // 6)


def chroma_dc_fwd(wdc: np.ndarray, qp: int) -> np.ndarray:
    """Chroma twin of :func:`luma_dc_fwd`: 2x2 Hadamard (roundtrip
    gain 4) quantized at qbits+1, pairing with §8.5.11's >>5 scale for
    the same 4·W00 dequantized-domain landing as the luma path."""
    y = _H2 @ wdc @ _H2
    qbits = 15 + qp // 6
    f = (1 << (qbits + 1)) // 3
    return np.sign(y) * ((np.abs(y) * _MF[qp % 6][0] + f) >> (qbits + 1))


def chroma_dc_inv(c: np.ndarray, qp: int) -> np.ndarray:
    """§8.5.11: f = H2 c H2; dcC = ((f·LevelScale) << (qp/6)) >> 5."""
    f = _H2 @ c.astype(np.int64) @ _H2
    scale = 16 * _V[qp % 6][0]
    return (f * scale << (qp // 6)) >> 5


# ---------------------------------------------------------------------------
# Prediction (§8.3.3 Intra_16x16, §8.3.4 chroma)


def predict_i16(
    recon: np.ndarray, y0: int, x0: int, mode: int
) -> np.ndarray:
    """Intra_16x16 luma prediction from RECONSTRUCTED neighbors."""
    top_ok, left_ok = y0 > 0, x0 > 0
    top = recon[y0 - 1, x0 : x0 + MB].astype(np.int64) if top_ok else None
    left = recon[y0 : y0 + MB, x0 - 1].astype(np.int64) if left_ok else None
    if mode == 0:  # Vertical
        if not top_ok:
            raise ValueError("vertical prediction needs a top neighbor")
        return np.tile(top, (MB, 1))
    if mode == 1:  # Horizontal
        if not left_ok:
            raise ValueError("horizontal prediction needs a left neighbor")
        return np.tile(left[:, None], (1, MB))
    if mode == 2:  # DC
        if top_ok and left_ok:
            dc = (int(top.sum()) + int(left.sum()) + 16) >> 5
        elif top_ok:
            dc = (int(top.sum()) + 8) >> 4
        elif left_ok:
            dc = (int(left.sum()) + 8) >> 4
        else:
            dc = 128
        return np.full((MB, MB), dc, dtype=np.int64)
    if mode == 3:  # Plane
        if not (top_ok and left_ok):
            raise ValueError("plane prediction needs both neighbors")
        corner = int(recon[y0 - 1, x0 - 1])
        tl = np.concatenate(([corner], top))  # p[-1, -1..15] shifted
        ll = np.concatenate(([corner], left))
        hsum = sum((x + 1) * (int(tl[9 + x]) - int(tl[7 - x])) for x in range(8))
        vsum = sum((y + 1) * (int(ll[9 + y]) - int(ll[7 - y])) for y in range(8))
        a = 16 * (int(top[15]) + int(left[15]))
        b = (5 * hsum + 32) >> 6
        c = (5 * vsum + 32) >> 6
        xs = np.arange(MB, dtype=np.int64)
        pred = (a + b * (xs[None, :] - 7) + c * (xs[:, None] - 7) + 16) >> 5
        return np.clip(pred, 0, 255)
    raise ValueError(f"bad Intra_16x16 mode {mode}")


def predict_chroma(
    recon: np.ndarray, y0: int, x0: int, mode: int
) -> np.ndarray:
    """8x8 chroma prediction (§8.3.4), modes 0=DC, 1=H, 2=V, 3=Plane."""
    top_ok, left_ok = y0 > 0, x0 > 0
    top = recon[y0 - 1, x0 : x0 + 8].astype(np.int64) if top_ok else None
    left = recon[y0 : y0 + 8, x0 - 1].astype(np.int64) if left_ok else None
    if mode == 0:  # DC, per 4x4 quadrant
        out = np.empty((8, 8), dtype=np.int64)
        for qy, qx in ((0, 0), (0, 4), (4, 0), (4, 4)):
            t = top[qx : qx + 4] if top_ok else None
            ln = left[qy : qy + 4] if left_ok else None
            if qy == 0 and qx == 0 or (qy == 4 and qx == 4):
                if top_ok and left_ok:
                    dc = (int(t.sum()) + int(ln.sum()) + 4) >> 3
                elif top_ok:
                    dc = (int(t.sum()) + 2) >> 2
                elif left_ok:
                    dc = (int(ln.sum()) + 2) >> 2
                else:
                    dc = 128
            elif qy == 0:  # top-right quadrant prefers top
                if top_ok:
                    dc = (int(t.sum()) + 2) >> 2
                elif left_ok:
                    dc = (int(ln.sum()) + 2) >> 2
                else:
                    dc = 128
            else:  # bottom-left quadrant prefers left
                if left_ok:
                    dc = (int(ln.sum()) + 2) >> 2
                elif top_ok:
                    dc = (int(t.sum()) + 2) >> 2
                else:
                    dc = 128
            out[qy : qy + 4, qx : qx + 4] = dc
        return out
    if mode == 1:  # Horizontal
        if not left_ok:
            raise ValueError("chroma horizontal needs left")
        return np.tile(left[:, None], (1, 8))
    if mode == 2:  # Vertical
        if not top_ok:
            raise ValueError("chroma vertical needs top")
        return np.tile(top, (8, 1))
    if mode == 3:  # Plane
        if not (top_ok and left_ok):
            raise ValueError("chroma plane needs both")
        corner = int(recon[y0 - 1, x0 - 1])
        tl = np.concatenate(([corner], top))
        ll = np.concatenate(([corner], left))
        hsum = sum((x + 1) * (int(tl[5 + x]) - int(tl[3 - x])) for x in range(4))
        vsum = sum((y + 1) * (int(ll[5 + y]) - int(ll[3 - y])) for y in range(4))
        a = 16 * (int(top[7]) + int(left[7]))
        b = (17 * hsum + 16) >> 5
        c = (17 * vsum + 16) >> 5
        xs = np.arange(8, dtype=np.int64)
        pred = (a + b * (xs[None, :] - 3) + c * (xs[:, None] - 3) + 16) >> 5
        return np.clip(pred, 0, 255)
    raise ValueError(f"bad chroma mode {mode}")


# ---------------------------------------------------------------------------
# nC context bookkeeping (§9.2.1)


class _NzCtx:
    """Per-plane TotalCoeff maps in 4x4 units, cross-macroblock."""

    def __init__(self, h_mbs: int, w_mbs: int, units_per_mb: int) -> None:
        self.m = np.full(
            (h_mbs * units_per_mb, w_mbs * units_per_mb), -1, dtype=np.int64
        )

    def nc(self, by: int, bx: int) -> int:
        na = self.m[by, bx - 1] if bx > 0 else -1
        nb = self.m[by - 1, bx] if by > 0 else -1
        if na >= 0 and nb >= 0:
            return int(na + nb + 1) >> 1
        if na >= 0:
            return int(na)
        if nb >= 0:
            return int(nb)
        return 0

    def set(self, by: int, bx: int, tc: int) -> None:
        self.m[by, bx] = tc


def _zigzag_read(levels4x4: np.ndarray) -> list[int]:
    flat = levels4x4.reshape(16)
    return [int(flat[ZIGZAG[i]]) for i in range(16)]


def _zigzag_write(scan: list[int]) -> np.ndarray:
    out = np.zeros(16, dtype=np.int64)
    for i, v in enumerate(scan):
        out[ZIGZAG[i]] = v
    return out.reshape(4, 4)


class _Recorder:
    """Position-independent bit recorder with the BitWriter interface's
    u/ue/se surface — predicted macroblocks never byte-align, so their
    bits can be trial-encoded here and replayed into the real writer
    (or discarded when the I_PCM fallback wins)."""

    def __init__(self) -> None:
        self.ops: list[tuple[int, int]] = []
        self.nbits = 0

    def u(self, value: int, nbits: int) -> None:
        self.ops.append((value, nbits))
        self.nbits += nbits

    def ue(self, value: int) -> None:
        code = value + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def se(self, value: int) -> None:
        self.ue(2 * value - 1 if value > 0 else -2 * value)

    def replay(self, bw: BitWriter) -> None:
        for value, nbits in self.ops:
            bw.u(value, nbits)


def _sad(a: np.ndarray, b: np.ndarray) -> int:
    return int(np.abs(a.astype(np.int64) - b).sum())


def _chroma_analyze(src_c, recon_c, mby, mbx, qpc):
    """Shared chroma side of every predicted MB type (I16 and I4x4 use
    identical chroma syntax): DC-mode prediction, 4x4 transforms, 2x2
    DC Hadamard, quant → (dc_levels, ac_levels, preds, cbp_chroma)."""
    cy0, cx0 = mby * 8, mbx * 8
    preds = [
        predict_chroma(recon_c[comp], cy0, cx0, 0) for comp in range(2)
    ]
    return _chroma_analyze_from_pred(src_c, preds, mby, mbx, qpc)


def _chroma_analyze_from_pred(src_c, preds, mby, mbx, qpc):
    """Chroma transform/quant against a GIVEN prediction — the
    spatial-prediction (intra) and motion-compensated (inter,
    h264_inter.py) paths share everything below the predictor."""
    c_dc_levels, c_ac_levels, c_preds = [], [], []
    for comp in range(2):
        cy0, cx0 = mby * 8, mbx * 8
        cblock = src_c[comp][cy0 : cy0 + 8, cx0 : cx0 + 8].astype(np.int64)
        cpred = preds[comp]
        cdiff = cblock - cpred
        Wc = np.empty((2, 2, 4, 4), dtype=np.int64)
        for by in range(2):
            for bx in range(2):
                Wc[by, bx] = fwd4x4(
                    cdiff[4 * by : 4 * by + 4, 4 * bx : 4 * bx + 4]
                )
        c_dc_levels.append(chroma_dc_fwd(Wc[:, :, 0, 0], qpc))
        acs = np.empty_like(Wc)
        for by in range(2):
            for bx in range(2):
                acs[by, bx] = quant4x4(Wc[by, bx], qpc, skip_dc=True)
        c_ac_levels.append(acs)
        c_preds.append(cpred)
    any_dc = any(np.any(d) for d in c_dc_levels)
    any_ac = any(np.any(a) for a in c_ac_levels)
    cbp_chroma = 2 if any_ac else (1 if any_dc else 0)
    return c_dc_levels, c_ac_levels, c_preds, cbp_chroma


def _chroma_recon(c_dc_levels, c_ac_levels, c_preds, cbp_chroma, qpc):
    rec_c = []
    for comp in range(2):
        dc2 = (
            chroma_dc_inv(c_dc_levels[comp], qpc)
            if cbp_chroma >= 1
            else np.zeros((2, 2), dtype=np.int64)
        )
        out = np.empty((8, 8), dtype=np.uint8)
        for by in range(2):
            for bx in range(2):
                d = (
                    dequant4x4(c_ac_levels[comp][by, bx], qpc)
                    if cbp_chroma == 2
                    else np.zeros((4, 4), dtype=np.int64)
                )
                d[0, 0] = dc2[by, bx]
                r = inv4x4(d)
                out[4 * by : 4 * by + 4, 4 * bx : 4 * bx + 4] = np.clip(
                    c_preds[comp][4 * by : 4 * by + 4, 4 * bx : 4 * bx + 4]
                    + r,
                    0,
                    255,
                )
        rec_c.append(out)
    return rec_c


def _chroma_write(rec, c_dc_levels, c_ac_levels, cbp_chroma,
                  nz_c, nz_updates, mby, mbx):
    for comp in range(2):
        if cbp_chroma >= 1:
            dcs = c_dc_levels[comp]
            scan = [int(dcs[0, 0]), int(dcs[0, 1]),
                    int(dcs[1, 0]), int(dcs[1, 1])]
            CV.write_residual_block(rec, scan, -1, 4)
    for comp in range(2):
        for blk in range(4):
            x, y = blk % 2, blk // 2
            by2, bx2 = 2 * mby + y, 2 * mbx + x
            if cbp_chroma == 2:
                scan = _zigzag_read(c_ac_levels[comp][y, x])[1:]
                nc = _nc_pending(nz_c[comp], nz_updates, comp + 1, by2, bx2)
                tc = CV.write_residual_block(rec, scan, nc, 15)
            else:
                tc = 0
            nz_updates[(comp + 1, by2, bx2)] = tc



def _analyze_mb_i16(
    src_y: np.ndarray,
    recon_y: np.ndarray,
    src_c: list[np.ndarray],
    recon_c: list[np.ndarray],
    mby: int,
    mbx: int,
    qp: int,
) -> tuple:
    """The entropy-coder-independent half of Intra_16x16 macroblock
    encoding: mode selection, forward transform + quantization, and
    the decoder-exact reconstruction.  Returns ``(mode, cbp_luma,
    dc_levels, ac_levels, c_dc_levels, c_ac_levels, c_preds,
    cbp_chroma, rec_y, rec_c)`` — the model state the CAVLC writer
    below serializes."""
    y0, x0 = mby * MB, mbx * MB
    block = src_y[y0 : y0 + MB, x0 : x0 + MB].astype(np.int64)
    cands = [2]
    if mby > 0:
        cands.append(0)
    if mbx > 0:
        cands.append(1)
    if mby > 0 and mbx > 0:
        cands.append(3)
    best_mode, best_pred, best_cost = None, None, None
    for m in sorted(cands):
        p = predict_i16(recon_y, y0, x0, m)
        cost = _sad(block, p)
        if best_cost is None or cost < best_cost:
            best_mode, best_pred, best_cost = m, p, cost
    mode, pred = best_mode, best_pred

    diff = block - pred
    W = np.empty((4, 4, 4, 4), dtype=np.int64)  # [by][bx] -> 4x4 coeffs
    for by in range(4):
        for bx in range(4):
            W[by, bx] = fwd4x4(diff[4 * by : 4 * by + 4, 4 * bx : 4 * bx + 4])
    dc_levels = luma_dc_fwd(W[:, :, 0, 0], qp)
    ac_levels = np.empty_like(W)
    for by in range(4):
        for bx in range(4):
            ac_levels[by, bx] = quant4x4(W[by, bx], qp, skip_dc=True)
    cbp_luma = 15 if np.any(ac_levels) else 0

    qpc = chroma_qp(qp)
    c_dc_levels, c_ac_levels, c_preds, cbp_chroma = _chroma_analyze(
        src_c, recon_c, mby, mbx, qpc
    )

    # --- reconstruction (must equal the decoder's bit-for-bit)
    dc_deq = luma_dc_inv(dc_levels, qp)
    rec_y = np.empty((MB, MB), dtype=np.uint8)
    for by in range(4):
        for bx in range(4):
            d = (
                dequant4x4(ac_levels[by, bx], qp)
                if cbp_luma
                else np.zeros((4, 4), dtype=np.int64)
            )
            d[0, 0] = dc_deq[by, bx]
            r = inv4x4(d)
            rec_y[4 * by : 4 * by + 4, 4 * bx : 4 * bx + 4] = np.clip(
                pred[4 * by : 4 * by + 4, 4 * bx : 4 * bx + 4] + r, 0, 255
            )
    rec_c = _chroma_recon(c_dc_levels, c_ac_levels, c_preds, cbp_chroma, qpc)
    return (
        mode, cbp_luma, dc_levels, ac_levels,
        c_dc_levels, c_ac_levels, c_preds, cbp_chroma, rec_y, rec_c,
    )


def _encode_mb_i16(
    rec,
    src_y: np.ndarray,
    recon_y: np.ndarray,
    src_c: list[np.ndarray],
    recon_c: list[np.ndarray],
    mby: int,
    mbx: int,
    qp: int,
    nz_y: _NzCtx,
    nz_c: list[_NzCtx],
) -> tuple[np.ndarray, list[np.ndarray], list[tuple]]:
    """Encode one Intra_16x16 macroblock into ``rec`` (CAVLC syntax);
    returns the reconstructed luma/chroma blocks plus the deferred
    nC-map updates — the caller commits them only if the predicted
    form beats I_PCM."""
    (
        mode, cbp_luma, dc_levels, ac_levels,
        c_dc_levels, c_ac_levels, c_preds, cbp_chroma, rec_y, rec_c,
    ) = _analyze_mb_i16(src_y, recon_y, src_c, recon_c, mby, mbx, qp)

    # --- syntax
    mb_type = 1 + mode + 4 * cbp_chroma + 12 * (1 if cbp_luma else 0)
    rec.ue(mb_type)
    rec.ue(0)  # intra_chroma_pred_mode: DC
    rec.se(0)  # mb_qp_delta
    nz_updates: dict[tuple, int] = {}
    # Intra16x16DCLevel: nC of the blkIdx-0 4x4 position
    nc = nz_y.nc(4 * mby, 4 * mbx)
    CV.write_residual_block(rec, _zigzag_read(dc_levels), nc, 16)
    for blk in range(16):
        x, y = _BLK_XY[blk]
        by4, bx4 = 4 * mby + y, 4 * mbx + x
        if cbp_luma:
            scan = _zigzag_read(ac_levels[y, x])[1:]
            nc = _nc_pending(nz_y, nz_updates, 0, by4, bx4)
            tc = CV.write_residual_block(rec, scan, nc, 15)
        else:
            tc = 0
        nz_updates[(0, by4, bx4)] = tc
    _chroma_write(rec, c_dc_levels, c_ac_levels, cbp_chroma,
                  nz_c, nz_updates, mby, mbx)
    return rec_y, rec_c, nz_updates


def _nc_pending(ctx: _NzCtx, pending: dict, plane: int,
                by: int, bx: int) -> int:
    """nC lookup that sees this macroblock's own not-yet-committed
    TotalCoeffs (left/top neighbors inside the same MB) — ``pending``
    is the {(plane, by, bx): tc} map the caller fills as it codes."""
    na = pending.get((plane, by, bx - 1))
    if na is None:
        na = ctx.m[by, bx - 1] if bx > 0 else -1
    nb = pending.get((plane, by - 1, bx))
    if nb is None:
        nb = ctx.m[by - 1, bx] if by > 0 else -1
    na, nb = int(na), int(nb)
    if na >= 0 and nb >= 0:
        return (na + nb + 1) >> 1
    if na >= 0:
        return na
    if nb >= 0:
        return nb
    return 0


# ---------------------------------------------------------------------------
# Slice-level codec


def encode_idr_frame_i16(
    frame: np.ndarray,
    qp: int = 26,
    idr_pic_id: int = 0,
    pcm_fallback: bool = True,
    return_recon: bool = False,
    return_chroma: bool = False,
):
    """One IDR NAL of Intra_16x16 macroblocks (chroma constant 128,
    per-MB I_PCM fallback) — :func:`_encode_idr_frame` with the
    Intra_4x4 trial disabled; the IDR picture of the GOP tiers.
    ``return_chroma`` appends the chroma reconstruction to the
    return (the inter tier needs the full reference picture)."""
    return _encode_idr_frame(
        frame, qp, idr_pic_id, pcm_fallback, return_recon,
        allow_i4=False, return_chroma=return_chroma,
    )


def _check_qp(qp: int) -> None:
    """Corrupted qp deltas must fail as data errors (ValueError), not
    as an IndexError off the chroma-qp table — the fuzz contract."""
    if not 0 <= qp <= 51:
        raise ValueError(f"qp {qp} out of range after delta")


def decode_idr_frame_auto(
    nal: bytes, sps: dict, pps: dict, return_chroma: bool = False
):
    """Decode an IDR slice of Intra_16x16 and/or I_PCM macroblocks —
    the normative §8.3/§8.5/§9.2 inverse.  Returns the luma plane
    (plus the chroma planes when ``return_chroma`` — the inter tier's
    reference picture)."""
    if not nal or nal[0] & 0x1F != 5:
        raise ValueError("not an IDR slice NAL")
    r = BitReader(ebsp_to_rbsp(nal[1:]))
    if r.ue() != 0:
        raise ValueError("first_mb_in_slice != 0")
    if r.ue() % 5 != 2:
        raise ValueError("not an I slice")
    r.ue()  # pic_parameter_set_id
    r.u(sps["log2_max_frame_num"])
    r.ue()  # idr_pic_id
    r.u(2)  # dec_ref_pic_marking
    qp = 26 + r.se()
    _check_qp(qp)
    if pps.get("deblocking_control"):
        idc = r.ue()
        if idc != 1:
            r.se()  # slice_alpha_c0_offset_div2
            r.se()  # slice_beta_offset_div2
    h, w = sps["height"], sps["width"]
    h_mbs, w_mbs = h // MB, w // MB
    recon_y = np.zeros((h, w), dtype=np.uint8)
    recon_c = [
        np.zeros((h // 2, w // 2), dtype=np.uint8) for _ in range(2)
    ]
    nz_y = _NzCtx(h_mbs, w_mbs, 4)
    nz_c = [_NzCtx(h_mbs, w_mbs, 2) for _ in range(2)]
    i4_modes = np.full((h_mbs * 4, w_mbs * 4), -1, dtype=np.int64)
    decoded4 = np.zeros((h_mbs * 4, w_mbs * 4), dtype=bool)
    w4 = w_mbs * 4
    for mby in range(h_mbs):
        for mbx in range(w_mbs):
            mb_type = r.ue()
            if mb_type == I_PCM_MB_TYPE:
                r.align()
                luma = np.frombuffer(r.raw_bytes(256), dtype=np.uint8)
                recon_y[
                    mby * MB : (mby + 1) * MB, mbx * MB : (mbx + 1) * MB
                ] = luma.reshape(MB, MB)
                cbcr = np.frombuffer(r.raw_bytes(128), dtype=np.uint8)
                for comp in range(2):
                    recon_c[comp][
                        mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
                    ] = cbcr[64 * comp : 64 * comp + 64].reshape(8, 8)
                for y in range(4):
                    for x in range(4):
                        nz_y.set(4 * mby + y, 4 * mbx + x, 16)
                for comp in range(2):
                    for y in range(2):
                        for x in range(2):
                            nz_c[comp].set(2 * mby + y, 2 * mbx + x, 16)
                decoded4[4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4] = True
                continue
            if mb_type == 0:  # I_NxN → Intra_4x4 (baseline: no 8x8)
                modes16 = np.full(16, -1, dtype=np.int64)
                for blk in range(16):
                    pm = _i4_pred_mode_overlay(
                        i4_modes, modes16, blk, mby, mbx
                    )
                    if r.u(1):
                        modes16[blk] = pm
                    else:
                        rem = r.u(3)
                        modes16[blk] = rem if rem < pm else rem + 1
                chroma_mode = r.ue()
                code_num = r.ue()
                if code_num >= len(CBP_INTRA_ME):
                    raise ValueError("coded_block_pattern out of range")
                cbp = CBP_INTRA_ME[code_num]
                cbp_luma_bits, cbp_chroma = cbp & 15, cbp >> 4
                if cbp:
                    qp += r.se()
                    _check_qp(qp)
                qpc = chroma_qp(qp)
                levels16 = np.zeros((16, 4, 4), dtype=np.int64)
                for blk in range(16):
                    x, y = _BLK_XY[blk]
                    by4, bx4 = 4 * mby + y, 4 * mbx + x
                    if cbp_luma_bits & (1 << (blk // 4)):
                        nc = nz_y.nc(by4, bx4)
                        scan, tc = CV.read_residual_block(r, nc, 16)
                        levels16[blk] = _zigzag_write(scan)
                        nz_y.set(by4, bx4, tc)
                    else:
                        nz_y.set(by4, bx4, 0)
                c_dc = [np.zeros((2, 2), dtype=np.int64) for _ in range(2)]
                for comp in range(2):
                    if cbp_chroma >= 1:
                        scan, _ = CV.read_residual_block(r, -1, 4)
                        c_dc[comp] = np.array(
                            [[scan[0], scan[1]], [scan[2], scan[3]]],
                            dtype=np.int64,
                        )
                c_ac = [
                    np.zeros((2, 2, 4, 4), dtype=np.int64)
                    for _ in range(2)
                ]
                for comp in range(2):
                    for blk in range(4):
                        x, y = blk % 2, blk // 2
                        by2, bx2 = 2 * mby + y, 2 * mbx + x
                        if cbp_chroma == 2:
                            nc = nz_c[comp].nc(by2, bx2)
                            scan, tc = CV.read_residual_block(r, nc, 15)
                            c_ac[comp][y, x] = _zigzag_write([0] + scan)
                            nz_c[comp].set(by2, bx2, tc)
                        else:
                            nz_c[comp].set(by2, bx2, 0)
                # luma reconstruction in coding order (prediction reads
                # the growing recon + decoded4, exactly as the encoder)
                for blk in range(16):
                    x, y = _BLK_XY[blk]
                    by4, bx4 = 4 * mby + y, 4 * mbx + x
                    py, px = 4 * by4, 4 * bx4
                    left_ok = bx4 > 0
                    top_ok = by4 > 0
                    tr_ok = (
                        top_ok
                        and bx4 + 1 < w4
                        and bool(decoded4[by4 - 1, bx4 + 1])
                    )
                    pred = predict_i4(
                        recon_y, py, px, int(modes16[blk]),
                        left_ok, top_ok, tr_ok,
                    )
                    r4 = inv4x4(dequant4x4(levels16[blk], qp))
                    recon_y[py : py + 4, px : px + 4] = np.clip(
                        pred + r4, 0, 255
                    )
                    decoded4[by4, bx4] = True
                    i4_modes[by4, bx4] = modes16[blk]
                cy0, cx0 = mby * 8, mbx * 8
                c_preds = [
                    predict_chroma(recon_c[comp], cy0, cx0, chroma_mode)
                    for comp in range(2)
                ]
                rec_c = _chroma_recon(c_dc, c_ac, c_preds, cbp_chroma, qpc)
                for comp in range(2):
                    recon_c[comp][cy0 : cy0 + 8, cx0 : cx0 + 8] = rec_c[comp]
                continue
            if not 1 <= mb_type <= 24:
                raise ValueError(
                    f"unsupported I-slice mb_type {mb_type}"
                )
            mt = mb_type - 1
            cbp_luma = 15 if mt >= 12 else 0
            cbp_chroma = (mt % 12) // 4
            mode = mt % 4
            chroma_mode = r.ue()
            qp += r.se()  # mb_qp_delta
            _check_qp(qp)
            qpc = chroma_qp(qp)
            y0, x0 = mby * MB, mbx * MB

            nc = nz_y.nc(4 * mby, 4 * mbx)
            dc_scan, _ = CV.read_residual_block(r, nc, 16)
            dc_levels = _zigzag_write(dc_scan)
            ac_levels = np.zeros((4, 4, 4, 4), dtype=np.int64)
            for blk in range(16):
                x, y = _BLK_XY[blk]
                by4, bx4 = 4 * mby + y, 4 * mbx + x
                if cbp_luma:
                    nc = nz_y.nc(by4, bx4)
                    scan, tc = CV.read_residual_block(r, nc, 15)
                    ac_levels[y, x] = _zigzag_write([0] + scan)
                    nz_y.set(by4, bx4, tc)
                else:
                    nz_y.set(by4, bx4, 0)
            c_dc = [np.zeros((2, 2), dtype=np.int64) for _ in range(2)]
            for comp in range(2):
                if cbp_chroma >= 1:
                    scan, _ = CV.read_residual_block(r, -1, 4)
                    c_dc[comp] = np.array(
                        [[scan[0], scan[1]], [scan[2], scan[3]]],
                        dtype=np.int64,
                    )
            c_ac = [
                np.zeros((2, 2, 4, 4), dtype=np.int64) for _ in range(2)
            ]
            for comp in range(2):
                for blk in range(4):
                    x, y = blk % 2, blk // 2
                    by2, bx2 = 2 * mby + y, 2 * mbx + x
                    if cbp_chroma == 2:
                        nc = nz_c[comp].nc(by2, bx2)
                        scan, tc = CV.read_residual_block(r, nc, 15)
                        c_ac[comp][y, x] = _zigzag_write([0] + scan)
                        nz_c[comp].set(by2, bx2, tc)
                    else:
                        nz_c[comp].set(by2, bx2, 0)

            pred = predict_i16(recon_y, y0, x0, mode)
            dc_deq = luma_dc_inv(dc_levels, qp)
            for by in range(4):
                for bx in range(4):
                    d = (
                        dequant4x4(ac_levels[by, bx], qp)
                        if cbp_luma
                        else np.zeros((4, 4), dtype=np.int64)
                    )
                    d[0, 0] = dc_deq[by, bx]
                    rblk = inv4x4(d)
                    recon_y[
                        y0 + 4 * by : y0 + 4 * by + 4,
                        x0 + 4 * bx : x0 + 4 * bx + 4,
                    ] = np.clip(
                        pred[4 * by : 4 * by + 4, 4 * bx : 4 * bx + 4]
                        + rblk,
                        0,
                        255,
                    )
            for comp in range(2):
                cy0, cx0 = mby * 8, mbx * 8
                cpred = predict_chroma(
                    recon_c[comp], cy0, cx0, chroma_mode
                )
                dc2 = (
                    chroma_dc_inv(c_dc[comp], qpc)
                    if cbp_chroma >= 1
                    else np.zeros((2, 2), dtype=np.int64)
                )
                for by in range(2):
                    for bx in range(2):
                        d = (
                            dequant4x4(c_ac[comp][by, bx], qpc)
                            if cbp_chroma == 2
                            else np.zeros((4, 4), dtype=np.int64)
                        )
                        d[0, 0] = dc2[by, bx]
                        rblk = inv4x4(d)
                        recon_c[comp][
                            cy0 + 4 * by : cy0 + 4 * by + 4,
                            cx0 + 4 * bx : cx0 + 4 * bx + 4,
                        ] = np.clip(
                            cpred[4 * by : 4 * by + 4, 4 * bx : 4 * bx + 4]
                            + rblk,
                            0,
                            255,
                        )
            decoded4[4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4] = True
    if r.u(1) != 1:
        raise ValueError("missing rbsp_stop_one_bit")
    if return_chroma:
        return recon_y, recon_c
    return recon_y


# ---------------------------------------------------------------------------
# Intra_4x4 (§8.3.1, §8.3.2) — the 9 directional 4x4 modes, MPM-coded


#: Table 9-4 (ChromaArrayType=1), Intra_4x4 column: codeNum →
#: coded_block_pattern for the me(v) mapping.  Asserted to be a
#: permutation of 0..47 in tests.
CBP_INTRA_ME = [
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
]
_CBP_INTRA_INV = {cbp: i for i, cbp in enumerate(CBP_INTRA_ME)}

#: mode ids (Table 8-2): 0 V, 1 H, 2 DC, 3 DDL, 4 DDR, 5 VR, 6 HD,
#: 7 VL, 8 HU


def predict_i4(
    recon: np.ndarray,
    y0: int,
    x0: int,
    mode: int,
    left_ok: bool,
    top_ok: bool,
    tr_ok: bool,
) -> np.ndarray:
    """One 4x4 intra prediction (§8.3.1.2) from reconstructed samples.
    ``tr_ok``: the 4 top-right samples' block is decoded; when False
    but top is available, they substitute as p[3,-1] replicated (the
    spec's rule)."""
    p_l = recon[y0 : y0 + 4, x0 - 1].astype(np.int64) if left_ok else None
    p_t = recon[y0 - 1, x0 : x0 + 4].astype(np.int64) if top_ok else None
    if top_ok:
        if tr_ok:
            p_tr = recon[y0 - 1, x0 + 4 : x0 + 8].astype(np.int64)
        else:
            p_tr = np.full(4, int(p_t[3]), dtype=np.int64)
    else:
        p_tr = None
    p_c = int(recon[y0 - 1, x0 - 1]) if (left_ok and top_ok) else None
    out = np.empty((4, 4), dtype=np.int64)
    if mode == 0:  # Vertical
        if not top_ok:
            raise ValueError("mode 0 needs top")
        return np.tile(p_t, (4, 1))
    if mode == 1:  # Horizontal
        if not left_ok:
            raise ValueError("mode 1 needs left")
        return np.tile(p_l[:, None], (1, 4))
    if mode == 2:  # DC
        if top_ok and left_ok:
            dc = (int(p_t.sum()) + int(p_l.sum()) + 4) >> 3
        elif top_ok:
            dc = (int(p_t.sum()) + 2) >> 2
        elif left_ok:
            dc = (int(p_l.sum()) + 2) >> 2
        else:
            dc = 128
        out[:] = dc
        return out
    if mode == 3:  # Diagonal-Down-Left
        if not top_ok:
            raise ValueError("mode 3 needs top")
        t = np.concatenate([p_t, p_tr])
        for y in range(4):
            for x in range(4):
                i = x + y
                if i == 6:
                    out[y, x] = (t[6] + 3 * t[7] + 2) >> 2
                else:
                    out[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
        return out
    if mode == 4:  # Diagonal-Down-Right
        if not (top_ok and left_ok):
            raise ValueError("mode 4 needs top+left")
        for y in range(4):
            for x in range(4):
                d = x - y
                if d > 0:
                    out[y, x] = (
                        (p_t[d - 2] + 2 * p_t[d - 1] + p_t[d] + 2) >> 2
                        if d >= 2
                        else (p_c + 2 * p_t[0] + p_t[1] + 2) >> 2
                    )
                elif d < 0:
                    dd = -d
                    out[y, x] = (
                        (p_l[dd - 2] + 2 * p_l[dd - 1] + p_l[dd] + 2) >> 2
                        if dd >= 2
                        else (p_c + 2 * p_l[0] + p_l[1] + 2) >> 2
                    )
                else:
                    out[y, x] = (p_t[0] + 2 * p_c + p_l[0] + 2) >> 2
        return out
    if mode == 5:  # Vertical-Right (§8.3.1.2.6)
        if not (top_ok and left_ok):
            raise ValueError("mode 5 needs top+left")

        def _t5(i):  # p[i, -1] with i == -1 the corner
            return p_c if i < 0 else int(p_t[i])

        for y in range(4):
            for x in range(4):
                z = 2 * x - y
                i = x - (y >> 1)
                if z >= 0 and z % 2 == 0:
                    out[y, x] = (_t5(i - 1) + _t5(i) + 1) >> 1
                elif z >= 0:
                    out[y, x] = (
                        _t5(i - 2) + 2 * _t5(i - 1) + _t5(i) + 2
                    ) >> 2
                elif z == -1:
                    out[y, x] = (p_l[0] + 2 * p_c + p_t[0] + 2) >> 2
                else:  # z in {-2, -3} → x == 0, left column walk
                    a = p_c if y - 3 < 0 else int(p_l[y - 3])
                    out[y, x] = (
                        int(p_l[y - 1]) + 2 * int(p_l[y - 2]) + a + 2
                    ) >> 2
        return out
    if mode == 6:  # Horizontal-Down (§8.3.1.2.7)
        if not (top_ok and left_ok):
            raise ValueError("mode 6 needs top+left")

        def _l6(i):  # p[-1, i] with i == -1 the corner
            return p_c if i < 0 else int(p_l[i])

        for y in range(4):
            for x in range(4):
                z = 2 * y - x
                i = y - (x >> 1)
                if z >= 0 and z % 2 == 0:
                    out[y, x] = (_l6(i - 1) + _l6(i) + 1) >> 1
                elif z >= 0:
                    out[y, x] = (
                        _l6(i - 2) + 2 * _l6(i - 1) + _l6(i) + 2
                    ) >> 2
                elif z == -1:
                    out[y, x] = (p_l[0] + 2 * p_c + p_t[0] + 2) >> 2
                else:  # z in {-2, -3} → y == 0, top row walk
                    a = p_c if x - 3 < 0 else int(p_t[x - 3])
                    out[y, x] = (
                        int(p_t[x - 1]) + 2 * int(p_t[x - 2]) + a + 2
                    ) >> 2
        return out
    if mode == 7:  # Vertical-Left
        if not top_ok:
            raise ValueError("mode 7 needs top")
        t = np.concatenate([p_t, p_tr])
        for y in range(4):
            for x in range(4):
                i = x + (y >> 1)
                if y % 2 == 0:
                    out[y, x] = (t[i] + t[i + 1] + 1) >> 1
                else:
                    out[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
        return out
    if mode == 8:  # Horizontal-Up
        if not left_ok:
            raise ValueError("mode 8 needs left")
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                if z > 5:
                    out[y, x] = p_l[3]
                elif z == 5:
                    out[y, x] = (p_l[2] + 3 * p_l[3] + 2) >> 2
                elif z % 2 == 0:
                    i = y + (x >> 1)
                    out[y, x] = (p_l[i] + p_l[i + 1] + 1) >> 1
                else:
                    i = y + (x >> 1)
                    out[y, x] = (
                        p_l[i] + 2 * p_l[i + 1] + p_l[i + 2] + 2
                    ) >> 2
        return out
    raise ValueError(f"bad Intra_4x4 mode {mode}")


# ---------------------------------------------------------------------------
# Intra_4x4 macroblock layer

#: mode-availability requirements: per mode id, (needs_top, needs_left)
_I4_NEEDS = {
    0: (True, False), 1: (False, True), 2: (False, False),
    3: (True, False), 4: (True, True), 5: (True, True),
    6: (True, True), 7: (True, False), 8: (False, True),
}


def _analyze_mb_i4(
    src_y: np.ndarray,
    recon_y: np.ndarray,
    src_c: list[np.ndarray],
    recon_c: list[np.ndarray],
    mby: int,
    mbx: int,
    qp: int,
    i4_modes: np.ndarray,
    decoded4: np.ndarray,
) -> tuple:
    """The entropy-coder-independent half of I_NxN macroblock encoding
    (the Intra_4x4 twin of :func:`_analyze_mb_i16`): run the 16-block
    directional trial with the save/restore choreography and return
    ``(modes_out, flags, rems, levels, cbp, c_dc_levels, c_ac_levels,
    c_preds, cbp_chroma, rec_y, rec_c)``, which the CAVLC writer below
    serializes."""
    y0, x0 = mby * MB, mbx * MB
    # Trial writes are confined to THIS macroblock's 16x16 region (the
    # halo is only READ), so instead of copying the whole frame per MB
    # (O(frame_area * n_mbs)) we write into recon_y directly and
    # restore the region before returning — the caller re-commits the
    # winner's pixels afterwards.
    work = recon_y
    saved = recon_y[y0 : y0 + MB, x0 : x0 + MB].copy()
    h4, w4 = decoded4.shape
    modes_out = np.empty(16, dtype=np.int64)
    flags, rems = [], []
    levels = np.zeros((16, 4, 4), dtype=np.int64)
    tcs = [0] * 16
    dec_region = decoded4[
        4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
    ].copy()
    dec_local = decoded4  # in-place, restored in the finally below
    try:
        rec_y, cbp, c_dc_levels, c_ac_levels, c_preds, cbp_chroma = (
            _i4_trial(
                work, dec_local, src_y, src_c, recon_c, mby, mbx, qp,
                y0, x0, w4, modes_out, flags, rems, levels, tcs, i4_modes,
            )
        )
    finally:
        # ALWAYS undo the trial's in-place writes — an exception mid-trial
        # must not leave the caller's frame state corrupted
        recon_y[y0 : y0 + MB, x0 : x0 + MB] = saved
        decoded4[
            4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4
        ] = dec_region
    rec_c = _chroma_recon(
        c_dc_levels, c_ac_levels, c_preds, cbp_chroma, chroma_qp(qp)
    )
    return (
        modes_out, flags, rems, levels, cbp,
        c_dc_levels, c_ac_levels, c_preds, cbp_chroma, rec_y, rec_c,
    )


def _encode_mb_i4(
    rec,
    src_y: np.ndarray,
    recon_y: np.ndarray,
    src_c: list[np.ndarray],
    recon_c: list[np.ndarray],
    mby: int,
    mbx: int,
    qp: int,
    nz_y: _NzCtx,
    nz_c: list[_NzCtx],
    i4_modes: np.ndarray,
    decoded4: np.ndarray,
):
    """Encode one I_4x4 (I_NxN) macroblock (CAVLC syntax): 16
    directionally-predicted 4x4 blocks coded in §6.4.3 order, modes
    signaled via the most-probable-mode scheme, CodedBlockPatternLuma
    per 8x8 group through the me(v) Table 9-4 mapping.  The trial runs
    on a working view of the reconstruction and mutates nothing; the
    caller commits recon/nnz/mode/decoded updates only if this MB type
    wins."""
    (
        modes_out, flags, rems, levels, cbp,
        c_dc_levels, c_ac_levels, _c_preds, cbp_chroma, rec_y, rec_c,
    ) = _analyze_mb_i4(
        src_y, recon_y, src_c, recon_c, mby, mbx, qp, i4_modes, decoded4
    )

    # --- syntax
    rec.ue(0)  # mb_type: I_NxN (Intra_4x4 — no transform_8x8 in baseline)
    for blk in range(16):
        if flags[blk]:
            rec.u(1, 1)
        else:
            rec.u(0, 1)
            rec.u(int(rems[blk]), 3)
    rec.ue(0)  # intra_chroma_pred_mode: DC
    rec.ue(_CBP_INTRA_INV[cbp])  # coded_block_pattern me(v)
    if cbp:
        rec.se(0)  # mb_qp_delta
    nz_updates: dict[tuple, int] = {}
    cbp_luma = cbp & 0xF
    for blk in range(16):
        x, y = _BLK_XY[blk]
        by4, bx4 = 4 * mby + y, 4 * mbx + x
        g = blk // 4
        if cbp_luma & (1 << g):
            scan = _zigzag_read(levels[blk].reshape(4, 4))
            nc = _nc_pending(nz_y, nz_updates, 0, by4, bx4)
            tc = CV.write_residual_block(rec, scan, nc, 16)
            nz_updates[(0, by4, bx4)] = tc
        else:
            nz_updates[(0, by4, bx4)] = 0
    _chroma_write(rec, c_dc_levels, c_ac_levels, cbp_chroma,
                  nz_c, nz_updates, mby, mbx)
    return rec_y, rec_c, nz_updates, modes_out


def _i4_trial(
    work, dec_local, src_y, src_c, recon_c, mby, mbx, qp,
    y0, x0, w4, modes_out, flags, rems, levels, tcs, i4_modes,
):
    """The mutating half of :func:`_encode_mb_i4`: run the 16-block
    Intra_4x4 prediction/quant trial against the working reconstruction
    (in-place writes, region-local by construction) and the chroma
    analysis.  Factored out so the caller can wrap it in try/finally and
    guarantee the in-place trial writes are always restored."""
    for blk in range(16):
        x, y = _BLK_XY[blk]
        by4, bx4 = 4 * mby + y, 4 * mbx + x
        py, px = y0 + 4 * y, x0 + 4 * x
        left_ok = bx4 > 0
        top_ok = by4 > 0
        tr_ok = (
            top_ok
            and bx4 + 1 < w4
            and bool(dec_local[by4 - 1, bx4 + 1])
        )
        cands = [
            m
            for m, (nt, nl) in _I4_NEEDS.items()
            if (top_ok or not nt) and (left_ok or not nl)
        ]
        block = src_y[py : py + 4, px : px + 4].astype(np.int64)
        best = None
        for m in sorted(cands):
            p = predict_i4(work, py, px, m, left_ok, top_ok, tr_ok)
            cost = _sad(block, p)
            if best is None or cost < best[0]:
                best = (cost, m, p)
        _, mode, pred = best
        modes_out[blk] = mode
        # MPM from the committed grid with in-MB neighbors overlaid
        pm = _i4_pred_mode_overlay(i4_modes, modes_out, blk, mby, mbx)
        if mode == pm:
            flags.append(1)
            rems.append(None)
        else:
            flags.append(0)
            rems.append(mode if mode < pm else mode - 1)
        lv = quant4x4(fwd4x4(block - pred), qp, skip_dc=False)
        levels[blk] = lv
        tcs[blk] = int(np.count_nonzero(lv))
        r4 = inv4x4(dequant4x4(lv, qp))
        work[py : py + 4, px : px + 4] = np.clip(pred + r4, 0, 255)
        dec_local[by4, bx4] = True
    # CBP: 8x8 group bit = any nonzero level among its 4 blocks; a zero
    # group's blocks are DROPPED from the stream (decoder zeros them),
    # so the working recon must be rebuilt for dropped blocks — but a
    # zero group means all its levels are zero, so recon is unchanged.
    cbp_luma = 0
    for g in range(4):
        if any(tcs[4 * g + k] for k in range(4)):
            cbp_luma |= 1 << g
    qpc = chroma_qp(qp)
    c_dc_levels, c_ac_levels, c_preds, cbp_chroma = _chroma_analyze(
        src_c, recon_c, mby, mbx, qpc
    )
    cbp = cbp_luma | (cbp_chroma << 4)
    rec_y = work[y0 : y0 + MB, x0 : x0 + MB].copy()
    return rec_y, cbp, c_dc_levels, c_ac_levels, c_preds, cbp_chroma


def _i4_pred_mode_overlay(
    i4_modes: np.ndarray, modes_out: np.ndarray, blk: int,
    mby: int, mbx: int,
) -> int:
    """MPM with in-MB overlay: left/top neighbors that live inside the
    current (uncommitted) macroblock read from ``modes_out``."""
    x, y = _BLK_XY[blk]
    by4, bx4 = 4 * mby + y, 4 * mbx + x

    def grid(byy, bxx):
        # inside this MB and already coded? look up the local order
        if 4 * mby <= byy < 4 * mby + 4 and 4 * mbx <= bxx < 4 * mbx + 4:
            lx, ly = bxx - 4 * mbx, byy - 4 * mby
            idx = _BLK_XY.index((lx, ly))
            if idx < blk:
                return int(modes_out[idx])
            return -2  # not yet coded — cannot happen for left/top
        return int(i4_modes[byy, bxx])

    if bx4 == 0 or by4 == 0:
        return 2
    a = grid(by4, bx4 - 1)
    b = grid(by4 - 1, bx4)
    a = a if a >= 0 else 2
    b = b if b >= 0 else 2
    return min(a, b)


def encode_idr_frame_intra(
    frame: np.ndarray,
    qp: int = 26,
    idr_pic_id: int = 0,
    pcm_fallback: bool = True,
    return_recon: bool = False,
):
    """Full intra IDR NAL: per macroblock the encoder trial-encodes
    BOTH Intra_16x16 and Intra_4x4 against the committed
    reconstruction, keeps whichever costs fewer bits, and falls back
    to I_PCM past the raw-macroblock bound — the complete baseline
    intra mode decision, producing mixed I4x4/I16/PCM slices."""
    return _encode_idr_frame(
        frame, qp, idr_pic_id, pcm_fallback, return_recon, allow_i4=True
    )


def _encode_idr_frame(
    frame: np.ndarray,
    qp: int,
    idr_pic_id: int,
    pcm_fallback: bool,
    return_recon: bool,
    allow_i4: bool,
    return_chroma: bool = False,
):
    """Shared IDR-slice driver: ONE copy of the slice header, the
    per-MB trial/commit loop, the I_PCM fallback block and the
    nC/mode/decoded bookkeeping — the i16-only and full-intra entry
    points differ ONLY in whether the Intra_4x4 trial runs, so the
    slice syntax and the PCM bound can never desynchronize between
    them (mixed streams decode through one auto decoder either way)."""
    frame = np.asarray(frame)
    h, w = frame.shape
    if h % MB or w % MB:
        raise ValueError("frame dimensions must be multiples of 16")
    if frame.dtype != np.uint8:
        raise ValueError("frame must be uint8")
    if not 0 <= qp <= 51:
        raise ValueError("qp out of range")
    h_mbs, w_mbs = h // MB, w // MB
    recon_y = np.zeros((h, w), dtype=np.uint8)
    src_c = [np.full((h // 2, w // 2), 128, dtype=np.uint8)] * 2
    recon_c = [np.zeros((h // 2, w // 2), dtype=np.uint8) for _ in range(2)]
    nz_y = _NzCtx(h_mbs, w_mbs, 4)
    nz_c = [_NzCtx(h_mbs, w_mbs, 2) for _ in range(2)]
    i4_modes = np.full((h_mbs * 4, w_mbs * 4), -1, dtype=np.int64)
    decoded4 = np.zeros((h_mbs * 4, w_mbs * 4), dtype=bool)

    bw = BitWriter()
    bw.ue(0)  # first_mb_in_slice
    bw.ue(7)  # slice_type 7: I
    bw.ue(0)  # pic_parameter_set_id
    bw.u(0, 4)  # frame_num
    bw.ue(idr_pic_id)
    bw.u(0, 1)  # no_output_of_prior_pics_flag
    bw.u(0, 1)  # long_term_reference_flag
    bw.se(qp - 26)  # slice_qp_delta (pic_init_qp 26)
    bw.ue(1)  # disable_deblocking_filter_idc: filter off

    for mby in range(h_mbs):
        for mbx in range(w_mbs):
            # true I_PCM cost FROM THE CURRENT BIT POSITION: ue(25)
            # mb_type (9 bits), pcm_alignment_zero_bit padding to the
            # next byte boundary, 384 raw sample bytes — the exact rate
            # the fallback branch below would write (was a fixed
            # worst-case 7-bit pad, which could keep an entropy-coded MB
            # up to 7 bits past the actual PCM cost)
            pcm_bits = 9 + (-(bw.bit_position + 9)) % 8 + 384 * 8
            rec16 = _Recorder()
            out16 = _encode_mb_i16(
                rec16, frame, recon_y, src_c, recon_c,
                mby, mbx, qp, nz_y, nz_c,
            )
            rec, (rec_y, rec_c, nz_up), modes = rec16, out16, None
            if allow_i4:
                rec4 = _Recorder()
                out4 = _encode_mb_i4(
                    rec4, frame, recon_y, src_c, recon_c,
                    mby, mbx, qp, nz_y, nz_c, i4_modes, decoded4,
                )
                if rec4.nbits < rec16.nbits:
                    rec, (rec_y, rec_c, nz_up), modes = (
                        rec4, out4[:3], out4[3]
                    )
            y4, x4 = 4 * mby, 4 * mbx
            if pcm_fallback and rec.nbits > pcm_bits:
                bw.ue(I_PCM_MB_TYPE)
                bw.align_zero()
                block = frame[
                    mby * MB : (mby + 1) * MB, mbx * MB : (mbx + 1) * MB
                ]
                bw.raw_bytes(block.tobytes())
                bw.raw_bytes(b"\x80" * 128)
                recon_y[
                    mby * MB : (mby + 1) * MB, mbx * MB : (mbx + 1) * MB
                ] = block
                for comp in range(2):
                    recon_c[comp][
                        mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
                    ] = 128
                for y in range(4):
                    for x in range(4):
                        nz_y.set(y4 + y, x4 + x, 16)
                for comp in range(2):
                    for y in range(2):
                        for x in range(2):
                            nz_c[comp].set(2 * mby + y, 2 * mbx + x, 16)
                i4_modes[y4 : y4 + 4, x4 : x4 + 4] = -1
            else:
                rec.replay(bw)
                recon_y[
                    mby * MB : (mby + 1) * MB, mbx * MB : (mbx + 1) * MB
                ] = rec_y
                for comp in range(2):
                    recon_c[comp][
                        mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
                    ] = rec_c[comp]
                for (plane, by, bx), tc in nz_up.items():
                    (nz_y if plane == 0 else nz_c[plane - 1]).set(by, bx, tc)
                if modes is not None:
                    for blk in range(16):
                        bx_, by_ = _BLK_XY[blk]
                        i4_modes[y4 + by_, x4 + bx_] = modes[blk]
                else:
                    i4_modes[y4 : y4 + 4, x4 : x4 + 4] = -1
            decoded4[y4 : y4 + 4, x4 : x4 + 4] = True
    bw.rbsp_trailing_bits()
    nal = b"\x65" + rbsp_to_ebsp(bw.getvalue())
    if return_recon and return_chroma:
        return nal, recon_y, recon_c
    if return_recon:
        return nal, recon_y
    return nal
