"""Inter-predicted (P) H.264 frames — temporal prediction over the
baseline intra tier of ``h264_intra.py``.

Scope, stated precisely:

- **P slices of P_L0_16x16 and P_Skip macroblocks** over a single
  reference picture (the previously decoded frame) or — r12, the
  ``extra_refs`` path — a 2-deep list 0 with per-MB te(v) ref_idx_l0
  and the refIdx-aware 8.4.1.3.1/8.4.1.1 prediction forms
  (``_mv_pred_ref`` / ``_pskip_mv_ref``), CAVLC
  entropy-coded: ``mb_skip_run`` ue(v), mvd_l0 se(v) pairs against the
  spec's median motion-vector predictor (8.4.1.3, including the
  top-row mvA fallback and the up-right→up-left neighbor substitution),
  the P_Skip motion-vector derivation (8.4.1.1: zero mv on edge MBs or
  zero-mv neighbors, else the median predictor), CodedBlockPattern
  me(v) with the INTER mapping column of Table 9-4, per-8x8-group
  4x4 luma residuals (no DC hierarchy — that is Intra_16x16-only) and
  the shared chroma DC-Hadamard/AC pipeline against the
  motion-compensated prediction.
- **Motion**: full QUARTER-sample precision (8.4.2.2): the 6-tap
  (1,-5,20,20,-5,1) half-sample filter with the center position
  filtered on unrounded intermediates, the 12 quarter positions as
  rounded averages per Table 8-12, and eighth-sample bilinear chroma
  (8.4.2.2.2).  The encoder searches integer-pel SAD then refines
  half- then quarter-sample around the best candidate.  Reference
  sampling clamps coordinates at picture boundaries (the spec's edge
  extension).
- **GOP containers**: ``h264.encode_mp4_h264(codec="i16p")`` writes
  IDR(Intra_16x16) + P+ with a real ``stss`` sync-sample table;
  ``decode_mp4_h264`` switches to sequential reference-carrying
  decode when stss marks non-sync samples — frame sampling then costs
  the GOP prefix, the honest price of temporal prediction (the
  all-IDR tiers keep their free table-seek).
- The encoder emits no intra MBs inside P slices and the decoder
  rejects them (mb_type >= 5), the same explicit-seam discipline as
  the rest of the family.

Shared-table caveat: ``CBP_INTER_ME`` is transcribed from the published Table 9-4
inter column; encoder and decoder share it, so a transcription slip
could only produce streams nonconformant to EXTERNAL decoders (absent
from this container), never wrong pixels here.  Tests pin that it is
a permutation of 0..47.

Reference parity note: the reference pipeline
(Real-Time-Trip-Processing-Project) has no media processing at all —
north-star multimodal tier.

At 100 TB: row-local work that would run inside ``mapInPandas``;
nothing here shuffles.
"""

from __future__ import annotations

import numpy as np

from real_time_trip_processing_project_spark.operators.h264 import (
    MB,
    BitReader,
    BitWriter,
    ebsp_to_rbsp,
    rbsp_to_ebsp,
)
from real_time_trip_processing_project_spark.operators import h264_intra as HI
from real_time_trip_processing_project_spark.operators import h264_cavlc as CV

#: Table 9-4 (ChromaArrayType=1), INTER column: codeNum →
#: coded_block_pattern.  Permutation of 0..47 (pinned in tests).
CBP_INTER_ME = [
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
]
_CBP_INTER_INV = {cbp: i for i, cbp in enumerate(CBP_INTER_ME)}

P_L0_16X16 = 0  # mb_type, P slices (Table 7-13)


# ---------------------------------------------------------------------------
# Motion compensation (quarter-pel luma / eighth-pel chroma,
# boundary-clamped — spec 8.4.2.2)


def _hfilt(w: np.ndarray, axis: int) -> np.ndarray:
    """The 6-tap half-sample filter (1, -5, 20, 20, -5, 1) along
    ``axis``, UN-normalized (callers round per position — the center
    'j' position filters the intermediates before any rounding)."""
    if axis == 1:
        return (
            w[:, :-5] - 5 * w[:, 1:-4] + 20 * w[:, 2:-3]
            + 20 * w[:, 3:-2] - 5 * w[:, 4:-1] + w[:, 5:]
        )
    return (
        w[:-5, :] - 5 * w[1:-4, :] + 20 * w[2:-3, :]
        + 20 * w[3:-2, :] - 5 * w[4:-1, :] + w[5:, :]
    )


def _mc_luma(ref_y: np.ndarray, y0: int, x0: int, mv: tuple) -> np.ndarray:
    """16x16 luma prediction at quarter-sample ``mv`` (8.4.2.2.1 /
    Table 8-12): integer grid, 6-tap half-sample planes b (half-x),
    h (half-y) and j (center, filtered on unrounded intermediates),
    and the 12 quarter positions as rounded averages.  Reference
    coordinates clamp at picture boundaries (the spec's edge
    extension)."""
    iy, ix = mv[0] >> 2, mv[1] >> 2  # floor division toward -inf
    fy, fx = mv[0] & 3, mv[1] & 3
    h, w = ref_y.shape
    if fy == 0 and fx == 0:
        rows = np.clip(np.arange(y0 + iy, y0 + iy + MB), 0, h - 1)
        cols = np.clip(np.arange(x0 + ix, x0 + ix + MB), 0, w - 1)
        return ref_y[np.ix_(rows, cols)].astype(np.int64)
    # padded window: rows y-2 .. y+MB+3, cols likewise (6-tap support
    # for a (MB+1)-sized plane grid so m and s neighbors exist)
    rows = np.clip(np.arange(y0 + iy - 2, y0 + iy + MB + 4), 0, h - 1)
    cols = np.clip(np.arange(x0 + ix - 2, x0 + ix + MB + 4), 0, w - 1)
    W = ref_y[np.ix_(rows, cols)].astype(np.int64)  # (MB+6, MB+6)
    n = MB + 1
    ints = W[2 : 2 + n, 2 : 2 + n]
    b1 = _hfilt(W, axis=1)  # (MB+6, MB+1)
    b = np.clip((b1[2 : 2 + n, :] + 16) >> 5, 0, 255)
    h1 = _hfilt(W, axis=0)  # (MB+1, MB+6)
    hp = np.clip((h1[:, 2 : 2 + n] + 16) >> 5, 0, 255)
    j1 = _hfilt(b1, axis=0)  # (MB+1, MB+1)
    j = np.clip((j1 + 512) >> 10, 0, 255)

    def avg(a, b_):
        return (a + b_ + 1) >> 1

    g0 = ints[:MB, :MB]
    right = ints[:MB, 1 : MB + 1]
    below = ints[1 : MB + 1, :MB]
    bb, hh, jj = b[:MB, :MB], hp[:MB, :MB], j[:MB, :MB]
    mm = hp[:MB, 1 : MB + 1]  # half-y one column right
    ss = b[1 : MB + 1, :MB]  # half-x one row below
    table = {
        (1, 0): avg(g0, bb), (2, 0): bb, (3, 0): avg(right, bb),
        (0, 1): avg(g0, hh), (1, 1): avg(bb, hh), (2, 1): avg(bb, jj),
        (3, 1): avg(bb, mm),
        (0, 2): hh, (1, 2): avg(hh, jj), (2, 2): jj, (3, 2): avg(jj, mm),
        (0, 3): avg(below, hh), (1, 3): avg(hh, ss), (2, 3): avg(jj, ss),
        (3, 3): avg(mm, ss),
    }
    return table[(fx, fy)]


def _mc_chroma(ref_c: list, mby: int, mbx: int, mv: tuple) -> list:
    """8x8 chroma prediction at eighth-sample precision (8.4.2.2.2):
    bilinear over the four surrounding integer samples with clamped
    coordinates.  The chroma vector is the luma vector in eighth-pel
    chroma units (mv quarter-pel luma / 2)."""
    iy, ix = mv[0] >> 3, mv[1] >> 3
    fy, fx = mv[0] & 7, mv[1] & 7
    out = []
    for comp in range(2):
        h, w = ref_c[comp].shape
        rows = np.clip(np.arange(8 * mby + iy, 8 * mby + iy + 9), 0, h - 1)
        cols = np.clip(np.arange(8 * mbx + ix, 8 * mbx + ix + 9), 0, w - 1)
        W = ref_c[comp][np.ix_(rows, cols)].astype(np.int64)
        a, b_ = W[:8, :8], W[:8, 1:9]
        c, d = W[1:9, :8], W[1:9, 1:9]
        out.append(
            (
                (8 - fx) * (8 - fy) * a
                + fx * (8 - fy) * b_
                + (8 - fx) * fy * c
                + fx * fy * d
                + 32
            )
            >> 6
        )
    return out


# ---------------------------------------------------------------------------
# Motion-vector prediction (8.4.1.3) and P_Skip derivation (8.4.1.1)


def _median3(a: int, b: int, c: int) -> int:
    return a + b + c - min(a, b, c) - max(a, b, c)


def _mv_pred(mvs: np.ndarray, mby: int, mbx: int, w_mbs: int) -> tuple:
    """Median predictor for a 16x16 partition.  ``mvs`` holds the
    already-coded MBs' vectors (qpel); neighbors outside the picture
    are unavailable.  All MBs are inter with refIdx 0, so the
    same-ref-neighbor shortcut never fires asymmetrically."""
    avail_a = mbx > 0
    avail_b = mby > 0
    avail_c = mby > 0 and mbx + 1 < w_mbs
    avail_d = mby > 0 and mbx > 0
    def _at(y, x):
        return (int(mvs[y, x, 0]), int(mvs[y, x, 1]))

    mv_a = _at(mby, mbx - 1) if avail_a else (0, 0)
    mv_b = _at(mby - 1, mbx) if avail_b else (0, 0)
    if avail_c:
        mv_c = _at(mby - 1, mbx + 1)
    elif avail_d:
        mv_c = _at(mby - 1, mbx - 1)
        avail_c = True
    else:
        mv_c = (0, 0)
    # spec special case: B and C unavailable → predictor is mvA
    if avail_a and not avail_b and not avail_c:
        return mv_a
    return (
        _median3(mv_a[0], mv_b[0], mv_c[0]),
        _median3(mv_a[1], mv_b[1], mv_c[1]),
    )


def _pskip_mv(mvs: np.ndarray, mby: int, mbx: int, w_mbs: int) -> tuple:
    """P_Skip motion vector (8.4.1.1): zero when the left or up
    neighbor is outside the picture or has a zero vector (refIdx is
    always 0 here), else the median predictor."""
    if mbx == 0 or mby == 0:
        return (0, 0)
    if not mvs[mby, mbx - 1].any() or not mvs[mby - 1, mbx].any():
        return (0, 0)
    return _mv_pred(mvs, mby, mbx, w_mbs)


# ---------------------------------------------------------------------------
# refIdx-aware variants (8.4.1.3.1 in full), used by the multi-reference
# P path (extra_refs) where neighbors may predict from EITHER of the two
# list-0 pictures.  ``refidx`` holds -1 for not-yet-coded/unavailable.


def _mv_pred_ref(
    mvs: np.ndarray,
    refidx: np.ndarray,
    mby: int,
    mbx: int,
    w_mbs: int,
    ref: int,
) -> tuple:
    """Median predictor for a 16x16 partition with per-MB reference
    indexes: a neighbor whose refIdxL0 differs from ``ref`` contributes
    its actual mv to the median but fails the match test, and the
    exactly-one-matching-neighbor shortcut of 8.4.1.3.1 returns that
    neighbor's vector verbatim.  (The single-reference ``_mv_pred``
    skips the shortcut — with one reference it only differs on
    single-column multi-row pictures, which no tier emits; this variant
    implements the clause in full because mixed refIdx neighborhoods
    hit it constantly.)"""
    avail_a = mbx > 0
    avail_b = mby > 0
    avail_c = mby > 0 and mbx + 1 < w_mbs
    avail_d = mby > 0 and mbx > 0

    def at(y, x, avail):
        if not avail or refidx[y, x] < 0:
            return (0, 0), False
        return (
            (int(mvs[y, x, 0]), int(mvs[y, x, 1])),
            int(refidx[y, x]) == ref,
        )

    mv_a, m_a = at(mby, mbx - 1, avail_a)
    if avail_c:
        mv_c, m_c = at(mby - 1, mbx + 1, True)
    elif avail_d:
        mv_c, m_c = at(mby - 1, mbx - 1, True)
        avail_c = True
    else:
        mv_c, m_c = (0, 0), False
    mv_b, m_b = at(mby - 1, mbx, avail_b)
    if avail_a and not avail_b and not avail_c:
        return mv_a
    matches = [mv for mv, m in ((mv_a, m_a), (mv_b, m_b), (mv_c, m_c)) if m]
    if len(matches) == 1:
        return matches[0]
    return (
        _median3(mv_a[0], mv_b[0], mv_c[0]),
        _median3(mv_a[1], mv_b[1], mv_c[1]),
    )


def _pskip_mv_ref(
    mvs: np.ndarray, refidx: np.ndarray, mby: int, mbx: int, w_mbs: int
) -> tuple:
    """P_Skip vector under mixed reference indexes (8.4.1.1): zero when
    a left/up neighbor is outside the picture or has refIdxL0 == 0 WITH
    a zero vector — a zero vector on the other reference does not
    trigger the collapse — else the refIdx-0 median predictor."""
    if mbx == 0 or mby == 0:
        return (0, 0)
    for y, x in ((mby, mbx - 1), (mby - 1, mbx)):
        if refidx[y, x] == 0 and not mvs[y, x].any():
            return (0, 0)
    return _mv_pred_ref(mvs, refidx, mby, mbx, w_mbs, 0)


# ---------------------------------------------------------------------------
# Per-MB analysis (entropy-coder-independent, like _analyze_mb_i16)


def _analyze_mb_p(
    frame: np.ndarray,
    src_c: list,
    ref_y: np.ndarray,
    ref_c: list,
    mby: int,
    mbx: int,
    qp: int,
    mv: tuple,
) -> tuple:
    """Motion-compensate at ``mv``, transform/quant the residual,
    reconstruct exactly as the decoder will.  Returns
    ``(cbp_luma_bits, levels16, c_dc, c_ac, cbp_chroma, rec_y, rec_c)``."""
    pred = _mc_luma(ref_y, mby * MB, mbx * MB, mv)
    c_preds = _mc_chroma(ref_c, mby, mbx, mv)
    return _analyze_mb_from_pred(frame, src_c, pred, c_preds, mby, mbx, qp)


def _analyze_mb_from_pred(
    frame: np.ndarray,
    src_c: list,
    pred: np.ndarray,
    c_preds: list,
    mby: int,
    mbx: int,
    qp: int,
) -> tuple:
    """The prediction-agnostic half of :func:`_analyze_mb_p`:
    transform/quant the residual against an ALREADY-COMPUTED prediction
    and reconstruct exactly as the decoder will."""
    y0, x0 = mby * MB, mbx * MB
    block = frame[y0 : y0 + MB, x0 : x0 + MB].astype(np.int64)
    diff = block - pred
    levels16 = np.zeros((16, 4, 4), dtype=np.int64)
    for blk in range(16):
        x, y = HI._BLK_XY[blk]
        levels16[blk] = HI.quant4x4(
            HI.fwd4x4(diff[4 * y : 4 * y + 4, 4 * x : 4 * x + 4]),
            qp,
            skip_dc=False,
        )
    cbp_luma_bits = 0
    for g in range(4):
        blks = [b for b in range(16) if b // 4 == g]
        if any(np.any(levels16[b]) for b in blks):
            cbp_luma_bits |= 1 << g
    qpc = HI.chroma_qp(qp)
    c_dc, c_ac, c_preds, cbp_chroma = HI._chroma_analyze_from_pred(
        src_c, c_preds, mby, mbx, qpc
    )
    # reconstruction (decoder-exact)
    rec_y = np.empty((MB, MB), dtype=np.uint8)
    for blk in range(16):
        x, y = HI._BLK_XY[blk]
        r = (
            HI.inv4x4(HI.dequant4x4(levels16[blk], qp))
            if cbp_luma_bits & (1 << (blk // 4))
            else np.zeros((4, 4), dtype=np.int64)
        )
        rec_y[4 * y : 4 * y + 4, 4 * x : 4 * x + 4] = np.clip(
            pred[4 * y : 4 * y + 4, 4 * x : 4 * x + 4] + r, 0, 255
        )
    rec_c = HI._chroma_recon(c_dc, c_ac, c_preds, cbp_chroma, qpc)
    return cbp_luma_bits, levels16, c_dc, c_ac, cbp_chroma, rec_y, rec_c


def _search_mv(
    frame: np.ndarray,
    ref_y: np.ndarray,
    mby: int,
    mbx: int,
    pskip: tuple,
    search_range: int = 8,
) -> tuple:
    """Motion search: integer-pel SAD over ±``search_range`` luma pels
    (always including (0,0) and the P_Skip vector), then half- and
    quarter-sample refinement around the running best.  Deterministic
    tie-break: first minimum in scan order."""
    y0, x0 = mby * MB, mbx * MB
    block = frame[y0 : y0 + MB, x0 : x0 + MB].astype(np.int64)

    def sad(mv):
        return int(np.abs(block - _mc_luma(ref_y, y0, x0, mv)).sum())

    cands = [(0, 0), pskip]
    for dy in range(-search_range, search_range + 1):
        for dx in range(-search_range, search_range + 1):
            cands.append((4 * dy, 4 * dx))
    best, best_sad = None, None
    seen = set()
    for mv in cands:
        if mv in seen:
            continue
        seen.add(mv)
        s_ = sad(mv)
        if best_sad is None or s_ < best_sad:
            best, best_sad = mv, s_
    for step in (2, 1):  # half- then quarter-sample refinement
        improved = True
        while improved:
            improved = False
            for dy in (-step, 0, step):
                for dx in (-step, 0, step):
                    mv = (best[0] + dy, best[1] + dx)
                    if mv in seen:
                        continue
                    seen.add(mv)
                    s_ = sad(mv)
                    if s_ < best_sad:
                        best, best_sad = mv, s_
                        improved = True
    return best


# ---------------------------------------------------------------------------
# P-slice codec


def encode_p_frame(
    frame: np.ndarray,
    ref_y: np.ndarray,
    ref_c: list,
    qp: int = 26,
    frame_num: int = 1,
    search_range: int = 8,
    extra_refs: list | None = None,
) -> tuple:
    """One P-slice NAL (type 1) predicting from ``(ref_y, ref_c)``.
    Returns ``(nal, recon_y, recon_c)`` — the reconstruction is the
    next frame's reference and must (and does, bit-exactly) match the
    decoder's.

    ``extra_refs`` (r12, the multi-reference half of the former
    "B frames / multi-reference" seam): ``[(ref1_y, ref1_c)]`` — a
    SECOND, older list-0 picture.  The slice header then overrides
    num_ref_idx_l0_active to 2, every coded MB carries a te(v)
    ``ref_idx_l0`` bit, motion search runs per reference with the
    lower-SAD picture winning (ties prefer refIdx 0 — the cheaper
    te(v) bit pattern and the P_Skip-eligible index), and MV
    prediction/P_Skip switch to the refIdx-aware 8.4.1.3.1 forms.
    ``extra_refs=None`` emits the byte-identical legacy single-ref
    stream (pinned by tests)."""
    frame = np.asarray(frame)
    h, w = frame.shape
    if h % MB or w % MB:
        raise ValueError("frame dimensions must be multiples of 16")
    if frame.dtype != np.uint8:
        raise ValueError("frame must be uint8")
    HI._check_qp(qp)
    if extra_refs is not None and len(extra_refs) != 1:
        raise ValueError("exactly one extra reference is supported")
    h_mbs, w_mbs = h // MB, w // MB
    multi = extra_refs is not None
    refs_y = (ref_y,) + tuple(r[0] for r in extra_refs or ())
    refs_c = (ref_c,) + tuple(r[1] for r in extra_refs or ())

    src_c = [np.full((h // 2, w // 2), 128, dtype=np.uint8)] * 2
    recon_y = np.zeros((h, w), dtype=np.uint8)
    recon_c = [np.zeros((h // 2, w // 2), dtype=np.uint8) for _ in range(2)]
    nz_y = HI._NzCtx(h_mbs, w_mbs, 4)
    nz_c = [HI._NzCtx(h_mbs, w_mbs, 2) for _ in range(2)]
    mvs = np.zeros((h_mbs, w_mbs, 2), dtype=np.int64)
    refidx = np.full((h_mbs, w_mbs), -1, dtype=np.int64)

    bw = BitWriter()
    bw.ue(0)  # first_mb_in_slice
    bw.ue(5)  # slice_type 5: P (all slices)
    bw.ue(0)  # pic_parameter_set_id
    bw.u(frame_num & 15, 4)  # frame_num
    bw.u(1 if multi else 0, 1)  # num_ref_idx_active_override_flag
    if multi:
        bw.ue(1)  # num_ref_idx_l0_active_minus1: two pictures
    bw.u(0, 1)  # ref_pic_list_modification_flag_l0
    bw.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
    bw.se(qp - 26)  # slice_qp_delta
    bw.ue(1)  # disable_deblocking_filter_idc: filter off

    skip_run = 0
    for mby in range(h_mbs):
        for mbx in range(w_mbs):
            if multi:
                pskip = _pskip_mv_ref(mvs, refidx, mby, mbx, w_mbs)
                best = None
                for ridx in range(len(refs_y)):
                    seed = (
                        pskip
                        if ridx == 0
                        else _mv_pred_ref(
                            mvs, refidx, mby, mbx, w_mbs, ridx
                        )
                    )
                    mv_r = _search_mv(
                        frame, refs_y[ridx], mby, mbx, seed, search_range
                    )
                    y0, x0 = mby * MB, mbx * MB
                    sad = int(
                        np.abs(
                            frame[y0 : y0 + MB, x0 : x0 + MB].astype(
                                np.int64
                            )
                            - _mc_luma(refs_y[ridx], y0, x0, mv_r)
                        ).sum()
                    )
                    if best is None or sad < best[0]:
                        best = (sad, ridx, mv_r)
                _sad, ridx, mv = best
            else:
                pskip = _pskip_mv(mvs, mby, mbx, w_mbs)
                ridx = 0
                mv = _search_mv(frame, ref_y, mby, mbx, pskip,
                                search_range)
            (cbp_luma_bits, levels16, c_dc, c_ac, cbp_chroma,
             rec_y, rec_c) = _analyze_mb_p(
                frame, src_c, refs_y[ridx], refs_c[ridx], mby, mbx, qp, mv
            )
            cbp = cbp_luma_bits | (cbp_chroma << 4)
            if cbp == 0 and mv == pskip and ridx == 0:
                # P_Skip: prediction only, no syntax beyond the run
                skip_run += 1
                mvs[mby, mbx] = mv
                refidx[mby, mbx] = 0
                _commit(recon_y, recon_c, rec_y, rec_c, mby, mbx)
                _set_nz(nz_y, nz_c, mby, mbx, 0)
                continue
            bw.ue(skip_run)
            skip_run = 0
            bw.ue(P_L0_16X16)  # mb_type
            if multi:
                bw.u(1 - ridx, 1)  # ref_idx_l0 te(v), cMax=1: !bit
                mvp = _mv_pred_ref(mvs, refidx, mby, mbx, w_mbs, ridx)
            else:
                mvp = _mv_pred(mvs, mby, mbx, w_mbs)
            bw.se(mv[1] - mvp[1])  # mvd_l0 x (spec order: x then y)
            bw.se(mv[0] - mvp[0])  # mvd_l0 y
            mvs[mby, mbx] = mv
            refidx[mby, mbx] = ridx
            bw.ue(_CBP_INTER_INV[cbp])  # coded_block_pattern me(v)
            if cbp:
                bw.se(0)  # mb_qp_delta
            _write_inter_residual(
                bw, levels16, c_dc, c_ac, cbp_luma_bits, cbp_chroma,
                nz_y, nz_c, mby, mbx,
            )
            _commit(recon_y, recon_c, rec_y, rec_c, mby, mbx)
    if skip_run:
        bw.ue(skip_run)  # trailing skips
    bw.rbsp_trailing_bits()
    nal = b"\x61" + rbsp_to_ebsp(bw.getvalue())
    return nal, recon_y, recon_c


def _write_inter_residual(
    bw, levels16, c_dc, c_ac, cbp_luma_bits, cbp_chroma, nz_y, nz_c,
    mby, mbx,
):
    """CAVLC residual syntax of one inter macroblock (4x4 luma per
    8x8 CBP group — no DC hierarchy — plus the shared chroma DC/AC
    pipeline) and the nC bookkeeping commit."""
    nz_updates: dict[tuple, int] = {}
    for blk in range(16):
        x, y = HI._BLK_XY[blk]
        by4, bx4 = 4 * mby + y, 4 * mbx + x
        if cbp_luma_bits & (1 << (blk // 4)):
            scan = HI._zigzag_read(levels16[blk])
            nc = HI._nc_pending(nz_y, nz_updates, 0, by4, bx4)
            tc = CV.write_residual_block(bw, scan, nc, 16)
        else:
            tc = 0
        nz_updates[(0, by4, bx4)] = tc
    HI._chroma_write(
        bw, c_dc, c_ac, cbp_chroma, nz_c, nz_updates, mby, mbx
    )
    for (plane, by, bx), tc in nz_updates.items():
        (nz_y if plane == 0 else nz_c[plane - 1]).set(by, bx, tc)


def _read_inter_residual(r, cbp_luma_bits, cbp_chroma, nz_y, nz_c, mby, mbx):
    """The decode half of :func:`_write_inter_residual`: read one inter
    MB's CAVLC residual into ``(levels16, c_dc, c_ac)`` and commit the
    nC state.  Shared by the P and B decoders."""
    levels16 = np.zeros((16, 4, 4), dtype=np.int64)
    for blk in range(16):
        x, y = HI._BLK_XY[blk]
        by4, bx4 = 4 * mby + y, 4 * mbx + x
        if cbp_luma_bits & (1 << (blk // 4)):
            nc = nz_y.nc(by4, bx4)
            scan, tc = CV.read_residual_block(r, nc, 16)
            levels16[blk] = HI._zigzag_write(scan)
            nz_y.set(by4, bx4, tc)
        else:
            nz_y.set(by4, bx4, 0)
    c_dc = [np.zeros((2, 2), dtype=np.int64) for _ in range(2)]
    for comp in range(2):
        if cbp_chroma >= 1:
            scan, _ = CV.read_residual_block(r, -1, 4)
            c_dc[comp] = np.array(
                [[scan[0], scan[1]], [scan[2], scan[3]]], dtype=np.int64
            )
    c_ac = [np.zeros((2, 2, 4, 4), dtype=np.int64) for _ in range(2)]
    for comp in range(2):
        for blk in range(4):
            x, y = blk % 2, blk // 2
            by2, bx2 = 2 * mby + y, 2 * mbx + x
            if cbp_chroma == 2:
                nc = nz_c[comp].nc(by2, bx2)
                scan, tc = CV.read_residual_block(r, nc, 15)
                c_ac[comp][y, x] = HI._zigzag_write([0] + scan)
                nz_c[comp].set(by2, bx2, tc)
            else:
                nz_c[comp].set(by2, bx2, 0)
    return levels16, c_dc, c_ac


def _recon_inter_mb(
    pred, c_preds, levels16, c_dc, c_ac, cbp_luma_bits, cbp_chroma, qp, qpc
):
    """Decoder-side reconstruction of one inter MB against an
    already-computed prediction (single-list or bi-predictive average).
    Shared by the P and B decoders."""
    rec_y = np.empty((MB, MB), dtype=np.uint8)
    for blk in range(16):
        x, y = HI._BLK_XY[blk]
        res = (
            HI.inv4x4(HI.dequant4x4(levels16[blk], qp))
            if cbp_luma_bits & (1 << (blk // 4))
            else np.zeros((4, 4), dtype=np.int64)
        )
        rec_y[4 * y : 4 * y + 4, 4 * x : 4 * x + 4] = np.clip(
            pred[4 * y : 4 * y + 4, 4 * x : 4 * x + 4] + res, 0, 255
        )
    rec_c = HI._chroma_recon(c_dc, c_ac, c_preds, cbp_chroma, qpc)
    return rec_y, rec_c


def _commit(recon_y, recon_c, rec_y, rec_c, mby, mbx):
    recon_y[mby * MB : (mby + 1) * MB, mbx * MB : (mbx + 1) * MB] = rec_y
    for comp in range(2):
        recon_c[comp][
            mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8
        ] = rec_c[comp]


def _set_nz(nz_y, nz_c, mby, mbx, tc):
    for y in range(4):
        for x in range(4):
            nz_y.set(4 * mby + y, 4 * mbx + x, tc)
    for comp in range(2):
        for y in range(2):
            for x in range(2):
                nz_c[comp].set(2 * mby + y, 2 * mbx + x, tc)


def decode_p_frame(
    nal: bytes, sps: dict, pps: dict, ref_y: np.ndarray, ref_c: list,
    extra_refs: list | None = None,
) -> tuple:
    """The normative inverse of :func:`encode_p_frame`.  Returns
    ``(recon_y, recon_c)``.  Malformed data → ValueError (the codec
    family's corrupted-stream contract).  ``extra_refs``: the second
    list-0 picture, required iff the slice header overrides
    num_ref_idx_l0_active to 2 (the multi-reference path)."""
    if not nal or nal[0] & 0x1F != 1:
        raise ValueError("not a non-IDR slice NAL")
    r = BitReader(ebsp_to_rbsp(nal[1:]))
    if r.ue() != 0:
        raise ValueError("first_mb_in_slice != 0")
    if r.ue() % 5 != 0:
        raise ValueError("not a P slice")
    r.ue()  # pic_parameter_set_id
    r.u(sps["log2_max_frame_num"])  # frame_num
    multi = bool(r.u(1))  # num_ref_idx_active_override_flag
    if multi:
        if r.ue() != 1:
            raise ValueError("only 2 active references supported")
        if extra_refs is None or len(extra_refs) != 1:
            raise ValueError(
                "stream overrides num_ref_idx_l0_active to 2 but no "
                "second reference picture was supplied"
            )
    if r.u(1):
        raise ValueError("ref_pic_list_modification not supported")
    if r.u(1):
        raise ValueError("adaptive ref marking not supported")
    qp = 26 + r.se()
    HI._check_qp(qp)
    if pps.get("deblocking_control"):
        idc = r.ue()
        if idc != 1:
            r.se()
            r.se()

    h, w = sps["height"], sps["width"]
    h_mbs, w_mbs = h // MB, w // MB
    refs_y = (ref_y,) + tuple(x[0] for x in (extra_refs or ()) if multi)
    refs_c = (ref_c,) + tuple(x[1] for x in (extra_refs or ()) if multi)
    if any(x.shape != (h, w) for x in refs_y):
        raise ValueError("reference picture dimensions mismatch")
    recon_y = np.zeros((h, w), dtype=np.uint8)
    recon_c = [np.zeros((h // 2, w // 2), dtype=np.uint8) for _ in range(2)]
    nz_y = HI._NzCtx(h_mbs, w_mbs, 4)
    nz_c = [HI._NzCtx(h_mbs, w_mbs, 2) for _ in range(2)]
    mvs = np.zeros((h_mbs, w_mbs, 2), dtype=np.int64)
    refidx = np.full((h_mbs, w_mbs), -1, dtype=np.int64)
    qpc = HI.chroma_qp(qp)

    n_mbs = h_mbs * w_mbs
    i = 0
    while i < n_mbs:
        skip_run = r.ue()
        if skip_run > n_mbs - i:
            raise ValueError("mb_skip_run overruns the slice")
        for _ in range(skip_run):
            mby, mbx = divmod(i, w_mbs)
            mv = (
                _pskip_mv_ref(mvs, refidx, mby, mbx, w_mbs)
                if multi
                else _pskip_mv(mvs, mby, mbx, w_mbs)
            )
            mvs[mby, mbx] = mv
            refidx[mby, mbx] = 0
            pred = _mc_luma(ref_y, mby * MB, mbx * MB, mv)
            _commit(
                recon_y, recon_c,
                np.clip(pred, 0, 255).astype(np.uint8),
                [np.clip(c, 0, 255).astype(np.uint8)
                 for c in _mc_chroma(ref_c, mby, mbx, mv)],
                mby, mbx,
            )
            _set_nz(nz_y, nz_c, mby, mbx, 0)
            i += 1
        if i >= n_mbs:
            break
        mby, mbx = divmod(i, w_mbs)
        mb_type = r.ue()
        if mb_type != P_L0_16X16:
            raise ValueError(
                f"unsupported P-slice mb_type {mb_type} (only "
                "P_L0_16x16 and P_Skip)"
            )
        if multi:
            ridx = 1 - r.u(1)  # ref_idx_l0 te(v), cMax=1
            mvp = _mv_pred_ref(mvs, refidx, mby, mbx, w_mbs, ridx)
        else:
            ridx = 0
            mvp = _mv_pred(mvs, mby, mbx, w_mbs)
        mvd_x = r.se()
        mvd_y = r.se()
        mv = (mvp[0] + mvd_y, mvp[1] + mvd_x)
        if abs(mv[0]) > 4 * h or abs(mv[1]) > 4 * w:
            raise ValueError("motion vector out of range")
        mvs[mby, mbx] = mv
        refidx[mby, mbx] = ridx
        code_num = r.ue()
        if code_num >= len(CBP_INTER_ME):
            raise ValueError("coded_block_pattern out of range")
        cbp = CBP_INTER_ME[code_num]
        cbp_luma_bits, cbp_chroma = cbp & 15, cbp >> 4
        if cbp:
            qp += r.se()
            HI._check_qp(qp)
            qpc = HI.chroma_qp(qp)
        levels16, c_dc, c_ac = _read_inter_residual(
            r, cbp_luma_bits, cbp_chroma, nz_y, nz_c, mby, mbx
        )
        pred = _mc_luma(refs_y[ridx], mby * MB, mbx * MB, mv)
        c_preds = _mc_chroma(refs_c[ridx], mby, mbx, mv)
        rec_y, rec_c = _recon_inter_mb(
            pred, c_preds, levels16, c_dc, c_ac,
            cbp_luma_bits, cbp_chroma, qp, qpc,
        )
        _commit(recon_y, recon_c, rec_y, rec_c, mby, mbx)
        i += 1
    if r.u(1) != 1:
        raise ValueError("missing rbsp_stop_one_bit")
    return recon_y, recon_c
