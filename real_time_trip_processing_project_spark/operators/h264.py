"""H.264/AVC elementary stream + MP4 (ISO BMFF) container, pure numpy.

A standalone library: a spec-conformant **I_PCM baseline**
encoder/decoder pair plus a real MP4 container with full sample
tables.  No query or job imports it; ``multimodal.py``'s
``_real_decode`` sends MP4 payloads to its ``NotImplementedError``
seam.  The reference pipeline has no media at all (README.md:3-10).

Scope, stated precisely:

- **Bitstream**: NAL units with emulation-prevention bytes (RBSP ↔
  EBSP), Exp-Golomb ue(v)/se(v) read AND write, SPS/PPS
  (profile_idc 66 baseline) written and parsed field-for-field, IDR
  slice headers, and macroblock_layer with ``mb_type = I_PCM`` —
  byte-aligned raw 4:2:0 samples per the spec's pcm path.  I_PCM is
  the profile's lossless mode (every decoder must support it), which
  makes THIS video path bit-exact end-to-end, unlike the MJPEG
  float-DCT path.
- **Container**: ftyp / mdat / moov with the complete sample-table
  chain (stsd→avc1→avcC decoder config holding SPS+PPS, stts, stsc,
  stsz, stco), length-prefixed NAL samples (lengthSizeMinusOne = 3).
  The parser walks boxes, rebuilds per-sample offsets from
  stsc×stco×stsz, and cross-checks them against mdat bounds — the
  same byte-exact container-index discipline as
  ``mjpeg_container_index``.
- **Predicted macroblocks** (r10): the FULL baseline intra tier lives
  in ``h264_intra.py`` / ``h264_cavlc.py`` — Intra_16x16
  (V/H/DC/Plane) AND Intra_4x4 (all nine directional modes,
  most-probable-mode signaling, CodedBlockPattern me(v)), the 4x4
  integer transform with the DC Hadamard hierarchy, spec
  quantization, the full CAVLC table set, and a per-MB
  I4x4/I16/I_PCM min-bits mode decision; :func:`decode_mp4_h264`
  dispatches per macroblock, so mixed slices decode.
- **Inter prediction** (r11): ``h264_inter.py`` adds P slices
  (P_L0_16x16 + P_Skip, median MV prediction, QUARTER-sample motion
  compensation — the 6-tap half-sample filter and eighth-sample
  bilinear chroma of 8.4.2.2) and GOP containers with a real stss
  sync table (codec="i16p").
- **Multi-reference P** (r12): ``h264_inter.encode_p_frame``'s
  ``extra_refs`` codes a 2-deep list 0 — slice-header
  num_ref_idx_l0_active override, per-MB te(v) ref_idx_l0, the full
  refIdx-aware 8.4.1.3.1 MV prediction and 8.4.1.1 P_Skip forms —
  ``codec="i16p2"`` GOPs keep the sliding 2-picture DPB.
- **Out of scope**, each ValueError-gated in the decoder: CABAC
  (entropy_coding_mode_flag = 1), B slices, pic_order_cnt_type 0 and
  1, >2 active references, ref_pic_list_modification and weighted
  prediction.  The CABAC and B-slice tiers were deleted with the MP4
  queries that used them; nothing in the trip or training-data
  pipelines calls this codec.

At 100 TB: encode/decode are row-local work that would run inside
``mapInPandas``, scaling with scan bandwidth; nothing here shuffles.
"""

from __future__ import annotations

import struct

import numpy as np

MB = 16  # H.264 macroblock edge (luma samples)

# ---------------------------------------------------------------------------
# Bit I/O + Exp-Golomb


class BitWriter:
    """MSB-first bit writer (H.264 bitstream order)."""

    def __init__(self) -> None:
        self._bytes = bytearray()
        self._acc = 0
        self._nbits = 0

    @property
    def bit_position(self) -> int:
        """Total bits written so far (the next bit's stream offset)."""
        return len(self._bytes) * 8 + self._nbits

    def u(self, value: int, nbits: int) -> None:
        if value < 0 or (nbits < 64 and value >> nbits):
            raise ValueError(f"u({value},{nbits}) out of range")
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._nbits += 1
            if self._nbits == 8:
                self._bytes.append(self._acc)
                self._acc = 0
                self._nbits = 0

    def ue(self, value: int) -> None:
        """Unsigned Exp-Golomb: M zeros, 1, M-bit suffix of value+1."""
        if value < 0:
            raise ValueError("ue() needs non-negative")
        code = value + 1
        nbits = code.bit_length()
        self.u(0, nbits - 1)
        self.u(code, nbits)

    def se(self, value: int) -> None:
        """Signed Exp-Golomb: k>0 → 2k-1, k≤0 → -2k."""
        self.ue(2 * value - 1 if value > 0 else -2 * value)

    def align_zero(self) -> None:
        """pcm_alignment_zero_bit*: pad current byte with zeros."""
        while self._nbits:
            self.u(0, 1)

    def raw_bytes(self, data: bytes) -> None:
        if self._nbits:
            raise ValueError("raw_bytes() needs byte alignment")
        self._bytes.extend(data)

    def rbsp_trailing_bits(self) -> None:
        self.u(1, 1)
        self.align_zero()

    def getvalue(self) -> bytes:
        if self._nbits:
            raise ValueError("unterminated bitstream (missing trailing bits)")
        return bytes(self._bytes)


class BitReader:
    """MSB-first bit reader over an RBSP (emulation bytes removed)."""

    def __init__(self, data: bytes) -> None:
        self._data = data
        self.pos = 0  # bit position

    def u(self, nbits: int) -> int:
        # EOF must surface as ValueError: malformed/truncated streams
        # are a data condition callers handle per row, not a raw
        # IndexError escaping a Spark task (the parse_mp4 contract)
        if self.pos + nbits > 8 * len(self._data):
            raise ValueError("RBSP exhausted mid-symbol")
        v = 0
        for _ in range(nbits):
            byte = self._data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("malformed Exp-Golomb code")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def raw_bytes(self, n: int) -> bytes:
        if self.pos & 7:
            raise ValueError("raw_bytes() needs byte alignment")
        start = self.pos >> 3
        if start + n > len(self._data):
            raise ValueError("RBSP truncated")
        self.pos += 8 * n
        return self._data[start : start + n]


def rbsp_to_ebsp(rbsp: bytes) -> bytes:
    """Insert emulation-prevention 0x03 after any 0x00 0x00 when the
    next byte is ≤ 0x03 (spec 7.4.1.1) — required even inside MP4's
    length-prefixed NALs."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def ebsp_to_rbsp(ebsp: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    i = 0
    n = len(ebsp)
    while i < n:
        b = ebsp[i]
        if zeros >= 2 and b == 3 and i + 1 < n and ebsp[i + 1] <= 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


# ---------------------------------------------------------------------------
# SPS / PPS


def encode_sps(width: int, height: int, max_ref: int = 0) -> bytes:
    """Baseline SPS for frame_mbs_only 4:2:0 video, dimensions in whole
    macroblocks (the encoder keeps frames multiple-of-16 like the MJPEG
    path, so no frame cropping).  Returns the NAL (header byte 0x67 +
    EBSP payload).  pic_order_cnt_type is 2: output order = decode
    order, which holds for every all-IDR tier and the P-GOP tier."""
    if width % MB or height % MB:
        raise ValueError("frame dimensions must be multiples of 16")
    w = BitWriter()
    w.u(66, 8)  # profile_idc: Baseline
    w.u(0, 8)  # constraint_set*_flags + reserved
    w.u(30, 8)  # level_idc 3.0
    w.ue(0)  # seq_parameter_set_id
    w.ue(0)  # log2_max_frame_num_minus4 → frame_num is u(4)
    w.ue(2)  # pic_order_cnt_type
    w.ue(max_ref)  # max_num_ref_frames (1 P-GOP / 2 multi-ref tier)
    w.u(0, 1)  # gaps_in_frame_num_value_allowed_flag
    w.ue(width // MB - 1)  # pic_width_in_mbs_minus1
    w.ue(height // MB - 1)  # pic_height_in_map_units_minus1
    w.u(1, 1)  # frame_mbs_only_flag
    w.u(0, 1)  # direct_8x8_inference_flag
    w.u(0, 1)  # frame_cropping_flag
    w.u(0, 1)  # vui_parameters_present_flag
    w.rbsp_trailing_bits()
    return b"\x67" + rbsp_to_ebsp(w.getvalue())


def parse_sps(nal: bytes) -> dict:
    """Field-for-field parse of the SPS subset :func:`encode_sps`
    emits (baseline, no cropping, no VUI)."""
    if not nal or nal[0] & 0x1F != 7:
        raise ValueError("not an SPS NAL")
    r = BitReader(ebsp_to_rbsp(nal[1:]))
    profile = r.u(8)
    r.u(8)  # constraint flags
    level = r.u(8)
    sps_id = r.ue()
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        raise ValueError("high-profile SPS not supported")
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    if poc_type != 2:
        raise ValueError(f"pic_order_cnt_type {poc_type} not supported")
    max_ref = r.ue()
    r.u(1)  # gaps allowed
    width_mbs = r.ue() + 1
    height_mbs = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        raise ValueError("interlaced SPS not supported")
    r.u(1)  # direct_8x8
    cropping = r.u(1)
    if cropping:
        raise ValueError("frame cropping not supported")
    r.u(1)  # vui present
    return {
        "profile_idc": profile,
        "level_idc": level,
        "sps_id": sps_id,
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type,
        "max_num_ref_frames": max_ref,
        "width": width_mbs * MB,
        "height": height_mbs * MB,
    }


def encode_pps(deblocking_control: bool = False) -> bytes:
    """Minimal CAVLC PPS.  ``deblocking_control=True`` sets
    deblocking_filter_control_present_flag so the slice header can
    write ``disable_deblocking_filter_idc = 1`` — the Intra_16x16 tier
    (h264_intra.py) uses it to make its unfiltered reconstruction the
    conformant decoder output; the I_PCM path keeps the flag off (PCM
    samples are exempt from the in-loop filter by spec)."""
    w = BitWriter()
    w.ue(0)  # pic_parameter_set_id
    w.ue(0)  # seq_parameter_set_id
    w.u(0, 1)  # entropy_coding_mode_flag: CAVLC
    w.u(0, 1)  # bottom_field_pic_order_in_frame_present_flag
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)  # weighted_pred_flag
    w.u(0, 2)  # weighted_bipred_idc
    w.se(0)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(1 if deblocking_control else 0, 1)  # deblocking_filter_control
    w.u(0, 1)  # constrained_intra_pred_flag
    w.u(0, 1)  # redundant_pic_cnt_present_flag
    w.rbsp_trailing_bits()
    return b"\x68" + rbsp_to_ebsp(w.getvalue())


def parse_pps(nal: bytes) -> dict:
    if not nal or nal[0] & 0x1F != 8:
        raise ValueError("not a PPS NAL")
    r = BitReader(ebsp_to_rbsp(nal[1:]))
    out = {
        "pps_id": r.ue(),
        "sps_id": r.ue(),
        "entropy_coding_mode": r.u(1),
    }
    if out["entropy_coding_mode"]:
        raise ValueError("CABAC (entropy_coding_mode_flag 1) not supported")
    r.u(1)  # bottom_field_pic_order_in_frame_present_flag
    if r.ue() != 0:
        raise ValueError("slice groups not supported")
    r.ue()  # num_ref_idx_l0_default_active_minus1
    r.ue()  # num_ref_idx_l1_default_active_minus1
    if r.u(1):  # weighted_pred_flag
        raise ValueError("weighted P prediction not supported")
    if r.u(2):  # weighted_bipred_idc
        raise ValueError("weighted bi-prediction not supported")
    out["pic_init_qp"] = 26 + r.se()
    r.se()  # pic_init_qs_minus26
    out["chroma_qp_index_offset"] = r.se()
    out["deblocking_control"] = bool(r.u(1))
    r.u(1)  # constrained_intra_pred_flag
    r.u(1)  # redundant_pic_cnt_present_flag
    return out


# ---------------------------------------------------------------------------
# IDR slice: I_PCM macroblocks

I_PCM_MB_TYPE = 25  # table 7-11, I slices


def encode_idr_frame(frame: np.ndarray, idr_pic_id: int = 0) -> bytes:
    """One IDR NAL (type 5) containing every macroblock of a grayscale
    frame as I_PCM: 256 raw luma samples per MB, chroma planes constant
    128 (4:2:0).  Lossless by construction."""
    h, w = frame.shape
    if h % MB or w % MB:
        raise ValueError("frame dimensions must be multiples of 16")
    if frame.dtype != np.uint8:
        raise ValueError("frame must be uint8")
    bw = BitWriter()
    # slice_header (IDR, I slice, the fixed SPS/PPS above)
    bw.ue(0)  # first_mb_in_slice
    bw.ue(7)  # slice_type 7: I (all slices in picture)
    bw.ue(0)  # pic_parameter_set_id
    bw.u(0, 4)  # frame_num (log2_max_frame_num = 4)
    bw.ue(idr_pic_id)  # idr_pic_id
    # poc_type 2 → no pic_order_cnt_lsb
    # dec_ref_pic_marking for IDR:
    bw.u(0, 1)  # no_output_of_prior_pics_flag
    bw.u(0, 1)  # long_term_reference_flag
    bw.se(0)  # slice_qp_delta
    # slice_data: raster-order macroblock_layer()s
    chroma = b"\x80" * 128  # 64 Cb + 64 Cr, constant mid-gray
    for mby in range(h // MB):
        for mbx in range(w // MB):
            bw.ue(I_PCM_MB_TYPE)
            bw.align_zero()  # pcm_alignment_zero_bit
            block = frame[
                mby * MB : (mby + 1) * MB, mbx * MB : (mbx + 1) * MB
            ]
            bw.raw_bytes(block.tobytes())
            bw.raw_bytes(chroma)
    bw.rbsp_trailing_bits()
    return b"\x65" + rbsp_to_ebsp(bw.getvalue())


def decode_idr_frame(nal: bytes, sps: dict) -> np.ndarray:
    """Inverse of :func:`encode_idr_frame`: parse the slice header,
    then read I_PCM macroblocks back into the luma plane."""
    if not nal or nal[0] & 0x1F != 5:
        raise ValueError("not an IDR slice NAL")
    r = BitReader(ebsp_to_rbsp(nal[1:]))
    if r.ue() != 0:
        raise ValueError("first_mb_in_slice != 0")
    slice_type = r.ue()
    if slice_type % 5 != 2:  # 2/7 = I
        raise ValueError(f"not an I slice (slice_type {slice_type})")
    r.ue()  # pic_parameter_set_id
    r.u(sps["log2_max_frame_num"])  # frame_num
    r.ue()  # idr_pic_id
    r.u(2)  # dec_ref_pic_marking (IDR two flags)
    r.se()  # slice_qp_delta
    w_mbs, h_mbs = sps["width"] // MB, sps["height"] // MB
    frame = np.empty((sps["height"], sps["width"]), dtype=np.uint8)
    for mby in range(h_mbs):
        for mbx in range(w_mbs):
            mb_type = r.ue()
            if mb_type != I_PCM_MB_TYPE:
                raise ValueError(
                    f"only I_PCM macroblocks supported, got {mb_type}"
                )
            r.align()
            luma = np.frombuffer(r.raw_bytes(256), dtype=np.uint8)
            frame[
                mby * MB : (mby + 1) * MB, mbx * MB : (mbx + 1) * MB
            ] = luma.reshape(MB, MB)
            r.raw_bytes(128)  # chroma, constant by construction
    if r.u(1) != 1:
        raise ValueError("missing rbsp_stop_one_bit")
    return frame


# ---------------------------------------------------------------------------
# MP4 (ISO base media file format)


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">I", (version << 24) | flags) + payload)


MP4_TIMESCALE = 1000
MP4_FPS = 10


def encode_mp4_h264(
    frames: np.ndarray,
    fps: int = MP4_FPS,
    codec: str = "i_pcm",
    qp: int = 26,
    search_range: int = 8,
) -> bytes:
    """Real MP4: ftyp + mdat (length-prefixed IDR NALs) + moov with the
    full stsd(avc1+avcC)/stts/stsc/stsz/stco sample-table chain.

    ``frames``: uint8 array (n, H, W), H and W multiples of 16.
    ``codec``: ``"i_pcm"`` (lossless), ``"i16"`` (Intra_16x16 + CAVLC
    at ``qp``), ``"intra"`` (full baseline intra: per-MB
    Intra_4x4/Intra_16x16/I_PCM min-bits mode decision) — both
    predicted intra tiers live in h264_intra.py and use the
    deblocking-control PPS so the slices turn the in-loop filter off —
    or the GOP tiers ``"i16p"`` / ``"i16p2"`` (h264_inter.py)."""
    frames = np.asarray(frames, dtype=np.uint8)
    if frames.ndim != 3:
        raise ValueError("frames must be (n, h, w)")
    n, h, w = frames.shape
    if codec == "i_pcm":
        enc = lambda f, i: encode_idr_frame(f, idr_pic_id=i % 2)  # noqa: E731
        pps = encode_pps()
    elif codec in ("i16", "intra"):
        from real_time_trip_processing_project_spark.operators import (
            h264_intra as HI,
        )

        fn = (
            HI.encode_idr_frame_i16
            if codec == "i16"
            else HI.encode_idr_frame_intra  # per-MB I4x4/I16/PCM decision
        )
        enc = lambda f, i: fn(f, qp=qp, idr_pic_id=i % 2)  # noqa: E731
        pps = encode_pps(deblocking_control=True)
    elif codec in ("i16p", "i16p2"):
        # GOP tiers (h264_inter.py): IDR(Intra_16x16) + P+; the encoder
        # closure carries the reference picture(s) exactly as the
        # decoder will reconstruct them.  "i16p2" keeps a 2-deep list 0
        # — every P slice after the second picture codes a per-MB te(v)
        # ref_idx_l0 against the two most recent references (the
        # multi-reference tier, r12).
        from real_time_trip_processing_project_spark.operators import (
            h264_inter as HP,
            h264_intra as HI,
        )

        two_ref = codec == "i16p2"
        dpb: list = []  # most recent LAST

        def enc(f, i):
            if i == 0:
                nal, ry, rc = HI.encode_idr_frame_i16(
                    f, qp=qp, idr_pic_id=0,
                    return_recon=True, return_chroma=True,
                )
                dpb.clear()
            else:
                nal, ry, rc = HP.encode_p_frame(
                    f, dpb[-1][0], dpb[-1][1], qp=qp, frame_num=i,
                    search_range=search_range,
                    extra_refs=(
                        [dpb[-2]] if two_ref and len(dpb) >= 2 else None
                    ),
                )
            dpb.append((ry, rc))
            del dpb[:-2]
            return nal

        pps = encode_pps(deblocking_control=True)
    else:
        raise ValueError(f"unknown codec {codec!r}")
    sps = encode_sps(w, h, max_ref={"i16p": 1, "i16p2": 2}.get(codec, 0))
    nals = [enc(f, i) for i, f in enumerate(frames)]
    samples = [struct.pack(">I", len(nal)) + nal for nal in nals]
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomavc1")
    mdat_payload = b"".join(samples)
    mdat = _box(b"mdat", mdat_payload)
    chunk_offset = len(ftyp) + 8  # mdat payload starts after its header

    duration = n * (MP4_TIMESCALE // fps)
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, MP4_TIMESCALE, duration)
        + struct.pack(">IH", 0x00010000, 0x0100)  # rate, volume
        + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next_track_ID
    )
    tkhd = _full(
        b"tkhd", 0, 3,
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        # ISO 14496-12 v0: reserved[2] (8) + layer/alternate_group (4) +
        # volume=0 for video + reserved (4) — 16 bytes before the matrix.
        + b"\x00" * 16
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, MP4_TIMESCALE, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00",
    )
    # avcC decoder configuration record: SPS/PPS live HERE, not in-band
    avcc = _box(
        b"avcC",
        bytes([1, sps[1], sps[2], sps[3], 0xFF, 0xE1])
        + struct.pack(">H", len(sps)) + sps
        + bytes([1]) + struct.pack(">H", len(pps)) + pps,
    )
    avc1 = _box(
        b"avc1",
        b"\x00" * 6 + struct.pack(">H", 1)  # SampleEntry: data_ref_index
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x480000, 0x480000)  # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, pre_defined
        + avcc,
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + avc1)
    stts = _full(
        b"stts", 0, 0,
        struct.pack(">III", 1, n, MP4_TIMESCALE // fps),
    )
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stco = _full(b"stco", 0, 0, struct.pack(">II", 1, chunk_offset))
    # stss sync-sample table: written only when some samples are NOT
    # sync (the P-GOP tier) — all-IDR containers omit it, per ISO
    # 14496-12 "absent means every sample is a sync sample"
    sync = [
        i + 1
        for i, s in enumerate(samples)
        if len(s) > 4 and s[4] & 0x1F == 5
    ]
    stss = (
        b""
        if len(sync) == n
        else _full(
            b"stss", 0, 0,
            struct.pack(">I", len(sync))
            + b"".join(struct.pack(">I", x) for x in sync),
        )
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full(
        b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")
    )
    dinf = _box(b"dinf", dref)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _walk_boxes(data: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for each box in range."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", data, pos)[0]
        btype = data[pos + 4 : pos + 8]
        if size == 1:  # 64-bit largesize
            size = struct.unpack_from(">Q", data, pos + 8)[0]
            body = pos + 16
        elif size == 0:  # to end of enclosing box
            size = end - pos
            body = pos + 8
        else:
            body = pos + 8
        if size < 8 or pos + size > end:
            raise ValueError("malformed box size")
        yield btype, body, pos + size
        pos += size
    if pos != end:
        raise ValueError("trailing bytes after last box")


_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf"}


def parse_mp4(payload: bytes) -> dict:
    """Walk the box tree and rebuild the sample index.

    Returns sps/pps dicts, per-sample (offset, size) resolved from
    stsc×stco×stsz, the mdat payload bounds, and ``index_consistent``:
    every stsz size must be length-prefix-consistent and every resolved
    sample must fall inside mdat.

    Truncated/crafted payloads can hit ``struct.unpack_from`` past the
    buffer (stsz/stco/stsc reads) or index past the avcC walk; both are
    malformed-container conditions, normalized to ``ValueError`` so
    callers (mp4_container_index's per-row sentinel path) need exactly
    one except clause and a single bad row never fails a Spark task."""
    try:
        return _parse_mp4_strict(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed mp4: {exc}") from exc


def _parse_mp4_strict(payload: bytes) -> dict:
    found: dict[bytes, tuple[int, int]] = {}

    def recurse(start: int, end: int) -> None:
        for btype, body, bend in _walk_boxes(payload, start, end):
            if btype in _CONTAINERS:
                recurse(body, bend)
            else:
                found.setdefault(btype, (body, bend))

    recurse(0, len(payload))
    for req in (b"ftyp", b"mdat", b"stsd", b"stsz", b"stco", b"stsc", b"stts"):
        if req not in found:
            raise ValueError(f"missing {req.decode()} box")

    # stsd → avc1 → avcC → SPS/PPS
    s, e = found[b"stsd"]
    n_entries = struct.unpack_from(">I", payload, s + 4)[0]
    if n_entries != 1:
        raise ValueError("expected exactly one stsd entry")
    (avc1_type, avc1_body, avc1_end), = _walk_boxes(payload, s + 8, e)
    if avc1_type != b"avc1":
        raise ValueError(f"expected avc1 sample entry, got {avc1_type}")
    se_w, se_h = struct.unpack_from(">HH", payload, avc1_body + 24)
    avcc = None
    for btype, body, bend in _walk_boxes(payload, avc1_body + 78, avc1_end):
        if btype == b"avcC":
            avcc = (body, bend)
    if avcc is None:
        raise ValueError("avc1 entry missing avcC")
    b0, _ = avcc
    if payload[b0] != 1:
        raise ValueError("bad avcC configurationVersion")
    length_size = (payload[b0 + 4] & 3) + 1
    n_sps = payload[b0 + 5] & 0x1F
    pos = b0 + 6
    sps_nal = pps_nal = None
    for _ in range(n_sps):
        ln = struct.unpack_from(">H", payload, pos)[0]
        sps_nal = payload[pos + 2 : pos + 2 + ln]
        pos += 2 + ln
    n_pps = payload[pos]
    pos += 1
    for _ in range(n_pps):
        ln = struct.unpack_from(">H", payload, pos)[0]
        pps_nal = payload[pos + 2 : pos + 2 + ln]
        pos += 2 + ln
    if sps_nal is None or pps_nal is None:
        raise ValueError("avcC missing SPS or PPS")
    sps = parse_sps(sps_nal)
    pps = parse_pps(pps_nal)

    # sample sizes
    s, e = found[b"stsz"]
    default_size, n_samples = struct.unpack_from(">II", payload, s + 4)
    if default_size:
        sizes = [default_size] * n_samples
    else:
        sizes = list(
            struct.unpack_from(f">{n_samples}I", payload, s + 12)
        )
    # chunk offsets + samples-per-chunk → absolute sample offsets
    s, e = found[b"stco"]
    n_chunks = struct.unpack_from(">I", payload, s + 4)[0]
    chunk_offsets = list(struct.unpack_from(f">{n_chunks}I", payload, s + 8))
    s, e = found[b"stsc"]
    n_stsc = struct.unpack_from(">I", payload, s + 4)[0]
    stsc_rows = [
        struct.unpack_from(">III", payload, s + 8 + 12 * i)
        for i in range(n_stsc)
    ]
    per_chunk: list[int] = []
    for i, (first_chunk, spc, _desc) in enumerate(stsc_rows):
        last = (
            stsc_rows[i + 1][0] - 1 if i + 1 < len(stsc_rows) else n_chunks
        )
        per_chunk.extend([spc] * (last - first_chunk + 1))
    samples: list[tuple[int, int]] = []
    si = 0
    for ci, coff in enumerate(chunk_offsets):
        off = coff
        for _ in range(per_chunk[ci] if ci < len(per_chunk) else 0):
            if si >= n_samples:
                break
            samples.append((off, sizes[si]))
            off += sizes[si]
            si += 1

    mdat_s, mdat_e = found[b"mdat"]
    consistent = si == n_samples and len(samples) == n_samples
    for off, size in samples:
        if off < mdat_s or off + size > mdat_e or size < length_size:
            consistent = False
            break
    if consistent:
        # every sample must hold exactly its length-prefixed NALs
        for off, size in samples:
            pos2, end2 = off, off + size
            while pos2 + length_size <= end2:
                ln = int.from_bytes(payload[pos2 : pos2 + length_size], "big")
                pos2 += length_size + ln
            if pos2 != end2:
                consistent = False
                break
    # stts total duration must cover every sample exactly once
    s, e = found[b"stts"]
    n_stts = struct.unpack_from(">I", payload, s + 4)[0]
    stts_count = 0
    deltas: list[int] = []
    for i in range(n_stts):
        cnt, delta = struct.unpack_from(">II", payload, s + 8 + 8 * i)
        stts_count += cnt
        deltas.extend([delta] * min(cnt, n_samples - len(deltas)))
    if stts_count != n_samples:
        consistent = False
    # ctts composition offsets: run-length decoded to one
    # offset per sample; a count total that misses n_samples breaks
    # the decode→display mapping and flips consistency
    ctts_offsets = None
    if b"ctts" in found:
        s, e = found[b"ctts"]
        n_ctts = struct.unpack_from(">I", payload, s + 4)[0]
        ctts_offsets = []
        for i in range(n_ctts):
            cnt, off = struct.unpack_from(">II", payload, s + 8 + 8 * i)
            ctts_offsets.extend([off] * min(cnt, n_samples + 1))
        if len(ctts_offsets) != n_samples:
            consistent = False
            ctts_offsets = None
    # stss sync-sample table (absent → every sample is a sync sample,
    # per ISO 14496-12); the GOP tier (codec="i16p") writes one
    if b"stss" in found:
        s, e = found[b"stss"]
        n_sync = struct.unpack_from(">I", payload, s + 4)[0]
        sync_samples = sorted(
            struct.unpack_from(">I", payload, s + 8 + 4 * i)[0] - 1
            for i in range(n_sync)
        )
        if not sync_samples or sync_samples[0] != 0:
            consistent = False  # a decodable stream must start at sync
        if any(x < 0 or x >= n_samples for x in sync_samples):
            consistent = False
    else:
        sync_samples = list(range(n_samples))
    return {
        "sps": sps,
        "pps": pps,
        "width": int(se_w),
        "height": int(se_h),
        "length_size": length_size,
        "samples": samples,
        "sync_samples": sync_samples,
        "stts_deltas": deltas,
        "ctts_offsets": ctts_offsets,
        "mdat": (mdat_s, mdat_e),
        "index_consistent": bool(consistent),
    }


def decode_mp4_h264(payload: bytes, every_nth: int = 1):
    """Decode an MP4 of H.264 samples:
    ``(sps, [(frame_idx, frame_array), ...])``.

    All-sync containers (no stss box — the I_PCM/i16/intra tiers):
    ``every_nth`` skips samples by TABLE lookup, so an unsampled frame
    costs nothing (every sample is an IDR, the ideal random-access
    case).  GOP containers (stss present — the i16p/i16p2 tiers,
    h264_inter.py): samples decode SEQUENTIALLY carrying the reference
    pictures, and ``every_nth`` selects which frames are EMITTED —
    sampling then costs the GOP prefix, the honest price of temporal
    prediction.  Dispatch is per macroblock within I slices (mixed
    PCM/predicted slices decode) and per NAL type across the stream.
    pic_order_cnt_type 2 (enforced by :func:`parse_sps`) makes decode
    order the output order, so frame indexes are sample indexes."""
    from real_time_trip_processing_project_spark.operators import (
        h264_intra as HI,
    )

    info = parse_mp4(bytes(payload))
    sps, pps, ls = info["sps"], info["pps"], info["length_size"]

    def _nals(off, size):
        pos, end = off, off + size
        while pos + ls <= end:
            ln = int.from_bytes(payload[pos : pos + ls], "big")
            nal = payload[pos + ls : pos + ls + ln]
            pos += ls + ln
            yield bytes(nal)

    out = []
    if len(info["sync_samples"]) == len(info["samples"]):
        # all-sync fast path: unsampled frames cost table arithmetic only
        for i, (off, size) in enumerate(info["samples"]):
            if i % every_nth:
                continue
            for nal in _nals(off, size):
                if nal and nal[0] & 0x1F == 5:
                    out.append((i, HI.decode_idr_frame_auto(nal, sps, pps)))
        return sps, out

    # GOP path: sequential decode carrying a sliding-window DPB of the
    # SPS's max_num_ref_frames most recent (y, c) references, most
    # recent LAST
    from real_time_trip_processing_project_spark.operators import (
        h264_inter as HP,
    )

    refs: list = []
    max_ref = max(1, sps.get("max_num_ref_frames") or 1)
    for i, (off, size) in enumerate(info["samples"]):
        for nal in _nals(off, size):
            if not nal:
                continue
            ntype = nal[0] & 0x1F
            if ntype == 5:
                y, c = HI.decode_idr_frame_auto(
                    nal, sps, pps, return_chroma=True
                )
                refs = [(y, c)]  # IDR empties the DPB
            elif ntype == 1:
                if not refs:
                    raise ValueError("predicted slice before any IDR")
                # decode_p_frame rejects B and non-IDR I slices
                y, c = HP.decode_p_frame(
                    nal, sps, pps, refs[-1][0], refs[-1][1],
                    extra_refs=[refs[-2]] if len(refs) >= 2 else None,
                )
                refs = (refs + [(y, c)])[-max_ref:]
            else:
                continue
            if i % every_nth == 0:
                out.append((i, y))
    return sps, out
