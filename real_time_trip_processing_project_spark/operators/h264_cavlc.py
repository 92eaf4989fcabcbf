"""CAVLC entropy coding (ITU-T H.264 §9.2) — tables + residual codec.

The entropy layer for the predicted-macroblock tier
(``h264_intra.py``), split out because it is pure table-driven bit
work with no pixel semantics.  Everything here is transcribed from the
public ITU-T H.264 specification (Tables 9-5, 9-7, 9-8, 9-9(a), 9-10
and the §9.2.2 level semantics); the container/bitstream scaffolding
it plugs into lives in ``h264.py``.

Verification discipline (no external H.264 decoder exists in the build
container): every VLC table below is asserted PREFIX-FREE per context
at import of the test module, encode→decode identity is fuzzed over
the full (nC class × TotalCoeff × TrailingOnes × level magnitude ×
zero-run) space, and the §9.2.2 level escape boundaries (prefix 14 at
suffixLength 0, prefix 15 twelve-bit suffix) are hit explicitly —
see tests/test_h264_intra.py.
"""

from __future__ import annotations

from real_time_trip_processing_project_spark.operators.h264 import (
    BitReader,
    BitWriter,
)

# ---------------------------------------------------------------------------
# Table 9-5: coeff_token.  Per context: {(trailing_ones, total_coeff):
# (length, code)}.  Contexts 0/1/2 are the VLC tables for 0<=nC<2,
# 2<=nC<4, 4<=nC<8; nC>=8 is a 6-bit FLC handled in code; context -1 is
# the chroma-DC table (4:2:0, TotalCoeff <= 4).


def _tbl(spec: str) -> dict[tuple[int, int], tuple[int, int]]:
    """Parse 'T1,TC:bits' whitespace-separated entries."""
    out = {}
    for item in spec.split():
        key, bits = item.split(":")
        t1, tc = key.split(",")
        out[(int(t1), int(tc))] = (len(bits), int(bits, 2))
    return out


COEFF_TOKEN_NC0 = _tbl(
    """
    0,0:1
    0,1:000101 1,1:01
    0,2:00000111 1,2:000100 2,2:001
    0,3:000000111 1,3:00000110 2,3:0000101 3,3:00011
    0,4:0000000111 1,4:000000110 2,4:00000101 3,4:000011
    0,5:00000000111 1,5:0000000110 2,5:000000101 3,5:0000100
    0,6:0000000001111 1,6:00000000110 2,6:0000000101 3,6:00000100
    0,7:0000000001011 1,7:0000000001110 2,7:00000000101 3,7:000000100
    0,8:0000000001000 1,8:0000000001010 2,8:0000000001101 3,8:0000000100
    0,9:00000000001111 1,9:00000000001110 2,9:0000000001001 3,9:00000000100
    0,10:00000000001011 1,10:00000000001010 2,10:00000000001101 3,10:0000000001100
    0,11:000000000001111 1,11:000000000001110 2,11:00000000001001 3,11:00000000001100
    0,12:000000000001011 1,12:000000000001010 2,12:000000000001101 3,12:00000000001000
    0,13:0000000000001111 1,13:000000000000001 2,13:000000000001001 3,13:000000000001100
    0,14:0000000000001011 1,14:0000000000001110 2,14:0000000000001101 3,14:000000000001000
    0,15:0000000000000111 1,15:0000000000001010 2,15:0000000000001001 3,15:0000000000001100
    0,16:0000000000000100 1,16:0000000000000110 2,16:0000000000000101 3,16:0000000000001000
    """
)

COEFF_TOKEN_NC2 = _tbl(
    """
    0,0:11
    0,1:001011 1,1:10
    0,2:000111 1,2:00111 2,2:011
    0,3:0000111 1,3:001010 2,3:001001 3,3:0101
    0,4:00000111 1,4:000110 2,4:000101 3,4:0100
    0,5:00000100 1,5:0000110 2,5:0000101 3,5:00110
    0,6:000000111 1,6:00000110 2,6:00000101 3,6:001000
    0,7:00000001111 1,7:000000110 2,7:000000101 3,7:000100
    0,8:00000001011 1,8:00000001110 2,8:00000001101 3,8:0000100
    0,9:000000001111 1,9:00000001010 2,9:00000001001 3,9:000000100
    0,10:000000001011 1,10:000000001110 2,10:000000001101 3,10:00000001100
    0,11:000000001000 1,11:000000001010 2,11:000000001001 3,11:00000001000
    0,12:0000000001111 1,12:0000000001110 2,12:0000000001101 3,12:000000001100
    0,13:0000000001011 1,13:0000000001010 2,13:0000000001001 3,13:0000000001100
    0,14:0000000000111 1,14:00000000001011 2,14:0000000000110 3,14:0000000001000
    0,15:00000000001001 1,15:00000000001000 2,15:00000000001010 3,15:0000000000001
    0,16:00000000000111 1,16:00000000000110 2,16:00000000000101 3,16:00000000000100
    """
)

COEFF_TOKEN_NC4 = _tbl(
    """
    0,0:1111
    0,1:001111 1,1:1110
    0,2:001011 1,2:01111 2,2:1101
    0,3:001000 1,3:01100 2,3:01110 3,3:1100
    0,4:0001111 1,4:01010 2,4:01011 3,4:1011
    0,5:0001011 1,5:01000 2,5:01001 3,5:1010
    0,6:0001001 1,6:001110 2,6:001101 3,6:1001
    0,7:0001000 1,7:001010 2,7:001001 3,7:1000
    0,8:00001111 1,8:0001110 2,8:0001101 3,8:01101
    0,9:00001011 1,9:00001110 2,9:0001010 3,9:001100
    0,10:000001111 1,10:00001010 2,10:00001101 3,10:0001100
    0,11:000001011 1,11:000001110 2,11:00001001 3,11:00001100
    0,12:000001000 1,12:000001010 2,12:000001101 3,12:00001000
    0,13:0000001101 1,13:000000111 2,13:000001001 3,13:000001100
    0,14:0000001001 1,14:0000001100 2,14:0000001011 3,14:0000001010
    0,15:0000000101 1,15:0000001000 2,15:0000000111 3,15:0000000110
    0,16:0000000001 1,16:0000000100 2,16:0000000011 3,16:0000000010
    """
)

COEFF_TOKEN_CHROMA_DC = _tbl(
    """
    0,0:01
    0,1:000111 1,1:1
    0,2:000100 1,2:000110 2,2:001
    0,3:000011 1,3:0000011 2,3:0000010 3,3:000101
    0,4:000010 1,4:00000011 2,4:00000010 3,4:0000000
    """
)

# Table 9-7 / 9-8: total_zeros for 4x4 blocks, indexed by tzVlcIndex
# (= TotalCoeff, 1..15); per index: {total_zeros: (length, code)}.


def _tz(spec: str) -> dict[int, tuple[int, int]]:
    out = {}
    for i, bits in enumerate(spec.split()):
        out[i] = (len(bits), int(bits, 2))
    return out


TOTAL_ZEROS_4x4 = {
    1: _tz("1 011 010 0011 0010 00011 00010 000011 000010 0000011 "
           "0000010 00000011 00000010 000000011 000000010 000000001"),
    2: _tz("111 110 101 100 011 0101 0100 0011 0010 00011 00010 "
           "000011 000010 000001 000000"),
    3: _tz("0101 111 110 101 0100 0011 100 011 0010 00011 00010 "
           "000001 00001 000000"),
    4: _tz("00011 111 0101 0100 110 101 100 0011 011 0010 00010 "
           "00001 00000"),
    5: _tz("0101 0100 0011 111 110 101 100 011 0010 00001 0001 00000"),
    6: _tz("000001 00001 111 110 101 100 011 010 0001 001 000000"),
    7: _tz("000001 00001 101 100 011 11 010 0001 001 000000"),
    8: _tz("000001 0001 00001 011 11 10 010 001 000000"),
    9: _tz("000001 000000 0001 11 10 001 01 00001"),
    10: _tz("00001 00000 001 11 10 01 0001"),
    11: _tz("0000 0001 001 010 1 011"),
    12: _tz("0000 0001 01 1 001"),
    13: _tz("000 001 1 01"),
    14: _tz("00 01 1"),
    15: _tz("0 1"),
}

# Table 9-9(a): total_zeros for chroma DC (4:2:0, maxNumCoeff 4).
TOTAL_ZEROS_CHROMA_DC = {
    1: _tz("1 01 001 000"),
    2: _tz("1 01 00"),
    3: _tz("1 0"),
}

# Table 9-10: run_before, indexed by min(zerosLeft, 7); run >= 7 at
# zerosLeft > 6 is (run - 4) zeros then a 1, handled in code.
RUN_BEFORE = {
    1: _tz("1 0"),
    2: _tz("1 01 00"),
    3: _tz("11 10 01 00"),
    4: _tz("11 10 01 001 000"),
    5: _tz("11 10 011 010 001 000"),
    6: _tz("11 000 001 011 010 101 100"),
    7: _tz("111 110 101 100 011 010 001"),
}


def _coeff_token_table(nc: int):
    if nc == -1:
        return COEFF_TOKEN_CHROMA_DC
    if nc < 2:
        return COEFF_TOKEN_NC0
    if nc < 4:
        return COEFF_TOKEN_NC2
    if nc < 8:
        return COEFF_TOKEN_NC4
    return None  # 6-bit FLC


def _write_coeff_token(bw: BitWriter, nc: int, t1: int, tc: int) -> None:
    tbl = _coeff_token_table(nc)
    if tbl is None:
        # 8 <= nC: 6-bit FLC, value (TotalCoeff-1)*4 + TrailingOnes,
        # with (0,0) encoded as 0b000011
        bw.u(3 if tc == 0 else (tc - 1) * 4 + t1, 6)
        return
    length, code = tbl[(t1, tc)]
    bw.u(code, length)


#: Inverse {(len, code): key} maps, built ONCE at import — decode is
#: the hot loop of every CAVLC slice decode, and rebuilding a ~62-entry
#: dict per residual-block read would dominate.
_REV: dict[int, dict[tuple[int, int], object]] = {}


def _rev(tbl: dict) -> dict:
    m = _REV.get(id(tbl))
    if m is None:
        m = {(ln, code): k for k, (ln, code) in tbl.items()}
        _REV[id(tbl)] = m
    return m


def _read_vlc(br: BitReader, tbl: dict) -> tuple:
    """Bit-serial prefix-code read against a {key: (len, code)} table."""
    by_code = _rev(tbl)
    acc, n = 0, 0
    while n < 20:
        acc = (acc << 1) | br.u(1)
        n += 1
        hit = by_code.get((n, acc))
        if hit is not None:
            return hit
    raise ValueError("invalid VLC code")


def _read_coeff_token(br: BitReader, nc: int) -> tuple[int, int]:
    tbl = _coeff_token_table(nc)
    if tbl is None:
        v = br.u(6)
        if v == 3:
            return 0, 0
        return v % 4, v // 4 + 1
    return _read_vlc(br, tbl)


def _write_level(bw: BitWriter, level_code: int, suffix_len: int) -> None:
    """§9.2.2 level writer (inverse of the normative decode)."""
    if suffix_len == 0:
        if level_code < 14:
            bw.u(0, level_code)
            bw.u(1, 1)
            return
        if level_code < 30:  # prefix 14 escape: 4-bit suffix
            bw.u(0, 14)
            bw.u(1, 1)
            bw.u(level_code - 14, 4)
            return
        rem = level_code - 15  # decode adds 15 back at suffixLength 0
    else:
        if level_code < (15 << suffix_len):
            bw.u(0, level_code >> suffix_len)
            bw.u(1, 1)
            bw.u(level_code & ((1 << suffix_len) - 1), suffix_len)
            return
        rem = level_code
    # prefix >= 15 escapes: levelSuffixSize = prefix - 3.  Decode for
    # prefix p yields (15 << sl) [+15 at sl==0] + suffix + B(p) with
    # B(15)=0 and B(p)=(1<<(p-3))-4096 for p>=16 — i.e. prefix p covers
    # a contiguous band of capacity 2^(p-3); step bands until rem fits.
    rem -= 15 << suffix_len
    prefix = 15
    while rem >= (1 << (prefix - 3)):
        rem -= 1 << (prefix - 3)
        prefix += 1
        if prefix > 30:
            raise ValueError("level too large for CAVLC escape")
    bw.u(0, prefix)
    bw.u(1, 1)
    bw.u(rem, prefix - 3)


def _read_level(br: BitReader, suffix_len: int) -> int:
    prefix = 0
    while br.u(1) == 0:
        prefix += 1
        if prefix > 30:
            raise ValueError("level_prefix overrun")
    if prefix == 14 and suffix_len == 0:
        suffix_size = 4
    elif prefix >= 15:
        suffix_size = prefix - 3
    else:
        suffix_size = suffix_len
    level_code = (min(15, prefix) << suffix_len) + (
        br.u(suffix_size) if suffix_size else 0
    )
    if prefix >= 15 and suffix_len == 0:
        level_code += 15
    if prefix >= 16:
        level_code += (1 << (prefix - 3)) - 4096
    return level_code


def write_residual_block(
    bw: BitWriter, coeffs: list[int], nc: int, max_coeffs: int
) -> int:
    """Encode one residual block (coeffs in scan order, length
    ``max_coeffs``) per §9.2; returns TotalCoeff for the caller's nC
    bookkeeping."""
    nz = [(i, c) for i, c in enumerate(coeffs) if c != 0]
    tc = len(nz)
    # trailing ones: up to 3 |1|s at the end of scan order
    t1 = 0
    for _, c in reversed(nz):
        if abs(c) == 1 and t1 < 3:
            t1 += 1
        else:
            break
    _write_coeff_token(bw, nc, t1, tc)
    if tc == 0:
        return 0
    # trailing-one signs, highest scan position first
    for _, c in list(reversed(nz))[:t1]:
        bw.u(1 if c < 0 else 0, 1)
    # remaining levels, highest scan position first
    levels = [c for _, c in list(reversed(nz))[t1:]]
    suffix_len = 1 if tc > 10 and t1 < 3 else 0
    for i, lv in enumerate(levels):
        level_code = 2 * (abs(lv) - 1) + (1 if lv < 0 else 0)
        if i == 0 and t1 < 3:
            level_code -= 2
        _write_level(bw, level_code, suffix_len)
        if suffix_len == 0:
            suffix_len = 1
        if abs(lv) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # total_zeros
    total_zeros = nz[-1][0] + 1 - tc
    if tc < max_coeffs:
        tbl = (
            TOTAL_ZEROS_CHROMA_DC[tc]
            if max_coeffs == 4
            else TOTAL_ZEROS_4x4[tc]
        )
        length, code = tbl[total_zeros]
        bw.u(code, length)
    # run_before, highest scan position first, last coeff's run implied
    zeros_left = total_zeros
    positions = [i for i, _ in nz]
    for k in range(tc - 1, 0, -1):
        if zeros_left == 0:
            break
        run = positions[k] - positions[k - 1] - 1
        if zeros_left <= 6:
            length, code = RUN_BEFORE[zeros_left][run]
            bw.u(code, length)
        elif run < 7:
            length, code = RUN_BEFORE[7][run]
            bw.u(code, length)
        else:
            bw.u(0, run - 4)
            bw.u(1, 1)
        zeros_left -= run
    return tc


def read_residual_block(
    br: BitReader, nc: int, max_coeffs: int
) -> tuple[list[int], int]:
    """Decode one residual block per §9.2; returns (coeffs in scan
    order, TotalCoeff)."""
    t1, tc = _read_coeff_token(br, nc)
    coeffs = [0] * max_coeffs
    if tc == 0:
        return coeffs, 0
    levels = []
    for _ in range(t1):
        levels.append(-1 if br.u(1) else 1)
    suffix_len = 1 if tc > 10 and t1 < 3 else 0
    for i in range(tc - t1):
        level_code = _read_level(br, suffix_len)
        if i == 0 and t1 < 3:
            level_code += 2
        lv = (level_code + 2) >> 1
        if level_code & 1:
            lv = -lv
        levels.append(lv)
        if suffix_len == 0:
            suffix_len = 1
        if abs(lv) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    if tc < max_coeffs:
        tbl = (
            TOTAL_ZEROS_CHROMA_DC[tc]
            if max_coeffs == 4
            else TOTAL_ZEROS_4x4[tc]
        )
        total_zeros = _read_vlc(br, tbl)
    else:
        total_zeros = 0
    # place levels: walk from the highest scan position downward
    zeros_left = total_zeros
    pos = tc - 1 + total_zeros  # scan index of the highest coeff
    if pos >= max_coeffs:
        raise ValueError("total_zeros overruns the block")
    for k in range(tc):
        if pos < 0:
            # corrupt run_before data (zerosLeft>6 ladder) can drive the
            # scan index negative; without this guard Python's negative
            # indexing would silently wrap writes to the block tail
            raise ValueError("run_before overruns the block")
        coeffs[pos] = levels[k]
        if k == tc - 1:
            break
        if zeros_left > 0:
            if zeros_left <= 6:
                run = _read_vlc(br, RUN_BEFORE[zeros_left])
            else:
                # zerosLeft > 6: a 3-bit word with value v in [1,7]
                # encodes run 7-v; the all-zero word continues as a
                # zero-ladder — (run-4) zeros total, then a 1
                word = br.u(3)
                if word:
                    run = 7 - word
                else:
                    zeros = 3
                    while br.u(1) == 0:
                        zeros += 1
                        if zeros > 14:
                            raise ValueError("run_before overrun")
                    run = zeros + 4
            zeros_left -= run
        else:
            run = 0
        pos -= run + 1
    return coeffs, tc
