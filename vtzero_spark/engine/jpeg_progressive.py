"""Progressive JPEG (SOF2) decode, pure numpy + stdlib.

Implements ITU-T T.81 Annex G progressive DCT: spectral selection
(per-scan Ss..Se coefficient bands) and successive approximation
(per-scan Ah/Al bit-plane splits), DC scans interleaved or not, AC
scans single-component over the component's own (non-interleaved)
block grid, EOB-run coding, refinement correction bits, restart
intervals, tables redefinable between scans. Public-knowledge
implementation (T.81 Annex G; the scan-script shape follows the
widely-published libjpeg default progression).

Decoding accumulates quantized coefficients across scans and then
reuses the baseline module's vectorized assembly (jpeg._assemble_planes
— progressive reorders the entropy stream, the coefficient data is
identical), so a progressive stream decodes to EXACTLY the pixels of
a baseline stream with the same quantized coefficients; the round-trip
tests pin that equality.

The matching encoder, which exists only to exercise every decoder path
without external fixtures, is the tests' (tests/scalar_reference.py
encode_progressive): the standard 10-scan script or any caller-supplied
one, over 4:4:4, 4:2:2, 4:2:0 or grayscale, optionally with restart
intervals, with its Huffman tables carried in DHT so the decoder
exercises its real DHT path.

Entry points raise ValueError (only) on malformed streams, matching
engine/jpeg.py's errors-as-data contract.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import _BitReader, _decode_lut, _valueerror_on_corruption
from . import jpeg as J

# ------------------------------------------------------------- parser


def _destuff(data: bytes, lo: int, hi: int) -> bytes:
    raw = np.frombuffer(data[lo:hi], dtype=np.uint8)
    stuffed = np.flatnonzero((raw[:-1] == 0xFF) & (raw[1:] == 0x00)) + 1
    return (np.delete(raw, stuffed).tobytes()
            if len(stuffed) else raw.tobytes())


def is_progressive(data: bytes) -> bool:
    """Light marker walk to the first SOFn: True for SOF2. False for
    anything else (including streams with no SOF — the full parsers
    produce the real error)."""
    pos, n = 2, len(data)
    if data[:2] != b"\xFF\xD8":
        return False
    while pos < n - 1:
        if data[pos] != 0xFF:
            return False
        while pos < n and data[pos] == 0xFF:
            pos += 1
        if pos >= n:
            return False
        marker = data[pos]
        pos += 1
        if marker in (0x01, 0xD9) or 0xD0 <= marker <= 0xD7:
            continue
        if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return marker == 0xC2
        if marker == 0xDA:        # SOS before SOF: malformed
            return False
        if pos + 2 > n:
            return False
        (ln,) = struct.unpack(">H", data[pos:pos + 2])
        pos += ln
    return False


@_valueerror_on_corruption
def parse_progressive(data: bytes) -> dict:
    """SOF2 stream -> frame metadata + ordered scan list. Each scan
    snapshot carries its own Huffman LUTs, restart interval, and
    RST-split entropy segments (tables and DRI are redefinable between
    scans, T.81 B.2.4)."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], tuple[list, list]] = {}
    dims = None
    comps: list = []          # (cid, tq, hi, vi) in frame order
    scans: list[dict] = []
    restart_ri = 0
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        while pos < n and data[pos] == 0xFF:
            pos += 1
        marker = data[pos]
        pos += 1
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (ln,) = struct.unpack(">H", data[pos:pos + 2])
        seg = data[pos + 2:pos + ln]
        pos += ln
        if marker == 0xDB:
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qtabs[tq] = np.frombuffer(
                    seg[sp + 1:sp + 65], dtype=np.uint8
                ).astype(np.float64)
                sp += 65
        elif marker == 0xC4:
            sp = 0
            while sp < len(seg):
                cls, tid = seg[sp] >> 4, seg[sp] & 0x0F
                bits = list(seg[sp + 1:sp + 17])
                nv = sum(bits)
                vals = list(seg[sp + 17:sp + 17 + nv])
                htabs[(cls, tid)] = _decode_lut(bits, vals)
                sp += 17 + nv
        elif marker == 0xC2:
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError("only 1 or 3 components supported")
            for i in range(nc):
                cid, samp, tq = seg[6 + 3 * i:9 + 3 * i]
                hi, vi = samp >> 4, samp & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(
                        f"sampling factors {hi}x{vi} unsupported")
                comps.append((cid, tq, hi, vi))
            dims = (h, w)
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "not a progressive stream (non-SOF2 frame marker)")
        elif marker == 0xDD:
            (restart_ri,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:
            if dims is None:
                raise ValueError("SOS before SOF2")
            ns = seg[0]
            scomps = []
            for i in range(ns):
                scid, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                ci = next((j for j, c in enumerate(comps)
                           if c[0] == scid), None)
                if ci is None:
                    raise ValueError("scan references unknown component")
                scomps.append((ci, tt >> 4, tt & 0x0F))
            ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            if not (0 <= ss <= se <= 63):
                raise ValueError("bad spectral selection")
            if (ss == 0) != (se == 0):
                raise ValueError("DC scan must have Ss=Se=0")
            if ss > 0 and ns != 1:
                raise ValueError("AC scans must be single-component")
            # snapshot the LUTs this scan uses (DC-refine scans carry
            # raw bits and need no table)
            luts = []
            for ci, dct, act in scomps:
                dc_lut = ac_lut = None
                if ss == 0 and ah == 0:
                    if (0, dct) not in htabs:
                        raise ValueError("missing DC Huffman table")
                    dc_lut = htabs[(0, dct)]
                if ss > 0:
                    if (1, act) not in htabs:
                        raise ValueError("missing AC Huffman table")
                    ac_lut = htabs[(1, act)]
                luts.append((dc_lut, ac_lut))
            segments = []
            start = end = pos
            while end < n - 1:
                if data[end] == 0xFF and data[end + 1] != 0x00:
                    if 0xD0 <= data[end + 1] <= 0xD7:
                        segments.append(_destuff(data, start, end))
                        start = end = end + 2
                        continue
                    break
                end += 1
            segments.append(_destuff(data, start, end))
            pos = end
            scans.append({
                "comps": scomps, "ss": ss, "se": se, "ah": ah, "al": al,
                "ri": restart_ri, "luts": luts, "segments": segments,
            })
    if dims is None or not scans:
        raise ValueError("incomplete progressive JPEG stream")

    h, w = dims
    nc = len(comps)
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    qt_by_comp, sampf, grids, ni_grids = [], [], [], []
    for cid, tq, hi, vi in comps:
        if tq not in qtabs:
            raise ValueError("missing quantization table")
        qt_by_comp.append(qtabs[tq])
        sampf.append((hi, vi))
        grids.append((mcuy * vi, mcux * hi))
        cw, ch = -(-w * hi // hmax), -(-h * vi // vmax)
        ni_grids.append((-(-ch // 8), -(-cw // 8)))
    return {
        "h": h, "w": w, "nc": nc, "hmax": hmax, "vmax": vmax,
        "mcux": mcux, "mcuy": mcuy, "qt_by_comp": qt_by_comp,
        "sampf": sampf, "grids": grids, "ni_grids": ni_grids,
        "scans": scans,
    }


# ------------------------------------------------------------- decoder

def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


def _scan_blocks(p: dict, scan: dict):
    """Yield the scan's block sequence as (ci, interleaved block
    index) in coded order; one MCU per yield group. Interleaved scans
    (multi-component DC) walk the MCU grid; single-component scans
    walk the component's own non-interleaved grid, one block per MCU
    (T.81 A.2.2/A.2.3)."""
    if len(scan["comps"]) > 1:
        mcux, mcuy = p["mcux"], p["mcuy"]
        for mi in range(mcux * mcuy):
            my, mx = divmod(mi, mcux)
            group = []
            for ci, _, _ in scan["comps"]:
                hi, vi = p["sampf"][ci]
                bw = p["grids"][ci][1]
                for by in range(vi):
                    for bx in range(hi):
                        group.append(
                            (ci, (my * vi + by) * bw + (mx * hi + bx)))
            yield group
    else:
        ci = scan["comps"][0][0]
        bh_ni, bw_ni = p["ni_grids"][ci]
        bw = p["grids"][ci][1]
        for r in range(bh_ni):
            for c in range(bw_ni):
                yield [(ci, r * bw + c)]


def _decode_scan(p: dict, scan: dict, coefs: list) -> None:
    """Apply ONE scan's entropy data to the coefficient accumulators
    (coefs[ci]: (bh*bw, 64) int64, zigzag-ordered rows)."""
    ss, se = scan["ss"], scan["se"]
    ah, al = scan["ah"], scan["al"]
    ri = scan["ri"]
    segments = scan["segments"]
    lut_by_ci = {ci: scan["luts"][j]
                 for j, (ci, _, _) in enumerate(scan["comps"])}

    if ss == 0:
        # phantom-MCU guard (the progressive analog of the baseline
        # parser's entropy-budget check): every DC-coded block costs
        # >= 1 bit (first scans: one Huffman symbol; refinements:
        # exactly one raw bit), so corrupt SOF dimensions that declare
        # millions of blocks against a tiny scan are rejected before
        # the walk grinds through them. AC scans have no such bound
        # (one EOB run can legally cover 32767 blocks).
        nblocks = 0
        for ci, _, _ in scan["comps"]:
            if len(scan["comps"]) > 1:
                bh, bw = p["grids"][ci]
            else:
                bh, bw = p["ni_grids"][ci]
            nblocks += bh * bw
        if nblocks > max(sum(len(s) for s in segments) * 8, 1):
            raise ValueError(
                "DC scan entropy too short for the declared dimensions")

    seg_i = 0
    rd = _BitReader(segments[0])
    pred = {ci: 0 for ci, _, _ in scan["comps"]}
    eobrun = 0
    nmcu = 0

    for group in _scan_blocks(p, scan):
        if ri and nmcu and nmcu % ri == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("missing restart segment")
            rd = _BitReader(segments[seg_i])
            pred = {ci: 0 for ci in pred}
            eobrun = 0
        nmcu += 1
        for ci, bi in group:
            block = coefs[ci][bi]
            if ss == 0 and ah == 0:           # DC first
                dc_lut = lut_by_ci[ci][0]
                pk = rd.peek16()
                length = dc_lut[1][pk]
                if length == 0:
                    raise ValueError("bad DC Huffman code")
                rd.skip(length)
                s = dc_lut[0][pk]
                diff = _extend(rd.get(s), s) if s else 0
                pred[ci] += diff
                block[0] = pred[ci] << al
            elif ss == 0:                     # DC refine: 1 raw bit
                if rd.get(1):
                    block[0] |= (1 << al)
            elif ah == 0:                     # AC first
                if eobrun > 0:
                    eobrun -= 1
                    continue
                ac_sym, ac_len = lut_by_ci[ci][1]
                k = ss
                while k <= se:
                    pk = rd.peek16()
                    length = ac_len[pk]
                    if length == 0:
                        raise ValueError("bad AC Huffman code")
                    rd.skip(length)
                    sym = ac_sym[pk]
                    r, s = sym >> 4, sym & 0x0F
                    if s == 0:
                        if r == 15:
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += rd.get(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("AC run past spectral end")
                    block[k] = _extend(rd.get(s), s) << al
                    k += 1
            else:                             # AC refine (G.1.2.3)
                p1, m1 = 1 << al, -1 << al
                k = ss
                if eobrun == 0:
                    ac_sym, ac_len = lut_by_ci[ci][1]
                    while k <= se:
                        pk = rd.peek16()
                        length = ac_len[pk]
                        if length == 0:
                            raise ValueError("bad AC Huffman code")
                        rd.skip(length)
                        sym = ac_sym[pk]
                        r, s = sym >> 4, sym & 0x0F
                        if s == 0:
                            if r < 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += rd.get(r)
                                break
                            val = 0          # ZRL: 16 zero-history
                        elif s == 1:
                            val = p1 if rd.get(1) else m1
                        else:
                            raise ValueError(
                                "refinement symbol with size > 1")
                        while k <= se:
                            if block[k] != 0:
                                if rd.get(1) and (block[k] & p1) == 0:
                                    block[k] += p1 if block[k] >= 0 \
                                        else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val != 0 and k <= se:
                            block[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if block[k] != 0:
                            if rd.get(1) and (block[k] & p1) == 0:
                                block[k] += p1 if block[k] >= 0 else m1
                        k += 1
                    eobrun -= 1


@_valueerror_on_corruption
def decode_progressive(data: bytes) -> np.ndarray:
    """SOF2 JFIF bytes -> uint8 RGB (h, w, 3). Coefficients accumulate
    across scans; assembly is the baseline module's vectorized
    dequant + IDCT + upsample + color convert."""
    p = parse_progressive(data)
    # int64 object rows would be slow; per-block python lists are the
    # hot structure, so accumulate in a numpy array and index rows
    coefs = [np.zeros((bh * bw, 64), dtype=np.int64)
             for bh, bw in p["grids"]]
    for scan in p["scans"]:
        _decode_scan(p, scan, coefs)
    return J._assemble_planes(p, coefs)
