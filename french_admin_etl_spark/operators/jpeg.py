"""Baseline JPEG decode, stdlib + numpy only — no PIL/libjpeg.

Closes the last declared media-decode stub for the most common codec:
baseline sequential DCT JPEGs (SOF0/SOF1), 8-bit, grayscale or YCbCr with
any sampling factors (4:4:4, 4:2:2, 4:2:0, ...), interleaved or
MULTI-SCAN non-interleaved files (one SOS per component, with DHT/DRI
segments allowed between scans), restart markers (DRI/RSTn),
multi-segment DQT/DHT — and PROGRESSIVE (SOF2) files (round 4): spectral
selection, successive approximation (DC arithmetic-shift + AC
magnitude-shift refinement passes), EOB run-lengths, per T.81 annex G;
coefficients accumulate across scans and the IDCT runs once at EOI, so a
complete progressive file decodes exactly like its sequential twin.
LOSSLESS (SOF3) files decode too (round 5): predictor DPCM per T.81
annex H — all 7 predictors, 2–16-bit precision, point transform Pt,
interleaved or one-scan-per-component, restart markers (prediction
resets to the default 2^(P−Pt−1) after each RSTn, H.2.2) — for the
common non-subsampled (1×1) case — round-5 session 4 extends lossless to
SUBSAMPLED frames (A.1.1 per-component grids, MCU-interleaved Hi×Vi
regions, non-interleaved scans on the component's own grid). 12-BIT
samples decode in extended sequential (SOF1) and progressive (SOF2)
frames (round 5): level shift 2048, clamp to [0, 4095], 16-bit (Pq=1)
quantization tables — baseline SOF0 stays 8-bit-only as T.81 B.2.2
requires. ARITHMETIC-coded frames decode too (round-5 session 4): a
from-scratch QM coder (annex D state machine, conditional MPS/LPS
exchange) drives the F.2.2 DC/AC decision trees with DAC conditioning
for sequential (SOF9) frames, and the annex-G progressive variants of
those trees for PROGRESSIVE-arithmetic (SOF10) frames — per-block
adaptive EOB decisions instead of Huffman EOB run-lengths, fixed-state
DC/AC refinement bits, statistics fresh per scan — and the H.1.2.3
two-dimensional conditioning model for LOSSLESS-arithmetic (SOF11)
frames (25 Da/Db-classified contexts, dual X/M chains, 158-bin area).
HIERARCHICAL streams (annex J) decode too: DHP progression header, EXP
reference expansion (J.1.1.2 sample-doubling interpolation), and every
differential frame type (SOF5/6/7 Huffman, SOF13/14/15 arithmetic) —
differences decode level-shift-free and fold into integer reference
planes, clamped for DCT frames, modulo 2^16 for lossless ones. With
that, EVERY T.81 coding process decodes; no JPEG seam remains.

The decode pipeline is the textbook one (ITU-T T.81):

  marker parse → entropy segment split on RSTn → Huffman-decode MCUs
  (DC predict + AC run-length) → dequantize → de-zigzag → 8x8 IDCT
  (orthonormal separable DCT-III via one matrix product pair) → level
  shift + clamp → per-component planes.

``decode_jpeg`` returns the component planes (Y, Cb, Cr at their coded
resolutions); ``decode_jpeg_gray`` returns the full-resolution luma plane
— for the grayscale feature pipeline Y IS the BT.601 luma that
``decode_image`` computes from RGB for other codecs, so no chroma
upsampling or color conversion is needed (and none of their rounding).

Scale note: this runs inside ``mapInPandas`` workers (one image per row,
Arrow-batched) — per-image Python cost is the decode itself, which is
numpy-vectorized where it matters (IDCT, dequant); the bit-serial Huffman
loop is inherent to the format. Tested round-trip against a from-scratch
encoder in ``tests/test_jpeg.py`` (forward DCT + canonical Huffman built
in the test, so no golden bytes from any external tool are needed).
"""

from __future__ import annotations

import numpy as np

# natural index of the k-th coefficient in zigzag order (T.81 fig. 5):
# diagonal d = i+j; even diagonals run bottom-left→top-right (i desc)
ZIGZAG = np.array(
    sorted(
        range(64),
        key=lambda n: (
            (n >> 3) + (n & 7),
            (n >> 3) if ((n >> 3) + (n & 7)) % 2 else -(n >> 3),
        ),
    ),
    dtype=np.int64,
)


def dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix C: forward X = C x Cᵀ, inverse
    x = Cᵀ X C. Shared with the test encoder so round-trip error is pure
    quantization, not basis mismatch."""
    n = np.arange(8)
    k = n.reshape(8, 1)
    c = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2.0 / 8.0)
    c[0] *= np.sqrt(0.5)
    return c


_C = dct_matrix()


def _idct2(block: np.ndarray) -> np.ndarray:
    return _C.T @ block @ _C


class _Bits:
    """MSB-first bit reader over one entropy-coded segment."""

    def __init__(self, data: bytes):
        self.d = data
        self.p = 0

    def read(self, n: int) -> int:
        v = 0
        d, p = self.d, self.p
        if p + n > len(d) * 8:
            raise ValueError("truncated entropy segment")
        for _ in range(n):
            v = (v << 1) | ((d[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
        self.p = p
        return v

    def huff(self, table: dict) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.read(1)
            v = table.get((ln, code))
            if v is not None:
                return v
        raise ValueError("invalid Huffman code")


def huff_table(counts: list[int], vals: list[int]) -> dict:
    """Canonical Huffman decode table from the DHT BITS/HUFFVAL arrays:
    (length, code) → symbol. Same derivation as T.81 annex C — shared
    with the test encoder."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            table[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _extend(v: int, t: int) -> int:
    if t == 0:
        return 0
    return v - ((1 << t) - 1) if v < (1 << (t - 1)) else v


def _split_entropy(payload: bytes, dpos: int) -> tuple[list[bytes], int]:
    """Split one scan's entropy-coded data (starting at ``dpos``) into
    restart segments, un-stuffing 0xFF00. Returns (segments, position of
    the marker that terminated the scan)."""
    segs: list[bytearray] = [bytearray()]
    j = dpos
    n = len(payload)
    while j < n:
        b = payload[j]
        if b != 0xFF:
            segs[-1].append(b)
            j += 1
            continue
        nxt = payload[j + 1] if j + 1 < n else 0xD9
        if nxt == 0x00:
            segs[-1].append(0xFF)
            j += 2
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(bytearray())
            j += 2
        elif nxt == 0xFF:
            j += 1  # fill byte
        else:
            break  # EOI or next real marker terminates the scan
    return [bytes(s) for s in segs], j


def _decode_scan(payload, dpos, frame, scomps, qt, hdc, hac, dri, planes) -> int:
    """Decode ONE scan's MCUs into ``planes`` (keyed by component id);
    returns the payload position just past the scan's entropy data.
    DC predictors reset at scan start and at every restart (T.81 E.2.4 /
    F.2.1.3.1)."""
    segs, end = _split_entropy(payload, dpos)
    # differential (hierarchical) frames code signed DIFFERENCES: no
    # level shift (J.2); 128 @8-bit, 2048 @12 otherwise
    level = 0.0 if frame.get("differential") else float(1 << (frame.get("prec", 8) - 1))
    comps = frame["comps"]
    w, hgt = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    by_id = {c["id"]: c for c in comps}
    interleaved = len(scomps) > 1
    if interleaved:
        mcus_x = -(-w // (8 * hmax))
        mcus_y = -(-hgt // (8 * vmax))
        units = [(by_id[s["id"]], s, by_id[s["id"]]["h"], by_id[s["id"]]["v"]) for s in scomps]
    else:
        # non-interleaved: the scan's "MCU" is a single block of this
        # component, raster over the component's own block grid (T.81
        # A.2.2). The MCU-grid plane allocation always covers it (the
        # component block count never exceeds its MCU-grid padding).
        c = by_id[scomps[0]["id"]]
        cw = -(-(w * c["h"]) // hmax)
        ch = -(-(hgt * c["v"]) // vmax)
        mcus_x = -(-cw // 8)
        mcus_y = -(-ch // 8)
        units = [(c, scomps[0], 1, 1)]

    pred = {c["id"]: 0 for c in comps}
    seg_i = 0
    bits = _Bits(segs[0])
    total = mcus_x * mcus_y
    for mi in range(total):
        if dri and mi and mi % dri == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError("missing restart segment")
            bits = _Bits(segs[seg_i])
            pred = {c["id"]: 0 for c in comps}
        my, mx = divmod(mi, mcus_x)
        for c, s, hu, vu in units:
            q = qt[c["tq"]]
            dct = hdc[s["td"]]
            act = hac[s["ta"]]
            for v in range(vu):
                for hh in range(hu):
                    zig = np.zeros(64)
                    t = bits.huff(dct)
                    pred[c["id"]] += _extend(bits.read(t), t)
                    zig[0] = pred[c["id"]]
                    k = 1
                    while k < 64:
                        rs = bits.huff(act)
                        r, sz = rs >> 4, rs & 15
                        if sz == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC index overrun")
                        zig[k] = _extend(bits.read(sz), sz)
                        k += 1
                    nat = np.zeros(64)
                    nat[ZIGZAG] = zig
                    px = _idct2(nat.reshape(8, 8) * q) + level
                    y0 = (my * vu + v) * 8
                    x0 = (mx * hu + hh) * 8
                    planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = px
    return end


# T.81 Table D.3 — Qe values and probability-estimation state machine for
# the QM arithmetic coder. Entry: (Qe, NMPS, NLPS, SWITCH). Index 113 is
# the extra NON-ADAPTING state (NMPS = NLPS = itself, no switch) that
# F.1.4.3.1 prescribes for AC sign decisions, appended after the 113
# adaptive states exactly as common implementations do.
_QE = [
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
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1),
    (0x5A1D, 113, 113, 0),  # fixed (non-adapting) sign state
]


class _QMDecoder:
    """QM arithmetic decoder (T.81 annex D decoding procedures: DECODE
    with conditional MPS/LPS exchange per figures D.17-D.19, the Table
    D.3 state machine above, RENORMD byte feed). Operates over ONE
    restart segment's entropy bytes, already UN-stuffed by
    ``_split_entropy``; past the segment's end it feeds zero bytes — the
    marker-boundary convention of F.2.2.5, which also makes truncated
    streams decode deterministically instead of raising mid-block.

    Register conventions (documented because annex D admits several
    equivalent layouts): ``a`` is the 16-bit interval size (renormalized
    into [0x8000, 0x10000)), ``c`` a 32-bit window whose HIGH 16 bits
    hold the code-value offset at ``a``'s scale; new bytes enter at bits
    8-15 every 8 renorm shifts. The MPS sub-interval sits at the BOTTOM
    of [0, a) and conditional exchange hands the larger part to the more
    probable symbol when a-Qe < Qe. Each statistics bin is one byte,
    (mps << 7) | state-index, as in Table D.3's I/MPS pairing.

    Bitstream compatibility is proven by round-trip against the repo's
    own mirror-image encoder (tests/test_jpeg.py::encode_jpeg_arith) —
    same epistemic basis as every other from-scratch codec here; no
    external golden files exist in this environment."""

    def __init__(self, data: bytes):
        self.d = data
        self.p = 0
        b0, b1, b2 = self._byte(), self._byte(), self._byte()
        self.c = (b0 << 24) | (b1 << 16) | (b2 << 8)
        self.ct = 8
        self.a = 0x10000

    def _byte(self) -> int:
        if self.p < len(self.d):
            b = self.d[self.p]
            self.p += 1
            return b
        return 0

    def decode(self, st: bytearray, k: int) -> int:
        sv = st[k]
        qe, nmps, nlps, switch = _QE[sv & 0x7F]
        mps = sv >> 7
        a = self.a - qe
        if (self.c >> 16) < a:
            if a & 0x8000:  # no renorm → no state transition (D.17)
                self.a = a
                return mps
            if a < qe:  # conditional MPS exchange
                d = 1 - mps
                if switch:
                    mps ^= 1
                st[k] = (mps << 7) | nlps
            else:
                d = mps
                st[k] = (mps << 7) | nmps
        else:
            self.c -= a << 16
            if a < qe:  # conditional LPS exchange
                d = mps
                st[k] = (mps << 7) | nmps
            else:
                d = 1 - mps
                if switch:
                    mps ^= 1
                st[k] = (mps << 7) | nlps
            a = qe
        while True:  # RENORMD
            if self.ct == 0:
                self.c |= self._byte() << 8
                self.ct = 8
            a <<= 1
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if a & 0x8000:
                break
        self.a = a
        return d


def _arith_decode_mag(dec, st, base_k, m, cap):
    """Shared tail of the DC/AC magnitude trees (figures F.23/F.24):
    widen the category by doubling ``m`` while the X bins say 'bigger'
    (bins base_k, base_k+1, ...), then read the low magnitude bits from
    the matching M bin at +14. Returns the reconstructed value v ≥ 1."""
    k = base_k
    while dec.decode(st, k):
        m <<= 1
        if m == cap:
            raise ValueError("arithmetic magnitude overflow (corrupt scan)")
        k += 1
    v = m
    k += 14
    while m > 1:
        m >>= 1
        if dec.decode(st, k):
            v |= m
    return v + 1


def _arith_dc_diff(dec, dst, ctx, u_dc, l_dc):
    """Decode ONE DC difference through the F.2.2.1 tree (zero / sign /
    magnitude decisions at the 4-bin context ``ctx``, X/M chains at bin
    20) and classify it against the DAC thresholds for the NEXT block's
    conditioning. Returns (diff, next_context)."""
    if dec.decode(dst, ctx) == 0:
        return 0, 0
    sign = dec.decode(dst, ctx + 1)
    if dec.decode(dst, ctx + 2 + sign) == 0:
        m, val = 0, 1
    else:
        val = _arith_decode_mag(dec, dst, 20, 1, 0x8000)
        # diff category = top power of two of val-1; conditioning
        # classifies on it (F.1.4.4.1.2)
        m = 1 << ((val - 1).bit_length() - 1)
    if m < (1 << l_dc) >> 1:
        nctx = 0
    elif m > (1 << u_dc) >> 1:
        nctx = 12 + sign * 4
    else:
        nctx = 4 + sign * 4
    return (-val if sign else val), nctx


def _arith_ac_value(dec, ast, fixed, b, k, kx):
    """Decode ONE nonzero AC coefficient's sign and magnitude (the tail
    of the F.2.2.2 tree after the zero-run walk): sign through the fixed
    state, two low-magnitude decisions at bin b+2, then the Kx-split
    X/M chains. Returns the signed value."""
    sign = dec.decode(fixed, 0)
    if dec.decode(ast, b + 2) == 0:
        val = 1
    elif dec.decode(ast, b + 2) == 0:
        val = 2
    else:
        val = _arith_decode_mag(dec, ast, 189 if k <= kx else 217, 2, 0x8000)
    return -val if sign else val


def _decode_scan_arith(
    payload, dpos, frame, scomps, qt, dc_cond, ac_cond, dri, planes
) -> int:
    """Decode ONE sequential-DCT scan with ARITHMETIC entropy coding
    (SOF9) into ``planes``, per T.81 F.2.2 — returns the payload
    position just past the scan's entropy data.

    DC differences condition on the PREVIOUS diff's classification
    (zero / small± / large± against the DAC thresholds (1<<L)>>1 and
    (1<<U)>>1), five 4-bin contexts at the front of a 64-bin statistics
    area plus X/M magnitude chains at bin 20 (Table F.4 layout). AC
    coefficients walk the EOB / zero-run / magnitude decision tree over
    3 bins per zigzag index, with the high-magnitude X chain split at
    Kx into low- and high-spectrum bins (189 / 217, Table F.5); AC signs
    use the fixed non-adapting state. Statistics areas are keyed by the
    scan's conditioning-table ids (td/ta), so components sharing a table
    share adaptation, as the spec intends. Every restart interval
    re-initializes the QM decoder, ALL statistics, the DC contexts and
    the DC predictions (E.2.4).

    Reference analog: the reference ingests INSEE-published assets whose
    formats it must parse exactly as published (internal/cog/parse.go);
    here the training-data media column gets the same treatment for
    JPEG's arithmetic entropy option."""
    segs, end = _split_entropy(payload, dpos)
    level = 0.0 if frame.get("differential") else float(1 << (frame.get("prec", 8) - 1))
    comps = frame["comps"]
    w, hgt = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    by_id = {c["id"]: c for c in comps}
    if len(scomps) > 1:
        mcus_x = -(-w // (8 * hmax))
        mcus_y = -(-hgt // (8 * vmax))
        units = [
            (by_id[s["id"]], s, by_id[s["id"]]["h"], by_id[s["id"]]["v"])
            for s in scomps
        ]
    else:
        c = by_id[scomps[0]["id"]]
        cw = -(-(w * c["h"]) // hmax)
        ch = -(-(hgt * c["v"]) // vmax)
        mcus_x = -(-cw // 8)
        mcus_y = -(-ch // 8)
        units = [(c, scomps[0], 1, 1)]

    def fresh_state():
        return (
            {s["td"]: bytearray(64) for s in scomps},
            {s["ta"]: bytearray(256) for s in scomps},
            bytearray([113]),  # fixed sign bin
            {c["id"]: 0 for c in comps},  # dc context per component
            {c["id"]: 0 for c in comps},  # dc prediction per component
        )

    dc_stats, ac_stats, fixed, dc_ctx, pred = fresh_state()
    seg_i = 0
    dec = _QMDecoder(segs[0])
    for mi in range(mcus_x * mcus_y):
        if dri and mi and mi % dri == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError("missing restart segment")
            dec = _QMDecoder(segs[seg_i])
            dc_stats, ac_stats, fixed, dc_ctx, pred = fresh_state()
        my, mx = divmod(mi, mcus_x)
        for c, s, hu, vu in units:
            q = qt[c["tq"]]
            dst = dc_stats[s["td"]]
            ast = ac_stats[s["ta"]]
            u_dc, l_dc = dc_cond.get(s["td"], (1, 0))
            kx = ac_cond.get(s["ta"], 5)
            cid = c["id"]
            for v in range(vu):
                for hh in range(hu):
                    zig = np.zeros(64)
                    # ---- DC (F.2.2.1, Table F.4) ----
                    diff, dc_ctx[cid] = _arith_dc_diff(
                        dec, dst, dc_ctx[cid], u_dc, l_dc
                    )
                    pred[cid] += diff
                    zig[0] = pred[cid]
                    # ---- AC (F.2.2.2, Table F.5) ----
                    k = 1
                    while k <= 63:
                        b = 3 * (k - 1)
                        if dec.decode(ast, b):  # EOB
                            break
                        while dec.decode(ast, b + 1) == 0:
                            k += 1
                            if k > 63:
                                raise ValueError("AC index overrun")
                            b = 3 * (k - 1)
                        zig[k] = _arith_ac_value(dec, ast, fixed, b, k, kx)
                        k += 1
                    nat = np.zeros(64)
                    nat[ZIGZAG] = zig
                    px = _idct2(nat.reshape(8, 8) * q) + level
                    y0 = (my * vu + v) * 8
                    x0 = (mx * hu + hh) * 8
                    planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = px
    return end


def _decode_scan_arith_prog(
    payload, dpos, frame, scomps, dc_cond, ac_cond, dri, coefs, Ss, Se, Ah, Al
) -> int:
    """Decode ONE progressive scan with ARITHMETIC coding (SOF10) into
    the zigzag coefficient arrays, per the annex-G arithmetic decision
    trees (the G.2 decoding procedures over the same QM coder):

    - DC first (Ss=0, Ah=0): the sequential F.2.2.1 tree at reduced
      precision; predictions accumulate the shifted values and the
      coefficient lands as pred << Al.
    - DC refinement: one decision per block through the FIXED
      non-adapting state appends bit Al (two's-complement OR, exactly
      the Huffman path's semantics).
    - AC first: the sequential F.2.2.2 tree bounded to Ss..Se; the EOB
      decision is PER BLOCK at each k — arithmetic coding has no EOB
      run-lengths, the adaptive EOB bin replaces them.
    - AC refinement: per coefficient — an already-nonzero coefficient
      takes a correction-bit decision at its SP bin (3(k-1)+2); a
      zero-history coefficient takes a newly-nonzero decision at its S0
      bin (3(k-1)+1) with the sign through the fixed state; the EOB
      decision guards only positions past the PREVIOUS stage's
      end-of-block index kex.

    Restart intervals re-initialize the QM decoder, all statistics and
    the DC contexts/predictions. Statistics are fresh per scan (G.1.3)."""
    segs, end = _split_entropy(payload, dpos)
    comps = frame["comps"]
    w, hgt = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    by_id = {c["id"]: c for c in comps}
    p1 = 1 << Al
    m1 = -(1 << Al)

    if Ss == 0:
        if Se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        interleaved = len(scomps) > 1
        if interleaved:
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-hgt // (8 * vmax))
            units = [
                (by_id[s["id"]], s, by_id[s["id"]]["h"], by_id[s["id"]]["v"])
                for s in scomps
            ]
        else:
            c = by_id[scomps[0]["id"]]
            cw = -(-(w * c["h"]) // hmax)
            ch = -(-(hgt * c["v"]) // vmax)
            mcus_x = -(-cw // 8)
            mcus_y = -(-ch // 8)
            units = [(c, scomps[0], 1, 1)]

        def fresh_dc():
            return (
                _QMDecoder(segs[seg_i]),
                {s["td"]: bytearray(64) for s in scomps},
                bytearray([113]),
                {c["id"]: 0 for c in comps},
                {c["id"]: 0 for c in comps},
            )

        seg_i = 0
        dec, dc_stats, fixed, dc_ctx, pred = fresh_dc()
        for mi in range(mcus_x * mcus_y):
            if dri and mi and mi % dri == 0:
                seg_i += 1
                if seg_i >= len(segs):
                    raise ValueError("missing restart segment")
                dec, dc_stats, fixed, dc_ctx, pred = fresh_dc()
            my, mx = divmod(mi, mcus_x)
            for c, s, hu, vu in units:
                blocks = coefs[c["id"]]
                cid = c["id"]
                u_dc, l_dc = dc_cond.get(s["td"], (1, 0))
                for v in range(vu):
                    for hh in range(hu):
                        bY, bX = my * vu + v, mx * hu + hh
                        if Ah == 0:
                            diff, dc_ctx[cid] = _arith_dc_diff(
                                dec, dc_stats[s["td"]], dc_ctx[cid], u_dc, l_dc
                            )
                            pred[cid] += diff
                            blocks[bY, bX, 0] = pred[cid] << Al
                        else:
                            if dec.decode(fixed, 0):
                                blocks[bY, bX, 0] |= p1
        return end

    # ---- AC scan: exactly one component, block-raster over its grid
    if len(scomps) != 1:
        raise ValueError("progressive AC scan must be single-component (G.1.1.1.1)")
    c = by_id[scomps[0]["id"]]
    ta = scomps[0]["ta"]
    kx = ac_cond.get(ta, 5)
    cw = -(-(w * c["h"]) // hmax)
    ch = -(-(hgt * c["v"]) // vmax)
    bxs = -(-cw // 8)
    bys = -(-ch // 8)
    blocks = coefs[c["id"]]
    seg_i = 0
    dec = _QMDecoder(segs[0])
    ast = bytearray(256)
    fixed = bytearray([113])
    for bi in range(bxs * bys):
        if dri and bi and bi % dri == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError("missing restart segment")
            dec = _QMDecoder(segs[seg_i])
            ast = bytearray(256)
            fixed = bytearray([113])
        bY, bX = divmod(bi, bxs)
        coef = blocks[bY, bX]
        if Ah == 0:  # AC first pass: value = sign * (decoded << Al)
            k = Ss
            while k <= Se:
                b = 3 * (k - 1)
                if dec.decode(ast, b):  # EOB
                    break
                while dec.decode(ast, b + 1) == 0:
                    k += 1
                    if k > Se:
                        raise ValueError("AC index overrun in progressive scan")
                    b = 3 * (k - 1)
                coef[k] = _arith_ac_value(dec, ast, fixed, b, k, kx) << Al
                k += 1
        else:  # AC refinement
            kex = Se
            while kex > 0 and coef[kex] == 0:
                kex -= 1
            k = Ss
            while k <= Se:
                b = 3 * (k - 1)
                if k > kex and dec.decode(ast, b):
                    break  # EOB: prior-stage-silent tail stays untouched
                while True:
                    if coef[k] != 0:
                        if dec.decode(ast, b + 2):
                            coef[k] += m1 if coef[k] < 0 else p1
                        break
                    if dec.decode(ast, b + 1):
                        coef[k] = m1 if dec.decode(fixed, 0) else p1
                        break
                    k += 1
                    if k > Se:
                        raise ValueError("AC index overrun in progressive scan")
                    b = 3 * (k - 1)
                k += 1
    return end


def _decode_scan_progressive(
    payload, dpos, frame, scomps, hdc, hac, dri, coefs, Ss, Se, Ah, Al
) -> int:
    """Decode ONE progressive scan (T.81 annex G decoding procedures)
    into the per-component COEFFICIENT arrays ``coefs`` (zigzag-indexed,
    accumulated across scans; IDCT happens once at EOI). Returns the
    payload position just past the scan's entropy data.

    Shapes handled: DC first/refinement scans (interleaved or single
    component; arithmetic-shift successive approximation), AC
    first/refinement scans (single component only, per G.1.1.1.1;
    magnitude-shift successive approximation, EOB run-lengths across
    blocks). Restart markers reset DC predictors AND the EOB run."""
    segs, end = _split_entropy(payload, dpos)
    comps = frame["comps"]
    w, hgt = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    by_id = {c["id"]: c for c in comps}
    p1 = 1 << Al
    m1 = -(1 << Al)

    if Ss == 0:
        if Se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        interleaved = len(scomps) > 1
        if interleaved:
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-hgt // (8 * vmax))
            units = [
                (by_id[s["id"]], s, by_id[s["id"]]["h"], by_id[s["id"]]["v"])
                for s in scomps
            ]
        else:
            c = by_id[scomps[0]["id"]]
            cw = -(-(w * c["h"]) // hmax)
            ch = -(-(hgt * c["v"]) // vmax)
            mcus_x = -(-cw // 8)
            mcus_y = -(-ch // 8)
            units = [(c, scomps[0], 1, 1)]
        pred = {c["id"]: 0 for c in comps}
        seg_i = 0
        bits = _Bits(segs[0])
        for mi in range(mcus_x * mcus_y):
            if dri and mi and mi % dri == 0:
                seg_i += 1
                if seg_i >= len(segs):
                    raise ValueError("missing restart segment")
                bits = _Bits(segs[seg_i])
                pred = {c["id"]: 0 for c in comps}
            my, mx = divmod(mi, mcus_x)
            for c, s, hu, vu in units:
                blocks = coefs[c["id"]]
                for v in range(vu):
                    for hh in range(hu):
                        bY, bX = my * vu + v, mx * hu + hh
                        if Ah == 0:  # DC first: diff-decode, value << Al
                            t = bits.huff(hdc[s["td"]])
                            pred[c["id"]] += _extend(bits.read(t), t)
                            blocks[bY, bX, 0] = pred[c["id"]] << Al
                        else:  # DC refinement: append bit Al (two's-compl OR)
                            if bits.read(1):
                                blocks[bY, bX, 0] |= p1
        return end

    # ---- AC scan: exactly one component, block-raster over its grid
    if len(scomps) != 1:
        raise ValueError("progressive AC scan must be single-component (G.1.1.1.1)")
    c = by_id[scomps[0]["id"]]
    act = hac[scomps[0]["ta"]]
    cw = -(-(w * c["h"]) // hmax)
    ch = -(-(hgt * c["v"]) // vmax)
    bxs = -(-cw // 8)
    bys = -(-ch // 8)
    blocks = coefs[c["id"]]
    seg_i = 0
    bits = _Bits(segs[0])
    eobrun = 0
    for bi in range(bxs * bys):
        if dri and bi and bi % dri == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError("missing restart segment")
            bits = _Bits(segs[seg_i])
            eobrun = 0
        bY, bX = divmod(bi, bxs)
        coef = blocks[bY, bX]
        if Ah == 0:  # AC first pass (G: value = sign * (|v| >> Al), sent << Al)
            if eobrun > 0:
                eobrun -= 1
                continue
            k = Ss
            while k <= Se:
                rs = bits.huff(act)
                r, sz = rs >> 4, rs & 15
                if sz == 0:
                    if r == 15:  # ZRL: 16 zeros
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += bits.read(r)
                    break
                k += r
                if k > Se:
                    raise ValueError("AC index overrun in progressive scan")
                coef[k] = _extend(bits.read(sz), sz) << Al
                k += 1
        else:  # AC refinement (the IJG decode_mcu_AC_refine structure)
            k = Ss
            if eobrun == 0:
                while k <= Se:
                    rs = bits.huff(act)
                    r, sz = rs >> 4, rs & 15
                    newval = 0
                    if sz == 0:
                        if r != 15:  # EOBn: run of blocks, corrections still read
                            eobrun = 1 << r
                            if r:
                                eobrun += bits.read(r)
                            break
                        # r == 15: skip 16 zero-history coefficients
                    else:
                        if sz != 1:
                            raise ValueError("bad AC refinement symbol")
                        newval = p1 if bits.read(1) else m1
                    while k <= Se:
                        if coef[k] != 0:
                            # correction bit for an already-nonzero coeff
                            if bits.read(1) and (abs(coef[k]) & p1) == 0:
                                coef[k] += p1 if coef[k] > 0 else m1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= Se:
                        coef[k] = newval
                    k += 1
            if eobrun > 0:
                while k <= Se:  # corrections through the rest of the band
                    if coef[k] != 0:
                        if bits.read(1) and (abs(coef[k]) & p1) == 0:
                            coef[k] += p1 if coef[k] > 0 else m1
                    k += 1
                eobrun -= 1
    return end


def _decode_scan_lossless(
    payload, dpos, frame, scomps, hdc, dri, planes, predictor, pt
) -> int:
    """Decode ONE lossless (SOF3) scan per T.81 annex H into ``planes``
    (flat Python int lists keyed by component id, row stride = the
    component's PADDED width); returns the payload position just past
    the scan's entropy data.

    Sample reconstruction: Huffman-decode the difference CATEGORY with
    the component's DC table (SSSS 0..16; 16 means diff = 32768 with no
    extra bits, H.2.3), extend SSSS magnitude bits to a signed diff,
    add the prediction modulo 2^16 (H.1.2.1). Prediction rules (H.1.2.2)
    run per COMPONENT on its own sample grid and treat each RESTART
    INTERVAL like the start of the scan: the component's first sample
    of the interval predicts from the default 2^(P−Pt−1); the remainder
    of that component-plane ROW predicts from Ra (left) — the 1-D
    predictor, NOT the scan-selected one, even mid-image (round-5
    review finding: keying this off absolute y==0 desynced from
    spec-compliant encoders after every mid-image RSTn); the first
    sample of every later row (column 0) predicts from Rb (above);
    everywhere else the scan-header-selected predictor 1–7 over
    (Ra, Rb, Rc) applies.

    Geometry (round-5 session 4 — subsampling support): a
    single-component scan is NON-interleaved (A.2.2) — the data unit is
    one sample and the scan covers that component's xi×yi samples in
    raster order on its own grid, no padding, restart interval counted
    in samples. A multi-component scan is sample-interleaved (A.2.3):
    the MCU grid is ceil(X/Hmax) × ceil(Y/Vmax); each MCU carries, per
    component in scan order, its Hi×Vi-sample region in raster order;
    components whose xi/yi don't divide by Hi/Vi decode into padded
    rows/cols that the caller crops at output. The pre-existing 1×1
    behavior is exactly this machinery with Hi=Vi=1 (MCU grid = X×Y,
    one sample per component per MCU)."""
    if frame.get("differential"):
        if predictor != 0:  # J.1.1: no spatial prediction of differences
            raise ValueError("differential lossless scan must have Ss=0")
    elif not 1 <= predictor <= 7:
        raise ValueError(f"lossless predictor {predictor} (Ss must be 1-7)")
    segs, nd = _split_entropy(payload, dpos)
    prec = frame["prec"]
    default = 1 << (prec - pt - 1)
    dims = frame["ldims"]  # cid -> (xi, yi, padded_w, padded_h)

    # per-scan-component decode geometry: (plane, stride, table)
    info = [
        (planes[s["id"]], dims[s["id"]][2], hdc[s["td"]]) for s in scomps
    ]
    units = _lossless_units(frame, scomps, dims)

    mcu, total = 0, len(units)
    for seg in segs:
        bits = _Bits(seg)
        seg_start = mcu  # each restart interval restarts the DPCM chain
        # the interval's first ROW per scan component: samples on that
        # row (after the component's first) predict from Ra; lower rows
        # of the same first MCU row already use the normal rules
        first_row = {
            u[2]: u[0]
            for u in (units[seg_start] if seg_start < total else [])
            if u[3]
        }
        end = min(total, mcu + dri) if dri else total
        while mcu < end:
            for r, c, k, first_in_region in units[mcu]:
                plane, stride, table = info[k]
                ssss = bits.huff(table)
                if ssss == 16:
                    diff = 32768
                else:
                    diff = _extend(bits.read(ssss), ssss) if ssss else 0
                pos = r * stride + c
                px = _lossless_predict(
                    plane, stride, r, c, pos, predictor,
                    mcu == seg_start and first_in_region,
                    r == first_row[k], default,
                )
                plane[pos] = (px + diff) & 0xFFFF  # mod 2^16 (H.1.2.1)
            mcu += 1
    return nd


def _lossless_units(frame, scomps, dims):
    """The MCU sample walk of one lossless scan, shared by the Huffman
    and arithmetic scan decoders: a list of MCUs, each a list of
    (row, col, scan_comp_idx, first_in_region) tuples. A
    single-component scan is NON-interleaved (A.2.2: one sample per MCU
    on the component's own unpadded xi×yi grid); a multi-component scan
    is sample-interleaved (A.2.3: per MCU, each component's Hi×Vi
    region in raster order on its MCU-padded grid)."""
    if len(scomps) == 1:
        xi = dims[scomps[0]["id"]][0]
        yi = dims[scomps[0]["id"]][1]
        return [[(m // xi, m % xi, 0, True)] for m in range(xi * yi)]
    by_id = {c["id"]: c for c in frame["comps"]}
    mcux = -(-frame["w"] // max(c["h"] for c in frame["comps"]))
    mcuy = -(-frame["h"] // max(c["v"] for c in frame["comps"]))
    units = []
    for m in range(mcux * mcuy):
        mr, mc = divmod(m, mcux)
        unit = []
        for k, s in enumerate(scomps):
            fc = by_id[s["id"]]
            for v in range(fc["v"]):
                for hh in range(fc["h"]):
                    unit.append(
                        (mr * fc["v"] + v, mc * fc["h"] + hh, k,
                         v == 0 and hh == 0)
                    )
        units.append(unit)
    return units


def _lossless_predict(
    plane, stride, r, c, pos, predictor, seg_first, on_first_row, default
):
    """H.1.2.2 prediction for one sample (boundary rules included):
    the component's first sample of a restart interval predicts from
    the default 2^(P−Pt−1); the rest of that first row from Ra; column
    0 from Rb; everywhere else the scan-selected predictor 1-7.
    Predictor 0 (legal ONLY in differential hierarchical frames) means
    NO prediction — the coded value is the difference itself."""
    if predictor == 0:
        return 0
    if seg_first:
        return default  # component's first interval sample (H.2.2)
    if on_first_row:
        return plane[pos - 1]  # Ra on the interval's first row
    if c == 0:
        return plane[pos - stride]  # Rb only on column 0
    ra = plane[pos - 1]
    rb = plane[pos - stride]
    if predictor == 1:
        return ra
    if predictor == 2:
        return rb
    if predictor == 3:
        return plane[pos - stride - 1]
    if predictor == 4:
        return ra + rb - plane[pos - stride - 1]
    if predictor == 5:
        return ra + ((rb - plane[pos - stride - 1]) >> 1)
    if predictor == 6:
        return rb + ((ra - plane[pos - stride - 1]) >> 1)
    return (ra + rb) >> 1  # predictor 7 (range checked at scan entry)


def _lossless_q(diff, u, low):
    """5-way conditioning classification of a neighbouring difference —
    the F.1.4.4.1.2 DC classification applied to Da/Db per H.1.2.3:
    0 zero, 1 small+, 2 small−, 3 large+, 4 large− against the DAC
    thresholds (default U=1, L=0)."""
    if diff == 0:
        return 0
    v = abs(diff)
    m = 0 if v == 1 else 1 << ((v - 1).bit_length() - 1)
    if m < (1 << low) >> 1:
        return 0
    sign = 1 if diff < 0 else 0
    if m > (1 << u) >> 1:
        return 3 + sign
    return 1 + sign


def _arith_lossless_diff(dec, st, ctx, chain):
    """Decode ONE lossless difference through the H.1.2.3 tree: the
    F.2.2.1-shaped zero / sign / magnitude>1 decisions at the 4-bin
    context ``ctx``, X/M magnitude chains at ``chain``. Returns the
    signed difference (mod-2^16 representative, |diff| ≤ 32768)."""
    if dec.decode(st, ctx) == 0:
        return 0
    sign = dec.decode(st, ctx + 1)
    if dec.decode(st, ctx + 2 + sign) == 0:
        v = 1
    else:
        v = _arith_decode_mag(dec, st, chain, 1, 0x8000)
    return -v if sign else v


def _decode_scan_lossless_arith(
    payload, dpos, frame, scomps, dc_cond, dri, planes, predictor, pt
) -> int:
    """Decode ONE lossless ARITHMETIC (SOF11) scan into ``planes``.

    Same prediction, geometry and mod-2^16 reconstruction as the
    Huffman path (``_decode_scan_lossless``); the difference coding is
    the annex-H two-dimensional statistical model over the QM coder
    (H.1.2.3): each difference is decoded through a zero / sign /
    magnitude>1 / X-M tree (the F.2.2.1 DC tree shape) whose 4-bin
    context is selected by the 5-way classifications of the differences
    at the LEFT (Da) and ABOVE (Db) neighbours — 25 contexts × 4 bins —
    with TWO X/M magnitude chains selected by Db's class (zero/small vs
    large), a 158-bin statistics area per conditioning table. Bin
    packing pinned here (and by the mirror encoder): context base =
    4·(5·Q(Da) + Q(Db)), chains at 100 and 129; neighbours outside the
    image or belonging to an earlier restart interval classify as zero.
    Restart intervals re-initialize the QM decoder, the statistics and
    the conditioning history. As with every arithmetic mode here,
    bitstream compatibility is proven by round-trip against the repo's
    mirror encoder (no external golden SOF11 files exist — virtually no
    encoder ever produced this mode)."""
    if frame.get("differential"):
        if predictor != 0:  # J.1.1: no spatial prediction of differences
            raise ValueError("differential lossless scan must have Ss=0")
    elif not 1 <= predictor <= 7:
        raise ValueError(f"lossless predictor {predictor} (Ss must be 1-7)")
    segs, nd = _split_entropy(payload, dpos)
    prec = frame["prec"]
    default = 1 << (prec - pt - 1)
    dims = frame["ldims"]

    info = [(planes[s["id"]], dims[s["id"]][2], s["td"]) for s in scomps]
    units = _lossless_units(frame, scomps, dims)
    # per-scan-component class planes (same flat layout as the sample
    # planes) holding each decoded difference's 5-way classification
    cls = [bytearray(len(i[0])) for i in info]

    mcu, total = 0, len(units)
    seg_i = -1
    for seg in segs:
        seg_i += 1
        dec = _QMDecoder(seg)
        stats = {td: bytearray(158) for td in {i[2] for i in info}}
        if seg_i:  # conditioning history resets with the interval
            for cl in cls:
                cl[:] = bytes(len(cl))
        seg_start = mcu
        first_row = {
            u[2]: u[0]
            for u in (units[seg_start] if seg_start < total else [])
            if u[3]
        }
        end = min(total, mcu + dri) if dri else total
        while mcu < end:
            for r, c, k, first_in_region in units[mcu]:
                plane, stride, td = info[k]
                u_dc, l_dc = dc_cond.get(td, (1, 0))
                pos = r * stride + c
                qa = cls[k][pos - 1] if c > 0 else 0
                qb = cls[k][pos - stride] if r > 0 else 0
                diff = _arith_lossless_diff(
                    dec, stats[td], 4 * (5 * qa + qb),
                    100 if qb < 3 else 129,
                )
                cls[k][pos] = _lossless_q(diff, u_dc, l_dc)
                px = _lossless_predict(
                    plane, stride, r, c, pos, predictor,
                    mcu == seg_start and first_in_region,
                    r == first_row[k], default,
                )
                plane[pos] = (px + diff) & 0xFFFF  # mod 2^16 (H.1.2.1)
            mcu += 1
    return nd


def _idct_all(coefs: np.ndarray, q: np.ndarray, level: float = 128.0) -> np.ndarray:
    """Dequantize + de-zigzag + IDCT a (by, bx, 64) zigzag-coefficient
    array into a (by*8, bx*8) pixel plane (vectorized over blocks)."""
    by, bx, _ = coefs.shape
    nat = np.zeros((by, bx, 64))
    nat[:, :, ZIGZAG] = coefs
    blocks = nat.reshape(by, bx, 8, 8) * q
    px = np.einsum("ij,abjk,kl->abil", _C.T, blocks, _C) + level
    return px.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)


def _exp_upsample(a: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """J.1.1.2 reference expansion: double a dimension by replicating
    input samples at even output positions and rounded two-neighbour
    averages at odd ones; the final odd sample replicates the edge."""
    a = np.asarray(a, dtype=np.int64)
    if eh:
        out = np.empty((a.shape[0], a.shape[1] * 2), dtype=np.int64)
        out[:, 0::2] = a
        out[:, 1:-1:2] = (a[:, :-1] + a[:, 1:] + 1) >> 1
        out[:, -1] = a[:, -1]
        a = out
    if ev:
        out = np.empty((a.shape[0] * 2, a.shape[1]), dtype=np.int64)
        out[0::2, :] = a
        out[1:-1:2, :] = (a[:-1, :] + a[1:, :] + 1) >> 1
        out[-1, :] = a[-1, :]
        a = out
    return a


def _finalize_hier_frame(frame, planes, coefs, covered, qt, refs) -> None:
    """Fold ONE completed hierarchical frame into the integer reference
    planes (J.2): a non-differential frame REPLACES its components'
    references; a differential frame ADDS its decoded differences —
    clamped to [0, 2^P−1] for DCT-based frames, modulo 2^16 for
    lossless ones. DCT pixel output is rounded half-up to integers
    (frame reconstruction is integer-sample per J.2; the rounded
    reference is what the next differential frame was coded against)."""
    missing = [c["id"] for c in frame["comps"] if c["id"] not in covered]
    if missing:
        raise ValueError(
            f"no scan covered component id(s) {missing} (truncated file)"
        )
    comps = frame["comps"]
    w, hgt = frame["w"], frame["h"]
    prec = frame["prec"]
    if frame.get("lossless"):
        shift = 1 << frame.get("pt", 0)
        for c in comps:
            xi, yi, pw, ph = frame["ldims"][c["id"]]
            arr = (
                np.asarray(planes[c["id"]], dtype=np.int64)
                .reshape(ph, pw)[:yi, :xi]
                * shift
            )
            if frame.get("differential"):
                refs[c["id"]] = (refs[c["id"]] + arr) & 0xFFFF
            else:
                refs[c["id"]] = arr
        return
    if frame["progressive"]:
        for c in comps:
            planes[c["id"]] = _idct_all(
                coefs[c["id"]], qt[c["tq"]],
                0.0 if frame.get("differential") else float(1 << (prec - 1)),
            )
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    maxv = (1 << prec) - 1
    for c in comps:
        cw = -(-(w * c["h"]) // hmax)
        ch = -(-(hgt * c["v"]) // vmax)
        px = np.floor(planes[c["id"]][:ch, :cw] + 0.5).astype(np.int64)
        if frame.get("differential"):
            refs[c["id"]] = np.clip(refs[c["id"]] + px, 0, maxv)
        else:
            refs[c["id"]] = np.clip(px, 0, maxv)


def decode_jpeg(payload: bytes, with_precision: bool = False):
    """Decode a baseline OR progressive JPEG → (width, height, [planes]).

    Planes are float64 arrays in the frame's NATIVE sample range
    ([0, 2^P − 1]: 255 for 8-bit, 4095 for 12-bit, up to 65535 for
    lossless) at each component's CODED resolution (chroma stays
    subsampled — callers upsample if they need RGB; the gray path needs
    only plane 0). Native range keeps round-trips bit-exact; the
    [0, 255] gray contract is applied by :func:`decode_jpeg_gray`.
    ``with_precision=True`` appends the frame precision P to the tuple.

    Handles MULTIPLE scans: a baseline file may code its components as
    one interleaved scan OR as one scan per component (plus new DHT/DRI
    segments between scans) — the loop decodes every SOS until EOI, and
    a component no scan covered raises instead of silently returning an
    all-zero plane (reviewer finding: the old single-SOS parse fabricated
    zero chroma for non-interleaved color files).

    PROGRESSIVE (SOF2) files decode too (round 4 — closes the last
    common codec seam): scans accumulate zigzag coefficients per block
    (spectral selection Ss..Se, successive approximation Ah/Al, EOB
    run-lengths, DC/AC refinement passes per T.81 annex G), and the IDCT
    runs once at EOI over the final coefficients — so a fully-received
    progressive file decodes EXACTLY like its sequential twin. Coverage
    rule for progressive: every component needs a DC scan (AC-less
    previews are legal). ARITHMETIC frames (SOF9/10/11) decode via the
    QM coder (round-5 session 4; DAC conditioning honored), and
    HIERARCHICAL streams (DHP/EXP + differential frames SOF5/6/7 and
    SOF13/14/15) fold per-frame reconstructions into integer reference
    planes per annex J — every T.81 coding process decodes."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    hdc: dict[int, dict] = {}
    hac: dict[int, dict] = {}
    dc_cond: dict[int, tuple] = {}  # DAC: table id -> (U, L), default (1, 0)
    ac_cond: dict[int, int] = {}  # DAC: table id -> Kx, default 5
    frame = None
    dri = 0
    i = 2
    planes: dict[int, np.ndarray] = {}
    coefs: dict[int, np.ndarray] = {}
    covered: set[int] = set()
    hier = None  # DHP header when the stream is hierarchical (annex J)
    refs: dict[int, np.ndarray] = {}  # integer reference planes per comp
    pending_exp = None  # (Eh, Ev) from an EXP segment, applied at next SOF
    while i + 2 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"marker sync lost at {i}")
        m = payload[i + 1]
        if m == 0xFF:  # fill byte before a marker
            i += 1
            continue
        if m == 0xD9:  # EOI
            break
        if m in (0x01,) or 0xD0 <= m <= 0xD7:  # TEM / stray RST
            i += 2
            continue
        if i + 4 > len(payload):
            break  # truncated trailing marker
        ln = int.from_bytes(payload[i + 2 : i + 4], "big")
        seg = payload[i + 4 : i + 2 + ln]
        i += 2 + ln
        if m == 0xDB:  # DQT — possibly several tables per segment
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    vals = np.frombuffer(seg[p : p + 128], ">u2").astype(np.float64)
                    p += 128
                else:
                    vals = np.frombuffer(seg[p : p + 64], np.uint8).astype(np.float64)
                    p += 64
                q = np.zeros(64)
                q[ZIGZAG] = vals  # DQT stores zigzag order → natural
                qt[tq] = q.reshape(8, 8)
        elif m == 0xC4:  # DHT — possibly several tables per segment
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                counts = list(seg[p + 1 : p + 17])
                nv = sum(counts)
                vals = list(seg[p + 17 : p + 17 + nv])
                (hdc if tc == 0 else hac)[th] = huff_table(counts, vals)
                p += 17 + nv
        elif m in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xCB,
                   0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            # SOF0/1 seq-Huffman, SOF2 prog, SOF3 lossless, SOF9/10/11
            # sequential/progressive/lossless arithmetic — plus their
            # DIFFERENTIAL twins SOF5/6/7 (Huffman) and SOF13/14/15
            # (arithmetic) inside a hierarchical stream (annex J)
            differential = m in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF)
            if differential and hier is None:
                raise ValueError("differential frame without a DHP segment")
            if frame is not None:
                if hier is None:
                    raise ValueError("second frame without a DHP segment")
                _finalize_hier_frame(frame, planes, coefs, covered, qt, refs)
                planes, coefs, covered = {}, {}, set()
            prec = seg[0]
            lossless = m in (0xC3, 0xCB, 0xC7, 0xCF)
            if lossless:
                if not 2 <= prec <= 16:
                    raise ValueError(f"lossless JPEG precision {prec}")
            elif prec != 8 and not (prec == 12 and m != 0xC0):
                # 12-bit samples are legal in EXTENDED sequential (SOF1/
                # SOF9) and progressive (SOF2/SOF10) and all differential
                # DCT frames, never baseline SOF0 (T.81 B.2.2)
                raise NotImplementedError(f"JPEG precision {prec}")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                )
            frame = {
                "w": w, "h": h, "comps": comps,
                "progressive": m in (0xC2, 0xCA, 0xC6, 0xCE),
                "lossless": lossless, "prec": prec,
                "arith": m in (0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF),
                "differential": differential,
            }
            if hier is not None:
                # upsample (EXP) + size the references for this frame
                fhmax = max(c["h"] for c in comps)
                fvmax = max(c["v"] for c in comps)
                if pending_exp and not differential:
                    raise ValueError("EXP before a non-differential frame")
                if differential:
                    for c in comps:
                        xi = -(-(w * c["h"]) // fhmax)
                        yi = -(-(h * c["v"]) // fvmax)
                        if c["id"] not in refs:
                            raise ValueError(
                                f"differential frame for uncoded component "
                                f"{c['id']}"
                            )
                        ref = refs[c["id"]]
                        if pending_exp:
                            ref = _exp_upsample(ref, *pending_exp)
                        if ref.shape[0] < yi or ref.shape[1] < xi:
                            raise ValueError(
                                "reference smaller than differential frame "
                                f"({ref.shape} < {(yi, xi)})"
                            )
                        refs[c["id"]] = ref[:yi, :xi]
                pending_exp = None
            if lossless:
                # flat Python int lists because the DPCM loop is
                # bit-serial anyway. Per-component sample grids follow
                # A.1.1 (xi = ceil(X*Hi/Hmax)); rows are allocated at
                # the MCU-padded width so an interleaved scan (A.2.3)
                # can decode whole Hi×Vi regions without bounds logic —
                # output crops back to xi×yi. 1×1 frames degenerate to
                # padded == exact, the pre-round-5 behavior.
                lhmax = max(c["h"] for c in comps)
                lvmax = max(c["v"] for c in comps)
                mcux = -(-w // lhmax)
                mcuy = -(-h // lvmax)
                frame["ldims"] = {}
                for c in comps:
                    xi = -(-(w * c["h"]) // lhmax)
                    yi = -(-(h * c["v"]) // lvmax)
                    pw, ph = mcux * c["h"], mcuy * c["v"]
                    frame["ldims"][c["id"]] = (xi, yi, pw, ph)
                    planes[c["id"]] = [0] * (pw * ph)
                continue  # no DCT-block allocation below
            # allocate at MCU-grid padding — covers both interleaved and
            # per-component scan geometry
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            for c in comps:
                by = (-(-h // (8 * vmax))) * c["v"]
                bx = (-(-w // (8 * hmax))) * c["h"]
                if frame["progressive"]:
                    # progressive accumulates COEFFICIENTS across scans;
                    # pixels materialize once at EOI
                    coefs[c["id"]] = np.zeros((by, bx, 64), dtype=np.int64)
                else:
                    planes[c["id"]] = np.zeros((by * 8, bx * 8))
        elif m == 0xDE:  # DHP — define hierarchical progression (B.3.2)
            if frame is not None or hier is not None:
                raise ValueError("DHP must precede all frames")
            hier = {
                "prec": seg[0],
                "h": int.from_bytes(seg[1:3], "big"),
                "w": int.from_bytes(seg[3:5], "big"),
                "comps": [
                    {"id": seg[6 + 3 * c], "h": seg[6 + 3 * c + 1] >> 4,
                     "v": seg[6 + 3 * c + 1] & 15}
                    for c in range(seg[5])
                ],
            }
        elif m == 0xDF:  # EXP — expand reference components (B.3.3)
            if hier is None:
                raise ValueError("EXP outside a hierarchical stream")
            eh, ev = seg[0] >> 4, seg[0] & 15
            if eh > 1 or ev > 1 or eh + ev == 0:
                raise ValueError(f"EXP expansion Eh={eh} Ev={ev}")
            pending_exp = (eh, ev)
        elif m == 0xCC:  # DAC — arithmetic conditioning (B.2.4.3)
            p = 0
            while p + 1 < len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 15
                cs = seg[p + 1]
                p += 2
                if tc == 0:
                    u, low = cs >> 4, cs & 15
                    if low > u:
                        raise ValueError(f"DAC DC conditioning L={low} > U={u}")
                    dc_cond[tb] = (u, low)
                else:
                    if not 1 <= cs <= 63:
                        raise ValueError(f"DAC AC conditioning Kx={cs}")
                    ac_cond[tb] = cs
        elif m == 0xDD:  # DRI
            dri = int.from_bytes(seg[0:2], "big")
        elif m == 0xDA:  # SOS — entropy data follows the header
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scomps = []
            for c in range(ns):
                cid, tt = seg[1 + 2 * c : 3 + 2 * c]
                scomps.append({"id": cid, "td": tt >> 4, "ta": tt & 15})
            if frame.get("lossless"):
                # lossless scan header: Ss = predictor 1-7, Al = Pt (H.2.1)
                ss, ahal = seg[1 + 2 * ns], seg[3 + 2 * ns]
                frame["pt"] = ahal & 15
                if frame.get("arith"):
                    i = _decode_scan_lossless_arith(
                        payload, i, frame, scomps, dc_cond, dri, planes,
                        ss, ahal & 15,
                    )
                else:
                    i = _decode_scan_lossless(
                        payload, i, frame, scomps, hdc, dri, planes,
                        ss, ahal & 15,
                    )
                covered.update(s["id"] for s in scomps)
            elif frame["progressive"]:
                ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
                if frame.get("arith"):
                    i = _decode_scan_arith_prog(
                        payload, i, frame, scomps, dc_cond, ac_cond, dri,
                        coefs, ss, se, ahal >> 4, ahal & 15,
                    )
                else:
                    i = _decode_scan_progressive(
                        payload, i, frame, scomps, hdc, hac, dri, coefs,
                        ss, se, ahal >> 4, ahal & 15,
                    )
                if ss == 0:  # DC coverage is what makes a component decodable
                    covered.update(s["id"] for s in scomps)
            elif frame.get("arith"):
                i = _decode_scan_arith(
                    payload, i, frame, scomps, qt, dc_cond, ac_cond, dri, planes
                )
                covered.update(s["id"] for s in scomps)
            else:
                i = _decode_scan(payload, i, frame, scomps, qt, hdc, hac, dri, planes)
                covered.update(s["id"] for s in scomps)
        # APPn / COM / others: skipped via their length
    if frame is None or not covered:
        raise ValueError("JPEG missing SOF/SOS")
    if hier is not None:
        # fold the final frame, then emit the reference planes in DHP
        # component order at their accumulated (full) resolutions
        _finalize_hier_frame(frame, planes, coefs, covered, qt, refs)
        miss = [c["id"] for c in hier["comps"] if c["id"] not in refs]
        if miss:
            raise ValueError(f"hierarchical stream never coded component(s) {miss}")
        hout = [refs[c["id"]].astype(np.float64) for c in hier["comps"]]
        if with_precision:
            return hier["w"], hier["h"], hout, hier["prec"]
        return hier["w"], hier["h"], hout
    missing = [c["id"] for c in frame["comps"] if c["id"] not in covered]
    if missing:
        raise ValueError(f"no scan covered component id(s) {missing} (truncated file)")
    comps = frame["comps"]
    w, hgt = frame["w"], frame["h"]
    if frame.get("lossless"):
        # exact DPCM samples: reshape the flat lists; undo the point
        # transform by shifting left Pt (annex H output convention) —
        # no clamp, reconstruction is bit-exact for valid files
        shift = 1 << frame.get("pt", 0)
        lossless_out = []
        for c in comps:
            xi, yi, pw, ph = frame["ldims"][c["id"]]
            arr = np.asarray(planes[c["id"]], dtype=np.float64).reshape(ph, pw)
            lossless_out.append(arr[:yi, :xi] * shift)
        if with_precision:
            return w, hgt, lossless_out, frame["prec"]
        return w, hgt, lossless_out
    if frame["progressive"]:
        # all scans received: dequantize + IDCT the accumulated
        # coefficients once (vectorized over blocks)
        for c in frame["comps"]:
            planes[c["id"]] = _idct_all(
                coefs[c["id"]], qt[c["tq"]], float(1 << (frame["prec"] - 1))
            )
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    maxval = float((1 << frame["prec"]) - 1)  # 255 @8-bit, 4095 @12-bit
    out = []
    for c in comps:
        cw = -(-(w * c["h"]) // hmax)
        ch = -(-(hgt * c["v"]) // vmax)
        out.append(np.clip(planes[c["id"]][:ch, :cw], 0.0, maxval))
    if with_precision:
        return w, hgt, out, frame["prec"]
    return w, hgt, out


def decode_jpeg_gray(payload: bytes):
    """(width, height, gray) — the luma plane, which for JFIF YCbCr is
    exactly the BT.601 gray the other decoders compute from RGB.

    This wrapper is the [0, 255] GRAY-CONTRACT boundary: frames coded at
    precision ≠ 8 (12-bit SOF1/SOF2, 2–16-bit lossless SOF3) rescale by
    255/(2^P − 1) so downstream feature code (thumbnails divide by 255)
    sees the same range every other decoder produces. ``decode_jpeg``
    itself stays in native range for bit-exact round-trips (round-5
    review finding: 12-bit frames leaked [0, 4095] into thumbnail
    features)."""
    w, h, planes, prec = decode_jpeg(payload, with_precision=True)
    gray = planes[0]
    if prec != 8:
        gray = gray * (255.0 / ((1 << prec) - 1))
    return w, h, gray
