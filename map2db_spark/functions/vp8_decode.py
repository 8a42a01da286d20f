"""Full lossy-WebP (VP8) keyframe PIXEL decoder — RFC 6386 intra
reconstruction from scratch, stdlib + numpy only: boolean-coded token
probabilities, per-macroblock prediction records, DCT coefficient
token decode, dequantization, inverse WHT/DCT, all 14 intra
predictors, and the normal in-loop deblocking filter.

This closes the last slot of the "lossy VP8: NotImplemented"
envelope that functions/vp8.py shrank to pixel reconstruction: the
header codec there already decodes through refresh_entropy_probs;
this module continues the same boolean-decoder state through the
token-probability update block and decodes the frame to its native
YCbCr 4:2:0 planes.

Normative constant tables (default/update token probabilities,
keyframe B-mode probabilities, dequantization lookups) live in
functions/vp8_tables.py, extracted from the container's reference
libwebp by tools/extract_vp8_tables.py with structural validation —
see that tool's docstring for the provenance story.

Decoding pipeline (RFC 6386 section numbers):

1. header + token-prob updates (13.4) + skip probability (9.10/9.11)
2. per-MB prediction records in partition 1 (11.x): segment id via
   the 3-prob tree, skip flag, 16x16 Y mode (or 16 B modes with
   above/left context) and chroma mode via the keyframe mode trees
3. residuals in partition 2+ (13.x): per 4x4 block, the 12-token
   coefficient tree under [block_type][coeff_band][nz_context]
   probabilities, category extra bits, the no-EOB-after-zero rule,
   and the above/left nonzero-context bookkeeping (including the
   Y2 quirk: B_PRED macroblocks leave the Y2 context untouched)
4. dequantize (14.1, segment-aware), inverse WHT for Y2 (14.3),
   inverse DCT (14.4, the 20091/35468 fixed-point butterflies)
5. intra prediction (12.2/12.3): DC/V/H/TM at 16x16 and 8x8 with
   frame-edge DC variants, and the ten 4x4 B-mode predictors with
   the 127/129 off-frame conventions and top-right replication
6. the normal loop filter (15.1-15.3): macroblock and subblock
   edge filters with high-edge-variance selection, filter-strength
   segment/mode adjustments, vertical-then-horizontal MB order

Both loop filters are in: the normal filter (15.2-15.3) and the
SIMPLE filter (15.4, Y-only two-tap), each exercised by real
reference streams (the advanced WebPEncode API emits the simple
filter under config filter_type=0).  Envelope (raises, never
mis-decodes): interframes and reserved bitstream versions (> 3).
Multi-partition residual framing (9.5): libwebp 1.2.4's encoder
never emits more than one partition (its config knob is a no-op),
so encode_vp8_rowpattern below SYNTHESIZES complete spec-layout
2/4/8-partition keyframes with per-row content, and the reference
DECODER (which does accept them) adjudicates: both decoders produce
bit-identical planes on every synthesized frame.

Verification: tests/test_vp8_pixels.py drives REAL libwebp-encoded
keyframes at multiple qualities and image classes through this
decoder and requires bit-identical Y/U/V planes against
WebPDecodeYUV (libwebp_oracle.decode_yuv) — loop filter, B_PRED,
segmentation and token categories all live on real streams.

Reference parity note: the reference pipeline (map2db.py) contains
no raster codecs; this module extends the engine's multimodal
family exactly as png.py / jpeg_codec.py / webp_vp8l.py do.
"""

from __future__ import annotations

import numpy as np

from map2db_spark.functions import vp8_tables as T
from map2db_spark.functions.vp8 import _BoolDecoder, decode_vp8_header
from map2db_spark.functions.webp import WebpError

# ---------------------------------------------------------------------------
# Spec constants small enough to state inline (RFC 6386 11.2, 13.2, 13.3)
# ---------------------------------------------------------------------------

# coefficient band per scan position (13.3)
_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
# zigzag: natural position of scan position i (13.3)
_ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

# keyframe 16x16 Y-mode tree probs (11.2); modes DC=0 V=1 H=2 TM=3 B=4
_KF_YMODE_PROBS = (145, 156, 163, 128)
# keyframe chroma-mode tree probs (11.2); modes DC=0 V=1 H=2 TM=3
_KF_UV_PROBS = (142, 114, 183)

# B modes in the reference decoder's numbering (the numbering the
# extracted KF_BMODE_PROBS table is indexed by): DC=0 TM=1 VE=2 HE=3
# RD=4 VR=5 LD=6 VL=7 HD=8 HU=9.  The mode tree below is the RFC 11.2
# tree with leaves relabeled to this numbering.
_BMODE_TREE = (-1, 2, -2, 4, -3, 6, 8, 12, -4, 10, -5, -6,
               -7, 14, -8, 16, -9, -10)
# (leaves stored as -(mode+1) so mode 0 has a nonzero sentinel)

# 16x16 mode -> implied B mode of its subblocks for neighbor context
_IMPLIED_BMODE = {0: 0, 1: 2, 2: 3, 3: 1}  # DC->B_DC V->B_VE H->B_HE TM->B_TM

# category extra-bit probabilities and base values (13.2)
_CAT_PROBS = (
    (159,),
    (165, 145),
    (173, 148, 140),
    (176, 155, 140, 135),
    (180, 157, 141, 134, 130),
    (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
)
_CAT_BASE = (5, 7, 11, 19, 35, 67)


def _tree_read(d: _BoolDecoder, tree: tuple, probs) -> int:
    """Generic bool-tree read (RFC 6386 8.2): probs[i >> 1] guards the
    branch at node i; negative entries are -(leaf+1)."""
    i = 0
    while True:
        i = tree[i + d.read(probs[i >> 1])]
        if i <= 0:
            return -i - 1


# ---------------------------------------------------------------------------
# Dequantization (14.1)
# ---------------------------------------------------------------------------


def _clamp_q(x: int) -> int:
    return 0 if x < 0 else (127 if x > 127 else x)


def _dequant_factors(hdr: dict, seg_qi: list[int]) -> list[dict]:
    """Per-segment dequantization factors: y1/y2/uv dc+ac pairs with
    the spec's Y2 scaling (x2 dc, x155/100 ac floored at 8) and the
    chroma-DC cap at 132 (RFC 6386 14.1)."""
    out = []
    dc, ac = T.DC_QLOOKUP, T.AC_QLOOKUP
    for qi in seg_qi:
        y2ac = ac[_clamp_q(qi + hdr.get("y2_ac_delta", 0))] * 155 // 100
        uvdc = dc[_clamp_q(qi + hdr.get("uv_dc_delta", 0))]
        out.append({
            "y1": (dc[_clamp_q(qi + hdr.get("y1_dc_delta", 0))],
                   ac[_clamp_q(qi)]),
            "y2": (dc[_clamp_q(qi + hdr.get("y2_dc_delta", 0))] * 2,
                   y2ac if y2ac >= 8 else 8),
            "uv": (uvdc if uvdc <= 132 else 132,
                   ac[_clamp_q(qi + hdr.get("uv_ac_delta", 0))]),
        })
    return out


# ---------------------------------------------------------------------------
# Coefficient token decode (13.2-13.5)
# ---------------------------------------------------------------------------


def _decode_coeffs(d, probs_type, first, ctx, qdc, qac):
    """Decode one 4x4 block's coefficient tokens into a NATURAL-order
    dequantized int list; returns (coeffs, eob_position).  probs_type
    is the [8][3][11] slice for this block type; ctx is the initial
    above+left nonzero context."""
    coeffs = [0] * 16
    i = first
    prev_zero = False
    while i < 16:
        p = probs_type[_BANDS[i]][ctx]
        if not prev_zero:
            if not d.read(p[0]):  # end of block
                break
        if not d.read(p[1]):
            v = 0
        elif not d.read(p[2]):
            v = 1
        elif not d.read(p[3]):
            if not d.read(p[4]):
                v = 2
            else:
                v = 3 + d.read(p[5])
        elif not d.read(p[6]):
            cat = 0 if not d.read(p[7]) else 1
            extra = 0
            for cp in _CAT_PROBS[cat]:
                extra = (extra << 1) | d.read(cp)
            v = _CAT_BASE[cat] + extra
        else:
            if not d.read(p[8]):
                cat = 2 if not d.read(p[9]) else 3
            else:
                cat = 4 if not d.read(p[10]) else 5
            extra = 0
            for cp in _CAT_PROBS[cat]:
                extra = (extra << 1) | d.read(cp)
            v = _CAT_BASE[cat] + extra
        if v == 0:
            ctx = 0
            prev_zero = True
        else:
            if d.read(128):
                v = -v
            ctx = 1 if v in (1, -1) else 2
            prev_zero = False
        coeffs[_ZIGZAG[i]] = v * (qdc if i == 0 else qac)
        i += 1
    return coeffs, i


# ---------------------------------------------------------------------------
# Inverse transforms (14.3, 14.4)
# ---------------------------------------------------------------------------


def _inv_wht(c: list[int]) -> list[int]:
    """Inverse Walsh-Hadamard for the Y2 block (RFC 6386 14.3);
    returns the 16 Y-subblock DC values in raster order."""
    t = [0] * 16
    for i in range(4):
        a1 = c[i] + c[12 + i]
        b1 = c[4 + i] + c[8 + i]
        c1 = c[4 + i] - c[8 + i]
        d1 = c[i] - c[12 + i]
        t[i] = a1 + b1
        t[4 + i] = c1 + d1
        t[8 + i] = a1 - b1
        t[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        r = 4 * i
        a1 = t[r] + t[r + 3]
        b1 = t[r + 1] + t[r + 2]
        c1 = t[r + 1] - t[r + 2]
        d1 = t[r] - t[r + 3]
        out[r] = (a1 + b1 + 3) >> 3
        out[r + 1] = (c1 + d1 + 3) >> 3
        out[r + 2] = (a1 - b1 + 3) >> 3
        out[r + 3] = (d1 - c1 + 3) >> 3
    return out


def _inv_dct(c: list[int]) -> np.ndarray:
    """4x4 inverse DCT (RFC 6386 14.4) — the exact 20091/35468
    fixed-point butterflies with >>16 partial products and the final
    (x + 4) >> 3; Python ints keep shifts arithmetic."""
    t = [0] * 16
    for i in range(4):
        a1 = c[i] + c[8 + i]
        b1 = c[i] - c[8 + i]
        t1 = (c[4 + i] * 35468) >> 16
        t2 = c[12 + i] + ((c[12 + i] * 20091) >> 16)
        c1 = t1 - t2
        t1 = c[4 + i] + ((c[4 + i] * 20091) >> 16)
        t2 = (c[12 + i] * 35468) >> 16
        d1 = t1 + t2
        t[i] = a1 + d1
        t[12 + i] = a1 - d1
        t[4 + i] = b1 + c1
        t[8 + i] = b1 - c1
    out = np.empty((4, 4), np.int32)
    for i in range(4):
        r = 4 * i
        a1 = t[r] + t[r + 2]
        b1 = t[r] - t[r + 2]
        t1 = (t[r + 1] * 35468) >> 16
        t2 = t[r + 3] + ((t[r + 3] * 20091) >> 16)
        c1 = t1 - t2
        t1 = t[r + 1] + ((t[r + 1] * 20091) >> 16)
        t2 = (t[r + 3] * 35468) >> 16
        d1 = t1 + t2
        out[i, 0] = (a1 + d1 + 4) >> 3
        out[i, 3] = (a1 - d1 + 4) >> 3
        out[i, 1] = (b1 + c1 + 4) >> 3
        out[i, 2] = (b1 - c1 + 4) >> 3
    return out


# ---------------------------------------------------------------------------
# Intra prediction (12.2, 12.3)
# ---------------------------------------------------------------------------


def _pred_whole(buf, y0, x0, n, mode, have_above, have_left):
    """16x16 or 8x8 whole-block prediction into an int array.  DC uses
    the frame-edge availability variants; V/H/TM always read the
    127/129 border convention already materialized in buf."""
    above = buf[y0 - 1, x0:x0 + n].astype(np.int32)
    left = buf[y0:y0 + n, x0 - 1].astype(np.int32)
    if mode == 0:  # DC
        if have_above and have_left:
            dc = (int(above.sum()) + int(left.sum()) + n) >> _log2(2 * n)
        elif have_above:
            dc = (int(above.sum()) + n // 2) >> _log2(n)
        elif have_left:
            dc = (int(left.sum()) + n // 2) >> _log2(n)
        else:
            dc = 128
        return np.full((n, n), dc, np.int32)
    if mode == 1:  # V
        return np.repeat(above[None, :], n, axis=0)
    if mode == 2:  # H
        return np.repeat(left[:, None], n, axis=1)
    # TM
    corner = int(buf[y0 - 1, x0 - 1])
    return np.clip(left[:, None] + above[None, :] - corner, 0, 255)


def _log2(n: int) -> int:
    return n.bit_length() - 1


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _avg2(a, b):
    return (a + b + 1) >> 1


def _pred_b(buf, y0, x0, mode, top_right):
    """The ten 4x4 B-mode predictors (RFC 6386 12.3).  buf holds
    reconstructed pixels (with borders); top_right is the 4-pixel
    above-right vector resolved by the caller per the replication
    rules.  Returns a 4x4 int array."""
    a = [int(v) for v in buf[y0 - 1, x0:x0 + 4]]
    e = a + [int(v) for v in top_right]  # E[0..7] = above + above-right
    left = [int(v) for v in buf[y0:y0 + 4, x0 - 1]]
    p = int(buf[y0 - 1, x0 - 1])
    o = np.empty((4, 4), np.int32)
    if mode == 0:  # B_DC_PRED
        o[:] = (sum(a) + sum(left) + 4) >> 3
    elif mode == 1:  # B_TM_PRED
        la = np.array(left, np.int32)[:, None]
        aa = np.array(a, np.int32)[None, :]
        o[:] = np.clip(la + aa - p, 0, 255)
    elif mode == 2:  # B_VE_PRED
        row = [_avg3(p, a[0], a[1]), _avg3(a[0], a[1], a[2]),
               _avg3(a[1], a[2], a[3]), _avg3(a[2], a[3], e[4])]
        o[:] = np.array(row, np.int32)[None, :]
    elif mode == 3:  # B_HE_PRED
        col = [_avg3(p, left[0], left[1]),
               _avg3(left[0], left[1], left[2]),
               _avg3(left[1], left[2], left[3]),
               _avg3(left[2], left[3], left[3])]
        o[:] = np.array(col, np.int32)[:, None]
    elif mode == 4:  # B_RD_PRED (down-right)
        i_, j_, k_, l_ = left
        x_ = p
        A, B, C, D = a
        o[3, 0] = _avg3(j_, k_, l_)
        o[2, 0] = o[3, 1] = _avg3(i_, j_, k_)
        o[1, 0] = o[2, 1] = o[3, 2] = _avg3(x_, i_, j_)
        o[0, 0] = o[1, 1] = o[2, 2] = o[3, 3] = _avg3(A, x_, i_)
        o[0, 1] = o[1, 2] = o[2, 3] = _avg3(B, A, x_)
        o[0, 2] = o[1, 3] = _avg3(C, B, A)
        o[0, 3] = _avg3(D, C, B)
    elif mode == 5:  # B_VR_PRED (vertical-right)
        i_, j_, k_ = left[0], left[1], left[2]
        x_ = p
        A, B, C, D = a
        o[0, 0] = o[2, 1] = _avg2(x_, A)
        o[0, 1] = o[2, 2] = _avg2(A, B)
        o[0, 2] = o[2, 3] = _avg2(B, C)
        o[0, 3] = _avg2(C, D)
        o[3, 0] = _avg3(k_, j_, i_)
        o[2, 0] = _avg3(j_, i_, x_)
        o[1, 0] = o[3, 1] = _avg3(i_, x_, A)
        o[1, 1] = o[3, 2] = _avg3(x_, A, B)
        o[1, 2] = o[3, 3] = _avg3(A, B, C)
        o[1, 3] = _avg3(B, C, D)
    elif mode == 6:  # B_LD_PRED (down-left)
        A, B, C, D, E, F, G, H = e
        o[0, 0] = _avg3(A, B, C)
        o[0, 1] = o[1, 0] = _avg3(B, C, D)
        o[0, 2] = o[1, 1] = o[2, 0] = _avg3(C, D, E)
        o[0, 3] = o[1, 2] = o[2, 1] = o[3, 0] = _avg3(D, E, F)
        o[1, 3] = o[2, 2] = o[3, 1] = _avg3(E, F, G)
        o[2, 3] = o[3, 2] = _avg3(F, G, H)
        o[3, 3] = _avg3(G, H, H)
    elif mode == 7:  # B_VL_PRED (vertical-left)
        A, B, C, D, E, F, G, H = e
        o[0, 0] = _avg2(A, B)
        o[0, 1] = o[2, 0] = _avg2(B, C)
        o[0, 2] = o[2, 1] = _avg2(C, D)
        o[0, 3] = o[2, 2] = _avg2(D, E)
        o[1, 0] = _avg3(A, B, C)
        o[1, 1] = o[3, 0] = _avg3(B, C, D)
        o[1, 2] = o[3, 1] = _avg3(C, D, E)
        o[1, 3] = o[3, 2] = _avg3(D, E, F)
        o[2, 3] = _avg3(E, F, G)
        o[3, 3] = _avg3(F, G, H)
    elif mode == 8:  # B_HD_PRED (horizontal-down)
        i_, j_, k_, l_ = left
        x_ = p
        A, B, C = a[0], a[1], a[2]
        o[0, 0] = o[1, 2] = _avg2(i_, x_)
        o[0, 1] = o[1, 3] = _avg3(i_, x_, A)
        o[0, 2] = _avg3(x_, A, B)
        o[0, 3] = _avg3(A, B, C)
        o[1, 0] = o[2, 2] = _avg2(j_, i_)
        o[1, 1] = o[2, 3] = _avg3(j_, i_, x_)
        o[2, 0] = o[3, 2] = _avg2(k_, j_)
        o[2, 1] = o[3, 3] = _avg3(k_, j_, i_)
        o[3, 0] = _avg2(l_, k_)
        o[3, 1] = _avg3(l_, k_, j_)
    else:  # B_HU_PRED (horizontal-up)
        i_, j_, k_, l_ = left
        o[0, 0] = _avg2(i_, j_)
        o[0, 1] = _avg3(i_, j_, k_)
        o[0, 2] = o[1, 0] = _avg2(j_, k_)
        o[0, 3] = o[1, 1] = _avg3(j_, k_, l_)
        o[1, 2] = o[2, 0] = _avg2(k_, l_)
        o[1, 3] = o[2, 1] = _avg3(k_, l_, l_)
        o[2, 2] = o[2, 3] = l_
        o[3, 0] = o[3, 1] = o[3, 2] = o[3, 3] = l_
    return o


# ---------------------------------------------------------------------------
# Loop filter (15.1-15.3), normal filter, vectorized across edge lanes
# ---------------------------------------------------------------------------


def _sclamp(x):
    return np.clip(x, -128, 127)


def _filter_edge(pix, mb_edge, edge_limit, interior_limit, hev_thresh):
    """Filter one edge given an (8, n) int32 window of signed-able
    pixel ROWS [p3 p2 p1 p0 q0 q1 q2 q3] x n lanes, in UNSIGNED
    values; mutates and returns the window (uint domain).  mb_edge
    selects the 6-tap MBfilter vs the subblock filter."""
    w = pix.astype(np.int32)
    p3, p2, p1, p0, q0, q1, q2, q3 = (w[i] for i in range(8))
    fmask = (
        (np.abs(p0 - q0) * 2 + np.abs(p1 - q1) // 2 <= edge_limit)
        & (np.abs(p3 - p2) <= interior_limit)
        & (np.abs(p2 - p1) <= interior_limit)
        & (np.abs(p1 - p0) <= interior_limit)
        & (np.abs(q3 - q2) <= interior_limit)
        & (np.abs(q2 - q1) <= interior_limit)
        & (np.abs(q1 - q0) <= interior_limit)
    )
    hev = (np.abs(p1 - p0) > hev_thresh) | (np.abs(q1 - q0) > hev_thresh)
    P1, P0, Q0, Q1 = p1 - 128, p0 - 128, q0 - 128, q1 - 128
    P2, Q2 = p2 - 128, q2 - 128

    # common_adjust with outer taps (hev lanes on both filters)
    a_out = _sclamp(_sclamp(P1 - Q1) + 3 * (Q0 - P0))
    f_out = _sclamp(a_out + 4) >> 3
    e_out = _sclamp(a_out + 3) >> 3

    if mb_edge:
        wv = _sclamp(_sclamp(P1 - Q1) + 3 * (Q0 - P0))
        a27 = _sclamp((27 * wv + 63) >> 7)
        a18 = _sclamp((18 * wv + 63) >> 7)
        a9 = _sclamp((9 * wv + 63) >> 7)
        use6 = fmask & ~hev
        use2 = fmask & hev
        q0n = np.where(use6, Q0 - a27, np.where(use2, Q0 - f_out, Q0))
        p0n = np.where(use6, P0 + a27, np.where(use2, P0 + e_out, P0))
        q1n = np.where(use6, Q1 - a18, Q1)
        p1n = np.where(use6, P1 + a18, P1)
        q2n = np.where(use6, Q2 - a9, Q2)
        p2n = np.where(use6, P2 + a9, P2)
        w[2] = np.clip(p1n + 128, 0, 255)
        w[5] = np.clip(q1n + 128, 0, 255)
        w[1] = np.clip(p2n + 128, 0, 255)
        w[6] = np.clip(q2n + 128, 0, 255)
    else:
        # subblock: hev lanes use outer taps; non-hev use inner form
        a_in = _sclamp(3 * (Q0 - P0))
        f_in = _sclamp(a_in + 4) >> 3
        e_in = _sclamp(a_in + 3) >> 3
        a2 = (f_in + 1) >> 1
        useh = fmask & hev
        usel = fmask & ~hev
        q0n = np.where(useh, Q0 - f_out, np.where(usel, Q0 - f_in, Q0))
        p0n = np.where(useh, P0 + e_out, np.where(usel, P0 + e_in, P0))
        q1n = np.where(usel, Q1 - a2, Q1)
        p1n = np.where(usel, P1 + a2, P1)
        w[2] = np.clip(p1n + 128, 0, 255)
        w[5] = np.clip(q1n + 128, 0, 255)
    w[3] = np.clip(p0n + 128, 0, 255)
    w[4] = np.clip(q0n + 128, 0, 255)
    return w


def _filter_edge_simple(pix, edge_limit):
    """The simple loop filter (RFC 6386 15.4, Y plane only): the
    common adjustment with outer taps on every lane passing the
    edge-sum test — no interior-difference checks, no hev split.
    Window layout matches _filter_edge; only p1 p0 q0 q1 are used."""
    w = pix.astype(np.int32)
    p1, p0, q0, q1 = w[2], w[3], w[4], w[5]
    fmask = np.abs(p0 - q0) * 2 + np.abs(p1 - q1) // 2 <= edge_limit
    P1, P0, Q0, Q1 = p1 - 128, p0 - 128, q0 - 128, q1 - 128
    a = _sclamp(_sclamp(P1 - Q1) + 3 * (Q0 - P0))
    f = _sclamp(a + 4) >> 3
    e = _sclamp(a + 3) >> 3
    w[4] = np.clip(np.where(fmask, Q0 - f, Q0) + 128, 0, 255)
    w[3] = np.clip(np.where(fmask, P0 + e, P0) + 128, 0, 255)
    return w


def _filter_v_edge(plane, y0, x0, n, mb_edge, lim, ilim, hev,
                   simple=False):
    win = plane[y0:y0 + n, x0 - 4:x0 + 4].T.astype(np.int32)
    out = (_filter_edge_simple(win, lim) if simple
           else _filter_edge(win, mb_edge, lim, ilim, hev))
    plane[y0:y0 + n, x0 - 4:x0 + 4] = out.T.astype(plane.dtype)


def _filter_h_edge(plane, y0, x0, n, mb_edge, lim, ilim, hev,
                   simple=False):
    win = plane[y0 - 4:y0 + 4, x0:x0 + n].astype(np.int32)
    out = (_filter_edge_simple(win, lim) if simple
           else _filter_edge(win, mb_edge, lim, ilim, hev))
    plane[y0 - 4:y0 + 4, x0:x0 + n] = out.astype(plane.dtype)


# ---------------------------------------------------------------------------
# Main decoder
# ---------------------------------------------------------------------------


def decode_vp8(buf: bytes, with_stats: bool = False,
               max_pixels: int = 1 << 24):
    """Decode a lossy-WebP keyframe to its native YCbCr 4:2:0 planes:
    returns (y, u, v) uint8 arrays cropped to the declared dims (plus
    a stats dict when with_stats).  Raises WebpError on malformed
    input and NotImplementedError outside the documented envelope.

    max_pixels is the decompression-bomb rail shared by the codec
    family (deflate's max_output convention): a 30-byte stream
    can declare 16383x16383 and would otherwise force a ~10^6-
    macroblock walk before any content-level check can fire."""
    hdr = decode_vp8_header(buf)  # validates container + keyframe bit
    if hdr["width"] * hdr["height"] > max_pixels:
        raise WebpError(
            f"declared frame {hdr['width']}x{hdr['height']} exceeds "
            f"max_pixels={max_pixels} (decompression-bomb rail; raise "
            "the limit explicitly for trusted input)"
        )
    if hdr["version"] > 3:
        raise WebpError(
            "VP8 version %d is reserved (RFC 6386 9.1)" % hdr["version"]
        )
    # versions 1-3 alter the INTER reconstruction filters and announce
    # the simple/no loop filter; for keyframe intra decode the header's
    # own filter_type/level bits are authoritative (they are what the
    # reference decoder keys filtering off), so no version branch here.
    # re-walk the container to get the partition layout
    body = _vp8_chunk(buf)
    tag = body[0] | (body[1] << 8) | (body[2] << 16)
    part1_size = tag >> 5
    part1 = body[10:10 + part1_size]
    d = _BoolDecoder(part1)
    _skip_header_fields(d, hdr)

    # ---- token probability updates (13.4) ----
    probs = [[[list(
        T.COEFF_PROBS[t * 264 + b * 33 + c * 11: t * 264 + b * 33 + c * 11 + 11]
    ) for c in range(3)] for b in range(8)] for t in range(4)]
    upd = T.COEFF_UPDATE_PROBS
    n_updates = 0
    for t in range(4):
        for b in range(8):
            for c in range(3):
                base = t * 264 + b * 33 + c * 11
                row = probs[t][b][c]
                for pi in range(11):
                    if d.read(upd[base + pi]):
                        row[pi] = d.literal(8)
                        n_updates += 1

    mb_no_skip = d.read(128)
    prob_skip_false = d.literal(8) if mb_no_skip else 0

    w, hgt = hdr["width"], hdr["height"]
    mb_w, mb_h = (w + 15) // 16, (hgt + 15) // 16

    # ---- per-MB prediction records (11.x), all in partition 1 ----
    seg_probs = hdr.get("segment_tree_probs", [255, 255, 255])
    read_seg = bool(hdr.get("segmentation_enabled")) and bool(
        hdr.get("update_mb_segmentation_map")
    )
    mbs = []
    above_bmodes = [[0] * 4 for _ in range(mb_w)]
    for my in range(mb_h):
        left_bmodes = [0] * 4
        for mx in range(mb_w):
            seg = 0
            if read_seg:
                if not d.read(seg_probs[0]):
                    seg = d.read(seg_probs[1])
                else:
                    seg = 2 + d.read(seg_probs[2])
            skip = d.read(prob_skip_false) if mb_no_skip else 0
            # keyframe Y mode tree (11.2): leaves B, DC, V, H, TM
            if not d.read(_KF_YMODE_PROBS[0]):
                ymode = 4  # B_PRED
            elif not d.read(_KF_YMODE_PROBS[1]):
                ymode = 0 if not d.read(_KF_YMODE_PROBS[2]) else 1
            else:
                ymode = 2 if not d.read(_KF_YMODE_PROBS[3]) else 3
            bmodes = None
            if ymode == 4:
                bmodes = [0] * 16
                for sy in range(4):
                    for sx in range(4):
                        am = (above_bmodes[mx][sx] if sy == 0
                              else bmodes[(sy - 1) * 4 + sx])
                        lm = (left_bmodes[sy] if sx == 0
                              else bmodes[sy * 4 + sx - 1])
                        base = am * 90 + lm * 9
                        bm = _tree_read(
                            d, _BMODE_TREE, T.KF_BMODE_PROBS[base:base + 9]
                        )
                        bmodes[sy * 4 + sx] = bm
                above_bmodes[mx] = bmodes[12:16]
                left_bmodes = [bmodes[3], bmodes[7], bmodes[11], bmodes[15]]
            else:
                imp = _IMPLIED_BMODE[ymode]
                above_bmodes[mx] = [imp] * 4
                left_bmodes = [imp] * 4
            # chroma mode tree (11.2)
            if not d.read(_KF_UV_PROBS[0]):
                uvmode = 0
            elif not d.read(_KF_UV_PROBS[1]):
                uvmode = 1
            else:
                uvmode = 2 if not d.read(_KF_UV_PROBS[2]) else 3
            mbs.append({"seg": seg, "skip": skip, "ymode": ymode,
                        "bmodes": bmodes, "uvmode": uvmode})

    # ---- residual partitions ----
    nparts = hdr["dct_partitions"]
    rest = body[10 + part1_size:]
    sizes = []
    off = 3 * (nparts - 1)
    if len(rest) < off:
        raise WebpError("VP8 partition size table truncated")
    for i in range(nparts - 1):
        sizes.append(rest[3 * i] | (rest[3 * i + 1] << 8)
                     | (rest[3 * i + 2] << 16))
    starts = [off]
    for s in sizes:
        starts.append(starts[-1] + s)
    if starts[-1] > len(rest):
        raise WebpError("VP8 residual partitions truncated")
    parts = []
    for i in range(nparts):
        end = starts[i + 1] if i + 1 < nparts else len(rest)
        parts.append(_BoolDecoder(rest[starts[i]:end]))

    # ---- per-segment quantizer indices ----
    if hdr.get("segmentation_enabled") and "segment_q_deltas" in hdr:
        if hdr.get("segment_feature_mode"):  # absolute
            seg_qi = [_clamp_q(v) for v in hdr["segment_q_deltas"]]
        else:
            seg_qi = [_clamp_q(hdr["y_ac_qi"] + v)
                      for v in hdr["segment_q_deltas"]]
    else:
        seg_qi = [_clamp_q(hdr["y_ac_qi"])] * 4
    dq = _dequant_factors(hdr, seg_qi)

    # ---- reconstruction buffers with border conventions (12.2) ----
    W16, H16 = mb_w * 16, mb_h * 16
    yb = np.empty((H16 + 1, W16 + 5), np.uint8)
    ub = np.empty((H16 // 2 + 1, W16 // 2 + 1), np.uint8)
    vb = np.empty_like(ub)
    for pl in (yb, ub, vb):
        pl[0, :] = 127   # above row (incl. top-left and top-right ext.)
        pl[1:, 0] = 129  # left column

    # nonzero contexts
    a_y = [[0] * 4 for _ in range(mb_w)]
    a_u = [[0] * 2 for _ in range(mb_w)]
    a_v = [[0] * 2 for _ in range(mb_w)]
    a_y2 = [0] * mb_w
    mb_has_coeffs = [False] * (mb_w * mb_h)
    residuals = [None] * (mb_w * mb_h)

    stats = {"ymodes": [0] * 5, "bmodes": [0] * 10, "uvmodes": [0] * 4,
             "skipped": 0, "filtered_edges": 0, "prob_updates": n_updates}

    # ---- pass 1: parse residuals + reconstruct (raster order) ----
    for my in range(mb_h):
        dres = parts[my % nparts]
        l_y = [0] * 4
        l_u = [0] * 2
        l_v = [0] * 2
        l_y2 = 0
        for mx in range(mb_w):
            mi = my * mb_w + mx
            mb = mbs[mi]
            q = dq[mb["seg"]]
            ymode = mb["ymode"]
            has_y2 = ymode != 4
            stats["ymodes"][ymode] += 1
            stats["uvmodes"][mb["uvmode"]] += 1
            if mb["bmodes"]:
                for bm in mb["bmodes"]:
                    stats["bmodes"][bm] += 1

            ycoeffs = [[0] * 16 for _ in range(16)]
            ucoeffs = [[0] * 16 for _ in range(4)]
            vcoeffs = [[0] * 16 for _ in range(4)]
            any_nz = False
            if mb["skip"]:
                stats["skipped"] += 1
                l_y = [0] * 4
                l_u = [0] * 2
                l_v = [0] * 2
                a_y[mx] = [0] * 4
                a_u[mx] = [0] * 2
                a_v[mx] = [0] * 2
                if has_y2:
                    l_y2 = 0
                    a_y2[mx] = 0
            else:
                if has_y2:
                    ctx = a_y2[mx] + l_y2
                    c2, eob = _decode_coeffs(
                        dres, probs[1], 0, ctx, q["y2"][0], q["y2"][1]
                    )
                    nz = 1 if eob > 0 else 0
                    a_y2[mx] = l_y2 = nz
                    any_nz = any_nz or nz
                    wht = _inv_wht(c2)
                else:
                    wht = None
                ytype = 0 if has_y2 else 3
                first = 1 if has_y2 else 0
                for sy in range(4):
                    for sx in range(4):
                        ctx = a_y[mx][sx] + l_y[sy]
                        cc, eob = _decode_coeffs(
                            dres, probs[ytype], first, ctx,
                            q["y1"][0], q["y1"][1],
                        )
                        if wht is not None:
                            cc[0] = wht[sy * 4 + sx]
                        nz = 1 if eob > first else 0
                        a_y[mx][sx] = l_y[sy] = nz
                        any_nz = any_nz or nz
                        ycoeffs[sy * 4 + sx] = cc
                for planes, actx, lctx, store in (
                    ("u", a_u, l_u, ucoeffs), ("v", a_v, l_v, vcoeffs),
                ):
                    for sy in range(2):
                        for sx in range(2):
                            ctx = actx[mx][sx] + lctx[sy]
                            cc, eob = _decode_coeffs(
                                dres, probs[2], 0, ctx,
                                q["uv"][0], q["uv"][1],
                            )
                            nz = 1 if eob > 0 else 0
                            actx[mx][sx] = nz
                            lctx[sy] = nz
                            any_nz = any_nz or nz
                            store[sy * 2 + sx] = cc
            mb_has_coeffs[mi] = any_nz

            # ---- reconstruct this MB ----
            y0, x0 = my * 16 + 1, mx * 16 + 1
            have_a, have_l = my > 0, mx > 0
            if ymode != 4:
                pred = _pred_whole(yb, y0, x0, 16, ymode, have_a, have_l)
                if not mb["skip"]:
                    for sy in range(4):
                        for sx in range(4):
                            res = _inv_dct(ycoeffs[sy * 4 + sx])
                            pred[sy * 4:sy * 4 + 4, sx * 4:sx * 4 + 4] += res
                yb[y0:y0 + 16, x0:x0 + 16] = np.clip(pred, 0, 255)
            else:
                for sy in range(4):
                    for sx in range(4):
                        by, bx = y0 + sy * 4, x0 + sx * 4
                        tr = _top_right(yb, my, mx, sy, sx, mb_w, y0, x0)
                        pr = _pred_b(yb, by, bx, mb["bmodes"][sy * 4 + sx],
                                     tr)
                        if not mb["skip"]:
                            pr = pr + _inv_dct(ycoeffs[sy * 4 + sx])
                        yb[by:by + 4, bx:bx + 4] = np.clip(pr, 0, 255)
            # right-margin replication for the next MB row's top-right
            if mx == mb_w - 1:
                yb[y0:y0 + 16, W16 + 1:] = yb[y0:y0 + 16, W16:W16 + 1]
            yc0, xc0 = my * 8 + 1, mx * 8 + 1
            for cb, store in ((ub, ucoeffs), (vb, vcoeffs)):
                pred = _pred_whole(cb, yc0, xc0, 8, mb["uvmode"],
                                   have_a, have_l)
                if not mb["skip"]:
                    for sy in range(2):
                        for sx in range(2):
                            res = _inv_dct(store[sy * 2 + sx])
                            pred[sy * 4:sy * 4 + 4, sx * 4:sx * 4 + 4] += res
                cb[yc0:yc0 + 8, xc0:xc0 + 8] = np.clip(pred, 0, 255)

    # ---- pass 2: loop filter (15) ----
    base_level = hdr["loop_filter_level"]
    simple = hdr["filter_type"] == 1
    if base_level > 0:
        sharp = hdr["sharpness_level"]
        seg_lvl = [base_level] * 4
        if hdr.get("segmentation_enabled") and "segment_lf_deltas" in hdr:
            if hdr.get("segment_feature_mode"):
                seg_lvl = [min(63, max(0, v))
                           for v in hdr["segment_lf_deltas"]]
            else:
                seg_lvl = [min(63, max(0, base_level + v))
                           for v in hdr["segment_lf_deltas"]]
        ref_d = hdr.get("ref_lf_deltas", [0, 0, 0, 0])
        mode_d = hdr.get("mode_lf_deltas", [0, 0, 0, 0])
        use_adj = bool(hdr.get("loop_filter_adj_enable"))
        for my in range(mb_h):
            for mx in range(mb_w):
                mi = my * mb_w + mx
                mb = mbs[mi]
                lvl = seg_lvl[mb["seg"]]
                if use_adj:
                    lvl += ref_d[0]  # intra frame
                    if mb["ymode"] == 4:
                        lvl += mode_d[0]
                    lvl = min(63, max(0, lvl))
                if lvl == 0:
                    continue
                ilim = lvl
                if sharp:
                    ilim >>= 2 if sharp > 4 else 1
                    if ilim > 9 - sharp:
                        ilim = 9 - sharp
                if ilim < 1:
                    ilim = 1
                hev = 0
                if lvl >= 40:
                    hev = 2
                elif lvl >= 15:
                    hev = 1
                mb_lim = 2 * (lvl + 2) + ilim
                sb_lim = 2 * lvl + ilim
                f_inner = mb["ymode"] == 4 or mb_has_coeffs[mi]
                y0, x0 = my * 16 + 1, mx * 16 + 1
                c0, cx0 = my * 8 + 1, mx * 8 + 1
                if mx > 0:
                    _filter_v_edge(yb, y0, x0, 16, True, mb_lim, ilim,
                                   hev, simple)
                    if not simple:
                        _filter_v_edge(ub, c0, cx0, 8, True, mb_lim,
                                       ilim, hev)
                        _filter_v_edge(vb, c0, cx0, 8, True, mb_lim,
                                       ilim, hev)
                    stats["filtered_edges"] += 1
                if f_inner:
                    for dx in (4, 8, 12):
                        _filter_v_edge(yb, y0, x0 + dx, 16, False,
                                       sb_lim, ilim, hev, simple)
                    if not simple:
                        _filter_v_edge(ub, c0, cx0 + 4, 8, False,
                                       sb_lim, ilim, hev)
                        _filter_v_edge(vb, c0, cx0 + 4, 8, False,
                                       sb_lim, ilim, hev)
                if my > 0:
                    _filter_h_edge(yb, y0, x0, 16, True, mb_lim, ilim,
                                   hev, simple)
                    if not simple:
                        _filter_h_edge(ub, c0, cx0, 8, True, mb_lim,
                                       ilim, hev)
                        _filter_h_edge(vb, c0, cx0, 8, True, mb_lim,
                                       ilim, hev)
                    stats["filtered_edges"] += 1
                if f_inner:
                    for dy in (4, 8, 12):
                        _filter_h_edge(yb, y0 + dy, x0, 16, False,
                                       sb_lim, ilim, hev, simple)
                    if not simple:
                        _filter_h_edge(ub, c0 + 4, cx0, 8, False,
                                       sb_lim, ilim, hev)
                        _filter_h_edge(vb, c0 + 4, cx0, 8, False,
                                       sb_lim, ilim, hev)

    y = yb[1:1 + hgt, 1:1 + w].copy()
    u = ub[1:1 + (hgt + 1) // 2, 1:1 + (w + 1) // 2].copy()
    v = vb[1:1 + (hgt + 1) // 2, 1:1 + (w + 1) // 2].copy()
    if with_stats:
        return y, u, v, stats
    return y, u, v


def _top_right(yb, my, mx, sy, sx, mb_w, y0, x0):
    """Resolve the 4 above-right pixels for a B_PRED subblock (12.3):
    interior subblocks read already-reconstructed pixels; the MB's
    rightmost column reads the row above the MB (above-right MB's
    bottom row, frame-edge 127s, or the replicated right margin)."""
    by, bx = y0 + sy * 4, x0 + sx * 4
    if sx < 3:
        return yb[by - 1, bx + 4:bx + 8]
    # rightmost subblock column: always the MB-top above row beyond
    # the MB's right edge (replicated margin at the frame boundary)
    return yb[y0 - 1, x0 + 16:x0 + 20]


def _vp8_chunk(buf: bytes) -> bytes:
    """RIFF walk to the VP8 chunk body (same layout decode_vp8_header
    validates; kept separate so this module can address partitions)."""
    import struct

    pos = 12
    while pos + 8 <= len(buf):
        fourcc = buf[pos:pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        if fourcc == b"VP8 ":
            return buf[pos + 8:pos + 8 + size]
        pos += 8 + size + (size % 2)
    raise WebpError("no VP8 chunk")


def _skip_header_fields(d: _BoolDecoder, hdr: dict) -> None:
    """Advance a fresh partition-1 decoder past the header fields that
    decode_vp8_header already parsed, leaving it positioned at the
    token-probability update block (13.4)."""
    d.read(128)  # color_space
    d.read(128)  # clamping_type
    if d.read(128):  # segmentation_enabled
        upd_map = d.read(128)
        if d.read(128):  # update_segment_feature_data
            d.read(128)  # feature mode
            for _ in range(4):
                d.flagged_signed(7)
            for _ in range(4):
                d.flagged_signed(6)
        if upd_map:
            for _ in range(3):
                if d.read(128):
                    d.literal(8)
    d.read(128)  # filter_type
    d.literal(6)
    d.literal(3)
    if d.read(128):  # loop_filter_adj_enable
        if d.read(128):
            for _ in range(8):
                d.flagged_signed(6)
    d.literal(2)  # dct_partition_log2
    d.literal(7)  # y_ac_qi
    for _ in range(5):
        d.flagged_signed(4)
    d.read(128)  # refresh_entropy_probs


# ---------------------------------------------------------------------------
# Spec-layout frame synthesizer (verification fixture path)
# ---------------------------------------------------------------------------


def encode_vp8_rowpattern(
    width: int,
    height: int,
    *,
    dct_partition_log2: int = 0,
    y_ac_qi: int = 60,
    row_values: list[int] | None = None,
) -> bytes:
    """Synthesize a COMPLETE spec-layout VP8 keyframe (not just the
    header): token-probability update block (all "keep default"),
    skip disabled, every macroblock DC_PRED/DC, and per-MB-row Y2 DC
    coefficient tokens from row_values (each 0..4, token DCT_0..4 +
    sign) — so every MB row decodes to a different flat luma and a
    wrong residual-partition mapping produces wrong pixels.

    This exists because libwebp 1.2.4's ENCODER never emits more than
    one DCT partition (its config knob is a no-op), leaving the
    multi-partition framing of 9.5 with no reference stream — but its
    DECODER accepts them, so frames synthesized here are decoded by
    BOTH decoders and compared bit-for-bit
    (tests/test_vp8_pixels.py::test_multipartition_*).  Loop filter
    level is 0 and segmentation off: the synthesis targets the
    framing + token + reconstruction path, not the filter.
    """
    from map2db_spark.functions.vp8 import _BoolEncoder

    if not 0 <= dct_partition_log2 <= 3:
        raise WebpError("dct_partition_log2 must be 0..3")
    mb_w, mb_h = (width + 15) // 16, (height + 15) // 16
    nparts = 1 << dct_partition_log2
    vals = [(row_values[r % len(row_values)] if row_values else (r % 5))
            for r in range(mb_h)]
    if any(not 0 <= v <= 4 for v in vals):
        raise WebpError("row_values entries must be 0..4")

    # ---- partition 1: header + prob updates + mode records ----
    e = _BoolEncoder()
    e.literal(0, 1)  # color_space
    e.literal(0, 1)  # clamping_type
    e.literal(0, 1)  # segmentation_enabled
    e.literal(0, 1)  # filter_type
    e.literal(0, 6)  # loop_filter_level 0 -> no filtering
    e.literal(0, 3)  # sharpness
    e.literal(0, 1)  # lf adjust
    e.literal(dct_partition_log2, 2)
    e.literal(y_ac_qi, 7)
    for _ in range(5):
        e.encode(0, 128)  # quantizer deltas absent
    e.literal(1, 1)  # refresh_entropy_probs
    for i in range(1056):  # 13.4: keep every default token prob
        e.encode(0, T.COEFF_UPDATE_PROBS[i])
    e.encode(0, 128)  # mb_no_coeff_skip = 0
    for _ in range(mb_w * mb_h):
        # kf ymode tree: "1,0,0" = DC_PRED (11.2)
        e.encode(1, 145)
        e.encode(0, 156)
        e.encode(0, 163)
        e.encode(0, 142)  # uv mode tree: "0" = DC_PRED
    part1 = e.flush()

    # ---- residual partitions (row r -> partition r % nparts) ----
    def probs(t, band, ctx):
        base = t * 264 + band * 33 + ctx * 11
        return T.COEFF_PROBS[base:base + 11]

    encs = [_BoolEncoder() for _ in range(nparts)]
    a_y2 = [0] * mb_w
    l_y2 = 0
    for my in range(mb_h):
        enc = encs[my % nparts]
        l_y2 = 0
        v = vals[my]
        for mx in range(mb_w):
            # Y2 block (type 1): one DC token of value v, then EOB
            ctx = a_y2[mx] + l_y2
            p = probs(1, _BANDS[0], ctx)
            if v == 0:
                enc.encode(0, p[0])
                nz = 0
            else:
                enc.encode(1, p[0])
                enc.encode(1, p[1])
                if v == 1:
                    enc.encode(0, p[2])
                else:
                    enc.encode(1, p[2])
                    enc.encode(0, p[3])
                    if v == 2:
                        enc.encode(0, p[4])
                    else:
                        enc.encode(1, p[4])
                        enc.encode(v - 3, p[5])
                enc.encode(0, 128)  # sign: positive
                nctx = 1 if v == 1 else 2
                enc.encode(0, probs(1, _BANDS[1], nctx)[0])  # EOB
                nz = 1
            a_y2[mx] = l_y2 = nz
            for _ in range(16):  # Y blocks (type 0, first=1): empty
                enc.encode(0, probs(0, _BANDS[1], 0)[0])
            for _ in range(8):  # U then V (type 2): empty
                enc.encode(0, probs(2, _BANDS[0], 0)[0])
    parts = [enc.flush() for enc in encs]

    import struct

    if len(part1) >= (1 << 19):
        raise WebpError("first partition too large")
    tag = (1 << 4) | (len(part1) << 5)  # keyframe, version 0, shown
    body = (
        struct.pack("<I", tag)[:3]
        + b"\x9d\x01\x2a"
        + struct.pack("<HH", width & 0x3FFF, height & 0x3FFF)
        + part1
    )
    for p in parts[:-1]:
        body += struct.pack("<I", len(p))[:3]
    for p in parts:
        body += p
    padded = body + (b"\x00" if len(body) % 2 else b"")
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(padded)) + b"WEBP"
        + b"VP8 " + struct.pack("<I", len(body)) + padded
    )
