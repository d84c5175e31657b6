"""Pure-stdlib JPEG codec.

The reference renders no pixels at all (its TUI shows metadata only), so
this is north-star multimodal surface, not parity: DCT JPEG (ITU-T
T.81) is the most common real-corpus image format, and its decode needs
nothing beyond integer/float math — huffman tables and quantizers ship
INSIDE the file, so a self-contained decoder is public knowledge
end-to-end.

Decoder: one marker walk, one scan decoder and one renderer serve every
supported frame — sequential (SOF0/1) and progressive (SOF2: spectral
selection and successive approximation with EOB runs) huffman DCT, at
precision 8 or 12, grayscale or YCbCr with any h×v sampling factors,
byte stuffing and DRI/RSTn restart intervals. Every scan decodes into
one zigzag coefficient store; after a sequential frame's scan, or at
EOI of a progressive frame, the store is dequantized and inverse-DCT'd
with the level shift 2^(P-1) and clamp 2^P - 1 of the SOF precision P,
upsampled by pixel replication and colour-converted about the same
2^(P-1) chroma centre. ``decode_jpeg_ex`` returns the samples at either
precision with their maxval; ``decode_jpeg`` is its precision-8 gate
with the byte contract (a bytearray out, NotImplementedError for 12-bit
streams). Lossless, hierarchical and arithmetic-coded frames raise
NotImplementedError — the codec-library-bound residue (the QM-coder
conditioning tables, see the permanent-gates note in SURVEY.md).

Encoders: one sequential writer (SOF0 at precision 8, SOF1 at 12)
serves ``encode_jpeg`` and ``encode_jpeg12``; one progressive writer
(SOF2: spectral selection with optional one-level successive
approximation) serves ``encode_jpeg_progressive`` and
``encode_jpeg12_progressive``. Both writers share one plane-prep step
(RGB -> YCbCr about 2^(P-1), 4:4:4 or 4:2:0 with 2×2-average chroma)
and one header writer; the level shift, clamp, DQT entry width and
huffman tables follow from P. At equal precision, quant and
subsampling the two writers quantize to the same coefficients, so a
progressive stream MUST decode to the same samples as its sequential
twin (the cross-codec test pin) — the progressive fixtures exercise
every progressive decode path. Huffman tables are NOT the Annex-K
suggestions: fixed-length canonical tables built in-code (DC
categories 0..P+3 and EOB+ZRL+every run/size AC symbol, at 4/9 bits
for P=8 and 5/10 bits for P=12, each under the all-ones-code
ceiling), which any conformant decoder reads from the DHT segment like
any other table. Compression ratio is sacrificed for having zero
memorized constants.

Like operators/pixels.py, the per-block loops are plain Python — sized
for the fixture/thumbnail payloads these paths handle in-container; a
production deployment swaps the codec callable behind the same Arrow
stage (operators/multimodal.py holds the Spark plumbing contract).
"""

from __future__ import annotations

import math
import struct

import numpy as _np

from mongo_analyser_spark.operators.pixels import check_dims, untrusted_decoder

#: zigzag scan order: position k in the scan -> natural row-major index
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

_COS = [[math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)] for x in range(8)]
_C = [1.0 / math.sqrt(2.0)] + [1.0] * 7


def _idct8x8(coef: list[float], shift: int = 128, maxv: int = 255) -> list[int]:
    """Separable 2-D inverse DCT + level shift + clamp (natural order).
    ``shift``/``maxv`` default to 8-bit precision; 12-bit scans pass
    2048/4095 (T.81 table 6: level shift is 2^(P-1)).

    The C[u]·row[u] products are hoisted out of the
    inner x loop (they were recomputed 8× each) and the u fold is
    unrolled. Bit-identical: every term keeps the exact two-step
    rounding ((C[u]*row[u])*COS[x][u]) and the exact left-fold
    accumulation order of the nested-loop form (fuzz-pinned against
    the reference loops in tests/test_codec_kernels.py)."""
    C = _C
    COS = _COS
    tmp = [0.0] * 64
    for y in range(8):
        o = y * 8
        a0 = C[0] * coef[o]
        a1 = C[1] * coef[o + 1]
        a2 = C[2] * coef[o + 2]
        a3 = C[3] * coef[o + 3]
        a4 = C[4] * coef[o + 4]
        a5 = C[5] * coef[o + 5]
        a6 = C[6] * coef[o + 6]
        a7 = C[7] * coef[o + 7]
        for x in range(8):
            cx = COS[x]
            s = 0.0
            s += a0 * cx[0]
            s += a1 * cx[1]
            s += a2 * cx[2]
            s += a3 * cx[3]
            s += a4 * cx[4]
            s += a5 * cx[5]
            s += a6 * cx[6]
            s += a7 * cx[7]
            tmp[o + x] = s / 2.0
    out = [0] * 64
    for x in range(8):
        b0 = C[0] * tmp[x]
        b1 = C[1] * tmp[8 + x]
        b2 = C[2] * tmp[16 + x]
        b3 = C[3] * tmp[24 + x]
        b4 = C[4] * tmp[32 + x]
        b5 = C[5] * tmp[40 + x]
        b6 = C[6] * tmp[48 + x]
        b7 = C[7] * tmp[56 + x]
        for y in range(8):
            cy = COS[y]
            s = 0.0
            s += b0 * cy[0]
            s += b1 * cy[1]
            s += b2 * cy[2]
            s += b3 * cy[3]
            s += b4 * cy[4]
            s += b5 * cy[5]
            s += b6 * cy[6]
            s += b7 * cy[7]
            val = int(round(s / 2.0)) + shift
            out[y * 8 + x] = 0 if val < 0 else (maxv if val > maxv else val)
    return out


def _fdct8x8(block: list[int], shift: float = 128.0) -> list[float]:
    """Separable 2-D forward DCT over level-shifted samples.

    Same hoist/unroll treatment as ``_idct8x8``; term grouping and
    fold order are unchanged, so output doubles are bit-identical."""
    C = _C
    COS = _COS
    sh = [v - shift for v in block]
    tmp = [0.0] * 64
    for y in range(8):
        o = y * 8
        r0 = sh[o]
        r1 = sh[o + 1]
        r2 = sh[o + 2]
        r3 = sh[o + 3]
        r4 = sh[o + 4]
        r5 = sh[o + 5]
        r6 = sh[o + 6]
        r7 = sh[o + 7]
        for u in range(8):
            s = 0.0
            s += r0 * COS[0][u]
            s += r1 * COS[1][u]
            s += r2 * COS[2][u]
            s += r3 * COS[3][u]
            s += r4 * COS[4][u]
            s += r5 * COS[5][u]
            s += r6 * COS[6][u]
            s += r7 * COS[7][u]
            tmp[o + u] = s * C[u] / 2.0
    out = [0.0] * 64
    for u in range(8):
        t0 = tmp[u]
        t1 = tmp[8 + u]
        t2 = tmp[16 + u]
        t3 = tmp[24 + u]
        t4 = tmp[32 + u]
        t5 = tmp[40 + u]
        t6 = tmp[48 + u]
        t7 = tmp[56 + u]
        for v in range(8):
            s = 0.0
            s += t0 * COS[0][v]
            s += t1 * COS[1][v]
            s += t2 * COS[2][v]
            s += t3 * COS[3][v]
            s += t4 * COS[4][v]
            s += t5 * COS[5][v]
            s += t6 * COS[6][v]
            s += t7 * COS[7][v]
            out[v * 8 + u] = s * C[v] / 2.0
    return out



#: numpy mirrors of the DCT constant tables (batch kernels)
_COS_NP = _np.array(_COS)
_C_NP = _np.array(_C)


def _idct_batch(coefs, shift: int = 128, maxv: int = 255) -> list[list[int]]:
    """``[_idct8x8(c, shift, maxv) for c in coefs]``, vectorized across
    the batch of natural-order blocks (a list of lists or an (n, 64)
    array). Bit-identical by construction: the u-accumulation loop,
    term grouping ((C[u]*coef)*COS) and /2.0 steps are the exact
    per-element op sequence of the scalar form (numpy float64 mul/add
    are the same IEEE ops), and ``np.rint`` is the same round-half-even
    as Python ``round``. Fuzz-pinned against the scalar in
    tests/test_codec_kernels.py."""
    if len(coefs) == 0:
        return []
    m = _np.array(coefs, dtype=_np.float64).reshape(-1, 8, 8)
    a = m * _C_NP  # a[n,y,u] = C[u]*coef[n,y,u]
    tmp = _np.zeros_like(a)
    for u in range(8):
        tmp += a[:, :, u, None] * _COS_NP[None, :, u]  # += a[n,y,u]*COS[x,u]
    tmp /= 2.0
    b = _C_NP[None, :, None] * tmp  # b[n,u,x] = C[u]*tmp[n,u,x]
    out = _np.zeros_like(b)
    for u in range(8):
        out += _COS_NP[None, :, u][:, :, None] * b[:, None, u, :]
    vals = _np.rint(out / 2.0).astype(_np.int64) + shift
    _np.clip(vals, 0, maxv, out=vals)
    return vals.reshape(-1, 64).tolist()


def _fdct_quant_batch(
    blocks: list[list[int]], q: list[int], shift: float = 128.0
) -> list[list[int]]:
    """Quantized zigzag coefficients for a batch of blocks —
    bit-identical to ``[int(round(_fdct8x8(b, shift)[ZIGZAG[k]] / q[k]))
    for k in range(64)]`` per block, vectorized with the scalar form's
    exact op order (see ``_idct_batch``; the divide-then-round is the
    same IEEE divide + half-even rounding elementwise)."""
    if not blocks:
        return []
    sh = _np.array(blocks, dtype=_np.float64).reshape(-1, 8, 8) - shift
    tmp = _np.zeros_like(sh)
    for i in range(8):
        tmp += sh[:, :, i, None] * _COS_NP[None, i, :]  # += sh[n,y,i]*COS[i,u]
    tmp = tmp * _C_NP / 2.0
    out = _np.zeros_like(tmp)
    for i in range(8):
        out += _COS_NP[i, :][None, :, None] * tmp[:, None, i, :]
    out = out * _C_NP[None, :, None] / 2.0  # out[n,v,u]
    coef = out.reshape(-1, 64)
    zz = _np.rint(coef[:, ZIGZAG] / _np.asarray(q, dtype=_np.float64))
    return zz.astype(_np.int64).tolist()


#: pure-function memo (bits, vals) -> decode table. The in-code
#: encoders emit a fixed DHT set, so the memo stabilizes at a handful
#: of entries; it is derived data rebuilt in every process, capped so
#: foreign streams with many distinct tables stay bounded.
_HUFF_MEMO: dict = {}
_HUFF_MEMO_CAP = 1024


def _build_huff_decode(bits: list[int], vals: bytes) -> dict:
    """Canonical huffman (length, code) -> symbol map from DHT data.

    Also fills a one-level LUT over the next
    ``maxlen`` bits (``__lut__`` key) and memoizes on the DHT payload —
    the per-symbol decode becomes one peek + one list index. JPEG codes
    may be INCOMPLETE, so unmatched patterns stay None and fall back to
    the exact bit-walk for its error semantics."""
    key = (tuple(bits), bytes(vals))
    hit = _HUFF_MEMO.get(key)
    if hit is not None:
        return hit
    table, code, k = {}, 0, 0
    maxlen = 0
    entries = []
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            entries.append((length, code, vals[k]))
            k += 1
            code += 1
            maxlen = length
        code <<= 1
    if entries and all(c < (1 << l) for l, c, _ in entries):
        # (oversubscribed DHT data could push codes past their length's
        # range — such tables keep the walk path and its exact errors)
        lut = [None] * (1 << maxlen)
        for l, c, v in entries:
            # MSB-first stream: codes of length l own the contiguous
            # index range [c << (maxlen-l), (c+1) << (maxlen-l))
            span = 1 << (maxlen - l)
            base = c * span
            lut[base : base + span] = [(v, l)] * span
        table["__lut__"] = (lut, maxlen)
    if len(_HUFF_MEMO) < _HUFF_MEMO_CAP:
        _HUFF_MEMO[key] = table
    return table


def _extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


class _BitReader:
    """MSB-first reader over one entropy-coded segment (already
    de-stuffed and split at restart markers).

    The segment folds into ONE
    big-endian int up front so every read is a shift+mask — the per-bit
    byte-indexed form was ~30% of the baseline-decode profile. Same
    bits (bit p of the stream is bit nbits-1-p of the int), same
    truncation error on the same boundary; consecutive reads make the
    any-bit-past-the-end check equal to the old first-bad-bit check."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position
        self._val = int.from_bytes(data, "big")
        self._nbits = len(data) << 3

    def bit(self) -> int:
        pos = self.pos
        if pos >= self._nbits:
            raise ValueError("truncated JPEG entropy stream")
        self.pos = pos + 1
        return (self._val >> (self._nbits - 1 - pos)) & 1

    def receive(self, n: int) -> int:
        if not n:
            return 0
        pos = self.pos
        nbits = self._nbits
        if pos + n > nbits:
            raise ValueError("truncated JPEG entropy stream")
        self.pos = pos + n
        return (self._val >> (nbits - pos - n)) & ((1 << n) - 1)

    def decode(self, table: dict) -> int:
        # one-level LUT peek over the next maxlen bits (zero-padded
        # at the stream tail); any miss — no LUT, unmatched pattern, or
        # a matched code longer than the remaining bits — falls back to
        # the exact bit-walk so error semantics are unchanged
        ent = table.get("__lut__")
        if ent is not None:
            lut, maxlen = ent
            pos = self.pos
            nbits = self._nbits
            rem = nbits - pos
            if rem >= maxlen:
                peek = (self._val >> (nbits - pos - maxlen)) & (
                    (1 << maxlen) - 1
                )
            elif rem > 0:
                peek = (self._val & ((1 << rem) - 1)) << (maxlen - rem)
            else:
                peek = None
            if peek is not None:
                hit = lut[peek]
                if hit is not None:
                    sym, l = hit
                    if l <= rem:
                        self.pos = pos + l
                        return sym
        return self._decode_walk(table)

    def _decode_walk(self, table: dict) -> int:
        # inline per-bit reads (the symbol walk is the decode hot loop);
        # pos advances only on success — every failure path raises out
        # of the decode either way
        val = self._val
        nbits = self._nbits
        pos = self.pos
        get = table.get
        code = 0
        for length in range(1, 17):
            if pos >= nbits:
                raise ValueError("truncated JPEG entropy stream")
            code = (code << 1) | ((val >> (nbits - 1 - pos)) & 1)
            pos += 1
            sym = get((length, code))
            if sym is not None:
                self.pos = pos
                return sym
        raise ValueError("invalid huffman code in JPEG entropy stream")


def _split_entropy(b: bytes, pos: int) -> tuple[list[bytes], int]:
    """De-stuff the scan data and split it at RSTn markers; stop at the
    first real marker (EOI or a new segment)."""
    segs, cur = [], bytearray()
    n = len(b)
    while pos < n:
        byte = b[pos]
        if byte != 0xFF:
            cur.append(byte)
            pos += 1
            continue
        nxt = b[pos + 1] if pos + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            break
    segs.append(bytes(cur))
    return segs, pos


@untrusted_decoder
def decode_jpeg(b: bytes) -> tuple[int, int, int, bytearray]:
    """(width, height, channels, flat row-major pixel bytes) from an
    8-bit sequential or progressive JPEG. channels is 1 (grayscale)
    or 3 (RGB, converted from YCbCr). Raises NotImplementedError for
    arithmetic / 12-bit streams, ValueError for malformed bytes."""
    w, h, ch, _maxv, px = _decode(b, (8,))
    return w, h, ch, bytearray(px.astype(_np.uint8).tobytes())


@untrusted_decoder
def decode_jpeg_ex(b: bytes) -> tuple[int, int, int, int, list[int]]:
    """(width, height, channels, maxval, flat row-major samples) from a
    sequential or progressive JPEG at precision 8 (maxval 255) or 12
    (maxval 4095). Only lossless, hierarchical and arithmetic-coded
    streams raise NotImplementedError."""
    w, h, ch, maxv, px = _decode(b, (8, 12))
    return w, h, ch, maxv, px.reshape(-1).tolist()


def _decode(b: bytes, precisions: tuple[int, ...]):
    """Walk the markers of a JPEG whose SOF precision is one of
    ``precisions``: (width, height, channels, maxval, samples as an
    (h, w) or (h, w, 3) int64 array). A sequential frame renders after
    its one scan; a progressive frame accumulates every scan into the
    coefficient store and renders at EOI."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    sof = store = None
    precision = 8
    restart_interval = 0
    progressive = False
    saw_scan = False
    while pos < len(b):
        if b[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
        # marker — skip them instead of reading a bogus 0xFF "marker"
        # and unpacking garbage as a segment length
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(b):
            break
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", b[pos + 2:pos + 4])
        data = b[pos + 4:pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                i += 1
                if pq == 0:
                    qt[tq] = list(data[i:i + 64])
                    i += 64
                else:
                    qt[tq] = [
                        struct.unpack(">H", data[i + 2 * k:i + 2 * k + 2])[0]
                        for k in range(64)
                    ]
                    i += 128
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                bits = list(data[i + 1:i + 17])
                nvals = sum(bits)
                vals = data[i + 17:i + 17 + nvals]
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huff_decode(bits, vals)
                i += 17 + nvals
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            precision = data[0]
            if precision not in precisions:
                raise NotImplementedError(
                    f"JPEG precision {precision} "
                    f"(need {' or '.join(map(str, precisions))})"
                )
            h, w = struct.unpack(">HH", data[1:5])
            check_dims(w, h, "JPEG")
            comps = []
            for c in range(data[5]):
                cid, hv, tq = data[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            if len(comps) == 1:
                # a lone component is never interleaved: its MCU is one block
                comps[0]["h"] = comps[0]["v"] = 1
            elif any(not c["h"] or not c["v"] for c in comps):
                raise ValueError("JPEG sampling factor 0")
            sof = (w, h, comps)
            progressive = marker == 0xC2
            store = _init_coef_store(sof)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "lossless, hierarchical and arithmetic-coded JPEG are "
                "outside the stdlib decoder (sequential and progressive "
                "huffman DCT decode); plug a codec library via decoder= "
                "callables"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker == 0xDA:  # SOS
            if sof is None:
                raise ValueError("JPEG SOS before SOF")
            ns = data[0]
            if ns > len(sof[2]):
                raise ValueError("JPEG SOS lists more components than SOF")
            if progressive:
                by_id = {c["id"]: c for c in sof[2]}
                scan_list = []
                for c in range(ns):
                    cs, td_ta = data[1 + 2 * c:3 + 2 * c]
                    scan_list.append((by_id[cs], td_ta >> 4, td_ta & 15))
                ss, se, ahal = data[1 + 2 * ns:4 + 2 * ns]
                if ss == 0 and se != 0:
                    raise ValueError("JPEG progressive DC scan with Se != 0")
                if ss and ns != 1:
                    raise ValueError(
                        "JPEG progressive AC scan must be single-component"
                    )
                segs, pos = _split_entropy(b, pos)
                _decode_scan(
                    sof, scan_list, ss, se, ahal >> 4, ahal & 15,
                    huff_dc, huff_ac, segs, restart_interval, store,
                )
                saw_scan = True
                continue
            if ns < len(sof[2]):
                # a spec-legal sequential stream may split components
                # across several scans; this decoder handles the
                # (dominant) single interleaved scan only — fail loudly
                # instead of decoding partial planes as if complete
                raise NotImplementedError(
                    "multi-scan (non-interleaved) sequential JPEG: SOS "
                    f"covers {ns} of {len(sof[2])} SOF components; plug "
                    "a codec library via decoder= callables"
                )
            tables = {}
            for c in range(ns):
                cs, td_ta = data[1 + 2 * c:3 + 2 * c]
                tables[cs] = (td_ta >> 4, td_ta & 15)
            scan_list = [(c, *tables[c["id"]]) for c in sof[2]]
            segs, pos = _split_entropy(b, pos)
            _decode_scan(
                sof, scan_list, 0, 63, 0, 0,
                huff_dc, huff_ac, segs, restart_interval, store,
            )
            return _render(sof, qt, store, precision)
    if progressive and saw_scan:
        return _render(sof, qt, store, precision)
    raise ValueError("JPEG has no scan data")


def _comp_geometry(sof):
    """(hmax, vmax, mcux, mcuy) plus per-component padded-grid block
    stride/height and the T.81 non-interleaved block counts."""
    w, h, comps = sof
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for c in comps:
        c["bw_pad"] = mcux * c["h"]
        c["bh_pad"] = mcuy * c["v"]
        c["nbx"] = -(-(-(-w * c["h"] // hmax)) // 8)
        c["nby"] = -(-(-(-h * c["v"] // vmax)) // 8)
    return hmax, vmax, mcux, mcuy


def _init_coef_store(sof):
    """Per-component zigzag-order coefficient blocks over the padded
    MCU grid: every scan of the frame decodes into these, and
    ``_render`` dequantizes and inverse-DCTs them once."""
    _comp_geometry(sof)
    return {
        c["id"]: [[0] * 64 for _ in range(c["bw_pad"] * c["bh_pad"])]
        for c in sof[2]
    }


def _ac_first_block(reader, table, coef, ss, se, al, eobrun):
    """T.81 G.2 AC 'first' scan for one block (Ah == 0): run/size with
    EOBn run-length codes, values shifted left by the point transform."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode(table)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            return (1 << r) - 1 + (reader.receive(r) if r else 0)
        k += r
        if k > se:
            raise ValueError("JPEG progressive AC index overflow")
        coef[k] = _extend(reader.receive(s), s) << al
        k += 1
    return 0


def _ac_refine_block(reader, table, coef, ss, se, al, eobrun):
    """T.81 G.2 AC refinement scan for one block (Ah == Al + 1):
    newly-significant ±1<<Al insertions interleaved with one correction
    bit per already-nonzero coefficient crossed (libjpeg's
    decode_mcu_AC_refine shape)."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode(table)
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r < 15:  # EOBn: this block ends; r more blocks follow
                    eobrun = (1 << r) - 1 + (reader.receive(r) if r else 0)
                    break
                # ZRL: crosses 16 zero-history slots below
            elif s == 1:
                val = p1 if reader.bit() else m1
            else:
                raise ValueError("bad progressive refinement symbol")
            while k <= se:
                if coef[k] != 0:
                    if reader.bit() and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                coef[k] = val
            k += 1
    else:
        eobrun -= 1
    while k <= se:  # EOB-covered tail: correction bits only
        if coef[k] != 0:
            if reader.bit() and (coef[k] & p1) == 0:
                coef[k] += p1 if coef[k] > 0 else m1
        k += 1
    return eobrun


def _decode_scan(sof, scan_list, ss, se, ah, al,
                 huff_dc, huff_ac, segs, ri, store):
    """Entropy-decode one scan into the coefficient store.

    The spectral band Ss..Se and the approximation bits Ah/Al name the
    scan (T.81 G.1.2): Ss=0 with Se>0 codes whole blocks (a sequential
    scan, passed as 0..63 with Ah=Al=0); a progressive scan codes the DC
    band, first or refinement, or one AC band, first or refinement. An
    interleaved scan walks the MCU grid, each MCU holding every listed
    component's h×v blocks; a one-component scan walks that component's
    own block grid. Each restart interval starts a new entropy segment
    and resets the DC predictors and the EOB run."""
    _hmax, _vmax, mcux, mcuy = _comp_geometry(sof)
    if len(scan_list) > 1:
        units = [
            [
                (c, td, ta, (my * c["v"] + by) * c["bw_pad"] + mx * c["h"] + bx)
                for c, td, ta in scan_list
                for by in range(c["v"])
                for bx in range(c["h"])
            ]
            for my in range(mcuy)
            for mx in range(mcux)
        ]
    else:
        c, td, ta = scan_list[0]
        units = [
            [(c, td, ta, by * c["bw_pad"] + bx)]
            for by in range(c["nby"])
            for bx in range(c["nbx"])
        ]
    ac_band = _ac_first_block if ah == 0 else _ac_refine_block
    seg_i = 0
    reader = _BitReader(segs[0])
    preds: dict[int, int] = {}
    eobrun = 0
    for m, unit in enumerate(units):
        if ri and m and m % ri == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError("JPEG restart marker count mismatch")
            reader = _BitReader(segs[seg_i])
            preds = {}
            eobrun = 0
        for c, td, ta, bidx in unit:
            coef = store[c["id"]][bidx]
            if ss:
                eobrun = ac_band(reader, huff_ac[ta], coef, ss, se, al, eobrun)
            elif ah:  # DC refinement: one raw bit per block
                if reader.bit():
                    coef[0] |= 1 << al
            else:
                t = reader.decode(huff_dc[td])
                pred = preds.get(c["id"], 0)
                if t:
                    pred += _extend(reader.receive(t), t)
                preds[c["id"]] = pred
                coef[0] = pred << al
                if se:
                    _ac_sequential_block(reader, huff_ac[ta], coef)


def _ac_sequential_block(reader, table, coef):
    """T.81 F.2.2.2: the AC run/size codes of one sequential block up
    to EOB (every run-0 symbol but ZRL ends the block)."""
    k = 0
    while k < 63:
        rs = reader.decode(table)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            return
        k += r + 1
        if k > 63:
            raise ValueError("JPEG AC index overflow")
        coef[k] = _extend(reader.receive(s), s)


def _render(sof, qt, store, precision: int):
    """Dequantize and inverse-DCT every block of the store with the
    T.81 level shift 2^(P-1) and clamp 2^P - 1 of the SOF precision P,
    then crop, upsample (pixel replication) and colour-convert YCbCr
    about the same 2^(P-1) chroma centre: (width, height, channels,
    maxval, samples as an (h, w) or (h, w, 3) int64 array)."""
    w, h, comps = sof
    hmax, vmax, _mcux, _mcuy = _comp_geometry(sof)
    shift, maxv = 1 << (precision - 1), (1 << precision) - 1
    planes = []
    for c in comps:
        if c["tq"] not in qt:
            raise ValueError("JPEG stream missing DQT")
        zz = _np.array(store[c["id"]], dtype=_np.float64) * qt[c["tq"]]
        nat = _np.zeros_like(zz)
        nat[:, ZIGZAG] = zz
        px = _np.array(_idct_batch(nat, shift, maxv))
        planes.append(
            px.reshape(c["bh_pad"], c["bw_pad"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c["bh_pad"] * 8, c["bw_pad"] * 8)
        )
    if len(comps) == 1:
        return w, h, 1, maxv, planes[0][:h, :w]
    # component order in SOF is Y, Cb, Cr for JFIF streams; cell
    # (y, x) of a component reads its plane at (y*v//vmax, x*h//hmax)
    yv, bv, rv = (
        p[(_np.arange(h) * c["v"] // vmax)[:, None],
          (_np.arange(w) * c["h"] // hmax)[None, :]]
        for p, c in zip(planes[:3], comps)
    )
    bv = bv - shift
    rv = rv - shift
    r = _np.rint(yv + 1.402 * rv).astype(_np.int64)
    g = _np.rint(yv - 0.344136 * bv - 0.714136 * rv).astype(_np.int64)
    bl = _np.rint(yv + 1.772 * bv).astype(_np.int64)
    rgb = _np.stack([r, g, bl], axis=-1)
    _np.clip(rgb, 0, maxv, out=rgb)
    return w, h, 3, maxv, rgb


# --- encoder ---------------------------------------------------------------


def _fixed_table(symbols: list[int], length: int):
    """(bits, vals, symbol->(code,length)) for an all-one-length
    canonical table."""
    assert len(symbols) <= (1 << length) - 1
    bits = [0] * 16
    bits[length - 1] = len(symbols)
    enc = {sym: (i, length) for i, sym in enumerate(symbols)}
    return bits, bytes(symbols), enc


#: precision P -> (DC table, AC table), fixed-length canonical (see
#: module doc): DC categories 0..P+3, and EOB + ZRL + every run/size
#: pair with sizes 1..P+2, at 4/9 bits for P=8 and 5/10 bits for P=12 —
#: each table leaves the all-ones code unused
_TABLES = {
    p: (
        _fixed_table(list(range(p + 4)), dc_len),
        _fixed_table(
            sorted({0x00, 0xF0} | {
                (r << 4) | s for r in range(16) for s in range(1, p + 3)
            }),
            ac_len,
        ),
    )
    for p, dc_len, ac_len in ((8, 4, 9), (12, 5, 10))
}


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.n) - 1

    def write_run(self, code: int, length: int) -> None:
        """Append ``length`` bits in one fold — bit-identical to the
        equivalent ``write`` sequence including byte stuffing (each
        emitted 0xFF is followed by 0x00; ``bytes.replace`` performs
        exactly the per-byte rule). Used by the block entropy encoder,
        which folds a whole block's codes into one int first."""
        acc = (self.acc << length) | code
        n = self.n + length
        rem = n & 7
        nbytes = n >> 3
        if nbytes:
            chunk = (acc >> rem).to_bytes(nbytes, "big")
            if b"\xff" in chunk:
                chunk = chunk.replace(b"\xff", b"\xff\x00")
            self.out += chunk
            acc &= (1 << rem) - 1
        self.acc = acc
        self.n = rem

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s
        return bytes(self.out)


def _category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _encode_zz(
    bw: _BitWriter,
    zz: list[int],
    pred: int,
    dc_enc: dict,
    ac_enc: dict,
) -> int:
    """Entropy-encode one quantized zigzag block (the FDCT+quantize runs
    batched before, in ``_fdct_quant_batch``). The block's codes are
    folded into ONE int and emitted via ``write_run`` — bit-identical to
    the per-code ``write`` calls."""
    acc = 0
    nbits = 0
    diff = zz[0] - pred
    t = _category(diff)
    c, ln = dc_enc[t]
    acc = (acc << ln) | c
    nbits += ln
    if t:
        acc = (acc << t) | (diff if diff > 0 else diff + (1 << t) - 1)
        nbits += t
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_enc[0xF0]  # ZRL
            acc = (acc << ln) | c
            nbits += ln
            run -= 16
        s = _category(v)
        c, ln = ac_enc[(run << 4) | s]
        acc = (acc << (ln + s)) | (c << s) | (
            v if v > 0 else v + (1 << s) - 1
        )
        nbits += ln + s
        run = 0
    if run:
        c, ln = ac_enc[0x00]  # EOB
        acc = (acc << ln) | c
        nbits += ln
    bw.write_run(acc, nbits)
    return zz[0]


def _block_at(plane: list[int], pw: int, ph: int, ox: int, oy: int) -> list[int]:
    """8x8 block with edge replication past the image border."""
    out = []
    for y in range(8):
        sy = min(oy + y, ph - 1)
        for x in range(8):
            out.append(plane[sy * pw + min(ox + x, pw - 1)])
    return out


def _clamp_round(v, maxv: int) -> list[int]:
    """int(round(·)) + [0, maxv] clamp, vectorized — np.rint is the
    same round-half-even as Python round."""
    x = _np.rint(v).astype(_np.int64)
    _np.clip(x, 0, maxv, out=x)
    return x.tolist()


def _rgb_to_ycbcr_planes(
    samples, center: int, maxv: int
) -> tuple[list[int], list[int], list[int]]:
    """RGB -> (Y, Cb, Cr) integer planes about ``center`` with a
    ``maxv`` clamp, vectorized with the scalar form's exact
    left-associated op order per component; bit-identical (pinned in
    tests/test_codec_kernels.py)."""
    if isinstance(samples, (bytes, bytearray)):
        s = _np.frombuffer(samples, dtype=_np.uint8).astype(_np.float64)
    else:
        s = _np.asarray(samples, dtype=_np.float64)
    s = s.reshape(-1, 3)
    r, g, bl = s[:, 0], s[:, 1], s[:, 2]
    ys = _clamp_round(0.299 * r + 0.587 * g + 0.114 * bl, maxv)
    cbs = _clamp_round(
        center - 0.168736 * r - 0.331264 * g + 0.5 * bl, maxv
    )
    crs = _clamp_round(
        center + 0.5 * r - 0.418688 * g - 0.081312 * bl, maxv
    )
    return ys, cbs, crs


def _down2x2(plane: list[int], w: int, h: int) -> list[int]:
    """2x2-average downsample (border cells average the 1-2 in-image
    samples). Vectorized: the 4 cell sums are exact integer adds and
    the final acc/cnt + round is the same single IEEE divide +
    half-even round as the scalar form."""
    cw, ch = -(-w // 2), -(-h // 2)
    a = _np.zeros((ch * 2, cw * 2), dtype=_np.int64)
    a[:h, :w] = _np.asarray(plane, dtype=_np.int64).reshape(h, w)
    m = _np.zeros((ch * 2, cw * 2), dtype=_np.int64)
    m[:h, :w] = 1
    acc = a[0::2, 0::2] + a[0::2, 1::2] + a[1::2, 0::2] + a[1::2, 1::2]
    cnt = m[0::2, 0::2] + m[0::2, 1::2] + m[1::2, 0::2] + m[1::2, 1::2]
    return _np.rint(acc / cnt).astype(_np.int64).reshape(-1).tolist()


def _check_buffer(w: int, h: int, channels: int, samples) -> None:
    if channels not in (1, 3):
        raise ValueError(f"unsupported channel count {channels}")
    if len(samples) != w * h * channels:
        raise ValueError("sample buffer does not match dimensions")


def _check12(w: int, h: int, channels: int, samples, subsample: bool) -> None:
    """The 12-bit writers' input checks: samples in 0..4095, and
    ``subsample`` only on 3-channel input."""
    _check_buffer(w, h, channels, samples)
    if any(not 0 <= v <= 4095 for v in samples):
        raise ValueError("12-bit samples must be in 0..4095")
    if channels == 1 and subsample:
        raise ValueError("subsample requires 3-channel input")


def _planes(w: int, h: int, channels: int, samples, subsample: bool,
            precision: int):
    """(planes, samp, dims, mcux, mcuy) of a checked input: grayscale
    as given, or RGB converted to YCbCr about the 2^(P-1) centre, with
    2x2-averaged chroma (4:2:0) when ``subsample`` — grayscale has
    nothing to subsample and ignores it — plus each plane's size and
    the MCU grid."""
    if channels == 1:
        planes, samp = [list(samples)], [(1, 1)]
    else:
        planes = list(_rgb_to_ycbcr_planes(
            samples, 1 << (precision - 1), (1 << precision) - 1
        ))
        samp = [(1, 1)] * 3
        if subsample:
            planes[1:] = [_down2x2(p, w, h) for p in planes[1:]]
            samp = [(2, 2), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    dims = [(-(-w * sh // hmax), -(-h * sv // vmax)) for sh, sv in samp]
    return planes, samp, dims, -(-w // (8 * hmax)), -(-h // (8 * vmax))


def _quantizer(quant: int, precision: int) -> list[int]:
    """The flat quantizer, clamped to the DQT entry width: 8-bit
    entries (Pq=0) at precision 8, 16-bit (Pq=1) at precision 12."""
    return [max(1, min(65535 if precision > 8 else 255, quant))] * 64


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _headers(sof_marker: int, precision: int, w: int, h: int, samp,
             q: list[int], restart_interval: int = 0) -> bytearray:
    """SOI, DQT, DRI (when restarting), SOF and the two DHT segments of
    the precision's fixed tables."""
    (dc_bits, dc_vals, _), (ac_bits, ac_vals, _) = _TABLES[precision]
    pq = int(precision > 8)
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([pq << 4]) + struct.pack(">64" + "BH"[pq], *q))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sof = struct.pack(">BHHB", precision, h, w, len(samp))
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, 0])
    out += _seg(sof_marker, sof)
    out += _seg(0xC4, bytes([0x00]) + bytes(dc_bits) + dc_vals)
    out += _seg(0xC4, bytes([0x10]) + bytes(ac_bits) + ac_vals)
    return out


def _sos(comp_ids, ss: int, se: int, ah: int, al: int) -> bytes:
    sos = bytes([len(comp_ids)])
    for ci in comp_ids:
        sos += bytes([ci + 1, 0x00])
    return _seg(0xDA, sos + bytes([ss, se, (ah << 4) | al]))


def _write_sequential(w, h, channels, samples, precision, quant,
                      subsample, restart_interval) -> bytes:
    """The sequential writer: SOF0 at precision 8, SOF1 at 12. Every
    block is gathered in scan order and run through ONE batched
    FDCT+quantize, then entropy-coded; ``restart_interval=N`` emits
    DRI + RSTn markers every N MCUs."""
    q = _quantizer(quant, precision)
    planes, samp, dims, mcux, mcuy = _planes(
        w, h, channels, samples, subsample, precision
    )
    (_, _, dc_enc), (_, _, ac_enc) = _TABLES[precision]
    metas: list[tuple[int, int]] = []  # (mcu, component)
    blocks: list[list[int]] = []
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci, plane in enumerate(planes):
            sh, sv = samp[ci]
            pw, ph = dims[ci]
            for by in range(sv):
                for bx in range(sh):
                    metas.append((m, ci))
                    blocks.append(_block_at(
                        plane, pw, ph, (mx * sh + bx) * 8, (my * sv + by) * 8
                    ))
    zzs = _fdct_quant_batch(blocks, q, shift=float(1 << (precision - 1)))
    bw = _BitWriter()
    preds = [0] * len(planes)
    out = _headers(0xC0 if precision == 8 else 0xC1, precision, w, h,
                   samp, q, restart_interval)
    out += _sos(range(len(planes)), 0, 63, 0, 0)
    prev_m = 0
    for (m, ci), zz in zip(metas, zzs):
        if restart_interval and m != prev_m and m % restart_interval == 0:
            out += bw.flush()
            out += bytes([0xFF, 0xD0 + ((m // restart_interval - 1) % 8)])
            bw = _BitWriter()
            preds = [0] * len(planes)
        prev_m = m
        preds[ci] = _encode_zz(bw, zz, preds[ci], dc_enc, ac_enc)
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _enc_ac_first(bw: _BitWriter, zz: list[int], ss: int, se: int,
                  al: int, enc: dict) -> None:
    """Progressive AC 'first' scan for one block: run/size over the
    point-transformed (toward-zero |v| >> Al) band, EOB0 at block end
    (this encoder never emits EOBn > 0 — less compact, always valid)."""
    run = 0
    for k in range(ss, se + 1):
        v = zz[k]
        va = abs(v) >> al
        if va == 0:
            run += 1
            continue
        if v < 0:
            va = -va
        while run > 15:
            bw.write(*enc[0xF0])
            run -= 16
        s = _category(va)
        bw.write(*enc[(run << 4) | s])
        bw.write(va if va > 0 else va + (1 << s) - 1, s)
        run = 0
    if run:
        bw.write(*enc[0x00])


def _enc_ac_refine(bw: _BitWriter, zz: list[int], ss: int, se: int,
                   al: int, enc: dict) -> None:
    """Progressive AC refinement scan for one block (Ah = Al + 1):
    newly-significant coefficients (|v| >> Al == 1) coded as (run, 1) +
    sign, correction bits for already-nonzero coefficients emitted in
    the exact walk order the decoder consumes them (after the symbol's
    own sign bit / after ZRL / after EOB)."""
    ah = al + 1

    def hist(v: int) -> int:
        return abs(v) >> ah

    k = ss
    while k <= se:
        # scan ahead for the next newly-significant coefficient
        run = 0
        found = None
        j = k
        while j <= se:
            v = zz[j]
            if hist(v) == 0:
                if (abs(v) >> al) == 1:
                    found = j
                    break
                run += 1
            j += 1
        if found is None:
            # EOB + correction bits for the remaining nonzero-history
            bw.write(*enc[0x00])
            for p in range(k, se + 1):
                if hist(zz[p]) != 0:
                    bw.write((abs(zz[p]) >> al) & 1, 1)
            return
        while run > 15:
            bw.write(*enc[0xF0])
            consumed = 0
            while consumed < 16:
                v = zz[k]
                if hist(v) == 0:  # zero-history (never new-sig here)
                    consumed += 1
                else:
                    bw.write((abs(v) >> al) & 1, 1)
                k += 1
            run -= 16
        bw.write(*enc[(run << 4) | 1])
        bw.write(1 if zz[found] > 0 else 0, 1)
        for p in range(k, found):
            if hist(zz[p]) != 0:
                bw.write((abs(zz[p]) >> al) & 1, 1)
        k = found + 1


def _write_progressive(w, h, channels, samples, precision, quant,
                       subsample, successive) -> bytes:
    """The progressive writer (SOF2): spectral selection — one
    interleaved DC scan, then one 1..63 AC scan per component — and,
    with ``successive``, one level of successive approximation (DC and
    AC first scans at Al=1, then refinement scans at Ah=1/Al=0).
    Quantized coefficients are the sequential writer's at the same
    precision, quant and subsampling.

    Per T.81 the interleaved DC scan covers the PADDED MCU grid (edge
    MCUs carry dummy blocks, encoded here from edge-replicated
    content) while the non-interleaved AC scans cover only each
    component's own nbx×nby block grid."""
    q = _quantizer(quant, precision)
    planes, samp, dims, mcux, mcuy = _planes(
        w, h, channels, samples, subsample, precision
    )
    (_, _, dc_enc), (_, _, ac_enc) = _TABLES[precision]
    ncomp = len(planes)
    zz_blocks = []  # per comp: padded-grid raster-order zigzag blocks
    ac_order = []  # per comp: padded-grid indices of its nbx×nby grid
    dc_order = []  # (ci, padded-grid index) per block, T.81 MCU order
    for ci, plane in enumerate(planes):
        sh, sv = samp[ci]
        pw, ph = dims[ci]
        bw_pad, bh_pad = mcux * sh, mcuy * sv
        # one batched FDCT+quantize per plane (see _fdct_quant_batch)
        zz_blocks.append(_fdct_quant_batch(
            [
                _block_at(plane, pw, ph, bx * 8, by * 8)
                for by in range(bh_pad)
                for bx in range(bw_pad)
            ],
            q,
            shift=float(1 << (precision - 1)),
        ))
        ac_order.append([
            by * bw_pad + bx
            for by in range(-(-ph // 8))
            for bx in range(-(-pw // 8))
        ])
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci, (sh, sv) in enumerate(samp):
            for by in range(sv):
                for bx in range(sh):
                    dc_order.append(
                        (ci, (my * sv + by) * mcux * sh + (mx * sh + bx))
                    )

    al = 1 if successive else 0
    out = _headers(0xC2, precision, w, h, samp, q)
    bw = _BitWriter()
    preds = [0] * ncomp
    for ci, bidx in dc_order:
        v = zz_blocks[ci][bidx][0] >> al  # arithmetic shift, T.81 DC PT
        diff = v - preds[ci]
        preds[ci] = v
        t = _category(diff)
        bw.write(*dc_enc[t])
        if t:
            bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    out += _sos(range(ncomp), 0, 0, 0, al) + bw.flush()
    if successive:  # DC refinement: one raw bit per block
        bw = _BitWriter()
        for ci, bidx in dc_order:
            bw.write(zz_blocks[ci][bidx][0] & 1, 1)
        out += _sos(range(ncomp), 0, 0, 1, 0) + bw.flush()
    for ci in range(ncomp):  # AC first scans, one component each
        bw = _BitWriter()
        for bidx in ac_order[ci]:
            _enc_ac_first(bw, zz_blocks[ci][bidx], 1, 63, al, ac_enc)
        out += _sos([ci], 1, 63, 0, al) + bw.flush()
    if successive:  # AC refinement scans
        for ci in range(ncomp):
            bw = _BitWriter()
            for bidx in ac_order[ci]:
                _enc_ac_refine(bw, zz_blocks[ci][bidx], 1, 63, 0, ac_enc)
            out += _sos([ci], 1, 63, 1, 0) + bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg(
    w: int,
    h: int,
    channels: int,
    pixels: bytes,
    quant: int = 16,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JPEG writer (SOF0): grayscale (channels=1) or color
    (channels=3, RGB in; 4:4:4, or 4:2:0 with ``subsample=True``, which
    grayscale ignores). ``restart_interval=N`` emits DRI + RSTn markers
    every N MCUs (used to exercise the decoder's restart/resync path)."""
    _check_buffer(w, h, channels, pixels)
    return _write_sequential(
        w, h, channels, pixels, 8, quant, subsample, restart_interval
    )


def encode_jpeg12(
    w: int,
    h: int,
    channels: int,
    samples: list[int],
    quant: int = 16,
    restart_interval: int = 0,
    subsample: bool = False,
) -> bytes:
    """Extended-sequential 12-bit JPEG writer (SOF1): grayscale
    (channels=1, samples 0..4095) or color (channels=3, 12-bit RGB in;
    4:4:4, or 4:2:0 with ``subsample=True``). The flat quantizer is
    written as a 16-bit DQT (Pq=1 — exercising the decoder's wide-table
    branch)."""
    _check12(w, h, channels, samples, subsample)
    return _write_sequential(
        w, h, channels, samples, 12, quant, subsample, restart_interval
    )


def encode_jpeg_progressive(
    w: int,
    h: int,
    channels: int,
    pixels: bytes,
    quant: int = 16,
    successive: bool = True,
) -> bytes:
    """Progressive 8-bit JPEG writer (SOF2, 4:4:4). Quantized
    coefficients are identical to ``encode_jpeg``'s at the same
    ``quant``, so the decoded pixels must match the baseline stream's
    decode EXACTLY — the cross-codec test contract."""
    _check_buffer(w, h, channels, pixels)
    return _write_progressive(
        w, h, channels, pixels, 8, quant, False, successive
    )


def encode_jpeg12_progressive(
    w: int,
    h: int,
    channels: int,
    samples: list[int],
    quant: int = 16,
    successive: bool = True,
    subsample: bool = False,
) -> bytes:
    """Progressive 12-bit JPEG writer (SOF2 precision 12; 4:4:4, or
    4:2:0 with ``subsample=True``). Quantized coefficients are
    identical to ``encode_jpeg12``'s at the same ``quant``/``subsample``,
    so both containers must decode (via decode_jpeg_ex) to the same
    samples."""
    _check12(w, h, channels, samples, subsample)
    return _write_progressive(
        w, h, channels, samples, 12, quant, subsample, successive
    )
