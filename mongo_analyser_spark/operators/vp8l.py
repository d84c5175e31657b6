"""Pure-stdlib WebP-LOSSLESS (VP8L) codec [EXT — the lossless half of
the WebP gate closes].

WebP is ubiquitous in scraped web corpora; its LOSSLESS coding mode
(VP8L, the public "WebP Lossless Bitstream Specification") is — like
PNG/FLAC — implementable with integer math and prefix codes alone:
canonical huffman groups over (green+length+cache, red, blue, alpha,
distance) alphabets, LZ77 backward references with a 2-D distance map,
an LRU color cache, and four invertible transforms (predictor / color /
subtract-green / palette with pixel bundling). Lossy WebP (VP8 intra
prediction + DCT) remains the honest codec gate.

Decoder (`decode_webp_lossless`): the full still-image feature set —
all four transforms (any nesting order the spec allows), meta-huffman
(multiple entropy groups via the entropy image), color cache, LZ77
with the 120-entry 2-D distance map, pixel bundling for ≤16-color
palettes, both "simple" and RLE-coded prefix code descriptions.

Encoder (`encode_webp_lossless`): spec-valid minimal stream — no
transforms, single huffman group, canonical length-limited codes built
from symbol histograms, optional color cache off; every pixel a
literal. Bit-exact on decode (lossless by construction), which is what
the round-trip tests and any future oracle row rely on.

Spec constants embedded below (code-length-code order, the 2-D distance
map) are normative public data, like the MP3 bitrate tables in
operators/audio.py.
"""

from __future__ import annotations

import struct

from mongo_analyser_spark.operators.pixels import (
    check_dims,
    riff_chunks,
    untrusted_decoder,
)

#: code-length-code read order (spec 6.2.2)
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

#: 2-D neighborhood for short LZ77 distances (spec 6.2.3): 120 (dx, dy)
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


class _LsbReader:
    """LSB-first bit reader (VP8L packs bits little-endian).

    r15 (guide §1.2 per-task work): the byte buffer is folded into ONE
    little-endian int up front so ``read`` is a shift+mask instead of a
    per-bit loop — the per-bit form was ~30% of the decode profile
    (1.03M calls per 300 images). Bit-identical by construction: bit i
    of the int IS bit (i&7) of byte (i>>3), the exact bit the loop
    extracted; the truncation guard errors on the same boundary
    (any requested bit at or past len(data)*8)."""

    def __init__(self, data: bytes, bitpos: int = 0):
        self.data = data
        self.pos = bitpos
        self._val = int.from_bytes(data, "little")
        self._nbits = len(data) << 3

    def read(self, n: int) -> int:
        pos = self.pos
        if n and pos + n > self._nbits:
            raise ValueError("truncated VP8L bitstream")
        self.pos = pos + n
        return (self._val >> pos) & ((1 << n) - 1)


class _LsbWriter:
    """r15 (guide §1.2): bits accumulate LSB-first in a small int and
    flush to the bytearray a whole byte at a time — the per-bit append
    was ~17% of the encode profile. Identical stream: bit k of a write
    lands at absolute bit (total_bits_so_far + k), exactly where the
    per-bit loop put it."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, n: int) -> None:
        acc = self._acc | ((value & ((1 << n) - 1)) << self._nbits)
        nb = self._nbits + n
        out = self.out
        while nb >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nb -= 8
        self._acc = acc
        self._nbits = nb

    def write_run(self, value: int, n: int) -> None:
        """Append ``n`` bits in one fold — bit-identical to the
        equivalent ``write`` sequence (bit k of the value lands at
        absolute bit total_so_far+k); whole bytes flush via ONE
        little-endian ``int.to_bytes`` (r15, guide §1.2). Used by the
        encoder, which folds whole code-length vectors / pixel bodies
        into one int first."""
        acc = self._acc | ((value & ((1 << n) - 1)) << self._nbits)
        nb = self._nbits + n
        nbytes = nb >> 3
        if nbytes:
            self.out += (acc & ((1 << (nbytes * 8)) - 1)).to_bytes(
                nbytes, "little"
            )
            acc >>= nbytes * 8
            nb &= 7
        self._acc = acc
        self._nbits = nb

    def bytes(self) -> bytes:
        if self._nbits:
            return bytes(self.out) + bytes([self._acc])
        return bytes(self.out)


#: pure-function memo lengths-tuple -> decode table (r15). Huffman
#: tables recur heavily across documents (tiny images produce few
#: distinct length vectors); the memo is derived data rebuilt in every
#: process — nothing persists across runs. Capped so a pathological
#: corpus cannot grow it unboundedly.
_HUFF_MEMO: dict = {}
_HUFF_MEMO_CAP = 8192


def _build_huffman(lengths: list[int]) -> dict:
    """Canonical huffman (deflate convention): (len, code) -> symbol,
    codes read MSB-of-code-first. A single used symbol decodes with
    zero bits (spec: a code of length 0 for everything but one symbol
    means that symbol is implicit).

    r15 (guide §1.2): alongside the walk table the builder fills a
    one-level LUT over the next ``maxlen`` bits (``lut``/``maxlen``
    keys) when maxlen is small, and the whole result is memoized on the
    lengths tuple — the per-symbol decode becomes one peek + one list
    index. The code is complete (Kraft-checked), so every maxlen-bit
    pattern maps to exactly the symbol the bit-walk would find."""
    key = tuple(lengths)
    hit = _HUFF_MEMO.get(key)
    if hit is not None:
        return hit
    used = [(l, s) for s, l in enumerate(lengths) if l > 0]
    if not used:
        raise ValueError("VP8L prefix code with no symbols")
    if len(used) == 1:
        table = {"single": used[0][1]}
        if len(_HUFF_MEMO) < _HUFF_MEMO_CAP:
            _HUFF_MEMO[key] = table
        return table
    table = {}
    code = 0
    maxlen = max(l for l, _ in used)
    counts = [0] * (maxlen + 1)
    for l, _ in used:
        counts[l] += 1
    next_code = [0] * (maxlen + 2)
    for l in range(1, maxlen + 1):
        code = (code + counts[l - 1]) << 1
        next_code[l] = code
    # completeness check: a malformed (over/under-subscribed) code must
    # fail here, not loop during pixel decode
    kraft = sum(1 << (maxlen - l) for l, _ in used)
    if kraft != 1 << maxlen:
        raise ValueError("VP8L prefix code is not complete")
    entries = []
    for s, l in enumerate(lengths):
        if l > 0:
            table[(l, next_code[l])] = s
            entries.append((s, l, next_code[l]))
            next_code[l] += 1
    if maxlen <= 11:
        lut = [None] * (1 << maxlen)
        for s, l, c in entries:
            # LSB-first stream: the low l bits of the peeked index are
            # the bit-reverse of the MSB-first canonical code
            lut[_rev_bits(c, l) :: 1 << l] = [(s, l)] * (1 << (maxlen - l))
        table["lut"] = lut
        table["maxlen"] = maxlen
        table["mask"] = (1 << maxlen) - 1
    if len(_HUFF_MEMO) < _HUFF_MEMO_CAP:
        _HUFF_MEMO[key] = table
    return table


def _read_symbol_walk(r: _LsbReader, table: dict) -> int:
    # per-bit walk over the reader's folded int — the LUT fallback for
    # long codes; pos advances only on success (failure paths raise out
    # of the decode either way)
    val = r._val
    pos = r.pos
    nbits = r._nbits
    get = table.get
    code = 0
    for length in range(1, 16):
        if pos >= nbits:
            raise ValueError("truncated VP8L bitstream")
        code = (code << 1) | ((val >> pos) & 1)
        pos += 1
        sym = get((length, code))
        if sym is not None:
            r.pos = pos
            return sym
    raise ValueError("invalid VP8L huffman code")


def _read_symbol(r: _LsbReader, table: dict) -> int:
    if "single" in table:
        return table["single"]
    lut = table.get("lut")
    if lut is None:
        return _read_symbol_walk(r, table)
    # r15: one peek + one list index (zero-padding past the stream end
    # is safe: the code is complete, so the entry is the symbol the walk
    # would find iff its length fits the remaining bits — otherwise the
    # walk would have run out, i.e. truncated)
    pos = r.pos
    s, l = lut[(r._val >> pos) & table["mask"]]
    if pos + l > r._nbits:
        raise ValueError("truncated VP8L bitstream")
    r.pos = pos + l
    return s


def _read_code_lengths(r: _LsbReader, alphabet: int) -> list[int]:
    """One prefix-code description (spec 6.2.2): simple (1-2 symbols)
    or RLE-compressed code lengths through the code-length code."""
    if r.read(1):  # simple code
        nsym = r.read(1) + 1
        first_8bit = r.read(1)
        sym0 = r.read(8 if first_8bit else 1)
        lengths = [0] * alphabet
        if sym0 >= alphabet:
            raise ValueError("VP8L simple-code symbol out of range")
        lengths[sym0] = 1
        if nsym == 2:
            sym1 = r.read(8)
            if sym1 >= alphabet:
                raise ValueError("VP8L simple-code symbol out of range")
            lengths[sym1] = 1
        return lengths
    num_codes = r.read(4) + 4
    if num_codes > len(_CL_ORDER):
        raise ValueError("VP8L code-length-code count out of range")
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = r.read(3)
    cl_table = _build_huffman(cl_lengths)
    if r.read(1):  # use length / max_symbol
        length_nbits = 2 + 2 * r.read(3)
        max_symbol = 2 + r.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    i = 0
    while i < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        sym = _read_symbol(r, cl_table)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev = sym
        elif sym == 16:
            for _ in range(3 + r.read(2)):
                if i < alphabet:
                    lengths[i] = prev
                    i += 1
        elif sym == 17:
            i += 3 + r.read(3)
        else:  # 18
            i += 11 + r.read(7)
    if i > alphabet:
        raise ValueError("VP8L code lengths overflow the alphabet")
    return lengths


def _prefix_value(r: _LsbReader, code: int) -> int:
    """Length/distance prefix decoding (spec 6.2.3)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + r.read(extra) + 1


def _read_groups(r: _LsbReader, n_groups: int, cache_bits: int) -> list:
    groups = []
    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    for _ in range(n_groups):
        trees = []
        for alphabet in (green_alpha, 256, 256, 256, 40):
            trees.append(_build_huffman(_read_code_lengths(r, alphabet)))
        groups.append(trees)
    return groups


def _decode_pixels_vp8l(
    r: _LsbReader, w: int, h: int, cache_bits: int, groups: list,
    meta: list | None, meta_bits: int,
) -> list[int]:
    """ARGB pixel stream (spec 6.2.3): literals, LZ77 refs, cache hits.
    ``meta`` is the entropy image (group index per block) or None."""
    n = w * h
    out: list[int] = []
    cache = [0] * (1 << cache_bits) if cache_bits else None
    mw = (w + (1 << meta_bits) - 1) >> meta_bits if meta is not None else 0
    trees = groups[0]
    while len(out) < n:
        if meta is not None:
            pos = len(out)
            bx = (pos % w) >> meta_bits
            by = (pos // w) >> meta_bits
            gi = meta[by * mw + bx]
            if gi >= len(groups):
                raise ValueError("VP8L entropy image references a missing group")
            trees = groups[gi]
        g = _read_symbol(r, trees[0])
        if g < 256:
            red = _read_symbol(r, trees[1])
            blue = _read_symbol(r, trees[2])
            alpha = _read_symbol(r, trees[3])
            px = (alpha << 24) | (red << 16) | (g << 8) | blue
            out.append(px)
            if cache is not None:
                cache[(px * 0x1E35A7BD & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        elif g < 280:
            length = _prefix_value(r, g - 256)
            dcode = _read_symbol(r, trees[4])
            dist_code = _prefix_value(r, dcode)
            if dist_code <= 120:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            else:
                dist = dist_code - 120
            if dist > len(out):
                raise ValueError("VP8L backward reference before image start")
            for _ in range(length):
                if len(out) >= n:
                    raise ValueError("VP8L backward reference overruns image")
                px = out[-dist]
                out.append(px)
                if cache is not None:
                    cache[
                        (px * 0x1E35A7BD & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = px
        else:
            if cache is None:
                raise ValueError("VP8L cache hit without a color cache")
            idx = g - 280
            if idx >= len(cache):
                raise ValueError("VP8L cache index out of range")
            out.append(cache[idx])
    return out


def _read_entropy_coded_image(
    r: _LsbReader, w: int, h: int, allow_meta: bool
) -> list[int]:
    """Spec 'decode image stream' without the transform prologue —
    used for transform sub-images, the entropy image, and palettes.
    Read order per the spec: color-cache info first, then (level 0
    only) the entropy-image bit inside the huffman-code read."""
    cache_bits = 0
    if r.read(1):
        cache_bits = r.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("VP8L color-cache bits out of range")
    meta = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and r.read(1):
        meta_bits = r.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        raw = _read_entropy_coded_image(r, mw, mh, False)
        meta = [((p >> 8) & 0xFFFF) for p in raw]
        n_groups = max(meta) + 1 if meta else 1
    groups = _read_groups(r, n_groups, cache_bits)
    return _decode_pixels_vp8l(r, w, h, cache_bits, groups, meta, meta_bits)


def _avg2(a: int, b: int) -> int:
    return sum(
        ((((a >> s) & 0xFF) + ((b >> s) & 0xFF)) >> 1) << s
        for s in (24, 16, 8, 0)
    )


def _add_px(a: int, b: int) -> int:
    return sum(
        ((((a >> s) & 0xFF) + ((b >> s) & 0xFF)) & 0xFF) << s
        for s in (24, 16, 8, 0)
    )


def _clamp_add_sub_full(a: int, b: int, c: int) -> int:
    out = 0
    for s in (24, 16, 8, 0):
        v = ((a >> s) & 0xFF) + ((b >> s) & 0xFF) - ((c >> s) & 0xFF)
        out |= (0 if v < 0 else (255 if v > 255 else v)) << s
    return out


def _clamp_add_sub_half(a: int, b: int, c: int) -> int:
    out = 0
    for s in (24, 16, 8, 0):
        ave = (((a >> s) & 0xFF) + ((b >> s) & 0xFF)) >> 1
        # Spec / libwebp use C integer division (truncate toward zero), not
        # Python floor division — they differ for negative odd deltas.
        d = ave - ((c >> s) & 0xFF)
        v = ave + (d // 2 if d >= 0 else -((-d) // 2))
        out |= (0 if v < 0 else (255 if v > 255 else v)) << s
    return out


def _select(l: int, t: int, tl: int) -> int:
    pl = pt = 0
    for s in (24, 16, 8, 0):
        pred = ((l >> s) & 0xFF) + ((t >> s) & 0xFF) - ((tl >> s) & 0xFF)
        pl += abs(pred - ((l >> s) & 0xFF))
        pt += abs(pred - ((t >> s) & 0xFF))
    # Spec / libwebp return T on ties (pL == pT).
    return l if pl < pt else t


def _apply_predictor_inverse(
    pixels: list[int], w: int, h: int, sub: list[int], bits: int
) -> None:
    sw = (w + (1 << bits) - 1) >> bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pixels[i - 1]
            elif x == 0:
                pred = pixels[i - w]
            else:
                mode = (sub[(y >> bits) * sw + (x >> bits)] >> 8) & 0xFF
                L = pixels[i - 1]
                T = pixels[i - w]
                TL = pixels[i - w - 1]
                # Per RFC 9649 / libwebp, TR at the rightmost column wraps to
                # the leftmost (already reconstructed) pixel of the CURRENT
                # row: i - w + 1 == y*w when x == w-1. Unconditional index.
                TR = pixels[i - w + 1]
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(L, T, TL)
                elif mode == 12:
                    pred = _clamp_add_sub_full(L, T, TL)
                elif mode == 13:
                    pred = _clamp_add_sub_half(L, T, TL)
                else:
                    raise ValueError(f"VP8L predictor mode {mode}")
            pixels[i] = _add_px(pixels[i], pred)


def _ct_delta(t: int, c: int) -> int:
    """Signed 3.5 fixed-point color-transform delta (spec int8 * int8)."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _apply_color_transform_inverse(
    pixels: list[int], w: int, h: int, sub: list[int], bits: int
) -> None:
    sw = (w + (1 << bits) - 1) >> bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            el = sub[(y >> bits) * sw + (x >> bits)]
            g2r = (el >> 16) & 0xFF  # red channel: green_to_red
            g2b = (el >> 8) & 0xFF  # green channel: green_to_blue
            r2b = el & 0xFF  # blue channel: red_to_blue
            px = pixels[i]
            a = (px >> 24) & 0xFF
            r = (px >> 16) & 0xFF
            g = (px >> 8) & 0xFF
            b = px & 0xFF
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g)) & 0xFF
            b = (b + _ct_delta(r2b, r)) & 0xFF
            pixels[i] = (a << 24) | (r << 16) | (g << 8) | b


@untrusted_decoder
def decode_webp_lossless(payload: bytes) -> tuple[int, int, int, bytearray]:
    """(width, height, 4, flat RGBA bytes) from a lossless WebP (RIFF
    'WEBP' container with a VP8L chunk): full transform set, meta
    huffman, color cache, LZ77, pixel-bundled palettes. Lossy 'VP8 '
    payloads raise NotImplementedError (intra-DCT is the honest gate);
    malformed bytes raise ValueError."""
    if len(payload) < 20 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    data = None
    for tag, start, size in riff_chunks(payload, 12, len(payload)):
        if tag == b"VP8L":
            data = payload[start : start + size]
            break
        if tag == b"VP8 ":
            raise NotImplementedError(
                "lossy WebP (VP8 intra-DCT) requires a codec library; "
                "lossless VP8L decodes natively"
            )
    if data is None:
        raise ValueError("WebP payload has no VP8L chunk")
    if not data or data[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    r = _LsbReader(data, 8)
    w = r.read(14) + 1
    h = r.read(14) + 1
    r.read(1)  # alpha hint
    if r.read(3) != 0:
        raise ValueError("unknown VP8L version")
    check_dims(w, h, "VP8L")

    # transform prologue (level 0 only)
    transforms: list[tuple] = []
    seen = set()
    xsize = w
    while r.read(1):
        ttype = r.read(2)
        if ttype in seen:
            raise ValueError("VP8L transform repeated")
        seen.add(ttype)
        if ttype == 0:  # PREDICTOR
            bits = r.read(3) + 2
            sw = (xsize + (1 << bits) - 1) >> bits
            sh = (h + (1 << bits) - 1) >> bits
            sub = _read_entropy_coded_image(r, sw, sh, False)
            transforms.append(("pred", bits, sub, xsize))
        elif ttype == 1:  # COLOR TRANSFORM
            bits = r.read(3) + 2
            sw = (xsize + (1 << bits) - 1) >> bits
            sh = (h + (1 << bits) - 1) >> bits
            sub = _read_entropy_coded_image(r, sw, sh, False)
            transforms.append(("color", bits, sub, xsize))
        elif ttype == 2:  # SUBTRACT GREEN
            transforms.append(("subg",))
        else:  # COLOR INDEXING
            psize = r.read(8) + 1
            raw = _read_entropy_coded_image(r, psize, 1, False)
            palette = []
            prev = 0
            for p in raw:
                prev = _add_px(prev, p)
                palette.append(prev)
            if psize <= 2:
                pack_bits = 3
            elif psize <= 4:
                pack_bits = 2
            elif psize <= 16:
                pack_bits = 1
            else:
                pack_bits = 0
            transforms.append(("palette", palette, pack_bits, xsize))
            if pack_bits:
                xsize = (xsize + (1 << pack_bits) - 1) >> pack_bits

    pixels = _read_entropy_coded_image(r, xsize, h, True)

    for t in reversed(transforms):
        if t[0] == "palette":
            _, palette, pack_bits, full_w = t
            if pack_bits:
                per = 1 << pack_bits
                ibits = 8 >> pack_bits
                mask = (1 << ibits) - 1
                packed_w = (full_w + per - 1) >> pack_bits
                out = []
                for y in range(h):
                    for x in range(full_w):
                        px = pixels[y * packed_w + (x >> pack_bits)]
                        idx = ((px >> 8) & 0xFF) >> (
                            ibits * (x & (per - 1))
                        ) & mask
                        idx &= mask
                        if idx >= len(palette):
                            raise ValueError("VP8L palette index out of range")
                        out.append(palette[idx])
                pixels = out
            else:
                out = []
                for px in pixels:
                    idx = (px >> 8) & 0xFF
                    if idx >= len(palette):
                        raise ValueError("VP8L palette index out of range")
                    out.append(palette[idx])
                pixels = out
        elif t[0] == "subg":
            for i, px in enumerate(pixels):
                g = (px >> 8) & 0xFF
                rr = ((px >> 16) + g) & 0xFF
                bb = ((px & 0xFF) + g) & 0xFF
                pixels[i] = (px & 0xFF00FF00) | (rr << 16) | bb
        elif t[0] == "color":
            # t[3] is the width the transform was READ at (palette
            # packing later in the prologue is already inverted here)
            _apply_color_transform_inverse(pixels, t[3], h, t[2], t[1])
        else:
            _apply_predictor_inverse(pixels, t[3], h, t[2], t[1])

    if len(pixels) != w * h:
        raise ValueError("VP8L decoded pixel count mismatch")
    out_bytes = bytearray(w * h * 4)
    for i, px in enumerate(pixels):
        out_bytes[4 * i] = (px >> 16) & 0xFF
        out_bytes[4 * i + 1] = (px >> 8) & 0xFF
        out_bytes[4 * i + 2] = px & 0xFF
        out_bytes[4 * i + 3] = (px >> 24) & 0xFF
    return w, h, 4, out_bytes


# --- encoder (minimal spec-valid stream: literals, one group) --------------


def _code_lengths_for(hist: list[int]) -> list[int]:
    """Length-limited (<=15) canonical code lengths via a simple
    package-merge-free heuristic: repeatedly split by frequency —
    adequate for fixture-size alphabets, always spec-valid (complete)."""
    used = [s for s, c in enumerate(hist) if c > 0]
    if not used:
        return [0] * len(hist)
    if len(used) == 1:
        lengths = [0] * len(hist)
        lengths[used[0]] = 1
        return lengths
    # huffman via two-queue merge, then clamp depths to 15 by rebuilding
    import heapq

    heap = [(hist[s], s, None, None) for s in used]
    heapq.heapify(heap)
    nodes = {}
    nid = 0
    while len(heap) > 1:
        a = heapq.heappop(heap)
        b = heapq.heappop(heap)
        nodes[nid] = (a, b)
        heapq.heappush(heap, (a[0] + b[0], len(hist) + nid, a, b))
        nid += 1
    lengths = [0] * len(hist)

    def walk(node, depth):
        if node[2] is None:
            lengths[node[1]] = max(1, min(15, depth))
            return
        walk(node[2], depth + 1)
        walk(node[3], depth + 1)

    walk(heap[0], 0)
    # repair the Kraft sum if clamping broke it (rare at fixture sizes)
    def kraft():
        return sum(1 << (15 - l) for l in lengths if l)

    while kraft() > 1 << 15:
        for s in sorted(range(len(hist)), key=lambda s: -lengths[s]):
            if 0 < lengths[s] < 15:
                lengths[s] += 1
                break
        else:
            raise ValueError("cannot build a valid prefix code")
    while True:
        k = kraft()
        if k == 1 << 15:
            break
        # shorten the longest code whose shortening keeps the sum legal
        done = False
        for s in sorted(range(len(hist)), key=lambda s: -lengths[s]):
            l = lengths[s]
            if l > 1 and k - (1 << (15 - l)) + (1 << (16 - l)) <= 1 << 15:
                lengths[s] -= 1
                done = True
                break
        if not done:
            break
    if kraft() != 1 << 15:
        raise ValueError("cannot build a complete prefix code")
    return lengths


def _encode_lengths(w: _LsbWriter, lengths: list[int]) -> None:
    """Write a prefix-code description: the 'normal' form with a flat
    3-bit code-length code covering lengths 0..7 (fixture codes stay
    short), falling back to the simple form for 1-2 symbols."""
    used = [s for s, l in enumerate(lengths) if l > 0]
    if 1 <= len(used) <= 2 and all(lengths[s] == 1 for s in used) and max(
        used
    ) < 256:
        w.write(1, 1)  # simple
        w.write(len(used) - 1, 1)
        w.write(1, 1)  # first symbol in 8 bits
        w.write(used[0], 8)
        if len(used) == 2:
            w.write(used[1], 8)
        return
    # code-length code: every value 0..15 gets length 4 (complete:
    # 16·2^-4 == 1) — written for all 19 slots so no RLE codes are
    # available. The whole header (normal bit + num_codes + 19 slot
    # lengths + no-max_symbol bit) is a CONSTANT bit pattern, folded
    # once at import (_CL_HEADER); the canonical 4-bit code for length
    # l is l itself, so each emitted code is the pre-reversed nibble
    # _REV4[l]. Two lengths pack per byte (LSB-first nibble order) and
    # the whole vector flushes through ONE write_run — bit-identical to
    # the per-symbol writes (r15, guide §1.2; pinned against the old
    # form in tests/test_codec_kernels.py).
    w.write_run(*_CL_HEADER)
    rev = _REV4
    half = len(lengths) >> 1
    packed = bytes(
        rev[lengths[2 * i]] | (rev[lengths[2 * i + 1]] << 4)
        for i in range(half)
    )
    w.write_run(int.from_bytes(packed, "little"), 8 * half)
    if len(lengths) & 1:
        w.write(rev[lengths[-1]], 4)


def _enc_tables_for(argb: list[int]) -> list[dict]:
    """Per-alphabet canonical encode tables (symbol -> (code, len),
    None for a zero-bit single-symbol code) over literal pixels."""
    hists = [[0] * (256 + 24), [0] * 256, [0] * 256, [0] * 256, [0] * 40]
    for px in argb:
        hists[0][(px >> 8) & 0xFF] += 1
        hists[1][(px >> 16) & 0xFF] += 1
        hists[2][px & 0xFF] += 1
        hists[3][(px >> 24) & 0xFF] += 1
    hists[4][0] += 1  # distance tree must exist; never used
    tables = []
    for hist in hists:
        lengths = _code_lengths_for(hist)
        enc: dict = {"__lengths__": lengths}
        maxlen = max(lengths) if any(lengths) else 0
        counts = [0] * (maxlen + 1)
        for l in lengths:
            if l:
                counts[l] += 1
        next_code = [0] * (maxlen + 2)
        c = 0
        for l in range(1, maxlen + 1):
            c = (c + counts[l - 1]) << 1
            next_code[l] = c
        single = sum(1 for l in lengths if l) == 1
        for s, l in enumerate(lengths):
            if l:
                # store the code PRE-REVERSED for the LSB-first writer
                # (r15) — the only consumers are _put_code and the body
                # fold, both of which emit reversed bits
                enc[s] = None if single else (_rev_bits(next_code[l], l), l)
                next_code[l] += 1
        tables.append(enc)
    return tables


def _rev_bits(c: int, n: int) -> int:
    """Bit-reverse an n-bit code — huffman code bits go MSB-first into
    the LSB-first writer, so emitting the reversed value in one write
    lands every bit where the per-bit loop put it (r15, guide §1.2)."""
    r = 0
    for _ in range(n):
        r = (r << 1) | (c & 1)
        c >>= 1
    return r


def _fold_lsb(pairs: list[tuple[int, int]]) -> tuple[int, int]:
    """Fold (value, nbits) writes into one (value, nbits) pair with the
    LSB-first writer's semantics — for hoisting constant bit patterns."""
    acc = 0
    nb = 0
    for v, n in pairs:
        acc |= (v & ((1 << n) - 1)) << nb
        nb += n
    return acc, nb


#: the constant 'normal prefix code' header _encode_lengths always
#: emits: normal bit, num_codes=19, the 19 flat 3-bit slot lengths,
#: no-max_symbol bit (r15 — folded once at import)
_CL_HEADER = _fold_lsb(
    [(0, 1), (15, 4)]
    + [(4 if _CL_ORDER[i] <= 15 else 0, 3) for i in range(19)]
    + [(0, 1)]
)
#: canonical 4-bit code for code-length l over the flat code IS l;
#: pre-reversed for the LSB-first writer
_REV4 = [_rev_bits(l, 4) for l in range(16)]


def _put_code(w: _LsbWriter, enc: dict, sym: int) -> None:
    e = enc[sym]
    if e is None:
        return  # single-symbol code: zero bits
    c, n = e  # code already pre-reversed by _enc_tables_for (r15)
    w.write(c, n)


def _write_literal_body(
    w: _LsbWriter, argb: list[int], level0: bool
) -> None:
    """Entropy-coded-image body (spec order: cache info, then — level 0
    only — the entropy-image bit, then the five trees, then pixels):
    literal-only, one group, no cache. Reused by the public encoder and
    by hand-built transform/sub-image test streams."""
    w.write(0, 1)  # no color cache
    if level0:
        w.write(0, 1)  # no meta huffman
    tables = _enc_tables_for(argb)
    for enc in tables:
        _encode_lengths(w, enc["__lengths__"])
    # r15: fold the whole pixel body (4 codes per pixel, pre-reversed)
    # into one int and emit it via a single write_run — bit-identical
    # to the per-code writes
    t0, t1, t2, t3 = tables[0], tables[1], tables[2], tables[3]
    acc = 0
    nb = 0
    for px in argb:
        for e in (
            t0[(px >> 8) & 0xFF],
            t1[(px >> 16) & 0xFF],
            t2[px & 0xFF],
            t3[(px >> 24) & 0xFF],
        ):
            if e is not None:
                acc |= e[0] << nb
                nb += e[1]
    w.write_run(acc, nb)


def encode_webp_lossless(
    width: int, height: int, channels: int, pixels: bytes
) -> bytes:
    """Minimal VP8L writer: literal-only, single huffman group, no
    transforms, no color cache. ``pixels`` is row-major RGB (3) or
    RGBA (4). Bit-exact on decode."""
    if channels not in (3, 4):
        raise ValueError("encode_webp_lossless takes RGB or RGBA input")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer does not match dimensions")
    argb = []
    for i in range(width * height):
        o = i * channels
        a = pixels[o + 3] if channels == 4 else 255
        argb.append(
            (a << 24) | (pixels[o] << 16) | (pixels[o + 1] << 8)
            | pixels[o + 2]
        )
    w = _LsbWriter()
    w.write(0x2F, 8)
    w.write(width - 1, 14)
    w.write(height - 1, 14)
    w.write(1 if channels == 4 else 0, 1)
    w.write(0, 3)  # version
    w.write(0, 1)  # no transforms
    _write_literal_body(w, argb, level0=True)
    data = w.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
