"""Pure-stdlib PIXEL codecs for the multimodal tier — closing the
"pixel decode needs PIL" gate for the formats where it genuinely
doesn't: PNG's compression is zlib (in the standard library) and 24-bit
BMP is raw bytes, so decode → transform → re-encode needs no external
codec at all. Compressed audio and true video containers stay honestly
gated in operators/multimodal.py (those DO need codec libraries).

Supported:
* PNG: the FULL still format since round 11 — every legal bit depth
  (1/2/4/8/16), every color type (gray / RGB / palette+tRNS /
  gray+alpha / RGBA), Adam7 interlacing, all five scanline filters;
  encode writes filter-0 8-bit scanlines + zlib + CRC32 chunks.
* BMP: 24-bit uncompressed BI_RGB (bottom-up or top-down), BGR order.
* JPEG: baseline sequential AND progressive (operators/jpeg.py).
* GIF/APNG multi-frame pixels: operators/frames.py.

The per-pixel unfilter loop is plain Python — fine for the thumbnail /
fixture sizes these paths handle in-container; a production deployment
swaps `decode_png` for a vectorized or native decoder behind the same
`decoder=`/`resizer=` callables without touching the Spark plumbing
(the Arrow stage shape in operators/multimodal.py is the contract).
"""

from __future__ import annotations

import struct
import zlib

from mongo_analyser_spark.operators.fanout import q4

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: channels per PNG color type (8-bit, non-interlaced support set)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def untrusted_decoder(fn):
    """Wrap a decode entry point over UNTRUSTED bytes (round 13): a
    malformed payload can trigger a grab-bag of low-level exceptions
    deep in the bit/chunk machinery — short slices (IndexError /
    struct.error), references to tables the stream never defined
    (KeyError), corrupt deflate streams (zlib.error). Normalize all of
    them into the documented ValueError so pipeline stages can
    quarantine bad rows with ONE catch; ValueError and the honest
    NotImplementedError codec gates pass through untouched."""
    import functools
    import struct as _struct
    import zlib as _zlib

    @functools.wraps(fn)
    def wrap(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (ValueError, NotImplementedError):
            raise
        except (
            IndexError, KeyError, _struct.error, _zlib.error, OverflowError,
        ) as e:
            raise ValueError(
                f"malformed payload in {fn.__name__}: "
                f"{type(e).__name__}: {e}"
            ) from e

    return wrap


#: in-container decode cap: 64 Mpixels. A mutated header must not make
#: a decoder allocate gigabytes before the data runs out — real corpus
#: payloads this tier handles are thumbnails/fixtures (module doc), and
#: a production deployment swaps the codec callable anyway.
MAX_PIXELS = 1 << 26


def check_dims(w: int, h: int, what: str) -> None:
    """Untrusted-header dimension guard shared by the pixel codecs."""
    if w <= 0 or h <= 0:
        raise ValueError(f"{what} has empty dimensions {w}x{h}")
    if w * h > MAX_PIXELS:
        raise ValueError(
            f"{what} dimensions {w}x{h} exceed the in-container decode "
            f"cap ({MAX_PIXELS} pixels)"
        )


def riff_chunks(b: bytes, pos: int, end: int):
    """Yield (fourcc, data_start, size) over a RIFF chunk run ending at
    ``end`` (WAV, AVI, WebP), stepping over the pad byte of odd-sized
    chunks. Sizes are untrusted: a chunk that overruns ``end`` is
    malformed, not a seek hint."""
    while pos + 8 <= end:
        tag = b[pos : pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        start = pos + 8
        if start + size > end:
            raise ValueError(
                f"RIFF chunk {tag!r} overruns its container "
                f"({size} bytes at {pos}, container ends {end})"
            )
        yield tag, start, size
        pos = start + size + (size & 1)


def bounded_decompress(data: bytes, cap: int) -> bytes:
    """zlib decompress with an output ceiling: a deflate bomb (kilobytes
    expanding to gigabytes) must fail as ValueError once it exceeds what
    the declared image geometry can legitimately need."""
    d = zlib.decompressobj()
    out = d.decompress(bytes(data), cap + 1)
    if len(out) > cap:
        raise ValueError(
            f"decompressed pixel data exceeds its geometry cap ({cap} bytes)"
        )
    return out


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


#: raw channels per PNG color type
_PNG_RAW_CH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: legal bit depths per color type (PNG spec table 11.1)
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
#: Adam7 pass geometry: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _defilter_rows(raw, off, ph, stride, fdist):
    """Reverse the five scanline filters over ``ph`` rows of
    ``1 + stride`` bytes starting at ``off`` (filter distance ``fdist``
    bytes, per the pixel's byte width). Returns (rows bytes, new off)."""
    out = bytearray(ph * stride)
    prev = bytearray(stride)
    for row in range(ph):
        ftype = raw[off]
        line = bytearray(raw[off + 1:off + 1 + stride])
        off += 1 + stride
        if ftype == 1:  # Sub
            for i in range(fdist, stride):
                line[i] = (line[i] + line[i - fdist]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - fdist] if i >= fdist else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - fdist] if i >= fdist else 0
                ul = prev[i - fdist] if i >= fdist else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[row * stride:(row + 1) * stride] = line
        prev = line
    return out, off


def _filter0(w: int, h: int, ch: int, pixels: bytes) -> bytes:
    """PNG scanlines for ``h`` rows of ``w*ch`` bytes, each behind a
    filter-0 (None) byte — the writers' side of ``_defilter_rows``."""
    stride = w * ch
    return b"".join(
        b"\x00" + bytes(pixels[r * stride : (r + 1) * stride])
        for r in range(h)
    )


def _unpack_row(line: bytes, pw: int, nch: int, depth: int) -> list[int]:
    """Per-pixel raw channel values from one defiltered scanline."""
    if depth == 8:
        return list(line[:pw * nch])
    if depth == 16:
        return [
            (line[2 * i] << 8) | line[2 * i + 1] for i in range(pw * nch)
        ]
    vals, per_byte, mask = [], 8 // depth, (1 << depth) - 1
    for i in range(pw):  # sub-byte depths only occur with nch == 1
        byte = line[i // per_byte]
        shift = 8 - depth * (i % per_byte + 1)
        vals.append((byte >> shift) & mask)
    return vals


@untrusted_decoder
def decode_png(b: bytes) -> tuple[int, int, int, bytearray]:
    """(width, height, channels, flat row-major pixel bytes) from a PNG
    payload — since round 11 the FULL still-PNG format: every legal bit
    depth (1/2/4/8/16 — sub-byte grays scale to 8-bit, 16-bit takes the
    high byte), every color type (gray / RGB / PALETTE via PLTE with
    optional tRNS alpha / gray+alpha / RGBA), tRNS transparency KEYS on
    gray/RGB (an alpha channel is synthesized), and Adam7 interlacing.
    Raises ValueError for malformed bytes; animation frames decode via
    operators/frames.decode_apng."""
    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, ihdr = 8, bytearray(), None
    plte: bytes | None = None
    trns: bytes | None = None
    while pos + 8 <= len(b):
        (length,), ctype = struct.unpack(">I", b[pos:pos + 4]), b[pos + 4:pos + 8]
        if pos + 8 + length > len(b):
            raise ValueError("PNG chunk length exceeds payload (truncated?)")
        data = b[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            if length < 13:
                raise ValueError("PNG IHDR chunk too short")
            ihdr = struct.unpack(">IIBBBBB", data[:13])
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if color not in _PNG_RAW_CH or depth not in _PNG_DEPTHS[color]:
        raise ValueError(
            f"illegal PNG depth/color combination "
            f"(depth={depth}, color_type={color})"
        )
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    nch = _PNG_RAW_CH[color]
    check_dims(w, h, "PNG")
    try:
        # interlaced streams carry one filter byte per PASS row; 2x the
        # sequential raw size comfortably bounds every legal layout
        cap = 64 + 2 * h * (1 + (w * nch * depth + 7) // 8)
        raw = bounded_decompress(idat, cap)
    except zlib.error as e:  # keep the documented ValueError contract
        raise ValueError(f"PNG IDAT stream is corrupt: {e}") from e
    fdist = max(1, depth * nch // 8)
    has_key = color in (0, 2) and trns is not None and len(trns) >= 2 * nch
    if depth == 8 and color in (0, 2, 6) and not interlace and not has_key:
        # fast path for the dominant case (what encode_png writes): the
        # defiltered scanlines ARE the output — no per-pixel scatter
        # (the general path below measured 2.7x slower on the
        # pixel_roundtrip row when it briefly handled this case too)
        stride = w * nch
        if len(raw) != h * (stride + 1):
            raise ValueError("PNG pixel data length mismatch")
        out, _ = _defilter_rows(raw, 0, h, stride, fdist)
        return w, h, nch, out
    samples = [0] * (w * h * nch)
    passes = _ADAM7 if interlace else [(0, 0, 1, 1)]
    off = 0
    for xs, ys, xstep, ystep in passes:
        pw = (w - xs + xstep - 1) // xstep
        ph = (h - ys + ystep - 1) // ystep
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * nch * depth + 7) // 8
        if off + ph * (1 + stride) > len(raw):
            raise ValueError("PNG pixel data length mismatch")
        rows, off = _defilter_rows(raw, off, ph, stride, fdist)
        for r in range(ph):
            vals = _unpack_row(rows[r * stride:(r + 1) * stride], pw, nch, depth)
            y = ys + r * ystep
            for c in range(pw):
                base = (y * w + xs + c * xstep) * nch
                samples[base:base + nch] = vals[c * nch:(c + 1) * nch]
    if off != len(raw):
        raise ValueError("PNG pixel data length mismatch")
    if color == 3:
        n_pal = len(plte) // 3
        has_alpha = trns is not None and len(trns) > 0
        ch = 4 if has_alpha else 3
        out = bytearray(w * h * ch)
        for i, idx in enumerate(samples):
            if idx >= n_pal:
                raise ValueError("PNG palette index out of range")
            out[i * ch:i * ch + 3] = plte[idx * 3:idx * 3 + 3]
            if has_alpha:
                out[i * ch + 3] = trns[idx] if idx < len(trns) else 255
        return w, h, ch, out
    if has_key:
        # tRNS transparency key on gray/RGB (PNG spec 11.3.2.1): pixels
        # whose RAW sample tuple equals the key become fully transparent,
        # everything else fully opaque — emit an explicit alpha channel.
        key = struct.unpack(">" + "H" * nch, trns[: 2 * nch])
        ch = nch + 1
        mx = (1 << depth) - 1
        out = bytearray(w * h * ch)
        for i in range(w * h):
            base = i * nch
            opaque = tuple(samples[base:base + nch]) != key
            for c in range(nch):
                v = samples[base + c]
                if depth == 16:
                    v >>= 8
                elif depth < 8:
                    v = v * 255 // mx
                out[i * ch + c] = v
            out[i * ch + nch] = 255 if opaque else 0
        return w, h, ch, out
    if depth == 16:
        return w, h, nch, bytearray(v >> 8 for v in samples)
    if depth < 8:  # gray-only; scale to full 8-bit range
        mx = (1 << depth) - 1
        return w, h, nch, bytearray(v * 255 // mx for v in samples)
    return w, h, nch, bytearray(samples)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(w: int, h: int, channels: int, pixels: bytes) -> bytes:
    """Filter-0 PNG writer (gray / gray+alpha / RGB / RGBA, 8-bit): the
    round-trip twin of ``decode_png`` — IHDR + one zlib IDAT + IEND,
    CRC32 per chunk. All four decode-side channel counts re-encode, so
    resize paths never crash on a decodable input (ADVICE r11)."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}.get(channels)
    if color is None:
        raise ValueError(f"unsupported channel count {channels}")
    stride = w * channels
    if len(pixels) != h * stride:
        raise ValueError("pixel buffer does not match dimensions")
    raw = _filter0(w, h, channels, pixels)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


@untrusted_decoder
def decode_bmp(b: bytes) -> tuple[int, int, int, bytearray]:
    """(width, height, 3, flat row-major RGB bytes) from a 24-bit
    uncompressed BI_RGB BMP (bottom-up rows by default; negative height
    = top-down). BMP stores BGR; output is normalized to RGB."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack("<I", b[10:14])[0]
    w, h_signed = struct.unpack("<ii", b[18:26])
    planes, bpp = struct.unpack("<HH", b[26:30])
    compression = struct.unpack("<I", b[30:34])[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"BMP outside the stdlib decoder's set (bpp={bpp}, "
            f"compression={compression})"
        )
    h, bottom_up = abs(h_signed), h_signed > 0
    row_bytes = (w * 3 + 3) & ~3  # rows pad to 4-byte multiples
    out = bytearray(w * h * 3)
    for row in range(h):
        src = pix_off + row * row_bytes
        dst_row = (h - 1 - row) if bottom_up else row
        for x in range(w):
            bb, gg, rr = b[src + 3 * x:src + 3 * x + 3]
            d = (dst_row * w + x) * 3
            out[d:d + 3] = bytes((rr, gg, bb))
    return w, h, 3, out


@untrusted_decoder
def _pnm_tokens(b: bytes, need: int, pos: int) -> tuple[list[int], int]:
    """``need`` whitespace-separated integers from a netpbm header/body,
    skipping ``#`` comments; returns (values, next position)."""
    vals: list[int] = []
    n = len(b)
    while len(vals) < need:
        while pos < n and b[pos] in b" \t\r\n":
            pos += 1
        if pos < n and b[pos] == 0x23:  # '#' comment to end of line
            while pos < n and b[pos] not in b"\r\n":
                pos += 1
            continue
        start = pos
        while pos < n and b[pos] not in b" \t\r\n#":
            pos += 1
        if pos == start:
            raise ValueError("truncated netpbm header")
        try:
            vals.append(int(b[start:pos]))
        except ValueError:
            raise ValueError("non-numeric netpbm header token")
    return vals, pos


@untrusted_decoder
def decode_pnm(b: bytes) -> tuple[int, int, int, bytearray]:
    """netpbm (round 15 — the interchange format of CV corpora): P2/P3
    (ASCII) and P5/P6 (binary) grayscale/RGB at maxval <= 255, with
    ``#`` comments anywhere in the header. 16-bit maxvals and P1/P4
    bitmaps raise by name."""
    if len(b) < 2 or b[0:1] != b"P":
        raise ValueError("not a netpbm payload")
    kind = b[1:2]
    if kind in (b"1", b"4"):
        raise NotImplementedError("netpbm bitmap (P1/P4)")
    if kind not in (b"2", b"3", b"5", b"6"):
        raise ValueError("not a netpbm payload")
    ch = 3 if kind in (b"3", b"6") else 1
    (w, h, maxval), pos = _pnm_tokens(b, 3, 2)
    check_dims(w, h, "netpbm")
    if not 0 < maxval <= 255:
        raise NotImplementedError(
            f"netpbm maxval {maxval} (8-bit only)"
        )
    count = w * h * ch
    if kind in (b"2", b"3"):
        vals, _pos = _pnm_tokens(b, count, pos)
        if any(not 0 <= v <= maxval for v in vals):
            raise ValueError("netpbm sample exceeds maxval")
        return w, h, ch, bytearray(vals)
    # binary: exactly ONE whitespace byte after maxval, then raster
    pos += 1
    if pos + count > len(b):
        raise ValueError("netpbm raster truncated")
    return w, h, ch, bytearray(b[pos:pos + count])


def encode_pnm(
    w: int, h: int, channels: int, pixels: bytes, ascii_form: bool = False
) -> bytes:
    """The fixture twin: P5/P6 binary or P2/P3 ASCII, with a comment
    line so decoders must skip one."""
    if channels not in (1, 3):
        raise ValueError(f"unsupported channel count {channels}")
    if len(pixels) != w * h * channels:
        raise ValueError("pixel buffer does not match dimensions")
    if ascii_form:
        kind = "P2" if channels == 1 else "P3"
        body = "\n".join(
            " ".join(
                str(v)
                for v in pixels[y * w * channels:(y + 1) * w * channels]
            )
            for y in range(h)
        )
        return (
            f"{kind}\n# fixture\n{w} {h}\n255\n{body}\n".encode()
        )
    kind = "P5" if channels == 1 else "P6"
    return f"{kind}\n# fixture\n{w} {h}\n255\n".encode() + bytes(pixels)


def decode_pixels(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Dispatch: PNG, 24-bit BMP, JPEG (baseline AND progressive), and
    baseline TIFF (round 15) decode fully in stdlib
    (operators/{jpeg,tiff}.py); anything else raises
    NotImplementedError at the exact point a codec library call would go
    (multi-frame GIF/APNG pixels decode via operators/frames.py)."""
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"\xff\xd8":
        from mongo_analyser_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if len(payload) >= 16 and payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from mongo_analyser_spark.operators.vp8l import decode_webp_lossless

        return decode_webp_lossless(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from mongo_analyser_spark.operators.tiff import decode_tiff

        return decode_tiff(payload)
    if payload[:1] == b"P" and payload[1:2] in b"123456":
        return decode_pnm(payload)
    raise NotImplementedError(
        "pixel decode beyond PNG/BMP/JPEG/lossless-WebP/TIFF/netpbm "
        "requires an image codec (PIL) not present in this container "
        "(GIF/APNG FRAMES decode in stdlib via "
        "operators/frames.decode_frames)"
    )


def pixel_stats(payload: bytes) -> dict:
    """Deterministic pixel-level features: dimensions, channel count,
    and mean luma (Rec. 601 integer weights over exact integer channel
    sums — gray images use the single channel's mean — so the number is
    engine- and platform-independent)."""
    w, h, ch, px = decode_pixels(payload)
    n = w * h
    sums = [0] * ch
    for i in range(0, len(px), ch):
        for c in range(ch):
            sums[c] += px[i + c]
    if ch >= 3:
        luma = round((299 * sums[0] + 587 * sums[1] + 114 * sums[2]) / (1000 * n), 4)
    else:
        luma = round(sums[0] / n, 4)
    return {
        "width": w,
        "height": h,
        "channels": ch,
        "mean_luma": luma,
    }


def mean_max(px) -> tuple[float, int]:
    """``(mean, max)`` over a decoded image's samples, the mean
    ``q4``-quantized: the features of the ``mean_val``/``max_val``
    pixel rows."""
    return q4(sum(px) / len(px)), max(px)


def gradient_gray(a: int) -> bytes:
    """The 16x16 grayscale ramp p(x, y) = (a + 3x + 5y) mod 256 that the
    gradient pixel rows build from a document's first code ``a``."""
    return bytes((a + 3 * x + 5 * y) % 256 for y in range(16) for x in range(16))


def four_blocks(values, channels: int = 1) -> list[int]:
    """A 16x16 image of four constant 8x8 blocks (top-left, top-right,
    bottom-left, bottom-right take ``values[0..3]``); every one of a
    pixel's ``channels`` interleaved samples carries its block's value."""
    px = [0] * (256 * channels)
    for (ox, oy), v in zip(((0, 0), (8, 0), (0, 8), (8, 8)), values):
        for yy in range(8):
            base = ((oy + yy) * 16 + ox) * channels
            px[base : base + 8 * channels] = [v] * (8 * channels)
    return px


def resize_nearest(payload: bytes, new_w: int, new_h: int) -> bytes:
    """REAL resize for the stdlib-decodable formats: nearest-neighbor
    sample of the decoded pixel grid, re-encoded as PNG (the lossless
    stdlib-writable container — BMP/GIF/APNG inputs come back as PNG
    too; multi-frame containers resize their FIRST composed frame, the
    thumbnail convention)."""
    if payload[:6] in (b"GIF87a", b"GIF89a") or (
        payload[:8] == _PNG_SIG and b"acTL" in payload[:256]
    ):
        from mongo_analyser_spark.operators.frames import decode_frames

        w, h, ch, frames = decode_frames(payload)
        px = frames[0]
    else:
        w, h, ch, px = decode_pixels(payload)
    out = bytearray(new_w * new_h * ch)
    for y in range(new_h):
        sy = min(h - 1, (y * h) // new_h)
        for x in range(new_w):
            sx = min(w - 1, (x * w) // new_w)
            s = (sy * w + sx) * ch
            d = (y * new_w + x) * ch
            out[d:d + ch] = px[s:s + ch]
    return encode_png(new_w, new_h, ch, bytes(out))


@untrusted_decoder
def decode_ico(b: bytes) -> tuple[int, int, list[tuple[int, int, int, bytearray]]]:
    """ICO/favicon container (round 15 — the crawl's most common image
    wrapper after the big four): (count, best_index, decoded images).
    Members are PNG (full decode via decode_png) or 32-bpp BI_RGB DIBs
    (BGRA bottom-up with the doubled-height AND-mask convention —
    alpha-carrying icons ignore the mask, which this profile returns as
    a 3-channel RGB like the BMP path). Other member formats raise by
    name; framing lies raise ValueError."""
    if len(b) < 6:
        raise ValueError("not an ICO payload")
    reserved, typ, count = int.from_bytes(b[0:2], "little"), int.from_bytes(
        b[2:4], "little"
    ), int.from_bytes(b[4:6], "little")
    if reserved != 0 or typ not in (1, 2):
        raise ValueError("not an ICO payload")
    if count == 0 or count > 256:
        raise ValueError("implausible ICO image count")
    images: list[tuple[int, int, int, bytearray]] = []
    for k in range(count):
        e = 6 + 16 * k
        if e + 16 > len(b):
            raise ValueError("truncated ICO directory")
        size = int.from_bytes(b[e + 8:e + 12], "little")
        off = int.from_bytes(b[e + 12:e + 16], "little")
        if off + size > len(b):
            raise ValueError("ICO member out of range")
        blob = b[off:off + size]
        if blob[:8] == _PNG_SIG:
            images.append(decode_png(blob))
            continue
        if len(blob) < 40:
            raise ValueError("ICO DIB header too short")
        (hdr_size, w, h2) = (
            int.from_bytes(blob[0:4], "little"),
            int.from_bytes(blob[4:8], "little", signed=True),
            int.from_bytes(blob[8:12], "little", signed=True),
        )
        bpp = int.from_bytes(blob[14:16], "little")
        comp = int.from_bytes(blob[16:20], "little")
        if hdr_size != 40:
            raise NotImplementedError(
                f"ICO DIB header size {hdr_size} (BITMAPINFOHEADER only)"
            )
        if comp != 0 or bpp != 32:
            raise NotImplementedError(
                f"ICO DIB bpp={bpp}/compression={comp} "
                "(32-bpp BI_RGB only; PNG members decode fully)"
            )
        h = h2 // 2  # XOR rows + AND mask rows
        check_dims(w, abs(h), "ICO")
        if h <= 0 or w <= 0:
            raise ValueError("implausible ICO DIB dimensions")
        need = 40 + w * h * 4
        if len(blob) < need:
            raise ValueError("ICO DIB pixel data truncated")
        out = bytearray(w * h * 3)
        for y in range(h):
            src = 40 + (h - 1 - y) * w * 4  # bottom-up
            for x in range(w):
                i = src + 4 * x
                o = (y * w + x) * 3
                out[o] = blob[i + 2]
                out[o + 1] = blob[i + 1]
                out[o + 2] = blob[i]
        images.append((w, h, 3, out))
    best = max(
        range(count), key=lambda i: images[i][0] * images[i][1]
    )
    return count, best, images


def encode_ico(members: list[bytes]) -> bytes:
    """Fixture writer: wrap already-encoded PNG members (the modern
    favicon layout) into an ICO directory."""
    count = len(members)
    out = bytearray(b"\0\0\x01\0" + count.to_bytes(2, "little"))
    off = 6 + 16 * count
    for blob in members:
        if blob[:8] != _PNG_SIG:
            raise ValueError("encode_ico wraps PNG members only")
        w = int.from_bytes(blob[16:20], "big")
        h = int.from_bytes(blob[20:24], "big")
        out += bytes([w % 256, h % 256, 0, 0])
        out += (1).to_bytes(2, "little") + (32).to_bytes(2, "little")
        out += len(blob).to_bytes(4, "little") + off.to_bytes(4, "little")
        off += len(blob)
    for blob in members:
        out += blob
    return bytes(out)
