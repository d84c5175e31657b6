"""Stdlib pixel codecs (operators/pixels.py): PNG round-trip, all five
scanline filters, BMP decode, nearest-neighbor resize, and the Arrow
pixel-stats stage — real pixel work with zero codec dependencies."""

from __future__ import annotations

import struct
import zlib

import pytest

from mongo_analyser_spark.operators import pixels


def _checker_rgb(w: int, h: int) -> bytes:
    """Deterministic RGB test image: checkerboard of red/blue."""
    out = bytearray()
    for y in range(h):
        for x in range(w):
            out += b"\xff\x00\x00" if (x + y) % 2 == 0 else b"\x00\x00\xff"
    return bytes(out)


def test_png_round_trip_rgb_and_gray():
    for ch, px in ((3, _checker_rgb(5, 4)), (1, bytes(range(20)))):
        blob = pixels.encode_png(5, 4, ch, px)
        w, h, ch2, out = pixels.decode_png(blob)
        assert (w, h, ch2) == (5, 4, ch)
        assert bytes(out) == px


def test_png_all_filters_decode():
    """Hand-build a PNG whose four scanlines use filters Sub/Up/Average/
    Paeth — the decoder must reproduce the plain pixels."""
    w, h, ch = 4, 4, 3
    plain = _checker_rgb(w, h)
    stride = w * ch
    rows = [bytearray(plain[r * stride:(r + 1) * stride]) for r in range(h)]

    def sub(row):
        enc = bytearray(row)
        for i in range(stride - 1, ch - 1, -1):
            enc[i] = (enc[i] - row[i - ch]) & 0xFF
        return enc

    def up(row, prev):
        return bytearray((row[i] - prev[i]) & 0xFF for i in range(stride))

    def avg(row, prev):
        enc = bytearray(stride)
        for i in range(stride):
            left = row[i - ch] if i >= ch else 0
            enc[i] = (row[i] - ((left + prev[i]) >> 1)) & 0xFF
        return enc

    def paeth(row, prev):
        enc = bytearray(stride)
        for i in range(stride):
            left = row[i - ch] if i >= ch else 0
            ul = prev[i - ch] if i >= ch else 0
            enc[i] = (row[i] - pixels._paeth(left, prev[i], ul)) & 0xFF
        return enc

    raw = (
        b"\x01" + bytes(sub(rows[0]))
        + b"\x02" + bytes(up(rows[1], rows[0]))
        + b"\x03" + bytes(avg(rows[2], rows[1]))
        + b"\x04" + bytes(paeth(rows[3], rows[2]))
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    blob = (
        pixels._PNG_SIG
        + pixels._png_chunk(b"IHDR", ihdr)
        + pixels._png_chunk(b"IDAT", zlib.compress(raw))
        + pixels._png_chunk(b"IEND", b"")
    )
    got = pixels.decode_png(blob)
    assert bytes(got[3]) == plain


def test_png_malformed_still_fails_loudly():
    # 16-bit RGB is SUPPORTED since round 11 — but a stream with no
    # IDAT must fail as malformed data, not decode garbage
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    blob = (
        pixels._PNG_SIG
        + pixels._png_chunk(b"IHDR", ihdr)
        + pixels._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        pixels.decode_png(blob)


def _bmp_24(w: int, h: int, rgb: bytes) -> bytes:
    """Minimal bottom-up 24-bit BI_RGB BMP from row-major RGB bytes."""
    row_bytes = (w * 3 + 3) & ~3
    body = bytearray()
    for row in range(h - 1, -1, -1):  # bottom-up storage
        line = bytearray()
        for x in range(w):
            r, g, b = rgb[(row * w + x) * 3:(row * w + x) * 3 + 3]
            line += bytes((b, g, r))
        line += b"\x00" * (row_bytes - len(line))
        body += line
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    )
    assert len(header) == 54
    return bytes(header + body)


def test_bmp_decode_normalizes_to_rgb_row_major():
    rgb = _checker_rgb(3, 2)
    w, h, ch, out = pixels.decode_bmp(_bmp_24(3, 2, rgb))
    assert (w, h, ch) == (3, 2, 3)
    assert bytes(out) == rgb


def test_pixel_stats_exact_means():
    # 2x2 RGB: two pure-red + two pure-blue pixels
    px = b"\xff\x00\x00" * 2 + b"\x00\x00\xff" * 2
    blob = pixels.encode_png(2, 2, 3, px)
    stats = pixels.pixel_stats(blob)
    assert stats["width"] == 2 and stats["height"] == 2
    assert stats["channels"] == 3
    # mean R = mean B = 127.5; luma = (299+114)*127.5/1000
    assert stats["mean_luma"] == round((299 + 114) * 127.5 / 1000, 4)


def test_block_gradient_and_mean_max_helpers():
    """The synthesis laws the codec rows build their images from, and
    the q4 mean / max they report."""
    vals = [10, 20, 30, 40]
    for ch in (1, 3):
        px = pixels.four_blocks(vals, channels=ch)
        assert len(px) == 256 * ch
        for y in range(16):
            for x in range(16):
                v = vals[(x >= 8) + 2 * (y >= 8)]
                assert px[(y * 16 + x) * ch : (y * 16 + x + 1) * ch] == [v] * ch
    g = pixels.gradient_gray(250)
    assert len(g) == 256 and g[0] == 250 and g[1] == 253 and g[16] == 255
    assert g[17] == (250 + 3 + 5) % 256
    assert pixels.mean_max([1, 2, 2]) == (1.6667, 2)
    assert pixels.mean_max(bytearray([0, 255])) == (127.5, 255)


def test_resize_nearest_halves_checkerboard():
    blob = pixels.encode_png(4, 4, 3, _checker_rgb(4, 4))
    out = pixels.resize_nearest(blob, 2, 2)
    w, h, ch, px = pixels.decode_png(out)
    assert (w, h, ch) == (2, 2, 3)
    # nearest with 2x downscale samples even source rows/cols -> all red
    assert bytes(px) == b"\xff\x00\x00" * 4


def test_codec_formats_still_gated():
    # GIF pixels still need a codec library (LZW + palette + frames)
    with pytest.raises(NotImplementedError):
        pixels.decode_pixels(b"GIF89a" + b"\x00" * 20)
    # baseline JPEG now decodes; a truncated stream is malformed-data
    with pytest.raises(ValueError):
        pixels.decode_pixels(b"\xff\xd8\xff\xe0\x00\x04 j")


# --- baseline JPEG (operators/jpeg.py) ------------------------------------


def test_jpeg_flat_blocks_exact():
    """DC-only behavior is exactly predictable: a flat image has zero AC
    energy, so the round-trip error is pure DC quantization (|err| <= 1
    for flat q=16), and mid-gray/black/white reproduce exactly."""
    from mongo_analyser_spark.operators import jpeg

    for val, exact in ((0, True), (128, True), (255, False), (200, True)):
        px = bytes([val]) * (24 * 16)
        w, h, ch, out = jpeg.decode_jpeg(jpeg.encode_jpeg(24, 16, 1, px))
        assert (w, h, ch) == (24, 16, 1)
        err = max(abs(a - b) for a, b in zip(px, out))
        assert err <= 1
        if exact:
            assert err == 0, val


def test_jpeg_two_blocks_dc_prediction():
    """Two horizontally adjacent flat blocks with different levels: the
    second block's DC rides on differential prediction from the first —
    both must land on their own level (decoder DC-predictor chain)."""
    from mongo_analyser_spark.operators import jpeg

    px = bytes(64 if x < 8 else 192 for y in range(8) for x in range(16))
    _, _, _, out = jpeg.decode_jpeg(jpeg.encode_jpeg(16, 8, 1, px))
    assert max(abs(a - b) for a, b in zip(px, out)) <= 1


def test_jpeg_roundtrip_tolerance_gray_and_color():
    import random

    from mongo_analyser_spark.operators import jpeg

    rng = random.Random(11)
    gray = bytes(rng.randrange(256) for _ in range(40 * 24))
    _, _, ch, out = jpeg.decode_jpeg(jpeg.encode_jpeg(40, 24, 1, gray))
    assert ch == 1
    # flat q=16 bounds per-coefficient error by 8; worst-case pixel error
    # stays well inside 16 even for white noise
    assert max(abs(a - b) for a, b in zip(gray, out)) <= 16

    rgb = bytes(
        c
        for y in range(20)
        for x in range(18)
        for c in ((x * 13) % 256, (y * 11) % 256, 77)
    )
    for sub in (False, True):  # 4:4:4 and 4:2:0
        w, h, ch, out = jpeg.decode_jpeg(
            jpeg.encode_jpeg(18, 20, 3, rgb, subsample=sub)
        )
        assert (w, h, ch) == (18, 20, 3)
        tol = 24 if sub else 16  # chroma averaging adds error on gradients
        assert max(abs(a - b) for a, b in zip(rgb, out)) <= tol


def test_jpeg_restart_markers_bit_identical():
    """DRI/RSTn resync path: identical decoded pixels with and without
    restart intervals (predictors reset + byte-align at each RST)."""
    import random

    from mongo_analyser_spark.operators import jpeg

    rng = random.Random(5)
    px = bytes(rng.randrange(256) for _ in range(40 * 24))
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(40, 24, 1, px))
    for ri in (1, 2, 7):
        assert jpeg.decode_jpeg(
            jpeg.encode_jpeg(40, 24, 1, px, restart_interval=ri)
        ) == plain


def test_jpeg_arithmetic_still_gated():
    """SOF2 (progressive) decodes since round 11; the codec-bound
    residue is arithmetic coding (SOF9) — and a progressive stream with
    no scans/tables must fail as ValueError, not decode garbage."""
    import struct

    from mongo_analyser_spark.operators import jpeg

    sof9 = struct.pack(">BBHBHHB", 0xFF, 0xC9, 11, 8, 8, 8, 1) + b"\x01\x11\x00"
    with pytest.raises(NotImplementedError):
        jpeg.decode_jpeg(b"\xff\xd8" + sof9 + b"\xff\xd9")
    sof2 = struct.pack(">BBHBHHB", 0xFF, 0xC2, 11, 8, 8, 8, 1) + b"\x01\x11\x00"
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"\xff\xd8" + sof2 + b"\xff\xd9")


def test_jpeg_fill_bytes_before_markers_tolerated():
    """T.81 B.1.1.2 permits any number of 0xFF fill bytes before a
    marker; a padded stream must decode identically (advice r8 #3)."""
    from mongo_analyser_spark.operators import jpeg

    px = bytes((x * 7 + y * 3) % 256 for y in range(16) for x in range(16))
    blob = jpeg.encode_jpeg(16, 16, 1, px)
    want = jpeg.decode_jpeg(blob)
    # pad every marker in the segment stream (skip SOI at 0; never pad
    # inside the entropy stream, so stop at SOS)
    padded = bytearray()
    i = 0
    while i < len(blob):
        if (
            blob[i] == 0xFF
            and i + 1 < len(blob)
            and blob[i + 1] not in (0x00,)
            and i > 0
        ):
            padded.extend(b"\xff\xff\xff")
            padded.append(blob[i])
            padded.append(blob[i + 1])
            if blob[i + 1] == 0xDA:  # SOS: copy the rest verbatim
                padded.extend(blob[i + 2:])
                break
            i += 2
            continue
        padded.append(blob[i])
        i += 1
    assert jpeg.decode_jpeg(bytes(padded)) == want


def test_jpeg_partial_scan_gated():
    """A SOS covering fewer components than SOF (non-interleaved
    multi-scan) must fail loudly, not decode partial planes."""
    import struct

    from mongo_analyser_spark.operators import jpeg

    px = bytes(range(0, 192, 3)) * 3  # 8x8 rgb
    blob = bytearray(jpeg.encode_jpeg(8, 8, 3, px))
    i = blob.find(b"\xff\xda")
    assert i >= 0
    (seglen,) = struct.unpack(">H", blob[i + 2:i + 4])
    # rewrite the SOS header to list only the FIRST component
    ns = blob[i + 4]
    assert ns == 3
    new_hdr = struct.pack(">H", 2 + 1 + 2 * 1 + 3) + b"\x01" + bytes(
        blob[i + 5:i + 7]
    ) + bytes(blob[i + 2 + seglen - 3:i + 2 + seglen])
    mutated = bytes(blob[:i + 2]) + new_hdr + bytes(blob[i + 2 + seglen:])
    with pytest.raises(NotImplementedError, match="1 of 3"):
        jpeg.decode_jpeg(mutated)


def test_jpeg_through_pixel_dispatch_and_stats():
    from mongo_analyser_spark.operators import jpeg

    px = bytes([100]) * (16 * 16)
    blob = jpeg.encode_jpeg(16, 16, 1, px)
    stats = pixels.pixel_stats(blob)
    assert stats["width"] == 16 and stats["channels"] == 1
    assert abs(stats["mean_luma"] - 100.0) <= 1.0
    # resize goes decode -> nearest -> PNG re-encode (lossless container)
    out = pixels.resize_nearest(blob, 4, 4)
    w, h, ch, rpx = pixels.decode_png(out)
    assert (w, h, ch) == (4, 4, 1)
    assert all(abs(v - 100) <= 1 for v in rpx)


def test_arrow_pixel_stats_and_real_resize_stage(spark):
    """The Spark-side plumbing with REAL pixel work: pack PNG payloads,
    extract pixel stats and resize through the Arrow stages."""
    from pyspark.sql import functions as F

    from mongo_analyser_spark.operators.multimodal import (
        extract_pixel_stats,
        pack_media,
        resize_media,
    )

    blobs = [
        (1, pixels.encode_png(4, 4, 3, _checker_rgb(4, 4))),
        (2, _bmp_24(3, 2, _checker_rgb(3, 2))),
    ]
    df = spark.createDataFrame(blobs, "id long, payload binary").select(
        "id", pack_media(F.col("payload"), "image/png").alias("media")
    )
    stats = {r["id"]: r for r in extract_pixel_stats(df, "id", "media").collect()}
    assert stats[1]["width"] == 4 and stats[1]["channels"] == 3
    assert stats[2]["width"] == 3 and stats[2]["height"] == 2

    resized = {
        r["id"]: r for r in resize_media(df, "id", "media", 2, 2, resizer="real").collect()
    }
    for rid in (1, 2):
        w, h, ch, _ = pixels.decode_png(bytes(resized[rid]["data"]))
        assert (w, h) == (2, 2)


# ---------------------------------------------------------- progressive JPEG
def test_progressive_jpeg_matches_baseline_decode():
    """The cross-codec pin: the progressive encoder writes the SAME
    quantized coefficients as the baseline encoder, so both containers
    must decode to IDENTICAL pixels — covering DC/AC first scans and,
    with successive=True, DC bit refinement + AC correction-bit
    refinement (ZRL and EOB paths included)."""
    import random

    from mongo_analyser_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = random.Random(7)
    for w, h, ch in [(8, 8, 1), (13, 9, 1), (8, 8, 3), (20, 14, 3)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        base = decode_jpeg(encode_jpeg(w, h, ch, px, quant=12))
        for successive in (False, True):
            prog = decode_jpeg(
                encode_jpeg_progressive(
                    w, h, ch, px, quant=12, successive=successive
                )
            )
            assert prog == base, (w, h, ch, successive)


def test_progressive_jpeg_dc_only_exact():
    """DC-only content (flat 8x8 tiles at quant=1) round-trips exactly
    through the progressive path — the same exact-fixture pin the
    baseline decoder has."""
    from mongo_analyser_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    px = bytes([77] * 64)
    w, h, ch, out = decode_jpeg(
        encode_jpeg_progressive(8, 8, 1, px, quant=1)
    )
    assert (w, h, ch) == (8, 8, 1)
    assert bytes(out) == px


def test_progressive_eobn_run_decode():
    """EOBn (run > 0) codes are valid progressive streams this encoder
    never emits — exercise the decoder branch directly: an EOB2 ends
    the current block AND skips the next (1<<1)-1+bits blocks."""
    from mongo_analyser_spark.operators.jpeg import (
        _ac_first_block,
        _BitReader,
        _BitWriter,
        _build_huff_decode,
        _fixed_table,
    )

    # the in-code fixed AC table carries no EOBn>0 symbols (the encoder
    # never emits them) — build a custom 2-bit table with one: 0x03
    # (run 0, size 3) and 0x10 (EOBn, r=1)
    bits, vals, enc = _fixed_table([0x03, 0x10], 2)
    table = _build_huff_decode(bits, vals)
    bw = _BitWriter()
    # block 0: coefficient 5 at k=1, then EOBn r=1: eobrun covers
    # (1<<1)-1 + appended bit = 2 more blocks after this one ends
    bw.write(*enc[0x03])
    bw.write(5, 3)
    bw.write(*enc[0x10])
    bw.write(1, 1)
    reader = _BitReader(bw.flush())
    c0, c1, c2 = [0] * 64, [0] * 64, [0] * 64
    eob = _ac_first_block(reader, table, c0, 1, 63, 0, 0)
    assert c0[1] == 5 and eob == 2
    eob = _ac_first_block(reader, table, c1, 1, 63, 0, eob)
    eob = _ac_first_block(reader, table, c2, 1, 63, 0, eob)
    assert eob == 0 and c1 == [0] * 64 and c2 == [0] * 64


def test_progressive_rejects_bad_refinement_symbol():
    import pytest

    from mongo_analyser_spark.operators.jpeg import (
        _ac_refine_block,
        _BitReader,
        _BitWriter,
        _build_huff_decode,
        _TABLES,
    )

    ac_bits, ac_vals, ac_enc = _TABLES[8][1]
    table = _build_huff_decode(list(ac_bits), ac_vals)
    bw = _BitWriter()
    bw.write(*ac_enc[(0 << 4) | 3])  # s=3 invalid in refinement
    bw.write(5, 3)
    with pytest.raises(ValueError):
        _ac_refine_block(_BitReader(bw.flush()), table, [0] * 64, 1, 63, 0, 0)


# -------------------------------------------------- full-format PNG decode
def _png_chunks(*chunks):
    return pixels._PNG_SIG + b"".join(
        pixels._png_chunk(t, d) for t, d in chunks
    )


def test_png_palette_decode_with_and_without_trns():
    import zlib as _z

    # 2x2, palette: entries red/green/blue/white, indices row-major
    plte = b"\xff\x00\x00\x00\xff\x00\x00\x00\xff\xff\xff\xff"
    raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 3])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    blob = _png_chunks((b"IHDR", ihdr), (b"PLTE", plte),
                       (b"IDAT", _z.compress(raw)), (b"IEND", b""))
    w, h, ch, out = pixels.decode_png(blob)
    assert (w, h, ch) == (2, 2, 3)
    assert bytes(out) == plte
    # with tRNS: RGBA, missing entries default to opaque
    blob = _png_chunks((b"IHDR", ihdr), (b"PLTE", plte),
                       (b"tRNS", bytes([128, 255])),
                       (b"IDAT", _z.compress(raw)), (b"IEND", b""))
    w, h, ch, out = pixels.decode_png(blob)
    assert ch == 4
    assert out[3] == 128 and out[7] == 255 and out[11] == 255


def test_png_16bit_takes_high_byte():
    import zlib as _z

    # 2x1 gray 16-bit: values 0x1234, 0xFF00
    raw = b"\x00" + bytes([0x12, 0x34, 0xFF, 0x00])
    ihdr = struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0)
    blob = _png_chunks((b"IHDR", ihdr), (b"IDAT", _z.compress(raw)),
                       (b"IEND", b""))
    w, h, ch, out = pixels.decode_png(blob)
    assert (w, h, ch) == (2, 1, 1) and bytes(out) == bytes([0x12, 0xFF])


def test_png_subbyte_gray_scales_to_255():
    import zlib as _z

    # 4x1 2-bit gray: values 0,1,2,3 packed MSB-first into one byte
    raw = b"\x00" + bytes([0b00011011])
    ihdr = struct.pack(">IIBBBBB", 4, 1, 2, 0, 0, 0, 0)
    blob = _png_chunks((b"IHDR", ihdr), (b"IDAT", _z.compress(raw)),
                       (b"IEND", b""))
    _, _, ch, out = pixels.decode_png(blob)
    assert ch == 1 and bytes(out) == bytes([0, 85, 170, 255])


def test_png_adam7_interlaced_roundtrip():
    """Hand-interlace a known 8x8 gray image into Adam7 pass order and
    check the decoder reassembles it."""
    import zlib as _z

    plain = [((x * 16 + y * 2) % 256) for y in range(8) for x in range(8)]
    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    raw = bytearray()
    for xs, ys, xstep, ystep in passes:
        pw = (8 - xs + xstep - 1) // xstep
        ph = (8 - ys + ystep - 1) // ystep
        if pw <= 0 or ph <= 0:
            continue
        for r in range(ph):
            raw.append(0)  # filter None
            y = ys + r * ystep
            for c in range(pw):
                raw.append(plain[y * 8 + xs + c * xstep])
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 1)
    blob = _png_chunks((b"IHDR", ihdr), (b"IDAT", _z.compress(bytes(raw))),
                       (b"IEND", b""))
    w, h, ch, out = pixels.decode_png(blob)
    assert (w, h, ch) == (8, 8, 1)
    assert list(out) == plain


def test_png_gray_alpha_channels():
    import zlib as _z

    raw = b"\x00" + bytes([10, 200, 20, 100])  # 2x1 GA pairs
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 4, 0, 0, 0)
    blob = _png_chunks((b"IHDR", ihdr), (b"IDAT", _z.compress(raw)),
                       (b"IEND", b""))
    w, h, ch, out = pixels.decode_png(blob)
    assert (w, h, ch) == (2, 1, 2) and bytes(out) == bytes([10, 200, 20, 100])


def test_png_illegal_combo_is_value_error():
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)  # 16-bit palette
    blob = _png_chunks((b"IHDR", ihdr), (b"IEND", b""))
    with pytest.raises(ValueError):
        pixels.decode_png(blob)


def test_png_gray_alpha_encode_roundtrip_and_resize():
    """ADVICE r11: color type 4 (gray+alpha) must re-encode so
    resize_nearest never crashes on a decodable PNG."""
    px = bytes([10, 200, 20, 100, 30, 50, 40, 255])  # 2x2 GA
    blob = pixels.encode_png(2, 2, 2, px)
    w, h, ch, out = pixels.decode_png(blob)
    assert (w, h, ch) == (2, 2, 2) and bytes(out) == px
    w, h, ch, out = pixels.decode_png(pixels.resize_nearest(blob, 4, 4))
    assert (w, h, ch) == (4, 4, 2)
    assert bytes(out[:4]) == bytes([10, 200, 10, 200])


def test_png_trns_key_gray_and_rgb():
    """ADVICE r11: tRNS transparency KEY on color types 0/2 synthesizes
    an alpha channel (key pixel -> 0, everything else -> 255)."""
    import zlib as _z

    # 2x1 8-bit gray, key = 200
    raw = b"\x00" + bytes([200, 10])
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
    blob = _png_chunks((b"IHDR", ihdr), (b"tRNS", struct.pack(">H", 200)),
                       (b"IDAT", _z.compress(raw)), (b"IEND", b""))
    w, h, ch, out = pixels.decode_png(blob)
    assert (w, h, ch) == (2, 1, 2)
    assert bytes(out) == bytes([200, 0, 10, 255])

    # 2x1 8-bit RGB, key = (1, 2, 3)
    raw = b"\x00" + bytes([1, 2, 3, 9, 9, 9])
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
    blob = _png_chunks((b"IHDR", ihdr),
                       (b"tRNS", struct.pack(">HHH", 1, 2, 3)),
                       (b"IDAT", _z.compress(raw)), (b"IEND", b""))
    w, h, ch, out = pixels.decode_png(blob)
    assert (w, h, ch) == (2, 1, 4)
    assert bytes(out) == bytes([1, 2, 3, 0, 9, 9, 9, 255])

    # 16-bit gray: key compares against the RAW 16-bit sample
    raw = b"\x00" + bytes([0x12, 0x34, 0x12, 0x35])
    ihdr = struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0)
    blob = _png_chunks((b"IHDR", ihdr),
                       (b"tRNS", struct.pack(">H", 0x1234)),
                       (b"IDAT", _z.compress(raw)), (b"IEND", b""))
    w, h, ch, out = pixels.decode_png(blob)
    assert (w, h, ch) == (2, 1, 2)
    assert bytes(out) == bytes([0x12, 0, 0x12, 255])


# --- 12-bit extended sequential (round 13) ---------------------------------


def _blocks12(vals):
    px = [0] * 256
    for b, (ox, oy) in enumerate([(0, 0), (8, 0), (0, 8), (8, 8)]):
        for yy in range(8):
            for xx in range(8):
                px[(oy + yy) * 16 + ox + xx] = vals[b]
    return px


def test_jpeg12_flat_blocks_exact():
    """EVEN 12-bit values round-trip bit-exactly through the flat-16
    quantizer (DC = 8·(v-2048) with even s, all ACs 0) — including the
    full 0..4095 range the 8-bit path cannot represent."""
    from mongo_analyser_spark.operators import jpeg

    for vals in [(32, 2048, 4064, 1000), (0, 2, 4094, 2046)]:
        px = _blocks12(vals)
        w, h, ch, mx, out = jpeg.decode_jpeg_ex(
            jpeg.encode_jpeg12(16, 16, 1, px)
        )
        assert (w, h, ch, mx) == (16, 16, 1, 4095)
        assert out == px


def test_jpeg12_gradient_tolerance_and_restart():
    from mongo_analyser_spark.operators import jpeg

    gpx = [(x * 257 + y * 131) % 4096 for y in range(16) for x in range(16)]
    _, _, _, _, out = jpeg.decode_jpeg_ex(
        jpeg.encode_jpeg12(16, 16, 1, gpx, quant=2)
    )
    assert max(abs(a - b) for a, b in zip(gpx, out)) <= 8
    # restart intervals resync the 12-bit DC predictors too
    rpx = [(x * 7) % 4096 for _ in range(8) for x in range(32)]
    _, _, _, _, out2 = jpeg.decode_jpeg_ex(
        jpeg.encode_jpeg12(32, 8, 1, rpx, quant=2, restart_interval=2)
    )
    assert max(abs(a - b) for a, b in zip(rpx, out2)) <= 8


def test_jpeg12_color_roundtrip():
    from mongo_analyser_spark.operators import jpeg

    cpx = []
    for y in range(8):
        for x in range(8):
            cpx += [x * 512 % 4096, y * 512 % 4096, (x + y) * 256 % 4096]
    w, h, ch, mx, out = jpeg.decode_jpeg_ex(
        jpeg.encode_jpeg12(8, 8, 3, cpx, quant=1)
    )
    assert (w, h, ch, mx) == (8, 8, 3, 4095)
    # quant=1 color error budget: YCbCr forward/inverse rounding only
    assert sum(abs(a - b) for a, b in zip(cpx, out)) / len(cpx) < 1.0


def test_jpeg12_ex_delegates_8bit_and_gates_stay():
    from mongo_analyser_spark.operators import jpeg

    p8 = jpeg.encode_jpeg(8, 8, 1, bytes([128] * 64))
    w, h, ch, mx, out = jpeg.decode_jpeg_ex(p8)
    assert (w, h, ch, mx) == (8, 8, 1, 255)
    assert out == [128] * 64
    p12 = jpeg.encode_jpeg12(16, 16, 1, _blocks12((32, 2048, 4064, 1000)))
    # the byte-contract decoder still gates 12-bit
    with pytest.raises(NotImplementedError, match="precision 12"):
        jpeg.decode_jpeg(p12)
    # a LYING SOF sampling byte must surface as the armor's ValueError,
    # never IndexError: a 4:2:0 stream whose Y factor claims 1x1 makes
    # the decoder expect 12 blocks where only 6 were coded, exhausting
    # the entropy stream
    # (SOF1 payload: precision, H, W, ncomp, then [id, hv, tq] triples)
    p420 = jpeg.encode_jpeg12(
        16, 16, 3, _gray_rgb12_blocks((32, 2048, 4064, 1000)),
        subsample=True,
    )
    bad = bytearray(p420)
    i = bad.find(b"\xff\xc1")
    assert bad[i + 4] == 12 and bad[i + 11] == 0x22
    bad[i + 11] = 0x11
    with pytest.raises(ValueError):
        jpeg.decode_jpeg_ex(bytes(bad))
    # bad sample range rejected at encode
    with pytest.raises(ValueError, match="0..4095"):
        jpeg.encode_jpeg12(1, 1, 1, [4096])
    # subsampling a grayscale image is meaningless and rejected
    with pytest.raises(ValueError):
        jpeg.encode_jpeg12(16, 16, 1, [0] * 256, subsample=True)


# --- 12-bit progressive (round 15) ------------------------------------------


def test_jpeg12_progressive_matches_sequential_decode():
    """The cross-codec contract at 12 bits: encode_jpeg12_progressive's
    quantized coefficients are identical to encode_jpeg12's, so the two
    containers must decode to the SAME samples — with and without the
    successive-approximation level (which exercises DC bit refinement
    and AC correction-bit refinement at 12-bit magnitudes, sizes the
    8-bit tables cannot code)."""
    import random

    from mongo_analyser_spark.operators import jpeg

    rng = random.Random(3)
    for w, h, ch in ((16, 16, 1), (10, 13, 3)):
        samples = [rng.randrange(4096) for _ in range(w * h * ch)]
        seq = jpeg.decode_jpeg_ex(jpeg.encode_jpeg12(w, h, ch, samples))
        for succ in (True, False):
            prog = jpeg.decode_jpeg_ex(
                jpeg.encode_jpeg12_progressive(
                    w, h, ch, samples, successive=succ
                )
            )
            assert prog == seq, (w, h, ch, succ)


def test_jpeg12_progressive_flat_blocks_exact_and_gates():
    from mongo_analyser_spark.operators import jpeg

    # even flat blocks are bit-exact through the flat-16 quantizer in
    # the progressive container too (DC-only blocks)
    px = _blocks12((32, 2048, 4064, 1000))
    w, h, ch, mx, out = jpeg.decode_jpeg_ex(
        jpeg.encode_jpeg12_progressive(16, 16, 1, px)
    )
    assert (w, h, ch, mx) == (16, 16, 1, 4095)
    assert out == px
    p = jpeg.encode_jpeg12_progressive(16, 16, 1, px)
    # the byte-contract 8-bit decoder still gates 12-bit progressive
    with pytest.raises(NotImplementedError, match="precision 12"):
        jpeg.decode_jpeg(p)
    # other precisions rejected by name
    i = p.find(b"\xff\xc2")
    assert p[i + 4] == 12
    odd = bytearray(p)
    odd[i + 4] = 10
    with pytest.raises(NotImplementedError, match="precision 10"):
        jpeg.decode_jpeg_ex(bytes(odd))


# --- 12-bit subsampled (round 15 — the JPEG gate narrows to exactly
# --- arithmetic coding) ------------------------------------------------------


def _gray_rgb12_blocks(vals):
    """16x16 3-channel image of four constant 8x8 blocks with R=G=B=v:
    the YCbCr forward transform is exact (Y=v, Cb=Cr=2048), constant
    chroma survives the 2x2-average downsample exactly, and even v
    round-trips the flat-16 quantizer bit-exactly — so the 4:2:0
    12-bit round trip must be EXACT."""
    px = [0] * (256 * 3)
    for b, (ox, oy) in enumerate([(0, 0), (8, 0), (0, 8), (8, 8)]):
        for yy in range(8):
            for xx in range(8):
                i = ((oy + yy) * 16 + ox + xx) * 3
                px[i:i + 3] = [vals[b]] * 3
    return px


def test_jpeg12_subsampled_flat_blocks_exact_both_containers():
    from mongo_analyser_spark.operators import jpeg

    for vals in [(32, 2048, 4064, 1000), (0, 2, 4094, 2046)]:
        px = _gray_rgb12_blocks(vals)
        for enc in (jpeg.encode_jpeg12, jpeg.encode_jpeg12_progressive):
            w, h, ch, mx, out = jpeg.decode_jpeg_ex(
                enc(16, 16, 3, px, subsample=True)
            )
            assert (w, h, ch, mx) == (16, 16, 3, 4095), enc.__name__
            assert out == px, enc.__name__


def test_jpeg12_subsampled_cross_codec_and_edges():
    """Sequential and progressive 4:2:0 12-bit containers carry
    IDENTICAL quantized coefficients, so they must decode identically —
    including non-multiple-of-16 dimensions where the MCU grid pads
    (dummy-block DC coding + crop) and the chroma border averages
    fewer than 4 samples."""
    from mongo_analyser_spark.operators import jpeg

    for w, h in ((20, 12), (9, 17), (16, 16)):
        px = [
            v
            for y in range(h)
            for x in range(w)
            for v in (
                (x * 180 + y * 140) % 4096,
                (x * 90 + y * 70) % 4096,
                (x * 45 + y * 35) % 4096,
            )
        ]
        seq = jpeg.decode_jpeg_ex(
            jpeg.encode_jpeg12(w, h, 3, px, subsample=True)
        )
        for succ in (True, False):
            prog = jpeg.decode_jpeg_ex(
                jpeg.encode_jpeg12_progressive(
                    w, h, 3, px, subsample=True, successive=succ
                )
            )
            assert prog == seq, (w, h, succ)
        # and the lossy error stays within the flat-16 + 4:2:0 budget
        out = seq[4]
        assert max(abs(a - b) for a, b in zip(out, px)) <= 2600, (w, h)


def test_jpeg12_subsampled_restart_interval():
    from mongo_analyser_spark.operators import jpeg

    px = _gray_rgb12_blocks((32, 2048, 4064, 1000)) * 4  # 16x64 via rows
    # build a 64x16 image (4 MCUs wide) so restart markers fire
    wide = [0] * (64 * 16 * 3)
    base = _gray_rgb12_blocks((32, 2048, 4064, 1000))
    for y in range(16):
        for x in range(64):
            sv = base[((y % 16) * 16 + (x % 16)) * 3]
            i = (y * 64 + x) * 3
            wide[i:i + 3] = [sv] * 3
    w, h, ch, mx, out = jpeg.decode_jpeg_ex(
        jpeg.encode_jpeg12(64, 16, 3, wide, subsample=True,
                           restart_interval=2)
    )
    assert (w, h, ch, mx) == (64, 16, 3, 4095)
    assert out == wide



def test_jpeg12_sos_listing_more_components_than_sof_raises():
    """A 12-bit sequential SOS that lists more components than its SOF
    is malformed (ValueError), exactly as at precision 8."""
    import struct

    from mongo_analyser_spark.operators import jpeg

    for blob in (
        jpeg.encode_jpeg(16, 16, 1, bytes(256)),
        jpeg.encode_jpeg12(16, 16, 1, _blocks12((32, 2048, 4064, 1000))),
    ):
        i = blob.find(b"\xff\xda")
        (seglen,) = struct.unpack(">H", blob[i + 2:i + 4])
        assert blob[i + 4] == 1
        # SOS for components 1 and 2 of a one-component frame
        sos = b"\x02" + bytes(blob[i + 5:i + 7]) + b"\x02\x00" + bytes(
            blob[i + 7:i + 2 + seglen]
        )
        mutated = (
            blob[:i + 2] + struct.pack(">H", 2 + len(sos)) + sos
            + blob[i + 2 + seglen:]
        )
        with pytest.raises(ValueError, match="more components than SOF"):
            jpeg.decode_jpeg_ex(mutated)


def test_jpeg_zero_sampling_factor_raises_valueerror():
    """A multi-component SOF with an H or V sampling factor of 0 is
    malformed: ValueError, not a ZeroDivisionError or a numpy
    broadcast error from the block geometry. A lone component is still
    forced to 1x1, so a zeroed grayscale factor keeps decoding."""
    from mongo_analyser_spark.operators import jpeg

    blob = jpeg.encode_jpeg(16, 16, 3, bytes(range(256)) * 3)
    i = blob.find(b"\xff\xc0")
    for zeroed in ((0, 1, 2), (0,), (2,)):
        b = bytearray(blob)
        for c in zeroed:
            b[i + 11 + 3 * c] = 0  # component c's H<<4|V byte
        with pytest.raises(ValueError, match="sampling factor 0"):
            jpeg.decode_jpeg(bytes(b))
    gray = jpeg.encode_jpeg(16, 16, 1, bytes(range(256)))
    i = gray.find(b"\xff\xc0")
    b = bytearray(gray)
    b[i + 11] = 0
    assert jpeg.decode_jpeg(bytes(b)) == jpeg.decode_jpeg(gray)


def test_jpeg_writers_byte_pin():
    """Every JPEG writer's bytes on fixed inputs, pinned by sha256: the
    one sequential and the one progressive writer must reproduce each
    8- and 12-bit stream byte for byte (odd sizes, 4:2:0, restarts,
    quant above the 8-bit DQT clamp, both progressive modes)."""
    import hashlib

    from mongo_analyser_spark.operators import jpeg as J

    def img(w, h, ch, maxv):
        # a gradient with sparse spikes: long zero runs and large
        # coefficients in the same blocks
        out = []
        for y in range(h):
            for x in range(w):
                for c in range(ch):
                    i = (y * w + x) * ch + c
                    spike = maxv // 5 if (i * 7919) % 11 == 0 else 0
                    v = x * 9 + y * 5 + c * 40 + spike
                    out.append(v * (maxv + 1) // 256 % (maxv + 1))
        return out

    pins = {
        "b5bf40e0598a95ab14444b11570a06502cfad0c20a081f20b79ec6551e6a8dd3":
            J.encode_jpeg(17, 13, 1, bytes(img(17, 13, 1, 255))),
        "0d7df4e31362d0236014dd5f31c45305c3a80e5de2829f9f62cadea9fff1df13":
            J.encode_jpeg(16, 16, 3, bytes(img(16, 16, 3, 255))),
        "5c2ff4f9c90cfafedf1bc66723000ffb28eafe2927e978dbd786cb2fb47e9dac":
            J.encode_jpeg(19, 11, 3, bytes(img(19, 11, 3, 255)), quant=300,
                          subsample=True, restart_interval=2),
        "bfc280de1b51f51532ec4e55d8a3b21a4b3993b57d8898d872ceef308e9c7d48":
            J.encode_jpeg12(17, 13, 1, img(17, 13, 1, 4095),
                            restart_interval=1),
        "c495ab922227be37b006c8ba57b1b3e33e79f9b34fbe5baea2dd140231ce9cce":
            J.encode_jpeg12(19, 11, 3, img(19, 11, 3, 4095), quant=40,
                            subsample=True),
        "5e21ee2c3844c06cacc14b9b3c8f2175ef1b4d980ce7161a337ca74675a8e0e0":
            J.encode_jpeg_progressive(17, 13, 3, bytes(img(17, 13, 3, 255))),
        "b7ea797edaa3652ad7d3e79b129ea3164f095096aced0a75895116bcd515b876":
            J.encode_jpeg_progressive(17, 13, 1, bytes(img(17, 13, 1, 255)),
                                      quant=8, successive=False),
        "98a18a9816b32ad3fecd91529664b18061078c1bf00213e21fa475dcb56e522c":
            J.encode_jpeg12_progressive(19, 11, 3, img(19, 11, 3, 4095),
                                        subsample=True),
    }
    for want, payload in pins.items():
        assert hashlib.sha256(payload).hexdigest() == want

# --- untrusted-input hardening (round 13 fuzz sweep) -----------------------


def test_untrusted_decoders_normalize_low_level_errors():
    """A malformed payload must surface as the documented ValueError (or
    an honest NotImplementedError), never IndexError/KeyError/
    struct.error from deep in the bit machinery."""
    from mongo_analyser_spark.operators import jpeg, pixels
    from mongo_analyser_spark.operators.frames import (
        decode_avi, decode_frames, decode_gif, decode_mp4,
    )

    # scan data referencing huffman tables the stream never defined
    # used to KeyError; the wrapper re-raises as ValueError
    payload = bytearray(jpeg.encode_jpeg(8, 8, 1, bytes([128] * 64)))
    i = payload.find(b"\xff\xc4")
    del payload[i : i + 4 + int.from_bytes(payload[i + 2 : i + 4], "big") - 2]
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(bytes(payload))
    # short trailing garbage through every dispatcher stays ValueError
    for fn in (pixels.decode_png, decode_gif, decode_avi, decode_mp4):
        with pytest.raises(ValueError):
            fn(b"\x89PNG\r\n\x1a\nGIF89aRIFFAVI ftyp"[:18])
    with pytest.raises(NotImplementedError):
        decode_frames(b"\x1aE\xdf\xa3 not parseable at all")


def test_dimension_caps_reject_mutated_headers():
    import struct as _s

    from mongo_analyser_spark.operators import jpeg, pixels
    from mongo_analyser_spark.operators.frames import decode_gif, lzw_decode

    sof = _s.pack(">BBHBHHB", 0xFF, 0xC0, 11, 8, 65535, 65535, 1) + b"\x01\x11\x00"
    with pytest.raises(ValueError, match="decode cap"):
        jpeg.decode_jpeg(b"\xff\xd8" + sof + b"\xff\xd9")
    # a mutated LZW minimum-code-size byte must not size a 2^255 table
    with pytest.raises(ValueError, match="minimum code size"):
        lzw_decode(b"\x00\x01", 255)
    # GIF logical screen over the cap
    big = bytearray(
        b"GIF89a" + _s.pack("<HH", 65535, 65535) + b"\x00\x00\x00\x3b"
    )
    with pytest.raises(ValueError, match="decode cap"):
        decode_gif(bytes(big))
    # PNG deflate bomb: kilobytes expanding past the declared geometry
    import zlib as _z

    bomb = _z.compress(b"\x00" * 10_000_000, 9)
    png = bytearray(pixels.encode_png(8, 8, 1, bytes(64)))
    i = png.find(b"IDAT") - 4
    end = png.find(b"IEND") - 4
    png[i:end] = (
        _s.pack(">I", len(bomb)) + b"IDAT" + bomb + _s.pack(">I", 0)
    )
    with pytest.raises(ValueError):
        pixels.decode_png(bytes(png))


def test_mp4_stsz_count_bounded_before_allocation():
    import struct as _s

    from mongo_analyser_spark.operators.frames import (
        decode_mp4, encode_mp4_mjpeg,
    )
    from mongo_analyser_spark.operators.jpeg import encode_jpeg

    base = bytearray(
        encode_mp4_mjpeg(8, 8, [encode_jpeg(8, 8, 1, bytes([128] * 64))])
    )
    i = base.find(b"stsz")
    _s.pack_into(">II", base, i + 8, 4, 0xF0000000)  # fixed=4, count=4e9
    with pytest.raises(ValueError, match="stsz"):
        decode_mp4(bytes(base))


# --- netpbm (round 15) -------------------------------------------------------


def test_pnm_roundtrips_all_four_subformats():
    import random

    from mongo_analyser_spark.operators import pixels

    rng = random.Random(5)
    for w, h, ch in ((16, 16, 1), (7, 3, 3), (1, 1, 1)):
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        for asc in (False, True):
            p = pixels.encode_pnm(w, h, ch, px, ascii_form=asc)
            assert pixels.decode_pnm(p)[3] == bytearray(px)
            # the shared dispatch routes netpbm too
            assert pixels.decode_pixels(p)[3] == bytearray(px)


def test_pnm_binary_raster_starting_with_hash_byte():
    """'#' starts a comment only in the HEADER — a binary raster whose
    first byte is 0x23 must decode as a sample."""
    from mongo_analyser_spark.operators.pixels import decode_pnm

    w, h, c, out = decode_pnm(b"P5\n2 1\n255\n" + bytes([0x23, 0x41]))
    assert bytes(out) == bytes([0x23, 0x41])


def test_pnm_gates_and_armor():
    from mongo_analyser_spark.operators.pixels import decode_pnm

    with pytest.raises(NotImplementedError, match="P1/P4"):
        decode_pnm(b"P4\n1 1\n\x00")
    with pytest.raises(NotImplementedError, match="maxval 65535"):
        decode_pnm(b"P5\n2 2\n65535\n" + b"\x00" * 8)
    with pytest.raises(ValueError, match="truncated"):
        decode_pnm(b"P5\n2 2\n255\n\x00")
    with pytest.raises(ValueError, match="exceeds maxval"):
        decode_pnm(b"P2\n2 2\n255\n1 2 3 999\n")
    with pytest.raises(ValueError, match="non-numeric"):
        decode_pnm(b"P5\n2 x\n255\n")
    with pytest.raises(ValueError, match="not a netpbm"):
        decode_pnm(b"P9\n")


def test_pnm_header_metadata():
    from mongo_analyser_spark.operators.multimodal import parse_image_header
    from mongo_analyser_spark.operators.pixels import encode_pnm

    p = encode_pnm(12, 9, 3, bytes(12 * 9 * 3), ascii_form=True)
    assert parse_image_header(p) == {
        "mime": "image/x-portable-anymap", "width": 12, "height": 9,
        "n_frames": 1,
    }


# --- ICO / SVG (round 15) ----------------------------------------------------


def test_ico_png_members_and_best_selection():
    ico = pixels.encode_ico(
        [
            pixels.encode_png(4, 4, 3, bytes(range(48))),
            pixels.encode_png(8, 8, 1, bytes(range(64))),
        ]
    )
    count, best, imgs = pixels.decode_ico(ico)
    assert count == 2 and best == 1
    assert imgs[0][:3] == (4, 4, 3)
    assert bytes(imgs[1][3]) == bytes(range(64))


def test_ico_dib_member_bgra_bottom_up():
    # 2x2 32-bpp BI_RGB DIB with the doubled-height AND-mask convention
    w, h = 2, 2
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, 2 * h, 1, 32, 0, 0, 0, 0, 0, 0
    )
    rows = (
        bytes((70, 80, 90, 255)) + bytes((100, 110, 120, 255))  # bottom
        + bytes((10, 20, 30, 255)) + bytes((40, 50, 60, 255))   # top
        + b"\0" * 8                                              # mask
    )
    member = dib + rows
    ico = bytearray(b"\0\0\x01\0\x01\0")
    ico += bytes([w, h, 0, 0])
    ico += (1).to_bytes(2, "little") + (32).to_bytes(2, "little")
    ico += len(member).to_bytes(4, "little") + (22).to_bytes(4, "little")
    ico += member
    _count, _best, imgs = pixels.decode_ico(bytes(ico))
    assert imgs[0][:3] == (2, 2, 3)
    assert bytes(imgs[0][3][:6]) == bytes([30, 20, 10, 60, 50, 40])


def test_ico_gates_and_armor():
    ico = pixels.encode_ico([pixels.encode_png(4, 4, 1, bytes(16))])
    for bad in (b"", b"\0\0\x09\0\x01\0", ico[:20]):
        with pytest.raises((ValueError, NotImplementedError)):
            pixels.decode_ico(bad)
    import random

    rng = random.Random(9)
    for _ in range(200):
        buf = bytearray(ico)
        buf[rng.randrange(len(buf))] = rng.randrange(256)
        try:
            pixels.decode_ico(bytes(buf))
        except (ValueError, NotImplementedError):
            pass


def test_ico_svg_header_metadata():
    from mongo_analyser_spark.operators.multimodal import parse_image_header

    ico = pixels.encode_ico(
        [
            pixels.encode_png(4, 4, 3, bytes(48)),
            pixels.encode_png(16, 16, 1, bytes(256)),
        ]
    )
    assert parse_image_header(ico) == {
        "mime": "image/x-icon", "width": 16, "height": 16, "n_frames": 2,
    }
    # the 0-means-256 directory convention
    big = bytearray(ico)
    big[6] = big[7] = 0
    assert parse_image_header(bytes(big))["width"] == 256
    svg = (
        b'<svg xmlns="http://www.w3.org/2000/svg" width="120px" '
        b'height="80"><rect/></svg>'
    )
    assert parse_image_header(svg) == {
        "mime": "image/svg+xml", "width": 120, "height": 80,
        "n_frames": 1,
    }
    vb = b'<?xml version="1.0"?>\n<svg viewBox="0 0 300 150"></svg>'
    assert parse_image_header(vb)["width"] == 300
    with pytest.raises(ValueError):
        parse_image_header(b'<svg width="abc"></svg>')
    with pytest.raises(ValueError):
        parse_image_header(b"<svg ")  # malformed XML
