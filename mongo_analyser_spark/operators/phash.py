"""Perceptual image fingerprints — dHash + banded near-dup join [EXT —
north-star multimodal dedup].

Reference parity: none (the reference's multimodal surface is metadata
display); this closes the image-DEDUP leg of the curation tier: text
dedup has MinHash/SimHash (operators/dedup.py), images get the standard
difference hash (dHash — public technique: nearest-neighbor downsample
to a (grid+1)×grid luma grid, one bit per horizontally adjacent pixel
pair, robust to re-encode/resize/quantization), and near-dup pairs come
from the SAME pigeonhole machinery as SimHash
(``operators.dedup.hamming_pairs``: band equi-join + packed-word
bit-count verify — never all-pairs).

The fingerprint itself is ONE Column expression (72 element_at samples
+ 64 comparisons over the pixel byte array — constant-size, JVM-side,
whole-stage-codegen-friendly), so it is hash-oracle-able in DuckDB with
the identical integer arithmetic (``dhash_sql``). For payloads that
need real decoding first (PNG/BMP/JPEG blobs), ``dhash_from_payload``
runs decode → luma → the same sampling in the Arrow tier
(operators/pixels.py codecs), and pytest pins that both paths agree on
encoded images of the same byte grid.

100-TB shape: fingerprints are a narrow projection (id + 64 chars);
pairs are banded equi-joins on 16-bit band keys; the verify is
XOR+bit_count on packed words. Same scale posture as SimHash — the
fingerprint table is the artifact a production image-dedup persists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_analyser_spark.operators.dedup import hamming_pairs

#: bit grid: GRID x GRID bits from a (GRID+1) x GRID sample
GRID = 8


def ascii_codes(text: Column | str) -> Column:
    """Printable byte codes of a text column (ascii 1..127 — the
    pixel_roundtrip_documents byte-grid convention, zero-padded
    implicitly by the samplers below)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.transform(F.split(c, ""), lambda ch: F.ascii(ch)),
        lambda v: (v >= 1) & (v <= 127),
    )


def dhash_bits_expr(codes: Column, width: int = 16, grid: int = GRID) -> Column:
    """64-bit dHash as a '0'/'1' bitstring from a row-major pixel byte
    array (``width``-wide rows, ragged tail reads as zero — the same
    grid ``pixel_roundtrip_documents`` encodes). Nearest-neighbor
    sample to (grid+1)×grid, then bit(y,x) = px(y,x) > px(y,x+1).

    sy(y) = y*h/grid and sx(x) = x*width/(grid+1) use floor division
    over exact integers, so the expression reproduces bit-for-bit in
    DuckDB (``dhash_sql``)."""
    n = F.size(codes)
    h = F.greatest(F.lit(1), F.ceil(n / F.lit(width)).cast("long"))
    bits = []
    for y in range(grid):
        sy = F.floor(F.lit(y) * h / F.lit(grid)).cast("long")
        # 9 samples per row, adjacent pairs -> 8 bits
        # try_element_at: NULL (not an ANSI error) past the ragged tail,
        # folded to 0 — the same zero padding the byte-grid convention
        # and the DuckDB list index give
        row = [
            F.coalesce(
                F.try_element_at(
                    codes, (sy * width + (x * width // (grid + 1)) + 1).cast("int")
                ),
                F.lit(0),
            )
            for x in range(grid + 1)
        ]
        for x in range(grid):
            bits.append(F.when(row[x] > row[x + 1], F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def dhash_sql(codes_sql: str, width: int = 16, grid: int = GRID) -> str:
    """DuckDB twin of ``dhash_bits_expr`` over a list-of-ints SQL
    expression (1-indexed; out-of-range reads COALESCE to 0)."""
    h = f"GREATEST(1, CAST(ceil(len({codes_sql}) / {width}.0) AS BIGINT))"
    bits = []
    for y in range(grid):
        sy = f"(({y} * {h}) // {grid})"
        row = [
            f"COALESCE(({codes_sql})[{sy} * {width} + {x * width // (grid + 1)} + 1], 0)"
            for x in range(grid + 1)
        ]
        for x in range(grid):
            bits.append(f"(CASE WHEN {row[x]} > {row[x + 1]} THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def dhash_from_payload(payload: bytes, grid: int = GRID) -> str:
    """dHash of a REAL image payload (PNG/BMP/baseline-JPEG —
    operators/pixels.py dispatch): decode → integer Rec.601 luma →
    the same nearest-neighbor sampling as the expression form."""
    from mongo_analyser_spark.operators.pixels import decode_pixels

    w, h, ch, px = decode_pixels(payload)
    if ch >= 3:
        luma = [
            (299 * px[i] + 587 * px[i + 1] + 114 * px[i + 2]) // 1000
            for i in range(0, len(px), ch)
        ]
    else:
        luma = list(px)
    bits = []
    for y in range(grid):
        sy = y * h // grid
        row = [
            luma[sy * w + (x * w // (grid + 1))] if sy * w + (x * w // (grid + 1)) < len(luma) else 0
            for x in range(grid + 1)
        ]
        for x in range(grid):
            bits.append("1" if row[x] > row[x + 1] else "0")
    return "".join(bits)


def dhash_pairs(
    bits_df: DataFrame,
    id_col: str = "doc_id",
    bits_col: str = "dhash",
    num_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup image pairs over precomputed dHash fingerprints:
    ``operators.dedup.hamming_pairs`` (pigeonhole band equi-join +
    packed-word verify). (id_a, id_b, hamming), id_a < id_b, unsorted."""
    return hamming_pairs(
        bits_df, id_col, bits_col,
        num_bits=GRID * GRID, num_bands=num_bands, max_hamming=max_hamming,
    )
