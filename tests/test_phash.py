"""Perceptual dHash (operators/phash.py): expression-form vs
real-codec-path agreement, fingerprint semantics, and the banded
near-dup join over fingerprints. The registry twins are hash-oracled
against DuckDB at two scales; these pin the sampling math and the
PNG/JPEG payload path."""

from __future__ import annotations

from pyspark.sql import functions as F

from mongo_analyser_spark.operators.phash import (
    GRID,
    ascii_codes,
    dhash_bits_expr,
    dhash_from_payload,
    dhash_pairs,
)
from mongo_analyser_spark.operators.pixels import encode_png


def _spark_dhash(spark, texts: list[str]) -> list[str]:
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    rows = (
        df.select("id", dhash_bits_expr(ascii_codes("text")).alias("d"))
        .orderBy("id")
        .collect()
    )
    return [r["d"] for r in rows]


def _grid_png(text: str) -> bytes:
    data = bytes(b for b in text.encode("ascii", "ignore") if 1 <= b <= 127)
    h = max(1, -(-len(data) // 16))
    return encode_png(16, h, 1, data + b"\x00" * (16 * h - len(data)))


def test_expression_equals_real_png_payload_path(spark):
    """The Column expression and the decode-real-pixels path must produce
    the IDENTICAL fingerprint for the same byte grid (PNG is lossless, so
    the decoded plane IS the byte grid)."""
    texts = [
        "the quick brown fox jumps over the lazy dog " * 4,
        "aaaa bbbb cccc dddd " * 10,
        "short",
    ]
    expr = _spark_dhash(spark, texts)
    real = [dhash_from_payload(_grid_png(t)) for t in texts]
    assert expr == real
    assert all(len(d) == GRID * GRID and set(d) <= {"0", "1"} for d in expr)


def test_jpeg_reencode_keeps_fingerprint_close(spark):
    """The perceptual claim: a lossy JPEG re-encode of the same image
    must land within a small Hamming distance of the lossless
    fingerprint (quantization error is below the sampled luma steps)."""
    from mongo_analyser_spark.operators.jpeg import encode_jpeg

    # smooth horizontal gradient with step 8 per pixel — far above the
    # flat-q16 JPEG error bound, so adjacent-sample comparisons hold
    w, h = 16, 16
    px = bytes(min(127, 8 + 7 * x) for y in range(h) for x in range(w))
    ref = dhash_from_payload(encode_png(w, h, 1, px))
    jpg = dhash_from_payload(encode_jpeg(w, h, 1, px))
    hamming = sum(a != b for a, b in zip(ref, jpg))
    assert hamming <= 4, (hamming, ref, jpg)


def test_flat_and_gradient_fingerprints():
    flat = dhash_from_payload(encode_png(16, 8, 1, bytes([55]) * 128))
    assert flat == "0" * 64  # no adjacent sample ever differs
    # bit = left > right, so a strictly DECREASING ramp sets every bit
    ramp = dhash_from_payload(
        encode_png(16, 8, 1, bytes((15 - x) * 15 for y in range(8) for x in range(16)))
    )
    assert ramp == "1" * 64


def test_dhash_pairs_exact_dup_and_rerun_stable(spark):
    texts = [
        "alpha beta gamma delta epsilon " * 8,
        "alpha beta gamma delta epsilon " * 8,  # exact dup -> hamming 0
        "completely different words entirely unrelated " * 6,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    bits = df.select("doc_id", dhash_bits_expr(ascii_codes("text")).alias("dhash"))
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_pairs(bits, num_bands=8, max_hamming=7).collect()
    }
    assert out.get((0, 1)) == 0
    again = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_pairs(bits, num_bands=8, max_hamming=7).collect()
    }
    assert out == again