"""Bloom-filter decontamination (operators/bloom.py): bit positions and
the dense bitmap vs a pure-Python reference, membership probes, the
no-false-negative guarantee, and bitmap mergeability."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from mongo_analyser_spark.operators.bloom import (
    WORD_BITS,
    bloom_filter_words,
    bloom_member,
    bloom_ngram_contamination,
    bloom_positions,
)

M, K = 256, 2  # small filter so collisions actually happen

KEYS = ["alpha", "beta", "gamma", "delta", "epsilon"]
PROBES = KEYS + ["zeta", "eta", "theta", "iota", "kappa"]


def _py_positions(g: str) -> list[int]:
    return [
        int(hashlib.md5(f"bf{i}:{g}".encode()).hexdigest()[:13], 16) % M
        for i in range(K)
    ]


def _py_words() -> list[int]:
    words = [0] * (M // WORD_BITS)
    for g in KEYS:
        for p in _py_positions(g):
            words[p // WORD_BITS] |= 1 << (p % WORD_BITS)
    return words


def _py_member(g: str, words: list[int]) -> bool:
    return all(
        (words[p // WORD_BITS] >> (p % WORD_BITS)) & 1 == 1
        for p in _py_positions(g)
    )


def test_positions_match_python_reference(spark):
    df = spark.createDataFrame([(g,) for g in KEYS], "g string")
    got = {
        r["g"]: r["pos"]
        for r in df.select("g", bloom_positions(F.col("g"), K, M).alias("pos")).collect()
    }
    assert got == {g: _py_positions(g) for g in KEYS}


def test_dense_bitmap_matches_python_reference(spark):
    df = spark.createDataFrame([(g,) for g in KEYS], "g string")
    [row] = bloom_filter_words(df, F.col("g"), K, M).collect()
    assert row["words"] == _py_words()
    assert len(row["words"]) == M // WORD_BITS


def test_membership_probe_no_false_negatives(spark):
    build = spark.createDataFrame([(g,) for g in KEYS], "g string")
    words_row = bloom_filter_words(build, F.col("g"), K, M)
    probe = spark.createDataFrame([(g,) for g in PROBES], "g string")
    got = {
        r["g"]: r["hit"]
        for r in probe.crossJoin(F.broadcast(words_row))
        .select("g", bloom_member(F.col("g"), F.col("words"), K, M).alias("hit"))
        .collect()
    }
    ref = _py_words()
    # every built key MUST probe positive; non-members match the Python
    # reference exactly (false positives allowed, identical on both)
    for g in KEYS:
        assert got[g] is True
    assert got == {g: _py_member(g, ref) for g in PROBES}


def test_bitmap_merge_is_elementwise_or(spark):
    a = spark.createDataFrame([(g,) for g in KEYS[:2]], "g string")
    b = spark.createDataFrame([(g,) for g in KEYS[2:]], "g string")
    full = spark.createDataFrame([(g,) for g in KEYS], "g string")
    [wa] = bloom_filter_words(a, F.col("g"), K, M).collect()
    [wb] = bloom_filter_words(b, F.col("g"), K, M).collect()
    [wf] = bloom_filter_words(full, F.col("g"), K, M).collect()
    assert [x | y for x, y in zip(wa["words"], wb["words"])] == wf["words"]


def test_contamination_counts_and_guarantee(spark):
    # train doc 1 shares its whole text with held-out doc 0; doc 2 is
    # disjoint — exact hits must flag only doc 1, bloom must cover it
    rows = [
        (0, "one two three four five"),
        (1, "one two three four five"),
        (2, "p q r s t u v w"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    test = docs.filter(F.col("doc_id") == 0)
    train = docs.filter(F.col("doc_id") > 0)
    out = {
        r["train_id"]: r
        for r in bloom_ngram_contamination(
            train, test, "doc_id", "text", n=3, num_hashes=K, num_bits=M
        ).collect()
    }
    assert out[1]["n_exact_hits"] == out[1]["n_grams"] == 3
    assert out[1]["n_bloom_hits"] == 3 and out[1]["bloom_flag"] is True
    assert out[2]["n_exact_hits"] == 0
    for r in out.values():  # no-false-negative theorem
        assert r["n_false_pos"] >= 0
        assert r["n_bloom_hits"] >= r["n_exact_hits"]


def test_bloom_bits_for_sizing():
    """Standard Bloom sizing algebra: the returned m keeps the
    theoretical fp at or under target, rounds to whole words, and
    scales linearly in n."""
    import math

    from mongo_analyser_spark.operators.bloom import WORD_BITS, bloom_bits_for

    for n, fp, k in [(1000, 0.01, 2), (10_000, 0.001, 4), (5, 0.5, 1)]:
        m = bloom_bits_for(n, fp, k)
        assert m % WORD_BITS == 0
        got_fp = (1.0 - math.exp(-k * n / m)) ** k
        assert got_fp <= fp * 1.0001
    assert bloom_bits_for(2_000_000, 0.01, 2) >= 100 * bloom_bits_for(
        20_000, 0.01, 2
    ) * 0.99


def test_bloom_fill_fraction_counts_set_bits(spark):
    from pyspark.sql import functions as F

    from mongo_analyser_spark.operators.bloom import (
        bloom_filter_words,
        bloom_fill_fraction,
    )

    df = spark.createDataFrame([(f"g{i}",) for i in range(50)], "g string")
    words = bloom_filter_words(df, F.col("g"), num_hashes=2, num_bits=1024)
    [row] = bloom_fill_fraction(words, 1024).collect()
    # <= 100 positions over 1024 bits, > 0, fill = bits/1024
    assert 0 < row["bits_set"] <= 100
    assert row["fill"] == round(row["bits_set"] / 1024.0, 6)


def test_grams_ckpt_branch_parity(spark, monkeypatch, optimized_plan):
    """The materialization branch (train input under GRAMS_CKPT_MAX_BYTES
    → one scan+shingle pass, probe and exact join both read the
    checkpointed gram arrays) must produce exactly the recompute
    branch's rows. Each side is forced by the threshold constant, and
    the two plans must differ."""
    from mongo_analyser_spark.operators import bloom

    rows = [
        (0, "one two three four five"),
        (1, "one two three four five"),
        (2, "p q r s t u v w"),
        (3, "three four five six seven eight"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    test = docs.filter(F.col("doc_id") == 0)
    train = docs.filter(F.col("doc_id") > 0)
    out = {}
    for branch, threshold in (("recompute", -1), ("ckpt", float("inf"))):
        monkeypatch.setattr(bloom, "GRAMS_CKPT_MAX_BYTES", threshold)
        c = bloom_ngram_contamination(
            train, test, "doc_id", "text", n=3, num_hashes=K, num_bits=M
        )
        out[branch] = (
            optimized_plan(c),
            sorted(map(tuple, c.collect())),
        )
    assert out["ckpt"][0] != out["recompute"][0]
    assert out["ckpt"][1] == out["recompute"][1] and len(out["ckpt"][1]) == 3
