"""Bloom-filter n-gram decontamination: the broadcast-bitmap form of
the benchmark-decontamination rule (completes the mergeable-sketch
family next to KMV/HLL distinct, count-min frequency — Bloom 1970,
public).

Reference parity: none directly (the reference has no corpus-curation
surface); this is the at-scale sibling of
`dedup.exact_ngram_contamination` — the exact form ships every held-out
gram to the join, the Bloom form ships a FIXED-SIZE bitmap however
large the held-out suite grows.

Method: k independent md5-derived bit positions per gram over an m-bit
filter. Build = held-out grams -> distinct positions (<= m rows) ->
32-bit words OR-folded into ONE dense array row (m/32 ints, a few KB).
Probe = pure Column expression over each training document's distinct
gram array against the broadcast word array — membership for a gram is
`forall` of its k positions' bits. No false negatives ever; false
positives are bounded by (fill)^k.

Exactness contract: positions are the md5 52-bit trick
(`dsir.md5_bucket` — exact integers in both engines), words are exact
integer bit_or folds, probes are integer shift/mask algebra — every
per-document count HASH-MATCHES a DuckDB twin that models the filter as
the equivalent distinct-position set (bitmap-word membership == set
membership, so the physical bitmap needn't be mirrored). The exact-hit
column rides along (hashed-gram equi-join + post-join TEXT-equality
confirmation, so a 64-bit hash collision can never masquerade as an
exact hit) and the oracle verifies the no-false-negative guarantee row
by row: n_bloom_hits >= n_exact_hits always.

100-TB shape: the held-out side collapses to <= m distinct positions
(one bounded groupBy) and then to ONE row of m/32 ints — a broadcast
scalar, never a corpus-sized join side; the training corpus is probed
entirely inside its scan's codegen (zero extra shuffle for the Bloom
verdict). The exact-hit certification join exists at fixture scale to
prove the fp accounting; a production run keeps only the bitmap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_analyser_spark.operators.fanout import input_bytes, sort_output

from mongo_analyser_spark.functions.text import shingles
from mongo_analyser_spark.operators.dsir import md5_bucket

WORD_BITS = 32  # 32-bit filter words: 1<<31 fits signed 64-bit on both engines
#: train-corpus size up to which ``bloom_ngram_contamination``
#: materializes its distinct-gram arrays (~10× the text) once for the
#: probe and the exact join: at sf0.1 that took bloom_decontaminate
#: 1.66 → 1.13 s, while at corpus scale writing 10× the text through
#: local disks loses to a second scan+shingle pass.
GRAMS_CKPT_MAX_BYTES = 256 << 20


def bloom_bits_for(
    n_grams: int, target_fp: float = 0.01, num_hashes: int = 2
) -> int:
    """Filter size (bits, rounded up to a WORD_BITS multiple) for an
    expected ``n_grams`` distinct held-out grams at ``target_fp`` with
    ``num_hashes`` hashes: fp ≈ (1 - e^(-k·n/m))^k, solved for m. THE
    REGISTRY DEFAULTS (num_bits=16384, k=2) ARE FIXTURE-SCALE — a real
    held-out suite of millions of grams saturates a 16 Kbit filter
    (fill → 1, fp → 1, every training doc flagged); production callers
    must size from the held-out gram count, e.g.
    ``num_bits=bloom_bits_for(held_out_count, 0.01, k)``."""
    import math

    if not 0 < target_fp < 1:
        raise ValueError(f"target_fp must be in (0,1), got {target_fp}")
    # invert fp = (1 - exp(-k n / m))^k  =>  m = -k n / ln(1 - fp^(1/k))
    m = -num_hashes * n_grams / math.log(1.0 - target_fp ** (1.0 / num_hashes))
    return -(-max(int(math.ceil(m)), WORD_BITS) // WORD_BITS) * WORD_BITS


def bloom_fill_fraction(words_row: DataFrame, num_bits: int) -> DataFrame:
    """ONE row (bits_set, fill): popcount of the dense word array over
    m — the saturation monitor. fill > ~0.5 means the filter is
    undersized for its held-out suite and the fp bound (fill^k) is
    collapsing; re-size with ``bloom_bits_for``."""
    return words_row.select(
        F.aggregate(
            "words",
            F.lit(0).cast("long"),
            lambda acc, w: acc + F.bit_count(w).cast("long"),
        ).alias("bits_set")
    ).select(
        "bits_set",
        F.round(F.col("bits_set") / F.lit(float(num_bits)), 6).alias("fill"),
    )


def bloom_positions(gram: Column, num_hashes: int, num_bits: int) -> Column:
    """array<long> of k bit positions for one gram — hash i is
    ``md5('bf<i>:' || gram)`` folded to 52 exact bits then mod m (twin:
    ``CAST('0x'||substr(md5('bf'||i||':'||g),1,13) AS UBIGINT) % m``)."""
    return F.array(
        *[
            md5_bucket(F.concat(F.lit(f"bf{i}:"), gram), num_bits)
            for i in range(num_hashes)
        ]
    )


def bloom_filter_words(
    df: DataFrame,
    gram: Column,
    num_hashes: int,
    num_bits: int,
) -> DataFrame:
    """The filter itself as ONE dense row: ``words`` = array of
    ``num_bits/WORD_BITS`` ints, word w = bit_or of ``1 << (pos % 32)``
    over set positions with ``pos // 32 == w`` (zeros for untouched
    words). Build cost: one explode fused into the scan, one groupBy
    bounded at m rows, one single-row fold — merge with another
    filter = element-wise ``|``, the sketch-family contract."""
    n_words = -(-num_bits // WORD_BITS)
    pos = df.select(
        F.explode(bloom_positions(gram, num_hashes, num_bits)).alias("pos")
    ).distinct()
    # the Python shiftleft wrapper takes only literal shift counts;
    # call_function passes the per-row shift column straight through
    words = pos.groupBy((F.col("pos") / WORD_BITS).cast("long").alias("w")).agg(
        F.bit_or(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("pos") % WORD_BITS).cast("int"),
            )
        ).alias("wv")
    )
    # densify: sorted (w, wv) entries -> map -> fixed-length array with
    # zero-filled gaps, all inside one single-row aggregate. The map is
    # STAGED (lazy localCheckpoint on the one-row frame — plan cut now,
    # the one-row aggregate computed at first action, matching
    # mg_summary; under AQE the call still runs the upstream query
    # stages, 2 jobs here, when it is made) before the
    # per-word transform indexes it: a single-use alias gets inlined by
    # CollapseProject, and interpreted HOFs would then rebuild
    # map_from_entries(sort_array(...)) once per word probe (the
    # round-11 hof-inline-producer lint rule's one registry hit —
    # bounded here, but the staged form is free)
    staged = words.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("w", "wv")))
        ).alias("__m")
    ).localCheckpoint(eager=False)
    return staged.select(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(n_words - 1).cast("long")),
            lambda i: F.coalesce(
                # __m is a MAP keyed by 0-based word index — element_at
                # on a map is a key lookup, not a 1-based array index
                F.element_at("__m", i),
                F.lit(0).cast("long"),
            ),
        ).alias("words")
    )


def bloom_member(gram: Column, words: Column, num_hashes: int, num_bits: int) -> Column:
    """Membership probe as a pure expression: ALL k bits set. ``words``
    is the broadcast dense array column."""
    return F.forall(
        bloom_positions(gram, num_hashes, num_bits),
        lambda p: (
            F.call_function(
                "shiftrightunsigned",
                F.element_at(words, (p / WORD_BITS).cast("int") + 1),
                (p % WORD_BITS).cast("int"),
            ).bitwiseAND(F.lit(1).cast("long"))
            == 1
        ),
    )


def bloom_ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    num_hashes: int = 2,
    num_bits: int = 16384,
) -> DataFrame:
    """(train_id, n_grams, n_bloom_hits, n_exact_hits, n_false_pos,
    bloom_flag): every training document's distinct-n-gram count, how
    many grams the Bloom filter flags, how many are true held-out
    collisions (certification join), and the guaranteed-nonnegative
    false-positive count. ``n_false_pos >= 0`` is the no-false-negative
    theorem, oracle-verified per row (the count-min `overestimate`
    pattern). The ``num_bits``/``num_hashes`` DEFAULTS ARE
    FIXTURE-SCALE — size production filters from the held-out gram
    count with ``bloom_bits_for`` and watch ``bloom_fill_fraction``
    (fill > ~0.5 collapses the fp bound). Up to
    ``GRAMS_CKPT_MAX_BYTES`` of train input (``input_bytes``) the
    train-side gram arrays are materialized once; above it, the exact
    join re-runs the scan+shingle pass."""
    ckpt = input_bytes(train) <= GRAMS_CKPT_MAX_BYTES
    gram_src = F.explode(
        F.array_distinct(shingles(F.col(text_col), n))
    ).alias("g")

    words_row = bloom_filter_words(
        test.select(gram_src), F.col("g"), num_hashes, num_bits
    )

    # Bloom verdict: expression-only over the broadcast one-row bitmap.
    # r15: the distinct-shingle chain is STAGED into its own projected
    # column — referencing the expression from both n_grams and the
    # bloom-probe filter evaluated the zip_with gram build twice per row
    # (no CSE across HOF consumers; the hof-inline-producer class).
    grams = F.array_distinct(shingles(F.col(text_col), n))
    gtab = train.select(F.col(id_col).alias("train_id"), grams.alias("__g"))
    if ckpt:
        # ONE scan+shingle pass total: the probe (array form) and the
        # exact join (exploded form) both read the materialized arrays
        gtab = gtab.localCheckpoint()
    bloomed = (
        gtab
        .crossJoin(F.broadcast(words_row))
        .select(
            "train_id",
            F.size("__g").cast("long").alias("n_grams"),
            F.size(
                F.filter(
                    F.col("__g"),
                    lambda g: bloom_member(
                        g, F.col("words"), num_hashes, num_bits
                    ),
                )
            )
            .cast("long")
            .alias("n_bloom_hits"),
        )
    )

    # exact certification: hashed-gram equi-join with a TEXT-equality
    # confirmation post-join — keying on xxhash64 alone would count a
    # 64-bit collision between a training gram and a DISTINCT held-out
    # gram as an exact hit, which can push n_false_pos negative and
    # silently break the no-false-negative invariant (the colliding
    # gram need not be in the filter). The held-out side is broadcast
    # (bounded), so carrying its gram text costs no shuffle; the
    # train-side text is already in flight for the hash.
    te = test.select(gram_src).distinct()
    if ckpt:
        tr = gtab.select("train_id", F.explode("__g").alias("g")).select(
            "train_id", "g", F.xxhash64("g").alias("gh")
        )
    else:
        tr = train.select(F.col(id_col).alias("train_id"), gram_src).select(
            "train_id", "g", F.xxhash64("g").alias("gh")
        )
    exact = (
        tr.join(
            F.broadcast(
                te.select(F.col("g").alias("__tg"), F.xxhash64("g").alias("gh"))
            ),
            "gh",
            "left",
        )
        .groupBy("train_id")
        .agg(
            F.count(F.when(F.col("g") == F.col("__tg"), 1)).alias(
                "n_exact_hits"
            )
        )
    )

    return (
        bloomed.join(exact, "train_id")
        .select(
            "train_id",
            "n_grams",
            "n_bloom_hits",
            "n_exact_hits",
            (F.col("n_bloom_hits") - F.col("n_exact_hits")).alias("n_false_pos"),
            (F.col("n_bloom_hits") > 0).alias("bloom_flag"),
        )
        .transform(sort_output, "train_id")
    )
