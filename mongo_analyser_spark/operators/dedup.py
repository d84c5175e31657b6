"""Deduplication operators [EXT — BASELINE.json north star]: exact,
vocabulary-key, MinHash+LSH, SimHash. Designed for 100 TB:

* exact / key dedup — one hash-partition shuffle on the key;
* MinHash — signatures are a single groupBy(doc) pass (k min-aggregates,
  map-side partial); LSH banding turns the O(n²) pair space into an
  equi-join on (band, band_hash), which Spark executes as a shuffled hash
  join keyed on the band hash — candidates only, never the cross product;
* SimHash — 64 conditional-sum aggregates in ONE pass over exploded
  tokens (no per-bit jobs).

All hashing is md5-based so a SQL oracle can reproduce the exact same
candidates and signatures (engine-native hash functions differ).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_analyser_spark.operators.fanout import fanout_for_python, input_bytes

from mongo_analyser_spark.functions.text import shingles, tokens

#: corpus size from which the Jaccard verify semi-joins each side's scan
#: to the candidate ids: measured slower on the 0.6 MB sf0.1 corpus (full
#: rows 2.02 → 2.22 s) and faster on the 5.9 MB sf1 tier (dedup_minhash
#: 16.67 → 14.04 s, dedup_jaccard 9.70 → 8.00 s), and the pair-id list it
#: broadcasts grows with the candidate count, unbounded by any measured
#: size (ROADMAP D3).
SEMI_FILTER_MIN_BYTES = 4 << 20

#: distinct edge count up to which ``connected_components`` and
#: ``graph.pagerank`` solve the graph in one task instead of the
#: distributed loop (2M edges ≈ tens of MB).
IN_CORE_EDGES = 2_000_000


def _semi_filter(df: DataFrame) -> bool:
    """The semi-filter gate: open only for a KNOWN input size of at
    least ``SEMI_FILTER_MIN_BYTES``. For an input Spark cannot size,
    such as a ``createDataFrame`` or other RDD-backed frame, it reports
    ``spark.sql.defaultSizeInBytes`` (or more, above a join or union),
    and a candidate-id broadcast must not rest on that."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return SEMI_FILTER_MIN_BYTES <= input_bytes(df) < conf.defaultSizeInBytes()


def exact_dedup(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Exact dedup by hash-groupBy on ``key``: one row per group with the
    minimum id as keeper and the group size."""
    return (
        df.select(key.alias("dedup_key"), F.col(id_col))
        .groupBy("dedup_key")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def vocab_key(col: Column | str) -> Column:
    """Order-insensitive content key: md5 of the sorted distinct word set.
    Groups bag-of-words near-duplicates that exact text hashing misses."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(col))), " "))


def hashed_shingles(
    col: Column | str, n: int, distinct: bool = False
) -> Column:
    """Word n-gram shingles as xxhash64 LONGS — the keying rule in one
    place: shingle/gram values that only ever serve as join,
    groupBy, or set-intersection keys ship as 8 bytes, not ~n words of
    text; every consumer's OUTPUT is invariant to the injective keying
    (a 64-bit collision needs ~2^32 distinct grams on one side for
    even-odds). ``distinct=True`` dedups within the document — string
    distinct == hash distinct, so it composes freely."""
    h = F.transform(shingles(col, n), lambda x: F.xxhash64(x))
    return F.array_distinct(h) if distinct else h


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """MinHash signatures: for hash i, min over shingles of
    md5('<i>:' || shingle). Output long form (id, hash_idx int, minhash).

    One explode + one groupBy(id) with k min-aggregates — a single
    shuffle; signature state is k strings per document regardless of
    document length. Lexicographic min over md5 hex == min over the
    128-bit integer, so string ordering is portable.

    Adaptive fanout before the explode: the dominant k md5-per-gram pass
    ran serialized on the fixture's one-row-group scan task (2.80 →
    1.27 s at sf0.1, signatures identical); skipped when the scan
    already splits."""
    df = fanout_for_python(df, id_col)
    sh = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_n)).alias("sh")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    wide = sh.groupBy(id_col).agg(*aggs)
    stack_args = ", ".join(f"{i}, m{i}" for i in range(num_hashes))
    return wide.select(
        F.col(id_col),
        F.expr(f"stack({num_hashes}, {stack_args})").alias("hash_idx", "minhash"),
    ).select(id_col, F.col("hash_idx").cast("int").alias("hash_idx"), "minhash")


def lsh_band_hashes(
    sig_df: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Group signature rows into bands; band key = xxhash64 of the
    '|'-joined minhashes in hash_idx order. (id, band_id int, band_hash
    long). The key exists only to equi-join equal bands, so it ships as
    an 8-byte long, not a 32-char md5 hex string (4x fewer key bytes in
    the self-join shuffle); grouping equality is identical and the
    PAIRS output is hash-invariant — the DuckDB oracle twins keep md5
    banding, which buckets the same."""
    banded = sig_df.withColumn(
        "band_id", (F.col("hash_idx") / rows_per_band).cast("int")
    )
    return banded.groupBy(id_col, "band_id").agg(
        F.xxhash64(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("hash_idx", "minhash"))
                    ),
                    lambda s: s.getField("minhash"),
                ),
                "|",
            )
        ).alias("band_hash")
    )


def band_pairs(
    fp: DataFrame,
    id_col: str,
    band_keys: str | list[Column],
    block: list[str] | tuple[str, ...] = (),
    carry: dict[str, Column] | None = None,
    pair_cols: list[Column] | tuple[Column, ...] = (),
    names: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Distinct pairs (a < b) of ``fp`` rows that share a bucket: equal
    ``block`` columns and an equal key in at least one band — the
    candidate equi-join of every near-dup family, never the cross product.

    ``band_keys`` is the name of ONE key column of ``fp``, joined as it
    is, or one Column over ``fp`` per band, which cuts ``fp`` into
    (band, band_key) rows; then ``carry`` maps names to Columns over
    ``fp`` that ride on each band row as ``<name>_a`` / ``<name>_b``, for
    ``pair_cols`` to read before the ``distinct`` (a pair can collide in
    several bands). Output: ``names``, then ``pair_cols``, unsorted.

    ``fp`` is materialized once, before the bands are cut: both join
    sides read it, and without it each side re-runs the fingerprint
    pipeline (SimHash 7.1 → 3.9 s at sf0.1). It is fixed-width per row;
    corpus-sized shingle sets and vectors stay with each family's verify."""
    fp = fp.localCheckpoint()
    block, carry = list(block), carry or {}
    if isinstance(band_keys, str):
        keys = [band_keys]
        banded = fp
    else:
        keys = ["band", "band_key"]
        bk = F.array(
            *[
                F.struct(F.lit(i).alias("band"), key.alias("band_key"))
                for i, key in enumerate(band_keys)
            ]
        )
        banded = fp.select(
            F.col(id_col),
            *block,
            *[c.alias(n) for n, c in carry.items()],
            F.explode(bk).alias("bk"),
        ).select(id_col, *block, *carry, "bk.band", "bk.band_key")

    def side(name: str, sfx: str) -> DataFrame:
        return banded.select(
            F.col(id_col).alias(name),
            *block,
            *keys,
            *[F.col(c).alias(c + sfx) for c in carry],
        )

    a, b = names
    return (
        side(a, "_a")
        .join(side(b, "_b"), block + keys)
        .filter(F.col(a) < F.col(b))
        .select(a, b, *pair_cols)
        .distinct()
    )


def jaccard(set_a: Column | str, set_b: Column | str) -> Column:
    """Exact Jaccard of two distinct-element arrays: integer intersect
    and union sizes, one division, ``ROUND(…, 6)`` — deterministic in
    both engines. The DuckDB twins state it as
    ``queries_pipeline._JACCARD_SQL``."""
    inter = F.size(F.array_intersect(set_a, set_b)).cast("double")
    union = (F.size(set_a) + F.size(set_b)).cast("double") - inter
    return F.round(inter / union, 6)


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Verify candidates with the exact shingle-set Jaccard (``jaccard``).
    Output (doc_a, doc_b, jaccard double).

    The shingle-set frame is deliberately NOT materialized even though
    both join sides derive from it: shingle sets are corpus-sized
    (every n-gram of every doc), so at 100 TB recomputing the cheap
    projection twice beats storing it once — the opposite call from the
    fixed-width fingerprint/band tables above.

    When ``_semi_filter`` opens on the input, the pair list is
    materialized once and each side's scan is broadcast-semi-joined to
    that side's distinct pair ids, so the shingle projection runs only
    for pair members (guide §3.2). The per-doc expression is
    the same on both sides of the gate, so each pair's Jaccard is
    bit-identical.

    Shingle sets travel as xxhash64 LONG arrays, not string arrays
    (~3x fewer bytes through both joins — the heaviest payload in the
    verify stage); intersection/union SIZES, hence the Jaccard number
    the oracle hashes, are invariant to the injective keying.

    Adaptive fanout before the shingle build — the per-doc tokenize +
    n-gram zip + xxhash64 chain serialized on the fixture's
    one-row-group scan task; both join sides read the SAME fanout
    exchange (ReuseExchange), and the auto probe skips it when the
    scan already splits (fanout_for_python docstring)."""
    semi = _semi_filter(df)
    df = fanout_for_python(df, id_col)
    if semi:
        pairs = pairs.localCheckpoint()

    def side(side_col: str, set_col: str) -> DataFrame:
        src = df
        if semi:
            ids = pairs.select(F.col(side_col).alias(id_col)).distinct()
            src = df.join(F.broadcast(ids), id_col)
        return src.select(
            F.col(id_col).alias(side_col),
            hashed_shingles(F.col(text_col), shingle_n, distinct=True).alias(
                set_col
            ),
        )

    joined = pairs.join(side("doc_a", "set_a"), "doc_a").join(
        side("doc_b", "set_b"), "doc_b"
    )
    return joined.select(
        "doc_a", "doc_b", jaccard("set_a", "set_b").alias("jaccard")
    ).filter(F.col("jaccard") >= min_jaccard)


def cross_corpus_contamination(
    train_df: DataFrame,
    test_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Train/test decontamination: near-dup join BETWEEN two corpora —
    the cross-table form of MinHash-LSH dedup a training pipeline runs
    before every release (flag training documents that near-duplicate a
    held-out/eval document, then drop them). Output
    (train_id, test_id, jaccard) for candidates with exact shingle-set
    Jaccard ≥ ``min_jaccard``.

    Scale shape: both corpora reduce to fixed-width band tables
    (bands × 1 row/doc); candidates are the equi-join on
    (band_id, band_hash) — never train × test. The TEST side is a
    benchmark suite (thousands of docs against billions of training
    docs), so its band table and shingle sets are broadcast: no JOIN
    ever shuffles the training corpus — its only shuffles are the two
    skinny signature/band aggregations (id + fixed-width hashes, not
    text). The train side's verify scan is semi-filtered to the
    candidates when ``_semi_filter`` opens on the train input, as in
    ``jaccard_verify``."""
    semi = _semi_filter(train_df)
    sig_tr = minhash_signatures(train_df, id_col, text_col, num_hashes, shingle_n)
    sig_te = minhash_signatures(test_df, id_col, text_col, num_hashes, shingle_n)
    b_tr = lsh_band_hashes(sig_tr, id_col, bands, rows_per_band)
    b_te = lsh_band_hashes(sig_te, id_col, bands, rows_per_band)
    te_side = F.broadcast(
        b_te.select(F.col(id_col).alias("test_id"), "band_id", "band_hash")
    )
    cand = (
        b_tr.select(F.col(id_col).alias("train_id"), "band_id", "band_hash")
        .join(te_side, ["band_id", "band_hash"])
        .select("train_id", "test_id")
        .distinct()
    )
    # hashed shingle-set arrays, same rationale as jaccard_verify: the
    # Jaccard NUMBER is invariant, the broadcast/join payload ~3x smaller
    sets_tr_src = train_df
    if semi:
        # materialized once (2 longs/row, O(contaminated docs)): the
        # train-side verify semi-filters on it, and without the
        # checkpoint the consumer would re-run the signature/band
        # pipeline. The train-side shingle projection then runs only for
        # candidate members; per-doc expression unchanged → Jaccard
        # bit-identical.
        cand = cand.localCheckpoint()
        sets_tr_src = train_df.join(
            F.broadcast(cand.select(F.col("train_id").alias(id_col)).distinct()),
            id_col,
        )
    sets_tr = fanout_for_python(sets_tr_src, id_col).select(
        F.col(id_col).alias("train_id"),
        hashed_shingles(F.col(text_col), shingle_n, distinct=True).alias("set_a"),
    )
    sets_te = F.broadcast(
        test_df.select(
            F.col(id_col).alias("test_id"),
            hashed_shingles(F.col(text_col), shingle_n, distinct=True).alias("set_b"),
        )
    )
    # under the open gate, cand is broadcast into the verify joins
    # (2 longs/row, bounded by test-side collisions): keeps the
    # operator's no-shuffle-join contract now that the checkpointed
    # cand carries no size estimate for the planner's own decision
    joined = (F.broadcast(cand) if semi else cand).join(sets_tr, "train_id").join(
        sets_te, "test_id"
    )
    return joined.select(
        "train_id", "test_id", jaccard("set_a", "set_b").alias("jaccard")
    ).filter(F.col("jaccard") >= min_jaccard)


def exact_ngram_contamination(
    train_df: DataFrame,
    test_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Exact n-gram collision decontamination — the OTHER standard
    benchmark-contamination check next to the MinHash-LSH near-dup form
    (``cross_corpus_contamination``): a training document is flagged if
    ANY of its word n-grams appears verbatim anywhere in the held-out
    corpus (the classic 8-13-gram collision rule used for benchmark
    decontamination of pretraining corpora). Catches verbatim quotation
    of a test item inside an otherwise-unrelated training document,
    which whole-document Jaccard dilutes below any sane threshold.

    Output (train_id, n_grams, n_hit_grams, contamination): distinct
    n-gram counts per flagged doc, contamination = n_hit_grams/n_grams.

    Scale shape: the test corpus collapses to ONE distinct n-gram set
    (benchmark suites are thousands of docs → a few million grams) and
    is broadcast; the training side explodes distinct grams and takes a
    single groupBy(id) over skinny (id, hit) rows — no join ever
    shuffles the training corpus, same contract as the LSH form.

    Grams travel as xxhash64 LONGS, not strings: the
    broadcast set and every join compare move 8 bytes per gram instead
    of ~n words of text — an ~n-fold size cut on the heaviest data
    structure here. A 64-bit collision would need ~2^32 DISTINCT grams
    on one side to reach even-odds (billions of grams at 100 TB stay
    ~1e-4); a collision can only ADD a spurious hit-gram, never drop a
    real one. Output counts are hash-invariant otherwise.

    Adaptive fanout on the TRAIN side — the tokenize + 8-gram zip
    + xxhash64 map pass serialized on the one-row-group fixture scan
    task; auto-skipped when the scan splits (fanout_for_python
    docstring). The broadcast test side stays un-fanned (bounded)."""
    te_grams = F.broadcast(
        test_df.select(
            F.explode(hashed_shingles(F.col(text_col), n, distinct=True)).alias("g")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    tr_grams = fanout_for_python(train_df, id_col).select(
        F.col(id_col).alias("train_id"),
        F.explode(hashed_shingles(F.col(text_col), n, distinct=True)).alias("g"),
    )
    return (
        tr_grams.join(te_grams, "g", "left")
        .groupBy("train_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_hit_grams"),
        )
        .filter(F.col("n_hit_grams") > 0)
        .withColumn(
            "contamination",
            F.round(F.col("n_hit_grams") / F.col("n_grams"), 6),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """n-gram Jaccard near-dup with min-shingle blocking: candidates are
    documents sharing their MINIMUM shingle hash (one md5 per shingle,
    array_min per doc — no extra shuffle beyond the block-key equi-join),
    then exact shingle-set Jaccard verification. Min-hash blocking is the
    1-band/1-row degenerate of LSH: two docs with Jaccard j collide with
    probability j, so high-j pairs are found while the pair space stays
    the block join, never the cross product."""
    from mongo_analyser_spark.functions.text import fingerprint

    # The block key ships as xxhash64 of the fingerprint (8 bytes, not
    # the 32-char hex): it only ever equi-joins, and blocking equality is
    # preserved
    fp = fanout_for_python(df, id_col).select(
        F.col(id_col),
        F.xxhash64(fingerprint(F.col(text_col), shingle_n)).alias("block_key"),
    )
    pairs = band_pairs(fp, id_col, "block_key", names=("doc_a", "doc_b"))
    return jaccard_verify(df, pairs, id_col, text_col, shingle_n, min_jaccard)


def simhash_bits(
    df: DataFrame, id_col: str, text_col: str, num_bits: int = 64
) -> DataFrame:
    """SimHash over tokens (with multiplicity): bit b of a token's hash is
    bit (3 - b%4) of hex digit b//4 of md5(token); documents sum ±1 votes
    per bit; the fingerprint is the 'majority > 0' bitstring.

    Single explode + one groupBy with num_bits conditional sums —
    one shuffle, fixed-width state. Output (id, simhash string of '0'/'1').

    Adaptive fanout before the explode: the md5-per-token + conv pass
    ran serialized on the one-row-group fixture scan task; skipped when
    the scan splits.
    """
    df = fanout_for_python(df, id_col)
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", F.md5("tok"))
    # parse the hex ONCE into 32-bit integer words: 2 conv() per token
    # row instead of 16 per-digit ones read the same bits (digit b//4's
    # bit 3-b%4 is word bit 31 - b%32), 1.20 → 0.70 s at sf0.1,
    # bit-identical. 32-bit words so conv()'s unsigned string value
    # always casts into BIGINT (same guard as hamming_pairs).
    n_words = (num_bits + 31) // 32
    wrd = tok.select(
        id_col,
        *[
            F.expr(f"CAST(conv(substring(h, {w * 8 + 1}, 8), 16, 10) AS BIGINT)").alias(
                f"w{w}"
            )
            for w in range(n_words)
        ],
    )
    aggs = []
    for b in range(num_bits):
        word = F.col(f"w{b // 32}")
        bit = F.shiftright(word, 31 - b % 32).bitwiseAND(1)
        aggs.append(F.sum(bit * 2 - 1).alias(f"b{b}"))
    wide = wrd.groupBy(id_col).agg(*aggs)
    bits = F.concat(
        *[
            F.when(F.col(f"b{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(num_bits)
        ]
    )
    return wide.select(F.col(id_col), bits.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 64,
    num_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup PAIRS: banded Hamming blocking + exact verify.

    Pigeonhole: two fingerprints within Hamming distance < num_bands must
    agree exactly on at least one of num_bands equal-width bands, so
    candidates = equi-join per band on the band substring (never an
    all-pairs comparison; same scale shape as MinHash-LSH banding). Each
    candidate pair is then verified by the exact bit-count
    ``hamming <= max_hamming`` — a zip-free char comparison fold over the
    two bitstrings. Set ``max_hamming <= num_bands - 1`` for exact recall
    (the pigeonhole guarantee); larger values trade recall for fewer
    bands. Output: (id_a, id_b, hamming), id_a < id_b, deduped across
    bands, unsorted.
    """
    sim = simhash_bits(df, id_col, text_col, num_bits)
    return hamming_pairs(sim, id_col, "simhash", num_bits, num_bands, max_hamming)


def hamming_pairs(
    bits_df: DataFrame,
    id_col: str,
    bits_col: str,
    num_bits: int = 64,
    num_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Banded Hamming near-dup join over ANY bitstring fingerprint column
    (SimHash text prints, dHash image prints, ...): the pigeonhole band
    equi-join + packed-word bit-count verify documented in
    ``simhash_pairs``. ``band_pairs`` materializes ``bits_df`` once, so
    the caller passes the fingerprint projection as it is. Output
    (id_a, id_b, hamming), unsorted."""
    band_len = num_bits // num_bands
    # pack the bitstring into 32-bit integer words ONCE per doc: the pair
    # verify is then XOR + bit_count per word — constant-time integer ops
    # instead of a 64-element string-array fold per candidate pair
    # (32-bit words so conv()'s unsigned value always fits a BIGINT)
    n_words = (num_bits + 31) // 32
    words = {
        f"w{w}": F.expr(
            f"CAST(conv(substring({bits_col}, {w * 32 + 1}, 32), 2, 10) AS BIGINT)"
        )
        for w in range(n_words)
    }
    hamming = sum(
        F.bit_count(F.col(f"w{w}_a").bitwiseXOR(F.col(f"w{w}_b")))
        for w in range(n_words)
    ).cast("int")
    keys = [
        F.substring(bits_col, i * band_len + 1, band_len) for i in range(num_bands)
    ]
    return band_pairs(
        bits_df, id_col, keys, carry=words, pair_cols=[hamming.alias("hamming")]
    ).filter(F.col("hamming") <= max_hamming)


def srp_band_params(n_rows: int, target_block_rows: int = 125) -> tuple[int, int]:
    """Data-scaled SRP banding parameters (rows_per_band, num_bands) for
    ``cosine_near_dup_pairs``.

    The LSH theory (Indyk-Motwani): with per-bit collision probability
    p = 1 - θ/π, a band of r bits collides with probability p^r. Keeping
    expected FAR-pair collisions per point bounded requires
    r ≈ log2(block_size) — i.e. the band width must GROW with the data,
    which is exactly what a fixed-parameter LSH misses (its blocks grow
    linearly with the corpus, so pair work grows quadratically). We take
    r = max(2, ceil(log2(n / target_block_rows))) and b = 3r bands, which
    holds recall ≈ 1-(1-p^r)^{3r} high for genuinely-near pairs (cos 0.9:
    ≥0.999 up to r=8) while per-band buckets stay ~target-sized.
    """
    import math

    r = 2
    if n_rows > target_block_rows:
        r = max(2, math.ceil(math.log2(n_rows / target_block_rows)))
    return r, 3 * r


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.3,
    block_col: str | None = None,
    rows_per_band: int | None = None,
    num_bands: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs with SRP sub-banding — the vector
    twin of MinHash-LSH banding, replacing the within-block cross product
    (quadratic in block size at fixed block count) with a banded equi-join
    whose key cardinality SCALES with the corpus.

    Plan shape (the 100 TB contract):
    1. one projection computes each vector's SRP bit signature
       (rows_per_band × num_bands md5-derived hyperplanes — literals, so
       a SQL oracle reproduces the exact same signs);
    2. ``band_pairs`` materializes the skinny fingerprint table
       (id, block, sig — fixed-width, NOT the corpus vectors) once and
       band-explodes it; candidates = equi-join on
       (block?, band, band_key) with id_a < id_b, DISTINCT across bands;
    3. exact cosine verify ≥ threshold via a join back to the vector
       projection (recomputed from the parquet scan — corpus-sized frames
       are deliberately not cached, mirroring ``jaccard_verify``).

    Banding is probabilistic-recall (no exact-recall equi-join blocking
    exists for cosine thresholds — same trade as Spark MLlib's
    approxSimilarityJoin): a pair at angle θ survives with
    1-(1-(1-θ/π)^r)^b. Auto-scaled (r, b) from ``srp_band_params`` keeps
    recall ≈1 for true near-dups (cos ≥ 0.8) at every scale; at the
    adversarial low threshold 0.3 (θ≈72°, per-bit agreement 0.6 vs 0.5
    for random pairs — LSH's hardest regime, ρ≈0.74) measured recall is
    0.97 at n=500 / 0.85 at n=2000 with the pair space cut sub-quadratic.

    Reference parity: the dedup tier extends mongo_analyser's field-stat
    scans (mongo_analyser/core/analyser.py) to corpus-dedup [EXT].

    ``n_rows``: exact row count of ``df`` — the WHOLE-TABLE contract:
    pass a parquet-footer count (sources.parquet.table_row_count) only
    when ``df`` is that table unfiltered/unexploded; a count for a
    filtered or transformed frame silently mis-sizes the LSH band
    params (recall degradation with no error). Leave None to pay the
    one count job on anything derived.
    """
    from mongo_analyser_spark.operators.similarity import (
        as_double_vec,
        dot,
        norm,
        srp_planes,
        with_srp_sig,
    )

    if rows_per_band is None or num_bands is None:
        # ``n_rows``: callers whose input is a WHOLE table pass
        # the exact parquet-footer count (sources.parquet.table_row_count)
        # so the band-param sizing plans zero jobs; filtered inputs
        # still pay the one count job.
        auto_r, auto_b = srp_band_params(n_rows if n_rows is not None else df.count())
        rows_per_band = rows_per_band or auto_r
        num_bands = num_bands or auto_b
    planes = srp_planes(rows_per_band * num_bands, dim)
    block = [block_col] if block_col else []

    # no fanout: it sped the bare operator call (2.84 → 2.28 s) but
    # slowed the registry row, sized by n_rows, 1.31 → 2.10 s solo
    vecs = df.select(F.col(id_col), as_double_vec(vec_col).alias("__vec"), *block)
    # data-scaled (r, b) means the plane count grows with the corpus —
    # with_srp_sig ships big plane sets as broadcast data, not plan
    # literals (measured: the literal form put ~5k nodes in this plan)
    fp = with_srp_sig(vecs, "__vec", planes, out="sig").select(id_col, *block, "sig")
    keys = [
        F.substring("sig", i * rows_per_band + 1, rows_per_band)
        for i in range(num_bands)
    ]
    cand = band_pairs(fp, id_col, keys, block=block)
    v = vecs.select(F.col(id_col), "__vec", norm(F.col("__vec")).alias("__nrm"))
    a = v.select(
        F.col(id_col).alias("id_a"),
        F.col("__vec").alias("__va"),
        F.col("__nrm").alias("__na"),
    )
    b = v.select(
        F.col(id_col).alias("id_b"),
        F.col("__vec").alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _union_find_labels(edges: DataFrame) -> DataFrame:
    """Exact single-task finish for a graph that fits one partition:
    path-compressing union-find over the (src, dst) edge list, then
    cluster = component minimum — the SAME (id, cluster) contract as the
    distributed loop, in ONE job instead of ~log(diameter) checkpoint
    rounds. Arrow-batched mapInPandas; batches within the one partition
    are accumulated, output emitted once at end-of-stream."""
    id_type = edges.schema["src"].dataType.simpleString()

    def run(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    parent[rd] = rs
        min_rep: dict = {}
        for v in parent:
            r = find(v)
            if r not in min_rep or v < min_rep[r]:
                min_rep[r] = v
        ids = sorted(parent)
        yield pd.DataFrame(
            {"id": ids, "cluster": [min_rep[find(v)] for v in ids]}
        )

    return edges.coalesce(1).mapInPandas(run, f"id {id_type}, cluster {id_type}")


def connected_components(
    pairs: DataFrame,
    left: str = "a",
    right: str = "b",
    max_iter: int = 20,
    on_nonconvergence: str = "warn",
) -> DataFrame:
    """Connected components over candidate pairs → (id, cluster) with
    cluster = the component's minimum id. The last stage of a dedup
    pipeline: LSH/Jaccard emits PAIRS, the training set needs GROUPS
    (keep one representative per component, even when a≈b≈c forms a
    chain no single pair expresses).

    Min-label propagation with pointer doubling: every vertex starts
    labeled with itself; each round sets
    label[v] = min(label[v], min label of v's neighbors) and then jumps
    label[v] = min(label[v], label[label[v]]) — the hash-to-min /
    pointer-doubling contraction, so rounds needed are O(log diameter),
    not O(diameter). The doubling step is what makes the round budget
    safe at corpus scale: measured on the sf0.1 embedding near-dup graph
    a diameter-21 chain takes 21 plain-propagation rounds (exhausting
    the old max_iter=20 default UNCONVERGED) but 6 with doubling, and a
    million-hop adversarial chain stays ~20 rounds. Scale shape: each
    round is one equi-join on the edge list + one groupBy(vertex) + one
    self-join on the label table — shuffle volume O(E + V), never
    materializing components driver-side; ``localCheckpoint`` truncates
    the growing lineage each round (the standard iterative-Spark
    requirement), and convergence is detected on the engine with a
    LIMIT-1 anti-check, not a full count. Fixpoint soundness: a round
    where PROPAGATION changes nothing means label[v] ≤ every neighbor's
    label, which over a connected component forces all labels equal to
    the component min.

    Hybrid finish: the edge count is
    measured anyway (it materializes the pair pipeline into the cache),
    and when the DISTINCT edge list fits one task
    (``IN_CORE_EDGES``) the components are
    solved by a single-job in-partition union-find instead — identical
    output, and it removes the ~log(diameter) × (checkpoint job + probe
    job) round cost that dominates small graphs (measured at sf0.1:
    8.7 s → 3.6 s for embedding_dedup_clusters). Near-dup graphs are
    sparse by construction (banding bounds candidates), so even at
    100 TB most runs land under the threshold AFTER banding; truly giant
    graphs take the distributed loop (tests set ``IN_CORE_EDGES`` to 0
    to force it).
    """
    # symmetrize via explode, NOT union-of-two-selects: a union would run
    # the (expensive) upstream candidate-pair pipeline once per branch,
    # while one explode emits both orientations from a single pass
    both = F.explode(
        F.array(
            F.struct(F.col(left).alias("src"), F.col(right).alias("dst")),
            F.struct(F.col(right).alias("src"), F.col(left).alias("dst")),
        )
    )
    raw = pairs.select(both.alias("e")).select("e.src", "e.dst").distinct().persist()
    # Size the ITERATIVE phase's partitioning from the measured edge
    # count (the count also materializes the upstream pair pipeline into
    # the cache exactly once). Session shuffle partitions are tuned for
    # the big corpus scans; the label graph is usually orders of
    # magnitude smaller, and each of the ~log(diameter) rounds re-pays
    # every empty task's scheduling overhead — AQE can't help because
    # checkpoint boundaries hide the loop from it. ~1M edges/partition
    # keeps round tasks meaty: a billion-edge graph still fans out to
    # 1000+ partitions while a thousand-edge graph runs single-task
    # rounds (measured at sf0.1: 8.7 s → see BASELINE.md).
    n_edges = raw.count()
    if n_edges <= IN_CORE_EDGES:
        # one-task finish; localCheckpoint so the result survives the
        # unpersist of the (expensive) upstream pair pipeline
        labels = _union_find_labels(raw).localCheckpoint()
        raw.unpersist()
        return labels
    parts = int(max(1, min(n_edges // 1_000_000 + 1, 10_000)))
    edges = raw.repartition(parts, "dst").persist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
        .localCheckpoint()
    )
    try:
        converged = False
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("cluster").alias("nbr_cluster"))
            )
            propagated = (
                labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
                .select(
                    "id",
                    F.least(
                        F.col("cluster"), F.coalesce("nbr_cluster", "cluster")
                    ).alias("cluster"),
                    (F.col("nbr_cluster") < F.col("cluster")).alias("__changed"),
                )
                .repartition(parts, "id")  # keep round outputs at graph scale
                .localCheckpoint()  # the ONE eager job per round
            )
            converged = propagated.filter(F.col("__changed")).limit(1).isEmpty()
            if converged:
                labels = propagated.drop("__changed")
                break
            # pointer doubling: jump to the label OF the label (labels are
            # vertex ids, so they resolve against the same table). least()
            # keeps the update monotone; convergence is decided by the
            # propagation step alone (see docstring), so the hop stays a
            # LAZY join over the fresh checkpoint — it materializes inside
            # the next round's propagation job instead of its own.
            hop = propagated.select(
                F.col("id").alias("__hid"), F.col("cluster").alias("__hcluster")
            )
            labels = (
                propagated.join(hop, propagated.cluster == hop.__hid, "left")
                .select(
                    "id",
                    F.least(
                        F.col("cluster"), F.coalesce("__hcluster", "cluster")
                    ).alias("cluster"),
                )
            )
        if not converged:
            # a silent partial result would let downstream dedup keep
            # multiple "keepers" inside one real component
            msg = (
                f"connected_components: max_iter={max_iter} exhausted before "
                "the fixpoint — labels are only partially converged "
                "(component diameter exceeds the round budget); raise "
                "max_iter or pass on_nonconvergence='warn' to accept"
            )
            if on_nonconvergence == "raise":
                raise RuntimeError(msg)
            import logging

            logging.getLogger(__name__).warning(msg)
        return labels
    finally:
        edges.unpersist()
        raw.unpersist()


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str,
    left: str = "a", right: str = "b", max_iter: int = 20,
    on_nonconvergence: str = "warn",
) -> DataFrame:
    """(id, cluster, is_keeper) for EVERY row of ``df``: rows in no pair
    form singleton clusters; the keeper is the component's minimum id —
    filter ``is_keeper`` for the deduplicated corpus."""
    comp = connected_components(pairs, left, right, max_iter, on_nonconvergence)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce("cluster", "id").alias("cluster"),
        )
        .withColumn("is_keeper", F.col("id") == F.col("cluster"))
    )


def remove_repeated_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated n-gram REMOVAL (Lee et al. 2022
    'Deduplicating Training Data Makes Language Models Better' §4 —
    their 50-gram exact-substring dedup, at this corpus's scale n=5):
    any n-gram appearing in >= ``min_docs`` distinct documents is
    boilerplate; every token covered by an occurrence of a repeated
    gram is dropped and the document is rebuilt from the survivors.

    Where the paper builds a corpus-level suffix array, the Spark-native
    formulation for FIXED n is a gram-keyed aggregation — same output,
    and every stage is a keyed shuffle that scales:
    * gram explode is linear in tokens and fuses into the scan; grams
      shuffle as xxhash64 LONGS, not strings (~n-fold fewer
      shuffle bytes; the REBUILT TEXT the oracle hashes is
      invariant to the keying, a 64-bit collision could only mark one
      extra gram repeated);
    * 'repeated' is one groupBy(gram-hash) with a distinct-doc count —
      map-side combine absorbs the Zipf head;
    * hit START positions aggregate to ONE sorted int array per doc
      (skinny — one row per doc, not n rows per occurrence);
    * the rebuild is a pure array expression on the joined-back doc:
      covered positions expand to a flat array (O(hits·n)), survivors
      come from ONE hash-based `array_except` against the position
      sequence, and tokens are re-read by O(1) element_at probes on the
      MATERIALIZED token column. An `exists`-over-starts probe per
      token was O(N·hits) per doc (a 100 KB doc of repeated text ran
      for minutes); this form is linear and byte-identical.

    Returns (id, cleaned_text, n_tokens, n_kept) for EVERY input doc —
    untouched docs round-trip their text; a fully-covered doc yields ''.
    """
    toks = tokens(F.col(text_col))
    starts = _repeated_gram_starts(docs, id_col, text_col, n, min_docs)
    j = docs.select(id_col, F.col(text_col)).join(starts, id_col, "left")
    staged = j.select(
        id_col,
        toks.alias("__t"),
        F.coalesce(F.col("starts"), F.expr("array()")).alias("__s"),
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(F.col("__s"), lambda s: F.sequence(s, s + n - 1))
        )
    )
    npos = F.size("__t")
    all_pos = F.when(npos > 0, F.sequence(F.lit(1), npos)).otherwise(
        F.expr("array()")
    )
    staged2 = staged.select(
        id_col, "__t", F.array_except(all_pos, covered).alias("__kp")
    )
    # NULL-text rows: the array expressions yield NULL/empty — coalesce
    # keeps the 'EVERY input doc' contract ('', 0, 0)
    return staged2.select(
        id_col,
        F.coalesce(
            F.concat_ws(
                " ",
                F.transform(
                    F.col("__kp"),
                    lambda p: F.element_at(F.col("__t"), p),
                ),
            ),
            F.lit(""),
        ).alias("cleaned_text"),
        F.coalesce(F.size("__t"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.size("__kp"), F.lit(0)).cast("long").alias("n_kept"),
    )


def _repeated_gram_starts(
    docs: DataFrame, id_col: str, text_col: str, n: int, min_docs: int
) -> DataFrame:
    """(id, starts sorted array<int>) of positions where a cross-doc
    repeated n-gram begins — the shared probe stage of the two
    repeated-text removers. Three keyed shuffles total: groupBy(hash),
    join(hash), groupBy(doc); the per-doc result is one skinny row.

    The distinct-doc count is a plain single-phase count(*): hashes are
    array_distinct-ed PER DOC inside the scan projection (an array op,
    no shuffle), so each (doc, gram) pair ships exactly once and the
    two-phase countDistinct expansion disappears — map-side combine
    still absorbs the Zipf head because the combiner key is the gram
    hash (measured: sf0.1 fresh-plan median 2.86 -> 2.56 s)."""
    toks = tokens(F.col(text_col))
    hashed = hashed_shingles(F.col(text_col), n)
    # the per-doc hashed-gram array (one skinny row per doc) is
    # materialized once for the repeated-gram and the position branch:
    # read from the docs, each branch re-ran the tokenize + gram +
    # xxhash64 chain (2.23 → 1.41 s at sf0.1, byte-identical starts)
    per_doc = (
        # adaptive fanout — the tokenize + gram + xxhash64 chain
        # (this probe's dominant cost) serialized on the one-row-group
        # fixture scan task; auto-skipped when the scan splits
        fanout_for_python(docs, id_col)
        .where(F.size(toks) >= n)
        .select(id_col, hashed.alias("__g"))
        .localCheckpoint()
    )
    repeated = (
        per_doc.select(F.explode(F.array_distinct(F.col("__g"))).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("g")
    )
    grams = per_doc.select(id_col, F.posexplode(F.col("__g"))).select(
        id_col, (F.col("pos") + 1).alias("s"), F.col("col").alias("g")
    )
    return (
        grams.join(repeated, "g")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("s")).alias("starts"))
    )


def merge_start_intervals(starts: Column, n: int) -> Column:
    """Interval union over a SORTED int array of occurrence start
    positions (each occurrence covering [s, s+n-1]): returns
    array<struct<s int, e int>> of MAXIMAL merged spans — a start
    extends the last span when it begins at or before span_end + 1
    (overlap or token-adjacency), else opens a new span.

    Linear form: with sorted starts and FIXED n, a new span
    begins exactly where s[i] > s[i-1] + n, so the merged spans fall
    out of one boundary-position filter (the _boundaries pattern) plus
    a zip over consecutive boundaries — each span is
    [s[b_j], s[b_{j+1} - 1] + n - 1]. The previous `aggregate` fold
    copied the accumulated span array once per start (O(hits²) on
    adversarial alternating hits); this is O(hits). tests/test_dedup.py
    checks it against a Python reference union on seeded random start
    sets."""
    return _spans_from_boundaries(starts, _span_boundaries(starts, n), n)


def _span_boundaries(starts: Column, n: int) -> Column:
    """Boundary indices of ``merge_start_intervals``: positions i where
    a new span opens (i == 1 or s[i] > s[i-1] + n). Split out so
    ``remove_repeated_spans`` can MATERIALIZE it in its own projection:
    the composed expression references this filter three times (slice,
    size, zip head), and interpreted HOFs get no CSE — the filter ran
    3x per row inline."""
    return F.filter(
        F.sequence(F.lit(1), F.size(starts)),
        lambda i: (i == 1)
        | (
            F.element_at(starts, i)
            > F.element_at(starts, F.greatest(i - 1, F.lit(1))) + n
        ),
    )


def _spans_from_boundaries(starts: Column, bidx: Column, n: int) -> Column:
    """Merged spans from the sorted starts and their (possibly staged)
    boundary-index array — see ``merge_start_intervals``."""
    empty = F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
    size = F.size(starts)
    nxt = F.concat(
        F.slice(bidx, 2, F.greatest(F.size(bidx) - 1, F.lit(0))),
        F.array(size + 1),
    )
    spans = F.zip_with(
        bidx,
        nxt,
        lambda b, e: F.struct(
            F.element_at(starts, b).alias("s"),
            (F.element_at(starts, e - 1) + F.lit(n - 1)).alias("e"),
        ),
    )
    return F.when(size > 0, spans).otherwise(empty)


def remove_repeated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Variable-length repeated-SUBSTRING removal — the full Lee et al.
    2022 exact-substring semantics that ``remove_repeated_ngrams``
    approximates with fixed windows: probe with n-gram collisions
    (hashed keys, see above), then merge overlapping/ADJACENT covered
    intervals per document into MAXIMAL spans before excision, so a
    200-token verbatim boilerplate block is removed as ONE span rather
    than as 200-n+1 overlapping windows' worth of per-position rows.

    Where the paper builds a corpus-level suffix array, the Spark-native
    decomposition is: gram-keyed repeat detection (one groupBy on
    xxhash64 keys, shared probe `_repeated_gram_starts`) → per-doc
    SORTED start array (one skinny row per doc) → interval union as a
    pure `aggregate` fold over the sorted starts (a start extends the
    last span when it begins at or before span_end + 1, else opens a
    new one — plain left-to-right interval merging) → rebuild by
    expanding the DISJOINT merged spans into a flat covered-position
    array (total size <= n_tokens, no distinct needed) and taking the
    survivors with ONE hash-based `array_except`, re-reading tokens by
    O(1) element_at probes on the materialized token column. After the
    three keyed probe shuffles, span building and excision run entirely
    inside the row — no window, no per-position rows, no anti-join.
    (An `exists`-over-spans probe per token was O(N·spans) per doc,
    quadratic on patchy boilerplate; this form is linear and
    byte-identical.)

    Returns (id, cleaned_text, n_tokens, n_spans, n_removed) for EVERY
    input doc; untouched docs round-trip their text."""
    toks = tokens(F.col(text_col))
    starts = _repeated_gram_starts(docs, id_col, text_col, n, min_docs)
    j = docs.select(id_col, F.col(text_col)).join(starts, id_col, "left")
    # stage the boundary-index filter in its own projection — the
    # composed merge_start_intervals expression evaluates it 3x per row
    # (slice + size + zip head; interpreted HOFs get no CSE), the
    # _boundaries discipline this module already documents.
    st = F.coalesce(F.col("starts"), F.expr("array()"))
    # empty-starts guard: sequence(1, 0) descends through index 0, so
    # the boundary filter must not evaluate on empty arrays (the
    # composed form hid this under its lazy `when`)
    staged_b = j.select(
        id_col,
        toks.alias("__t"),
        st.alias("__st"),
        F.when(F.size(st) > 0, _span_boundaries(st, n))
        .otherwise(F.expr("CAST(array() AS array<int>)"))
        .alias("__b"),
    )
    spans = _spans_from_boundaries(F.col("__st"), F.col("__b"), n)
    jj = staged_b.select(id_col, F.col("__t"), spans.alias("spans"))
    covered = F.flatten(
        F.transform("spans", lambda sp: F.sequence(sp["s"], sp["e"]))
    )
    npos = F.size("__t")
    all_pos = F.when(npos > 0, F.sequence(F.lit(1), npos)).otherwise(
        F.expr("array()")
    )
    staged = jj.select(
        id_col,
        "__t",
        "spans",
        F.array_except(all_pos, covered).alias("__kp"),
    )
    # NULL-text rows: coalesce the token-derived columns (same contract
    # guard as remove_repeated_ngrams); span columns derive from the
    # already-coalesced starts array and need none
    return staged.select(
        id_col,
        F.coalesce(
            F.concat_ws(
                " ",
                F.transform(
                    F.col("__kp"),
                    lambda p: F.element_at(F.col("__t"), p),
                ),
            ),
            F.lit(""),
        ).alias("cleaned_text"),
        F.coalesce(F.size("__t"), F.lit(0)).cast("long").alias("n_tokens"),
        F.size("spans").cast("long").alias("n_spans"),
        F.aggregate(
            "spans", F.lit(0), lambda a, sp: a + sp["e"] - sp["s"] + 1
        )
        .cast("long")
        .alias("n_removed"),
    )
