"""Sparse lexical vectors: TF-IDF weighting and the prefix-filtered
cosine similarity join (training-data curation tier).

Reference parity: extends the reference's per-field value-frequency
statistics (mongo_analyser/core/analyser.py top-value guards) to the
corpus level — the classic sparse-vector document representation and
the similarity self-join built on it. The join is the AllPairs /
prefix-filtering family (Bayardo, Ma & Srikant, WWW 2007; Chaudhuri et
al.'s SSJoin): candidate pairs must share at least one of each
document's RAREST terms, so the inverted-index fanout per term is
bounded by that term's (small) document frequency instead of the
corpus-dominating Zipf head.

Exactness contract (the unigram_nll family): tf, df and N are exact
integers, so idf = ln(N+1) - ln(df+1) and every weight tf*idf is
engine-independent; sums over terms (dots, norms) are float-order
dependent and are absorbed by a final ROUND; every rank/filter decision
is taken on the ROUNDED value with an id/term tiebreak so the emitted
row set can never disagree between engines.

100-TB shape: three keyed shuffles build the weighted postings table
((id, term) tf groupBy -> term df groupBy derived from the SHRUNK
postings -> doc-keyed norm regroup); N travels as a one-row broadcast;
candidate generation joins only each doc's p rarest terms (p=2 default)
against the inverted index, so pair fanout per term is df^2 only for
ALREADY-RARE terms; verification is two equi-joins bounded by
|candidates| x doc-vocabulary. Nothing driver-side, nothing Python.
Like the SRP/IVF ANN rows, candidate generation is probabilistic-recall
(rare-term blocking, not the full PPJoin weighted-prefix bound);
``tfidf_pairs_recall_report`` measures it against the exact join.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongo_analyser_spark.operators.fanout import sort_output

from mongo_analyser_spark.functions.text import tokens


def _nonempty(tok: Column) -> Column:
    return tok != ""


def tfidf_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: Callable[[Column], Column] = tokens,
) -> DataFrame:
    """The weighted postings table (id, term, tf, df, n_docs, w) with
    w = tf * (ln(n_docs+1) - ln(df+1)), unrounded (exact-int log
    operands make w engine-independent; see module doc).

    Plan: (id, term) groupBy with map-side combine (per-doc term counts
    collapse inside each task), df derived from the ALREADY-SHRUNK
    postings (one more groupBy over distinct (id, term) rows — no
    second corpus pass), N as a one-row broadcast."""
    tf = (
        docs.select(
            F.col(id_col), F.explode(tokenizer(F.col(text_col))).alias("term")
        )
        .where(_nonempty(F.col("term")))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            "df",
            "n_docs",
            (
                F.col("tf").cast("double")
                * (
                    F.log((F.col("n_docs") + 1).cast("double"))
                    - F.log((F.col("df") + 1).cast("double"))
                )
            ).alias("w"),
        )
    )


def tfidf_topk_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: Callable[[Column], Column] = tokens,
    round_to: int = 6,
) -> DataFrame:
    """Each document's k highest-TF-IDF terms (id, term, tf, df, w,
    rnk) — the per-doc "keyword sketch". Rank on the ROUNDED weight
    with a term tiebreak so the cut is engine-stable."""
    post = tfidf_postings(docs, id_col, text_col, tokenizer).select(
        id_col, "term", "tf", "df", F.round("w", round_to).alias("w")
    )
    win = Window.partitionBy(id_col).orderBy(F.desc("w"), "term")
    return (
        post.withColumn("rnk", F.row_number().over(win).cast("int"))
        .where(F.col("rnk") <= k)
        .orderBy(id_col, "rnk")
    )


def _doc_norms(post: DataFrame, id_col: str) -> DataFrame:
    """(id, n2): squared L2 norm of each doc's TF-IDF vector (unrounded
    — consumed under a final ROUND downstream)."""
    return post.groupBy(id_col).agg(F.sum(F.col("w") * F.col("w")).alias("n2"))


def prefix_candidates(
    post: DataFrame, id_col: str, prefix: int = 2
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing at least one of either
    doc's ``prefix`` RAREST terms (df asc, term asc — deterministic).
    The inverted-index join touches only prefix terms, so per-term
    fanout is df^2 for rare terms only; the Zipf head never joins.
    Terms with df=1 cannot pair and df filters nothing here — rarity
    ordering does the work."""
    win = Window.partitionBy(id_col).orderBy("df", "term")
    pref = (
        post.withColumn("prn", F.row_number().over(win))
        .where(F.col("prn") <= prefix)
        # the term string never needs to shuffle: candidates only need
        # equality, so the join key ships as an 8-byte hash
        .select(F.col(id_col).alias("id"), F.xxhash64("term").alias("g"))
    )
    right = pref.select(F.col("id").alias("id_b"), "g")
    return (
        pref.select(F.col("id").alias("id_a"), "g")
        .join(right, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    prefix: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: Callable[[Column], Column] = tokens,
    round_to: int = 6,
) -> DataFrame:
    """(id_a, id_b, cosine): candidate pairs from rare-term prefix
    blocking, then EXACT TF-IDF cosine verification, kept when the
    ROUNDED cosine >= threshold.

    Verification joins each candidate pair to the a-side postings
    (fanout |cand| x doc vocab), matches the b-side weight by
    (id_b, term) — shared terms survive the inner join, exactly the
    nonzero dot terms — then one (id_a, id_b) regroup; norms attach by
    two skinny doc-keyed joins."""
    post = tfidf_postings(docs, id_col, text_col, tokenizer)
    cand = prefix_candidates(post, id_col, prefix)
    a_side = post.select(
        F.col(id_col).alias("id_a"), "term", F.col("w").alias("wa")
    )
    b_side = post.select(
        F.col(id_col).alias("id_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        cand.join(a_side, "id_a")
        .join(b_side, ["id_b", "term"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    norms = _doc_norms(post, id_col)
    return (
        dots.join(norms.select(F.col(id_col).alias("id_a"), F.col("n2").alias("na")), "id_a")
        .join(norms.select(F.col(id_col).alias("id_b"), F.col("n2").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), round_to
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .transform(sort_output, "id_a", "id_b")
    )


def tfidf_exact_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: Callable[[Column], Column] = tokens,
    round_to: int = 6,
) -> DataFrame:
    """Ground truth for the recall report: the full inverted-index
    self-join (every shared term, no prefix filter). Quadratic in the
    Zipf head — fixture/validation scale only, exactly like the
    brute-force ANN baseline."""
    post = tfidf_postings(docs, id_col, text_col, tokenizer)
    a_side = post.select(
        F.col(id_col).alias("id_a"), "term", F.col("w").alias("wa")
    )
    b_side = post.select(
        F.col(id_col).alias("id_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a_side.join(b_side, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    norms = _doc_norms(post, id_col)
    return (
        dots.join(norms.select(F.col(id_col).alias("id_a"), F.col("n2").alias("na")), "id_a")
        .join(norms.select(F.col(id_col).alias("id_b"), F.col("n2").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), round_to
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def tfidf_pairs_recall_report(
    docs: DataFrame,
    threshold: float = 0.6,
    prefix: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: Callable[[Column], Column] = tokens,
) -> DataFrame:
    """One row (true_pairs, found_pairs, matched, recall): the
    ann_recall_report contract for the prefix-filtered join. found is
    always a subset of true (verification is exact), so matched ==
    found and precision is 1 by construction; recall is the number the
    blocking choice owns."""
    true_pairs = tfidf_exact_pairs(
        docs, threshold, id_col, text_col, tokenizer
    ).select("id_a", "id_b")
    # the report only counts pairs: Catalyst drops the pair frame's
    # output sort under the full-outer join
    found = tfidf_cosine_pairs(
        docs, threshold, prefix, id_col, text_col, tokenizer
    ).select("id_a", "id_b")
    # r15: all three counts in ONE aggregation over a full-outer join of
    # the two (unique-keyed) pair sets — the old shape consumed each
    # heavyweight subtree twice (its own count + the semi-join) and
    # leaned on exchange reuse to dedupe the scans
    t = true_pairs.select("id_a", "id_b", F.lit(1).alias("__t"))
    f = found.select("id_a", "id_b", F.lit(1).alias("__f"))
    return (
        t.join(f, ["id_a", "id_b"], "full_outer")
        .agg(
            F.count("__t").alias("true_pairs"),
            F.count("__f").alias("found_pairs"),
            F.count(
                F.when(
                    F.col("__t").isNotNull() & F.col("__f").isNotNull(), 1
                )
            ).alias("matched"),
        )
        .select(
            "true_pairs",
            "found_pairs",
            "matched",
            F.round(
                F.when(F.col("true_pairs") == 0, F.lit(1.0)).otherwise(
                    F.col("matched").cast("double") / F.col("true_pairs")
                ),
                6,
            ).alias("recall"),
        )
    )
