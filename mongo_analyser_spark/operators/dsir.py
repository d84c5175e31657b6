"""DSIR-style data selection via importance resampling [EXT — north
star]: pick raw-corpus documents whose hashed-n-gram profile looks like
a target corpus (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling" — public method).

Reference parity: none (the reference has no corpus-selection surface);
this extends the curation tier (operators/sampling.py, quality.py) with
the standard distribution-matching selector a pretraining pipeline runs
between dedup and token-budget selection.

Method: features are unigrams + word bigrams hashed into ``buckets``
buckets; fit two add-one-smoothed multinomials — p over the TARGET
documents' features, q over the RAW (non-target) documents' — and score
every raw document with its importance log-ratio

    w(x) = sum over feature occurrences f in x of
           [ln(t_f + 1) - ln(T + B)] - [ln(r_f + 1) - ln(R + B)]

(t_f/r_f = bucket counts, T/R = totals, B = bucket count). Selection is
deterministic top-k on the rounded weight (doc_id tie-break); the
resampling variant of the paper replaces top-k with seeded Gumbel noise
— the plumbing is identical, the ranking column changes.

100-TB shape: the feature explode fuses into the scan; bucket counts are
ONE groupBy with map-side combine onto <= ``buckets`` rows; the
log-ratio table is a BROADCAST join (bounded by ``buckets``, never by
the corpus); per-doc weights are one doc-keyed shuffle; top-k is
TakeOrdered. Nothing driver-side except the <=B-row ratio table's
broadcast.

Hash-oracle-ability: buckets come from md5 hex (13 chars = 52 bits,
exact in both engines — the KMV idiom, operators/field_stats.py), the
log operands are exact integers, and the final per-doc ROUND absorbs
float summation order — the unigram_nll/bigram_nll contract
(operators/quality.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_analyser_spark.functions.text import shingles, tokens
from mongo_analyser_spark.operators.fanout import fanout_for_python, input_bytes

#: corpus size up to which ``dsir_weights`` materializes its feature
#: occurrence rows (~5× the text) once for both consumers: at sf0.1 that
#: took dsir_weights 2.51 → 1.48 s, while at corpus scale writing 5× the
#: text through local disks loses to recomputing the cheap projection.
FEATS_CKPT_MAX_BYTES = 1 << 30


def md5_bucket(col: Column, buckets: int) -> Column:
    """Engine-reproducible feature hash: first 13 md5 hex chars (52
    bits, exact) mod ``buckets``. DuckDB twin:
    ``CAST('0x'||substr(md5(g),1,13) AS UBIGINT) % buckets``."""
    return (
        F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")
        % F.lit(buckets)
    )


def _features(
    docs: DataFrame, target: Column, id_col: str, text_col: str, buckets: int
) -> DataFrame:
    """(id, __t, b): one row per unigram/bigram occurrence, bucketed.

    Adaptive fanout before the explode — the tokenize + bigram +
    md5-bucket map pass serialized on the one-row-group fixture scan
    task; auto-skipped when the scan splits (fanout_for_python)."""
    docs = fanout_for_python(docs, id_col)
    c = F.col(text_col)
    return docs.select(
        F.col(id_col),
        # NULL target labels count as RAW on both engines (a NULL
        # boolean would otherwise fall out of BOTH classes here while
        # the oracle's CASE ... ELSE counts it as raw) — same coalesce
        # contract as nb_classifier's label.
        F.coalesce(target, F.lit(False)).alias("__t"),
        F.explode(F.concat(tokens(c), shingles(c, 2))).alias("g"),
    ).select(id_col, "__t", md5_bucket(F.col("g"), buckets).alias("b"))


def dsir_weights(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    round_to: int = 6,
) -> DataFrame:
    """(id, n_feats, dsir_logratio) for every RAW (non-target) document:
    the importance log-ratio of its hashed-n-gram profile under the
    target-vs-raw multinomials. ``target`` is a boolean Column over
    ``docs`` (e.g. ``F.col("lang") == "en"``). Up to
    ``FEATS_CKPT_MAX_BYTES`` of input (``input_bytes``) the feature
    frame is materialized once; above it, recomputed."""
    feats = _features(docs, target, id_col, text_col, buckets)
    if input_bytes(docs) <= FEATS_CKPT_MAX_BYTES:
        # ONE feature explode total: the occurrence frame itself is
        # materialized and both consumers (bucket histogram + per-doc
        # weights) read it. The counts table needs no checkpoint of its
        # own — its re-aggregation from the materialized frame is two
        # cheap jobs (totals broadcast + lam broadcast).
        feats = feats.localCheckpoint()
        counts = feats.groupBy("b").agg(
            F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("t_b"),
            F.sum(F.when(~F.col("__t"), 1).otherwise(0)).alias("r_b"),
        )
    else:
        # (guide §1.2) the bucket-count table fed THREE consumers
        # (totals, lam, and transitively the weights join), and each
        # consumer's subtree re-ran the corpus-wide feature explode +
        # md5 bucketing. Materialize the <= ``buckets``-row count table
        # once — the explode now runs twice total (once for counts, once
        # for the per-doc weights side, which stays deliberately
        # unmaterialized like jaccard_verify's shingle sets) instead of
        # three times. Measured at sf0.1: dsir_weights 2.09 s -> ~1.4 s.
        counts = (
            feats.groupBy("b")
            .agg(
                F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("t_b"),
                F.sum(F.when(~F.col("__t"), 1).otherwise(0)).alias("r_b"),
            )
            .localCheckpoint()
        )
    totals = counts.agg(
        F.sum("t_b").alias("t_total"), F.sum("r_b").alias("r_total")
    )
    lam = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            (F.log(F.col("t_b") + 1) - F.log(F.col("t_total") + buckets))
            - (F.log(F.col("r_b") + 1) - F.log(F.col("r_total") + buckets))
        ).alias("lam"),
    )
    return (
        feats.where(~F.col("__t"))
        .join(F.broadcast(lam), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("lam"), round_to).alias("dsir_logratio"),
        )
    )


def dsir_select(
    docs: DataFrame,
    target: Column,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
) -> DataFrame:
    """Deterministic top-k raw documents by importance log-ratio
    (TakeOrdered; ties break on id so the cut is engine-stable)."""
    return (
        dsir_weights(docs, target, id_col, text_col, buckets)
        .orderBy(F.desc("dsir_logratio"), id_col)
        .limit(k)
    )
