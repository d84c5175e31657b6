"""DSIR importance resampling (operators/dsir.py): semantics against a
pure-Python reference, ranking sanity, and the deterministic top-k cut.
The registry twins are hash-oracled against DuckDB at two scales; these
tests pin the math itself on a corpus small enough to verify by hand.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from mongo_analyser_spark.operators.dsir import dsir_select, dsir_weights

B = 64  # small bucket table so collisions are exercised too

DOCS = [
    # target: English-ish vocabulary
    (1, "the cat sat on the mat", True),
    (2, "the dog sat on the log", True),
    # raw: one target-like, one disjoint, one mixed
    (3, "the cat sat", False),
    (4, "zebra quux flarp", False),
    (5, "the zebra sat quux", False),
]


def _py_bucket(g: str) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:13], 16) % B


def _py_feats(text: str) -> list[int]:
    toks = text.split(" ")
    bigrams = (
        [f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)]
        if len(toks) >= 2
        else [text]
    )
    return [_py_bucket(g) for g in toks + bigrams]


def _py_weights() -> dict[int, tuple[int, float]]:
    t_cnt: dict[int, int] = {}
    r_cnt: dict[int, int] = {}
    for _, text, is_t in DOCS:
        for b in _py_feats(text):
            d = t_cnt if is_t else r_cnt
            d[b] = d.get(b, 0) + 1
    tt, rt = sum(t_cnt.values()), sum(r_cnt.values())
    out = {}
    for doc_id, text, is_t in DOCS:
        if is_t:
            continue
        feats = _py_feats(text)
        w = sum(
            (math.log(t_cnt.get(b, 0) + 1) - math.log(tt + B))
            - (math.log(r_cnt.get(b, 0) + 1) - math.log(rt + B))
            for b in feats
        )
        out[doc_id] = (len(feats), round(w, 6))
    return out


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, is_t boolean")


def test_weights_match_python_reference(spark):
    got = {
        r["doc_id"]: (r["n_feats"], r["dsir_logratio"])
        for r in dsir_weights(_df(spark), F.col("is_t"), buckets=B).collect()
    }
    assert got == _py_weights()


def test_target_like_raw_doc_outranks_disjoint_one(spark):
    w = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_weights(_df(spark), F.col("is_t"), buckets=B).collect()
    }
    assert set(w) == {3, 4, 5}  # target docs are never scored
    assert w[3] > w[5] > w[4]  # target-vocab > mixed > disjoint


def test_select_is_deterministic_topk(spark):
    df = _df(spark)
    top2 = [r["doc_id"] for r in dsir_select(df, F.col("is_t"), 2, buckets=B).collect()]
    ref = sorted(_py_weights().items(), key=lambda kv: (-kv[1][1], kv[0]))
    assert top2 == [doc_id for doc_id, _ in ref[:2]]
    # re-run is identical (rounded weight + id tie-break, no nondeterminism)
    assert top2 == [
        r["doc_id"] for r in dsir_select(df, F.col("is_t"), 2, buckets=B).collect()
    ]


def test_empty_target_still_well_defined(spark):
    """With no target docs the p-model is pure smoothing: every weight is
    finite and the op neither crashes nor drops raw docs."""
    rows = dsir_weights(_df(spark), F.lit(False), buckets=B).collect()
    assert len(rows) == len(DOCS)
    assert all(math.isfinite(r["dsir_logratio"]) for r in rows)


def test_null_target_label_counts_as_raw(spark):
    """A NULL boolean target (e.g. ``lang == 'en'`` over a NULL lang)
    must count as RAW — the oracle's CASE WHEN is_t THEN 0 ELSE 1 END
    semantics — not fall out of both classes (advice r8 #1). The NULL-
    label doc gets a weight row and its features feed the raw counts."""
    rows = DOCS + [(6, "the cat sat", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    got = {
        r["doc_id"]: r["n_feats"]
        for r in dsir_weights(df, F.col("is_t"), buckets=B).collect()
    }
    # doc 6 is scored as raw, with the same feature count as its twin 3
    assert 6 in got and got[6] == got[3]
    # and its features changed the raw totals: doc 3's weight differs
    # from the NULL-free corpus
    base = _py_weights()
    with_null = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_weights(df, F.col("is_t"), buckets=B).collect()
    }
    assert with_null[3] != base[3][1]

def test_feats_ckpt_branch_parity(spark, monkeypatch, optimized_plan):
    """The materialization branch (input under FEATS_CKPT_MAX_BYTES → ONE
    feature explode, consumers read the checkpointed occurrence frame)
    must produce exactly the recompute branch's rows. Each side is forced
    by the threshold constant, and the two plans must differ."""
    from mongo_analyser_spark.operators import dsir

    df = spark.createDataFrame(
        DOCS, "doc_id long, text string, is_t boolean"
    )
    out = {}
    for branch, threshold in (("recompute", -1), ("ckpt", float("inf"))):
        monkeypatch.setattr(dsir, "FEATS_CKPT_MAX_BYTES", threshold)
        w = dsir_weights(df, F.col("is_t"), buckets=B)
        out[branch] = (optimized_plan(w), sorted(map(tuple, w.collect())))
    assert out["ckpt"][0] != out["recompute"][0]
    assert out["ckpt"][1] == out["recompute"][1] and out["ckpt"][1]
