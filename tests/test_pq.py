"""Product quantization (operators/pq.py): codebook seeding, encode
argmin semantics, refine algebra, ADC distance math vs a pure-Python
reference, and the rerank/recall contracts. Registry twins are
hash-oracled against DuckDB at two scales; these pin the math on a
hand-checkable corpus."""

from __future__ import annotations

import math

from mongo_analyser_spark.operators.pq import (
    collect_codebook,
    pq_adc_rerank_topk,
    pq_adc_rerank_topk_arrow,
    pq_adc_topk,
    pq_adc_topk_arrow,
    pq_codebooks,
    pq_encode,
    pq_encode_arrow,
    pq_exact_topk,
    pq_recall_report,
    pq_refine,
    train_codebook,
)

DIM, M, SUBDIM, KC = 8, 4, 2, 3

# 6 vectors of dim 8; ids 0..2 seed the 3 centroids per subspace
VECS = [
    (0, [0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0]),
    (1, [10.0, 10.0, 11.0, 11.0, 12.0, 12.0, 13.0, 13.0]),
    (2, [20.0, 20.0, 21.0, 21.0, 22.0, 22.0, 23.0, 23.0]),
    (3, [0.4, 0.1, 1.2, 0.9, 2.1, 1.8, 3.3, 2.9]),
    (4, [9.6, 10.2, 10.8, 11.1, 12.4, 11.9, 12.7, 13.2]),
    (5, [19.5, 20.1, 21.4, 20.8, 22.2, 21.7, 23.1, 22.6]),
]


def _df(spark):
    return spark.createDataFrame(
        VECS, "vec_id long, embedding array<double>"
    )


def _py_codes(cents=None):
    seeds = [v for _, v in VECS[:KC]]
    if cents is None:
        cents = {
            (s, c + 1): seeds[c][s * SUBDIM:(s + 1) * SUBDIM]
            for s in range(M)
            for c in range(KC)
        }
    out = {}
    for vid, v in VECS:
        codes = []
        for s in range(M):
            sv = v[s * SUBDIM:(s + 1) * SUBDIM]
            best = min(
                range(1, KC + 1),
                key=lambda c: (
                    sum((a - b) ** 2 for a, b in zip(sv, cents[(s, c)])),
                    c,
                ),
            )
            codes.append(best)
        out[vid] = codes
    return out, cents


def test_codebooks_are_seed_subslices(spark):
    [row] = pq_codebooks(_df(spark), "vec_id", "embedding", DIM, M, KC).collect()
    cents = {(c["sub"], c["cid"]): list(c["v"]) for c in row["cents"]}
    assert len(cents) == M * KC
    for s in range(M):
        for c in range(KC):
            want = VECS[c][1][s * SUBDIM:(s + 1) * SUBDIM]
            assert cents[(s, c + 1)] == want


def test_encode_matches_python_argmin(spark):
    df = _df(spark)
    cb = pq_codebooks(df, "vec_id", "embedding", DIM, M, KC)
    got = {
        r["id"]: list(r["codes"])
        for r in pq_encode(df, "vec_id", "embedding", cb, DIM, M).collect()
    }
    want, _ = _py_codes()
    assert got == want
    # seeds quantize to themselves
    assert got[0] == [1] * M and got[1] == [2] * M and got[2] == [3] * M


def test_refine_moves_centroids_to_rounded_member_means(spark):
    df = _df(spark)
    cb0 = pq_codebooks(df, "vec_id", "embedding", DIM, M, KC)
    [row] = pq_refine(df, "vec_id", "embedding", cb0, DIM, M).collect()
    cents = {(c["sub"], c["cid"]): list(c["v"]) for c in row["cents"]}
    codes, seed_cents = _py_codes()
    # python reference: rounded mean of members per cell, else old value
    for s in range(M):
        for c in range(1, KC + 1):
            members = [
                VECS[vid][1][s * SUBDIM:(s + 1) * SUBDIM]
                for vid, cs in codes.items()
                if cs[s] == c
            ]
            if members:
                want = [
                    round(sum(col) / len(col), 6) for col in zip(*members)
                ]
            else:
                want = seed_cents[(s, c)]
            assert cents[(s, c)] == want


def test_adc_distance_is_sum_of_subspace_l2(spark):
    df = _df(spark)
    adc = pq_adc_topk(
        df, "vec_id", "embedding", [0], DIM, M, KC, k=5
    ).collect()
    codes, cents = _py_codes()
    by_vid = {r["vid"]: r["adc_dist"] for r in adc}
    for vid, v in VECS:
        if vid == 0 or vid not in by_vid:
            continue
        q = VECS[0][1]
        want = sum(
            sum(
                (a - b) ** 2
                for a, b in zip(
                    q[s * SUBDIM:(s + 1) * SUBDIM],
                    cents[(s, codes[vid][s])],
                )
            )
            for s in range(M)
        )
        assert math.isclose(by_vid[vid], round(want, 6), abs_tol=1e-9)


def test_rerank_orders_by_exact_l2(spark):
    df = _df(spark)
    rer = pq_adc_rerank_topk(
        df, "vec_id", "embedding", [0], DIM, M, KC,
        shortlist=5, k=3, refine_steps=0,
    ).collect()
    exact = pq_exact_topk(df, "vec_id", "embedding", [0], k=3).collect()
    # shortlist covers the whole corpus here, so rerank == exact
    assert [(r["vid"], r["l2"]) for r in rer] == [
        (r["vid"], r["l2"]) for r in exact
    ]


def test_recall_report_bounds_and_full_shortlist_is_perfect(spark):
    df = _df(spark)
    rep = pq_recall_report(
        df, "vec_id", "embedding", [0, 1], DIM, M, KC,
        k=3, refine_steps=1, shortlist=5,
    ).collect()
    assert [r["qid"] for r in rep] == [0, 1]
    for r in rep:
        assert r["recall_at_k"] == 1.0  # shortlist spans the corpus


def _random_df(spark, n=40, seed=7):
    import random

    rng = random.Random(seed)
    vecs = [
        (i, [round(rng.uniform(-2, 2), 3) for _ in range(DIM)])
        for i in range(n)
    ]
    return spark.createDataFrame(vecs, "vec_id long, embedding array<double>")


def test_arrow_encode_bit_identical_to_fold(spark):
    """The Arrow kernel accumulates (x-c)^2 per component in index
    order — the exact fold — so codes must be EQUAL, not close, on a
    corpus with near-tie geometry."""
    df = _random_df(spark)
    cents = pq_codebooks(df, "vec_id", "embedding", DIM, M, KC)
    cb = collect_codebook(cents, DIM, M)
    fold = {
        r["id"]: list(r["codes"])
        for r in pq_encode(df, "vec_id", "embedding", cents, DIM, M).collect()
    }
    arrow = {
        r["id"]: list(r["codes"])
        for r in pq_encode_arrow(
            df, "vec_id", "embedding", cb, DIM, M
        ).collect()
    }
    assert arrow == fold


def test_train_codebook_matches_pq_refine(spark):
    """train_codebook (Arrow assignment + partial-sum means) must land
    on the SAME rounded centroids as the all-expression pq_refine."""
    df = _random_df(spark)
    cb0 = pq_codebooks(df, "vec_id", "embedding", DIM, M, KC)
    want = collect_codebook(
        pq_refine(df, "vec_id", "embedding", cb0, DIM, M, steps=1), DIM, M
    )
    got = train_codebook(
        df, "vec_id", "embedding", DIM, M, KC, refine_steps=1
    )
    assert got.shape == want.shape
    assert (got == want).all()


def test_arrow_adc_and_rerank_match_fold(spark):
    df = _random_df(spark)
    cb = train_codebook(df, "vec_id", "embedding", DIM, M, KC, refine_steps=1)
    fold = pq_adc_topk(
        df, "vec_id", "embedding", [0, 1], DIM, M, KC, k=5, refine_steps=1
    ).collect()
    arrow = pq_adc_topk_arrow(
        df, "vec_id", "embedding", [0, 1], DIM, M, KC, k=5,
        refine_steps=1, cb=cb,
    ).collect()
    assert [tuple(r) for r in arrow] == [tuple(r) for r in fold]
    fold_r = pq_adc_rerank_topk(
        df, "vec_id", "embedding", [0, 1], DIM, M, KC,
        shortlist=10, k=3, refine_steps=1,
    ).collect()
    arrow_r = pq_adc_rerank_topk_arrow(
        df, "vec_id", "embedding", [0, 1], DIM, M, KC,
        shortlist=10, k=3, refine_steps=1, cb=cb,
    ).collect()
    assert [tuple(r) for r in arrow_r] == [tuple(r) for r in fold_r]


def test_encode_matches_python_on_random_vectors(spark):
    """Randomized argmin semantics: codes over a seeded random corpus
    must equal the pure-Python nearest-sub-centroid with the same
    lowest-cid tie rule (exercises tie-free and near-tie geometry the
    handcrafted vectors don't)."""
    import random

    rng = random.Random(7)
    vecs = [
        (i, [round(rng.uniform(-2, 2), 3) for _ in range(DIM)])
        for i in range(30)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cb = pq_codebooks(df, "vec_id", "embedding", DIM, M, KC)
    [row] = cb.collect()
    cents = {(c["sub"], c["cid"]): list(c["v"]) for c in row["cents"]}
    got = {
        r["id"]: list(r["codes"])
        for r in pq_encode(df, "vec_id", "embedding", cb, DIM, M).collect()
    }
    for vid, v in vecs:
        for s in range(M):
            sv = v[s * SUBDIM:(s + 1) * SUBDIM]
            want = min(
                range(1, KC + 1),
                key=lambda c: (
                    sum((a - b) ** 2 for a, b in zip(sv, cents[(s, c)])),
                    c,
                ),
            )
            assert got[vid][s] == want


def test_ivfpq_encode_cells_match_ivf_cell(spark):
    """IVFADC assigns corpus cells inside the encode kernel: every
    fixture vector's cell must equal the ``ivf_cell`` expression's,
    first-max ties included."""
    import numpy as np
    from pyspark.sql import functions as F

    from mongo_analyser_spark.operators.pq import _encode_arrow
    from mongo_analyser_spark.operators.similarity import (
        ivf_cell,
        ivf_centroids,
    )
    from mongo_analyser_spark.queries_pipeline import (
        EMB_DIM,
        IVF_CELLS,
        _pq_trained_cb,
    )
    from mongo_analyser_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(IVF_CELLS, EMB_DIM)
    expr = {
        r["vec_id"]: r["cell"]
        for r in emb.select(
            "vec_id", ivf_cell(F.col("embedding"), cents).alias("cell")
        ).collect()
    }
    got = {
        r["id"]: r["cell"]
        for r in _encode_arrow(
            emb, "vec_id", "embedding", _pq_trained_cb(spark, sf),
            cents=np.asarray(cents, dtype=np.float64),
        ).collect()
    }
    assert expr and got == expr


def test_ivfpq_returns_only_same_cell_neighbors(spark):
    """IVFADC composition: with nprobe=1 every returned neighbor must
    share the query's IVF cell, and the rerank keeps (l2, vid) order."""
    import random

    from pyspark.sql import functions as F

    from mongo_analyser_spark.operators.pq import ivfpq_topk_arrow
    from mongo_analyser_spark.operators.similarity import (
        ivf_cell,
        ivf_centroids,
    )

    rnd = random.Random(11)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_centroids(3, 16)
    out = ivfpq_topk_arrow(
        emb, "vec_id", "embedding", [0, 1], 16, cents,
        m=4, k_cent=4, shortlist=10, k=3, refine_steps=0,
    ).collect()
    cells = {
        r["vec_id"]: r["cell"]
        for r in emb.select(
            "vec_id", ivf_cell(F.col("embedding"), cents).alias("cell")
        ).collect()
    }
    assert out, "no neighbors returned"
    for r in out:
        assert cells[r["vid"]] == cells[r["qid"]]
    for qid in {r["qid"] for r in out}:
        mine = [r for r in out if r["qid"] == qid]
        assert [r["rnk"] for r in mine] == list(range(1, len(mine) + 1))
        assert mine == sorted(mine, key=lambda r: (r["l2"], r["vid"]))


def test_ivfpq_wide_recall_gate(spark):
    """The production-width IVFADC registry row (verdict-r13 #3) is
    rows-only — this is its correctness contract: recall@5 vs the exact
    L2 top-5 over the SAME widened vectors. The 64-dim ivfpq recall row
    reads mean 0.35 on this fixture (nprobe=1 over 4 cells on a
    near-uniform corpus); the wide row measured 0.325 — gate at >= 0.2
    mean so a broken LUT/cell-gate (recall ~ k/N ~ 0.01) fails loudly
    while fixture-level ANN noise does not."""
    import numpy as np

    from mongo_analyser_spark.queries import QUERIES
    from mongo_analyser_spark.queries_pipeline import (
        ANN_QUERY_IDS,
        _PQ_TOPK,
        _wide_embeddings,
    )

    sf = "/root/testdata/sf0.001"
    res = QUERIES["ivfpq_wide_topk_embeddings"](spark, sf).collect()
    got = {}
    for r in res:
        got.setdefault(r["qid"], set()).add(r["vid"])
    rows = sorted(
        _wide_embeddings(spark, sf).collect(), key=lambda r: r["vec_id"]
    )
    X = np.array([r["wvec"] for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    recalls = []
    for q in ANN_QUERY_IDS:
        qv = X[ids == q][0]
        d2 = ((X - qv) ** 2).sum(1)
        d2[ids == q] = np.inf
        order = np.lexsort((ids, d2))
        exact = set(ids[order[:_PQ_TOPK]].tolist())
        recalls.append(len(exact & got.get(q, set())) / _PQ_TOPK)
    assert np.mean(recalls) >= 0.2, recalls
    # every query returns exactly k ranked rows
    for q in ANN_QUERY_IDS:
        assert len(got.get(q, set())) == _PQ_TOPK
