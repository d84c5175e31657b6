"""Planted-cluster ANN recall gates (round 15, verdict-r14 #4).

The pre-existing recall gates run on near-uniform random vectors — a
PQ-hostile regime where the honest recall ceiling is ~0.35, so they gate
at >=0.2 and only catch total breakage (a 2x recall regression passes).
This file applies the test_pca planted-spectrum discipline to ANN: a
deterministic corpus of 8 well-separated clusters (unit centers scaled
x6, noise sigma 0.15 — inter-center L2 ~8.5 vs in-cluster neighbor L2
~0.85) where every family SHOULD recall nearly perfectly, so the gates
sit at 0.9-0.95 and a quality regression fails loudly.

Measured at pin time (tools: /tmp probe, recorded in SCALE.md round-15
recall table):
  srp radius=1        0.975   ivf nprobe=1 (trained cells)   1.000
  pq_adc_rerank sl=40 1.000   ivfpq sl=40 (trained cells)    1.000
The no-rerank pq_adc row measures 0.15 here BY DESIGN: within a tight
cluster every member quantizes to the same code, ADC ties, and the
(dist, vid) tie-break returns the lowest vids — quantized distances
cannot resolve sub-quantization-error gaps. That is the documented
reason the registry ships the RERANK variant; the shortlist must cover
the tie class (shortlist >= cluster size here).
"""

from __future__ import annotations

import numpy as np
import pytest

N_CLUSTERS, PER, DIM, K = 8, 40, 32, 5
QIDS = [c * PER for c in range(N_CLUSTERS)]


def _planted(n_clusters=N_CLUSTERS, per=PER, d=DIM, sep=6.0, noise=0.15,
             seed=5):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    centers *= sep
    return np.vstack([
        centers[c] + noise * rng.standard_normal((per, d))
        for c in range(n_clusters)
    ])


@pytest.fixture(scope="module")
def corpus(spark):
    X = _planted()
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    df.cache().count()
    yield X, df
    df.unpersist()


def _truth(X, metric):
    t = {}
    for q in QIDS:
        if metric == "cos":
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            s = Xn @ Xn[q]
            s[q] = -np.inf
            t[q] = set(np.argsort(-s)[:K].tolist())
        else:
            dd = ((X - X[q]) ** 2).sum(1)
            dd[q] = np.inf
            t[q] = set(np.argsort(dd)[:K].tolist())
    return t


def _recall(res, truth):
    got = {}
    for r in res.collect():
        got.setdefault(r["qid"], set()).add(r["vid"])
    return float(np.mean([
        len(got.get(q, set()) & truth[q]) / K for q in QIDS
    ]))


def test_srp_recall_on_planted_clusters(corpus):
    from mongo_analyser_spark.operators.similarity import ann_srp_topk

    X, df = corpus
    truth = _truth(X, "cos")
    r1 = _recall(
        ann_srp_topk(df, "vec_id", "embedding", QIDS, 8, DIM, k=K,
                     probe_radius=1),
        truth,
    )
    assert r1 >= 0.9, r1  # measured 0.975
    # exact-bucket probing legitimately loses some boundary neighbors
    # (each sign flips with prob ~theta/pi) but must stay far above the
    # broken-path floor
    r0 = _recall(
        ann_srp_topk(df, "vec_id", "embedding", QIDS, 8, DIM, k=K,
                     probe_radius=0),
        truth,
    )
    assert r0 >= 0.7, r0  # measured 0.850


def test_ivf_recall_on_planted_clusters(corpus):
    from mongo_analyser_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    X, df = corpus
    truth = _truth(X, "cos")
    cents = kmeans_centroids([list(r) for r in X], N_CLUSTERS)
    for nprobe in (1, 2):
        r = _recall(
            ivf_topk(df, "vec_id", "embedding", QIDS, N_CLUSTERS, DIM,
                     k=K, nprobe=nprobe, centroids=cents),
            truth,
        )
        assert r >= 0.95, (nprobe, r)  # measured 1.000 at both


def test_pq_adc_rerank_recall_on_planted_clusters(corpus):
    from mongo_analyser_spark.operators.pq import pq_adc_rerank_topk_arrow

    X, df = corpus
    truth = _truth(X, "l2")
    # shortlist must cover the in-cluster ADC tie class (PER members all
    # quantize near the same code) — the production sizing rule this
    # fixture makes measurable: shortlist 25 < PER reads 0.675, PER reads
    # 1.000
    r = _recall(
        pq_adc_rerank_topk_arrow(df, "vec_id", "embedding", QIDS, DIM,
                                 m=8, k_cent=16, shortlist=PER, k=K,
                                 refine_steps=1),
        truth,
    )
    assert r >= 0.95, r  # measured 1.000


def test_ivfpq_recall_on_planted_clusters(corpus):
    from mongo_analyser_spark.operators import similarity
    from mongo_analyser_spark.operators.pq import ivfpq_topk_arrow

    X, df = corpus
    truth = _truth(X, "l2")
    cents = similarity.kmeans_centroids([list(r) for r in X], N_CLUSTERS)
    r = _recall(
        ivfpq_topk_arrow(df, "vec_id", "embedding", QIDS, DIM, cents,
                         m=8, k_cent=16, shortlist=PER, k=K,
                         refine_steps=1),
        truth,
    )
    assert r >= 0.95, r  # measured 1.000


def test_pq_adc_no_rerank_is_tie_dominated_on_clusters(corpus):
    """Documentation-as-test: WITHOUT rerank, quantized distances cannot
    resolve in-cluster gaps — ADC ties collapse to the vid tie-break and
    recall@5 sits near K/PER. If this number ever rises to rerank
    levels, the fixture stopped exercising the tie class (or the
    tie-break changed) — both worth noticing; if the rerank gates above
    regress toward THIS number, the shortlist/rerank path broke."""
    from mongo_analyser_spark.operators.pq import pq_adc_topk_arrow

    X, df = corpus
    truth = _truth(X, "l2")
    r = _recall(
        pq_adc_topk_arrow(df, "vec_id", "embedding", QIDS, DIM, m=8,
                          k_cent=16, k=K, refine_steps=1),
        truth,
    )
    assert r <= 0.5, r  # measured 0.150
