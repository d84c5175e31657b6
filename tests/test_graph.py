"""PageRank: hand-checked fixpoint, in-core vs distributed parity, and
contract errors."""

from __future__ import annotations

import pytest

from mongo_analyser_spark.operators.graph import pagerank


def _star_edges(spark):
    # hub 1 connected to 2,3,4 (symmetrized): hub must out-rank leaves
    pairs = [(1, 2), (1, 3), (1, 4)]
    rows = [(s, d) for s, d in pairs] + [(d, s) for s, d in pairs]
    return spark.createDataFrame(rows, "src long, dst long")


def test_pagerank_star_ranks_hub_highest(spark):
    e = _star_edges(spark)
    got = {r.node: r.rank for r in pagerank(e, iterations=5).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1] > got[2] == got[3] == got[4]
    # ranks stay a probability-ish distribution (no dangling mass here)
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_in_core_matches_distributed(spark, monkeypatch):
    """The single-task kernel and the iterative DataFrame loop must agree
    exactly after per-iteration rounding — same contract as the CC
    hybrid (dedup.py)."""
    from mongo_analyser_spark.operators import dedup

    e = _star_edges(spark)
    fast = {r.node: r.rank for r in pagerank(e, iterations=5).collect()}
    monkeypatch.setattr(dedup, "IN_CORE_EDGES", 0)
    slow = {r.node: r.rank for r in pagerank(e, iterations=5).collect()}
    assert fast == slow


def test_pagerank_rejects_zero_iterations(spark):
    with pytest.raises(ValueError):
        pagerank(_star_edges(spark), iterations=0)


def test_pagerank_empty_graph_returns_empty(spark):
    e = spark.createDataFrame([], "src long, dst long")
    out = pagerank(e, iterations=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "rank"]


def test_triangle_counts_hand_graph(spark):
    """One triangle {1,2,3} plus a pendant 3-4: exact corner counts,
    degrees, and coefficients (node 3: 2*1/(3*2) = 1/3)."""
    from mongo_analyser_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a long, b long"
    )
    rows = {r["node"]: r for r in triangle_counts(edges).collect()}
    assert {n: r["n_triangles"] for n, r in rows.items()} == {
        1: 1, 2: 1, 3: 1, 4: 0,
    }
    assert {n: r["deg"] for n, r in rows.items()} == {1: 2, 2: 2, 3: 3, 4: 1}
    assert rows[1]["clustering_coeff"] == 1.0
    assert rows[3]["clustering_coeff"] == round(1 / 3, 6)
    assert rows[4]["clustering_coeff"] == 0.0


def test_triangle_counts_clique(spark):
    """K4: every node sits in C(3,2)=3 triangles, coefficient 1.0, and
    duplicate input edges don't double-count."""
    from itertools import combinations

    from mongo_analyser_spark.operators.graph import triangle_counts

    e = list(combinations(range(4), 2))
    edges = spark.createDataFrame(e + e, "a long, b long")  # dup rows
    rows = triangle_counts(edges).collect()
    assert len(rows) == 4
    assert all(r["n_triangles"] == 3 for r in rows)
    assert all(r["clustering_coeff"] == 1.0 for r in rows)
