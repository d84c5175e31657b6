"""Iterative graph analytics over similarity graphs.

The dedup tier (operators/dedup.py) already runs one iterative graph
algorithm — connected components via pointer doubling, with a single-task
union-find finish for in-core graphs — to FIND duplicate clusters.  This
module adds PageRank to RANK within them: on a near-dup graph, high-rank
nodes are the "canonical" documents (most connected to other duplicates),
which is the curation-side answer to "which copy do we keep".

100-TB shape: each iteration is one edges⋈ranks equi-join + one groupBy
on the destination — the classic Pregel-as-dataframes shape.  The rank
table is O(#nodes); edges are persisted and scanned once per iteration;
lineage is truncated with localCheckpoint (same discipline as
connected_components) so the plan doesn't grow with the iteration count,
and — also like connected_components — the result is checkpointed and
the cached inputs unpersisted before returning, so repeated calls don't
accumulate dead cache entries.  Graphs whose DISTINCT edge list fits one
task (``dedup.IN_CORE_EDGES``) skip the multi-round loop for a single
Arrow-batched power-iteration kernel — identical rounded output, none of
the per-iteration job-scheduling cost that dominates small graphs.

Determinism: per-iteration ranks are quantized with the engine-agnostic
``floor(x * 1e9 + 0.5) / 1e9`` (the same trick quantize_int8 uses —
plain IEEE multiply/add/floor/divide, bit-identical in Spark, numpy, and
DuckDB, with none of the three engines' differing ROUND tie conventions)
so the summation ORDER of in-neighbor contributions cannot drift the
fixpoint.

Residual tie risk (documented, not observed): quantization is applied to
the SUM of in-neighbor contributions, and that sum is accumulated in
different orders across the three engines (np.add.at vs Spark partial
aggregation vs DuckDB SUM). If a node's pre-quantization sum lands
within one ulp of an exact quantization boundary, a last-ulp
order-dependent difference can still flip the 9th decimal. With
uniformly-distributed mantissas the per-node-per-iteration odds are
~2^-52/1e-9 ≈ 1e-7; tests and the oracle pass at three scales. If it
ever fires, compare at ``round_to - 1`` digits (coarser than the
quantization) instead of widening the quantization itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_analyser_spark.operators import dedup

#: iterations between lineage-truncating checkpoints of the distributed loop
CHECKPOINT_EVERY = 3


def _pagerank_in_core(
    e: DataFrame, iterations: int, damping: float, scale: float
) -> DataFrame:
    """Single-task power iteration for an edge list that fits one
    partition: same recurrence, same per-iteration quantization, ONE
    job.  Fully vectorized — np.unique factorizes node ids (sorted,
    matching the distributed path's ordering) and np.add.at scatters
    contributions; no per-edge Python objects."""
    id_type = e.schema["src"].dataType.simpleString()

    def run(batches):
        import numpy as np
        import pandas as pd

        chunks = [
            (pdf["src"].to_numpy(), pdf["dst"].to_numpy()) for pdf in batches
        ]
        if not chunks:
            yield pd.DataFrame({"node": [], "rank": []})
            return
        srcs = np.concatenate([c[0] for c in chunks])
        dsts = np.concatenate([c[1] for c in chunks])
        nodes, inv = np.unique(np.concatenate([srcs, dsts]), return_inverse=True)
        si, di = inv[: len(srcs)], inv[len(srcs):]
        n = len(nodes)
        deg = np.bincount(si, minlength=n).astype(np.float64)
        r = np.full(n, 1.0 / n)
        base = (1.0 - damping) / n
        for _ in range(iterations):
            mass = np.zeros(n)
            np.add.at(mass, di, r[si] / deg[si])
            r = np.floor((base + damping * mass) * scale + 0.5) / scale
        yield pd.DataFrame({"node": nodes, "rank": r})

    return e.coalesce(1).mapInPandas(
        run, schema=f"node {id_type}, rank double"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    round_to: int = 9,
) -> DataFrame:
    """PageRank over a directed edge list, fixed iteration count.

    Nodes are the vertices appearing in the edge set; every node should
    have at least one out-edge (true for symmetrized similarity graphs —
    dangling-mass redistribution is deliberately out of scope and
    documented, matching the exactly-unrollable oracle).

    When the measured edge count fits one task (``dedup.IN_CORE_EDGES``),
    the iterations run as a single Arrow-batched kernel — identical
    quantized output, no per-round job cost.  Tests set it to 0 to force
    the distributed loop.

    Returns (node, rank) with rank quantized to ``round_to`` decimals
    (floor(x*10^k + 0.5)/10^k — engine-agnostic half-up).  The result is
    materialized (localCheckpoint) and the internal caches released
    before returning.
    """
    if iterations < 1:
        raise ValueError("pagerank requires iterations >= 1")
    scale = float(10**round_to)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    n_edges = e.count()  # also materializes the upstream pipeline once
    if n_edges == 0:
        # no graph: empty result with the contract schema (the
        # distributed path would otherwise divide by a zero node count)
        e.unpersist()
        return e.sparkSession.createDataFrame(
            [], f"node {e.schema['src'].dataType.simpleString()}, rank double"
        )
    if n_edges <= dedup.IN_CORE_EDGES:
        # e is already materialized in the cache (count above), so
        # coalesce(1) reads cached blocks in one task — it does NOT
        # collapse the upstream pair pipeline's parallelism
        result = _pagerank_in_core(e, iterations, damping, scale).localCheckpoint()
        e.unpersist()
        return result
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_total = nodes.count()  # driver-side scalar: one number, not data
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # (src, dst, deg) is static across iterations — persist it so the
    # loop reads a materialized table instead of re-running the degree
    # aggregate every iteration
    out = e.join(deg, "src").persist()
    ranks = nodes.select("node", F.lit(1.0 / n_total).alias("rank"))
    base = (1.0 - damping) / n_total
    for i in range(iterations):
        contribs = (
            out.join(ranks, out["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        mass = F.coalesce(F.col("mass"), F.lit(0.0))
        ranks = nodes.join(
            contribs, nodes["node"] == contribs["dst"], "left"
        ).select(
            "node",
            (
                F.floor((F.lit(base) + damping * mass) * scale + 0.5) / scale
            ).alias("rank"),
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    # materialize, then release the loop's caches (CC discipline:
    # dedup.py checkpoints its labels and unpersists raw/edges)
    result = ranks.localCheckpoint()
    out.unpersist()
    nodes.unpersist()
    e.unpersist()
    return result


def triangle_counts(edges: DataFrame, round_to: int = 6) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    UNDIRECTED graph given as canonical edges ``(a, b)`` with a < b
    (distinct) — the third graph operator beside connected components
    (cluster membership) and PageRank (canonical-copy rank): the
    coefficient measures how clique-like a duplicate neighborhood is,
    separating true duplicate clusters (cc → 1) from chain-shaped
    false-positive bridges (cc → 0).

    Enumeration is the classic ordered-wedge join: a<b<c triangles via
    ``e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)`` — two hash equi-joins, no
    cartesian. Each triangle contributes once to each corner; degrees
    come from one symmetrized groupBy. All counts are exact integers,
    the coefficient is ROUND(2*t / (d*(d-1))), so the whole output
    hash-matches a DuckDB twin.

    100-TB shape: wedge work is Σ_v deg(v)² — at web scale the standard
    mitigation is orienting edges by (degree, id) instead of raw id
    (cuts the join fan-out of hub nodes to O(m^1.5) total); on near-dup
    graphs — bounded degree by construction (banding caps candidates
    per node) — id-orientation is the same cost and keeps the output
    schema engine-exact.

    Cites reference scope: the reference has no graph surface at all
    (SURVEY §2.3); this extends the [EXT] dedup-graph tier.
    """
    # the canonical edge list is referenced five times below (three wedge
    # sides + degrees + corners); materialize it ONCE — it is the bounded
    # banded output (2 ids/row), not the corpus, and without this the
    # upstream candidate pipeline re-runs per reference (measured 4.2 s
    # -> 3.0 s solo at sf0.1 on the near-dup graph; the remaining cost
    # is the single pairs-pipeline run itself)
    e = (
        edges.select(
            F.col(edges.columns[0]).alias("a"),
            F.col(edges.columns[1]).alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )
    e1 = e.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    e2 = e.select(F.col("a").alias("t_b2"), F.col("b").alias("t_c"))
    e3 = e.select(F.col("a").alias("t_a3"), F.col("b").alias("t_c3"))
    tri = (
        e1.join(e2, F.col("t_b") == F.col("t_b2"))
        .join(
            e3,
            (F.col("t_a3") == F.col("t_a")) & (F.col("t_c3") == F.col("t_c")),
        )
        .select("t_a", "t_b", "t_c")
    )
    corners = tri.select(
        F.explode(F.array("t_a", "t_b", "t_c")).alias("node")
    )
    tcnt = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d, t = F.col("deg"), F.coalesce(F.col("n_tri"), F.lit(0))
    return (
        deg.join(tcnt, "node", "left")
        .select(
            "node",
            d.alias("deg"),
            t.alias("n_triangles"),
            F.when(
                d >= 2,
                F.round(2.0 * t / (d * (d - F.lit(1))), round_to),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
        .orderBy("node")
    )
