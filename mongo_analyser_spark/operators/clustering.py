"""Distributed corpus clustering over embedding columns — spherical
k-means (Lloyd) as pure DataFrame algebra, plus the SemDeDup-style
cluster-then-dedup-within-cluster pass built on it.

The driver-side ``similarity.kmeans_centroids`` trains a quantizer on a
bounded SAMPLE; this module is the full-corpus path: every vector
participates in assignment and update, nothing is collected to the
driver, and the per-iteration state that moves is exactly one broadcast
row of k centroids — the same shape Spark MLlib's KMeans ships per step.

Reference parity: clustering/dedup tier [EXT] beyond the reference's
per-collection scans (mongo_analyser/core/analyser.py); SemDeDup follows
Abbas et al. 2023 (arXiv:2303.09540): duplicates are pairs in the SAME
coarse cell above a cosine threshold, so the quadratic verify is bounded
per-cell instead of corpus-wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_analyser_spark.operators.similarity import (
    _scores_arrow,
    dot,
    fold_norms_np,
    fold_scores_np,
)


def normalized_vectors(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, v) with v = vec/||vec|| as array<double> — the unit-sphere
    projection every spherical-k-means stage shares. Pure projection,
    no shuffle.

    The norm is passed as array_repeat(norm, d), which evaluates it
    exactly once per row: a norm fold inside the transform lambda re-ran
    per element (interpreted HOFs have no CSE), O(d²) per row — 124 s
    for 2,000 rows of 768 dims, sub-second in this form — and a staged
    projection gets re-inlined into the lambda by CollapseProject."""
    vec = F.col(vec_col)
    nrm = F.sqrt(dot(vec, vec))
    return df.select(
        F.col(id_col).alias("id"),
        F.zip_with(
            vec,
            F.array_repeat(nrm, F.size(vec)),
            lambda x, n: x.cast("double") / n,
        ).alias("v"),
    )


def seed_centroids_row(nv: DataFrame, k: int) -> DataFrame:
    """Deterministic init: the k smallest-id unit vectors, packed into
    ONE row of array<struct<cid,int v:array<double>>> sorted by cid.
    Centroids travel as broadcast DATA (one row), never as plan
    literals — the plan stays constant-size as k and dim grow (the
    similarity.py SRP-plane lesson)."""
    from pyspark.sql import Window

    # global row_number over the k seed rows only — the .limit(k) below
    # it is what plans/lint.py's unbounded-global-window check verifies
    w = Window.orderBy("id")
    init = (
        nv.orderBy("id")
        .limit(k)
        .select(F.row_number().over(w).alias("cid"), "v")
    )
    return init.agg(
        F.sort_array(F.collect_list(F.struct("cid", "v"))).alias("cents")
    )


def assign_cells(nv: DataFrame, cents_row: DataFrame) -> DataFrame:
    """(id, v, cell): nearest centroid by max dot product, ties to the
    lowest cid (array_position finds the FIRST max in cid order). One
    projection over a broadcast one-row cross join — no shuffle, no
    per-(vector,centroid) row explosion."""
    scores = F.transform(F.col("cents"), lambda c: dot(F.col("v"), c["v"]))
    return (
        nv.crossJoin(F.broadcast(cents_row))
        .select(
            "id",
            "v",
            F.array_position(scores, F.array_max(scores)).cast("int").alias("cell"),
        )
    )


def collect_cents(cents_row: DataFrame):
    """Collect the one-row centroid table to (cids int32[], C float64
    (k, dim)) — a BOUNDED driver artifact (k×dim doubles; the PQ
    collect_codebook class), shipped to executors inside the Arrow
    kernel closure."""
    import numpy as np

    cents = cents_row.collect()[0]["cents"]  # sorted by cid
    cids = np.array([c["cid"] for c in cents], dtype=np.int32)
    C = np.array([c["v"] for c in cents], dtype=np.float64)
    return cids, C


def assign_cells_arrow(
    df: DataFrame, id_col: str, vec_col: str, cents_row: DataFrame
) -> DataFrame:
    """(id, v, cell): Arrow-batched twin of ``normalized_vectors`` +
    ``assign_cells`` — one vectorized normalize+assign per batch against
    the driver-collected centroids. BIT-identical to the fold forms
    (pytest-pinned, tests/test_clustering.py): the norm and every dot
    are ``fold_norms_np``/``fold_scores_np`` left folds, the
    per-component division x/||x|| is the same single IEEE op, and
    np.argmax takes the FIRST maximum = array_position's first-equal
    rule with centroids in ascending-cid order. Kills the interpreted
    k×dim lambda cost per vector without touching the oracle
    contract."""
    import numpy as np
    import pandas as pd

    cids, C = collect_cents(cents_row)

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            V = X / fold_norms_np(X)[:, None]
            cell = cids[np.argmax(fold_scores_np(V, C), axis=1)]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "v": list(V),
                    "cell": cell,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        kern, "id long, v array<double>, cell int"
    )


def kmeans_step(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    cents_row: DataFrame | None = None,
    round_to: int | None = 6,
    arrow: bool = False,
) -> DataFrame:
    """One Lloyd iteration, long-form output (cell, pos, n_members,
    mean_val): assign every vector to its nearest centroid, then the
    per-cell per-dimension mean of the unit vectors.

    Shuffle budget: exactly ONE — the (cell, pos) aggregate, whose
    map-side partial combine reduces each task's contribution to
    ≤ k×dim rows regardless of corpus size. Assignment itself is a
    shuffle-free projection (see assign_cells). Dots and norms are
    sequential left-folds, so an engine-independent oracle reproduces
    the assignment bit-for-bit; only the mean's summation order is
    engine-dependent, absorbed by round_to. Empty cells emit no rows in
    either engine."""
    if k <= 0:
        raise ValueError("kmeans_step requires k >= 1")
    nv = normalized_vectors(df, id_col, vec_col)
    if cents_row is None:
        cents_row = seed_centroids_row(nv, k)
    if arrow:
        # vectorized normalize+assign, bit-identical to the fold path
        # (see assign_cells_arrow); reads the RAW vectors so the fold
        # normalize doesn't run at all
        assigned = assign_cells_arrow(df, id_col, vec_col, cents_row)
    else:
        assigned = assign_cells(nv, cents_row)
    mean_val = F.avg("val")
    if round_to is not None:
        mean_val = F.round(mean_val, round_to)
    return (
        assigned.select("cell", F.posexplode("v").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            mean_val.alias("mean_val"),
        )
        .select(
            "cell",
            (F.col("pos") + 1).alias("pos"),  # 1-based like SQL subscripts
            "n_members",
            "mean_val",
        )
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 5,
) -> DataFrame:
    """Full distributed spherical k-means: iterate kmeans_step, folding
    each iteration's (unrounded) means back into the one-row broadcast
    centroid table, re-normalized onto the unit sphere. Returns the
    final assignment (id, cell).

    Per iteration: one k×dim-bounded aggregate shuffle + a
    localCheckpoint of the ONE-ROW centroid table (truncates lineage so
    the plan doesn't nest iterations — the connected-components
    lesson, operators/dedup.py). Empty cells keep their previous
    centroid (standard Lloyd fallback) via the left join + coalesce."""
    if k <= 0 or iters <= 0:
        raise ValueError("kmeans_fit requires k >= 1 and iters >= 1")
    nv = normalized_vectors(df, id_col, vec_col)
    nv = nv.persist()
    cents_row = seed_centroids_row(nv, k).localCheckpoint(eager=True)
    for _ in range(iters):
        step = kmeans_step(nv, "id", "v", k=k, cents_row=cents_row, round_to=None)
        new_cents = (
            step.groupBy("cell")
            .agg(
                F.sort_array(F.collect_list(F.struct("pos", "mean_val"))).alias("pm")
            )
            .select(
                F.col("cell").alias("cid"),
                F.transform(F.col("pm"), lambda s: s["mean_val"]).alias("m"),
            )
        )
        # renormalize onto the unit sphere; empty cells fall back to the
        # previous centroid
        prev = cents_row.select(F.explode("cents").alias("c")).select(
            F.col("c.cid").alias("pcid"), F.col("c.v").alias("pv")
        )
        nrm = F.sqrt(dot(F.col("m"), F.col("m")))
        merged = prev.join(new_cents, F.col("pcid") == F.col("cid"), "left").select(
            F.col("pcid").alias("cid"),
            F.coalesce(
                F.when(
                    nrm > 0.0, F.transform(F.col("m"), lambda x: x / nrm)
                ),
                F.col("pv"),
            ).alias("v"),
        )
        cents_row = (
            merged.agg(F.sort_array(F.collect_list(F.struct("cid", "v"))).alias("cents"))
            .localCheckpoint(eager=True)
        )
    out = assign_cells(nv, cents_row).select("id", "cell")
    nv.unpersist()
    return out


def _cell_vectors(
    df: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """(id, v, nrm, cell): semantic_dedup's assignment. The k×dim score
    and norm folds run in the ``_scores_arrow`` kernel (bit-identical
    left folds, NULL/ragged/NaN rows included), the cell is the 1-based
    first max, and ``v`` is cast to double. A row the folds cannot score
    (NULL vector or element, or not the centroids' width) gets a NULL
    cell, so every row of a non-NULL cell is a full-width vector."""
    return _scores_arrow(df, id_col, vec_col, centroids).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.col("vnorm").alias("nrm"),
        F.array_position("__scores", F.array_max("__scores"))
        .cast("int")
        .alias("cell"),
    )


def _max_cos_to_lower_ids(ids, X, nrm):
    """Per row b, the largest ``dot(a, b) / (nrm_a * nrm_b)`` over the
    rows a with a lower id and a nonzero divisor: NaN if any such cosine
    is NaN, NULL (None in the returned mask) if there is none. The dots
    are ``fold_scores_np`` left folds, scored in blocks of ``dim``
    columns so a block's matrices are the size of ``X``."""
    import numpy as np

    n, dim = X.shape
    step = max(dim, 1)
    best = np.full(n, -np.inf)
    found = np.zeros(n, dtype=bool)
    for lo in range(0, n, step):
        b = slice(lo, lo + step)
        with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
            den = nrm[:, None] * nrm[None, b]
            cos = fold_scores_np(X, X[b]) / den
        pair = (ids[:, None] < ids[None, b]) & (den != 0.0)
        best[b] = np.where(pair, cos, -np.inf).max(axis=0, initial=-np.inf)
        found[b] = pair.any(axis=0)
    return best, found


def _verify_cell(cell):
    """SemDeDup's per-cell verify: (id, cell, max_cos) for one cell's
    (id, v, nrm, cell) rows, max_cos being each row's largest cosine to a
    lower-id vector of the cell. Rows with a NULL id, and every row of
    the NULL cell, are not scored and get NULL."""
    import numpy as np
    import pyarrow as pa

    n = cell.num_rows
    ids = cell.column("id")
    best = np.zeros(n)
    found = np.zeros(n, dtype=bool)
    scored = np.flatnonzero(ids.is_valid().to_numpy(zero_copy_only=False))
    if len(scored) and cell.column("cell").null_count == 0:
        v = cell.column("v").combine_chunks().take(scored)
        X = v.flatten().to_numpy(zero_copy_only=False).reshape(len(scored), -1)
        best[scored], found[scored] = _max_cos_to_lower_ids(
            ids.take(scored).to_numpy(),
            X,
            cell.column("nrm").take(scored).to_numpy(zero_copy_only=False),
        )
    return pa.table(
        {
            "id": ids,
            "cell": cell.column("cell"),
            "max_cos": pa.array(best, mask=~found),
        }
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): coarse-quantize the corpus into
    cells, then within each cell greedily drop any vector whose cosine
    to an EARLIER (lower-id) same-cell vector meets the threshold.
    Output (id, cell, is_kept) — one row per input vector.

    The cell is a hard blocking key, so the quadratic verify is per cell
    and the cell count k bounds the worst-case work (k ~ n/target cell
    size at scale). One Arrow kernel per cell (``_verify_cell``) emits
    each row's largest cosine to a lower-id vector of its cell; the flag
    is ``round(max_cos, 6) >= threshold``. This is exactly the pairwise
    rule "some earlier pair's ROUNDed cosine meets the threshold" of the
    oracle's self-join: the dots are the ``dot`` fold's IEEE twin divided
    by the same raw-vector norms, a zero divisor makes no pair (DuckDB's
    ``x / 0.0`` is NULL), Spark's ``round`` is monotone, so
    round(max) = max(round), and a NaN cosine is the max on both sides
    (NaN orders above every value). A vector is dropped by id, as the
    oracle joins its drop set on id.

    Centroids ride in the assignment kernel's closure, never as plan
    literals: with the cell count growing as n/target cell size, a
    literal unroll made plan analysis the bottleneck (3.8 s at
    sf0.1/32 cells)."""
    from pyspark.sql import Window

    if not centroids:
        raise ValueError("semantic_dedup requires a non-empty centroid list")
    vecs = _cell_vectors(df, id_col, vec_col, centroids)
    id_t = vecs.schema["id"].dataType.simpleString()
    verified = vecs.groupBy("cell").applyInArrow(
        _verify_cell, f"id {id_t}, cell int, max_cos double"
    )
    dropped = F.coalesce(F.round("max_cos", 6) >= threshold, F.lit(False))
    return verified.select(
        "id",
        "cell",
        (~F.max(dropped).over(Window.partitionBy("id"))).alias("is_kept"),
    )
