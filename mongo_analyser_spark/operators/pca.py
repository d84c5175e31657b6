"""Embedding decorrelation tier: exact covariance, PCA projection, and
Johnson-Lindenstrauss random projection (north-star similarity/
curation support — dimensionality reduction is the standard pre-pass
before clustering/ANN at corpus scale).

Reference parity: none (the reference has no vector analytics); this
extends the embeddings tier. Public lineage: PCA via the covariance
method; JL per Achlioptas (2003) database-friendly projections — the
same fixture-seeded deterministic-plane construction as
similarity.srp_planes.

100-TB shape: the covariance sums are ONE corpus pass — per row the
upper-triangle products expand INSIDE the task and collapse to at most
d(d+1)/2 partial rows per task via map-side combine (the kmeans_step
posexplode-groupBy shape), so the shuffle carries O(d^2) rows total,
never O(n). The eigendecomposition runs driver-side on the collected
d x d matrix — a BOUNDED artifact (like the per-field summaries,
engine.py:183) — and the components return to the executors as one
broadcast DATA row. JL needs no data pass at all: planes are seeded
constants, projection is a shuffle-free fold per vector.

Exactness: covariance sums are float-order dependent — ROUND absorbs
(the house avg contract); counts are exact. PCA projections depend on
the eigendecomposition, which has no SQL twin — the registry row is
DECLARED rows-only and pytest pins the math against a direct numpy
reference instead. JL projections fold in explicit order over seeded
plane constants, so they hash-match exactly.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_analyser_spark.operators.fanout import sort_output
from mongo_analyser_spark.operators.similarity import dot


def covariance_upper(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    round_to: int = 6,
) -> DataFrame:
    """(i, j, n, cov) for 1 <= i <= j <= dim: the exact sample
    covariance cov_ij = S_ij/n - (S_i/n)(S_j/n) over all vectors (the
    population form). One corpus pass as an Arrow-batched partial-Gram
    kernel: each batch emits ONE d x d matmul's upper triangle —
    d(d+1)/2 skinny partial rows per batch regardless of batch size —
    and the only shuffle is the O(d^2)-row (i, j) merge. (An
    expression-only flatten/explode twin was 25 s at sf0.1 vs ~1 s
    here: 2080 struct allocations per row don't codegen well; the
    matmul is exactly what BLAS is for.) Float summation order differs
    from the SQL twin — ROUND absorbs it; counts are exact."""
    import numpy as np
    import pandas as pd

    iu, ju = np.triu_indices(dim)

    def partial_gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            g = X.T @ X
            s = X.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype("int32"),
                    "j": (ju + 1).astype("int32"),
                    "n": np.full(len(iu), len(X), dtype="int64"),
                    "sxy": g[iu, ju],
                    "sxi": s[iu],
                    "sxj": s[ju],
                }
            )

    sums = (
        df.select(vec_col)
        .mapInPandas(
            partial_gram,
            "i int, j int, n long, sxy double, sxi double, sxj double",
        )
        .groupBy("i", "j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sxy").alias("sxy"),
            F.sum("sxi").alias("sxi"),
            F.sum("sxj").alias("sxj"),
        )
    )
    return sums.select(
        "i",
        "j",
        "n",
        (
            F.round(
                F.col("sxy") / F.col("n")
                - (F.col("sxi") / F.col("n")) * (F.col("sxj") / F.col("n")),
                round_to,
            )
            + F.lit(0.0)  # IEEE -0.0 + 0.0 = +0.0: normalize signed zero
        ).alias("cov"),
    ).orderBy("i", "j")


def covariance_matrix(
    df: DataFrame, id_col: str, vec_col: str, dim: int, round_to: int = 6
):
    """Driver-side d x d numpy matrix from ``covariance_upper`` — a
    bounded collect (d^2 doubles), the legitimate driver artifact class.
    Returns (matrix, n)."""
    import numpy as np

    rows = covariance_upper(df, id_col, vec_col, dim, round_to).collect()
    m = np.zeros((dim, dim))
    n = 0
    for r in rows:
        m[r["i"] - 1, r["j"] - 1] = r["cov"]
        m[r["j"] - 1, r["i"] - 1] = r["cov"]
        n = r["n"]
    return m, n


def pca_components(
    df: DataFrame, id_col: str, vec_col: str, dim: int, k: int
):
    """Top-k principal components (rows) + explained-variance ratios,
    driver-side numpy eigh on the ROUNDED covariance matrix. Signs are
    fixed deterministically (largest-|component| entry positive) so the
    output is reproducible across BLAS builds up to that convention."""
    import numpy as np

    m, _ = covariance_matrix(df, id_col, vec_col, dim)
    vals, vecs = np.linalg.eigh(m)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    ratios = []
    total = float(np.sum(np.clip(vals, 0.0, None))) or 1.0
    for idx in order:
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append([float(x) for x in v])
        ratios.append(float(max(vals[idx], 0.0) / total))
    return comps, ratios


def pca_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """(id, proj): each vector's coordinates on the top-k principal
    components, unordered. The components travel as ONE broadcast DATA
    row; projection is k sequential fold-dots, shuffle-free. DECLARED
    rows-only in the registry (no SQL eigendecomposition); pytest pins
    the projections against numpy directly. Its consumer (the wide
    registry row) explodes to long form and sorts that itself."""
    comps, _ = pca_components(df, id_col, vec_col, dim, k)
    spark = df.sparkSession
    comp_row = spark.createDataFrame(
        [(comps,)], "comps array<array<double>>"
    )
    # raw column, NOT transform(cast): dot casts per element inside its
    # zip_with lambda (exact float→double widening, bit-identical), while
    # a pre-cast transform gets CollapseProject-inlined INSIDE the
    # per-component lambda and re-builds the O(d) cast array once per
    # component probe (the hof-loop-invariant-producer class)
    vec = F.col(vec_col)
    return df.crossJoin(F.broadcast(comp_row)).select(
        F.col(id_col),
        F.transform(
            F.col("comps"),
            lambda c: F.round(dot(vec, c), round_to),
        ).alias("proj"),
    )


def _qfloor(x: float, scale: float = 1e9) -> float:
    """The shared cross-engine quantizer (pixel/audio convention):
    floor(x*scale + 0.5)/scale — FLOOR is tie-convention-free and
    bit-identical between Python, Spark, and DuckDB doubles."""
    import math

    return math.floor(x * scale + 0.5) / scale


def pca_power_start(dim: int) -> float:
    """Deterministic start-vector entry 1/sqrt(dim), floor-quantized at
    1e-9 so its repr round-trips into a SQL literal exactly (0.125
    exactly for dim=64)."""
    import math

    return _qfloor(1.0 / math.sqrt(dim))


def pca_power_components(
    C: list[list[float]], k: int = 4, iters: int = 16
) -> tuple[list[list[float]], list[float]]:
    """Top-k spectrum directions via DEFLATED POWER ITERATION with
    floor-quantized re-synchronization — every op in a fixed order
    (left-fold dots, one division, FLOOR(x*1e9+0.5)/1e9 after each
    normalize / Rayleigh / deflation) so an unrolled SQL twin computes
    BIT-IDENTICAL doubles (the kmeans_step re-sync trick; prototype
    verified 0 mismatches vs DuckDB). Returns (components, rayleighs).

    Honest semantics: this is the fixed-iteration recurrence, not exact
    eigh — on a flat spectrum (this corpus: top eigen-gap ~1%) T
    iterations land in the TOP SUBSPACE rather than the exact
    eigenvector, and the hash contract covers the recurrence itself;
    tests/test_pca.py cross-checks the weak properties (unit norm,
    Rayleigh quotient inside the spectrum's top range) against numpy.
    Runs driver-side on the collected ROUNDED covariance — a bounded
    d x d artifact — in ~d^2·T·k float ops (milliseconds)."""
    import math

    d = len(C)
    v0 = pca_power_start(d)
    comps: list[list[float]] = []
    lams: list[float] = []
    Cw = [list(row) for row in C]
    for _ in range(k):
        v = [v0] * d
        for _t in range(iters):
            w = []
            for r in range(d):
                s = Cw[r][0] * v[0]
                for c in range(1, d):
                    s = s + Cw[r][c] * v[c]
                w.append(s)
            n2 = w[0] * w[0]
            for c in range(1, d):
                n2 = n2 + w[c] * w[c]
            nrm = math.sqrt(n2)
            v = [_qfloor(x / nrm) for x in w]
        cw = []
        for r in range(d):
            s = Cw[r][0] * v[0]
            for c in range(1, d):
                s = s + Cw[r][c] * v[c]
            cw.append(s)
        lam = v[0] * cw[0]
        for c in range(1, d):
            lam = lam + v[c] * cw[c]
        lam = _qfloor(lam)
        comps.append(v)
        lams.append(lam)
        Cw = [
            [_qfloor(Cw[r][c] - lam * v[r] * v[c]) for c in range(d)]
            for r in range(d)
        ]
    return comps, lams


def pca_power_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 4,
    iters: int = 16,
) -> DataFrame:
    """(id, pos, val): coordinates on the k power-iteration directions,
    long form, floor-quantized at 1e-6. The 100-TB shape is unchanged
    from pca_project: one distributed covariance pass (O(d^2) shuffle
    rows), a driver-side iteration on the bounded matrix, and one
    shuffle-free broadcast projection — but every value now has an
    exact SQL twin (queries_pipeline._pca_power_sql)."""
    comps, _lams = pca_power_components(
        covariance_as_matrix(df, id_col, vec_col, dim), k, iters
    )
    spark = df.sparkSession
    comp_row = spark.createDataFrame(
        [(comps,)], "comps array<array<double>>"
    )
    # raw column — dot casts per element (see pca_project note)
    vec = F.col(vec_col)
    return (
        df.crossJoin(F.broadcast(comp_row))
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.col("comps"),
                    lambda c: F.floor(
                        dot(vec, c) * F.lit(1000000.0) + F.lit(0.5)
                    ).cast("double")
                    / F.lit(1000000.0),
                )
            ).alias("pos", "val"),
        )
        .select(
            F.col(id_col),
            (F.col("pos") + 1).cast("int").alias("pos"),
            "val",
        )
        .transform(sort_output, id_col, "pos")
    )


def covariance_as_matrix(
    df: DataFrame, id_col: str, vec_col: str, dim: int
) -> list[list[float]]:
    """Plain-Python d x d matrix of the ROUNDED covariance (the SQL-twin
    doubles) — pure floats so the power-iteration arithmetic has no
    numpy summation-order ambiguity."""
    rows = covariance_upper(df, id_col, vec_col, dim).collect()
    m = [[0.0] * dim for _ in range(dim)]
    for r in rows:
        m[r["i"] - 1][r["j"] - 1] = r["cov"]
        m[r["j"] - 1][r["i"] - 1] = r["cov"]
    return m


def widen_vectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    tiles: int,
    out_col: str = "wvec",
) -> DataFrame:
    """Deterministic production-width derivation of a narrow embedding
    column: tile ``tiles`` copies with the per-tile integer-grid
    perturbation tile t, coord i gets +0.001*(((t*31+i)%17)-8) — the
    recipe of tools/scale_probe.build_wide, so
    registry rows exercise the same vector geometry the wide probe
    measured (same up to the probe's final float32 STORAGE cast, which
    this in-query form skips — do not hash-oracle one against the
    other). All-JVM: array/transform expressions, stays in codegen."""
    parts = [
        F.transform(
            F.col(vec_col),
            lambda x, i: x.cast("double")
            + ((F.lit(t * 31) + i) % 17 - 8).cast("double") * F.lit(0.001),
        )
        for t in range(tiles)
    ]
    return df.select(
        F.col(id_col), F.flatten(F.array(*parts)).alias(out_col)
    )


def jl_project_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    round_to: int = 6,
    out_col: str = "jvec",
) -> DataFrame:
    """Arrow-batched twin of ``jl_project`` for production widths: the
    fold form is an interpreted HOF whose cost is O(in_dim*out_dim) per
    row Python-side of codegen — fine at d=64, wrong at d>=768 (the
    kmeans_step HOF lesson in SCALE.md). Here the seeded planes
    collapse to ONE numpy matmul per batch; np.round (half-even) differs
    from SQL ROUND (HALF_UP) at the boundary, which is why the wide path
    is DECLARED rows-only — the hash-oracled 64-dim rows stay the
    exactness witnesses."""
    import numpy as np
    import pandas as pd

    P = np.asarray(jl_planes(out_dim, in_dim), dtype=np.float64)

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            J = np.round(X @ P.T, round_to)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "j": list(J)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        kern, "id long, j array<double>"
    ).select(F.col("id").alias(id_col), F.col("j").alias(out_col))


def pca_project_wide(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    jl_dim: int = 64,
    k: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """(id, proj): the PRODUCTION-WIDTH PCA path —
    JL-project to ``jl_dim`` <= 768 first (one Arrow matmul pass, flat
    in d), then exact covariance Gram + driver eigh in the REDUCED
    space. Replaces the O(d^2*k*T) pure-Python power iteration and the
    O(d^2)-row collect with an O(jl_dim^2) bounded artifact: at d=4096
    the collect drops from 8.4M rows to jl_dim^2 and the driver math
    runs in C (np.linalg.eigh on jl_dim x jl_dim, milliseconds).

    Fidelity contract (the ANN-recall discipline applied to subspace
    alignment): the output coordinates live in the REDUCED space — JL
    preserves dot products/distances w.h.p., so downstream consumers
    (clustering, dedup, ANN) work there directly; the path does NOT
    claim to recover full-width eigenvectors (a lifted-back subspace is
    confined to JL's row space and captures only ~jl_dim/d of original
    variance by construction — measured, not hidden). tests/test_pca.py
    gates the meaningful invariant on a PLANTED low-rank spectrum run
    through these exact operators: PCA-in-JL-space must recover the JL
    image of the planted principal subspace (principal-angle cosines
    >= 0.95) and its explained-variance share (>= 0.9). DECLARED
    rows-only — eigh has no SQL twin; the quantization-synced 64-dim
    power-iteration row remains the hash-oracled exactness witness."""
    jdf = jl_project_arrow(df, id_col, vec_col, in_dim, jl_dim)
    # The JL frame feeds TWO executions per run — the covariance collect
    # inside pca_components and the projection pass.
    # One lazy localCheckpoint of the skinny (id, jvec[jl_dim]) rows:
    # the covariance pass materializes it, everything downstream reads
    # the materialized partitions instead of re-running widen+JL.
    # Within-query artifact, same discipline as the dedup fingerprints.
    jdf = jdf.localCheckpoint(eager=False)
    return pca_project(jdf, id_col, "jvec", jl_dim, k, round_to)


def jl_planes(out_dim: int, in_dim: int) -> list[list[float]]:
    """Deterministic Achlioptas-style +/-1 projection rows scaled by
    1/sqrt(out_dim), seeded from md5 like srp_planes — engine- and
    session-independent constants, reproducible in SQL."""
    planes = []
    for r in range(out_dim):
        row = []
        for c in range(in_dim):
            h = hashlib.md5(f"jl:{r}:{c}".encode()).digest()
            (bit,) = struct.unpack(">B", h[:1])
            row.append(
                (1.0 if bit & 1 else -1.0) / (out_dim ** 0.5)
            )
        planes.append(row)
    return planes


def jl_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int = 16,
    round_to: int = 6,
) -> DataFrame:
    """(id, proj): Johnson-Lindenstrauss projection to ``out_dim`` dims
    — the zero-training dimensionality cut (distance-preserving w.h.p.;
    Achlioptas 2003). Planes ship as one broadcast DATA row built from
    seeded constants; the per-vector fold order is explicit, so the
    projection HASH-MATCHES its SQL twin."""
    spark = df.sparkSession
    plane_row = spark.createDataFrame(
        [(jl_planes(out_dim, in_dim),)], "planes array<array<double>>"
    )
    # raw column — dot casts per element (see pca_project note)
    vec = F.col(vec_col)
    return (
        df.crossJoin(F.broadcast(plane_row))
        .select(
            F.col(id_col),
            F.transform(
                F.col("planes"),
                lambda p: F.round(dot(vec, p), round_to),
            ).alias("proj"),
        )
        # no output sort — the projection is shuffle-free as the
        # docstring claims (the old orderBy added a range exchange whose
        # sampler re-ran the fold); callers that need an order sort their
        # own (skinnier) final form
    )
