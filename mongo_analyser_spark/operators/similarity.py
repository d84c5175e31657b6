"""Similarity search over embedding columns [EXT — BASELINE.json north
star]: brute-force cosine top-k as the exact baseline, sign-random-
projection (SRP/LSH) bucketing as the scale path.

Determinism across engines: dot products and norms are LEFT-ASSOCIATIVE
sequential folds over the array order (F.aggregate), which a SQL oracle
reproduces with an explicit `e[1]*q[1] + e[2]*q[2] + ...` chain — same
operation sequence, bit-identical doubles. Projection hyperplanes are
md5-derived constants computed driver-side and embedded as literals in
both engines.

Scale notes:
* brute-force is (#queries × N) with the query side broadcast — exact,
  and the right baseline to verify the ANN path against;
* SRP bucket join is an equi-join on the bucket signature: candidate set
  shrinks ~2^planes; ``probe_radius=1`` multi-probes all Hamming-1
  neighbor buckets (query-side-only expansion) so recall holds as the
  plane count grows.
"""

from __future__ import annotations

import functools
import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_analyser_spark.operators.fanout import sort_output
from mongo_analyser_spark.operators.relational import top_k_per_group

#: Largest quantizer (cells × dim, or planes × dim) that travels as plan
#: literals; a larger one is scored in an Arrow kernel against the
#: driver-side matrix, because every Catalyst rule walks each literal
#: node and the interpreted per-row fold grows with it.
LITERAL_MAX_VALUES = 1024


def as_double_vec(col: Column | str) -> Column:
    """Cast array<float> → array<double> ONCE, before any pair join.
    Catalyst's SimplifyCasts then erases the per-element casts inside the
    dot/norm fold lambdas — measured ~2× on the cold path at sf0.1
    (3.4 s vs 6.3 s for the label-blocked near-dup), with values
    unchanged (float→double widening is exact wherever it happens)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left fold of element products (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def q6(x: Column) -> Column:
    """Shared cross-engine cosine quantizer: FLOOR(x*1e6 + 0.5)/1e6 —
    half-up toward +infinity in BOTH engines and in numpy, unlike
    engine ROUND calls whose negative-half tie rules differ (Spark
    HALF_UP away from zero vs np.floor toward +inf). One tie semantics
    across the fold twin, the Arrow BLAS kernel, and every DuckDB
    oracle."""
    return F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def cosine(a: Column, b: Column) -> Column:
    return q6(dot(a, b) / (norm(a) * norm(b)))


def rank_topk(scored: DataFrame, k: int, *order: Column) -> DataFrame:
    """The per-query top-k tail of every vector search: rows of
    ``scored`` ranked within each ``qid`` by the TOTAL ``order``
    (score, then vid), cut at ``k``, with an int ``rnk`` and the
    (qid, rnk) ``sort_output`` tail. Recall reports join the result
    as it is: Catalyst drops the sort under their join."""
    return (
        top_k_per_group(scored, ["qid"], list(order), k)
        .withColumn("rnk", F.col("rnk").cast("int"))
        .transform(sort_output, "qid", "rnk")
    )


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4× (float32)
    / 8× (float64) storage cut for an embedding corpus at 100 TB, with
    the per-vector scale kept for dequantization:
    scale = max(|v|)/127, q[i] = floor(v[i]/scale + 0.5) ∈ [-127, 127].

    Pure projection — zero shuffle, stays in scan codegen. The rounding
    is an EXPLICIT floor(x + 0.5) (round-half-up) instead of an engine
    round() call, because banker's-rounding defaults differ between
    engines and the oracle comparison is exact. All-zero vectors get
    scale 0 and all-zero codes (guarded division).

    Output: (id, scale double, q array<int>). Dequantization is
    ``transform(q, c -> c * scale)``; reconstruction error is bounded by
    scale/2 per element (pytest-pinned).

    Plan note: ``scale`` is materialized in its OWN
    projection before the quantizing transform references it — inlining
    the array_max expression inside the lambda re-evaluates it per
    element (no CSE inside HOF lambdas: the kmeans_step O(d^2)-per-row
    lesson in SCALE.md), which read 2.6× slower at sf0.1 and
    would scale with d^2. A column REFERENCE in the lambda is a slot
    read; CollapseProject keeps the two projections apart because the
    alias is referenced more than once and is non-cheap."""
    v = as_double_vec(vec_col)
    staged = df.select(
        F.col(id_col),
        v.alias("_v"),
        (F.array_max(F.transform(v, F.abs)) / F.lit(127.0)).alias("scale"),
    )
    q = F.when(
        F.col("scale") == 0,
        F.transform(F.col("_v"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("_v"),
            lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"),
        )
    )
    return staged.select(
        F.col(id_col), F.col("scale"), q.cast("array<int>").alias("q")
    )


def brute_force_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (tiny) query side against the full
    corpus, rank per query with a total tie-break (cos DESC, id ASC).
    Norms are computed once per vector BEFORE the join (at N queries the
    naive form recomputes each corpus norm N times)."""
    emb = emb.withColumn(vec_col, as_double_vec(vec_col))
    queries = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnorm"),
    )
    corpus = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vvec"),
        norm(F.col(vec_col)).alias("vnorm"),
    )
    pairs = corpus.join(F.broadcast(queries), F.col("vid") != F.col("qid"))
    scored = pairs.select(
        "qid",
        "vid",
        # q6 FLOOR quantization: F.round's negative-half rule diverges
        # from the Arrow twin's np.floor on exact half-grid points
        q6(
            dot(F.col("qvec"), F.col("vvec")) / (F.col("qnorm") * F.col("vnorm"))
        ).alias("cos_sim"),
    )
    return rank_topk(scored, k, F.desc("cos_sim"), F.asc("vid"))


def srp_planes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5]^dim derived
    from md5 — computed driver-side, embedded as literals in any engine."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}_{d}".encode()).hexdigest()
            row.append(int(h[:4], 16) / 65535.0 - 0.5)
        planes.append(row)
    return planes


def _srp_bits(vec: Column, plane_arr: Column) -> Column:
    """Sign bitstring of <vec, plane> for every plane in ``plane_arr``
    (array<array<double>>), each a ``dot`` fold, so the SQL oracle's
    unrolled chain produces bit-identical signs. The fold form matters:
    the unrolled num_planes×dim expression tree (384 nodes at 6×64)
    blew past whole-stage-codegen limits and cost ~6 s of compile time
    per cold run vs ~0.9 s for this form (measured at sf0.1, identical
    results)."""
    bits = F.transform(
        plane_arr,
        lambda row: F.when(dot(vec, row) >= 0, F.lit("1")).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


def srp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """SRP bucket signature with the planes embedded as literals — right
    for small fixed plane sets (an 8-plane ANN index). Data-scaled plane
    counts should go through ``with_srp_sig`` instead (plan-size
    rationale below)."""
    plane_arr = F.array(*[F.array(*[F.lit(v) for v in row]) for row in planes])
    return _srp_bits(vec, plane_arr)


def with_srp_sig(
    df: DataFrame, vec_col: str, planes: list[list[float]], out: str = "sig"
) -> DataFrame:
    """Attach the SRP signature as column ``out``. Plane sets up to
    ``LITERAL_MAX_VALUES`` inline as literals and stay inside the scan's
    codegen span; data-scaled sets (r,b grow with the corpus) are
    scored in the Arrow kernel ``_srp_sig_arrow``, whose left-fold sums
    give every sign (and the banded pairs downstream) bit-identically."""
    if not planes or not planes[0]:
        raise ValueError("with_srp_sig requires a non-empty plane matrix")
    if len(planes) * len(planes[0]) <= LITERAL_MAX_VALUES:
        return df.withColumn(out, srp_bucket(F.col(vec_col), planes))
    return _srp_sig_arrow(df, vec_col, planes, out)


def _srp_sig_arrow(
    df: DataFrame, vec_col: str, planes: list[list[float]], out: str
) -> DataFrame:
    """All input columns + ``out``: '0'/'1' sign string of <vec, plane>
    per plane — the Arrow twin of _srp_bits. Sign rule matches the
    expression form exactly: fold >= 0 → '1' (Spark's comparison counts
    NaN as greatest, so a NaN fold is also '1'), and '0' for negatives
    and for folds poisoned by a NULL/ragged vector
    (when(...).otherwise('0'))."""
    import numpy as np
    import pyarrow as pa

    P = np.asarray(planes, dtype=np.float64)
    m = P.shape[0]
    in_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    vec_idx = df.columns.index(vec_col)
    names = df.columns + [out]

    def kern(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            _, S, ok = _fold_batch(b.column(vec_idx), P)
            buf = np.where(
                ((S >= 0) | np.isnan(S)) & ok[:, None], 49, 48
            ).astype(np.uint8).tobytes()
            sigs = [
                buf[i * m : (i + 1) * m].decode("ascii")
                for i in range(b.num_rows)
            ]
            yield pa.RecordBatch.from_arrays(
                b.columns + [pa.array(sigs, type=pa.string())], names=names
            )

    return df.mapInArrow(kern, f"{in_fields}, {out} string")


def ivf_centroids(num_cells: int, dim: int) -> list[list[float]]:
    """Deterministic unit-norm pseudo-random centroids (md5-derived like
    srp_planes) — the fixed coarse quantizer of an IVF index. A real
    deployment would k-means these on a sample; a FIXED quantizer keeps
    the oracle twin exact and the assignment embarrassingly parallel."""
    import math

    cells = []
    for c in range(num_cells):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"ivf_{c}_{d}".encode()).hexdigest()
            row.append(int(h[:4], 16) / 65535.0 - 0.5)
        n = math.sqrt(sum(x * x for x in row))
        cells.append([x / n for x in row])
    return cells


def kmeans_centroids(
    vectors: list[list[float]], num_cells: int, iters: int = 8
) -> list[list[float]]:
    """Deterministic spherical k-means (Lloyd) on the unit sphere — the
    data-adaptive coarse quantizer a real IVF index trains. Driver-side
    numpy over a bounded sample; the resulting centroids are embedded as
    LITERALS in the SQL oracle twin and ride as one broadcast DATA row
    in the Spark plan (``ivf_topk``'s >1k-value branch), so cross-engine
    determinism only needs this one Python computation to be stable:
    stride init over the id-sorted sample (no RNG), argmax assignment
    (ties → lowest cell index), fixed iteration count."""
    import numpy as np

    v = np.asarray(vectors, dtype=np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    n = len(v)
    cents = v[[round(i * n / num_cells) for i in range(num_cells)]].copy()
    for _ in range(iters):
        assign = (v @ cents.T).argmax(axis=1)
        for c in range(num_cells):
            members = v[assign == c]
            if len(members):
                s = members.sum(axis=0)
                nrm = np.linalg.norm(s)
                if nrm > 0:
                    cents[c] = s / nrm
    return [[float(x) for x in row] for row in cents]


@functools.lru_cache(maxsize=8)
def quantizer_sample(
    sf_dir: str, max_sample: int = 4096
) -> tuple[int, tuple[tuple[float, ...], ...]]:
    """(corpus_rows, bounded deterministic sample of embedding vectors)
    for quantizer training — shared by the adaptive IVF coarse quantizer
    and the PQ codebook trainer so both train on the identical row set.

    Scale contract: the DRIVER never materializes the corpus. n comes
    from the parquet FOOTER (metadata only, zero data pages); the
    quantizer sample is the deterministic id-modular stride set
    {vec_id % stride == 0}, smallest ``max_sample`` ids — a
    pushed-down scan filter, so with an active
    SparkSession the executors evaluate it and a TakeOrdered ships at
    most max_sample (id, vec) rows to the driver. Without a session
    (import-time oracle generation in a bare process) a pyarrow BATCH
    STREAM applies the same filter incrementally — driver memory is
    O(n/stride) ≈ O(max_sample) kept rows, never the full column. Both
    paths select the identical row set, so trained quantizers — and
    therefore their SQL-literal oracle twins — are bit-identical
    regardless of which path trained them. (On contiguous 0..n-1 vec_ids
    this equals the positional every-stride-th sample of the id-sorted
    table.)"""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/embeddings.parquet"
    n = pq.ParquetFile(path).metadata.num_rows
    stride = max(1, n // max_sample)

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        rows = (
            spark.read.parquet(path)
            .select("vec_id", "embedding")
            .filter((F.col("vec_id") % stride) == 0)
            .orderBy("vec_id")
            .limit(max_sample)
            .collect()
        )
        sample = [list(r[1]) for r in rows]
    else:
        kept: list[tuple[int, list[float]]] = []
        pf = pq.ParquetFile(path)
        for batch in pf.iter_batches(columns=["vec_id", "embedding"]):
            ids = batch.column("vec_id").to_pylist()
            vecs = batch.column("embedding").to_pylist()
            kept.extend(
                (i, v) for i, v in zip(ids, vecs) if i % stride == 0
            )
        kept.sort(key=lambda t: t[0])
        sample = [v for _, v in kept[:max_sample]]
    return n, tuple(tuple(float(x) for x in row) for row in sample)


@functools.lru_cache(maxsize=8)
def adaptive_ivf_params(
    sf_dir: str, max_sample: int = 4096
) -> tuple[tuple[tuple[float, ...], ...], int]:
    """(centroids, num_cells) trained on the embeddings table of
    ``sf_dir``: cell count scales with the corpus (√n — the standard IVF
    sizing so per-cell scan work and cell-probe work balance), centroids
    from deterministic stride-sampled spherical k-means (see
    ``quantizer_sample`` for the bounded-driver scale contract). Cached
    per (sf_dir, max_sample)."""
    import math

    n, sample = quantizer_sample(sf_dir, max_sample)
    num_cells = max(4, round(math.sqrt(n)))
    cents = kmeans_centroids([list(r) for r in sample], num_cells)
    return tuple(tuple(row) for row in cents), num_cells


def ivf_cell_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of <vec, ĉ_i> ``dot`` folds against centroids embedded as
    literals (pre-normalized driver-side) — the same order as an
    unrolled SQL chain, bit-identical doubles. For quantizers up to
    ``LITERAL_MAX_VALUES`` only: the literal unroll puts cells × dim
    nodes in the plan, which every Catalyst rule walks."""
    cent_arr = F.array(*[F.array(*[F.lit(v) for v in row]) for row in centroids])
    return F.transform(cent_arr, lambda row: dot(vec, row))


def ivf_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell id (1-based; ties → lowest index, matching
    DuckDB's list_position-of-list_max)."""
    scores = ivf_cell_scores(vec, centroids)
    return F.array_position(scores, F.array_max(scores)).cast("int")


def fold_scores_np(X, C):
    """<X_i, C_j> for every (row, plane/centroid) pair with the
    interpreted left folds' exact IEEE sequence: one vectorized
    multiply-add per dimension, so each element accumulates
    ((0 + x0*c0) + x1*c1) + ... in index order and every double equals
    the ``dot`` fold's."""
    import numpy as np

    acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(C.shape[1]):
        acc = acc + X[:, j : j + 1] * C[:, j][None, :]
    return acc


def fold_norms_np(X):
    """||X_i|| per row with the ``norm`` fold's IEEE sequence (squares
    summed in index order, then one sqrt)."""
    import numpy as np

    acc = np.zeros(X.shape[0], dtype=np.float64)
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * X[:, j]
    return np.sqrt(acc)


def _fold_batch(vc, C):
    """Score one Arrow list column ``vc`` against the rows of ``C``
    exactly as the expression folds do. Returns ``(nrm, S, ok)``:

    * ``nrm`` — Arrow double array of ``norm`` folds; NULL where a NULL
      vector or element poisons the fold, a ragged vector's norm runs
      over its own length, NaN stays a value;
    * ``S`` — (n, len(C)) ``dot`` folds, meaningful only where ``ok``;
    * ``ok`` — rows the expression form scores (no NULL, width = C's;
      ``zip_with`` pads any other length with nulls).

    Clean batches (the normal case) take one vectorized pass; a batch
    holding any NULL or ragged row is scored row-aware."""
    import numpy as np
    import pyarrow as pa

    n, dim = len(vc), C.shape[1]
    flat = vc.flatten()
    if (
        vc.null_count == 0
        and flat.null_count == 0
        and (np.diff(vc.offsets.to_numpy(zero_copy_only=False)) == dim).all()
    ):
        X = flat.to_numpy(zero_copy_only=False).astype(
            np.float64, copy=False
        ).reshape(n, dim)
        return (
            pa.array(fold_norms_np(X), type=pa.float64()),
            fold_scores_np(X, C),
            np.ones(n, dtype=bool),
        )
    rows = [
        None if v is None or None in v else np.asarray(v, dtype=np.float64)
        for v in vc.to_pylist()
    ]
    nrm = [
        None if x is None else float(fold_norms_np(x[None, :])[0])
        for x in rows
    ]
    ok = np.array([x is not None and len(x) == dim for x in rows], dtype=bool)
    S = np.zeros((n, C.shape[0]), dtype=np.float64)
    if ok.any():
        S[ok] = fold_scores_np(np.stack([x for x, o in zip(rows, ok) if o]), C)
    return pa.array(nrm, type=pa.float64()), S, ok


def _scores_arrow(
    emb: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """(id, vec, vnorm, __scores) — the Arrow twin of the
    ``norm``/``ivf_cell_scores`` projection for quantizers above
    ``LITERAL_MAX_VALUES``. Rows the expression form cannot score keep
    its outputs: vnorm is NULL only where a NULL poisons the norm fold,
    and __scores is an all-NULL array for NULL or ragged vectors.

    mapInArrow, NOT mapInPandas: the pandas hop folds NaN into null,
    while the expression form keeps NaN a VALUE; pyarrow keeps the
    distinction, and the input vec array passes through zero-copy."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.float64)
    m = C.shape[0]
    sch = emb.schema
    id_t = sch[id_col].dataType.simpleString()
    vec_t = sch[vec_col].dataType.simpleString()

    def kern(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            vc = b.column(1)
            nrm, S, ok = _fold_batch(vc, C)
            scores = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (b.num_rows + 1) * m, m, dtype=np.int32)),
                pa.array(S.reshape(-1), mask=np.repeat(~ok, m)),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(0), vc, nrm, scores],
                names=[id_col, vec_col, "vnorm", "__scores"],
            )

    return emb.select(id_col, vec_col).mapInArrow(
        kern,
        f"{id_col} {id_t}, {vec_col} {vec_t}, vnorm double, "
        "__scores array<double>",
    )


def ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    num_cells: int,
    dim: int,
    k: int = 3,
    nprobe: int = 1,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """ANN via IVF coarse quantization: every vector is assigned to its
    nearest centroid cell (one pass, no shuffle), candidates = corpus
    rows sharing a probed cell with the query (equi-join on cell id),
    then exact cosine re-rank. The other classic ANN shape next to
    SRP-LSH: cells partition the space geometrically instead of by
    random-hyperplane signs, so recall degrades gracefully via
    ``nprobe`` (probe the n best cells per query — query-side-only
    expansion, corpus untouched, same trade as SRP multi-probe).
    Pass ``centroids`` (e.g. from ``adaptive_ivf_params``) to swap the
    fixed md5 quantizer for a data-trained one behind the same plan.

    Quantizers up to ``LITERAL_MAX_VALUES`` inline as literals (zero
    extra stages, inside the scan's codegen span); larger (√n-cell)
    ones are scored in the ``_scores_arrow`` kernel, since literals
    made driver-side planning dominate the query (4.2 s → 2.4 s at
    sf0.1 on broadcast data) and the interpreted cells×dim fold per row
    then dominated the scan. The vector is NOT pre-cast: each fold
    casts per element, while a materialized cast column gets inlined
    into the per-centroid lambda and rebuilt per probe (2× at √n
    cells). The score array is computed once and serves both cell
    assignment and nprobe ranking."""
    if centroids is None:
        centroids = ivf_centroids(num_cells, dim)
    else:
        centroids = [list(row) for row in centroids]
        num_cells = len(centroids)
    if not centroids or not centroids[0]:
        raise ValueError("ivf_topk requires a non-empty centroid matrix")
    if len(centroids) * dim <= LITERAL_MAX_VALUES:
        assigned = emb.select(
            F.col(id_col),
            F.col(vec_col),
            norm(F.col(vec_col)).alias("vnorm"),
            ivf_cell_scores(F.col(vec_col), centroids).alias("__scores"),
        )
    else:
        assigned = _scores_arrow(emb, id_col, vec_col, centroids)
    assigned = assigned.withColumn(
        "cell",
        F.array_position(F.col("__scores"), F.array_max("__scores")).cast("int"),
    )
    if nprobe <= 1:
        q_cells = F.array(F.col("cell"))
    else:
        # top-nprobe cells by score: sort (−score, idx) structs ascending
        ranked = F.array_sort(
            F.transform(
                F.col("__scores"),
                lambda s, i: F.struct((-s).alias("neg"), (i + 1).cast("int").alias("idx")),
            )
        )
        q_cells = F.transform(F.slice(ranked, 1, nprobe), lambda s: s.getField("idx"))
    queries = assigned.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.col("vnorm").alias("qnorm"),
        F.explode(q_cells).alias("cell"),
    )
    cands = assigned.drop("__scores").join(F.broadcast(queries), "cell").filter(
        F.col(id_col) != F.col("qid")
    )
    scored = cands.select(
        "qid",
        F.col(id_col).alias("vid"),
        F.round(
            dot(F.col("qvec"), F.col(vec_col)) / (F.col("qnorm") * F.col("vnorm")), 6
        ).alias("cos_sim"),
    )
    return rank_topk(scored, k, F.desc("cos_sim"), F.asc("vid"))


def probe_buckets(bucket: Column, num_planes: int, radius: int = 1) -> Column:
    """Multi-probe bucket set: the original signature plus every
    Hamming-distance-1 neighbor (each single bit flipped). Radius 0 =
    exact-bucket only. The neighbor set is generated on the QUERY side
    (tiny, broadcast) — the corpus keeps exactly one bucket per vector,
    so probing costs num_planes+1 probe rows per query, not a bigger
    corpus; the standard multi-probe LSH trade (probe more buckets
    instead of maintaining more tables)."""
    if radius <= 0:
        return F.array(bucket)
    probes = [bucket]
    for i in range(num_planes):
        flipped = F.when(
            F.substring(bucket, i + 1, 1) == "1", F.lit("0")
        ).otherwise(F.lit("1"))
        probes.append(
            F.concat(
                F.substring(bucket, 1, i),
                flipped,
                F.substring(bucket, i + 2, num_planes - i - 1),
            )
        )
    return F.array(*probes)


def ann_srp_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    num_planes: int,
    dim: int,
    k: int = 3,
    probe_radius: int = 0,
) -> DataFrame:
    """ANN via SRP-LSH: candidates = same bucket as the query (equi-join on
    the bit signature), then exact cosine rank within candidates.

    ``probe_radius=1`` additionally probes every Hamming-1 neighbor
    bucket, recovering the recall that a larger plane count costs (with p
    planes an ε-near neighbor flips each sign with prob ~θ/π; at 8+
    planes the chance that NO bit differs collapses, so exact-bucket
    recall decays — one-bit probing covers the dominant failure mode)."""
    planes = srp_planes(num_planes, dim)
    emb = emb.withColumn(vec_col, as_double_vec(vec_col))
    bucketed = emb.select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("vnorm"),
        srp_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    queries = (
        bucketed.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qvec"),
            F.col("vnorm").alias("qnorm"),
            F.explode(
                probe_buckets(F.col("bucket"), num_planes, probe_radius)
            ).alias("bucket"),
        )
    )
    cands = bucketed.join(F.broadcast(queries), "bucket").filter(
        F.col(id_col) != F.col("qid")
    )
    scored = cands.select(
        "qid",
        F.col(id_col).alias("vid"),
        F.round(
            dot(F.col("qvec"), F.col(vec_col)) / (F.col("qnorm") * F.col("vnorm")), 6
        ).alias("cos_sim"),
    )
    return rank_topk(scored, k, F.desc("cos_sim"), F.asc("vid"))


def brute_force_topk_arrow(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
) -> DataFrame:
    """Arrow-vectorized exact cosine top-k — the SAME semantics as
    ``brute_force_topk`` through the Pandas-UDF fast path: each Arrow
    batch of corpus vectors becomes one numpy matrix, all query
    similarities are a single BLAS matmul, and only each batch's local
    top-k rows (q × k per batch, not n × q) leave the Python worker.
    The global rank is then a window over partitions × q × k skinny
    rows. Ranking uses the QUANTIZED cosine — FLOOR(x*1e6+0.5)/1e6,
    the gopher/PCA discipline — with a vid tie-break, so the kernel is
    hash-oracled against DuckDB (BLAS summation order
    shifts the raw cosine by ~1e-16, five orders below the 1e-6
    quantization grid) and returns the same rows as the fold-based
    twin away from exact rounding ties (pytest pins parity on the
    fixtures; measured vs the interpreted fold chain at sf0.1: 2.2× at
    8 queries growing to 4.6× at 256 — the matmul amortizes per-row
    overhead, so the gap widens with query count and corpus width).

    When to use which: the fold-based twin is expression-only (no
    Python workers); this one is the throughput kernel for wide
    corpora and large query sets. Query vectors are collected
    driver-side — bounded by len(query_ids), the same budget as the
    broadcast query side of the fold twin."""
    from typing import Iterator

    import pandas as pd

    emb = emb.withColumn(vec_col, as_double_vec(vec_col))
    qrows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col), F.col(vec_col))
        .collect()
    )
    qids = [r[0] for r in qrows]
    qmat = [list(r[1]) for r in qrows]
    out_schema = f"qid long, vid long, cos_sim double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        Q = np.asarray(qmat, dtype=np.float64)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        qid_arr = np.asarray(qids, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.vstack(pdf[vec_col].to_numpy())
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            sims = Vn @ Qn.T  # (batch, q)
            # FLOOR(x*1e6+0.5)/1e6 instead of np.round: floor of the
            # scaled value is bit-identical across engines, so BLAS
            # summation order (|Δ| ~ 1e-16, grid 1e-6) cannot move the hash
            sims = np.floor(sims * 1e6 + 0.5) / 1e6
            outs = []
            for j in range(len(qid_arr)):
                s = sims[:, j]
                keep = ids != qid_arr[j]
                s_k, ids_k = s[keep], ids[keep]
                if not len(s_k):
                    continue
                top = min(k, len(s_k))
                # local top-k: order by (-cos, vid) like the global rank
                order = np.lexsort((ids_k, -s_k))[:top]
                outs.append(
                    pd.DataFrame(
                        {
                            "qid": qid_arr[j],
                            "vid": ids_k[order],
                            "cos_sim": s_k[order],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = emb.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, schema=out_schema
    )
    return rank_topk(scored, k, F.desc("cos_sim"), F.asc("vid"))
