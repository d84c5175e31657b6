"""Product quantization (PQ): codebooks, vector encoding, and the
asymmetric-distance (ADC) top-k scan (north-star similarity tier).

Reference parity: none — the reference has no vector search at all;
this extends the repo's ANN family (SRP-LSH, IVF) with the compressed-
domain member every production vector store ships (Jégou, Douze &
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
2011 — public). A d-dim vector splits into m contiguous sub-vectors;
each sub-vector is quantized to its nearest of k sub-centroids, so the
corpus stores m small codes per vector (m bytes at k<=256 — a 32x cut
at d=64 float32) and query distances are summed from an m x k lookup
table instead of touching raw floats.

Exactness contract: sub-centroids are the sub-slices of the k
smallest-id corpus vectors (the seed_centroids_row init), so every
centroid component is an exactly-cast float; L2 distances accumulate
in explicit left-fold order, bit-identical to an unrolled SQL chain —
assignments, codes and ADC distances are therefore engine-EXACT (not
just round-absorbed), and the registry rows hash-match with ties
broken on code/vector id.

100-TB shape: codebooks travel as ONE broadcast DATA row (the
similarity.py SRP-plane lesson — never k x d plan literals); encoding
is a shuffle-free projection against that row; the ADC scan is one
pass over (id, codes) rows — m bytes each — with the query's distance
table folded per row from the same broadcast; top-k is one per-query
window (similarity.rank_topk).
Training on real corpora swaps the seeded init for kmeans_fit per
subspace behind the same row shape (pq_refine below); the registry
pins the seeded form because Lloyd means are float-summation-order
dependent and PQ's plumbing, not its codebook quality, is what the
oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongo_analyser_spark.operators.fanout import sort_output
from mongo_analyser_spark.operators.relational import top_k_per_group
from mongo_analyser_spark.operators.similarity import fold_scores_np, rank_topk


def _sub_l2(a: Column, b: Column) -> Column:
    """Left-fold squared L2 between two (sub-)vectors — sequential
    accumulation, bit-identical to the unrolled SQL chain
    ``(a[1]-b[1])^2 + ... + (a[n]-b[n])^2``."""
    d = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)


def _dsub(vec: Column, sub: Column, sub_dim: int) -> Column:
    """The 1-based slice of ``vec`` for 0-based subspace ``sub``."""
    return F.slice(vec, sub * sub_dim + 1, sub_dim)


def pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
) -> DataFrame:
    """ONE row: ``cents`` = array<struct<sub,cid,v>> of m*k
    sub-centroids, seeded from the sub-slices of the k smallest-id
    vectors (deterministic, engine-reproducible — see module doc),
    sorted by (sub, cid). Broadcast DATA, not plan literals. Explicit
    ``dim`` so sub_dim = dim // m is a plan-time constant."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    w = Window.orderBy("id")
    seeds = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .orderBy("id")
        .limit(k)
        .select(F.row_number().over(w).alias("cid"), "vec")
    )
    per_sub = seeds.select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"), "cid", "vec"
    ).select(
        "sub",
        "cid",
        F.transform(
            _dsub(F.col("vec"), F.col("sub"), sub_dim),
            lambda x: x.cast("double"),
        ).alias("v"),
    )
    return per_sub.agg(
        F.sort_array(F.collect_list(F.struct("sub", "cid", "v"))).alias("cents")
    )


def _by_sub(cents_row: DataFrame, m: int) -> DataFrame:
    """Reshape the codebook row to ``by_sub``: array (indexed by
    sub, 1-based) of the sub's k centroid vectors in cid order. The
    reshape is evaluated ONCE on the one-row broadcast side — per
    corpus row the hot expression only does element_at + k folds
    instead of re-filtering the m*k struct array per subspace."""
    return cents_row.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.transform(
                F.filter(F.col("cents"), lambda c: c["sub"] == s),
                lambda c: c["v"],
            ),
        ).alias("by_sub")
    )


def _assigned_subvectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents_row: DataFrame,
    dim: int,
    m: int,
) -> DataFrame:
    """(id, sub, cid, sv): every vector's sub-slices with their nearest
    sub-centroid — the shared projection behind encode and refine."""
    sub_dim = dim // m
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def assign(sub: Column) -> Column:
        sv = _dsub(vec, sub, sub_dim)
        cl = F.element_at(F.col("by_sub"), sub + 1)
        dists = F.transform(cl, lambda cv: _sub_l2(sv, cv))
        return F.struct(
            sub.cast("int").alias("sub"),
            F.array_position(dists, F.array_min(dists)).cast("int").alias("cid"),
            sv.alias("sv"),
        )

    return (
        df.crossJoin(F.broadcast(_by_sub(cents_row, m)))
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.transform(F.sequence(F.lit(0), F.lit(m - 1)), assign)
            ).alias("a"),
        )
        .select("id", "a.sub", "a.cid", "a.sv")
    )


def pq_refine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents_row: DataFrame,
    dim: int,
    m: int = 8,
    steps: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Lloyd refinement of the codebook, one row out per call chain:
    assign every sub-vector to its nearest sub-centroid, recompute each
    cell as the per-position member mean ROUNDED to ``round_to`` (the
    kmeans_step trick — rounding makes the new centroids
    engine-independent again, so codes stay hash-oracle-able), keep the
    old centroid for empty cells. Shuffle budget per step: ONE
    (sub, cid, pos) aggregate bounded at m*k*sub_dim rows by map-side
    combine, plus the m*k-row rebuild joins."""
    sub_dim = dim // m
    for _ in range(steps):
        assigned = _assigned_subvectors(df, id_col, vec_col, cents_row, dim, m)
        means = (
            assigned.select(
                "sub", "cid", F.posexplode("sv").alias("pos", "val")
            )
            .groupBy("sub", "cid", "pos")
            .agg(F.round(F.avg("val"), round_to).alias("mv"))
            .groupBy("sub", "cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "mv"))),
                    lambda s: s["mv"],
                ).alias("nv")
            )
        )
        old = cents_row.select(
            F.explode("cents").alias("c")
        ).select("c.sub", "c.cid", "c.v")
        cents_row = (
            old.join(means, ["sub", "cid"], "left")
            .select(
                "sub", "cid", F.coalesce(F.col("nv"), F.col("v")).alias("v")
            )
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("sub", "cid", "v"))
                ).alias("cents")
            )
        )
    return cents_row


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents_row: DataFrame,
    dim: int,
    m: int = 8,
) -> DataFrame:
    """(id, codes): per subspace the cid of the nearest sub-centroid
    (squared L2, ties to the lowest cid — array_position finds the
    FIRST min in cid order because ``cents`` is sorted). Shuffle-free
    projection against the one-row broadcast codebook."""
    sub_dim = dim // m
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def code_for(sub: Column) -> Column:
        cl = F.element_at(F.col("by_sub"), sub + 1)
        dists = F.transform(
            cl, lambda cv: _sub_l2(_dsub(vec, sub, sub_dim), cv)
        )
        return F.array_position(dists, F.array_min(dists)).cast("int")

    return (
        df.crossJoin(F.broadcast(_by_sub(cents_row, m)))
        .select(
            F.col(id_col).alias("id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)), code_for
            ).alias("codes"),
        )
    )


# ---------------------------------------------------------------------------
# Arrow kernel path: same math, vectorized per batch.
#
# The interpreted-HOF encode/ADC folds cost ~3 ms/vector (m*k*sub_dim
# lambda evals each) — 8 s for 2,000 vectors; at 1e9 vectors the per-row
# constant, not the shuffle shape, is the scale-killer. The kernels below
# keep the exactness contract BIT-FOR-BIT: every accumulation is an
# elementwise `acc = acc + d*d` loop over components IN INDEX ORDER — the
# same IEEE double ops, in the same order, as _sub_l2's left fold and the
# unrolled SQL chain — so assignments, codes and raw ADC sums are
# engine-EXACT and the registry rows keep hash-matching their DuckDB twins
# (np.argmin returns the FIRST min = lowest cid, the array_position tie
# rule; ROUND stays in Spark for HALF_UP parity). tests/test_pq.py pins the
# Arrow forms equal to the fold forms on the fixture.
# ---------------------------------------------------------------------------


def collect_codebook(cents_row: DataFrame, dim: int, m: int):
    """Collect the one-row codebook DataFrame to a numpy (m, k, sub_dim)
    array — a BOUNDED driver artifact (m*k*sub_dim doubles; the
    pca_components class), which then ships to executors inside the
    kernel closure instead of as a per-row broadcast join."""
    import numpy as np

    cents = cents_row.collect()[0]["cents"]
    k = len(cents) // m
    sub_dim = dim // m
    cb = np.zeros((m, k, sub_dim), dtype=np.float64)
    for c in cents:
        cb[c["sub"], c["cid"] - 1, :] = c["v"]
    return cb


def _sub_l2_np(X, cb):
    """(n, m, k) squared L2 from every row-major vector of ``X`` (n, dim)
    to every sub-centroid of ``cb`` (m, k, sub_dim), accumulated
    (x_j - c_j)^2 per component IN ORDER — bit-identical to _sub_l2's
    left fold. Serves both the corpus encode and the query LUT."""
    import numpy as np

    m, k, sub_dim = cb.shape
    out = np.empty((X.shape[0], m, k), dtype=np.float64)
    for s in range(m):
        acc = np.zeros((X.shape[0], k), dtype=np.float64)
        for j in range(sub_dim):
            d = X[:, s * sub_dim + j][:, None] - cb[s, :, j][None, :]
            acc = acc + d * d
        out[:, s] = acc
    return out


def _assign_codes_np(X, cb):
    """(n, m) int32 1-based nearest-sub-centroid codes; argmin takes the
    first (lowest-cid) minimum."""
    import numpy as np

    return (np.argmin(_sub_l2_np(X, cb), axis=2) + 1).astype(np.int32)


def _encode_arrow(
    src: DataFrame, id_col: str, vec_col: str, cb, cents=None
) -> DataFrame:
    """(id, codes[, cell]) for every row of ``src`` against codebook
    ``cb``; with ``cents`` the cell is the first-max ``fold_scores_np``
    centroid (bit-identical to ``similarity.ivf_cell``)."""
    import numpy as np
    import pandas as pd

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out = {
                "id": pdf[id_col].to_numpy(),
                "codes": list(_assign_codes_np(X, cb)),
            }
            if cents is not None:
                out["cell"] = (
                    fold_scores_np(X, cents).argmax(axis=1) + 1
                ).astype(np.int32)
            yield pd.DataFrame(out)

    cell = "" if cents is None else ", cell int"
    return src.mapInPandas(kern, "id long, codes array<int>" + cell)


def pq_encode_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cb,
    dim: int,
    m: int = 8,
) -> DataFrame:
    """(id, codes): Arrow-batched twin of ``pq_encode`` — one vectorized
    assignment per batch against the driver-collected codebook ``cb``
    (numpy (m, k, sub_dim)). Codes are bit-identical to the fold form
    (see the Arrow-kernel block comment)."""
    return _encode_arrow(df.select(id_col, vec_col), id_col, vec_col, cb)


def train_codebook(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    refine_steps: int = 1,
    round_to: int = 6,
):
    """Seeded init + ``refine_steps`` Lloyd rounds, returning the
    codebook as a numpy (m, k, sub_dim) array. Assignment runs in the
    Arrow kernel; the member means stay a Spark groupBy with F.round
    (HALF_UP, bounded at m*k*sub_dim rows by map-side combine), so the
    refined centroids are the SAME rounded doubles the all-expression
    pq_refine produces and the SQL twin re-derives. Empty cells keep
    their seed row (never overwritten in the collected array)."""
    import numpy as np
    import pandas as pd

    sub_dim = dim // m
    cb = collect_codebook(
        pq_codebooks(df, id_col, vec_col, dim, m, k), dim, m
    )
    for _ in range(refine_steps):
        frozen = cb.copy()

        def partial_sums(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                codes = _assign_codes_np(X, frozen) - 1  # 0-based
                out = {"sub": [], "cid": [], "pos": [], "sv": [], "n": []}
                for s in range(frozen.shape[0]):
                    xs = X[:, s * sub_dim:(s + 1) * sub_dim]
                    for c in range(frozen.shape[1]):
                        mask = codes[:, s] == c
                        nm = int(mask.sum())
                        if not nm:
                            continue
                        sums = xs[mask].sum(axis=0)
                        for j in range(sub_dim):
                            out["sub"].append(s)
                            out["cid"].append(c + 1)
                            out["pos"].append(j)
                            out["sv"].append(float(sums[j]))
                            out["n"].append(nm)
                yield pd.DataFrame(out)

        means = (
            df.select(id_col, vec_col)
            .mapInPandas(
                partial_sums,
                "sub int, cid int, pos int, sv double, n long",
            )
            .groupBy("sub", "cid", "pos")
            .agg(
                F.round(F.sum("sv") / F.sum("n"), round_to).alias("mv")
            )
            .collect()
        )
        cb = cb.copy()
        for r in means:
            cb[r["sub"], r["cid"] - 1, r["pos"]] = r["mv"]
    return cb


def _query_lut(df: DataFrame, id_col: str, vec_col: str, query_ids, cb):
    """(qids, Q, lut): the query rows sorted by id, their vectors (n_q,
    dim) and the (n_q, m, k) ADC distance table in exact fold order —
    a bounded driver artifact (|queries| * m * k doubles)."""
    import numpy as np

    qrows = sorted(
        df.where(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .collect(),
        key=lambda r: r["qid"],
    )
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    Q = np.array([r["qv"] for r in qrows], dtype=np.float64).reshape(
        len(qrows), cb.shape[0] * cb.shape[2]
    )
    return qids, Q, _sub_l2_np(Q, cb)


def _adc_scan(
    encoded: DataFrame, qids, lut, round_to: int, qcells=None
) -> DataFrame:
    """(qid, vid, adc_dist) for every query against every encoded row —
    the LUT entries of each code row summed in subspace order
    (bit-identical raw sums), ROUNDed in Spark for HALF_UP parity. With
    ``qcells`` only rows in the query's cell are scored (the IVF gate,
    nprobe=1)."""
    import numpy as np
    import pandas as pd

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()) - 1  # (n, m) 0-based
            vids = pdf["id"].to_numpy()
            cells = None if qcells is None else pdf["cell"].to_numpy()
            for qi, qid in enumerate(qids):
                mc, mv = codes, vids
                if cells is not None:
                    keep = cells == qcells[qi]
                    if not keep.any():
                        continue
                    mc, mv = codes[keep], vids[keep]
                acc = lut[qi, 0, mc[:, 0]]
                for s in range(1, lut.shape[1]):
                    acc = acc + lut[qi, s, mc[:, s]]
                yield pd.DataFrame(
                    {"qid": np.full(len(mv), qid), "vid": mv, "adc_raw": acc}
                )

    return (
        encoded.mapInPandas(kern, "qid long, vid long, adc_raw double")
        .where(F.col("vid") != F.col("qid"))
        .select("qid", "vid", F.round("adc_raw", round_to).alias("adc_dist"))
    )


def _exact_sides(df: DataFrame, id_col: str, vec_col: str, query_ids):
    """(vecs (vid, v), queries (qid, qv)) with double vectors — the two
    sides every exact-L2 ranking joins."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vecs = df.select(F.col(id_col).alias("vid"), vec.alias("v"))
    queries = df.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), vec.alias("qv")
    )
    return vecs, queries


def _l2_topk(pairs: DataFrame, k: int, round_to: int) -> DataFrame:
    """(qid, vid, l2, rnk): the exact squared-L2 top-k over (qid, vid,
    v, qv) pair rows."""
    return rank_topk(
        pairs.select(
            "qid",
            "vid",
            F.round(_sub_l2(F.col("v"), F.col("qv")), round_to).alias("l2"),
        ),
        k,
        F.col("l2"),
        F.col("vid"),
    )


def _rerank(
    short: DataFrame,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int,
    round_to: int,
) -> DataFrame:
    """Exact-L2 rerank of a (qid, vid) shortlist: only |queries| x
    shortlist raw vectors are fetched, by a keyed join on vid."""
    vecs, queries = _exact_sides(df, id_col, vec_col, query_ids)
    return _l2_topk(
        short.join(vecs, "vid").join(F.broadcast(queries), "qid"), k, round_to
    )


def pq_adc_topk_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    dim: int,
    m: int = 8,
    k_cent: int = 16,
    k: int = 5,
    round_to: int = 6,
    refine_steps: int = 0,
    cb=None,
) -> DataFrame:
    """Arrow-batched twin of ``pq_adc_topk``: the query-side m x k
    distance LUT is computed ONCE driver-side in exact fold order, the
    corpus scan gathers+sums LUT entries per code row in subspace order
    — bit-identical raw sums; ROUND stays in Spark for HALF_UP
    parity."""
    if cb is None:
        cb = train_codebook(
            df, id_col, vec_col, dim, m, k_cent, refine_steps, round_to
        )
    qids, _, lut = _query_lut(df, id_col, vec_col, query_ids, cb)
    scored = _adc_scan(
        pq_encode_arrow(df, id_col, vec_col, cb, dim, m), qids, lut, round_to
    )
    return rank_topk(scored, k, F.col("adc_dist"), F.col("vid"))


def pq_adc_rerank_topk_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    dim: int,
    m: int = 8,
    k_cent: int = 16,
    shortlist: int = 50,
    k: int = 5,
    refine_steps: int = 1,
    round_to: int = 6,
    cb=None,
) -> DataFrame:
    """Arrow-batched twin of ``pq_adc_rerank_topk``: ADC shortlist from
    the kernel scan, exact-L2 rerank over only |queries| x shortlist
    fetched vectors (the fold form is fine at that bounded size)."""
    short = pq_adc_topk_arrow(
        df, id_col, vec_col, query_ids, dim, m, k_cent,
        k=shortlist, round_to=round_to, refine_steps=refine_steps, cb=cb,
    ).select("qid", "vid")
    return _rerank(short, df, id_col, vec_col, query_ids, k, round_to)


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    dim: int,
    m: int = 8,
    k_cent: int = 16,
    k: int = 5,
    round_to: int = 6,
    refine_steps: int = 0,
) -> DataFrame:
    """(qid, vid, adc_dist, rnk): for each query vector, the k corpus
    vectors with smallest ADC distance — the query's EXACT sub-slices
    scored against each vector's quantized sub-centroids:
    adc(q, x) = sum_s ||q_s - c[s, codes(x)[s]]||^2.

    The corpus side touches only (id, codes) — m small ints per vector;
    distances fold from the broadcast codebook + broadcast query rows.
    Distances are engine-exact with ``refine_steps=0`` and
    engine-equal-after-rounding with refined (rounded-mean) centroids
    (see module doc); ROUND + (dist, vid) tie-break keep the rank cut
    stable either way."""
    sub_dim = dim // m
    cents_row = pq_codebooks(df, id_col, vec_col, dim, m, k_cent)
    if refine_steps:
        cents_row = pq_refine(
            df, id_col, vec_col, cents_row, dim, m, refine_steps, round_to
        )
    encoded = pq_encode(df, id_col, vec_col, cents_row, dim, m)
    _, queries = _exact_sides(df, id_col, vec_col, query_ids)
    scored = (
        encoded.crossJoin(F.broadcast(queries))
        .crossJoin(F.broadcast(_by_sub(cents_row, m)))
        .where(F.col("id") != F.col("qid"))
        .select(
            "qid",
            F.col("id").alias("vid"),
            F.round(
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    F.lit(0.0),
                    lambda acc, s: acc
                    + _sub_l2(
                        _dsub(F.col("qv"), s, sub_dim),
                        F.element_at(
                            F.element_at(F.col("by_sub"), s + 1),
                            F.element_at(F.col("codes"), s + 1),
                        ),
                    ),
                ),
                round_to,
            ).alias("adc_dist"),
        )
    )
    return rank_topk(scored, k, F.col("adc_dist"), F.col("vid"))


def pq_adc_rerank_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    dim: int,
    m: int = 8,
    k_cent: int = 16,
    shortlist: int = 50,
    k: int = 5,
    refine_steps: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """(qid, vid, l2, rnk): the production IVFADC shape — ADC ranks a
    SHORTLIST of candidates from codes alone (m bytes/vector touched),
    then only shortlist raw vectors are fetched for an exact-L2
    re-rank. Compressed-domain scan cost + exact final ordering; the
    recall gate measures how often the true top-k survives the
    shortlist cut (data-dependent: near-uniform corpora need a larger
    shortlist because ADC's quantization error rivals the
    inter-neighbor gaps)."""
    short = pq_adc_topk(
        df, id_col, vec_col, query_ids, dim, m, k_cent,
        k=shortlist, round_to=round_to, refine_steps=refine_steps,
    ).select("qid", "vid")
    return _rerank(short, df, id_col, vec_col, query_ids, k, round_to)


def pq_exact_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Ground truth for the recall gate: exact squared-L2 top-k over the
    raw vectors (one corpus scan, queries broadcast — the brute-force
    baseline shape)."""
    vecs, queries = _exact_sides(df, id_col, vec_col, query_ids)
    return _l2_topk(
        vecs.crossJoin(F.broadcast(queries)).where(F.col("vid") != F.col("qid")),
        k,
        round_to,
    )


def _overlap_report(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """(qid, hits, recall_at_k) from two (qid, vid, ...) top-k frames:
    ONE left join + ONE aggregation, so the exact subtree is consumed
    once. Both frames carry rank-filtered top-k rows, so (qid, vid) is
    unique per side, the join never fans out, and count(marker) equals
    the semi-join hit count; a qid with zero hits counts 0 naturally."""
    marked = approx.select("qid", "vid", F.lit(1).alias("__hit"))
    return (
        exact.select("qid", "vid")
        .join(marked, ["qid", "vid"], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.count("__hit").alias("hits"),
        )
        .select(
            "qid",
            F.col("hits").cast("long").alias("hits"),
            F.round(
                F.col("hits").cast("double") / F.col("k"), 6
            ).alias("recall_at_k"),
        )
        .transform(sort_output, "qid")
    )


def pq_recall_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    dim: int,
    m: int = 8,
    k_cent: int = 16,
    k: int = 5,
    refine_steps: int = 0,
    shortlist: int | None = None,
    cb=None,
) -> DataFrame:
    """(qid, hits, recall_at_k): overlap between the ADC top-k (or,
    with ``shortlist``, the ADC-shortlist + exact-rerank top-k) and the
    exact-L2 top-k per query — the ann_recall_report contract for the
    compressed-domain scan. Counts are exact ints; recall hash-matches.
    Pass a driver-collected ``cb`` to take the Arrow kernel path (and
    share the trained codebook with the tier's other rows)."""
    if cb is not None and shortlist:
        adc = pq_adc_rerank_topk_arrow(
            df, id_col, vec_col, query_ids, dim, m, k_cent,
            shortlist=shortlist, k=k, refine_steps=refine_steps, cb=cb,
        )
    elif cb is not None:
        adc = pq_adc_topk_arrow(
            df, id_col, vec_col, query_ids, dim, m, k_cent, k,
            refine_steps=refine_steps, cb=cb,
        )
    elif shortlist:
        adc = pq_adc_rerank_topk(
            df, id_col, vec_col, query_ids, dim, m, k_cent,
            shortlist=shortlist, k=k, refine_steps=refine_steps,
        )
    else:
        adc = pq_adc_topk(
            df, id_col, vec_col, query_ids, dim, m, k_cent, k,
            refine_steps=refine_steps,
        )
    # the report only counts overlaps: Catalyst drops both top-k output
    # sorts under its join and aggregate
    exact = pq_exact_topk(df, id_col, vec_col, query_ids, k)
    return _overlap_report(exact, adc)


def ivfpq_topk_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    dim: int,
    centroids: list[list[float]],
    m: int = 8,
    k_cent: int = 16,
    shortlist: int = 50,
    k: int = 5,
    refine_steps: int = 1,
    round_to: int = 6,
    cb=None,
) -> DataFrame:
    """IVFADC, the full production ANN shape (Jégou et al. 2011): IVF
    coarse cells GATE the scan (nprobe=1 — only same-cell codes are
    scored), PQ/ADC ranks the gated candidates from m-byte codes, exact
    L2 reranks the bounded shortlist — the same encode, LUT, scan and
    rerank parts as the PQ rows, so the composition stays engine-exact.

    Corpus and query cells both come from ``fold_scores_np``, corpus
    cells inside the encode kernel that already holds every vector —
    bit-identical to ``similarity.ivf_cell``, first-max ties included.

    100-TB shape: the corpus-side scan touches (id, codes, cell) — m
    small ints + one int per vector, never a float; the cell gate cuts
    scored candidates by ~|cells| before any ranking; the rerank
    fetches |queries| × shortlist raw vectors by key."""
    import numpy as np

    if cb is None:
        cb = train_codebook(
            df, id_col, vec_col, dim, m, k_cent, refine_steps, round_to
        )
    C = np.asarray(centroids, dtype=np.float64)
    encoded = _encode_arrow(
        df.select(id_col, vec_col), id_col, vec_col, cb, cents=C
    )
    qids, Q, lut = _query_lut(df, id_col, vec_col, query_ids, cb)
    qcells = fold_scores_np(Q, C).argmax(axis=1) + 1
    short = top_k_per_group(
        _adc_scan(encoded, qids, lut, round_to, qcells),
        ["qid"],
        [F.col("adc_dist"), F.col("vid")],
        shortlist,
    ).select("qid", "vid")
    return _rerank(short, df, id_col, vec_col, query_ids, k, round_to)


def ivfpq_recall_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    dim: int,
    centroids: list[list[float]],
    m: int = 8,
    k_cent: int = 16,
    shortlist: int = 50,
    k: int = 5,
    refine_steps: int = 1,
    cb=None,
) -> DataFrame:
    """(qid, hits, recall_at_k): the fourth recall gate (SRP, IVF, PQ,
    now IVFADC) — overlap of the composed cell-gated top-k with the
    exact-L2 top-k. The cell gate ADDS a recall cost on top of
    quantization (neighbors outside the query's cell are unreachable at
    nprobe=1), which is exactly what this row quantifies; counts are
    exact ints, the recall value hash-matches."""
    approx = ivfpq_topk_arrow(
        df, id_col, vec_col, query_ids, dim, centroids, m, k_cent,
        shortlist=shortlist, k=k, refine_steps=refine_steps, cb=cb,
    )
    # count-only consumption (see pq_recall_report)
    exact = pq_exact_topk(df, id_col, vec_col, query_ids, k)
    return _overlap_report(exact, approx)
