"""Similarity search: exact cosine top-k, SRP bucketing."""

import pytest

from pyspark.sql import functions as F

from mongo_analyser_spark.operators.similarity import (
    ann_srp_topk,
    brute_force_topk,
    cosine,
    srp_bucket,
    srp_planes,
)

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),  # closest to 0
    (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
    (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    (4, [0.5, 0.5, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_cosine_expr(spark, emb):
    pair = (
        emb.filter("vec_id = 0")
        .crossJoin(
            emb.filter("vec_id = 3").select(F.col("embedding").alias("other"))
        )
        .select(cosine(F.col("embedding"), F.col("other")).alias("c"))
        .collect()[0]["c"]
    )
    assert pair == -1.0


def test_brute_force_topk(spark, emb):
    out = brute_force_topk(emb, "vec_id", "embedding", [0], k=2).collect()
    assert [r["vid"] for r in out] == [1, 4]  # nearest first, self excluded
    assert out[0]["cos_sim"] > out[1]["cos_sim"]


def test_srp_bucket_identical_vectors_collide(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (2, [-1.0, -2.0, -3.0])],
        "vec_id long, embedding array<float>",
    )
    planes = srp_planes(4, 3)
    rows = df.select("vec_id", srp_bucket(F.col("embedding"), planes).alias("b")).collect()
    buckets = {r["vec_id"]: r["b"] for r in rows}
    assert buckets[0] == buckets[1]
    assert buckets[0] != buckets[2]  # opposite vector flips every sign


def test_ann_srp_topk_runs(spark, emb):
    out = ann_srp_topk(emb, "vec_id", "embedding", [0], num_planes=2, dim=4, k=3)
    rows = out.collect()
    assert all(r["qid"] == 0 and r["vid"] != 0 for r in rows)


def test_probe_buckets_hamming1(spark):
    from mongo_analyser_spark.operators.similarity import probe_buckets

    df = spark.createDataFrame([("1010",)], "b string")
    [row] = df.select(probe_buckets(F.col("b"), 4, radius=1).alias("p")).collect()
    assert row.p == ["1010", "0010", "1110", "1000", "1011"]
    [row0] = df.select(probe_buckets(F.col("b"), 4, radius=0).alias("p")).collect()
    assert row0.p == ["1010"]


def test_ann_multiprobe_recall_at_8_planes(spark):
    """At 8 planes exact-bucket recall collapses on near-neighbors that
    differ by one sign bit; Hamming-1 probing must recover agreement with
    the exact brute-force top-k (round-1 Next-round #9 acceptance)."""
    import math
    import random

    rng = random.Random(11)
    dim = 16
    base = []
    for i in range(120):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        base.append((i, [x / n for x in v]))
    # plant a very close neighbor of vector 0 (tiny perturbation)
    v0 = base[0][1]
    near = [x + rng.gauss(0, 0.02) for x in v0]
    base.append((200, near))
    df = spark.createDataFrame(base, "vec_id long, embedding array<float>")

    exact = {
        r.vid
        for r in brute_force_topk(df, "vec_id", "embedding", [0], k=3).collect()
    }
    probed = {
        r.vid
        for r in ann_srp_topk(
            df, "vec_id", "embedding", [0], num_planes=8, dim=dim, k=3,
            probe_radius=1,
        ).collect()
    }
    unprobed = {
        r.vid
        for r in ann_srp_topk(
            df, "vec_id", "embedding", [0], num_planes=8, dim=dim, k=3,
        ).collect()
    }
    # probing can only widen the candidate set
    assert unprobed <= probed or len(probed & exact) >= len(unprobed & exact)
    # the planted near-duplicate must be found with probing
    assert 200 in probed
    # recall@3 against exact must clear 2/3 with one-bit probing
    assert len(probed & exact) >= 2, (probed, exact)


def test_ivf_cell_assignment_deterministic(spark, emb):
    from mongo_analyser_spark.operators.similarity import ivf_cell, ivf_centroids

    cents = ivf_centroids(4, 4)
    rows = emb.select(
        "vec_id", ivf_cell(F.col("embedding"), cents).alias("cell")
    ).collect()
    cells = {r.vec_id: r.cell for r in rows}
    assert all(1 <= c <= 4 for c in cells.values())
    # opposite vectors land in different cells (argmax of negated scores)
    assert cells[0] != cells[3]


def test_ivf_topk_nprobe_recovers_recall(spark):
    """nprobe widens the probed cell set query-side only; at nprobe=
    num_cells IVF degenerates to brute force (every cell probed), so its
    top-k must equal the exact answer."""
    import math
    import random

    from mongo_analyser_spark.operators.similarity import ivf_topk

    rng = random.Random(5)
    dim = 8
    data = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        data.append((i, [x / n for x in v]))
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")

    exact = [
        (r.qid, r.vid)
        for r in brute_force_topk(df, "vec_id", "embedding", [0], k=3).collect()
    ]
    full_probe = [
        (r.qid, r.vid)
        for r in ivf_topk(
            df, "vec_id", "embedding", [0], num_cells=4, dim=dim, k=3, nprobe=4
        ).collect()
    ]
    assert full_probe == exact
    # single-probe result is a subset of candidates, never better than exact
    single = ivf_topk(
        df, "vec_id", "embedding", [0], num_cells=4, dim=dim, k=3, nprobe=1
    ).collect()
    assert all(r.qid == 0 and r.vid != 0 for r in single)


def test_adaptive_ivf_beats_fixed_quantizer_recall(spark):
    """Round-2 verdict #2: the data-trained √n k-means quantizer (nprobe
    3) must reach at least the fixed md5 quantizer's recall@3 vs brute
    force on the real sf0.01 embeddings (measured 0.583 vs 0.375) —
    while probing a smaller corpus fraction per query."""
    from mongo_analyser_spark.operators.similarity import (
        adaptive_ivf_params,
        brute_force_topk,
        ivf_topk,
    )
    from mongo_analyser_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    qids = [0, 1, 2, 3, 4, 5, 6, 7]

    def hits(df):
        return {(r["qid"], r["vid"]) for r in df.collect()}

    truth = hits(brute_force_topk(emb, "vec_id", "embedding", qids, k=3))
    fixed = hits(ivf_topk(emb, "vec_id", "embedding", qids, 4, 64, k=3))
    cents, num_cells = adaptive_ivf_params(sf)
    assert num_cells == 22  # sqrt(500), data-scaled
    adaptive = hits(
        ivf_topk(emb, "vec_id", "embedding", qids, 0, 64, k=3, nprobe=3,
                 centroids=cents)
    )
    assert len(adaptive & truth) >= len(fixed & truth)
    assert len(adaptive & truth) / len(truth) >= 0.5


def test_quantize_int8_roundtrip_error_bounded(spark):
    """Dequantized values must sit within scale/2 of the originals
    (the symmetric-quantization error bound), codes within [-127, 127],
    and an all-zero vector must quantize to zeros with scale 0."""
    from mongo_analyser_spark.operators.similarity import quantize_int8

    rows = [
        (1, [1.0, -2.0, 0.5, 126.9]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [-0.001, 0.002, -0.003, 0.004]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in quantize_int8(df, "vec_id", "embedding").collect()}
    assert out[2].scale == 0.0 and out[2].q == [0, 0, 0, 0]
    for vid, vec in ((1, rows[0][1]), (3, rows[2][1])):
        r = out[vid]
        assert all(-127 <= c <= 127 for c in r.q)
        for orig, code in zip(vec, r.q):
            assert abs(code * r.scale - orig) <= r.scale / 2 + 1e-12


def test_quantize_query_is_pure_projection(spark):
    """Zero shuffles: quantization must stay a scan-side projection."""
    from mongo_analyser_spark.plans import num_exchanges
    from mongo_analyser_spark.queries import QUERIES

    q = QUERIES["quantize_embeddings_int8"](spark, "/root/testdata/sf0.001")
    # only the output sort exchanges: keyed, then range
    assert num_exchanges(q) == 2


def test_empty_planes_and_centroids_raise(spark, emb):
    import pytest

    from mongo_analyser_spark.operators.similarity import ivf_topk, with_srp_sig

    with pytest.raises(ValueError, match="non-empty plane"):
        with_srp_sig(emb, "embedding", [])
    with pytest.raises(ValueError, match="non-empty plane"):
        with_srp_sig(emb, "embedding", [[]])
    with pytest.raises(ValueError, match="non-empty centroid"):
        ivf_topk(emb, "vec_id", "embedding", [1], 4, 8, centroids=[])


def test_arrow_topk_exact_parity_with_fold_twin(spark):
    """The Arrow/numpy kernel must return IDENTICAL rows to the
    expression-path brute force at two scales — ranking is on the
    rounded cosine with a vid tie-break in both, so any kernel bug
    (normalization, self-exclusion, local-top-k truncation, tie order)
    shows as a row diff."""
    from mongo_analyser_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )
    from mongo_analyser_spark.sources.parquet import load_table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = load_table(spark, sf, "embeddings")
        qids = list(range(8))
        fold = [tuple(r) for r in brute_force_topk(
            emb, "vec_id", "embedding", qids, k=5).collect()]
        arrow = [tuple(r) for r in brute_force_topk_arrow(
            emb, "vec_id", "embedding", qids, k=5).collect()]
        assert fold == arrow and len(fold) == 40


def test_scores_arrow_matches_expression_fold(spark):
    """r15: ivf_topk's data-scaled (broadcast-data) score projection is
    an Arrow kernel; every vnorm/score double must be BIT-identical to
    the interpreted zip_with/aggregate fold, including the edge rows
    the expression form half-scores (NULL vector -> NULL norm +
    all-NULL scores; ragged vector -> real norm over its own length +
    all-NULL scores; NaN elements propagate)."""
    import math
    import random

    from pyspark.sql import functions as F

    from mongo_analyser_spark.operators.similarity import (
        _scores_arrow,
        norm,
        srp_planes,
    )

    dim, m = 16, 9
    cents = srp_planes(m, dim)
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(dim)]) for i in range(40)]
    rows.append((100, None))
    rows.append((101, [1.0] * (dim - 3)))
    rows.append((102, [1.0] * (dim + 2)))
    nan_vec = [rng.uniform(-1, 1) for _ in range(dim)]
    nan_vec[3] = float("nan")
    rows.append((103, nan_vec))
    null_el = [rng.uniform(-1, 1) for _ in range(dim)]
    null_el[5] = None
    rows.append((104, null_el))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cent_df = spark.createDataFrame([(cents,)], "__cent: array<array<double>>")
    expr = (
        df.join(F.broadcast(cent_df))
        .select(
            "vec_id",
            norm(F.col("embedding")).alias("vnorm"),
            F.transform(
                F.col("__cent"),
                lambda row: F.aggregate(
                    F.zip_with(
                        F.col("embedding"), row,
                        lambda x, c: x.cast("double") * c,
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
            ).alias("__scores"),
        )
        .orderBy("vec_id")
        .collect()
    )
    got = (
        _scores_arrow(df, "vec_id", "embedding", cents)
        .orderBy("vec_id")
        .collect()
    )
    assert len(expr) == len(got)

    def eq(a, b):
        if a is None or b is None:
            return a is None and b is None
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b  # exact doubles, no tolerance

    for e, g in zip(expr, got):
        assert e["vec_id"] == g["vec_id"]
        assert eq(e["vnorm"], g["vnorm"]), (e["vec_id"], e["vnorm"], g["vnorm"])
        assert len(e["__scores"]) == len(g["__scores"]) == m
        for x, y in zip(e["__scores"], g["__scores"]):
            assert eq(x, y), (e["vec_id"], x, y)


def test_srp_sig_arrow_matches_expression_bits(spark):
    """r15: with_srp_sig's data-scaled (broadcast-data) branch is an
    Arrow kernel; every sign string must equal the interpreted
    _srp_bits form exactly, including the rows it zero-fills (NULL
    vector, null element, ragged length) and NaN propagation
    (a NaN fold emits '1': Spark orders NaN greater than any numeric,
    so when(NaN >= 0) is TRUE — see the kernel docstring in
    similarity.py)."""
    import random

    from pyspark.sql import functions as F

    from mongo_analyser_spark.operators.similarity import (
        _srp_bits,
        _srp_sig_arrow,
        srp_planes,
    )

    dim, m = 16, 9
    planes = srp_planes(m, dim)
    rng = random.Random(11)
    rows = [(i, "blk", [rng.uniform(-2, 2) for _ in range(dim)]) for i in range(40)]
    rows.append((100, "blk", None))
    rows.append((101, "blk", [1.0] * (dim - 3)))
    rows.append((102, "blk", [1.0] * (dim + 2)))
    nan_vec = [rng.uniform(-1, 1) for _ in range(dim)]
    nan_vec[3] = float("nan")
    rows.append((103, "blk", nan_vec))
    null_el = [rng.uniform(-1, 1) for _ in range(dim)]
    null_el[5] = None
    rows.append((104, "blk", null_el))
    df = spark.createDataFrame(
        rows, "vec_id long, label string, __vec array<double>"
    )

    pl_df = spark.createDataFrame([(planes,)], "__planes: array<array<double>>")
    expr = (
        df.join(F.broadcast(pl_df))
        .withColumn("sig", _srp_bits(F.col("__vec"), F.col("__planes")))
        .drop("__planes")
        .orderBy("vec_id")
        .collect()
    )
    got = _srp_sig_arrow(df, "__vec", planes, "sig").orderBy("vec_id").collect()
    assert len(expr) == len(got) == len(rows)
    for e, g in zip(expr, got):
        assert e["vec_id"] == g["vec_id"] and e["label"] == g["label"]
        assert e["sig"] == g["sig"], (e["vec_id"], e["sig"], g["sig"])
        assert (e["__vec"] is None) == (g["__vec"] is None)


@pytest.mark.parametrize("op", ["with_srp_sig", "ivf_topk"])
def test_literal_size_rule_sides_agree(spark, monkeypatch, op):
    """``LITERAL_MAX_VALUES`` only picks how a quantizer reaches the
    executors: forcing the literal side and then the Arrow side must
    return identical rows for every operator that reads the rule."""
    from mongo_analyser_spark.operators import similarity
    from mongo_analyser_spark.queries_pipeline import EMB_DIM, IVF_CELLS
    from mongo_analyser_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")

    def run():
        if op == "with_srp_sig":
            planes = similarity.srp_planes(6, EMB_DIM)
            out = similarity.with_srp_sig(emb, "embedding", planes)
            return out.orderBy("vec_id").collect()
        return similarity.ivf_topk(
            emb, "vec_id", "embedding", list(range(8)), IVF_CELLS,
            EMB_DIM, k=3, nprobe=2,
        ).collect()

    monkeypatch.setattr(similarity, "LITERAL_MAX_VALUES", 10**9)
    literal = [tuple(r) for r in run()]
    monkeypatch.setattr(similarity, "LITERAL_MAX_VALUES", 0)
    arrow = [tuple(r) for r in run()]
    assert literal and literal == arrow
