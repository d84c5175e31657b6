"""Distributed spherical k-means + SemDeDup (operators/clustering.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mongo_analyser_spark.operators.clustering import (
    assign_cells,
    kmeans_fit,
    kmeans_step,
    normalized_vectors,
    seed_centroids_row,
    semantic_dedup,
)


def _blob(center, n, spread=0.05):
    """Deterministic points around a unit-vector center."""
    out = []
    for i in range(n):
        v = [c + spread * math.sin(7.0 * i + 3.0 * j) for j, c in enumerate(center)]
        out.append(v)
    return out


def _blobs_df(spark):
    a = _blob([1.0, 0.0, 0.0, 0.0], 10)
    b = _blob([0.0, 1.0, 0.0, 0.0], 10)
    c = _blob([0.0, 0.0, 1.0, 0.0], 10)
    rows = [(i, v) for i, v in enumerate(a + b + c)]
    return spark.createDataFrame(rows, "id long, vec array<double>")


def test_normalized_vectors_unit_norm(spark):
    df = _blobs_df(spark)
    nv = normalized_vectors(df, "id", "vec")
    norms = nv.select(
        F.aggregate(
            F.zip_with("v", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        ).alias("n2")
    ).collect()
    assert all(abs(r.n2 - 1.0) < 1e-12 for r in norms)


def test_kmeans_fit_recovers_blobs(spark):
    """Three well-separated blobs, k=3: the fitted assignment must give
    each blob exactly one (distinct) cell."""
    df = _blobs_df(spark)
    # seed ids 0,1,2 all sit in blob A — the iterations must still pull
    # the centroids apart onto the three blobs
    out = {r.id: r.cell for r in kmeans_fit(df, "id", "vec", k=3, iters=6).collect()}
    assert len(out) == 30
    blobs = [set(out[i] for i in range(s, s + 10)) for s in (0, 10, 20)]
    assert all(len(b) == 1 for b in blobs), blobs
    assert len(set.union(*blobs)) == 3


def test_kmeans_step_mean_matches_hand_computation(spark):
    """k=1 degenerates to the global per-dimension mean of unit vectors."""
    df = _blobs_df(spark)
    nv = {r.id: r.v for r in normalized_vectors(df, "id", "vec").collect()}
    step = kmeans_step(df, "id", "vec", k=1).collect()
    assert {r.cell for r in step} == {1}
    assert all(r.n_members == 30 for r in step)
    for r in step:
        expect = round(sum(v[r.pos - 1] for v in nv.values()) / 30, 6)
        assert abs(r.mean_val - expect) < 1e-9


def test_kmeans_fit_empty_cell_keeps_previous_centroid(spark):
    """k larger than the number of distinct directions: empty cells must
    fall back to their previous centroid, not crash or emit NaN."""
    rows = [(i, [1.0, 0.0]) for i in range(4)] + [(10 + i, [0.0, 1.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = kmeans_fit(df, "id", "vec", k=4, iters=3).collect()
    assert len(out) == 8
    assert all(r.cell is not None for r in out)


def test_semantic_dedup_drops_later_near_duplicates(spark):
    """Two exact duplicate groups + one singleton: the lowest id of each
    group survives, every later member is dropped, the singleton stays."""
    base = [0.3, -0.2, 0.9, 0.1]
    other = [-0.8, 0.1, 0.2, 0.5]
    lone = [0.0, 0.9, -0.4, 0.1]
    rows = [(0, base), (1, base), (2, other), (3, other), (4, lone), (5, base)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    # one cell -> pure greedy-by-id within the whole set
    cents = [[1.0] + [0.0] * 3]
    out = {r.id: r for r in semantic_dedup(df, "id", "vec", cents, 0.999).collect()}
    assert len(out) == 6
    assert [out[i].is_kept for i in range(6)] == [True, False, True, False, True, False]


def test_assign_cells_tie_breaks_to_lowest_cid(spark):
    """A vector equidistant from two centroids lands in the lower cid."""
    df = spark.createDataFrame([(7, [1.0, 1.0])], "id long, vec array<double>")
    nv = normalized_vectors(df, "id", "vec")
    seeds = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "cid int, v array<double>"
    )
    cents_row = seeds.agg(
        F.sort_array(F.collect_list(F.struct("cid", "v"))).alias("cents")
    )
    [r] = assign_cells(nv, cents_row).collect()
    assert r.cell == 1


def test_seed_centroids_are_lowest_ids_in_cid_order(spark):
    df = _blobs_df(spark)
    nv = normalized_vectors(df, "id", "vec")
    [row] = seed_centroids_row(nv, 3).collect()
    assert [c.cid for c in row.cents] == [1, 2, 3]
    expect = {r.id: r.v for r in nv.filter(F.col("id") < 3).collect()}
    assert row.cents[0].v == expect[0]
    assert row.cents[2].v == expect[2]


def test_parameter_guards(spark):
    import pytest

    from mongo_analyser_spark.streaming.joins import interval_join

    df = spark.createDataFrame([(1, [1.0, 0.0])], "id long, vec array<double>")
    with pytest.raises(ValueError):
        kmeans_step(df, "id", "vec", k=0)
    with pytest.raises(ValueError):
        kmeans_fit(df, "id", "vec", k=2, iters=0)
    with pytest.raises(ValueError):
        semantic_dedup(df, "id", "vec", [], 0.5)
    ev = spark.createDataFrame([(1, "2020-01-01 00:00:00")], "id long, ts string")
    with pytest.raises(ValueError):
        interval_join(ev, ev, [])


def test_arrow_assignment_bit_identical_to_fold(spark):
    """assign_cells_arrow == normalized_vectors + assign_cells, down to
    the last bit of every normalized component (the operators/pq.py
    Arrow contract: per-component index-order accumulation, same IEEE
    ops) — this equality is what lets the Arrow path serve the
    hash-oracled kmeans_step registry row."""
    import random

    from mongo_analyser_spark.operators.clustering import (
        assign_cells,
        assign_cells_arrow,
        normalized_vectors,
        seed_centroids_row,
    )

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id long, vec array<float>")
    nv = normalized_vectors(df, "id", "vec")
    cents = seed_centroids_row(nv, 5).localCheckpoint()
    fold = {
        r["id"]: (r["cell"], tuple(r["v"]))
        for r in assign_cells(nv, cents).collect()
    }
    arrow = {
        r["id"]: (r["cell"], tuple(r["v"]))
        for r in assign_cells_arrow(df, "id", "vec", cents).collect()
    }
    assert fold == arrow  # cells AND every double, exactly


def test_kmeans_step_arrow_flag_same_output(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 3) % 7), 1.0]) for i in range(60)],
        "id long, vec array<float>",
    )
    a = kmeans_step(df, "id", "vec", k=3).collect()
    b = kmeans_step(df, "id", "vec", k=3, arrow=True).collect()
    key = lambda r: (r["cell"], r["pos"])  # noqa: E731
    assert sorted(map(tuple, a), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, b), key=lambda t: (t[0], t[1])
    )


def test_semantic_dedup_assignment_matches_expression_fold(spark):
    """semantic_dedup's assignment (the ``_scores_arrow`` kernel plus
    Spark's cast and first-max cell) must match the broadcast-data
    expression form exactly on clean rows AND the edge rows it
    half-scores (NULL vector, null element, ragged length, NaN element,
    all-NaN vector — where Spark's array_max/array_position resolve the
    all-NaN score row to cell 1), for array<double> and array<float>
    input alike."""
    import math
    import random

    from pyspark.sql import functions as F

    from mongo_analyser_spark.operators.clustering import _cell_vectors
    from mongo_analyser_spark.operators.similarity import (
        as_double_vec,
        dot,
        srp_planes,
    )

    dim, k = 16, 7
    cents = srp_planes(k, dim)
    rng = random.Random(13)
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
    rows.append((105, [float("nan")] * dim))

    cents_row = (
        spark.createDataFrame(
            [(i + 1, [float(x) for x in row]) for i, row in enumerate(cents)],
            "cid int, v array<double>",
        )
        .agg(F.sort_array(F.collect_list(F.struct("cid", "v"))).alias("cents"))
    )
    vec = as_double_vec("embedding")
    scores = F.transform(F.col("cents"), lambda c: dot(vec, c["v"]))

    def eq(a, b):
        if a is None or b is None:
            return a is None and b is None
        if isinstance(a, float) and (math.isnan(a) or math.isnan(b)):
            return math.isnan(a) and math.isnan(b)
        return a == b

    for elem in ("double", "float"):
        df = spark.createDataFrame(
            rows, f"vec_id long, embedding array<{elem}>"
        )
        expr = (
            df.crossJoin(F.broadcast(cents_row))
            .select(
                F.col("vec_id").alias("id"),
                vec.alias("v"),
                F.sqrt(dot(vec, vec)).alias("nrm"),
                F.array_position(scores, F.array_max(scores))
                .cast("int")
                .alias("cell"),
            )
            .orderBy("id")
            .collect()
        )
        got = (
            _cell_vectors(df, "vec_id", "embedding", cents)
            .orderBy("id")
            .collect()
        )
        assert len(expr) == len(got) == len(rows)
        for e, g in zip(expr, got):
            assert e["id"] == g["id"]
            assert e["cell"] == g["cell"], (elem, e["id"], e["cell"], g["cell"])
            assert eq(e["nrm"], g["nrm"]), (elem, e["id"], e["nrm"], g["nrm"])
            if e["v"] is None:
                assert g["v"] is None
            else:
                assert len(e["v"]) == len(g["v"])
                for x, y in zip(e["v"], g["v"]):
                    assert eq(x, y), (elem, e["id"], x, y)


def _fold_form_dedup(df, centroids, threshold, divide):
    """The self-join SemDeDup reference: every same-cell pair with
    id_a < id_b is scored with the ``dot`` fold over the raw-vector
    norms, ROUNDed, and the later id is dropped if any pair meets the
    threshold. ``divide`` is the cosine's division."""
    from mongo_analyser_spark.operators.clustering import _cell_vectors
    from mongo_analyser_spark.operators.similarity import dot

    vecs = _cell_vectors(df, "id", "vec", centroids)
    a = vecs.select(*(F.col(c).alias(f"{c}_a") for c in vecs.columns))
    b = vecs.select(*(F.col(c).alias(f"{c}_b") for c in vecs.columns))
    cos = F.round(
        divide(dot(F.col("v_a"), F.col("v_b")), F.col("nrm_a") * F.col("nrm_b")), 6
    )
    dropped = (
        a.join(b, (F.col("cell_a") == F.col("cell_b")) & (F.col("id_a") < F.col("id_b")))
        .filter(cos >= threshold)
        .select(F.col("id_b").alias("dropped_id"))
        .distinct()
    )
    return vecs.join(dropped, F.col("id") == F.col("dropped_id"), "left").select(
        "id", "cell", F.col("dropped_id").isNull().alias("is_kept")
    )


def _adversarial_rows():
    """Clean rows whose cosines straddle the thresholds, then every row
    shape the folds half-score (NULL vector, NULL element, ragged
    lengths, NaN, all-NaN, inf, overflowing values, a NULL id) at the
    highest ids, so their NaN cosines drop only rows after them, and
    repeated ids in one cell and across cells."""
    nan, inf = float("nan"), float("inf")
    rows = [(i, [1.0, a, 0.0, 0.0]) for i, a in enumerate((0.0, 0.05, 0.3, 0.6, 0.9, 0.04))]
    rows += [(20 + i, [0.1, 0.8 + 0.02 * i, -0.3, 0.2]) for i in range(3)]
    rows += [
        (3, [1.0, -0.2, 0.1, 0.0]),
        (5, [0.0, 0.0, 0.0, 1.0]),
        (21, [-0.9, -0.1, 0.3, 0.0]),
        (30, [-0.5, -0.5, 0.5, 0.5]),
        (40, None),
        (41, [0.9, None, 0.2, 0.0]),
        (42, [0.9, 0.1]),
        (43, [0.9, 0.1, 0.2, 0.0, 0.5]),
        (44, [0.9, nan, 0.2, 0.0]),
        (45, [nan] * 4),
        (46, [inf, 0.1, 0.2, 0.0]),
        (47, [1e200, 1e200, 0.0, 0.0]),
        (48, [0.3, 0.9, 0.1, 0.0]),
        (None, [0.9, 0.1, 0.2, 0.0]),
    ]
    return rows


_CENTS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]]

# (case, rows, threshold, divide): the adversarial frame against the
# parent's self-join (``/``: no zero divisor in it), and a zero vector in
# a cell against the DuckDB twin's rule (``x / 0.0`` is NULL: no pair).
_PARITY_CASES = [
    ("adversarial", _adversarial_rows(), t, lambda x, y: x / y)
    for t in (0.4, 0.95, 0.999)
] + [
    (
        "zero_vector",
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
        0.5,
        lambda x, y: F.try_divide(x, y),
    )
]


def test_semantic_dedup_matches_fold_form(spark):
    def key(r):
        return (r["id"] is None, r["id"] or 0, r["cell"] is None, r["cell"] or 0, r["is_kept"])

    for case, rows, threshold, divide in _PARITY_CASES:
        df = spark.createDataFrame(rows, "id long, vec array<double>")
        cents = _CENTS if case == "adversarial" else [[1.0, 0.0]]
        got = sorted(semantic_dedup(df, "id", "vec", cents, threshold).collect(), key=key)
        want = sorted(_fold_form_dedup(df, cents, threshold, divide).collect(), key=key)
        assert [tuple(r) for r in got] == [tuple(r) for r in want], (case, threshold)
        assert len(got) == len(rows)


def test_semantic_dedup_zero_vector_is_no_duplicate(spark):
    """A zero vector sharing a cell makes no pair (its cosine divides by
    zero, which the oracle reads as NULL) instead of failing the query."""
    df = spark.createDataFrame([(1, [0.0, 0.0]), (2, [1.0, 0.0])], "id long, vec array<double>")
    out = {r.id: r.is_kept for r in semantic_dedup(df, "id", "vec", [[1.0, 0.0]], 0.5).collect()}
    assert out == {1: True, 2: True}


def test_semantic_dedup_verifies_each_cell_once(spark, monkeypatch):
    """Under the registry row's output sort, the verify kernel runs once
    per cell (the NULL cell of an unscored row included)."""
    from mongo_analyser_spark.operators import clustering
    from mongo_analyser_spark.operators.fanout import sort_output

    calls = spark.sparkContext.accumulator(0)
    verify = clustering._verify_cell

    def counting(cell):
        calls.add(1)
        return verify(cell)

    monkeypatch.setattr(clustering, "_verify_cell", counting)
    rows = _adversarial_rows()
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = semantic_dedup(df, "id", "vec", _CENTS, 0.95).transform(sort_output, "id").collect()
    assert len(out) == len(rows)
    assert calls.value == len({r.cell for r in out})
