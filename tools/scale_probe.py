"""Scaling evidence: run headline queries at sf0.001 / sf0.01 / sf0.1
(100× data spread) and report wall-clock growth. A plan that scales
linearly shows time growth ≈ data growth on the big step (0.01→0.1, 10×
rows) once per-job fixed overhead (~0.2-0.3 s in local mode) is
subtracted; super-linear growth flags a plan that won't survive 100 TB.

Usage: python tools/scale_probe.py [query ...]   (default: headline set)
       python tools/scale_probe.py --long-docs [query ...]
Prints a markdown table + one JSON line.

--long-docs probes the DOC-LENGTH axis (round-10 verdict #1): the
driver corpus varies doc COUNT but every document is ~300 chars, so a
text operator superlinear in L — exactly how round 9's char_entropy
blew up — is invisible to the count-axis table. This mode synthesizes
a deterministic long-doc tier (300 docs of 10–100 KB built by cyclic
concatenation of the sf0.1 corpus, ~16 MB vs the 1.5 MB baseline; other
tables symlinked from sf0.1) under .scale/longdocs/ and reports each
text family's cost normalized PER MEGABYTE of corpus text at both
lengths. per-MB ratio ≈ 1 means linear in L; >2 flags superlinearity
the count axis cannot see.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

HEADLINE = [
    "field_stats_events",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "dedup_minhash_pairs_documents",
    "dedup_jaccard_pairs_documents",
    "simhash_documents",
    "similarity_topk_embeddings",
    "ann_srp_topk_embeddings",
    "embedding_near_dup_pairs",
    "dynamic_schema_histogram_events",
    "corpus_build_documents",
    "window_top3_orders_per_customer",
    # round-6/7 heavy tier (verdict-r6 #5): the iterative / gram-join /
    # Arrow-stage families, probed by default so every round's SCALE.md
    # step table includes them
    "remove_repeated_ngrams_documents",
    "remove_repeated_spans_documents",
    "semantic_dedup_embeddings",
    "kmeans_step_embeddings",
    "pagerank_near_dup",
    "bpe_token_counts_documents",
    "token_budget_select_bpe_documents",
    # round-10 tiers (SCALE.md round-10 step table): sketch, codec,
    # window, composed-ANN, and certification families
    "wav_audio_features_documents",
    "mg_heavy_hitters_events",
    "triangle_count_near_dup",
    "ewma_smooth_events",
    "scd2_event_type_events",
    "ivfpq_topk_embeddings",
    "minhash_estimate_error_pairs",
    "quantile_sketch_by_type_events",
]


# text-heavy families whose per-row cost grows with doc LENGTH: regex
# chains, HOF stacks, sorted/boundary arrays, gram explodes, Arrow BPE
LONGDOC_QUERIES = [
    "text_stats_documents",
    "gopher_rules_documents",
    "char_entropy_documents",
    "pii_scrub_extended_documents",
    "fingerprint_documents",
    "unigram_nll_documents",
    "kneser_ney_nll_documents",
    "bpe_token_counts_documents",
    "chunk_tokens_documents",
    "remove_repeated_ngrams_documents",
    "remove_repeated_spans_documents",
    "minhash_signatures_documents",
    "lang_histogram_documents",
]

LONGDOC_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale",
    "longdocs",
)


def build_longdocs(base_sf: str = "/root/testdata/sf0.1") -> tuple[str, float]:
    """Deterministic long-doc tier: 300 documents whose doc i has target
    length (i%10+1)*10 KB, built by cyclically concatenating the base
    corpus texts starting at offset i (so content varies per doc but is
    fully reproducible). Returns (dir, corpus_megabytes)."""
    import duckdb

    os.makedirs(LONGDOC_DIR, exist_ok=True)
    out = os.path.join(LONGDOC_DIR, "documents.parquet")
    if not os.path.exists(out):
        con = duckdb.connect()
        texts = [
            t[0]
            for t in con.execute(
                "SELECT text FROM read_parquet(?) ORDER BY doc_id",
                [os.path.join(base_sf, "documents.parquet")],
            ).fetchall()
        ]
        rows = []
        for i in range(300):
            target = (i % 10 + 1) * 10_000
            parts, size, j = [], 0, i
            while size < target:
                parts.append(texts[j % len(texts)] or "")
                size += len(parts[-1]) + 1
                j += 1
            doc = " ".join(parts)[:target]
            rows.append((i, doc, ["en", "de", "zh"][i % 3], f"src{i % 4}",
                         len(doc)))
        con.execute(
            "CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
            " source VARCHAR, n_chars BIGINT)"
        )
        con.executemany("INSERT INTO t VALUES (?,?,?,?,?)", rows)
        con.execute(f"COPY t TO '{out}' (FORMAT PARQUET)")
    # the text families only read documents, but symlink the rest so any
    # load_table call resolves
    for f in os.listdir(base_sf):
        dst = os.path.join(LONGDOC_DIR, f)
        if f != "documents.parquet" and not os.path.exists(dst):
            os.symlink(os.path.join(base_sf, f), dst)
    import duckdb as d

    mb = d.sql(
        f"SELECT sum(length(text))/1e6 FROM read_parquet('{out}')"
    ).fetchone()[0]
    return LONGDOC_DIR, float(mb)


SF1_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale",
    "sf1",
)

#: flagship families for the sf0.1 -> sf1 decade (verdict-r10 #6)
SF1_QUERIES = [
    "field_stats_events",
    "dedup_minhash_pairs_documents",
    "simhash_pairs_documents",
    "ivfpq_topk_embeddings",
    "remove_repeated_ngrams_documents",
    "scd2_event_type_events",
    "ewma_smooth_events",
    "mg_heavy_hitters_events",
    "quantile_sketch_by_type_events",
    "wav_audio_features_documents",
]


def build_sf1(base_sf: str = "/root/testdata/sf0.1") -> str:
    """Deterministic 10x tier (the driver ships no sf1): each base table
    replicated 10x with re-keyed ids. Copies are DECORRELATED so the
    synthetic growth matches a real corpus's structure, not a
    pathological one: documents rotate their word order per copy (a
    copy of doc A stays near-dup-similar to the same copy of its true
    near-dups but NOT to other copies of A — cluster COUNT grows 10x,
    cluster SIZE stays constant, so pair populations grow ~linearly as
    they would in reality. Decorrelation is per-copy WORD SALTING, a
    bijection on the shingle space: within-copy Jaccard is EXACTLY the
    base corpus's, cross-copy shared shingles are zero. The first
    attempt rotated word order instead — rotations preserve cyclic
    shingles, so copies of one doc stayed near-dups of each other and
    the pair population grew ~100x, which showed up immediately as a
    phony 11.8x step on dedup_minhash_pairs); embeddings perturb one
    dimension per copy;
    events shift user_id per copy (10x users, same history depth per
    user). TPC-H tables are symlinked (the flagship set doesn't read
    them).

    r16: generated tables are written with ROW_GROUP_SIZE 4096 (the
    zipf twin already was) so scans SPLIT — a single ~6 MB row group
    caps every scan at one task and makes core-scaling unmeasurable
    (the fixture artifact behind the ≈1.0 low/high ratios in
    PERF_r15's scaling block); a production table has thousands of
    row groups. Delete .scale/sf1 after changing the layout."""
    import duckdb

    os.makedirs(SF1_DIR, exist_ok=True)
    con = duckdb.connect()
    ev = os.path.join(SF1_DIR, "events.parquet")
    if not os.path.exists(ev):
        con.execute(f"""
COPY (
  SELECT event_id + c.c * 100000 AS event_id, ts,
         user_id + c.c * 1500 AS user_id, event_type, value, props
  FROM read_parquet('{base_sf}/events.parquet')
  CROSS JOIN generate_series(0, 9) c(c)
) TO '{ev}' (FORMAT PARQUET, ROW_GROUP_SIZE 4096)""")
    dc = os.path.join(SF1_DIR, "documents.parquet")
    if not os.path.exists(dc):
        con.execute(f"""
COPY (
  SELECT doc_id + c.c * 5000 AS doc_id,
         CASE WHEN c.c = 0 THEN text
              ELSE array_to_string(list_transform(
                     string_split(text, ' '), w -> w || '~' || c.c), ' ')
         END AS text,
         lang, source, n_chars
  FROM read_parquet('{base_sf}/documents.parquet')
  CROSS JOIN generate_series(0, 9) c(c)
) TO '{dc}' (FORMAT PARQUET, ROW_GROUP_SIZE 4096)""")
    em = os.path.join(SF1_DIR, "embeddings.parquet")
    if not os.path.exists(em):
        con.execute(f"""
COPY (
  SELECT vec_id + c.c * 2000 AS vec_id,
         list_transform(embedding, (x, i) ->
           CAST(CASE WHEN i = (c.c % 64) + 1
                     THEN x + 0.05 * (c.c + 1) ELSE x END AS FLOAT)
         ) AS embedding,
         label
  FROM read_parquet('{base_sf}/embeddings.parquet')
  CROSS JOIN generate_series(0, 9) c(c)
) TO '{em}' (FORMAT PARQUET, ROW_GROUP_SIZE 4096)""")
    for f in os.listdir(base_sf):
        dst = os.path.join(SF1_DIR, f)
        if not os.path.exists(dst):
            os.symlink(os.path.join(base_sf, f), dst)
    return SF1_DIR


WIDE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale"
)


def build_wide(dim: int, base_sf: str = "/root/testdata/sf0.1") -> str:
    """Deterministic wide-vector tier (round-13, verdict-r12 #2): the
    64-dim fixture tiled to ``dim`` with a per-tile integer-grid
    perturbation (tile t, coord i gets +0.001*(((t*31+i)%17)-8)) so the
    tiles are decorrelated but fully reproducible. Row count stays the
    fixture's 2,000 — this axis isolates per-DIMENSION cost, the row
    axis is the sf decade probe's job."""
    out_dir = os.path.join(WIDE_DIR, f"wide{dim}")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "embeddings.parquet")
    if not os.path.exists(out):
        import duckdb
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        con = duckdb.connect()
        rows = con.execute(
            "SELECT vec_id, embedding, label FROM read_parquet(?)"
            " ORDER BY vec_id",
            [os.path.join(base_sf, "embeddings.parquet")],
        ).fetchall()
        X = np.asarray([r[1] for r in rows], dtype=np.float64)
        tiles = dim // X.shape[1]
        assert tiles * X.shape[1] == dim, "dim must be a multiple of 64"
        parts = [
            X + 0.001 * (((t * 31 + np.arange(X.shape[1])) % 17) - 8)
            for t in range(tiles)
        ]
        W = np.hstack(parts).astype(np.float32)
        tbl = pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [w.tolist() for w in W], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        )
        pq.write_table(tbl, out)
    for f in os.listdir(base_sf):
        dst = os.path.join(out_dir, f)
        if f != "embeddings.parquet" and not os.path.exists(dst):
            os.symlink(os.path.join(base_sf, f), dst)
    return out_dir


def main_wide(dims: list[int] | None = None) -> None:
    """Per-DIMENSION cost of every vector operator family (the last
    unmeasured data axis, verdict-r12 #2): the registry rows bake in
    EMB_DIM=64, so this probe drives the OPERATORS directly at
    d = 64 / 768 / 1536 (production embedding widths) and reports raw
    seconds plus cost normalized by the operator's own d-bound —
    s/d for the linear families, s/d^2 for covariance and the
    driver-side power iteration. A normalized column that grows with d
    flags a superlinear implementation hiding under the fixture's
    narrow vectors."""
    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.operators.clustering import (
        kmeans_step,
        semantic_dedup,
    )
    from mongo_analyser_spark.operators.pca import (
        covariance_as_matrix,
        covariance_upper,
        jl_project,
        pca_power_components,
    )
    from mongo_analyser_spark.operators.pq import (
        pq_adc_topk_arrow,
        pq_encode_arrow,
        train_codebook,
    )
    from mongo_analyser_spark.operators.similarity import (
        brute_force_topk_arrow,
        ivf_centroids,
        ivf_topk,
    )
    from mongo_analyser_spark.sources.parquet import load_table

    dims = dims or [64, 768, 1536]
    qids = list(range(8))
    spark = get_spark("scale_probe_wide")

    # (name, d-bound exponent for normalization, runner)
    def steps(df, d):
        cb_holder = {}

        def _pq_train():
            cb_holder["cb"] = train_codebook(
                df, "vec_id", "embedding", d, m=8, k=16
            )

        return [
            ("covariance_gram_collect", 2, lambda: covariance_upper(
                df, "vec_id", "embedding", d).collect()),
            # driver-side deflated power iteration: O(d^2 * iters * k)
            # PURE-PYTHON flops — k=2/iters=8 bounds the probe while the
            # per-(d^2*k*iters) column still shows the constant
            ("pca_power_driver_k2_it8", 2, lambda: pca_power_components(
                covariance_as_matrix(df, "vec_id", "embedding", d),
                k=2, iters=8)),
            ("pq_train_m8_k16", 1, _pq_train),
            ("pq_encode_arrow", 1, lambda: pq_encode_arrow(
                df, "vec_id", "embedding", cb_holder["cb"], d).collect()),
            ("pq_adc_topk_arrow", 1, lambda: pq_adc_topk_arrow(
                df, "vec_id", "embedding", qids, d,
                cb=cb_holder["cb"]).collect()),
            ("kmeans_step_arrow", 1, lambda: kmeans_step(
                df, "vec_id", "embedding", k=8, arrow=True).collect()),
            ("ivf_topk_16cells", 1, lambda: ivf_topk(
                df, "vec_id", "embedding", qids, 16, d, k=3).collect()),
            ("jl_project_to16", 1, lambda: jl_project(
                df, "vec_id", "embedding", d, 16).collect()),
            ("blas_topk_arrow", 1, lambda: brute_force_topk_arrow(
                df, "vec_id", "embedding", qids, k=5).collect()),
            ("semantic_dedup_16cells", 1, lambda: semantic_dedup(
                df, "vec_id", "embedding",
                ivf_centroids(16, d)).collect()),
        ]

    results: dict[str, dict] = {}
    for d in dims:
        sf_dir = (
            "/root/testdata/sf0.1" if d == 64 else build_wide(d)
        )
        df = load_table(spark, sf_dir, "embeddings")
        for name, exp, fn in steps(df, d):
            if d == dims[0]:
                fn()  # warm-up: codegen + Arrow init once, smallest d
            t0 = time.time()
            fn()
            el = time.time() - t0
            results.setdefault(name, {"exp": exp, "times": {}})
            results[name]["times"][d] = round(el, 3)
            print(f"  d={d} {name}: {el:.2f}s", flush=True)

    print("\n| operator | bound | " + " | ".join(
        f"d={d} (s)" for d in dims) + " | " + " | ".join(
        f"s/d^b @{d} (×1e6)" for d in dims) + " |")
    print("|---|---|" + "---|" * (2 * len(dims)))
    for name, r in results.items():
        b = r["exp"]
        raw = " | ".join(f"{r['times'][d]:.2f}" for d in dims)
        norm = " | ".join(
            f"{r['times'][d] / (d ** b) * 1e6:.1f}" for d in dims
        )
        print(f"| {name} | O(d^{b}) | {raw} | {norm} |")
    print(json.dumps({"metric": "wide_vector_probe", "dims": dims,
                      "results": results}))


SF1_ZIPF_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale",
    "sf1zipf",
)

#: user/source-KEYED flagships for the skewed decade (verdict-r12 #3):
#: every row whose shuffle or window key is user_id / source / (doc
#: cluster) — the keys the Zipf tier deliberately breaks.
ZIPF_QUERIES = [
    "field_stats_events",
    "scd2_event_type_events",
    "scd2_pit_join_events",
    "ewma_smooth_events",
    "funnel_conversion_events",
    "dedup_first_event_per_user_type",
    "mg_heavy_hitters_events",
    "quantile_sketch_by_type_events",
    "dedup_report_by_source",
]


def build_sf1_zipf(base_sf: str = "/root/testdata/sf0.1") -> str:
    """Zipf-skewed twin of the sf1 decade (verdict-r12 #3): same 10×
    row counts, but one user owns ~50% of events and one source owns
    ~50% of documents (deterministic: every even surrogate row re-keys
    to the hot key). The uniform sf1 tier re-keys users uniformly, so
    window/groupBy flagships never see a hot partition there — this
    tier is the straggler test."""
    import duckdb

    os.makedirs(SF1_ZIPF_DIR, exist_ok=True)
    con = duckdb.connect()
    ev = os.path.join(SF1_ZIPF_DIR, "events.parquet")
    if not os.path.exists(ev):
        con.execute(f"""
COPY (
  SELECT event_id + c.c * 100000 AS event_id, ts,
         CASE WHEN (event_id + c.c) % 2 = 0 THEN 424242
              ELSE user_id + c.c * 1500 END AS user_id,
         event_type, value, props
  FROM read_parquet('{base_sf}/events.parquet')
  CROSS JOIN generate_series(0, 9) c(c)
) TO '{ev}' (FORMAT PARQUET, ROW_GROUP_SIZE 4096)""")
    dc = os.path.join(SF1_ZIPF_DIR, "documents.parquet")
    if not os.path.exists(dc):
        con.execute(f"""
COPY (
  SELECT doc_id + c.c * 5000 AS doc_id,
         CASE WHEN c.c = 0 THEN text
              ELSE array_to_string(list_transform(
                     string_split(text, ' '), w -> w || '~' || c.c), ' ')
         END AS text,
         lang,
         CASE WHEN (doc_id + c.c) % 2 = 0 THEN 'src_hot' ELSE source END
           AS source,
         n_chars
  FROM read_parquet('{base_sf}/documents.parquet')
  CROSS JOIN generate_series(0, 9) c(c)
) TO '{dc}' (FORMAT PARQUET, ROW_GROUP_SIZE 4096)""")
    # embeddings + remaining tables: reuse the uniform tier's artifacts
    uni = build_sf1(base_sf)
    for f in os.listdir(uni):
        dst = os.path.join(SF1_ZIPF_DIR, f)
        if not os.path.exists(dst):
            os.symlink(os.path.join(uni, f), dst)
    return SF1_ZIPF_DIR


def main_zipf(names: list[str]) -> None:
    """Skewed-vs-uniform decade comparison: each keyed flagship timed on
    the uniform sf1 tier and the Zipf tier (same row counts, hot keys).
    zipf/uniform ratio > 2 flags a row for the round-8 decision rule
    (AQE forceOptimizeSkewedJoin vs operators/relational.salted_join —
    see tools/skew_probe.py and SCALE.md round-8)."""
    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.queries import QUERIES

    base_sf = "/root/testdata/sf0.1"
    uni = build_sf1(base_sf)
    zipf = build_sf1_zipf(base_sf)
    spark = get_spark("scale_probe_zipf")
    names = names or ZIPF_QUERIES
    for n in names:
        QUERIES[n](spark, base_sf).collect()  # warm-up
    print("| query | sf1 uniform (s) | sf1 zipf (s) | zipf/uniform |")
    print("|---|---|---|---|")
    results = {}
    oh = 0.2
    for n in names:
        t0 = time.time()
        QUERIES[n](spark, uni).collect()
        tu = time.time() - t0
        t0 = time.time()
        QUERIES[n](spark, zipf).collect()
        tz = time.time() - t0
        ratio = (tz - oh) / max(tu - oh, 0.05)
        results[n] = {"uniform_s": round(tu, 3), "zipf_s": round(tz, 3),
                      "ratio": round(ratio, 2)}
        flag = "  <-- SKEW" if ratio > 2 else ""
        print(f"| {n} | {tu:.2f} | {tz:.2f} | {ratio:.1f}× |{flag}")
    print(json.dumps({"metric": "zipf_probe", "results": results}))


MANYFILE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale",
    "sf1files",
)

#: per-row-Python (codec/text) rows whose fanout crutch the many-file
#: axis makes redundant
MANYFILE_QUERIES = [
    "wav_audio_features_documents",
    "jpeg_pixel_stats_documents",
    "char_entropy_documents",
    "frame_pixel_stats_documents",
    "dhash_documents",
]


def build_manyfiles(spark, nfiles: int = 64) -> str:
    """sf1 documents re-laid-out as ``nfiles`` parquet files (a
    directory named documents.parquet, which every reader treats as the
    table) — the 100-TB layout where scan parallelism comes from the
    file count, not from a post-scan shuffle."""
    os.makedirs(MANYFILE_DIR, exist_ok=True)
    base = build_sf1()
    target = os.path.join(MANYFILE_DIR, "documents.parquet")
    if not os.path.exists(target):
        (
            spark.read.parquet(os.path.join(base, "documents.parquet"))
            .repartition(nfiles)
            .write.mode("overwrite")
            .parquet(target)
        )
    for f in os.listdir(base):
        dst = os.path.join(MANYFILE_DIR, f)
        if f != "documents.parquet" and not os.path.exists(dst):
            os.symlink(os.path.join(base, f), dst)
    return MANYFILE_DIR


def main_manyfiles(names: list[str]) -> None:
    """Many-file layout probe (verdict-r12 #4): on a 64-file documents
    table with split-count-scale scan settings (maxPartitionBytes /
    openCostInBytes lowered so the toy corpus produces >= parallelism
    splits, emulating the regime a 100-TB table is always in), reports
    the scan partition count against the default parallelism (the
    fanout is skipped when the scan already saturates it) and times
    each Python-stage row with its row count. The forced-fanout side of
    this probe's round-13 A/B is recorded in SCALE.md."""
    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.queries import QUERIES

    spark = get_spark("scale_probe_files")
    many = build_manyfiles(spark)
    # split-count regime: one split per file (open cost off, tiny cap)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    names = names or MANYFILE_QUERIES
    for n in names:
        QUERIES[n](spark, many).collect()  # warm-up
    scan_parts = (
        spark.read.parquet(os.path.join(many, "documents.parquet"))
        .rdd.getNumPartitions()
    )
    par = spark.sparkContext.defaultParallelism
    print(f"scan partitions on many-file layout: {scan_parts} "
          f"(defaultParallelism {par}; fanout {'skipped' if scan_parts >= par else 'taken'})")
    print("| query | time (s) | rows |")
    print("|---|---|---|")
    results = {}
    for n in names:
        t0 = time.time()
        rows = QUERIES[n](spark, many).count()
        dt = time.time() - t0
        results[n] = {"s": round(dt, 3), "rows": rows}
        print(f"| {n} | {dt:.2f} | {rows} |")
    print(json.dumps({"metric": "manyfile_probe", "scan_partitions": scan_parts,
                      "default_parallelism": par, "results": results}))


def main_depth(depths: list[int] | None = None) -> None:
    """Deep-nesting axis for the variant melt (verdict-r12 #6): wrap
    every sf0.1 document in a ``depth``-level nested JSON object and run
    the melt + schema-inference consumers with ``max_depth=None`` (the
    round-13 unbounded adaptive mode). Reports wall-clock and per-LEVEL
    cost — a superlinear-in-depth row means the stacked
    variant_explode plan stopped scaling and needs a re-plan before the
    64-level ceiling is ever real."""
    from pyspark.sql import functions as F

    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.operators.melt_variant import (
        infer_schema_variant,
        melt_variant,
    )
    from mongo_analyser_spark.sources.parquet import load_table

    depths = depths or [2, 4, 6, 8, 10]
    spark = get_spark("scale_probe_depth")
    base = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", F.coalesce(F.col("lang"), F.lit("xx")).alias("lang"),
        F.coalesce(F.col("n_chars"), F.lit(0)).alias("n_chars"),
    )

    def nested(depth: int):
        open_ = "".join('{"l%d":' % i for i in range(1, depth + 1))
        return base.select(
            "doc_id",
            F.concat(
                F.lit(open_ + '{"s":"'), F.col("lang"), F.lit('","v":'),
                F.col("n_chars").cast("string"),
                F.lit("}" + "}" * depth),
            ).alias("doc"),
        )

    # warm-up: codegen + variant init at the smallest depth
    melt_variant(nested(depths[0]), "doc", id_col="doc_id",
                 max_depth=None).count()
    print("| depth | melt rows | melt (s) | s/level | infer_schema (s) |")
    print("|---|---|---|---|---|")
    results = {}
    for depth in depths:
        docs = nested(depth)
        t0 = time.time()
        n = melt_variant(docs, "doc", id_col="doc_id",
                         max_depth=None).count()
        tm = time.time() - t0
        t0 = time.time()
        infer_schema_variant(docs, "doc", max_depth=depth + 1).collect()
        ti = time.time() - t0
        results[depth] = {"melt_rows": n, "melt_s": round(tm, 3),
                          "per_level": round(tm / (depth + 1), 4),
                          "infer_s": round(ti, 3)}
        print(f"| {depth} | {n} | {tm:.2f} | {tm / (depth + 1):.3f} |"
              f" {ti:.2f} |")
    print(json.dumps({"metric": "depth_probe", "results": results}))


def main_sf1(names: list[str]) -> None:
    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.queries import QUERIES

    base_sf = "/root/testdata/sf0.1"
    sf1 = build_sf1(base_sf)
    spark = get_spark("scale_probe_sf1")
    names = names or SF1_QUERIES
    for n in names:
        QUERIES[n](spark, base_sf).collect()  # warm-up
    print("| query | sf0.1 (s) | sf1-synth (s) | 10× step ratio |")
    print("|---|---|---|---|")
    results = {}
    oh = 0.2
    for n in names:
        t0 = time.time()
        QUERIES[n](spark, base_sf).collect()
        tb = time.time() - t0
        t0 = time.time()
        QUERIES[n](spark, sf1).collect()
        tl = time.time() - t0
        ratio = (tl - oh) / max(tb - oh, 0.05)
        results[n] = {"sf0.1_s": round(tb, 3), "sf1_s": round(tl, 3),
                      "step": round(ratio, 2)}
        print(f"| {n} | {tb:.2f} | {tl:.2f} | {ratio:.1f}× |")
    print(json.dumps({"metric": "sf1_probe", "results": results}))


def main_longdocs(names: list[str]) -> None:
    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.queries import QUERIES

    base_sf = "/root/testdata/sf0.1"
    long_dir, long_mb = build_longdocs(base_sf)
    import duckdb

    base_mb = float(
        duckdb.sql(
            "SELECT sum(length(text))/1e6 FROM "
            f"read_parquet('{base_sf}/documents.parquet')"
        ).fetchone()[0]
    )
    spark = get_spark("scale_probe_L")
    names = names or LONGDOC_QUERIES
    for n in names:  # warm-up: codegen + Arrow init at the small scale
        QUERIES[n](spark, base_sf).collect()
    print(
        f"| query | sf0.1 {base_mb:.1f} MB (s) | longdocs {long_mb:.1f} MB (s)"
        " | s/MB base | s/MB long | per-MB ratio |"
    )
    print("|---|---|---|---|---|---|")
    results = {}
    oh = 0.2  # fixed per-job overhead in local mode
    for n in names:
        t0 = time.time()
        QUERIES[n](spark, base_sf).collect()
        tb = time.time() - t0
        t0 = time.time()
        QUERIES[n](spark, long_dir).collect()
        tl = time.time() - t0
        pb = max(tb - oh, 0.01) / base_mb
        pl = max(tl - oh, 0.01) / long_mb
        results[n] = {
            "base_s": round(tb, 3), "long_s": round(tl, 3),
            "per_mb_base": round(pb, 4), "per_mb_long": round(pl, 4),
            "ratio": round(pl / pb, 2),
        }
        print(
            f"| {n} | {tb:.2f} | {tl:.2f} | {pb:.3f} | {pl:.3f} |"
            f" {pl / pb:.2f}× |"
        )
    print(json.dumps({
        "metric": "longdoc_probe", "base_mb": round(base_mb, 2),
        "long_mb": round(long_mb, 2), "results": results,
    }))


ZIPFVOCAB_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale",
    "zipfvocab",
)


def build_zipfvocab(n_docs: int, vocab: int = 20000, doc_len: int = 30,
                    s: float = 1.1) -> str:
    """Natural-shaped text tier for the TF-IDF blocking regime
    (verdict-r13 #6): the fixture corpus has a 31-term vocabulary with
    no Zipf tail, which DEFEATS AllPairs prefix blocking — every doc's
    "rarest" terms are shared by thousands of others (SCALE.md:518).
    This tier draws ``doc_len`` tokens per doc from a ``vocab``-term
    Zipf(s) distribution via deterministic md5 inverse-CDF sampling, so
    rare terms exist and candidate growth can be measured in the
    operator's design regime. Token ranks are engine-independent
    constants (md5(doc,pos) uniforms against a precomputed CDF)."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = os.path.join(ZIPFVOCAB_DIR, f"n{n_docs}")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "documents.parquet")
    if not os.path.exists(out):
        ranks = np.arange(1, vocab + 1, dtype=np.float64)
        pmf = ranks ** (-s)
        cdf = np.cumsum(pmf) / pmf.sum()
        texts = []
        for i in range(n_docs):
            toks = []
            for j in range(doc_len):
                h = hashlib.md5(f"zv:{i}:{j}".encode()).digest()
                u = int.from_bytes(h[:8], "big") / 2 ** 64
                r = int(np.searchsorted(cdf, u)) + 1
                toks.append(f"t{r}")
            texts.append(" ".join(toks))
        tbl = pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n_docs, pa.string()),
                "source": pa.array(
                    [f"src_{i % 7}" for i in range(n_docs)], pa.string()
                ),
                "n_chars": pa.array(
                    [len(t) for t in texts], pa.int32()
                ),
            }
        )
        pq.write_table(tbl, out)
    base_sf = "/root/testdata/sf0.1"
    for f in os.listdir(base_sf):
        dst = os.path.join(out_dir, f)
        if f != "documents.parquet" and not os.path.exists(dst):
            os.symlink(os.path.join(base_sf, f), dst)
    return out_dir


def main_zipfvocab(sizes: list[int] | None = None) -> None:
    """Candidates-vs-N growth of the AllPairs prefix-blocked TF-IDF
    join on a NATURAL-vocabulary corpus (verdict-r13 #6): for each
    corpus size, report the candidate-pair count, its share of the
    all-pairs bound N(N-1)/2, and the end-to-end cosine-join wall.
    Sub-quadratic candidate growth (share falling with N) is the
    design claim SCALE.md:518 could not measure on the fixture."""
    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.operators.tfidf import (
        prefix_candidates,
        tfidf_cosine_pairs,
        tfidf_postings,
    )
    from mongo_analyser_spark.sources.parquet import load_table

    sizes = sizes or [2500, 5000, 10000, 20000]
    spark = get_spark("scale_probe_zipfvocab")
    rows = []
    for n in sizes:
        sf_dir = build_zipfvocab(n)
        docs = load_table(spark, sf_dir, "documents")
        docs.count()  # warm the scan
        post = tfidf_postings(docs)
        t0 = time.time()
        n_cand = prefix_candidates(post, "doc_id").count()
        t_cand = time.time() - t0
        t0 = time.time()
        n_pairs = tfidf_cosine_pairs(docs, threshold=0.6).count()
        t_full = time.time() - t0
        bound = n * (n - 1) // 2
        rows.append((n, n_cand, n_cand / bound, n_pairs,
                     round(t_cand, 3), round(t_full, 3)))
        print(f"  N={n}: candidates={n_cand} ({n_cand / bound:.2%} of "
              f"all-pairs), kept={n_pairs}, cand {t_cand:.2f}s, "
              f"full join {t_full:.2f}s", flush=True)
    print("\n| N docs | candidates | share of N(N-1)/2 | pairs >= 0.6 "
          "| cand wall (s) | full wall (s) |")
    print("|---|---|---|---|---|---|")
    for n, c, sh, p, tc, tf_ in rows:
        print(f"| {n} | {c} | {sh:.3%} | {p} | {tc} | {tf_} |")
    print(json.dumps({
        "metric": "zipfvocab_probe",
        "rows": [
            {"n": n, "candidates": c, "share": round(sh, 6), "pairs": p,
             "cand_s": tc, "full_s": tf_}
            for n, c, sh, p, tc, tf_ in rows
        ],
    }))


def main_codec_throughput(reps_scale: float = 1.0) -> None:
    """Per-codec throughput constants: the 100-TB story for the media
    rows is 'embarrassingly parallel Arrow stages', and this prices
    it. Each family is one decode (or, for the ``enc_`` families, one
    write) at a fixed representative payload; every call is timed
    alone in process CPU time, one call per family per round, and the
    median and min CPU ms per call are reported (a wall-clock mean over
    one block of reps drifts with host load). docs/sec/core,
    MB/sec/core (MB of the decoded or written payload) and the
    core-hours-per-TB a capacity planner needs all derive from the
    median. Pure Python — no Spark session; payloads are deterministic
    (seeded). ``reps_scale`` scales every family's rep count (3 at
    least)."""
    import random
    import statistics
    import time as _time

    from mongo_analyser_spark.operators import audio, flac, frames, jpeg
    from mongo_analyser_spark.operators import pixels as px
    from mongo_analyser_spark.operators import vp8l

    rng = random.Random(99)
    w = h = 64
    rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
    rgb32 = bytes(rng.randrange(256) for _ in range(32 * 32 * 3))
    pcm = [rng.randrange(-2000, 2000) for _ in range(16000)]
    jpeg_frame = jpeg.encode_jpeg(32, 32, 3, rgb32, quant=16)

    cases = [
        # (family, payload, decode, reps)
        ("png_rgb_64x64", px.encode_png(w, h, 3, rgb), px.decode_png, 30),
        ("jpeg_baseline_64x64",
         jpeg.encode_jpeg(w, h, 3, rgb, quant=16), jpeg.decode_jpeg, 20),
        ("jpeg12_gray_64x64",
         jpeg.encode_jpeg12(w, h, 1, [rng.randrange(4096)
                                      for _ in range(w * h)]),
         jpeg.decode_jpeg_ex, 20),
        ("gif_4f_64x64",
         frames.encode_gif(w, h, [[rng.randrange(256)
                                   for _ in range(w * h)]
                                  for _ in range(4)]),
         frames.decode_gif, 10),
        ("webp_lossless_32x32",
         vp8l.encode_webp_lossless(32, 32, 3, rgb32),
         vp8l.decode_webp_lossless, 10),
        ("flac_stereo_16k",
         flac.encode_flac(16000, [pcm, pcm]), flac.decode_flac, 10),
        ("wav_pcm16_16k",
         audio.encode_wav(16000, pcm), audio.decode_wav_ex, 30),
        ("g711_mulaw_16k",
         audio.encode_wav_g711(16000, [pcm]), audio.decode_wav_ex, 10),
        ("ima_adpcm_16k",
         audio.encode_wav_ima_adpcm(16000, pcm), audio.decode_wav_ex, 10),
        ("avi_mjpeg_4f_32x32",
         frames.encode_avi_mjpeg(32, 32, [jpeg_frame] * 4),
         frames.decode_avi, 10),
        ("mp4_jpeg_4f_32x32",
         frames.encode_mp4_mjpeg(32, 32, [jpeg_frame] * 4),
         frames.decode_mp4, 10),
    ]

    # round-15 families: TIFF (image container), HTML extraction and
    # the WARC record walk (the web-ingestion text stages — measured on
    # a ~64 KB page, the crawl-median scale)
    from mongo_analyser_spark.operators import textextract, tiff
    from mongo_analyser_spark.sources import warc as warc_src

    gray = bytes(rng.randrange(256) for _ in range(w * h))
    page = (
        "<html><head><title>t</title><style>p{}</style></head><body>"
        + "".join(
            f"<p>para {i} with <b>inline</b> &amp; entities</p>"
            for i in range(1000)
        )
        + "<script>var x=1;</script></body></html>"
    )
    warc_payload = warc_src.build_warc(
        [
            warc_src.build_warc_record(
                "response",
                warc_src.http_response_payload(page.encode()),
                "0" * 32,
                target_uri="http://x/",
                content_type="application/http;msgtype=response",
            )
        ],
        gzip_members=True,
    )
    y4m_payload = frames.encode_y4m(
        64, 64, [bytes(rng.randrange(256) for _ in range(64 * 64))
                 for _ in range(4)]
    )
    cases += [
        ("y4m_c420_4f_64x64", y4m_payload, frames.decode_y4m, 5),
        ("pnm_p6_64x64",
         px.encode_pnm(w, h, 3, rgb), px.decode_pnm, 30),
        ("tiff_lzw_pred_64x64",
         tiff.encode_tiff(w, h, 1, gray, compression="lzw",
                          predictor=True),
         tiff.decode_tiff, 10),
        ("tiff_packbits_64x64",
         tiff.encode_tiff(w, h, 1, gray, compression="packbits"),
         tiff.decode_tiff, 20),
        ("html_extract_64k", page, textextract.extract_text_html, 10),
        ("warc_gz_record_walk",
         warc_payload, lambda b: list(warc_src.parse_warc(b)), 10),
    ]
    # the remaining JPEG frame kinds and the APNG unfilter path (drawn
    # last so every payload above keeps its seeded bytes)
    rgb12 = [rng.randrange(4096) for _ in range(w * h * 3)]
    apng_frames = [
        (0, 0, w, h, bytes(rng.randrange(256) for _ in range(w * h * 3)))
        for _ in range(4)
    ]
    cases += [
        ("jpeg12_ycc420_64x64",
         jpeg.encode_jpeg12(w, h, 3, rgb12, subsample=True),
         jpeg.decode_jpeg_ex, 20),
        ("jpeg_progressive_64x64",
         jpeg.encode_jpeg_progressive(w, h, 3, rgb, quant=16),
         jpeg.decode_jpeg, 20),
        ("apng_4f_64x64",
         frames.encode_apng(w, h, 3, apng_frames), frames.decode_apng, 10),
    ]
    # writer families, drawn after every payload above so those keep
    # their seeded bytes: the timed call writes, the KB column is the
    # written size
    stereo = [pcm, [rng.randrange(-2000, 2000) for _ in range(16000)]]
    writers = [
        ("enc_jpeg_ycc420_64x64", jpeg.encode_jpeg,
         (w, h, 3, rgb, 16, True), 10),
        ("enc_jpeg12_ycc420_64x64", jpeg.encode_jpeg12,
         (w, h, 3, rgb12, 16, 0, True), 10),
        ("enc_jpeg_progressive_64x64", jpeg.encode_jpeg_progressive,
         (w, h, 3, rgb), 10),
        ("enc_jpeg12_progressive_64x64", jpeg.encode_jpeg12_progressive,
         (w, h, 3, rgb12), 10),
        ("enc_ima_adpcm_16k", audio.encode_wav_ima_adpcm, (16000, pcm), 10),
        ("enc_ima_adpcm_stereo_16k", audio.encode_wav_ima_adpcm_multi,
         (16000, stereo, 1024), 10),
        ("enc_ms_adpcm_16k", audio.encode_wav_ms_adpcm, (16000, pcm), 10),
        ("enc_ms_adpcm_stereo_16k", audio.encode_wav_ms_adpcm_multi,
         (16000, stereo), 10),
    ]
    cases += [
        (name, enc(*args), lambda _p, enc=enc, args=args: enc(*args), reps)
        for name, enc, args, reps in writers
    ]
    print("| family | payload KB | CPU ms median | CPU ms min | "
          "docs/s/core | MB/s/core | core-h per TB |")
    print("|---|---|---|---|---|---|---|")
    reps = {name: max(3, int(r * reps_scale)) for name, _, _, r in cases}
    cpu: dict[str, list[float]] = {name: [] for name in reps}
    for name, payload, fn, _ in cases:
        fn(payload)  # warm (bytecode/caches)
    # round-robin over the families, one call each per round, so a burst
    # of host load lands on every family instead of on one family's reps
    for rnd in range(max(reps.values())):
        for name, payload, fn, _ in cases:
            if rnd < reps[name]:
                t0 = _time.process_time()
                fn(payload)
                cpu[name].append(_time.process_time() - t0)
    out = {}
    for name, payload, _, _ in cases:
        med = statistics.median(cpu[name])
        mbps = len(payload) / med / 1e6
        core_h_tb = 1e6 / mbps / 3600  # 1 TB = 1e6 MB
        out[name] = {
            "payload_bytes": len(payload),
            "reps": reps[name],
            "cpu_ms_median": round(med * 1e3, 4),
            "cpu_ms_min": round(min(cpu[name]) * 1e3, 4),
            "docs_per_s_core": round(1 / med, 2),
            "mb_per_s_core": round(mbps, 3),
            "core_hours_per_tb": round(core_h_tb, 1),
        }
        print(f"| {name} | {len(payload)/1024:.1f} | {med * 1e3:.2f} | "
              f"{min(cpu[name]) * 1e3:.2f} | {1 / med:.1f} | {mbps:.3f} | "
              f"{core_h_tb:.1f} |")
    print(json.dumps({"metric": "codec_throughput", "families": out}))


def main() -> None:
    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.queries import QUERIES

    argv = sys.argv[1:]
    if argv and argv[0] == "--codec-throughput":
        main_codec_throughput(float(argv[1]) if argv[1:] else 1.0)
        return
    if argv and argv[0] == "--zipf-vocab":
        main_zipfvocab([int(a) for a in argv[1:]] or None)
        return
    if argv and argv[0] == "--long-docs":
        main_longdocs(argv[1:])
        return
    if argv and argv[0] == "--sf1":
        main_sf1(argv[1:])
        return
    if argv and argv[0] == "--wide-vectors":
        main_wide([int(a) for a in argv[1:]] or None)
        return
    if argv and argv[0] == "--zipf":
        main_zipf(argv[1:])
        return
    if argv and argv[0] == "--many-files":
        main_manyfiles(argv[1:])
        return
    if argv and argv[0] == "--depth":
        main_depth([int(a) for a in argv[1:]] or None)
        return
    names = argv or HEADLINE
    spark = get_spark("scale_probe")

    # warm-up at the largest sf so codegen/classloading is paid up front
    for n in names:
        QUERIES[n](spark, SFS[-1]).collect()

    results: dict[str, list[float]] = {}
    for n in names:
        times = []
        for sf in SFS:
            t0 = time.time()
            QUERIES[n](spark, sf).collect()
            times.append(round(time.time() - t0, 3))
        results[n] = times

    print("| query | sf0.001 (s) | sf0.01 (s) | sf0.1 (s) | 10× data step ratio |")
    print("|---|---|---|---|---|")
    for n, (t1, t2, t3) in results.items():
        # growth on the 0.01→0.1 step, with ~0.2 s fixed job overhead removed
        oh = 0.2
        ratio = (t3 - oh) / max(t2 - oh, 0.05)
        print(f"| {n} | {t1:.2f} | {t2:.2f} | {t3:.2f} | {ratio:.1f}× |")
    print(json.dumps({"metric": "scale_probe", "sfs": [0.001, 0.01, 0.1], "times": results}))


if __name__ == "__main__":
    main()
