"""Registry-order pins: the external harness oracle-checks only the FIRST
50 registry entries, so every query family must have a representative
inside that window (round-1 verdict Next-round #4)."""

from mongo_analyser_spark.queries import ORACLES, QUERIES

CHECK_WINDOW = 50

# one representative per query family, each inside the window
MUST_BE_CHECKED = [
    "kmeans_step_embeddings",
    "tumbling_hourly_events",
    "dedup_first_event_per_user_type",
    "field_stats_events",
    "q1_pricing_summary",
    "dedup_minhash_pairs_documents",
    "convert_export_events",
    "q2_min_cost_supplier",
    "remove_repeated_spans_documents",
    "countmin_user_counts_events",
    "bloom_decontaminate_documents",
    "kneser_ney_nll_documents",
    "char_entropy_documents",
    "tfidf_cosine_pairs_documents",
    "pq_adc_rerank_topk_embeddings",
    "embedding_covariance_upper",
    "wav_audio_features_documents",
    "mg_heavy_hitters_events",
    "quantile_sketch_report_events",
    "theta_overlap_pairs_documents",
    "triangle_count_near_dup",
    "scd2_event_type_events",
    "ewma_smooth_events",
    "ivfpq_topk_embeddings",
    "minhash_estimate_error_pairs",
    "frame_pixel_stats_documents",
    "pca_project_embeddings",
    "scd2_pit_join_events",
    "chunk_tokens_documents",
    "similarity_topk_embeddings_arrow",
    "wav_pcm24_features_documents",
    "deep_melt_documents",
    "flac_audio_features_documents",
    "webp_lossless_pixels_documents",
    "g711_audio_features_documents",
    "jpeg12_pixel_stats_documents",
    "avi_mjpeg_frames_documents",
    "mp4_jpeg_frames_documents",
    "adpcm_audio_features_documents",
    "deep_melt_arrow_documents",
    "mp1_subband_features_documents",
    "jpeg12p_pixel_stats_documents",
]


def test_every_family_inside_driver_check_window():
    first = set(list(QUERIES)[:CHECK_WINDOW])
    missing = [q for q in MUST_BE_CHECKED if q not in first]
    assert not missing, f"outside the driver's first-{CHECK_WINDOW}: {missing}"


# approximate-sketch queries are rows-only BY DESIGN (HLL / t-digest
# answers are not SQL-reproducible); everything else must have an oracle.
# quality_deciles_documents_approx graduated OUT of this set in round 6:
# its histogram/cumulative-rank rewrite is exactly SQL-reproducible.
ROWS_ONLY = {
    "field_stats_events_hll",
    "value_percentiles_events_approx",
    # (similarity_topk_embeddings_arrow graduated to hash-oracled in
    # round 12: the kernel quantizes FLOOR(x*1e6+0.5)/1e6 before
    # ranking — the PCA discipline — so BLAS summation order cannot
    # move the hash; EXACT row parity with the fold twin stays
    # pytest-pinned in test_similarity.py — verdict-r11 #5)
    # round-8: JPEG round trip — IDCT floats are engine-specific; the
    # PNG roundtrip twin stays hash-oracled and DC-only fixtures are
    # pinned exactly in tests/test_pixels.py
    "jpeg_pixel_stats_documents",
    # round-14: the production-width tier (verdict-r13 #2/#3) — driver
    # eigh + Arrow np.round at d=768 have no SQL twins; the 64-dim
    # hash-oracled pca/ivfpq rows stay the exactness witnesses, and
    # tests/test_pca.py + tests/test_pq.py gate subspace fidelity and
    # recall@5 respectively
    "pca_project_wide_embeddings",
    "ivfpq_wide_topk_embeddings",
    # (pca_project_embeddings graduated to hash-oracled in round 11:
    # fixed-iteration quantization-synced power iteration with an
    # unrolled SQL twin — verdict-r10 #4)
}


def test_every_query_has_an_oracle_or_is_declared_rows_only():
    assert set(QUERIES) - set(ORACLES) == ROWS_ONLY
    # rows-only sketches stay OUT of the driver's oracle window (each has
    # an exact in-window twin). field_stats_events_hll made its one
    # deliberate in-window appearance in round 7 (CORRECTNESS_r07 records
    # the weaker rows-only check); round 8 restored a 50/50 hash-green
    # window (verdict-r7 #2). Round 15 repeated that precedent for the
    # production-width tier (verdict-r14 #1); round 16 restores the
    # 50/50 hash-green window (verdict-r15 #1): every in-window row is
    # hash-oracled again.
    first = set(list(QUERIES)[:CHECK_WINDOW])
    assert ROWS_ONLY & first == set()
    assert {"field_stats_events", "value_percentiles_events"} <= set(QUERIES)


def test_tail_queries_are_still_registered():
    """Moved-to-tail near-duplicates stay registered (local oracle gate +
    pytest still exercise them)."""
    names = list(QUERIES)
    for q in (
        "rollup_orders_priority_status",
        "cube_lineitem_flags",
        "q12_priority_by_status",
    ):
        assert q in names[CHECK_WINDOW:]


def test_registry_order_is_canonical_and_fully_curated():
    """The registry order must equal WINDOW_QUERIES + TAIL_QUERIES exactly:
    the driver samples the first 50, so an uncurated (unlisted) query would
    silently displace a family representative. Forces every new query to be
    placed deliberately in one of the two lists."""
    from mongo_analyser_spark.queries import TAIL_QUERIES, WINDOW_QUERIES

    assert len(WINDOW_QUERIES) == CHECK_WINDOW
    assert list(QUERIES) == list(WINDOW_QUERIES + TAIL_QUERIES)


def test_registry_order_is_import_order_invariant():
    """Importing queries_pipeline or queries_streaming FIRST must yield the
    same registry order as the canonical queries-first import (each module
    re-runs curate_tail at its bottom)."""
    import subprocess
    import sys

    script = (
        "import mongo_analyser_spark.queries_{} ; "
        "from mongo_analyser_spark.queries import QUERIES ; "
        "print('|'.join(QUERIES))"
    )
    canonical = "|".join(QUERIES)
    for mod in ("pipeline", "streaming"):
        out = subprocess.run(
            [sys.executable, "-c", script.format(mod)],
            capture_output=True, text=True, check=True, cwd="/root/repo",
        ).stdout.strip()
        assert out == canonical, f"order diverges when {mod} imported first"


def test_every_registry_row_has_a_baseline_entry():
    """The round-10 measured gate: NO registry row ships without a
    BASELINE.md sf0.1 timing row (BENCH_r09 timed out on exactly such an
    unbenched row). This makes the discipline mechanical instead of a
    SKILL.md instruction."""
    import re

    txt = open("/root/repo/BASELINE.md").read()
    names = set(re.findall(r"^\| (\w+) \| 0\.1 \|", txt, re.M))
    missing = [q for q in QUERIES if q not in names]
    assert not missing, f"registry rows without a BASELINE.md entry: {missing}"
