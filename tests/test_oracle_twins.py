"""Codec rows and their DuckDB twins, checked inside the suite: every row
built on the shared feature laws (``fanout.q4``, ``audio.clip_features``,
the ``pixels`` mean/max, gradient and four-block helpers) runs at sf0.001
against its oracle, and the rounded-float twins are pinned on inputs
where DuckDB's ROUND yields a signed zero."""

from __future__ import annotations

import importlib.util
import os

import pytest

from mongo_analyser_spark.queries import ORACLE_GENERATORS, ORACLES, QUERIES

_spec = importlib.util.spec_from_file_location(
    "check_oracle",
    os.path.join(os.path.dirname(__file__), "..", "tools", "check_oracle.py"),
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)

SF = "/root/testdata/sf0.001"

SHARED_LAW_ROWS = [
    "wav_audio_features_documents",
    "wav_resample_features_documents",
    "wav_frame_features_documents",
    "wav_multichannel_features_documents",
    "wav_pcm24_features_documents",
    "au_audio_features_documents",
    "aiff_audio_features_documents",
    "flac_audio_features_documents",
    "g711_audio_features_documents",
    "adpcm_audio_features_documents",
    "jpeg12_pixel_stats_documents",
    "jpeg12p_pixel_stats_documents",
    "jpeg12s_pixel_stats_documents",
    "tiff_pixel_stats_documents",
    "ico_pixel_stats_documents",
    "pnm_pixel_stats_documents",
    "webp_lossless_pixels_documents",
    "webdataset_samples_documents",
    "frame_pixel_stats_documents",
    "gif_frame_pixels_documents",
    "y4m_frame_pixels_documents",
    "avi_mjpeg_frames_documents",
    "mp4_jpeg_frames_documents",
]


@pytest.mark.parametrize("name", SHARED_LAW_ROWS)
def test_shared_law_row_matches_its_oracle(spark, name):
    assert name in ORACLES
    n_ran, failures = check_oracle.check(spark, SF, only={name})
    assert (n_ran, failures) == (1, [])


def _compare(spark, name: str, sf_dir: str, table: str) -> None:
    """The builder's rows and the oracle's rows over ``sf_dir``'s one
    ``table`` are the same multiset (signed zeros kept distinct)."""
    import duckdb

    sdf = QUERIES[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"read_parquet('{sf_dir}/{table}.parquet')"
    )
    sql = ORACLE_GENERATORS[name](sf_dir) if name in ORACLE_GENERATORS else ORACLES[name]
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = [tuple(r) for r in res.fetchall()]
    assert sorted(sdf.columns) == sorted(ocols)
    assert check_oracle.multiset(srows, sdf.columns) == check_oracle.multiset(orows, ocols)


def _embeddings(path, vecs) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }),
        str(path / "embeddings.parquet"),
    )


def test_signed_zero_kmeans_step(spark, tmp_path):
    # eight unit vectors seed eight cells; vector 0 carries -1e-7 at
    # position 10, so its cell's mean there rounds to zero from below
    vecs = [[1.0 if j == i else 0.0 for j in range(64)] for i in range(8)]
    vecs[0][9] = -1e-7
    _embeddings(tmp_path, vecs)
    _compare(spark, "kmeans_step_embeddings", str(tmp_path), "embeddings")


def test_signed_zero_jl_project(spark, tmp_path):
    # a coordinate of 1e-6 times a -0.25 plane entry rounds to zero
    # from below
    vecs = [[1e-6] + [0.0] * 63, [0.5] * 64]
    _embeddings(tmp_path, vecs)
    _compare(spark, "jl_project_embeddings", str(tmp_path), "embeddings")


def test_signed_zero_nb_quality_scores(spark, tmp_path):
    # document 0's mean log-likelihood ratio is a tiny negative float
    # residue, which rounds to zero from below
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
            "text": ["a c", "b c b", "c c b", "b b c a"],
            "lang": ["en", "en", "de", "en"],
        }),
        str(tmp_path / "documents.parquet"),
    )
    _compare(spark, "nb_quality_scores_documents", str(tmp_path), "documents")
