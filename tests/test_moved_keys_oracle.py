"""The exact-gate keys whose kernels live in one shared definition
(MinHash signature + band fold, incremental-dedup probe, nearest-
centroid argmin, PQ tables, PCM16 and pixel synthesis, Gini gain,
duplicate-span islands, prefix-filter CTEs) each match their DuckDB
oracle at the test scale factor: same columns, same row count, same
order-insensitive values, as ``tools/check_oracle.py`` compares them."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import duck_connection, normalize_rows  # noqa: E402

from etl_tool_rep_spark.queries import ORACLES, QUERIES  # noqa: E402

KEYS = [
    # MinHash signature, band fold and incremental-dedup probe
    "minhash_lsh_exact", "incremental_minhash_dedup",
    "incremental_dedup_retire", "minhash_estimate_census",
    # nearest-centroid argmin, PQ codes and ADC tables, IVF probes
    "kmeans_exact", "ann_pq_exact", "ivf_probe_exact",
    "incremental_ann_index", "incremental_ann_retire",
    # PCM16 and pixel synthesis
    "wav_decode_exact", "audio_downsample_exact", "jpeg_decode_exact",
    "video_frame_sample", "multimodal_decode_exact",
    "image_resize_exact",
    # Gini gain, span islands, prefix-filter CTEs
    "decision_stump_train", "stump_cv", "exact_substring_spans",
    "exact_substring_cut", "prefix_filter_jaccard", "blocking_recall",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connection(sf_dir)


@pytest.mark.parametrize("key", KEYS)
def test_key_matches_oracle(spark, sf_dir, duck, key):
    df = QUERIES[key](spark, sf_dir)
    got = normalize_rows(df.columns, [tuple(r) for r in df.collect()])
    rel = duck.sql(ORACLES[key])
    want = normalize_rows(rel.columns, rel.fetchall())
    assert got[1], f"{key}: no rows"
    assert got == want
