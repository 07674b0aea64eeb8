"""Queries that read a shared derived relation agree with their oracles.

Each derived relation below has one Spark builder and one oracle CTE
text (DESIGN.md, "Shared derived relations"). This pins every
consumer, plus the trade-graph degree distribution, the queries on
the shared media stages (``doc_rows``, ``payload_features``) and the
readers of the shared lane hash (``dedup.lane_hash``) and its prime,
against its DuckDB oracle at the test scale, through the same compare
the oracle checker uses. The ALS pair has no oracle (its factor math is
iteration-order dependent), so it only has to return rows.
"""

from __future__ import annotations

import glob
import os

import pytest

from realestate_engine.registry import QUERIES, load_all
from tools.check_oracle import compare, oracle_connection, oracle_sql

load_all()

SHARED_RELATION_QUERIES = [
    # frame_offsets / frame_hamming
    "mm_frame_sample", "mm_scene_cut", "mm_keyframe_select",
    # _ZTEST_* / segment_ztests
    "ev21_two_proportion_ztest", "ev23_holm_bonferroni", "ev29_benjamini_hochberg",
    # survival_subjects / survival_census
    "ev13_kaplan_meier", "ev27_logrank_test", "ev32_cox_proportional_hazards",
    # rater_votes
    "dq27_rater_agreement", "m62_dawid_skene",
    # dsir_terms
    "t28_dsir_importance_weights", "corpus_curation_funnel",
    # daily_milli_events / centered_daily / seasonal_decomposition
    "ts9_seasonal_decompose", "ts10_autocorrelation", "ts11_decomposition_strength",
    "ts13_ljung_box", "ts14_phase_folding_periodogram",
    "ts15_mann_kendall", "ts16_granger_causality", "ts17_cross_correlation",
    "ts18_max_drawdown", "ts19_pacf_durbin_levinson", "ts20_haar_energy",
    # wp_words / wp_prefixes / wp_grid
    "t26_wordpiece_tokenize", "t31_unigram_viterbi",
    # pair_shingle_sets / cluster_members
    "dedup_minhash_lsh", "dedup_lsh_recall_report", "dedup_threshold_sweep",
    "dedup_minhash_incremental", "dedup_canonical_selection", "dedup_pipeline_summary",
    # newton_fit, ols_moments, als_ratings
    "m43_logreg_newton", "m50_poisson_newton", "m54_platt_scaling",
    "m26_ols_normal_equations", "m37_linear_shap",
    "m16_als_recommend", "m20_als_recall_eval",
    # trade_graph
    "graph_degree_distribution",
    # doc_rows: the one per-document media stage
    "mm_jpeg_roundtrip", "mm_jpeg_progressive", "mm_jpeg_lossless",
    "mm_flac_roundtrip", "mm_wav_roundtrip", "mm_gif_roundtrip", "mm_mjpeg_avi",
    "mm_tiff_probe", "mm_png_crc_audit", "mm_flac_crc_audit",
    "mm_mp4_probe", "mm_ogg_probe", "mm_mp3_probe", "mm_ogg_crc_audit", "mm_bmp_roundtrip",
    # payload_features
    "mm_image_features", "mm_audio_features",
    # period_bucket_counts / _PERIOD_BUCKET_CTES
    "dq_drift_audit", "dq13_psi_drift",
    # lane_hash / lane_hash_sql, and the prime a22 shares with them
    "j10_bloom_join_prune", "a39_selfjoin_size_sketch", "dq14_skipping_audit",
    "a22_count_min_sketch",
]


@pytest.fixture(scope="module")
def con(sf_dir):
    return oracle_connection(sf_dir)


@pytest.mark.parametrize("name", SHARED_RELATION_QUERIES)
def test_shared_relation_consumer_matches_its_oracle(spark, sf_dir, con, name):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    sql = oracle_sql(name, sf_dir)
    if sql is None:
        assert name in ("m16_als_recommend", "m20_als_recall_eval")
        assert len(sdf) > 0
        return
    assert compare(sdf, con.execute(sql).fetchdf()) == []


def test_s13_oracle_reads_the_files_of_its_scale(sf_dir, con):
    """The s13 oracle names the driver's sf0.01 directory; oracle_sql
    rewrites it, so at the test scale it lists the test scale's files
    and sizes, not sf0.01's."""
    rows = con.execute(oracle_sql("s13_binaryfile_scan", sf_dir)).fetchall()
    files = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    expected = [
        (os.path.basename(f)[: -len(".parquet")], os.path.getsize(f), os.path.getsize(f))
        for f in files
    ]
    assert rows == expected
