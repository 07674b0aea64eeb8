"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in the ``realestate_engine`` package; this module is
only the adapter.

The first entries of queries() are the driver's 50-query correctness
window. The driver caps CORRECTNESS_r{N}.json at 50 entries, so the
window ROTATES each round to accumulate driver-verified coverage.
The full per-round rotation history lives in COVERAGE.md's
"Driver-window ledger" section, kept by ``tools/ledger.py`` (append
each CORRECTNESS file, then ``stale`` for the next window's names).

The current window: the ten trade-graph consumers (graph.py), which
read the one cached trade_graph relation, then three queries on the
session store's paths (two readers of the memoized dedup cluster
labels, and the walks, which read trade_graph), then the nine queries
whose edges or merge loop have one definition (k-core, Boruvka and
matching read trade_graph; triangle count, clustering coefficient,
k-truss and Adamic-Adar read part_graph; the two BPE queries share
_bpe_learn), then seven queries on a shared loop or fit (the four
iterate callers not listed above, m43 on newton_fit, ts9 and ts11 on
seasonal_decomposition), then the 15 media round-trip and probe
queries that run through the one per-document Python stage,
multimodal.doc_rows, then the six queries on the relations the
module-per-family layout merged: the two drift scores on
period_bucket_counts and the four sketches and audits on
dedup.lane_hash and its prime. The six names they replaced
(flagship, three dedup cluster readers, m50 and m54) were the window's
most recently verified ones.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from realestate_engine import registry
from realestate_engine.queries_core import flagship_revenue_by_nation

registry.load_all()

_WINDOW = [
    # --- the ten trade-graph consumers, which now all read the one
    #     cached trade_graph relation (graph.py) and, for pagerank and
    #     personalized pagerank, one recurrence
    "graph_pagerank_trade", "graph_personalized_pagerank",
    "graph_label_propagation", "graph_modularity", "graph_link_prediction",
    "graph_bfs_hops", "graph_mis_luby", "graph_degree_assortativity",
    "graph_rich_club", "graph_anf_neighborhood",
    # --- the session store's paths: memoized cluster labels
    #     (registry.shared) and the walks on trade_graph
    "dedup_canonical_selection", "dedup_pipeline_summary",
    "graph_deterministic_walks",
    # --- one definition per graph and one BPE merge loop: the rest of
    #     trade_graph's readers, part_graph's four readers, _bpe_learn's two
    "graph_kcore", "graph_boruvka_msf", "graph_greedy_matching",
    "graph_triangle_count", "graph_clustering_coefficient", "graph_ktruss",
    "graph_adamic_adar", "text_bpe_merge_rounds", "t30_bpe_encode",
    # --- one round loop and one Newton fit: the rest of iterate's
    #     callers, one of newton_fit's three, seasonal_decomposition's two
    "m55_bradley_terry", "t34_textrank_keywords", "sim_ivf_build_exact",
    "x37_occ_conflict_audit", "m43_logreg_newton",
    "ts9_seasonal_decompose", "ts11_decomposition_strength",
    # --- one per-document media stage: the 15 callers of doc_rows
    #     (multimodal.py, queries_media_probes.py)
    "mm_jpeg_roundtrip", "mm_jpeg_progressive", "mm_jpeg_lossless",
    "mm_flac_roundtrip", "mm_wav_roundtrip", "mm_gif_roundtrip", "mm_mjpeg_avi",
    "mm_tiff_probe", "mm_png_crc_audit", "mm_flac_crc_audit",
    "mm_mp4_probe", "mm_ogg_probe", "mm_mp3_probe", "mm_ogg_crc_audit",
    "mm_bmp_roundtrip",
    # --- merged by the module-per-family layout: period_bucket_counts
    #     (queries_quality.py) and dedup.lane_hash with its prime
    "dq_drift_audit", "dq13_psi_drift",
    "j10_bloom_join_prune", "a39_selfjoin_size_sketch", "dq14_skipping_audit",
    "a22_count_min_sketch",
]
assert len(_WINDOW) == 50, len(_WINDOW)
assert len(set(_WINDOW)) == 50


def _ordered() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {name: registry.QUERIES[name] for name in _WINDOW}
    out.update((n, f) for n, f in registry.QUERIES.items() if n not in out)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_revenue_by_nation(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for each SQL-expressible query."""
    ordered = _ordered()
    return {n: registry.ORACLES[n] for n in ordered if n in registry.ORACLES}
