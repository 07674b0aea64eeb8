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

The current window: flagship, then the ten trade-graph consumers
(graph.py/graph2.py), which read the one cached trade_graph relation,
then the six queries on the session store's paths (the four readers
of the memoized dedup cluster labels, two-star clustering over the
same near-dup edges, and the walks, which now read trade_graph), then
the nine queries whose edges or merge loop now have one definition
(k-core, Boruvka and matching read trade_graph; triangle count,
clustering coefficient, k-truss and Adamic-Adar read part_graph; the
two BPE queries share _bpe_learn), then the nine queries newly on a
shared loop or fit (the four iterate callers not listed above, the
three Newton fits on newton_fit, ts9 and ts11 on
seasonal_decomposition), then the 15 stalest ledger names.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from realestate_engine import registry
from realestate_engine.queries_core import flagship_revenue_by_nation

registry.load_all()

_WINDOW = [
    "flagship_revenue_by_nation",
    # --- the ten trade-graph consumers, which now all read the one
    #     cached trade_graph relation (graph.py) and, for pagerank and
    #     personalized pagerank, one recurrence
    "graph_pagerank_trade", "graph_personalized_pagerank",
    "graph_label_propagation", "graph_modularity", "graph_link_prediction",
    "graph_bfs_hops", "graph_mis_luby", "graph_degree_assortativity",
    "graph_rich_club", "graph_anf_neighborhood",
    # --- the session store's paths: memoized cluster labels
    #     (registry.shared) and the walks on trade_graph
    "dedup_clusters", "dedup_clusters_twostar", "dedup_canonical_selection",
    "dedup_leakage_safe_split", "dedup_pipeline_summary",
    "graph_deterministic_walks",
    # --- one definition per graph and one BPE merge loop: the rest of
    #     trade_graph's readers, part_graph's four readers, _bpe_learn's two
    "graph_kcore", "graph_boruvka_msf", "graph_greedy_matching",
    "graph_triangle_count", "graph_clustering_coefficient", "graph_ktruss",
    "graph_adamic_adar", "text_bpe_merge_rounds", "t30_bpe_encode",
    # --- one round loop and one Newton fit: the rest of iterate's
    #     callers, newton_fit's three, seasonal_decomposition's two
    "m55_bradley_terry", "t34_textrank_keywords", "sim_ivf_build_exact",
    "x37_occ_conflict_audit", "m43_logreg_newton", "m50_poisson_newton",
    "m54_platt_scaling", "ts9_seasonal_decompose", "ts11_decomposition_strength",
    # --- the 15 stalest ledger names outside the above, per
    #     `python tools/ledger.py stale --exclude-window` after folding
    #     CORRECTNESS_r13..r15 into COVERAGE.md
    "dq8_id_gap_islands", "dq9_referential_integrity", "f16_mom_growth",
    "m23_roc_auc_ranksum", "mm_ahash_neardup", "mm_scene_cut",
    "p14_dense_reid", "pack_documents_greedy",
    "range_join_clicks_before_purchase", "s22_csv_malformed_modes",
    "s24_bucketed_join_no_shuffle", "scd2_intervals", "sim_lsh_ann",
    "st_stateful_running_totals", "text_contamination_ngrams",
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
