"""Physical-plan audit: explain() every registered query and flag the
plan shapes that break at 100 TB.

Flags:
- BroadcastNestedLoopJoin / CartesianProduct where not explicitly
  intended (only j3_cross and the 1-row-probe broadcast cross joins of
  the similarity queries are allowed);
- LocalTableScan / Scan ExistingRDD inside relational queries (a
  driver-materialized detour), except the intentional local-row source;
- BatchEvalPython anywhere (row-at-a-time Python);
- unpartitioned window specs (windowspecdefinition with zero partition
  expressions — the whole input funnels through ONE task; DESIGN.md's
  no-single-partition-window invariant, machine-enforced);
- parquet scans with no pushed filters when the query filters the scan
  column (informational).

Each query's line also carries its plan-shape counts — exchanges,
sort-merge and broadcast joins, Python nodes and InMemoryTableScans —
from perfbench.trace.plan_counts, the counter the benchmark's
``plan.*`` metrics use, over the same executed-plan tree string.

Usage: python tools/plan_audit.py [--sf DIR] [name ...]
Exit code 1 if any hard flag fires.
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, ".")

# Queries whose plans legitimately contain a cross/nested-loop join:
# an explicit cartesian operator, or a broadcast of a 1-row probe /
# k-row constant side (cost O(|corpus|), not O(n·m)).
ALLOWED_CROSS = {
    "j3_cross",
    "sim_bruteforce_topk",
    "sim_lsh_ann",
    "sim_ivf_kmeans_topk",
    "text_tfidf_top_term",  # broadcast 1-row n_docs count
    "t28_dsir_importance_weights",  # broadcast 1-row (Nt, Nr, V) totals aggregate
    "ev23_holm_bonferroni",  # broadcast non-equi self-joins over the 5-row test frame (rank + step-down prefix AND)
    "sim_coreset_sensitivity",  # broadcast 1-row (total, n) aggregate cross join
    "corpus_curation_funnel",  # broadcast 1-row (Nt, Nr, V) totals aggregate (the t28 DSIR stage)
    "ev24_power_analysis",  # 5-row constant delta grid cross-joined with the 1-row pooled-rate aggregate
    "m52_isotonic_pav_exact",  # broadcast non-equi self-joins over the 10-row bin frame (interval grid + max-min)
    "m53_brier_decomposition",  # broadcast 1-row base-rate totals onto the 10-row bin frame
    "m54_platt_scaling",  # broadcast 1-row smoothed-target totals + 1-row Newton params per round (the m43 posture)
    "graph_mis_luby",  # broadcast 1-row per-round counts + 1-row independence-proof frame onto the 4-row census
    "t32_heaps_law",  # broadcast 10-row decile-cut frame (non-equi prefix joins) + 1-row OLS fit
    "sim_mips_topk",  # broadcast 1-row probe + 1-row query-norm + 1-row max-norm frames (the bruteforce posture)
    "m56_fairness_audit",  # broadcast 1-row median threshold + 1-row global-rate frame onto the 5-row segment frame
    "a50_anova_oneway",  # broadcast 1-row grand-mean + SS aggregates (ANOVA identity)
    "x35_checkpoint_equivalence",  # cross join of four 1-row census counts over the 40-row log frame
    "m8_smearing_inverse",  # broadcast 1-row sigma aggregate
    "m11_regression_metrics_sql",  # broadcast 1-row global-mean aggregate
    "tpch_q11_important_balance",  # broadcast 1-row global-balance aggregate
    "tpch_q15_top_supplier",  # broadcast 1-row max-revenue aggregate
    "m13_batch_predict",  # broadcast 1-row sigma aggregate
    "tpch_q22_sales_opportunity",  # broadcast 1-row avg-balance threshold
    "sim_pca_topk",  # broadcast 1-row reduced probe vector
    "text_unigram_logprob",  # broadcast 1-row total-token count
    "t23_bigram_perplexity",  # broadcast 1-row vocab-size aggregate onto the token stream
    "dq_expectations",  # cross join of three 1-row violation summaries
    "text_oov_rate",  # broadcast 1-row total-token count onto word freqs
    "ev_funnel_conversion",  # cross join of three 1-row stage counts
    "a21_skew_audit",  # broadcast 1-row key-cardinality stats
    "graph_pagerank_trade",  # broadcast 1-row node count into rank init
    "graph_modularity",  # broadcast 1-row directed-edge-count (2m) aggregate onto the community frame
    "ts13_ljung_box",  # ts10's 1-row mean/denominator broadcasts + non-equi prefix self-join over the 7-row lag frame
    "m57_mcnemar_test",  # broadcast 1-row two-median threshold frame (the m28 posture)
    "a52_goodman_kruskal_gamma",  # broadcast 1-row decile cuts + non-equi self-join over the ~500-row cell ledger
    "ev27_logrank_test",  # ev13's at-risk suffix self-join over the ~130-row duration census + 1-row totals
    "a53_mutual_information",  # broadcast 1-row decile cuts + 1-row N total onto the <=50-cell table
    "ts14_phase_folding_periodogram",  # ts10's 1-row mean broadcast + 1-row totals onto the <=104-row folded frame
    "x36_write_audit_publish",  # broadcast non-equi prefix self-join over the 10-row commit ledger
    "m58_delong_auc_test",  # broadcast 1-row class totals onto samples and the 1-row moment frame
    "ev28_regression_discontinuity",  # broadcast 1-row cutoff/bandwidth quantile frame onto orders
    "ts15_mann_kendall",  # broadcast non-equi sign census over the ~365-row day ledger + 1-row totals
    "m59_friedman_test",  # broadcast 1-row deviation frame onto the 3-row rule frame
    "ev29_benjamini_hochberg",  # broadcast non-equi self-joins over the 5-row test frame (rank + step-up suffix OR)
    "graph_rich_club",  # broadcast 6-row threshold grid fanned onto the degree census / endpoint-degree frame
    "a54_kruskal_wallis",  # broadcast 1-row totals onto the 5-group frame + 1-row H/tie combine
    "ev30_gini_lorenz",  # broadcast 1-row totals onto the census + 10-row decile grid (non-equi running max)
    "dq26_mahalanobis_outliers",  # broadcast 1-row moment aggregate onto one map-side pass
    "t33_good_turing",  # broadcast 1-row totals onto the 20-row frequency grid
    "graph_anf_neighborhood",  # broadcast 1-row n_sources count onto the 4-row N(t) frame
    "ts16_granger_causality",  # broadcast 1-row mean/moment/RSS frames onto the day ledger
    "ts17_cross_correlation",  # broadcast 1-row mean + denominator frames onto the day ledger (the ts10 posture)
    "ts18_max_drawdown",  # broadcast 8-row partition-max offsets (exclusive-prefix idiom) + 1-row n_days
    "ev31_empirical_bayes_shrinkage",  # broadcast 1-row totals/variance/prior frames onto the 25-row segment frame
    "graph_greedy_matching",  # broadcast 1-row validity frame onto the 4-row round census
    "ts19_pacf_durbin_levinson",  # broadcast 1-row mean/denominator frames onto the day ledger (the ts10 posture)
    "ts20_haar_energy",  # broadcast 16-row window (rank-join ordinal) + 1-row total energy onto the 4-row level census
    "ev32_cox_proportional_hazards",  # broadcast 1-row beta frame per Newton round onto the days-bounded risk ledger (the m43 posture)
    "m62_dawid_skene",  # broadcast 1-row rater-param frame per EM round onto the 8-row vote-pattern census
    "m63_average_precision",  # broadcast 1-row totals onto the 1-row AP term sum
    "graph_hits_authorities",  # broadcast 1-row max-score frame per half-step renorm
    "graph_degree_distribution",  # broadcast 32-row powers-of-two constant frame
    "dedup_lsh_hot_bucket_guard",  # cross join of two 1-row stat aggregates
    "graph_personalized_pagerank",  # broadcast 1-row seed count into rank init
    "dq_drift_audit",  # broadcast 1-row period totals
    "t15_collocations",  # broadcast 1-row total-token count
    "graph_triangle_count",  # cross join of two 1-row counts
    "graph_clustering_coefficient",  # cross join of three 1-row census aggregates
    "m16_als_recommend",  # MLlib blocked factor cross join (top-k per block, by design)
    "m20_als_recall_eval",  # same MLlib blocked factor cross join inside recommend
    "a23_equidepth_histogram",  # broadcast 1-row decile cut array
    "a18_hll_sketch_rollup",  # broadcast 1-row global exact-distinct onto the union row
    "j10_bloom_join_prune",  # cross join of four 1-row pruning-ledger aggregates
    "dq13_psi_drift",  # broadcast 1-row period-totals frame onto the bucket ledger
    "a38_skyline_frontier",  # broadcast 1-row decile cuts + <=10-row bucket-ledger self-join
    "m31_conformal_interval",  # broadcast 1-row residual-quantile frame onto the test split
    "a39_selfjoin_size_sketch",  # cross join of two 1-row size aggregates (exact vs sketch)
    "a40_median_of_medians",  # broadcast 1-row MoM + global-median frames
    "ev12_diff_in_diff",  # broadcast 1-row DiD contrast onto the 4-cell frame
    "t19_zipf_fit",  # broadcast rank self-join over the 100-row top-words frame
    "a41_hll_set_algebra",  # cross join of four 1-row exact counts + 1-row sketch frame
    "a42_bitmap_distinct_rollup",  # broadcast 1-row rollup-proof boolean onto the group frame
    "m32_permutation_test",  # broadcast 1-row observed-DiD frame onto the K-row null frame
    "m36_poisson_bootstrap_ci",  # 32-row replicate fan-out broadcast + 32-row order-stat rank join
    "x29_rendezvous_sharding",  # broadcast 7/8-row shard-range fan-outs (constant frames)
    "ev17_cuped_adjustment",  # chained 1-row broadcast scalars (means, theta, arm effects, variances)
    "ev18_shapley_attribution",  # broadcast 3x8 coalition-frame joins (constant size by construction)
    "a43_histogram_quantile_rollup",  # <=64-row bucket-ledger cumulative self-join + 1-row broadcasts
    "x26_late_dimension_replay",  # cross join of five 1-row replay-ledger aggregates
    "m30_woe_iv_binning",  # broadcast 1-row quintile-cuts + class-totals frames
    "m18_negative_sampling",  # broadcast 1-row item count + 4-row k range
    "x12_salted_join",  # broadcast 8-row salt range onto the dim side
    "dq5_benford_audit",  # broadcast 1-row total count
    "m28_confusion_matrix",  # broadcast 1-row median-threshold aggregate
    "m29_lift_gains_table",  # 1-row cuts/totals broadcasts + 10-row ledger self-join
    "dq19_t_closeness",  # broadcast 5-row segment-totals + 1-row total frames onto the class grid
    "sim_ivf_pq",  # broadcast 8-row cell grid + 1-row query + <=2-row probe-cell frames
    "t25_kneser_ney_bigram",  # broadcast 1-row bigram-type count onto the counted type frame
    "ts_cusum_changepoints",  # broadcast 1-row series total/count
    "p18_rare_category_collapse",  # broadcast 1-row category total
    "corpus_token_budget",  # broadcast 1-row token-budget aggregate
    "x18_systematic_pps_sample",  # broadcast 1-row grid-step aggregate
    "sim_matryoshka_topk",  # broadcast 1-row probe (prefix + full vector)
    "m25_kmeans_fixed_point",  # broadcast k=3 centroid rows per Lloyd iteration
    "x19_rolling_origin_splits",  # broadcast 3-row fold-cutoff frame
    "a28_chi2_independence",  # broadcast 1-row margin-count frames
    "sim_hard_negatives",  # broadcast 1-row probe (vector + label)
    "sim_pq_adc",  # broadcast 1-row probe vector (the ADC lookup table source)
    "sim_reciprocal_rank_fusion",  # broadcast 1-row probe sets + 50-row rank-join frames
    "sim_ann_recall_report",  # composes the two probe-broadcast top-20 plans
    "ev7_rfm_segmentation",  # broadcast 1-row quintile-cuts + max-date frames
    "ev11_pareto_concentration",  # broadcast 1-row p90-cut frame
    "a33_runs_test",  # broadcast 1-row median-cut frame + days-frame lag self-join
    "ev13_kaplan_meier",  # two broadcast non-equi self-joins over the ~130-row duration census
    "ev14_uplift_qini",  # broadcast non-equi prefix self-join over the 10-row score-bin ledger
    "m35_partial_dependence",  # broadcast 1-row population-adjustment scalar onto the 10-row grid
    "p23_pseudonymize_join_audit",  # broadcast 1-row collision-census aggregate onto the nation frame
    "er_fellegi_sunter",  # broadcast 1-row m/u-rates aggregate onto the <=8-row pattern rollup
    "text_bm25_ranking",  # broadcast 1-row n_docs/avgdl aggregate
    # tiny-frame prefix/lag computed as broadcast NON-EQUI self-joins
    # (ordered.exclusive_prefix_offsets and the month/day-lag max_by
    # joins): the joined frames are the n_parts partition-totals ledger
    # or an already-aggregated months/days series — n² of a ≤O(10³)-row
    # frame, chosen deliberately over an unpartitioned WindowExec
    "dq8_id_gap_islands",  # prefix offsets over the n_parts totals ledger
    "m23_roc_auc_ranksum",  # prefix offsets over the n_parts totals ledger
    "p14_dense_reid",  # prefix offsets over the 32-row pid ledger
    "f16_mom_growth",  # months-frame lag via broadcast max_by self-join
    "a34_weighted_median_prefix",  # prefix offsets ledger + 1-row total broadcast
    "dedup_pipeline_summary",  # cross join of four 1-row stage-stat aggregates
    "dedup_lsh_recall_report",  # cross join of three 1-row recall-ledger aggregates
    "corpus_temperature_mixture",  # remainder-rank self-join over the |sources|-row budgets frame
    "m37_linear_shap",  # broadcast 1-row OLS-moments frame (the fitted model) onto the explained rows
    "ts9_seasonal_decompose",  # +/-3-day band self-join over the O(days) daily frame (vs a global-window funnel)
    "er2_sorted_neighborhood",  # exclusive_prefix_offsets ledger + <=3-row cum self-join + 1-row total broadcast
    "p25_neyman_allocation",  # broadcast 1-row weight-total onto the 25-row strata frame
    "t26_wordpiece_tokenize",  # broadcast 3/48-row (len, pos) constant grids onto the word domain
    "m39_gbm_stumps",  # 9-row candidate-cut fan-out + 1-row best-split/mse broadcasts per round
    "sim_binary_hamming_topk",  # broadcast 1-row probe code pair (the sim-family probe posture)
    "m41_naive_bayes",  # 25-row brand-frame fan-out + 1-row vocab/prior broadcasts (the NB model is a dim)
    "p26_quantile_normalization",  # broadcast 1-row cut/mid-quantile arrays (the a23 posture, twice)
    "ts10_autocorrelation",  # broadcast 1-row mean/denominator scalars onto the O(days) frame
    "j15_point_in_polygon",  # constant 10-edge polygon fan-out broadcast (grid-prefiltered at scale)
    "m43_logreg_newton",  # 1-row parameter broadcast per Newton step (the m25/m39 iterate posture)
    "graph_boruvka_msf",  # cross join of three 1-row per-round stat aggregates
    "a46_heavy_hitters_two_phase",  # <=5-row truth-frame rank self-join + 1-row candidate-count broadcast
    "m45_gmm_em",  # 1-row mean-parameter broadcast per EM round (the m43 iterate posture)
    "ts11_decomposition_strength",  # ts9 band self-join + 1-row mean broadcast onto the O(days) frame
    "m46_cart_depth2",  # 9-row cut fan-out + 1-row root-split broadcast (the m39 posture, one level down)
    "m48_f1_threshold_tuning",  # 9-row decile fan-out + 1-row cuts/argmax broadcasts (the a23 posture)
    "m49_ridge_closed_form",  # 3-row lambda fan-out onto the 1-row moment frame
    "m50_poisson_newton",  # 1-row parameter broadcast per scoring step (the m43/m45 posture)
}
# Local tables that are NOT data detours: explicit local-row sources,
# fitted-model state (O(k) best params / importances), and
# localCheckpoint lineage truncation (shows as Scan ExistingRDD).
ALLOWED_LOCAL = {
    "s4_local_rows",
    "st_stateful_running_totals",  # memory-sink rows of the real streaming run (O(|users|) state)
    "st_stream_stream_join",  # memory-sink rows of the real stream-stream join run
    "corpus_mixture_sample",  # 5-row VALUES mixture-rate config dim (broadcast)
    "j4_null_safe_join",  # 3-row local status-decode dim (broadcast side)
    "sim_ivf_kmeans_topk",
    "m10_cross_validator",  # returns CV best-params (model state)
    "m12_feature_importances",  # returns k importances (model state)
    "dedup_clusters",  # iterative propagation localCheckpoints each round
    "dedup_clusters_twostar",  # two-star contraction localCheckpoints each phase
    "graph_kcore",  # bounded-round peel localCheckpoints each round
    "graph_boruvka_msf",  # Boruvka contraction localCheckpoints each jump (plan doubles per self-join otherwise)
    "x37_occ_conflict_audit",  # 12-round OCC protocol fold localCheckpoints the 12-row decision frame each round
    "ev29_benjamini_hochberg",  # 5-row local BH critical-ladder dim (broadcast side; the ev23 posture)
    "graph_rich_club",  # 6-row local threshold grid (broadcast side)
    "ev30_gini_lorenz",  # 10-row local decile grid (broadcast side)
    "t33_good_turing",  # 20-row local frequency grid (broadcast side)
    "graph_anf_neighborhood",  # per-round bitmap-state localCheckpoint (3 bounded rounds) + 1-row n_sources broadcast
    "graph_greedy_matching",  # per-round selected-edge/alive-edge localCheckpoints (4 bounded rounds)
    "t34_textrank_keywords",  # 200-row vocab-graph rank frame localCheckpointed per power round
    "graph_ktruss",  # per-round edge-frame localCheckpoint (same lesson) + 2-row census frame
    "sim_ivf_build_exact",  # k*d-row centroid frame localCheckpointed per Lloyd round
    "st_cusum_monitor",  # memory-sink rows of the real stateful streaming run (O(|users|))
    "ev23_holm_bonferroni",  # 5-row constant critical-value dim (stdlib-computed literals, broadcast)
    "ev24_power_analysis",  # 5-row constant delta grid (stdlib-computed z constants, broadcast)
    "dedup_canonical_selection",  # builds on dedup_clusters' checkpointed lineage
    "dedup_leakage_safe_split",  # builds on dedup_clusters' checkpointed lineage
    "dedup_pipeline_summary",  # checkpointed clustering lineage; joins four 1-row stat frames
    "p11_train_test_split",  # returns O(1) split-audit scalars
    "p14_dense_reid",  # localCheckpoint pins partition ids for the offset ledger
    "text_bpe_merge_rounds",  # returns O(rounds) learned merges (model state)
    "t30_bpe_encode",  # per-round localCheckpoint of the merge loop (same posture as the learn query)
    "t31_unigram_viterbi",  # distinct-word-sized DP frontier localCheckpointed per round (12-round union lineage)
    "graph_mis_luby",  # per-round winner/undecided frames localCheckpointed (iterative self-join lineage)
    "m55_bradley_terry",  # K-row strength frame localCheckpointed per MM round + K^2-row wins matrix
    "m19_fpgrowth_baskets",  # MLlib FP-Growth freqItemsets is RDD-backed model output
    "m22_prefixspan_sequences",  # MLlib PrefixSpan patterns are RDD-backed model output
    "m21_glm_poisson",  # returns O(k) coefficient rows (model state)
    "m24_aft_survival",  # returns O(k) coefficient rows (model state)
    "m27_ndcg_ranking_eval",  # 10-row VALUES discount-constant dim (broadcast)
    "p19_schema_drift_audit",  # O(columns) footer-metadata diff (driver-side by design)
    "dq15_observe_metrics",  # returns the O(1) Observation metric record of a real write job
    "mm_phash_dct",  # 128-row fixed-point DCT cosine basis dim (broadcast VALUES, not data)
    "ev18_shapley_attribution",  # 3-row channel VALUES dim (broadcast)
    "ev26_markov_stationary",  # K x K transition matrix localCheckpointed (model state; K = event types)
}


# Queries allowed an unpartitioned window spec: none. Tiny ordered
# frames use the broadcast non-equi self-join rank idiom instead
# (ordered.exclusive_prefix_offsets et al.); if a future query truly
# needs one over a provably O(10^2)-row frame, add it here WITH the
# row-count justification.
ALLOWED_UNPARTITIONED_WINDOW: set[str] = set()


def _unpartitioned_window_specs(plan: str) -> int:
    """Count windowspecdefinition(...) occurrences with ZERO partition
    expressions. Grammar: windowspecdefinition(part..., order..., frame)
    where order args carry ' ASC'/' DESC' and the frame arg starts with
    'specifiedwindowframe'. A spec whose top-level args are only
    order/frame has no partitioning -> the whole input hits one task."""
    hits = 0
    start = 0
    needle = "windowspecdefinition("
    while True:
        i = plan.find(needle, start)
        if i < 0:
            break
        j = i + len(needle)
        depth = 1
        args: list[str] = []
        buf: list[str] = []
        while j < len(plan) and depth > 0:
            ch = plan[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            elif ch == "," and depth == 1:
                args.append("".join(buf).strip())
                buf = []
                j += 1
                continue
            buf.append(ch)
            j += 1
        if buf:
            args.append("".join(buf).strip())
        start = j
        has_partition = any(
            not a.startswith("specifiedwindowframe")
            and " ASC" not in a
            and " DESC" not in a
            for a in args
        )
        if not has_partition:
            hits += 1
    return hits


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from perfbench.trace import plan_counts
    from realestate_engine.registry import QUERIES, load_all
    from realestate_engine.session import create_session

    load_all()
    spark = create_session("plan_audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    names = args.names or sorted(QUERIES)
    hard_flags: list[str] = []
    for name in names:
        try:
            df = QUERIES[name](spark, args.sf)
            qe = df._jdf.queryExecution()
            plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
            c = plan_counts(qe.executedPlan().toString())
        except Exception as e:  # noqa: BLE001 - audit must not abort on one query
            hard_flags.append(f"{name}: explain failed: {e}")
            continue
        problems = []
        if name not in ALLOWED_CROSS:
            for op in ("BroadcastNestedLoopJoin", "CartesianProduct"):
                if op in plan:
                    problems.append(op)
        if name not in ALLOWED_LOCAL:
            for op in ("Scan ExistingRDD", "LocalTableScan"):
                if op in plan:
                    problems.append(op)
        if "BatchEvalPython" in plan:
            problems.append("BatchEvalPython")
        if name not in ALLOWED_UNPARTITIONED_WINDOW:
            n_unpart = _unpartitioned_window_specs(plan)
            if n_unpart:
                problems.append(f"UnpartitionedWindow x{n_unpart}")
        shape = (
            f"exch={c['exchanges']} smj={c['sort_merge_joins']} bhj={c['broadcast_joins']}"
            f" py={c['python_nodes']} inmem={c['inmem_scans']}"
        )
        if problems:
            hard_flags.append(f"{name}: {', '.join(problems)}")
            print(f"FLAG {name} [{shape}]: {', '.join(problems)}")
        else:
            print(f"ok   {name} [{shape}]")

    print(f"\n{len(names) - len(hard_flags)} clean, {len(hard_flags)} flagged")
    for f in hard_flags:
        print(" ", f)
    return 1 if hard_flags else 0


if __name__ == "__main__":
    sys.exit(main())
