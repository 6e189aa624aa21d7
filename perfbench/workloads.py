"""Workload definitions: which query keys run, on which input, and why.

Every workload runs its keys over passes in one fresh session; pass 0 is
the cold pass. `data` names the input: "sf0.1" is the vendored copy of the
repo's sf0.1 test tables, "bulk" is the seeded k-fold blow-up of it.
`warm` is the fewest warm passes a run makes: warm pass times keep falling
for several passes while the JIT warms up, so a fixed count (set so it
covers the run's --seconds) keeps runs comparable.
"""

CORR_STATS = [
    # correlation and moment keys
    "q16_corr_pair", "q17_corr_matrix", "q19_covar_stddev", "q20_skew_kurt",
    "q23_autocorr", "q64_corr_matrix_onepass", "q69_partial_corr",
    "q70_crosscorr", "q72_corr_significance", "q101_chi2", "q116_anova",
    "q22_spearman", "q136_kendall_tau",
    # rank / ECDF prefix-sum keys
    "q124_ks_test", "q130_mann_whitney", "q135_gini", "q161_kruskal_wallis",
    "q198_roc_auc", "q270_median_ci", "q273_weighted_quantile",
    "q299_lmoments", "q314_wilcoxon_signed", "q319_cvm_test",
    "q329_anderson_darling", "q330_energy_distance", "q340_dunn_posthoc",
    "q399_pr_auc",
]

DEDUP_GRAPH = [
    # ccMinLabels fixpoint keys
    "q80_dedup_clusters", "q228_kcore", "q229_cluster_sizes",
    "q239_dedup_savings", "q279_graph_reach", "q267_dedup_threshold_sweep",
    "q238_ppmi_spectral", "q294_bm25_prf", "q236_simhash_dedup",
    "q73_rolling_dedup", "q75_decontaminate", "q181_cooccur_pmi",
    "q237_source_gram_overlap", "q37_tfidf",
]

# q73_rolling_dedup is left out on purpose: verbatim-cloned corpora make its
# true near-duplicate pair output grow quadratically with k (by spec; see
# OPTIMIZATION_r15.md, "Scale evidence"), so it would measure the clone
# artifact, not the engine.
BULK_SCALED = [
    "q181_cooccur_pmi", "q147_assoc_rules", "q236_simhash_dedup",
    "q238_ppmi_spectral", "q235_pca_power", "q170_naive_bayes",
    "q22_spearman", "q82_bucketed_join", "q157_sql_tpch_q6",
    "q158_sql_tpch_q18", "q196_sql_tpch_q21",
]

STREAMING = [
    "q47_stream_demo", "q81_stream_sessionize", "q90_stream_join",
    "q141_stream_dedup", "q145_stream_sessionize_tws",
    "q191_stream_outer_join", "q217_stream_window_agg",
    "q220_stream_full_outer", "q298_stream_session_gap",
    "q393_stream_semi_join", "q397_stream_partitioned_sink",
    "q369_stream_cdc_merge",
]
SINK_WRITES = [
    "q384_sink_spj", "q405_sink_bucket_spj", "q407_sink_zorder",
    "q400_compact_bins", "q390_ctas_atomic", "q398_branch_changelog",
    "q377_sink_changelog_stream",
]

# stream_sink cut to the size the repeated runs can afford: one streaming
# key per state mechanism (watermarked window aggregation, session-window
# state, transformWithState on RocksDB, CDC merge) and two catalog write
# paths (storage-partitioned join over written tables, atomic CTAS). The
# other thirteen keys run in the full stream_sink workload.
STREAM_SINK_LITE = [
    "q47_stream_demo", "q81_stream_sessionize", "q145_stream_sessionize_tws",
    "q369_stream_cdc_merge", "q384_sink_spj", "q390_ctas_atomic",
]

# Copies of the sf0.1 fact tables in the bulk_scaled input.
BULK_K = 4

WORKLOADS = {
    "corr_stats": {
        "keys": CORR_STATS, "data": "sf0.1", "warm": 1,
        "why": "CorrelationAPI core at sf0.1: many short distinct plans where "
               "the per-query floor, Catalyst, codegen and the rank/ECDF job "
               "chain dominate"},
    "stream_sink_lite": {
        "keys": STREAM_SINK_LITE, "data": "sf0.1", "warm": 2,
        "why": "writes beside reads: one streaming key per state mechanism "
               "and two catalog write paths; micro-batch planning, state "
               "commits and the sink commit path"},
    "dedup_graph": {
        "keys": DEDUP_GRAPH, "data": "sf0.1", "warm": 1,
        "why": "LLM-pipeline dedup and text keys: driver-looped ccMinLabels "
               "fixpoints with 31-103 serial jobs per key and Memo-shared "
               "frames"},
    "bulk_scaled": {
        "keys": BULK_SCALED, "data": "bulk", "warm": 1,
        "why": "data-bound keys on a seeded 4x blow-up of sf0.1, sized so "
               "executor compute, shuffle and scan dominate the job floor"},
    "stream_sink": {
        "keys": STREAMING + SINK_WRITES, "data": "sf0.1", "warm": 1,
        "why": "all streaming keys and lakehouse write keys at sf0.1"},
}
