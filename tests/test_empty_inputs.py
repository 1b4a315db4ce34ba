"""Operator totality on EMPTY tables: every catalog entry must run and
return zero rows (never raise) when pointed at an empty partition — the
generalization of the reference's degenerate-input guards
(tests/test_dbnet.py:38-45) to the relational surface.  A 100 TB job
routinely plans over empty partitions/date-ranges; a driver-side
``.first()`` crash there takes down the whole job."""

import pytest

SCHEMAS = {
    "region": "r_regionkey long, r_name string, r_comment string",
    "nation": "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    "customer": "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
                "c_mktsegment string",
    "supplier": "s_suppkey long, s_name string, s_nationkey long",
    "part": "p_partkey long, p_name string, p_type string, p_retailprice double",
    "orders": "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate date",
    "lineitem": "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
                "l_quantity double, l_extendedprice double, l_discount double, "
                "l_tax double, l_returnflag string, l_linestatus string, "
                "l_shipdate date",
    "events": "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string",
    "documents": "doc_id long, text string, lang string, source string, n_chars long",
    "embeddings": "vec_id long, embedding array<float>, label int",
}

# Entries whose very construction depends on a query row / seed rows; the
# empty-input contract for them is "empty result", which the guards in
# queries.py provide.  Streaming entries run real (empty) streaming jobs.
REPRESENTATIVE = [
    "scan_prune",
    "groupby_agg",
    "topk_per_group",
    "window_funcs",
    "distinct_agg",
    "cube_counts",
    "group_quantiles_approx",
    "set_ops",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_verify",
    "dedup_groups",
    "dedup_keep_canonical",
    "cc_largestar",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embed_cosine",
    "dedup_embed_cosine_mp",
    "cosine_topk",
    "ann_ivf_assign",
    "ann_ivf_search",
    "ann_lsh_buckets",
    "ann_lsh_search",
    "kmeans_lloyd",
    "lang_quality",
    "token_count",
    "doc_fingerprint",
    "json_roundtrip",
    "tfidf_topk",
    "text_normalize",
    "repetition_ratio",
    "length_histogram",
    "inverted_index",
    "domain_mix_weights",
    "decontaminate",
    "approx_distinct",
    "pack_sequences",
    "event_funnel",
    "extract_plain_docs",
    "extract_transcripts",
    "multimodal_meta",
    "multimodal_features",
    "multimodal_resize",
    "streaming_extract",
    "streaming_turn_rate",
    "streaming_dedup",
    "skew_join_salted",
    "sql_udf_extract",
    "incremental_extract",
    "snapshot_diff",
    "rolling_window",
    "bigram_pmi",
    "embed_quantize_int8",
    "cohort_retention",
    "train_test_split",
    "chunk_documents",
    "streaming_sessions",
    "heavy_hitters_cms",
    "group_quantiles_dist",
    "event_props_json",
    "pagerank_bipartite",
    "bpe_merges",
    "sparse_retrieval",
    "pii_redact",
    # quality_funnel is excluded like data_quality_checks: it returns
    # its 5 fixed stage rows even on empty input (count 0 for stage 0,
    # NULL conditional sums for stages 1-4 — sum over zero rows is NULL
    # on both engines, so oracle parity still holds)
    "dup_span_report",
    "scrub_dup_spans",
    "unigram_logprob",
    "cdc_chunks",
    "zorder_cluster",
    "turn_structure_qa",
    "context_windows",
    "link_extract",
    "pack_sequences_sharded",
    "loss_mask_spans",
    "tool_transitions",
    "conversation_dedup",
    # round-4 waves 7-10
    "line_dedup",
    "compaction_plan",
    "shard_interleave",
    "epoch_shuffle",
    "pareto_frontier",
    "sliding_mau",
    "assoc_rules",
    # round-4 wave 11 (auc_rank / chi_square_independence / welch_ttest
    # are excluded like quality_funnel: global aggregates return their
    # single stat row with NULL surfaces on empty input — pinned by
    # test_stat_entries_null_row_on_empty below)
    "calibration_curve",
    "rbo_rankings",
    "ndcg_eval",
    "agent_loop_detect",
    # round-4 waves 12-14 (mann_kendall joins the excluded global
    # aggregates below; welch/chi2/auc rationale applies)
    "bradley_terry",
    "quantile_normalize",
    "label_propagation",
    "k_anonymity",
    "cusum_drift",
    # round-4 final-session waves 15-24 (cohens_kappa /
    # hhi_source_concentration join the excluded global aggregates
    # below: single stat row, NULL surfaces)
    "rrf_fusion",
    "gini_concentration",
    "autocorr_daily",
    "attribution_last_touch",
    "dp_noisy_counts",
    "kwic_snippets",
    "turn_take_entropy",
    "tool_call_depth",
    "containment_join",
    "bloom_probe",
    "event_markov",
    "user_burstiness",
    "weighted_sample_es",
    "weekday_seasonality",
    "dedup_cluster_stats",
    "funnel_latency",
    "simpson_diversity",
    # round-4 wave 25 (corpus-behavior catalog)
    "session_paths",
    "pair_ngram_recall",
    "perplexity_buckets",
    "turn_self_repetition",
    "kcore_decompose",
    # round-4 wave 26 (data-selection catalog)
    "dsir_weights",
    "ngram_novelty",
    "daily_anomaly_mad",
    "adjacent_turn_runs",
    "shard_skew_report",
    # round-4 wave 27 (dedup-QA catalog; dedup_transitivity joins the
    # single-stat-row entries — pinned in tests/test_dedupqa_wave.py)
    "lsh_band_load",
    "char_entropy",
    "pair_idf_overlap",
    "mixture_waterfill",
    # round-4 wave 28 (rank-statistics catalog; spearman/kendall guard
    # their zero-variance denominators into zero rows, not NULL rows)
    "mrr_eval",
    "spearman_corr",
    "kendall_tau",
    "readability_score",
    "zone_map_prune",
    # round-4 wave 29 (corpus-audit catalog; graph_modularity joins the
    # single-stat-row entries — pinned in tests/test_audit_wave.py;
    # join_size_audit returns its 3 audit rows with NULL ratios on
    # empty tables — pinned below)
    "char_lm_bpb",
    "benford_check",
    "moments_profile",
    # round-4 wave 30 (corpus-shape catalog; ngram_topk_coverage keeps
    # its 3 k-rows with NULL coverage on empty tables — pinned below)
    "embedding_norm_audit",
    "clustering_depth",
    "link_prediction_jaccard",
    "role_balance",
    # round-4 wave 31 (pair-fidelity catalog)
    "pair_edit_similarity",
    "silhouette_score",
    "tokenizer_fertility",
    "oov_rate",
    "source_minhash_sim",
    # round-4 waves 62-69 entries that collapse to zero rows on empty
    # tables (groupBy/rank-selection shapes; the fixed-row audit
    # entries — fk_orphan_audit, key_uniqueness_audit, spill/bucket
    # planners, ansari_bradley, merkle root — keep their constant
    # frames with NULL/zero surfaces instead and are pinned by their
    # wave tests)
    "lru_hit_curve",
    "working_set_hist",
    "reuse_gap_stats",
    "lfu_topk_hits",
    "brier_decomposition",
    "crps_ensemble",
    "pinball_loss",
    "interval_coverage",
    "pit_histogram",
    "hodges_lehmann",
    "qn_scale",
    "sn_scale",
    "shorth_interval",
    "gini_mean_diff",
    "skew_salt_planner",
    "aqe_skew_split_audit",
    "jackknife_groups",
    "energy_distance",
    "snapshot_stats_drift",
    "extraction_yield_report",
    "gate_rejection_report",
    "conversation_assembly_audit",
    "method_position_matrix",
    "turn_length_profile",
    "table_checksum_buckets",
    "replica_diff_checksums",
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sf-empty")
    for name, schema in SCHEMAS.items():
        spark.createDataFrame([], schema).write.parquet(str(d / f"{name}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_entry_is_total_on_empty_tables(spark, empty_sf_dir, name):
    from occular_ocr_spark.queries import QUERIES

    assert QUERIES[name](spark, empty_sf_dir).count() == 0


@pytest.mark.parametrize(
    "name",
    ["auc_rank", "chi_square_independence", "welch_ttest", "mann_kendall",
     "cohens_kappa", "hhi_source_concentration"],
)
def test_stat_entries_null_row_on_empty(spark, empty_sf_dir, name):
    # global-aggregate statistics return their single row with NULL
    # float surfaces (nullif guards) instead of raising on empty input
    from occular_ocr_spark.queries import QUERIES

    rows = QUERIES[name](spark, empty_sf_dir).collect()
    assert len(rows) == 1
    surface = {"auc_rank": "auc", "chi_square_independence": "chi2",
               "welch_ttest": "t_stat", "mann_kendall": "tau",
               "cohens_kappa": "kappa",
               "hhi_source_concentration": "hhi"}[name]
    assert rows[0][surface] is None


def test_ngram_topk_coverage_k_rows_null_on_empty(spark, empty_sf_dir):
    # the k-grid survives empty input: one row per k, zero counts and a
    # NULL coverage (nullif guard) instead of a raise or a dropped row
    from occular_ocr_spark.queries import QUERIES
    from occular_ocr_spark.queries_shape import _COV_KS

    rows = QUERIES["ngram_topk_coverage"](spark, empty_sf_dir).collect()
    assert sorted(r["k"] for r in rows) == sorted(_COV_KS)
    for r in rows:
        assert (r["shingles_used"], r["covered_occ"]) == (0, 0)
        assert r["coverage"] is None
