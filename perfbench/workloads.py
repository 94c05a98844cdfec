"""Workload definitions of the benchmark, and the ledger of driver
queries the benchmark leaves out.

Each workload runs its queries in the listed order, one at a time, on
inputs made from GenData's tables at scale `sf` by a seed-keyed
subsample (see `run.py`). The first query is also the warm-up query.
Why each workload was chosen is in BENCHMARK.json.
"""

WORKLOADS = {
    "ops_ann_sf01": {
        "sf": 0.1,
        # The four operators were chosen by measurement from one traced
        # pass of all 40 at sf0.1: one from each quartile of driver-gap
        # share, the set whose driver-gap share, planning share, jobs per
        # second and geometric-mean query time come closest to those of
        # all 40, among sets that take at most 3 s a pass and whose
        # outputs (at most 150,000 rows) the oracle check reads quickly.
        "queries": [
            "q_groupby_index",
            "q_averages",
            "q_corr_pairs",
            "q_regby",
            "q_kmeans",
            "q_pagerank",
        ],
    },
    "text_sink_sf1": {
        "sf": 1.0,
        "subsample": ["documents"],
        "queries": [
            "q_lang_id",
            "q_delete_keys",
        ],
    },
}

# Driver queries the benchmark leaves out, with the reason.
EXCLUDED = {
    "failing at the parent commit; they return through a later benchmark "
    "change once the PQ codebook build is fixed": [
        "q_ann_ivf_store_pq", "q_ann_ivf_store_pq_residual", "q_ann_filtered_pq",
        "q_ann_filtered_pq_residual", "q_ann_adaptive_pq", "q_ann_adaptive_pq_residual",
        "q_ann_pq_refine", "q_ann_pq_refine_residual", "q_ann_refine_full",
        "q_ann_ivf_store_pq_big",
    ],
    "quadratic by contract (correctness baselines, SparkEntry.baselineQueries)": [
        "q_ann_bruteforce", "q_ann_int8", "q_embed_neardups",
    ],
    "media and web fixture queries: their inputs do not depend on the "
    "scale factor, and together they take under 6 s of the whole suite": [
        "q_media_metadata", "q_media_frames", "q_media_features", "q_media_dims",
        "q_audio_features", "q_image_features", "q_gif_features", "q_jpeg_features",
        "q_audio_wide", "q_image_embed", "q_gunzip", "q_warc", "q_html_text",
        "q_dechunk", "q_warc_http", "q_robots_meta", "q_charset", "q_sitemap",
        "q_media_chain", "q_tar_members", "q_zip_members", "q_robots", "q_outlinks",
        "q_url_canon", "q_url_dedup", "q_video_metadata", "q_video_frames",
    ],
    "graft.streaming: no driver query exercises it": [],
    "pd-utils operators outside the measured sample (see ops_ann_sf01): all "
    "40 take about 35 s a pass at sf0.1, and this workload gets 12 s of passes": [
        "q_groupby_merge_max", "q_groupby_merge_std", "q_groupby_transform_sum",
        "q_var_change", "q_cumulate_between", "q_cumulate_first", "q_winsorize_by",
        "q_winsorize_all", "q_approx_quantiles", "q_portfolio_by", "q_portfolio_hard",
        "q_portfolio_averages", "q_long_short", "q_asof_join", "q_asof_offset",
        "q_long_to_wide", "q_expand_time_m", "q_expand_time_td", "q_expand_months",
        "q_fill_excluded", "q_add_missing_ffill", "q_ffill_limit", "q_fillna_groups",
        "q_drop_missing_rows", "q_sas_dates", "q_year_month", "q_state_abbrev",
        "q_join_col_strings", "q_select_rows", "q_sql_binding", "q_apply_unique",
        "q_zorder", "q_range_join", "q_interval_overlap", "q_read_file", "q_load_sas",
    ],
    "ANN pipelines left out to keep a pass short; their DuckDB replay of "
    "q_ann_lsh, q_rand_proj and q_ann_pq_residual alone takes 17-31 s": [
        "q_ann_ivf", "q_ann_ivf_int8", "q_ann_ivf_fitted", "q_ann_ivf_store",
        "q_ann_ivf_store_int8", "q_ann_filtered", "q_ann_adaptive", "q_ann_adaptive_hist",
        "q_ann_lsh", "q_ann_pq", "q_ann_pq_residual", "q_rand_proj", "q_recall_report",
        "q_semdedup", "q_dsir", "q_pagerank_host",
    ],
    "near-dup text queries: the DuckDB replay of their oracle takes 25 s "
    "(q_simhash_candidates) to over 300 s (q_minhash_candidates) at sf1": [
        "q_repeated_spans", "q_neardup_groups", "q_winnow_candidates",
        "q_simhash_candidates", "q_minhash_candidates", "q_dedup_incremental",
    ],
    "q_sink_roundtrip writes about 450 files of 100 rows at sf1, and its time "
    "swung by a third from run to run": ["q_sink_roundtrip"],
    "q_upsert is half driver gap at sf1, the layer the text workload is "
    "chosen to leave out": ["q_upsert"],
    "exact dedup and fingerprints: left out to keep the sf1 pass short; "
    "q_lang_id already loads the executor CPU": [
        "q_dedup_exact", "q_dedup_exact_groups", "q_fingerprint", "q_dedup_lines",
    ],
    "text-curation, sketch and sessionize queries no workload was designed "
    "around; unmeasured here. The 36 of them that graft.Bench timed at sf1 "
    "(BENCH_sf1.json) take 60 of its 232 s, more than a 12 s run holds": [
        "q_token_count", "q_regex_token_count", "q_quality", "q_winnow",
        "q_winnow_verified", "q_rolling_hash", "q_repetition", "q_pii_redact",
        "q_contaminated", "q_decontaminate", "q_char_contam", "q_bigram_xent",
        "q_sessionize", "q_chunk", "q_gopher", "q_corpus_stats", "q_normalize",
        "q_c4_clean", "q_mixture", "q_shuffle_rank", "q_pack", "q_tfidf",
        "q_cross_neardup", "q_cross_neardup_verified", "q_simhash", "q_ngram_jaccard",
        "q_neardup_keep", "q_sample_det", "q_split_assign", "q_cap_group", "q_bpe_count",
        "q_quality_model", "q_quality_fit", "q_kmv_distinct", "q_bloom", "q_cms_counts",
        "q_kmv_overlap",
    ],
}

