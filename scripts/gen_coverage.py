#!/usr/bin/env python
"""Regenerate COVERAGE.md from the query registry (VERDICT r3 item 10).

The operator inventory lives HERE as structured rows (section,
operator, implementation pointer, validating queries/tests, status).
The script cross-checks every referenced query name against
``dask_expr_spark.queries.collect_queries()`` — a renamed or deleted
query makes generation FAIL, so the coverage map can't silently rot —
and annotates each query with its oracle kind (hash-checked DuckDB SQL
vs rows-only). Run from the repo root:

    python scripts/gen_coverage.py          # rewrites COVERAGE.md
    python scripts/gen_coverage.py --check  # verify only (CI)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# status: "ok" (implemented+validated), "nongoal" (declared non-goal)
# q: registry query names validating the row (checked for existence)
# t: pytest-only evidence (free text, not checked)
# loc: implementation pointer (file checked for existence)
ROWS: list[tuple[str, list[dict]]] = [
    ("§2.1 Sources / sinks", [
        dict(op="FromPandas", loc="dask_expr_spark/sources/io.py (from_pandas)",
             q=["sources_literal_union"]),
        dict(op="FromPandasDivisions / Repartition(divisions=)",
             loc="dask_expr_spark/collection.py (repartition)",
             q=["sources_divisions_repartition"]),
        dict(op="FromMap / FromMapProjectable",
             loc="dask_expr_spark/sources/io.py (from_map)",
             q=["sources_literal_union"]),
        dict(op="FromArray", loc="dask_expr_spark/sources/io.py (from_array)",
             q=["sources_from_array"]),
        dict(op="FromGraph / persist (+checkpoint)",
             loc="dask_expr_spark/collection.py (persist)",
             q=["persist_cached_agg"]),
        dict(op="FromDelayed", loc="", status="nongoal",
             note="no delayed protocol on Spark (SURVEY §7.3)"),
        dict(op="FromScalars / from_dict",
             loc="dask_expr_spark/sources/io.py", q=["sources_literal_union"]),
        dict(op="ReadParquet (+pushdowns)",
             loc="dask_expr_spark/sources/io.py (read_parquet)",
             q=["q1_pricing_summary"], t="pushdown asserted test_plans"),
        dict(op="ToParquet (+partition_by, clustered + z-ordered layouts)",
             loc="dask_expr_spark/collection.py (to_parquet), "
                 "dask_expr_spark/sources/layout.py (zorder_key)",
             q=["parquet_roundtrip_lineitem", "parquet_clustered_roundtrip",
                "parquet_zorder_roundtrip"],
             t="footer-stats disjointness/both-dim clustering test_io"),
        dict(op="read_csv/to_csv/read_table/read_fwf (names=/usecols=)",
             loc="dask_expr_spark/sources/io.py", q=["csv_roundtrip_orders"]),
        dict(op="read_json/to_json", loc="dask_expr_spark/sources/io.py",
             q=["json_roundtrip_events"]),
        dict(op="read_orc/to_orc", loc="dask_expr_spark/sources/io.py",
             q=["orc_roundtrip_supplier"]),
        dict(op="read_hdf/to_hdf", loc="", status="nongoal",
             note="documented non-goal (SURVEY §7.3)"),
        dict(op="read_sql*/to_sql (JDBC, partitionColumn)",
             loc="dask_expr_spark/sources/io.py (read_jdbc/to_sql)",
             q=["jdbc_roundtrip_supplier"], t="test_io Derby roundtrip"),
        dict(op="to_records/to_bag/iterrows/itertuples",
             loc="dask_expr_spark/collection.py",
             q=["records_roundtrip_nation"]),
        dict(op="timeseries (deterministic-under-projection)",
             loc="dask_expr_spark/sources/io.py (timeseries)",
             q=["timeseries_stats"]),
    ]),
    ("§2.2 Row ops / elemwise", [
        dict(op="Projection / Filter", loc="dask_expr_spark/collection.py",
             q=["q1_pricing_summary", "q3_shipping_priority"]),
        dict(op="Assign (+lazy Scalar / aligned pandas values)",
             loc="dask_expr_spark/collection.py", q=["q1_pricing_summary"]),
        dict(op="Drop / __delitem__", loc="dask_expr_spark/collection.py",
             q=["q5_revenue_by_nation"], t="test_facade"),
        dict(op="Binops + alignment (fill_value, named ops, Scalar operands)",
             loc="dask_expr_spark/collection.py",
             q=["q1_pricing_summary"], t="test_differential arithmetic + property suites"),
        dict(op="Unaryops / Abs / Round / Sqrt / Clip / Between",
             loc="dask_expr_spark/collection.py", q=["case_when_buckets"]),
        dict(op="Isin (+Series-valued semi-join)",
             loc="dask_expr_spark/collection.py", q=["filter_isin_between"]),
        dict(op="IsNa/NotNull/Fillna/Replace (+Series/Scalar fills)",
             loc="dask_expr_spark/collection.py", q=["fillna_mask"]),
        dict(op="Mask / Where (+Series/Scalar replacements)",
             loc="dask_expr_spark/collection.py", q=["fillna_mask"]),
        dict(op="CaseWhen", loc="dask_expr_spark/collection.py",
             q=["case_when_buckets"]),
        dict(op="AsType / To* conversions", loc="dask_expr_spark/collection.py",
             q=["date_ops"]),
        dict(op="Rename* / AddPrefix / AddSuffix (+callable)",
             loc="dask_expr_spark/collection.py", q=["q5_revenue_by_nation"]),
        dict(op="ResetIndex / SetIndexBlockwise / EnforceRuntimeDivisions",
             loc="dask_expr_spark/collection.py",
             q=["enforce_divisions_orders"]),
        dict(op="Dropna (how/thresh/subset)",
             loc="dask_expr_spark/collection.py", q=["dropna_thresh_events"]),
        dict(op="DropDuplicates (+keep=, duplicated())",
             loc="dask_expr_spark/collection.py", q=["drop_dup_keep_first"]),
        dict(op="Sample / random_split", loc="dask_expr_spark/collection.py",
             q=["sample_orders", "split_train_val"]),
        dict(op="Query / Eval", loc="dask_expr_spark/collection.py",
             q=["query_eval_orders"]),
        dict(op="Explode (+multi-column aligned)",
             loc="dask_expr_spark/collection.py",
             q=["text_token_frequencies"]),
        dict(op="Map / Apply (elementwise)", loc="dask_expr_spark/collection.py",
             q=["series_map_status"]),
        dict(op="MapPartitions (single + multi-frame)",
             loc="dask_expr_spark/collection.py", q=["map_partitions_md5"]),
        dict(op="MapOverlap (value + row-count margins)",
             loc="dask_expr_spark/collection.py", q=["map_overlap_smooth"]),
        dict(op="ufunc protocol (27 ufuncs)",
             loc="dask_expr_spark/collection.py", q=["ufunc_sqrt_price"],
             t="test_differential UFUNC_CASES"),
        dict(op="ToFrame converters", loc="dask_expr_spark/collection.py",
             q=["toframe_price_total"]),
        dict(op="CombineFirst / combine", loc="dask_expr_spark/collection.py",
             q=["combine_max_balance", "combine_first_balances"]),
        dict(op="Dot", loc="dask_expr_spark/functions/similarity.py",
             q=["dot_qty_discount"]),
        dict(op="MemoryUsagePerPartition / Lengths / nbytes",
             loc="dask_expr_spark/collection.py", t="test_facade (engine-specific sizes; no SQL oracle)"),
        dict(op="get_dummies (capped 10k)",
             loc="dask_expr_spark/collection.py", q=["dummies_by_nation"]),
        dict(op=".str accessor (full reference list)",
             loc="dask_expr_spark/functions/accessors.py",
             q=["string_ops", "string_ops2"], t="test_differential STR_CASES"),
        dict(op=".dt accessor (+period family: to_period/period_start/period_end/qyear)",
             loc="dask_expr_spark/functions/accessors.py",
             q=["date_ops", "date_ops2", "period_monthly_revenue"],
             t="test_differential DT_CASES, test_facade to_period"),
        dict(op=".cat accessor + categorize (explicit categories)",
             loc="dask_expr_spark/functions/accessors.py",
             q=["cat_codes_segments", "cat_codes_explicit",
                "categorize_segments"]),
        dict(op="module-level free functions (35 exports)",
             loc="dask_expr_spark/__init__.py", t="test_facade module API"),
        dict(op="DataFrame interchange protocol",
             loc="dask_expr_spark/collection.py", t="test_facade (buffer-level; no SQL oracle)"),
        dict(op="Len / Size / NBytes (lazy count-star footer)",
             loc="dask_expr_spark/collection.py", q=["size_len_scalars"]),
    ]),
    ("§2.3 Joins", [
        dict(op="BlockwiseMerge / HashJoinP2P / shuffle+merge (Catalyst)",
             loc="dask_expr_spark/operators/merge.py",
             q=["q3_shipping_priority", "q5_revenue_by_nation", "join_outer"]),
        dict(op="BroadcastJoin", loc="dask_expr_spark/operators/merge.py",
             q=["join_broadcast_part"], t="broadcast plan asserted test_plans"),
        dict(op="fully-indexed merge (bucketed tables, exchange-free SMJ)",
             loc="dask_expr_spark/collection.py (to_table) + sources/io.py (from_table)",
             q=["bucketed_join_orders"], t="exchange-free plan asserted test_scale_ops"),
        dict(op="SemiMerge / anti join", loc="dask_expr_spark/operators/merge.py",
             q=["join_semi", "join_anti"]),
        dict(op="JoinRecursive", loc="dask_expr_spark/operators/merge.py (merge_recursive)",
             q=["merge_recursive_regions"]),
        dict(op="MergeAsof (by/tolerance/direction/nearest + index forms)",
             loc="dask_expr_spark/operators/asof.py",
             q=["asof_orders_daily_noby", "asof_purchase_click"]),
        dict(op="merge/join API (suffixes/indicator/index forms)",
             loc="dask_expr_spark/operators/merge.py", q=["join_outer"],
             t="test_differential merge suites + property joins"),
        dict(op="merge_range interval join (extension)",
             loc="dask_expr_spark/operators/rangejoin.py",
             q=["range_join_purchase_windows"]),
    ]),
    ("§2.4 Reductions", [
        dict(op="Sum/Prod/Max/Min/Any/All/Count/Mean (+min_count=)",
             loc="dask_expr_spark/collection.py",
             q=["q1_pricing_summary", "minmax_by_group"]),
        dict(op="Var/Moment/Std/Skew/Kurtosis/Sem (decimal power sums)",
             loc="dask_expr_spark/collection.py",
             q=["stats_var_std", "stats_skew_kurt"]),
        dict(op="IdxMin/IdxMax", loc="dask_expr_spark/collection.py",
             q=["idxmax_per_priority"]),
        dict(op="Mode (deterministic tie-break)",
             loc="dask_expr_spark/collection.py", q=["mode_order_priority"]),
        dict(op="Cov/Corr (matrices + series, autocorr)",
             loc="dask_expr_spark/collection.py", q=["corr_cov"]),
        dict(op="ValueCounts / Unique / NUnique exact+approx",
             loc="dask_expr_spark/collection.py",
             q=["value_counts_flag", "distinct_pairs", "nunique_by_group",
                "approx_distinct_parts"]),
        dict(op="NLargest/NSmallest", loc="dask_expr_spark/collection.py",
             q=["topk_orders"]),
        dict(op="SeriesQuantile exact/approx/tdigest; Median",
             loc="dask_expr_spark/collection.py",
             q=["quantiles_exact", "approx_quantiles_price"]),
        dict(op="Describe (+include='object')",
             loc="dask_expr_spark/collection.py", q=["describe_part_size"]),
        dict(op="IsMonotonicInc/Dec", loc="dask_expr_spark/collection.py",
             q=["monotonic_orders"]),
        dict(op="MemoryUsage*", loc="dask_expr_spark/collection.py",
             t="test_facade (engine-specific sizes; no SQL oracle)"),
        dict(op="CustomReduction / reduction(chunk, aggregate, combine=)",
             loc="dask_expr_spark/collection.py", q=["reduction_mean_price"]),
        dict(op="axis=1 row-wise stats (JVM array fns)",
             loc="dask_expr_spark/collection.py", q=["axis1_row_stats"]),
    ]),
    ("§2.5 GroupBy", [
        dict(op="sum/prod/min/max/first/last/count/size/mean/var/std",
             loc="dask_expr_spark/collection.py (GroupBy)",
             q=["q1_pricing_summary", "minmax_by_group", "stats_var_std"],
             t="randomized property suite (test_property_random)"),
        dict(op="idxmin/idxmax (one-pass struct-min)",
             loc="dask_expr_spark/collection.py", q=["idxmax_per_priority"]),
        dict(op="value_counts/unique/nunique; cov/corr per group",
             loc="dask_expr_spark/collection.py",
             q=["nunique_by_group", "corr_cov"]),
        dict(op="median (holistic)", loc="dask_expr_spark/collection.py",
             q=["q1_pricing_summary"]),
        dict(op="generic .agg specs + custom Aggregation + ngroups",
             loc="dask_expr_spark/collection.py", q=["q1_pricing_summary"]),
        dict(op="apply / transform", loc="dask_expr_spark/collection.py",
             q=["transform_pct_of_group"]),
        dict(op="shift/ffill/bfill/cum*/head/tail/get_group per group",
             loc="dask_expr_spark/collection.py",
             q=["window_ffill_gaps", "window_cumsum_user",
                "groupby_head_orders", "get_group_building"],
             t="grouped cum* null-masking (test_property_random)"),
        dict(op="groupby(by=expr/Series/level, sort=, observed=True/False)",
             loc="dask_expr_spark/collection.py",
             q=["groupby_expr_buckets", "groupby_observed_false"],
             t="test_observed_false differential vs pandas"),
        dict(op="groupby().rolling()/expanding()",
             loc="dask_expr_spark/collection.py",
             q=["groupby_rolling_qty", "groupby_expanding_value"]),
        dict(op="split_out / split_every", loc="", status="nongoal",
             note="AQE owns shuffle fan-out (SURVEY §2.5)"),
        dict(op="pivot / pivot_table (+rollup/cube ext.) / melt",
             loc="dask_expr_spark/collection.py",
             q=["pivot_status", "pivot_table_priority", "rollup_revenue",
                "cube_priority_status", "melt_measures"]),
    ]),
    ("§2.6 Window / ordered", [
        dict(op="Rolling* (+time-based, center=, win_type: 17 window types "
                "incl. the scipy long tail, agg)",
             loc="dask_expr_spark/operators/window.py",
             q=["rolling_center_user", "rolling_weighted_triang",
                "window_rolling_mean", "rolling_time_window"],
             t="randomized rolling property suite"),
        dict(op="Shift / ShiftIndex (freq=)",
             loc="dask_expr_spark/collection.py + operators/ordered.py",
             q=["ordered_shift_global", "shift_freq_days"]),
        dict(op="Diff / pct_change", loc="dask_expr_spark/collection.py",
             q=["window_shift_diff", "daily_growth"]),
        dict(op="FFill/BFill (limit=)", loc="dask_expr_spark/operators/ordered.py",
             q=["ordered_ffill_limit", "window_ffill_gaps"]),
        dict(op="CumSum/CumProd/CumMax/CumMin (null-masking)",
             loc="dask_expr_spark/operators/ordered.py (cumulative)",
             q=["ordered_cumsum_global", "window_cumsum_user"]),
        dict(op="Resample + OHLC (+freq multiples, prod/sem)",
             loc="dask_expr_spark/operators/window.py", q=["resample_hourly"]),
        dict(op="ranking / expanding (holistic bucketed + approx quantile; guarded exact path)",
             loc="dask_expr_spark/operators/ordered.py (expanding_holistic)",
             q=["expanding_median_global", "window_rank_latest",
                "expanding_running_share"],
             t="scale guard test_round4_guards; bench scale_probe_expanding_*"),
    ]),
    ("§2.7 Sorts / limits / partitioning", [
        dict(op="SortValues / SetIndex (sorted= fast path)",
             loc="dask_expr_spark/collection.py",
             q=["q1_pricing_summary", "loc_orderkey_slice"]),
        dict(op="Head / Tail / NFirst / NLast (top-k)",
             loc="dask_expr_spark/collection.py",
             q=["q3_shipping_priority", "topk_orders"]),
        dict(op="Repartition (count/divisions/freq/size)",
             loc="dask_expr_spark/collection.py",
             q=["repartition_invariance_orders",
                "sources_divisions_repartition"]),
        dict(op="shuffle(on)", loc="dask_expr_spark/collection.py",
             q=["shuffle_on_invariance"], t="exchange-reuse plan test"),
        dict(op="Partitions / pruning / df.partitions[i]",
             loc="dask_expr_spark/collection.py",
             q=["partitions_concat_invariance"],
             t="hive-partition pruning asserted test_scale_ops (plan-level)"),
        dict(op="loc / iloc (masks, callables; column-positional iloc)",
             loc="dask_expr_spark/collection.py", q=["loc_orderkey_slice"]),
        dict(op="compute_current_divisions / divisions API",
             loc="dask_expr_spark/collection.py",
             q=["current_divisions_slice_concat"],
             t="test_facade (divisions metadata)"),
        dict(op="salted_merge / salted_agg (skew extension)",
             loc="dask_expr_spark/operators/skew.py",
             q=["salted_agg_suppkey", "salted_merge_orders"],
             t="equivalence-tested test_scale_ops"),
    ]),
    ("§2.8 Set ops / concat", [
        dict(op="Concat axis=0 (+raw-pandas mixed)",
             loc="dask_expr_spark/collection.py", q=["union_concat"]),
        dict(op="Concat axis=1 (indexed align)",
             loc="dask_expr_spark/collection.py", q=["concat_axis1_customer"]),
        dict(op="intersect / except (extension)",
             loc="dask_expr_spark/collection.py",
             q=["intersect_active_parts", "except_inactive_customers"]),
    ]),
    ("§2.9 UDF surface", [
        dict(op="map_partitions / map_overlap / reduction",
             loc="dask_expr_spark/collection.py",
             q=["map_partitions_md5", "map_overlap_smooth",
                "reduction_mean_price"]),
        dict(op="Series.map/apply, DataFrame.apply(axis=1), pipe",
             loc="dask_expr_spark/collection.py", q=["series_map_status"]),
        dict(op="groupby.apply / custom Aggregation",
             loc="dask_expr_spark/collection.py", q=["q1_pricing_summary"]),
        dict(op="ufunc protocol", loc="dask_expr_spark/collection.py",
             q=["ufunc_sqrt_price"]),
        dict(op="UDF meta inference", loc="", status="nongoal",
             note="explicit schemas by design (SURVEY §7.3)"),
    ]),
    ("§2.10 Streaming (greenfield extension)", [
        dict(op="tumbling/sliding/session windows, watermark, dedup-in-watermark, "
                "stateful totals, stream-static enrich, stream-stream interval join, "
                "streaming MinHash-LSH near-dedup, streaming semantic dedup "
                "(hyperplane-cell state), streaming Misra-Gries heavy "
                "hitters (bounded state), windowed approx-distinct "
                "(HLL++ state), foreachBatch, persistent HLL + histogram "
                "rollup sinks and a streaming exact-dedup ingest sink "
                "(append-merge tables + epoch-dedup compaction)",
             loc="dask_expr_spark/streaming/ops.py",
             q=["stream_tumbling_counts", "stream_session_counts",
                "stream_interval_join", "stream_near_dedup",
                "stream_semantic_dedup", "stream_stateful_totals",
                "stream_heavy_hitters", "stream_windowed_distinct",
                "stream_hll_rollup", "stream_hist_rollup",
                "stream_exact_dedup"],
             t="multi-batch state test_streaming"),
    ]),
    ("LLM-data-pipeline operators (task extension)", [
        dict(op="exact dedup / n-gram Jaccard join / MinHash+LSH / SimHash / "
                "connected components (min-label propagation w/ "
                "non-convergence guard + large-star/small-star for deep "
                "graphs)",
             loc="dask_expr_spark/functions/dedup.py",
             q=["dedup_exact_docs", "dedup_ngram_jaccard",
                "dedup_minhash_lsh", "dedup_simhash",
                "dedup_connected_groups", "dedup_connected_groups_star",
                "dedup_resolve_corpus"],
             t="deep-chain + union-find differential test_dedup"),
        dict(op="exact substring-duplication scan (ExactSubstr: k-token "
                "window hashes shared across docs, per-doc span merge; "
                "scope='any' also flags intra-doc repeats)",
             loc="dask_expr_spark/functions/dedup.py (duplicated_spans)",
             q=["dedup_substring_spans"],
             t="randomized python-oracle net test_property_random; "
               "scope test test_dedup"),
        dict(op="paragraph/chunk-level near-dedup (chunk_text + per-chunk "
                "MinHash LSH, collisions aggregated to doc pairs)",
             loc="dask_expr_spark/queries/dedup.py (dedup_chunk_minhash)",
             q=["dedup_chunk_minhash"]),
        dict(op="ANN: cosine top-k (capped query side) / LSH / IVF / "
                "int8 / centroids / PCA whitening (distributed moments "
                "+ map-only projection)",
             loc="dask_expr_spark/functions/similarity.py",
             q=["ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_topk",
                "ann_int8_topk", "ann_centroids", "dedup_embedding_cosine",
                "ann_pca_whiten"],
             t="query-cap guard test_round4_guards; numpy differential "
               "test_similarity (pca_whiten)"),
        dict(op="semantic dedup (SemDeDup: cell partition + within-cell "
                "cosine groups, min-id representative; lsh + ivf cells)",
             loc="dask_expr_spark/functions/similarity.py (semantic_dedup)",
             q=["semantic_dedup_kept"],
             t="ivf-cells variant test_similarity"),
        dict(op="text stats / lang-id / quality / chunking / fingerprint / "
                "tokens / JSON extraction / repetition / PII / decontamination",
             loc="dask_expr_spark/functions/text.py",
             q=["text_stats_by_lang", "text_quality_buckets", "text_lang_id",
                "text_chunking", "text_fingerprint_dups",
                "text_token_frequencies", "json_props_stats",
                "text_repetition_buckets", "text_pii_scan",
                "text_contamination_buckets", "pipeline_clean_corpus"]),
        dict(op="bigram-LM perplexity / BM25 retrieval / sequence packing",
             loc="dask_expr_spark/functions/text.py",
             q=["text_lm_perplexity", "text_bm25_search",
                "pack_sequences_2048"]),
        dict(op="hash_split / stratified_sample / global_shuffle / "
                "domain-mixture resampling / exact-n sample / "
                "weighted sample (A-ES) / exact-n per group (uniform + "
                "weighted) / leakage-safe split (dup groups move as "
                "one unit) / temporal split with embargo (strictly-"
                "older train + dropped boundary buffer)",
             loc="dask_expr_spark/functions/sampling.py",
             q=["split_train_val", "stratified_sample_docs",
                "global_shuffle_head", "mix_sources_target",
                "sample_n_orders", "sample_weighted_orders",
                "sample_n_per_group_orders", "split_leakage_safe",
                "sample_weighted_per_group_orders",
                "split_temporal_events"],
             t="no-straddle + determinism tests test_round6_ops; "
               "strict-partition + derived-percentile fraction tests "
               "test_round7_ops"),
        dict(op="incremental corpus dedup: persistent MinHash-LSH index "
                "+ batch-vs-index candidates (no combined self-join); "
                "exact-hash variant (exact_hash_index / "
                "exact_dedup_against)",
             loc="dask_expr_spark/functions/dedup.py (minhash_index, "
                 "minhash_dedup_against, exact_hash_index)",
             q=["dedup_incremental_minhash", "dedup_exact_incremental"],
             t="parquet index roundtrip test_dedup; routing semantics "
               "test_round6_ops"),
        dict(op="heavy hitters (two-pass Misra-Gries, exact counts — "
                "no full-domain shuffle) + streaming variant (bounded state)",
             loc="dask_expr_spark/functions/sketches.py "
                 "(+ streaming/ops.py heavy_hitter_candidates_stream)",
             q=["heavy_hitter_tokens", "stream_heavy_hitters"]),
        dict(op="mergeable HLL distinct-count rollup (sketch once, "
                "estimate any slice union without rescanning)",
             loc="dask_expr_spark/functions/sketches.py (hll_rollup)",
             q=["hll_rollup_users", "stream_hll_rollup"],
             t="overlapping-slice merge test_sketches"),
        dict(op="mergeable histogram quantile rollup "
                "(bin-count merge, one-bin-width error bound) + PSI "
                "drift score between rollups",
             loc="dask_expr_spark/functions/sketches.py (hist_rollup, "
                 "quantile_estimate)",
             q=["hist_rollup_price_quantiles", "stream_hist_rollup",
                "drift_price_psi", "stream_drift_psi"],
             t="merged-slice quantile bound test_sketches; "
               "batch-boundary invariance test_streaming"),
        dict(op="data quality: one-pass table profile (nulls/distinct/"
                "moments/quantiles for ALL columns in one aggregation) + "
                "declarative constraint report (completeness, row "
                "predicates, key uniqueness)",
             loc="dask_expr_spark/functions/quality.py",
             q=["profile_orders_stats", "validate_orders_constraints"],
             t="mixed-type/null semantics + single-job plan "
               "test_round6_ops"),
        dict(op="mergeable moments rollup (n/nulls/mean/stddev/min/max "
                "merge exactly) + profile_from_rollups: the full "
                "per-column profile answered from the persisted "
                "moments/hist/HLL rollup tables alone — profile 100 TB "
                "without rescanning it",
             loc="dask_expr_spark/functions/sketches.py (moments_rollup) "
                 "+ functions/quality.py (profile_from_rollups)",
             q=["profile_from_rollups_orders"]),
        dict(op="multimodal decode/frames/embed/resize + audio metadata "
                "(image header + WAV/RIFF parse + mapInPandas plumbing "
                "real; codec PIXEL decode = DECLARED NON-GOAL in this "
                "codec-less environment — stub contract oracle-pinned, "
                "activates via Pillow with no code change, README "
                "migration note)",
             loc="dask_expr_spark/functions/multimodal.py",
             q=["multimodal_decode", "multimodal_audio_meta",
                "multimodal_resize_stub"],
             t="resize plumbing + WAV parse test_multimodal"),
        dict(op="mergeable count-min frequency rollup (point lookups "
                "from the sketch alone; never under-counts; probe is a "
                "map-only broadcast join for arbitrarily large item "
                "batches) + inner-product JOIN-CARDINALITY estimates "
                "(cms_inner_product) + streaming sink (cms_rollup_sink, "
                "LSM fragments, epoch-dedup compaction)",
             loc="dask_expr_spark/functions/sketches.py (cms_rollup, "
                 "cms_merge, cms_estimate) + streaming/ops.py",
             q=["cms_custkey_counts", "cms_join_cardinality"],
             t="randomized never-undercount + merge-exactness + "
               "inner-product bound test_round6b_ops; sink≡batch "
               "cell-identity test_streaming"),
        dict(op="KMV distinct sketch with set INTERSECTION estimates "
                "(the capability HLL union sketches lack); bounded "
                "build via per-partition k-smallest prune; streaming "
                "sink (kmv_rollup_sink)",
             loc="dask_expr_spark/functions/sketches.py (kmv_rollup, "
                 "kmv_estimate, kmv_intersect) + streaming/ops.py",
             q=["kmv_distinct_slices", "kmv_intersect_slices",
                "kmv_intersect_grouped"],
             t="randomized accuracy + merge-associativity "
               "test_round6b_ops; sink≡batch array-identity "
               "test_streaming"),
        dict(op="sharded Bloom membership index (no false negatives, "
                "OR-mergeable, map-only probe) + answer-preserving "
                "prefilter for exact incremental dedup",
             loc="dask_expr_spark/functions/sketches.py (bloom_index, "
                 "bloom_probe, bloom_fold_segments) + functions/dedup.py "
                 "(exact_dedup_against_bloom)",
             q=["dedup_bloom_incremental"],
             t="randomized no-false-negative + merge==union-build + "
               "fp-rate tests test_round6b_ops"),
        dict(op="MMR diversified re-rank (Carbonell-Goldstein maximal "
                "marginal relevance between ANN retrieval and a RAG "
                "context window; one shuffle + per-query Arrow-batched "
                "greedy kernel)",
             loc="dask_expr_spark/functions/similarity.py (mmr_rerank)",
             q=["ann_mmr_rerank"],
             t="randomized differential vs pure-python MMR + "
               "tie-break/diversity-flip tests test_round6b_ops"),
        dict(op="incremental maintenance: SCD-1 upsert (order_col "
                "version resolution) + partition-pruned parquet "
                "upsert-in-place (crash-safe per-partition rename "
                "swaps, bloom-prefiltered partition-move guard) + "
                "key-bucketed upsert (md5 hive buckets as pseudo-"
                "partitions for unpartitioned tables) + table_diff "
                "snapshot audit + per-directory-target compaction + "
                "schema evolution on merge (align_schemas: new batch "
                "columns land on old rows as null; in-place pruned "
                "paths deliberately strict)",
             loc="dask_expr_spark/functions/maintenance.py (upsert, "
                 "upsert_partitioned, upsert_bucketed, compact_parquet)",
             q=["upsert_orders_scd1", "upsert_evolve_schema",
                "upsert_partitioned_roundtrip",
                "upsert_bucketed_roundtrip", "diff_after_upsert",
                "stream_upsert_snapshot", "stream_upsert_bucketed",
                "compact_roundtrip_lineitem", "compact_partitioned_files"],
             t="randomized pandas differential + untouched-files-"
               "byte-stable + move-guard (bloom scan-skip) + diff "
               "null-semantics + sink replay-idempotence (incl. "
               "restart-from-checkpoint) + compaction data-identity + "
               "crash-injection swap tests test_round6b_ops/"
               "test_round7_ops/test_streaming"),
        dict(op="object-store POINTER-COMMIT protocol with MULTI-"
                "WRITER CAS: data files only ever created, never "
                "renamed; the commit point is the exclusive creation "
                "of a per-generation _commit.{N}.json claim; each "
                "claim records its TOUCHED dirs and a lost claim "
                "REBASES across disjoint-partition winners (logical "
                "conflict detection at Delta-WriteSerializable "
                "isolation — overlapping dirs, legacy claims, or "
                "rebase=False raise ConcurrentCommitError and the "
                "loser's files vacuum as orphans); _commit.json is a "
                "probe-forward pointer cache; dir file lists SHARD "
                "into _files.<id>.json above MANIFEST_INLINE_MAX so "
                "the root stays O(#dirs) and a commit's manifest "
                "bytes are touched-dir-bound; manifest-level pruned "
                "reads (read_manifested partition_values, tuple-"
                "valued for multi-level layouts); MULTI-COLUMN "
                "partition specs (date=.../source=... nested hive "
                "leaves as manifest keys — bootstrap/upsert/"
                "overwrite/delete/compact/vacuum/pruned reads); "
                "GENERATION TIME TRAVEL over the claim chain "
                "(read_manifested(generation=N), manifest_generations"
                ", manifested_cdc change feeds between commits) with "
                "vacuum keep_claims retention; vacuum clears "
                "superseded generations + claims + shards (min_age_s "
                "retention guards in-flight writers AND claim "
                "deletion; claims newer than the resolved head are "
                "never touched); row-level delete_where with "
                "whole-dir drops; bloom move-guard index committed "
                "through the snapshot CAS (key_bloom_path works "
                "under commit='pointer', bloom-before-claim "
                "ordering); zone maps refresh inline after EVERY "
                "mutator",
             loc="dask_expr_spark/functions/maintenance.py "
                 "(read_commit, _write_commit, _set_dir_files, "
                 "read_manifested, manifested_cdc, vacuum_manifested, "
                 "compact_manifested, delete_where, "
                 "bloom_append_snapshot) + "
                 "dask_expr_spark/fsops.py (write_text_exclusive)",
             q=["upsert_pointer_roundtrip", "manifest_sharded_upsert",
                "concurrent_upsert_cas", "disjoint_rebase_upsert",
                "pointer_time_travel", "cdc_between_generations",
                "upsert_pointer_bloom", "delete_where_orders",
                "compact_manifested_files", "zonemap_after_delete",
                "stream_upsert_pointer", "multicol_pointer_upsert"],
             t="two-writer interleavings (strict loser raises; "
               "disjoint rebase both-land single-compute; rebase "
               "chain; conflicting-dir raise; cross-operator "
               "delete-vs-upsert rebase; contention cap) + "
               "crash-injection at every commit state + zero-rename "
               "fake-object-store lifecycle + probe-forward cache "
               "recovery + sharded roundtrip/vacuum + newer-claim-"
               "survives-vacuum race + pointer-bloom ordering tests "
               "test_fsops; 10^5-file commit + rebase + retention "
               "probes (rounds 9-10, results in SCALE.md: flat "
               "across table decades)"),
        dict(op="versioned snapshots with TIME TRAVEL: uniquely-named "
                "immutable version directories committed by the same "
                "exclusive-claim CAS (_manifest.{n}.json — concurrent "
                "snapshot writers serialize, the loser raises and "
                "retries as the next version), probe-forward pointer "
                "cache, history log, vacuum (drops versions + claims "
                "+ crashed writers' orphan dirs) — a writer crash at "
                "any point leaves the previous version live; a crash "
                "after the claim leaves the version COMMITTED",
             loc="dask_expr_spark/functions/maintenance.py "
                 "(snapshot_write, snapshot_read, snapshot_vacuum, "
                 "snapshot_version_dir)",
             q=["snapshot_time_travel", "zonemap_snapshot_version"],
             t="crash-injection at BOTH commit-point sides (claim "
               "crash -> previous live + retry reclaims; post-claim "
               "crash -> committed via probe-forward) test_round7_ops "
               "+ concurrent-writer loser-raises test_fsops; vacuum "
               "mid-delete (cache-first, no dangling pointer); "
               "vacuumed-read rejection in the query's vacuum_ok "
               "flag"),
        dict(op="SCD-2 history-keeping upsert: change detection with "
                "no-op collapse, in-batch version chains, retroactive-"
                "update rejection (or replay-absorbing skip), as-of "
                "time travel + current view — reproducible corpus "
                "metadata for any training run's snapshot date — PLUS "
                "the streaming CDC-apply sink (bucket-pruned current "
                "table + append-only closed fragments with epoch-dedup "
                "compaction)",
             loc="dask_expr_spark/functions/maintenance.py "
                 "(scd2_init, upsert_scd2, scd2_asof, scd2_current); "
                 "dask_expr_spark/streaming/ops.py (scd2_sink, "
                 "read_scd2, compact_scd2_closed)",
             q=["scd2_history_orders", "scd2_asof_snapshot",
                "stream_scd2_history", "scd2_delete_orders"],
             t="randomized 3-batch differential vs pandas reference + "
               "no-op collapse/as-of/retroactive-guard/in-batch-dedup "
               "tests test_round7_ops; untouched-bucket byte-identity "
               "+ worst-interleaving restart-from-checkpoint replay "
               "tests test_streaming"),
        dict(op="row-level CDC, loop closed: insert/update/delete "
                "records between any two table states or committed "
                "snapshot versions (one full-outer join, change-sized "
                "output) + cdc_apply replaying those records onto a "
                "target — the roundtrip law cdc_apply(before, "
                "cdc_rows(before, after)) == after is test- and "
                "oracle-pinned",
             loc="dask_expr_spark/functions/maintenance.py "
                 "(cdc_rows, snapshot_cdc, cdc_apply)",
             q=["cdc_between_snapshots", "cdc_apply_roundtrip"],
             t="null-semantics + adjacent-version composition + "
               "randomized roundtrip (updates/deletes/inserts/null "
               "transitions) + partial-column rejection tests "
               "test_round7_ops"),
        dict(op="file-level ZONE MAPS (data skipping): footer-only "
                "distributed manifest build, predicate-provable file "
                "pruning with a stale-manifest safety contract "
                "(unknown files always read, removed files never "
                "referenced), exact residual filter",
             loc="dask_expr_spark/sources/zonemap.py (build_zonemap, "
                 "zone_prune, read_skipping)",
             q=["zonemap_skipping_dates", "zonemap_zorder_trailing"],
             t="inputFiles==survivors + op matrix (= in < <= > >= "
               "between isnull notnull) + all-null file pruning + "
               "stale-manifest safety + string/hive-layout + "
               "incremental update_zonemap (delta-only scan, "
               "rebuild-equality) + bucketed-layout + partition-"
               "column unsoundness guard + streaming upsert_sink "
               "manifest maintenance tests test_round7_ops"),
        dict(op="product-quantized ANN (PQ/ADC): seeded per-subspace "
                "256-centroid codebooks, 8-16 bytes/vector persisted "
                "code tables, lookup-table scan that never touches a "
                "float vector (32x memory path) + exact_rerank second "
                "stage (candidate-sized float join; measured 0.35 -> "
                "1.0 recall on the near-dup corpus)",
             loc="dask_expr_spark/functions/similarity.py (pq_train, "
                 "pq_encode, pq_topk)",
             q=["ann_pq_topk", "ann_pq_rerank"],
             t="partitioning-invariance + persisted-codes-identity + "
               "recall floor tests test_round7_ops; measured "
               "recall/cost table SCALE.md"),
        dict(op="IVF-PQ composed ANN: coarse cells bound WHICH "
                "vectors score, PQ codes bound WHAT ships through the "
                "cell join (m bytes vs dim floats), exact re-rank "
                "restores float ordering — measured recall lands "
                "exactly on the IVF cell-coverage ceiling",
             loc="dask_expr_spark/functions/similarity.py "
                 "(ivfpq_topk)",
             q=["ann_ivfpq_topk"],
             t="recall floor + rerank schema/ordering tests "
               "test_round7_ops; x100 recall table SCALE.md"),
    ]),
]


def generate() -> str:
    from dask_expr_spark.queries import collect_queries

    registry = collect_queries()
    oracle = {n: (sql is not None) for n, (_f, sql) in registry.items()}

    errors: list[str] = []
    lines: list[str] = []
    lines.append("# COVERAGE — SURVEY.md §2 operator inventory → "
                 "implementation → validating query")
    lines.append("")
    lines.append("> GENERATED by `scripts/gen_coverage.py` from the query "
                 "registry — edit the ROWS table there, not this file. "
                 "Every query name is existence-checked against "
                 "`collect_queries()`; `(oracle)` = hash-checked DuckDB "
                 "SQL, `(rows-only)` = weaker driver check.")
    lines.append("")

    n_ok = n_nongoal = n_oracle_rows = 0
    used_queries: set[str] = set()
    for section, rows in ROWS:
        lines.append(f"## {section}")
        lines.append("")
        lines.append("| Operator | Implementation | Validation |")
        lines.append("|---|---|---|")
        for r in rows:
            status = r.get("status", "ok")
            if status == "nongoal":
                n_nongoal += 1
                lines.append(f"| {r['op']} | ⛔ non-goal | {r['note']} |")
                continue
            n_ok += 1
            loc = r["loc"]
            f = loc.split(" ")[0]
            if not os.path.exists(f):
                errors.append(f"{r['op']}: missing file {f}")
            val_parts = []
            has_oracle_q = False
            for qn in r.get("q", []):
                used_queries.add(qn)
                if qn not in registry:
                    errors.append(f"{r['op']}: query {qn!r} not in registry")
                    continue
                tag = "oracle" if oracle[qn] else "rows-only"
                if oracle[qn]:
                    has_oracle_q = True
                val_parts.append(f"`{qn}` ({tag})")
            if has_oracle_q:
                n_oracle_rows += 1
            if r.get("t"):
                val_parts.append(f"pytest: {r['t']}")
            lines.append(f"| {r['op']} | `{loc}` | {'; '.join(val_parts)} |")
        lines.append("")

    unreferenced = sorted(set(registry) - used_queries)
    lines.append("## Summary")
    lines.append("")
    lines.append(f"- operator rows: {n_ok} implemented, {n_nongoal} declared "
                 f"non-goals ({n_ok + n_nongoal} total)")
    lines.append(f"- rows validated by ≥1 hash-checked oracle query: "
                 f"{n_oracle_rows}/{n_ok}")
    lines.append(f"- registry queries: {len(registry)} "
                 f"({sum(oracle.values())} with DuckDB oracles); "
                 f"{len(unreferenced)} additional queries not cited above "
                 "(round-specific variants and pipeline compositions)")
    lines.append("")
    lines.append("### Registry window hygiene (VERDICT r9 item 7)")
    lines.append("")
    lines.append(
        "Considered trimming strictly-subsumed queries toward ~200 so "
        "the 50-per-round driver audit cycles faster.  Decision: NO "
        "trim.  The citation graph shows no safe cut: 57 queries are "
        "the SOLE oracle citation of an operator row (unremovable), "
        "and the uncited remainder is the TPC-H differential suite "
        "(q2-q22 — the cross-engine join/agg compositions that anchor "
        "bench and BASELINE comparisons) plus composite pipeline "
        "probes; apparent near-pairs (`string_ops`/`string_ops2`, "
        "`dedup_connected_groups`/`_star`, `cat_codes_*`) each pin "
        "DIFFERENT options or algorithms, not duplicates.  The cost "
        "of the longer cycle is nominal: every registry query is "
        "swept against DuckDB at sf0.01 locally EVERY round "
        "(tests/test_correctness.py), so the driver rotation is an "
        "audit-trail freshness mechanism, not the correctness gate.")
    lines.append("")
    if unreferenced:
        lines.append("<details><summary>registry queries not cited in the "
                     "table</summary>")
        lines.append("")
        for qn in unreferenced:
            tag = "oracle" if oracle[qn] else "rows-only"
            lines.append(f"- `{qn}` ({tag})")
        lines.append("")
        lines.append("</details>")
        lines.append("")

    if errors:
        raise SystemExit("COVERAGE generation failed:\n  " +
                         "\n  ".join(errors))
    return "\n".join(lines) + "\n"


def main() -> None:
    out = generate()
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "COVERAGE.md")
    if "--check" in sys.argv:
        with open(path) as fh:
            if fh.read() != out:
                raise SystemExit("COVERAGE.md is stale — rerun "
                                 "scripts/gen_coverage.py")
        print("COVERAGE.md up to date")
        return
    with open(path, "w") as fh:
        fh.write(out)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
