"""Benchmark harness (driver contract): headline queries at sf0.1.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": <sf>}.

Each query materializes fully through the JVM `noop` sink — every row
and column is computed and serialized, but nothing crosses to the
driver, so timings measure the engine, not result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one representative per operator family (relational, agg,
# join, window, sort, streaming-batch, dedup, similarity, text, flagship).
HEADLINE = [
    "flagship_incremental_load",
    "rel_project_filter_predicates",
    "agg_pricing_summary",
    "agg_cube",
    "join_shuffle_fact",
    "join_broadcast_dim",
    "join_asof_last_click",
    "win_running_sum",
    "sort_top_k_global",
    "stream_session_window",
    "stream_sliding_window",
    "fn_json",
    "fn_variant_shred",
    "udf_apply_in_pandas",
    "src_rest_paged_scan",
    "join_bucketed_colocated",
    "join_lateral_topn",
    "agg_percentiles",
    "agg_stats_moments",
    "stream_hierarchical_rollup",
    "text_corpus_curation",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sim_brute_force_topk",
    # round-6: the MMR pool now rides the shared BLAS shortlist kernel
    # (the retired crossJoin pool was the last perf-weak flag) — bench
    # it so the kernel's cost has a round-over-round trend line
    "sim_mmr_diversify",
    "text_quality_score",
    "mm_binary_metadata",
    # round-2 additions: the re-shaped scale paths + pushed TopN
    "sim_embedding_neardup",
    "sim_quantized_topk",
    "src_rest_topn_pushdown",
    # round-2 late additions: time series, budget allocator, CDC dedup,
    # retention. Totals are NOT comparable across rounds as the set
    # grows — compare per-query timings.
    "ts_resample_ffill",
    "text_token_budget_alloc",
    "dedup_cdc_chunking",
    "win_cohort_retention",
    # curation family: shared shingle/token relation reuse, two-phase
    # prefix sum, per-row fold quality rules
    "text_contamination_overlap",
    "text_unigram_logprob",
    "text_sequence_packing",
    "text_gopher_quality_rules",
    # round-2 wave 3: span dedup, sessionization, PMI, z-order layout,
    # modality routing
    "dedup_repeated_spans",
    "win_sessionize_gap",
    "text_pmi_collocations",
    "layout_zorder_stats",
    "mm_modality_routing",
    # round-3 additions: multi-join OLAP suite (scan-agg, 7-relation
    # tree, EXISTS/NOT EXISTS decorrelation), graph census over the
    # near-dup edges, containment dedup, order-aware LM scoring,
    # grid interpolation, banded phash blocking
    "olap_q6_forecast_revenue",
    "olap_q8_market_share",
    "olap_q18_large_volume_customers",
    "olap_q21_late_suppliers",
    "graph_triangle_stats",
    "dedup_containment",
    "text_bigram_logprob",
    "ts_linear_interpolate",
    "mm_phash_neardup",
    # round-3 session 2: DSIR importance resampling (hashed-bigram
    # log-likelihood ratio), embedding-space QA moments, bloom-gated
    # incremental dedup, PQ-compressed ANN
    "text_dsir_importance",
    "emb_dim_stats",
    "dedup_bloom_incremental",
    "sim_pq_topk",
    "text_perplexity_buckets",
    "layout_compaction_read",
    "src_schema_evolution_scan",
    "src_avro_roundtrip_scan",
    "text_bpe_tokenize",
    "sim_rerank_two_stage",
    "sql_gateway_topn",
    "layout_dynamic_overwrite",
    "mm_ppm_decode_features",
    "mm_png_decode_features",
    "mm_jpeg_decode_features",
    "mm_wav_decode_features",
    # round-7: real G.711 mu-law decode (compressed-audio codec path),
    # GIF87a (real LZW — the dictionary-coder family), and the
    # JDBC-style partitioned SQLite federated scan
    "mm_mulaw_decode_features",
    "mm_alaw_decode_features",
    "mm_gif_decode_features",
    "src_sqlite_partitioned_scan",
    "src_warc_scan",
    "mm_video_frame_features",
    "agg_sample_estimate",
    "join_auto_skew_remedy",
    "layout_codec_stats",
    "ts_lttb_downsample",
    "sim_filtered_topk",
    "ts_trend_slope",
    "ts_mom_growth",
    "win_pattern_consecutive",
    # round-3 session 3: the suite-completing TPC-H shapes (widest
    # tree, decorrelated MIN, outer-join distribution), BM25 lexical
    # retrieval over the cached token spine, one-pass profiler, k-core
    "olap_q2_min_cost_supplier",
    "olap_q9_product_profit",
    "olap_q13_customer_distribution",
    "text_bm25_topk",
    "diag_table_profile",
    "graph_kcore",
    # round-3 session 4: equi-depth stats, positional phrase probe,
    # A-ES weighted sampling, snapshot time travel, cross-format join
    "agg_equidepth_histogram",
    "text_phrase_search",
    "text_weighted_sample",
    "layout_time_travel_read",
    "src_federated_join",
    "diag_referential_integrity",
    "diag_psi_drift",
    "text_token_entropy",
    "src_textlog_scan",
    "diag_join_cardinality",
    "text_url_canonicalize",
    "sql_gateway_grouping_sets",
    "graph_bfs_depth",
    "win_event_transitions",
    "ts_holt_linear",
    "ts_cusum_changepoint",
    "src_range_generator",
    "win_rolling_distinct_users",
    "join_market_basket",
    "join_geo_gridblock",
    "ts_theil_sen",
    "diag_ab_chi_square",
    "emb_pca_top_component",
    "text_unicode_nfc",
    # round-3 session 5: zero-shuffle classifier inference, winnowing
    # fingerprints, shingle-spine novelty, attribution's residual-range
    # join, RFM rollup, KMV set algebra, seasonal/ACF rollups, wedge
    # link prediction
    "text_hashed_linear_classifier",
    "text_winnow_fingerprint",
    "text_ngram_novelty",
    "win_attribution_linear",
    "agg_rfm_segments",
    "agg_kmv_set_ops",
    "ts_seasonal_decompose",
    "ts_acf_lags",
    "diag_benford_digit_audit",
    "graph_jaccard_linkpred",
    "win_pareto_abc",
    "ts_mad_anomalies",
    "src_csv_corrupt_recovery",
    "join_asof_nearest",
    "sql_gateway_window",
    "text_rake_keywords",
    "agg_gini_coefficient",
    "ts_kaplan_meier",
    "win_session_paths",
    "ts_m4_downsample",
    "graph_degree_assortativity",
    "mm_audio_spectral_features",
    # round-4 additions: privacy/drift/association/FD audits, exact
    # interval-union coverage, OHLC candles, content-keyed splits,
    # per-node clustering, cross-doc winnowing span matches,
    # rank-winsorized robust stats, LCP boilerplate, trending top-k
    "diag_k_anonymity",
    "diag_ks_drift",
    "diag_cramers_v",
    "diag_functional_deps",
    "ts_ohlc_resample",
    "ts_interval_union_length",
    "text_leakage_safe_split",
    "graph_local_clustering",
    "text_winnow_crossdoc",
    "agg_winsorized_stats",
    "text_source_boilerplate_prefix",
    "stream_topk_trending",
    "mm_byte_entropy",
    "ts_event_study",
    "agg_bootstrap_ci",
    "agg_weighted_median",
    "join_interval_bucketed",
    "sql_gateway_correlated",
    "diag_duplicate_rows",
    "graph_edge_support",
    "join_entity_resolution",
    "layout_ivm_delta_join",
    "text_source_overlap",
    "ts_bollinger_breakouts",
    "ts_seasonal_residual_anomalies",
    "win_time_to_convert",
    "agg_brand_movers",
    "graph_pagerank_exact",
    "dedup_minhash_estimate",
    "agg_target_encoding",
    "diag_l_diversity",
    "ts_purged_walkforward_split",
    "diag_mutual_information",
    "dedup_simhash_portable",
    "dedup_estimator_pr",
    "agg_hll_portable",
    "graph_neardup_cc_exact",
    "dedup_keep_best_canonical",
    "sim_matryoshka_prefix_recall",
    # round-8 additions: stateful predictive audio codec (IMA ADPCM),
    # library-free protobuf wire-format ingestion
    "mm_adpcm_decode_features",
    "src_protobuf_wire_scan",
    # round-8: BI_RLE8 escape codec (delta/absolute/EOL/EOB), SAX
    # symbolic series indexing
    "mm_bmp_rle8_decode_features",
    "ts_sax_symbolic",
    # round-8: bounded-memory frequent tokens (MG sketch + exact pass),
    # Aho-Corasick dictionary spotting
    "text_heavy_hitters",
    "text_dictionary_spotting",
    # round-8: Hilbert-vs-Z layout locality shootout
    "layout_hilbert_locality",
]

# Queries published in the PREVIOUS round's bench line (BENCH_r09
# "queries" keys, verbatim). The driver keeps only the last ~2000
# chars of stdout, so the line can carry ~55-60 of the 180 headline
# timings; before round 10 the line held whichever queries were
# slowest THAT round, so any query that sped up fell off the line and
# the driver's round-over-round comparison recorded a phantom
# "dropped_from_bench" (VERDICT r9 item 1). Publishing is now
# additions-only: this set is retained verbatim every round (append
# the new names each round), and the remaining budget is filled with
# the slowest not-yet-published queries. Full 180-query detail is
# always in BENCH_FULL.json.
PUBLISH_ALWAYS = [
    "dedup_estimator_pr",
    "diag_duplicate_rows",
    "text_bigram_logprob",
    "dedup_minhash_estimate",
    "agg_percentiles",
    "text_pmi_collocations",
    "join_entity_resolution",
    "sim_rerank_two_stage",
    "diag_referential_integrity",
    "diag_functional_deps",
    "diag_table_profile",
    "join_market_basket",
    "graph_pagerank_exact",
    "graph_bfs_depth",
    "layout_hilbert_locality",
    "text_source_overlap",
    "text_unigram_logprob",
    "dedup_minhash_lsh",
    "text_perplexity_buckets",
    "diag_mutual_information",
    "graph_kcore",
    "text_rake_keywords",
    "sim_pq_topk",
    "agg_winsorized_stats",
    "src_protobuf_wire_scan",
    "text_winnow_crossdoc",
    "sim_matryoshka_prefix_recall",
    "text_dsir_importance",
    "text_corpus_curation",
    "dedup_bloom_incremental",
    "mm_jpeg_decode_features",
    "agg_equidepth_histogram",
    "mm_gif_decode_features",
    "diag_ks_drift",
    "mm_bmp_rle8_decode_features",
    "ts_purged_walkforward_split",
    "join_interval_bucketed",
    "agg_weighted_median",
    "sim_mmr_diversify",
    "flagship_incremental_load",
    "text_heavy_hitters",
    "text_sequence_packing",
    "graph_edge_support",
    "mm_adpcm_decode_features",
    "agg_hll_portable",
    "win_session_paths",
    "text_bm25_topk",
    "src_warc_scan",
    "win_attribution_linear",
    "layout_codec_stats",
    "win_pareto_abc",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # parsed before the session starts: a dir not named sf<float> fails
    # here, not after setup and every timed pass
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from seamless_sharepoint_etl_spark import artifacts, registry
    from seamless_sharepoint_etl_spark.session import get_spark

    spark = get_spark("seamless-etl-bench")
    queries = registry.queries()

    # Cold/warm accounting: every setup step is timed and published in
    # BENCH_FULL.json's `setup` section, so the per-query timings (warm,
    # production-amortized) and the one-time artifact costs are
    # separately auditable.
    setup_secs = artifacts.warm(spark, sf_dir)

    # Codegen/JIT warmup: run every headline plan once at the smallest
    # SF (generated code is keyed by plan shape, not data size), so the
    # timed pass below measures the engine, not first-compile cost.
    t0 = time.time()
    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf) and warm_sf != sf_dir:
        for name in HEADLINE:
            try:
                queries[name](spark, warm_sf).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # warmup is best-effort; the timed run surfaces real errors
    setup_secs["codegen_warmup_pass_sf0.001"] = round(time.time() - t0, 3)

    # Median-of-3 publication policy (VERDICT r7 item 4): host noise
    # outside the container swung single-run totals 210-285 s with a
    # different outlier set each run, forcing manual noise forensics
    # every round. The committed number is now the PER-QUERY MEDIAN of
    # N back-to-back timed passes (same session, same warm state), and
    # the raw per-run totals are published alongside so the spread is
    # visible instead of adjudicated.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    runs: list[dict[str, float]] = []
    for _ in range(n_runs):
        pass_timings: dict[str, float] = {}
        for name in HEADLINE:
            fn = queries[name]
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            pass_timings[name] = time.time() - t0
        runs.append(pass_timings)
    timings = {
        name: round(sorted(run[name] for run in runs)[n_runs // 2], 3)
        for name in HEADLINE
    }

    total = round(sum(timings.values()), 3)
    setup_total = round(sum(setup_secs.values()), 3)
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "aggregation": f"per-query median of {n_runs} back-to-back runs",
        "runs_total_raw": [
            round(sum(run.values()), 3) for run in runs
        ],
        # One-time artifact costs (cache fills, index training, staged
        # layout writes, warmup) — kept separate from per-query timings
        # so accounting moves can't masquerade as plan wins. The
        # cold_total line keeps round-over-round deltas apples-to-
        # apples with rounds that timed cold paths inline (ADVICE r7).
        "setup": setup_secs,
        "setup_total": setup_total,
        "cold_total_incl_setup": round(total + setup_total, 3),
    }
    # Full per-query detail always lands in the repo for the judge.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
        "w",
    ) as f:
        json.dump(payload, f, indent=1, sort_keys=True)

    # The round driver keeps only the LAST 2000 chars of stdout and
    # parses the JSON line out of that tail — round 3's 121-query line
    # was ~3.3 kB and failed to parse (BENCH_r03.json "parsed": null).
    # Emit a line guaranteed to fit. Round-10 line-format change
    # (VERDICT r9 item 1, declared in OPTIMIZATION_r10.md — the TIMING
    # methodology is untouched): per-query values are rounded to 2
    # decimals in the line (3-decimal detail stays in BENCH_FULL.json),
    # the PUBLISH_ALWAYS set (every query published in the previous
    # round's line) is retained verbatim so round-over-round
    # comparisons never see a phantom drop, and the remaining budget
    # goes to the slowest not-yet-published queries.
    line_payload = dict(payload)
    line_payload["detail"] = "BENCH_FULL.json"
    del line_payload["setup"]  # per-artifact detail lives in BENCH_FULL
    del line_payload["aggregation"]  # ditto — keep the line small
    kept: dict[str, float] = {}
    line_payload["queries"] = kept  # alias: the loop mutates kept in place
    for name in PUBLISH_ALWAYS:
        kept[name] = round(timings[name], 2)
    base_len = len(json.dumps(line_payload, separators=(",", ":")))
    # At the limit: BENCH_r10's published line held 57 names in 1813
    # chars, 51 of them from this list. Appending the other six
    # (layout_zorder_stats, mm_ppm_decode_features,
    # mm_png_decode_features, src_sqlite_partitioned_scan,
    # src_federated_join, src_rest_paged_scan) makes this base alone
    # 1813 chars, so a run would write BENCH_FULL.json and then stop
    # here without printing its line. Growing the list further needs a
    # decision first: retire names, shorten the line, or drop the
    # additions-only rule.
    assert base_len <= 1700, (
        f"PUBLISH_ALWAYS alone is {base_len} chars — trim the additions"
    )
    rest = sorted(
        (kv for kv in timings.items() if kv[0] not in kept),
        key=lambda kv: -kv[1],
    )
    for name, secs in rest:
        kept[name] = round(secs, 2)
        if len(json.dumps(line_payload, separators=(",", ":"))) > 1820:
            del kept[name]
            break
    line = json.dumps(line_payload, separators=(",", ":"))
    assert len(line) <= 1900, f"bench JSON line too long: {len(line)}"
    assert set(PUBLISH_ALWAYS) <= set(kept), "published set regressed"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
