"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over skinnerdb_spark.registry — every implemented operator from
SURVEY.md §2 (plus the beyond-reference pipeline tier) registers a Spark
implementation and, where SQL-expressible, a DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from skinnerdb_spark.registry import all_specs


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H q03 shape —
    3-way join + group + order/limit, the full NONE->GROUPS pipeline of the
    reference's query lifecycle (SURVEY §3.1)."""
    specs = all_specs()
    return specs["tpch_q03"].spark(spark, "/root/testdata/sf0.001")


#: everything the driver's correctness gate sampled in rounds 1-8 (the union
#: of CORRECTNESS_r01..r08 keys — 198/198 registry entries green cumulatively
#: as of r8, rcte_order_chains re-green after the r9 DOUBLE-cast fix). The
#: gate takes the FIRST 50 queries() entries, so already-green entries rotate
#: to the back and any newly added entries get hard driver rows. The staples
#: keep full local coverage in tests/test_oracle.py.
_R12345678_SAMPLED = frozenset(
    ["adaptive_star_join", "setop_union", "setop_intersect_except",
     "window_rank_topn", "window_running_sum", "rollup_agg", "stats_agg",
     "median_manual", "distinct_agg", "edge_empty_and_null_aggs", "cube_agg",
     "window_rank_lag", "approx_distinct_sketch", "cte_query", "job_star_min",
     "job_snowflake_or", "job_double_like", "job_theta_join", "job_wide_star",
     "job_chain_dates", "scalar_surface", "scalar_interval_arith",
     "scalar_null_ordering", "scalar_math", "scalar_string", "scalar_datetime",
     "grouping_sets_agg", "null_join_semantics", "subq_in_semijoin",
     "subq_not_in_antijoin", "subq_not_in_null_trap", "subq_scalar_compare",
     "subq_from_derived",
     # r4 sample
     "sim_bruteforce_topk", "sim_lsh_buckets", "sim_lsh_ann",
     "sim_lsh_multiprobe", "dedup_embed_cosine", "events_json_extract",
     "sample_class_balanced", "docs_source_mix", "knn_label_vote",
     "ev_gap_fill", "pivot_status_by_priority", "unpivot_part_attrs",
     "dedup_exact", "dedup_norm_prefix", "dedup_minhash_lsh",
     "dedup_pipeline_decisions", "dedup_simhash", "dedup_ngram_jaccard",
     "dedup_clusters", "multimodal_features", "text_chunking",
     "sample_stratified", "contamination_check", "pack_sequences",
     "embed_quantize", "asof_latest_order", "range_join_ship_window",
     "text_stats", "text_quality", "text_langid", "text_regex_tokens",
     "text_fingerprint", "text_repetition", "docs_length_quantiles",
     "ev_tumbling_hour", "ev_sliding_2h", "ev_sessionization",
     "ev_rollup_merge", "ev_user_activity", "window_frames",
     "outer_join_full", "outer_join_on_filter", "lateral_top1_order"]
    + [f"job_v{i:02d}" for i in range(1, 10)]
    + [f"tpch_q{i:02d}" for i in (1, 2, 3, 4, 5, 6, 7, 8, 9, 13, 15, 16, 21, 22)]
    # r5 sample (CORRECTNESS_r05: 50/50 hash-green)
    + ["binary_ingest_manifest", "dedup_containment", "dedup_prefix_filter",
       "dedup_segments", "dedup_simhash_pairs", "docs_bm25_topk",
       "docs_curation_gate", "docs_embedding_profile", "docs_merge_upsert",
       "docs_snapshot_diff", "docs_vocab_stats", "ev_anomaly_hours",
       "ev_attribution_join", "ev_event_transitions", "ev_funnel_conversion",
       "ev_retention_cohorts", "ev_session_paths", "ev_skew_salted_agg",
       "ev_state_history", "ev_stream_dedup", "ev_value_histogram",
       "graph_pagerank", "graph_triangles", "job_deep15", "job_deep17",
       "multimodal_frame_sample", "multimodal_resize_plan",
       "name_edit_distance_pairs", "orders_equidepth_hist", "profile_table",
       "sample_leakage_free_split", "sample_source_target_mix",
       "scalar_higher_order", "sim_ivf_ann", "sim_ivfpq_ann", "sim_pq_ann",
       "stats_join_size", "stats_linear_fit", "text_pii_redact",
       "text_quality_lr", "text_tfidf_topk",
       "tpch_q10", "tpch_q11", "tpch_q12", "tpch_q14", "tpch_q17",
       "tpch_q18", "tpch_q19", "tpch_q20"]
    # r6 sample (CORRECTNESS_r06: 50/50 hash-green)
    + ["multimodal_decode_stats", "text_token_ids", "setop_bag_semantics",
       "embed_norm_qa", "embed_kmeans", "text_bpe_merges",
       "docs_bigram_lm_score", "embed_power_iteration", "docs_pmi_topk",
       "graph_jaccard_links", "orders_skyline", "ev_heavy_hitters"]
    # r7 sample (CORRECTNESS_r07: 50/50 hash-green)
    + ["multimodal_jpeg_roundtrip", "multimodal_audio_features",
       "multimodal_video_frames", "wcoj_triangle_listing", "wcoj_clique4",
       "multimodal_webp_roundtrip", "dedup_verbatim_spans",
       "sample_temperature_mix", "multimodal_gif_roundtrip", "dedup_semantic",
       "docs_gopher_quality", "docs_lexical_diversity", "docs_dsir_weights",
       "ev_winsorize", "docs_ccnet_buckets", "ev_rate_limit",
       "dedup_incremental", "ev_countmin_sketch"]
    # r8 sample (CORRECTNESS_r08: 49/50 hash-green; the one red,
    # rcte_order_chains, is fixed in r9 and rotates forward via _REVERIFY)
    + ["asof_first_shipment", "docs_html_extract", "docs_hybrid_rrf",
       "docs_inverted_index", "docs_quality_prune_budget", "docs_url_dedup",
       "embed_jl_distortion", "ev_mad_outliers", "ev_session_window_native",
       "events_variant_props", "rcte_order_chains", "sample_shard_manifest",
       "scalar_map_surface", "scalar_try_surface", "stats_ab_ztest",
       "stats_chi2_independence", "stats_skew_report", "text_bpe_encode",
       "text_word_offsets_udtf", "dedup_keep_best"]
    # r9 sample (CORRECTNESS_r09: 49/50 hash-green; the one red,
    # stats_benford_check — DuckDB rounds the double->BIGINT cast where
    # Spark truncates — is fixed in r10 and rotates forward via _REVERIFY)
    + ["approx_bloom_semijoin", "approx_distinct_kmv", "approx_kmv_merge",
       "dedup_lsh_recall_report", "dedup_sorted_neighborhood",
       "docs_crawl_schedule", "docs_kn_bigram_score", "ev_bitmap_rollup",
       "ev_cusum_drift", "ev_markov_stationary", "ev_time_weighted_avg",
       "graph_bfs_hops", "graph_kcore_peel", "li_interval_overlap",
       "li_shipping_islands", "multimodal_tiff_roundtrip",
       "orders_group_by_all", "orders_percentile_disc",
       "profile_fk_candidates", "profile_functional_deps",
       "sample_systematic_pps", "scalar_bitwise_surface",
       "scalar_collation_surface", "scalar_sql_table_udf", "scalar_sql_udf",
       "sim_sq_ann", "sql_script_chain_report", "stats_benford_check",
       "stats_bootstrap_ci", "stats_ks_test", "stats_mann_whitney",
       "stats_theil_sen", "text_fertility", "window_ntile_dist"]
)

#: sampled before, but rotate forward again for re-verification in r7:
#: every entry whose implementation (or a shared helper in its plan) changed
#: this round — enforced by tools/gate_check.py (plan+oracle fingerprint
#: diff vs GATE_FINGERPRINTS.json), which closed the r6 hygiene miss where
#: two changed entries never rotated forward.
_REVERIFY: list[str] = [
    # r11: the r9/r10 hash-RED row — the LAST divergence (Spark typed the
    # Benford CASE over mixed-scale decimal literals as DECIMAL(17,17)
    # where DuckDB promotes to DOUBLE) closed by CAST(CASE ... AS DOUBLE)
    # in _benford_p_sql; verified bit-identical cross-engine at sf0.01 and
    # the local harness is now dtype-faithful so this bug class fails
    # pytest (VERDICT r10 items 1+2). MUST get a green driver row.
    "stats_benford_check",
    # r11: pair dedup pushed INTO the bin join as the canonical-bin filter
    # (interval_overlap_join dedup=True) — the full-output DISTINCT shuffle
    # is gone (VERDICT r10 item 5)
    "li_interval_overlap",
    # r11: DISC ranks now selected by the value-domain k-th selection
    # kernel (exact_value_at_ranks) instead of native percentile_disc's
    # per-group value buffering (VERDICT r10 item 6)
    "orders_percentile_disc",
    # r11: execution-time raise_error guards added (ADVICE r10): BIGINT
    # replicate-accumulator overflow bound / sink-state mass-drain
    # precondition — same outputs on compliant inputs, loud on violation
    "stats_bootstrap_ci", "ev_markov_stationary",
    # r11 (cont.): the outer key bound is restated on the inner correlation
    # column so it reaches the orders parquet scan — Catalyst infers it but
    # parks it ABOVE the WindowGroupLimit stack (sf10: 48.8 s -> scan-bound)
    "lateral_top1_order",
    # r11 (cont.): bigram entries fold to ONE corpus explode — cab/model
    # tables now derive from the (doc_id,a,b) pre-aggregate (cab = SUM(k),
    # exact); ccnet composes the shared memo so its plan rotates too
    "docs_bigram_lm_score", "docs_kn_bigram_score", "docs_ccnet_buckets",
    # r11 (cont.): order statistics — ev_winsorize moves to the
    # ONE-corpus-scan (group, value) count shape (ev_mad_outliers'
    # design-(3) doctrine, shared via quality.value_at_rank; events.value
    # is quantized cents at every scale); ev_mad_outliers rotates because
    # the shared helper reshapes its plan; median_manual rotates because
    # the selection kernel now skips the leaf scan once a target's range
    # collapses to one value (l_quantity resolves at level 1 at sf<=0.1)
    "median_manual", "ev_winsorize", "ev_mad_outliers",
    # r11 (cont.): the live re-duel receipt (VERDICT r10 item 4) updates the
    # learned-order cache during bench runs, so the adaptive entry's plan
    # can legitimately change between rounds — rotate it forward for a
    # fresh driver row whenever that happens
    "adaptive_star_join",
    # r11 session 2: WCOJ cells dispatch to the packed-int64 numpy kernel —
    # a worker-side kernel change gate_check cannot fingerprint (the plan
    # and the registered functions' source are unchanged), which is
    # exactly the documented manual-_REVERIFY case
    "wcoj_triangle_listing", "wcoj_clique4",
    # r11 session 2: the rarity prefix ranks/joins xxhash64(shingle)
    # instead of the string — both consumers of the shared pair build
    # rotate (verified output invariant under any consistent global
    # shingle order; see _rarity_prefix)
    "dedup_prefix_filter", "dedup_lsh_recall_report",
    # r11 session 3: FK profiling collapses each pair to ONE tagged
    # union-aggregate (no LEFT SEMI / per-consumer distinct re-execution)
    "profile_fk_candidates",
    # r11 session 3: segments hash to int64 at the explode and shared-ness
    # is min!=max — docs_curation_gate composes dedup_segments, so both
    # plans change
    "dedup_segments", "docs_curation_gate",
    # r11 session 3: the augmented-moment explode is replaced by the
    # per-task numpy int64 matmul partials (identical exact sums)
    "embed_power_iteration",
    # r11 session 3: per-round lineage cuts (nd + rank frames) — the
    # kcore/bfs pattern applied to pagerank
    "graph_pagerank",
    # r11 session 3: signatures cross the pair join as xxhash64 int64
    # arrays instead of md5 strings (position equality preserved)
    "dedup_minhash_lsh",
    # r11 session 3: gate_check flagged plan drift on the IVF entries —
    # no code change; the persisted sf0.001 index was REBUILT mid-round
    # (a stale-fingerprint rebuild during an interrupted session), which
    # changes the centroid literals the plan inlines. Oracle re-derives
    # from the same persisted centroids, so both engines stay aligned —
    # re-verified canonical-equal at sf0.01 — but the plan fingerprint
    # legitimately moved, so both rotate forward for fresh driver rows.
    "sim_ivf_ann", "sim_ivfpq_ann",
    # r11 session 4: minhash_signatures restructured from the in-row
    # transform+array_min fold to explode(distinct shingles) + one
    # groupBy(doc_id) with H top-level MIN aggregates — aggregate
    # expressions stay in codegen where folds nested inside transform()
    # drop to the interpreted path (sf10: 10.4 -> 6.7 s warm, rows
    # identical). Every consumer of the shared signature frame rotates
    # (dedup_minhash_lsh / dedup_lsh_recall_report already listed above):
    "dedup_containment", "dedup_ngram_jaccard", "dedup_pipeline_decisions",
    # r11 session 5: the (doc_id, a, b, k) bigram-instance pre-aggregate is
    # now the session-shared family memo (its 4-5 differently-pruned plan
    # consumers each re-ran the corpus explode: cold family total at sf10
    # 273 -> 55 s) — the three bigram entries above are already listed;
    # theil-sen's calendar-bounded daily frame gets an eager lineage cut
    # (6 orders scans -> 1, wall-clock tie at sf10, kept for the scan
    # reduction); the Lloyd rounds of embed_kmeans/dedup_semantic fuse
    # assign+update into ONE exact-int64 numpy pass per round (sf10:
    # 14.4 -> 4.4 s / 32.5 -> 7.1 s, rows identical both arms)
    "stats_theil_sen", "embed_kmeans", "dedup_semantic",
    # r11 session 5: examined, measured, and deliberately left unchanged —
    # the per-value lineage cut measured SLOWER at sf10 (notes in
    # stattests.py); they rotate only because the source fingerprint moved
    # with the recorded negative-result comments
    "stats_ks_test", "stats_mann_whitney",
    # r11 session 6: the CMS sketch derives from the per-user count
    # aggregate (bucket hash depends only on (d, user_id)) — one corpus
    # pass instead of two x-depth explodes + a truth scan (sf10 cold
    # 14.6/18.3 -> 10.5/8.4 s, warm 8.6 -> 1.0 s, rows identical; fold
    # identity pinned in tests/test_quality.py)
    "ev_countmin_sketch",
    # r11 session 6: verbatim spans hash to int64 at the explode (output
    # carries only pair counts — span equality is all downstream needs);
    # the documented shared-shingle-hash collision class, row-identical
    # against the string-keyed oracle at sf0.01/sf0.1
    "dedup_verbatim_spans",
    # r11 session 6: the corpus tokenize (doc lengths) and the query-term
    # tf explode become the shared sparse-retrieval family memos
    # (shared_doc_lengths / shared_bm25_tf) — both retrievers compose them
    # (family cold total at sf10: 18.7/16.5 -> 11.6/11.7 s interleaved)
    "docs_bm25_topk", "docs_hybrid_rrf",
    # r11 session 6: the sketch-tier distinct-key frames are cached — each
    # fed 2-5 consumers with different prunings, so the corpus scan +
    # distinct (+ md5) re-executed per consumer (kmv_merge warm at sf10
    # 10.8/12.7 -> 3.3/3.7 s; distinct_kmv 9.5 -> 1.6 s; bloom 5.8/7.3 ->
    # 3.9/4.2 s; rows identical in every arm). approx_distinct_kmv's exact
    # side now derives from the same cached dk frame (same computation,
    # one subtree).
    "approx_kmv_merge", "approx_distinct_kmv", "approx_bloom_semijoin",
    # r11 session 6: the exact-Jaccard verify stage intersects the int64
    # shingle-HASH arrays (shared_shingle_hashes — the recipe its own
    # docstring promised, already used by dedup_containment) instead of
    # the string arrays: sf10 verify 9.1/8.4 -> 4.1 s cold, 7.1/8.0 ->
    # 2.9 s warm, 4,705,124 pairs identical in every arm. All three
    # verified-pairs consumers rotate (ngram_jaccard/pipeline_decisions
    # already listed above):
    "dedup_clusters",
    # r12 (ADVICE r11 medium): the entry-body .cache() frames route
    # through the state.memo LRU so eviction unpersists them (storage no
    # longer grows unbounded across a multi-SF session). Values unchanged
    # — same frames, tracked persist; oracle canonical-equal at sf0.01.
    # The approx_* / ev_countmin_sketch siblings of the same change are
    # already in the front above; only this entry's fingerprint newly
    # moved this round.
    "docs_dsir_weights",
    # r12: the correlated-AVG side is semi-filtered by the broadcast
    # Brand#2 partkey set before aggregating (guide §3.2) — the old shape
    # aggregated EVERY partkey and broadcast every average (sf10 12.6/8.1
    # -> 3.5/3.3 s, avg_yearly bit-identical; oracle canonical-equal at
    # sf0.01 and sf0.1).
    "tpch_q17",
    # r12: with a UNIQUE left key the forward as-of degenerates to a
    # filtered MIN(STRUCT(shipdate, qty)) aggregate — the union + per-key
    # descending sort + window carry is gone (sf10 20.9/14.9 -> 6.1/5.5 s,
    # rows identical; the general carry machinery stays exercised by
    # asof_latest_order and the component tests).
    "asof_first_shipment",
    # r12: the SymSpell deletion-key build explodes the index FIRST and
    # hashes top-level (the transform-lambda chain ran interpreted), and
    # the keyed frame is memoized so the broadcast self-join stops
    # building it twice (sf1 cold 67.9 -> 13.3 s, warm 9.7 -> 4.0 s,
    # output identical; oracle canonical-equal at sf0.01/sf0.1).
    "name_edit_distance_pairs",
    # r12: PMI derives its bigram counts from the shared bigram-instance
    # family memo (cab = SUM(k), exact) and memoizes its vocab-sized
    # unigram frame — the inline plan re-executed the corpus tokenize per
    # consumer (10 scans / 6 Generates before; sf10 warm 8.7 -> 0.8-1.0 s,
    # oracle canonical-equal at sf0.01/sf0.1).
    "docs_pmi_topk",
    # r12: the (doc_id, term) tf aggregate is memoized — it fed both the
    # df aggregate and the scoring join, so the corpus explode re-executed
    # per consumer (sf10 same-session A/B 29.4/13.6 -> 14.0/10.3 s; oracle
    # canonical-equal at sf0.01/sf0.1).
    "text_tfidf_topk",
    # per-application state moved to skinnerdb_spark/state.py: the seed
    # frame is a memo entry in the state's child session (was a bare
    # .cache() in a module-private session dict)
    "rcte_order_chains",
    # the order-position frame is a memo entry (was a bare .cache()) and
    # the script runs in the session that holds its view
    "sql_script_chain_report",
    # memo is imported at module top instead of inside the entry body
    "sim_bruteforce_topk",
    # (also changed by the same move, already listed above:
    # adaptive_star_join, which now wraps a DataFrame-API join chain in
    # queries.util.adaptive; approx_bloom_semijoin, approx_distinct_kmv,
    # approx_kmv_merge, docs_dsir_weights, docs_kn_bigram_score,
    # docs_pmi_topk, ev_countmin_sketch, name_edit_distance_pairs,
    # text_tfidf_topk)
]

#: pinned to the very FRONT of the gate window: new registry entries for
#: this round, listed explicitly so their first driver rows are immune to
#: registration order. r10 is a consolidation round (VERDICT r9 item 9):
#: no new entries yet — changed entries rotate via _REVERIFY above, and
#: the remaining gate slots re-sample the cumulative tail.
_PRIORITY: list[str] = []


def _driver_ordered() -> list[str]:
    specs = all_specs()
    front = [n for n in _PRIORITY + _REVERIFY if n in specs]
    fresh = [n for n in specs if n not in _R12345678_SAMPLED and n not in front]
    rest = [n for n in specs if n in _R12345678_SAMPLED and n not in front]
    return front + fresh + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented query/operator from SURVEY.md §2,
    never-driver-sampled entries first (see _R12345678_SAMPLED)."""
    specs = all_specs()
    return {name: specs[name].spark for name in _driver_ordered()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each queries() entry.

    Entries without an oracle (genuinely non-SQL-expressible ops) are omitted
    -> the driver records a weaker rows-only check for those.
    """
    specs = all_specs()
    return {
        name: specs[name].oracle
        for name in _driver_ordered()
        if specs[name].oracle is not None
    }
