"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship hotels_count analog on sf0.001.
``queries()``   — every implemented operator from SURVEY.md §2 plus the
                  training-data-pipeline extensions (dedup / similarity /
                  text analysis), each ``(spark, sf_dir) -> DataFrame``.
``oracle_sql()``— DuckDB-equivalent SQL per query (omitted only for the
                  genuinely non-SQL-expressible LSH variants, whose exact
                  counterparts ARE oracle-checked and bound them).

DRIVER WINDOW (important, do not regress): the driver's CORRECTNESS
artifact records exactly the FIRST 50 dict entries of ``queries()`` —
queries appended beyond position 50 never get a driver-checked row.
The first 50 entries below are therefore curated, not chronological.
Round-19 rotation (VERDICT r18 #1, verbatim): the 5 reference-surface
queries stay first (every round). Then the SIX entries that have never
had a driver CORRECTNESS row — the four r18 TPC-H newcomers
(shipping_priority_q3, local_supplier_volume_q5,
customer_distribution_q13, large_volume_customer_q18; added after the
r18 window was sealed, judge re-run PASS) and the two rows-only bench
surfaces (bpe_train, hard_negative_mining_ivf; VERDICT r18 #1
explicitly rotates them in for sane-spark_rows rows, overriding the
earlier bpe-train-stays-last pin for this round — at the driver's
sf0.01 the 16-merge loop is a few seconds). Then the THREE round-19
newcomers: ksql_topk / ksql_histogram / ksql_topk_distinct (the last commonly-hit ksqlDB
aggregate spellings, VERDICT r18 #4 — TOPK via the salted two-phase
pre-prune, HISTOGRAM via the (keys, value)-counts two-level map
aggregate). Then the THREE entries whose code changed this round
(hygiene rule): url_dedup (canonicalization now splits the query at
the FIRST '?' only — ADVICE r18 #3, fixture plants the %19
second-'?' case), c4_line_filter (badwords_path production-blocklist
parameter, VERDICT r18 #8) and embedding_near_dup_lsh (count-gated
verify broadcast, VERDICT r18 #3 — rows-only by design). Then the
head of the r15 cohort in ledger order, THIRTY-THREE entries
(unimax_allocation .. cheapest_supplier). 5+6+3+3+33 = 50.
Displaced to 51+ this round: the whole r18 window apart from the
reference surface (its r14-cohort rows are hash-green and fresh) and
everything already outside.
ROTATION QUEUE for round 20 (stalest first): the NINE remaining
r15-row queries (corr_battery, median_aggregates, orderkey_islands,
string_functions2, word_positions, audio_fingerprints,
semantic_decontaminate, quality_percentile_filter, dedup_keep_best),
then the r16 cohort, then r17/r18, then any never-rowed r20 newcomer
and any operator whose code changes in r20.
``tests/test_entry_window.py`` asserts the window composition so a
future append can't silently fall outside it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from m12_kafkastreams_python_azure_spark.operators import analytics as A
from m12_kafkastreams_python_azure_spark.operators import analytics2 as A2
from m12_kafkastreams_python_azure_spark.operators import analytics3 as A3
from m12_kafkastreams_python_azure_spark.operators import analytics4 as A4
from m12_kafkastreams_python_azure_spark.operators import dedup as D
from m12_kafkastreams_python_azure_spark.operators import graph as G
from m12_kafkastreams_python_azure_spark.operators import analytics5 as A5
from m12_kafkastreams_python_azure_spark.operators import analytics6 as A6
from m12_kafkastreams_python_azure_spark.operators import analytics7 as A7
from m12_kafkastreams_python_azure_spark.operators import analytics8 as A8
from m12_kafkastreams_python_azure_spark.operators import analytics9 as A9
from m12_kafkastreams_python_azure_spark.operators import analytics10 as A10
from m12_kafkastreams_python_azure_spark.operators import analytics11 as A11
from m12_kafkastreams_python_azure_spark.operators import analytics12 as A12
from m12_kafkastreams_python_azure_spark.operators import analytics13 as A13
from m12_kafkastreams_python_azure_spark.operators import analytics14 as A14
from m12_kafkastreams_python_azure_spark.operators import api as API
from m12_kafkastreams_python_azure_spark.operators import dsir as DSR
from m12_kafkastreams_python_azure_spark.operators import mining as MN
from m12_kafkastreams_python_azure_spark.operators import audits as AU
from m12_kafkastreams_python_azure_spark.operators import corpus as C
from m12_kafkastreams_python_azure_spark.operators import curation as CU
from m12_kafkastreams_python_azure_spark.operators import linkage as LK
from m12_kafkastreams_python_azure_spark.operators import scd as SCD
from m12_kafkastreams_python_azure_spark.operators import sketches as SK
from m12_kafkastreams_python_azure_spark.operators import ivf as IV
from m12_kafkastreams_python_azure_spark.operators import multimodal as M
from m12_kafkastreams_python_azure_spark.operators import pq as PQ
from m12_kafkastreams_python_azure_spark.operators import projections as PR
from m12_kafkastreams_python_azure_spark.operators import joins as J
from m12_kafkastreams_python_azure_spark.operators import quality as Q
from m12_kafkastreams_python_azure_spark.operators import retrieval as R
from m12_kafkastreams_python_azure_spark.operators import vectorops as V
from m12_kafkastreams_python_azure_spark.operators import similarity as S
from m12_kafkastreams_python_azure_spark.operators import textops as T
from m12_kafkastreams_python_azure_spark import ksql as KQ
from m12_kafkastreams_python_azure_spark.pins import front_door
from m12_kafkastreams_python_azure_spark.session import tune_for_session
from m12_kafkastreams_python_azure_spark.sources import layout as L


@front_door
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    tune_for_session(spark)
    return A.q_hotels_count(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every builder, wrapped as a front door: a call releases the pins
    that the previous call made with no pin scope open (the driver has
    finished its action on that result by then)."""
    builders = {
        # ---- driver window, entries 1-50 (see module docstring) ----
        # reference surface (SURVEY.md §2) — always first, every round
        "mask_field": A.q_mask_field,
        "json_projection": A.q_json_projection,
        "null_filter": A.q_null_filter,
        "stay_enrich": A.q_stay_enrich,
        "hotels_count": A.q_hotels_count,
        # the six never-driver-rowed entries (VERDICT r18 #1): the four
        # r18 TPC-H closers, then the two rows-only bench surfaces
        # (explicitly rotated in this round for sane-spark_rows rows)
        "shipping_priority_q3": A14.q_shipping_priority_q3,
        "local_supplier_volume_q5": A14.q_local_supplier_volume_q5,
        "customer_distribution_q13": A14.q_customer_distribution_q13,
        "large_volume_customer_q18": A14.q_large_volume_customer_q18,
        "bpe_train": T.q_bpe_train,
        "hard_negative_mining_ivf": MN.q_hard_negative_mining_ivf,
        # round-19 newcomers: the ksql TOPK / HISTOGRAM aggregate
        # spellings (VERDICT r18 #4), canonicalized to sorted strings
        # for the driver hash
        "ksql_topk": KQ.q_ksql_topk,
        "ksql_histogram": KQ.q_ksql_histogram,
        "ksql_topk_distinct": KQ.q_ksql_topk_distinct,
        # plan-affecting code changes THIS round re-enter the window
        # (hygiene rule): url_dedup (first-'?' query split, ADVICE r18
        # #3), c4_line_filter (badwords_path, VERDICT r18 #8),
        # embedding_near_dup_lsh (count-gated verify broadcast, VERDICT
        # r18 #3 — rows-only by design)
        "url_dedup": CU.q_url_dedup,
        "c4_line_filter": CU.q_c4_line_filter,
        "embedding_near_dup_lsh": API.q_embedding_near_dup_lsh,
        # the head of the r15 cohort (ledger order), thirty-three entries
        "unimax_allocation": CU.q_unimax_allocation,
        "hybrid_rrf_retrieval": R.q_hybrid_rrf_retrieval,
        "vocab_kl_drift": AU.q_vocab_kl_drift,
        "retrieval_eval": R.q_retrieval_eval,
        "weighted_budget_select": CU.q_weighted_budget_select,
        "soft_dedup_screen": D.q_soft_dedup_screen,
        "hybrid_rrf_multi": R.q_hybrid_rrf_multi,
        "token_budget_select": CU.q_token_budget_select,
        "tumbling_hourly": A5.q_tumbling_hourly,
        "union_all_activity": A5.q_union_all_activity,
        "user_event_profile": A7.q_user_event_profile,
        "window_frames": A9.q_window_frames,
        "word_count": A7.q_word_count,
        "zscore_events": A6.q_zscore_events,
        "asof_latest_order": J.q_asof_latest_order,
        "asof_next_order": J.q_asof_next_order,
        "cte_sql": A10.q_cte_sql,
        "dataset_split": A10.q_dataset_split,
        "edit_distance_pairs": A11.q_edit_distance_pairs,
        "histogram_bins": A13.q_histogram_bins,
        "hopping_hourly": A10.q_hopping_hourly,
        "map_functions": A11.q_map_functions,
        "purchase_funnel": A11.q_purchase_funnel,
        "quality_report": Q.q_quality_report,
        "stratified_sample": A11.q_stratified_sample,
        "tfidf_top_terms": A10.q_tfidf_top_terms,
        "value_band_join": J.q_value_band_join,
        "zorder_key": L.q_zorder_key,
        "array_set_ops": A9.q_array_set_ops,
        "arrow_byte_stats": A9.q_arrow_byte_stats,
        "benford_digits": A13.q_benford_digits,
        "bitwise_aggregates": A9.q_bitwise_aggregates,
        "cheapest_supplier": A9.q_cheapest_supplier,
        # ---- entries 51+: outside the driver window this round ----
        # every displaced entry has a hash-green r18-or-earlier row
        # with code untouched this round; the nine remaining r15-row
        # queries (module docstring) head the r20 queue. The LSH/IVF/
        # PQ approximation spellings stay rows-only by design, bounded
        # by their oracle-checked exact twins.
        "corr_battery": A13.q_corr_battery,
        "embedding_near_dup_exact": S.q_embedding_near_dup_exact,
        "market_share_q8": A14.q_market_share_q8,
        "returned_items_q10": A14.q_returned_items_q10,
        "top_supplier_q15": A14.q_top_supplier_q15,
        "small_qty_revenue_q17": A14.q_small_qty_revenue_q17,
        "disjunctive_revenue_q19": A14.q_disjunctive_revenue_q19,
        "forecast_revenue_q6": A6.q_forecast_revenue_q6,
        "promo_revenue_q14": A6.q_promo_revenue_q14,
        "region_revenue_share": A12.q_region_revenue_share,
        "tokenizer_fertility": T.q_tokenizer_fertility,
        "hash_sample": A4.q_hash_sample,
        "conditional_functions": A4.q_conditional_functions,
        "customers_without_orders": A.q_customers_without_orders,
        "purchase_and_click_users": A.q_purchase_and_click_users,
        "rollup_returnflag": A.q_rollup_returnflag,
        "priority_orders_exists": A2.q_priority_orders_exists,
        "orders_no_lineitems_anti": A2.q_orders_no_lineitems_anti,
        "quantity_percentiles": A2.q_quantity_percentiles,
        "date_parse_lenient": A2.q_date_parse_lenient,
        "token_count": A3.q_token_count,
        "cube_events": A3.q_cube_events,
        "array_functions": A3.q_array_functions,
        "inactive_customers_except": A3.q_inactive_customers_except,
        "json_extract": A4.q_json_extract,
        "pivot_daily": A4.q_pivot_daily,
        "datetime_functions": A4.q_datetime_functions,
        "salted_user_counts": A4.q_salted_user_counts,
        "stats_battery": A5.q_stats_battery,
        "above_avg_orders": A5.q_above_avg_orders,
        "phash_near_dup": M.q_phash_near_dup,
        "image_dhash": M.q_image_dhash,
        "video_near_dup": M.q_video_near_dup,
        "audio_near_dup": M.q_audio_near_dup,
        "big_orders_having": A5.q_big_orders_having,
        "cast_battery": A8.q_cast_battery,
        "date_spine_daily": A7.q_date_spine_daily,
        "decimal_totals": A8.q_decimal_totals,
        "grouping_sets": A8.q_grouping_sets,
        "priority_count_q4": A6.q_priority_count_q4,
        "regexp_battery": A5.q_regexp_battery,
        "shipmode_priority_q12": A6.q_shipmode_priority_q12,
        "excerpt_screen": D.q_excerpt_screen,
        "soft_dedup_weights": D.q_soft_dedup_weights,
        "containment_screened": D.q_containment_screened,
        "subsumption_prune": D.q_subsumption_prune,
        "winnow_pairs": T.q_winnow_pairs,
        "containment_near_dup": D.q_containment_near_dup,
        "knn_label_vote": S.q_knn_label_vote,
        "bpe_merges": T.q_bpe_merges,
        "bpe_encode": T.q_bpe_encode,
        "source_overlap": AU.q_source_overlap,
        "record_linkage": LK.q_record_linkage,
        "bm25_retrieval": R.q_bm25_retrieval,
        "decontaminate_bloom": C.q_decontaminate_bloom,
        "cms_merge_bound": SK.q_cms_merge_bound,
        "dataset_mix": A10.q_dataset_mix,
        "segment_dedup": CU.q_segment_dedup,
        "chunk_documents": CU.q_chunk_documents,
        "domain_cap": CU.q_domain_cap,
        "trailing_hour_counts": A9.q_trailing_hour_counts,
        "full_outer_activity": A10.q_full_outer_activity,
        "unpivot_metrics": A10.q_unpivot_metrics,
        "event_pairs_10min": J.q_event_pairs_10min,
        "latest_event_per_user": A10.q_latest_event_per_user,
        "lang_id": T.q_lang_id,
        "doc_fingerprint": T.q_doc_fingerprint,
        "pmi_bigrams": T.q_pmi_bigrams,
        "source_length_drift": AU.q_source_length_drift,
        "exact_substring_dedup": CU.q_exact_substring_dedup,
        "vocab_encode": T.q_vocab_encode,
        "pii_scrub": C.q_pii_scrub,
        "bigram_lm_score": C.q_bigram_lm_score,
        "sq_error_stats": PQ.q_sq_error_stats,
        "geomean_prices": V.q_geomean_prices,
        "bpe_pair_counts": T.q_bpe_pair_counts,
        "region_revenue": A.q_region_revenue,
        "top_customers": A.q_top_customers,
        "window_top_orders": A.q_window_top_orders,
        "events_daily": A.q_events_daily,
        "window_functions": A3.q_window_functions,
        "string_functions": A2.q_string_functions,
        "math_functions": A2.q_math_functions,
        "sessionize_events": A2.q_sessionize_events,
        "zipf_vocab_audit": AU.q_zipf_vocab_audit,
        "pricing_summary": A.q_pricing_summary,
        "top_revenue_orders": A.q_top_revenue_orders,
        "volume_shipping_q7": A14.q_volume_shipping_q7,
        "doremi_weights": CU.q_doremi_weights,
        "doremi_resample": CU.q_doremi_resample,
        "winnow_fingerprints": T.q_winnow_fingerprints,
        "shuffle_shard": CU.q_shuffle_shard,
        "ccnet_buckets": C.q_ccnet_buckets,
        "lone_fault_supplier_q21": A14.q_lone_fault_supplier_q21,
        "dormant_rich_customers_q22": A14.q_dormant_rich_customers_q22,
        "quality_classifier": C.q_quality_classifier,
        "jl_project": PR.q_jl_project,
        "token_entropy": T.q_token_entropy,
        "hash_sample_per_group": CU.q_hash_sample_per_group,
        "trigram_backoff_score": C.q_trigram_backoff_score,
        "ngram_novelty": AU.q_ngram_novelty,
        "scd2_pit_lookup": SCD.q_scd2_pit_lookup,
        "knn_ivf_agreement": API.q_knn_ivf_agreement,
        "dsir_resample": DSR.q_dsir_resample,
        "hll_merge_bound": SK.q_hll_merge_bound,
        "quantile_sketch_bound": SK.q_quantile_sketch_bound,
        "heavy_hitters": SK.q_heavy_hitters,
        "dedup_exact": D.q_dedup_exact,
        "ngram_jaccard_pairs": D.q_ngram_jaccard_pairs,
        "dedup_clusters": G.q_dedup_clusters,
        "pagerank_parts": G.q_pagerank_parts,
        "ann_topk": S.q_ann_topk,
        "normalize_embeddings": V.q_normalize_embeddings,
        "text_quality": T.q_text_quality,
        "clean_corpus": T.q_clean_corpus,
        "decontaminate": C.q_decontaminate,
        "gopher_quality": C.q_gopher_quality,
        "pack_sequences": C.q_pack_sequences,
        "media_features": M.q_media_features,
        "rollup_merge": SK.q_rollup_merge,
        "scd2_history": SCD.q_scd2_history,
        "semantic_dedup": CU.q_semantic_dedup,
        "dedup_stats": D.q_dedup_stats,
        "dup_span_coverage": CU.q_dup_span_coverage,
        "hard_negative_mining": MN.q_hard_negative_mining,
        "anisotropy_audit": MN.q_anisotropy_audit,
        "temperature_sample": CU.q_temperature_sample,
        "cdc_chunk_dedup": CU.q_cdc_chunk_dedup,
        "quality_calibration": C.q_quality_calibration,
        "median_aggregates": A9.q_median_aggregates,
        "orderkey_islands": A12.q_orderkey_islands,
        "string_functions2": A9.q_string_functions2,
        "word_positions": A9.q_word_positions,
        "audio_fingerprints": M.q_audio_fingerprints,
        "semantic_decontaminate": C.q_semantic_decontaminate,
        "quality_percentile_filter": CU.q_quality_percentile_filter,
        "dedup_keep_best": G.q_dedup_keep_best,
        "knn_label_vote_ivf": API.q_knn_label_vote_ivf,
        "simhash_near_dup": D.q_simhash_near_dup,
        "ann_pq": PQ.q_ann_pq,
        "ann_ivfpq": PQ.q_ann_ivfpq,
        "minhash_near_dup": D.q_minhash_near_dup,
        "ann_lsh": S.q_ann_lsh,
        "ann_ivf": IV.q_ann_ivf,
    }
    return {name: front_door(build) for name, build in builders.items()}

def oracle_sql() -> dict[str, str]:
    return {
        "mask_field": A.ORACLE_MASK_FIELD,
        "json_projection": A.ORACLE_JSON_PROJECTION,
        "null_filter": A.ORACLE_NULL_FILTER,
        "stay_enrich": A.ORACLE_STAY_ENRICH,
        "hotels_count": A.ORACLE_HOTELS_COUNT,
        "pricing_summary": A.ORACLE_PRICING_SUMMARY,
        "top_revenue_orders": A.ORACLE_TOP_REVENUE_ORDERS,
        "region_revenue": A.ORACLE_REGION_REVENUE,
        "top_customers": A.ORACLE_TOP_CUSTOMERS,
        "window_top_orders": A.ORACLE_WINDOW_TOP_ORDERS,
        "events_daily": A.ORACLE_EVENTS_DAILY,
        "customers_without_orders": A.ORACLE_CUSTOMERS_WITHOUT_ORDERS,
        "purchase_and_click_users": A.ORACLE_PURCHASE_AND_CLICK_USERS,
        "rollup_returnflag": A.ORACLE_ROLLUP_RETURNFLAG,
        "priority_orders_exists": A2.ORACLE_PRIORITY_ORDERS_EXISTS,
        "orders_no_lineitems_anti": A2.ORACLE_ORDERS_NO_LINEITEMS_ANTI,
        "sessionize_events": A2.ORACLE_SESSIONIZE_EVENTS,
        "string_functions": A2.ORACLE_STRING_FUNCTIONS,
        "math_functions": A2.ORACLE_MATH_FUNCTIONS,
        "quantity_percentiles": A2.ORACLE_QUANTITY_PERCENTILES,
        "date_parse_lenient": A2.ORACLE_DATE_PARSE_LENIENT,
        "token_count": A3.ORACLE_TOKEN_COUNT,
        "cube_events": A3.ORACLE_CUBE_EVENTS,
        "window_functions": A3.ORACLE_WINDOW_FUNCTIONS,
        "array_functions": A3.ORACLE_ARRAY_FUNCTIONS,
        "inactive_customers_except": A3.ORACLE_INACTIVE_CUSTOMERS_EXCEPT,
        "json_extract": A4.ORACLE_JSON_EXTRACT,
        "pivot_daily": A4.ORACLE_PIVOT_DAILY,
        "datetime_functions": A4.ORACLE_DATETIME_FUNCTIONS,
        "hash_sample": A4.ORACLE_HASH_SAMPLE,
        "salted_user_counts": A4.ORACLE_SALTED_USER_COUNTS,
        "conditional_functions": A4.ORACLE_CONDITIONAL_FUNCTIONS,
        "stats_battery": A5.ORACLE_STATS_BATTERY,
        "above_avg_orders": A5.ORACLE_ABOVE_AVG_ORDERS,
        "big_orders_having": A5.ORACLE_BIG_ORDERS_HAVING,
        "union_all_activity": A5.ORACLE_UNION_ALL_ACTIVITY,
        "regexp_battery": A5.ORACLE_REGEXP_BATTERY,
        "tumbling_hourly": A5.ORACLE_TUMBLING_HOURLY,
        "priority_count_q4": A6.ORACLE_PRIORITY_COUNT_Q4,
        "forecast_revenue_q6": A6.ORACLE_FORECAST_REVENUE_Q6,
        "shipmode_priority_q12": A6.ORACLE_SHIPMODE_PRIORITY_Q12,
        "promo_revenue_q14": A6.ORACLE_PROMO_REVENUE_Q14,
        "zscore_events": A6.ORACLE_ZSCORE_EVENTS,
        "word_count": A7.ORACLE_WORD_COUNT,
        "user_event_profile": A7.ORACLE_USER_EVENT_PROFILE,
        "date_spine_daily": A7.ORACLE_DATE_SPINE_DAILY,
        "cast_battery": A8.ORACLE_CAST_BATTERY,
        "decimal_totals": A8.ORACLE_DECIMAL_TOTALS,
        "grouping_sets": A8.ORACLE_GROUPING_SETS,
        "window_frames": A9.ORACLE_WINDOW_FRAMES,
        "median_aggregates": A9.ORACLE_MEDIAN_AGGREGATES,
        "bitwise_aggregates": A9.ORACLE_BITWISE_AGGREGATES,
        "array_set_ops": A9.ORACLE_ARRAY_SET_OPS,
        "arrow_byte_stats": A9.ORACLE_ARROW_BYTE_STATS,
        "string_functions2": A9.ORACLE_STRING_FUNCTIONS2,
        "cheapest_supplier": A9.ORACLE_CHEAPEST_SUPPLIER,
        "trailing_hour_counts": A9.ORACLE_TRAILING_HOUR_COUNTS,
        "word_positions": A9.ORACLE_WORD_POSITIONS,
        "tfidf_top_terms": A10.ORACLE_TFIDF_TOP_TERMS,
        "dataset_split": A10.ORACLE_DATASET_SPLIT,
        "cte_sql": A10.ORACLE_CTE_SQL,
        "full_outer_activity": A10.ORACLE_FULL_OUTER_ACTIVITY,
        "unpivot_metrics": A10.ORACLE_UNPIVOT_METRICS,
        "latest_event_per_user": A10.ORACLE_LATEST_EVENT_PER_USER,
        "hopping_hourly": A10.ORACLE_HOPPING_HOURLY,
        "edit_distance_pairs": A11.ORACLE_EDIT_DISTANCE_PAIRS,
        "purchase_funnel": A11.ORACLE_PURCHASE_FUNNEL,
        "map_functions": A11.ORACLE_MAP_FUNCTIONS,
        "stratified_sample": A11.ORACLE_STRATIFIED_SAMPLE,
        "quality_report": Q.ORACLE_QUALITY_REPORT,
        "orderkey_islands": A12.ORACLE_ORDERKEY_ISLANDS,
        "region_revenue_share": A12.ORACLE_REGION_REVENUE_SHARE,
        "histogram_bins": A13.ORACLE_HISTOGRAM_BINS,
        "benford_digits": A13.ORACLE_BENFORD_DIGITS,
        "corr_battery": A13.ORACLE_CORR_BATTERY,
        "media_features": M.ORACLE_MEDIA_FEATURES,
        "asof_latest_order": J.ORACLE_ASOF_LATEST_ORDER,
        "asof_next_order": J.ORACLE_ASOF_NEXT_ORDER,
        "value_band_join": J.ORACLE_VALUE_BAND_JOIN,
        "event_pairs_10min": J.ORACLE_EVENT_PAIRS_10MIN,
        "text_quality": T.ORACLE_TEXT_QUALITY,
        "lang_id": T.ORACLE_LANG_ID,
        "doc_fingerprint": T.ORACLE_DOC_FINGERPRINT,
        "clean_corpus": T.ORACLE_CLEAN_CORPUS,
        "decontaminate": C.ORACLE_DECONTAMINATE,
        "gopher_quality": C.ORACLE_GOPHER_QUALITY,
        "pii_scrub": C.ORACLE_PII_SCRUB,
        "bigram_lm_score": C.ORACLE_BIGRAM_LM_SCORE,
        "hll_merge_bound": SK.ORACLE_HLL_MERGE_BOUND,
        "cms_merge_bound": SK.ORACLE_CMS_MERGE_BOUND,
        "vocab_encode": T.ORACLE_VOCAB_ENCODE,
        "dataset_mix": A10.ORACLE_DATASET_MIX,
        "segment_dedup": CU.ORACLE_SEGMENT_DEDUP,
        "dup_span_coverage": CU.ORACLE_DUP_SPAN_COVERAGE,
        "quality_percentile_filter": CU.ORACLE_QUALITY_PERCENTILE_FILTER,
        "chunk_documents": CU.ORACLE_CHUNK_DOCUMENTS,
        "domain_cap": CU.ORACLE_DOMAIN_CAP,
        "url_dedup": CU.ORACLE_URL_DEDUP,
        "ksql_topk": KQ.ORACLE_KSQL_TOPK,
        "ksql_histogram": KQ.ORACLE_KSQL_HISTOGRAM,
        "ksql_topk_distinct": KQ.ORACLE_KSQL_TOPK_DISTINCT,
        "semantic_dedup": CU.ORACLE_SEMANTIC_DEDUP,
        "quantile_sketch_bound": SK.ORACLE_QUANTILE_SKETCH_BOUND,
        "heavy_hitters": SK.ORACLE_HEAVY_HITTERS,
        "zorder_key": L.ORACLE_ZORDER_KEY,
        "rollup_merge": SK.ORACLE_ROLLUP_MERGE,
        "record_linkage": LK.ORACLE_RECORD_LINKAGE,
        "scd2_history": SCD.ORACLE_SCD2_HISTORY,
        "pack_sequences": C.ORACLE_PACK_SEQUENCES,
        "dedup_exact": D.ORACLE_DEDUP_EXACT,
        "dedup_stats": D.ORACLE_DEDUP_STATS,
        "knn_label_vote": S.ORACLE_KNN_LABEL_VOTE,
        "knn_ivf_agreement": API.ORACLE_KNN_IVF_AGREEMENT,
        "dsir_resample": DSR.ORACLE_DSIR_RESAMPLE,
        "hard_negative_mining": MN.ORACLE_HARD_NEGATIVE_MINING,
        "anisotropy_audit": MN.ORACLE_ANISOTROPY_AUDIT,
        "ccnet_buckets": C.ORACLE_CCNET_BUCKETS,
        "temperature_sample": CU.ORACLE_TEMPERATURE_SAMPLE,
        "cdc_chunk_dedup": CU.ORACLE_CDC_CHUNK_DEDUP,
        "quality_calibration": C.ORACLE_QUALITY_CALIBRATION,
        "bpe_pair_counts": T.ORACLE_BPE_PAIR_COUNTS,
        "bpe_merges": T.ORACLE_BPE_MERGES,
        "bpe_encode": T.ORACLE_BPE_ENCODE,
        "pmi_bigrams": T.ORACLE_PMI_BIGRAMS,
        "dedup_keep_best": G.ORACLE_DEDUP_KEEP_BEST,
        "token_budget_select": CU.ORACLE_TOKEN_BUDGET_SELECT,
        "source_overlap": AU.ORACLE_SOURCE_OVERLAP,
        "source_length_drift": AU.ORACLE_SOURCE_LENGTH_DRIFT,
        "exact_substring_dedup": CU.ORACLE_EXACT_SUBSTRING_DEDUP,
        "image_dhash": M.ORACLE_IMAGE_DHASH,
        "phash_near_dup": M.ORACLE_PHASH_NEAR_DUP,
        "video_near_dup": M.ORACLE_VIDEO_NEAR_DUP,
        "audio_near_dup": M.ORACLE_AUDIO_NEAR_DUP,
        "audio_fingerprints": M.ORACLE_AUDIO_FINGERPRINTS,
        "semantic_decontaminate": C.ORACLE_SEMANTIC_DECONTAMINATE,
        "volume_shipping_q7": A14.ORACLE_VOLUME_SHIPPING_Q7,
        "shipping_priority_q3": A14.ORACLE_SHIPPING_PRIORITY_Q3,
        "local_supplier_volume_q5": A14.ORACLE_LOCAL_SUPPLIER_VOLUME_Q5,
        "customer_distribution_q13": A14.ORACLE_CUSTOMER_DISTRIBUTION_Q13,
        "large_volume_customer_q18": A14.ORACLE_LARGE_VOLUME_CUSTOMER_Q18,
        "market_share_q8": A14.ORACLE_MARKET_SHARE_Q8,
        "returned_items_q10": A14.ORACLE_RETURNED_ITEMS_Q10,
        "top_supplier_q15": A14.ORACLE_TOP_SUPPLIER_Q15,
        "small_qty_revenue_q17": A14.ORACLE_SMALL_QTY_REVENUE_Q17,
        "disjunctive_revenue_q19": A14.ORACLE_DISJUNCTIVE_REVENUE_Q19,
        "lone_fault_supplier_q21": A14.ORACLE_LONE_FAULT_SUPPLIER_Q21,
        "dormant_rich_customers_q22": A14.ORACLE_DORMANT_RICH_CUSTOMERS_Q22,
        "quality_classifier": C.ORACLE_QUALITY_CLASSIFIER,
        "jl_project": PR.ORACLE_JL_PROJECT,
        "token_entropy": T.ORACLE_TOKEN_ENTROPY,
        "hash_sample_per_group": CU.ORACLE_HASH_SAMPLE_PER_GROUP,
        "trigram_backoff_score": C.ORACLE_TRIGRAM_BACKOFF_SCORE,
        "ngram_novelty": AU.ORACLE_NGRAM_NOVELTY,
        "scd2_pit_lookup": SCD.ORACLE_SCD2_PIT_LOOKUP,
        # bloom is transparent — exact same output contract:
        "decontaminate_bloom": C.ORACLE_DECONTAMINATE,
        "bm25_retrieval": R.ORACLE_BM25_RETRIEVAL,
        "sq_error_stats": PQ.ORACLE_SQ_ERROR_STATS,
        "ngram_jaccard_pairs": D.ORACLE_NGRAM_JACCARD,
        "containment_near_dup": D.ORACLE_CONTAINMENT_NEAR_DUP,
        "excerpt_screen": D.ORACLE_EXCERPT_SCREEN,
        "soft_dedup_weights": D.ORACLE_SOFT_DEDUP_WEIGHTS,
        "unimax_allocation": CU.ORACLE_UNIMAX_ALLOCATION,
        "hybrid_rrf_retrieval": R.ORACLE_HYBRID_RRF_RETRIEVAL,
        "vocab_kl_drift": AU.ORACLE_VOCAB_KL_DRIFT,
        "retrieval_eval": R.ORACLE_RETRIEVAL_EVAL,
        "weighted_budget_select": CU.ORACLE_WEIGHTED_BUDGET_SELECT,
        "c4_line_filter": CU.ORACLE_C4_LINE_FILTER,
        "doremi_weights": CU.ORACLE_DOREMI_WEIGHTS,
        "doremi_resample": CU.ORACLE_DOREMI_RESAMPLE,
        "winnow_fingerprints": T.ORACLE_WINNOW_FINGERPRINTS,
        "winnow_pairs": T.ORACLE_WINNOW_PAIRS,
        "containment_screened": D.ORACLE_CONTAINMENT_SCREENED,
        "subsumption_prune": D.ORACLE_SUBSUMPTION_PRUNE,
        "shuffle_shard": CU.ORACLE_SHUFFLE_SHARD,
        "soft_dedup_screen": D.ORACLE_SOFT_DEDUP_SCREEN,
        "hybrid_rrf_multi": R.ORACLE_HYBRID_RRF_MULTI,
        "zipf_vocab_audit": AU.ORACLE_ZIPF_VOCAB_AUDIT,
        "tokenizer_fertility": T.ORACLE_TOKENIZER_FERTILITY,
        "dedup_clusters": G.ORACLE_DEDUP_CLUSTERS,
        "pagerank_parts": G.ORACLE_PAGERANK_PARTS,
        "ann_topk": S.ORACLE_ANN_TOPK,
        "embedding_near_dup_exact": S.ORACLE_EMBEDDING_NEAR_DUP,
        "normalize_embeddings": V.ORACLE_NORMALIZE_EMBEDDINGS,
        "geomean_prices": V.ORACLE_GEOMEAN_PRICES,
        # minhash_near_dup / simhash_near_dup / ann_lsh / ann_ivf /
        # embedding_near_dup_lsh / ann_pq / ann_ivfpq / knn_label_vote_ivf /
        # hard_negative_mining_ivf:
        # intentionally no oracle — LSH banding and k-means probing are not
        # SQL-expressible; their exact counterparts (ngram_jaccard_pairs,
        # embedding_near_dup, ann_topk, knn_label_vote,
        # hard_negative_mining) are oracle-checked and bound them. phash_near_dup is the exception that proves the
        # rule: its banding is pigeonhole-complete, so it IS oracle-checked.
    }
