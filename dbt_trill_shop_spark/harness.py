"""Query registry: every implemented operator exposed as a named
``(spark, sf_dir) -> DataFrame`` plus its ANSI-SQL (DuckDB) oracle.

This is the single source of truth consumed by ``__spark_entry__.py``
(driver contract) and by ``tests/test_oracle_parity.py`` (local pre-flight of
the driver's check).  Keys are grouped:

- ``stg_*`` / mart names  — the reference's 7 models (SURVEY.md §2.1-2.8);
- ``q_*``                 — relational harness operators (joins/windows/set
  ops the reference's warehouse would provide, SURVEY.md §2.3/2.5);
- ``x_*``                 — LLM-data-pipeline extensions (SURVEY.md §2.9).

Queries without an oracle entry (value ``None``) are non-SQL-expressible —
by round 3 only the two sketch-based approximations (approx_percentile /
approx_count_distinct, whose estimators are engine-specific by design) —
and get the driver's rows-only check.  Every LSH/ANN path now carries a
value-hash oracle (deterministic md5-seeded hashing replayed in SQL).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .core.metrics import Metric, metric_frame
from .ext.dedup import (
    DEDUP_CANONICAL_SQL,
    EXACT_DUPLICATES_SQL,
    NGRAM_JACCARD_SQL_TEMPLATE,
    CONNECTED_COMPONENTS_SQL_TEMPLATE,
    DECONTAMINATE_SQL_TEMPLATE,
    NGRAM_CONTAINMENT_SQL_TEMPLATE,
    NGRAM_JACCARD_FILTERED_SQL_TEMPLATE,
    SOURCE_OVERLAP_SQL_TEMPLATE,
    DUP_SPAN_COVERAGE_SQL_TEMPLATE,
    INCREMENTAL_DEDUP_SQL_TEMPLATE,
    BOILERPLATE_STRIP_SQL_TEMPLATE,
    SUBSTRING_CONTAMINATION_SQL_TEMPLATE,
    DEDUP_QUALITY_CANONICAL_SQL_TEMPLATE,
    NGRAM_NOVELTY_SQL_TEMPLATE,
    boilerplate_strip,
    DUP_CLUSTER_SIZES_SQL_TEMPLATE,
    dup_cluster_size_histogram,
    jaccard_threshold_curve,
    jaccard_threshold_curve_sql,
    minhash_scurve_audit,
    minhash_scurve_audit_sql,
    soft_dedup_weights,
    SOFT_DEDUP_SQL,
    shingle_df_histogram,
    SHINGLE_DF_HISTOGRAM_SQL_TEMPLATE,
    WEIGHTED_JACCARD_SQL_TEMPLATE,
    band_bucket_balance,
    band_bucket_balance_sql,
    weighted_jaccard_pairs,
    coverage_select,
    coverage_select_sql,
    minhash_estimate_audit,
    minhash_estimate_audit_sql,
    ngram_novelty,
    dedup_quality_canonical,
    substring_contamination,
    connected_components,
    decontaminate,
    dedup_canonical,
    dup_span_coverage,
    exact_duplicates,
    incremental_dedup,
    incremental_neardup,
    incremental_neardup_sql,
    minhash_band_keys_md5,
    neardup_minhash_checked,
    neardup_minhash_checked_sql,
    neardup_minhash_native,
    simhash_checked,
    simhash_checked_sql,
    simhash_distance_histogram,
    simhash_distance_histogram_sql,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_filtered,
    simhash_near_duplicates,
    simhash_neardup_verified,
    source_overlap,
)
from .ext.multimodal import (
    AUDIO_WINDOW_SQL_TEMPLATE,
    FRAME_SAMPLE_SQL_TEMPLATE,
    MEDIA_FEATURES_SQL,
    PATCH_GRID_SQL_TEMPLATE,
    RESIZE_PLAN_SQL,
    FLATNESS_SQL_TEMPLATE,
    SCENE_CHANGE_SQL_TEMPLATE,
    VAD_SEGMENTS_SQL_TEMPLATE,
    SHOT_STATS_SQL_TEMPLATE,
    PHASH_NEARDUP_SQL_TEMPLATE,
    PATCH_INTENSITY_SQL_TEMPLATE,
    audio_window_plan,
    docs_as_media,
    patch_intensity_stats,
    perceptual_hash_neardup,
    flatness_stats,
    scene_change_plan,
    vad_segments,
    shot_stats,
    extract_features,
    frame_sample_plan,
    patch_grid_plan,
    resize_plan,
)
from .ext.sampling import (
    CDC_CHUNKS_SQL,
    CHUNK_DOCUMENTS_SQL_TEMPLATE,
    CURRICULUM_ORDER_SQL_TEMPLATE,
    curriculum_order,
    PACK_POSITIONS_SQL_TEMPLATE,
    WEIGHTED_SAMPLE_SQL_TEMPLATE,
    cdc_chunks,
    pack_positions,
    weighted_sample,
    HASH_SAMPLE_SQL_TEMPLATE,
    HASH_SPLIT_SQL_TEMPLATE,
    TRAINING_ORDER_SQL_TEMPLATE,
    hash_split,
    training_order,
    MIXTURE_PLAN_SQL_TEMPLATE,
    PACK_DOCUMENTS_SQL_TEMPLATE,
    PACK_EFFICIENCY_SQL_TEMPLATE,
    pack_efficiency,
    SOURCE_CAPS_SQL_TEMPLATE,
    STRATIFIED_EXACT_N_SQL_TEMPLATE,
    TEMPERATURE_MIXTURE_SQL_TEMPLATE,
    TOKEN_BUDGET_SELECT_SQL_TEMPLATE,
    CHUNK_INFLATION_SQL_TEMPLATE,
    SAMPLE_BIAS_SQL_TEMPLATE,
    chunk_documents,
    chunk_inflation_report,
    hash_sample,
    sample_bias_audit,
    upsample_realize,
    upsample_realize_sql,
    mixture_plan,
    pack_documents,
    source_caps,
    stratified_exact_n,
    temperature_mixture,
    token_budget_select,
)
from .ext.bpe import (
    bpe_merges,
    bpe_merges_sql,
    bpe_segment,
    bpe_segment_sql,
)
from .ext.similarity import (
    COSINE_TOPK_SQL_TEMPLATE,
    MATRYOSHKA_TOPK_SQL_TEMPLATE,
    IVFPQ_RESIDUAL_SQL_TEMPLATE,
    HYBRID_RRF_SQL_TEMPLATE,
    BITEXT_MINING_SQL_TEMPLATE,
    EMBEDDING_DIM_STATS_SQL,
    bitext_margin_mining,
    embedding_dim_stats,
    ivfpq_residual_topk,
    matryoshka_topk,
    rrf_fuse,
    EMBEDDING_NEARDUP_SQL_TEMPLATE,
    IVFPQ_TOPK_SQL_TEMPLATE,
    IVF_ASSIGN_SQL_TEMPLATE,
    PQ_ENCODE_SQL_TEMPLATE,
    PQ_TOPK_SQL_TEMPLATE,
    SEMANTIC_SEARCH_SQL_TEMPLATE,
    SEMDEDUP_SQL_TEMPLATE,
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    cosine_topk_srp,
    cosine_topk_srp_sql,
    embedding_neardup_pairs,
    ivf_assign,
    ivf_topk,
    ivfpq_topk,
    ANN_RECALL_SQL_TEMPLATE,
    CLUSTER_BALANCED_SAMPLE_SQL_TEMPLATE,
    cluster_balanced_sample,
    IVF_TOPK_SQL_TEMPLATE,
    L2_TOPK_SQL_TEMPLATE,
    SQ8_ENCODE_SQL,
    SQ8_TOPK_SQL_TEMPLATE,
    ann_recall,
    kmeans_refine,
    kmeans_refine_sql,
    KNN_CLUSTERING_SQL_TEMPLATE,
    KNN_HOMOPHILY_SQL_TEMPLATE,
    KNN_HUBNESS_SQL_TEMPLATE,
    knn_hubness,
    KNN_MUTUAL_DEGREE_SQL_TEMPLATE,
    knn_clustering_coefficients,
    knn_graph_mutual_degree,
    knn_label_homophily,
    knn_pagerank,
    knn_pagerank_sql,
    BINARY_HAMMING_SQL_TEMPLATE,
    binary_hamming_topk,
    knn_bfs_hops,
    knn_bfs_sql,
    pca_top_component,
    pca_top_component_sql,
    CLASS_SEPARATION_SQL,
    CLUSTER_PURITY_SQL_TEMPLATE,
    SQ8_RECON_ERROR_SQL,
    cluster_purity,
    embedding_outliers,
    EMBEDDING_OUTLIERS_SQL_TEMPLATE,
    intrinsic_dimension,
    intrinsic_dimension_sql,
    class_separation,
    sq8_reconstruction_error,
    retrieval_eval,
    retrieval_eval_sql,
    l2_topk_exact,
    mmr_topk,
    mmr_topk_sql,
    pq_encode,
    pq_topk,
    semantic_dedup_pairs,
    semantic_search,
    sq8_encode,
    sq8_topk,
)
from .operators.skew import KEY_SKEW_PROFILE_SQL_TEMPLATE, key_skew_profile
from .ext.pipeline import (
    curation_pipeline_v2,
    curation_pipeline_v2_sql,
    CORPUS_REPORT_SQL,
    FILTER_FUNNEL_SQL_TEMPLATE,
    K_ANONYMITY_CUSTOMERS_SQL,
    L_DIVERSITY_CUSTOMERS_SQL,
    TRAINING_PIPELINE_SQL_TEMPLATE,
    corpus_report,
    filter_funnel,
    k_anonymity_customers,
    l_diversity_customers,
    training_data_pipeline,
)
from .ext.textstats import (
    BIGRAM_LOGPROB_SQL_TEMPLATE,
    EMBED_BRIDGE_SQL_TEMPLATE,
    RERANK_BRIDGE_SQL_TEMPLATE,
    embed_bridge_longform,
    rerank_bridge_topk,
    PPL_BUCKETS_SQL_TEMPLATE,
    WINNOWING_SQL_TEMPLATE,
    BM25_SEARCH_SQL_TEMPLATE,
    SEARCH_SNIPPETS_SQL_TEMPLATE,
    LANGID_CONFUSION_SQL_TEMPLATE,
    PMI_COLLOCATIONS_SQL_TEMPLATE,
    SOURCE_DIVERGENCE_SQL,
    bm25_search,
    langid_confusion,
    pmi_collocations,
    source_divergence,
    ppl_buckets,
    search_snippets,
    winnowing_fingerprints,
    COUNTMIN_HEAVY_SQL_TEMPLATE,
    HASHED_DOC_KNN_SQL_TEMPLATE,
    HASHED_EMBEDDING_SQL_TEMPLATE,
    STOPWORDS,
    LANGUAGE_ID_SQL,
    LANGUAGE_PROFILE_SQL,
    PII_SCRUB_EVENTS_SQL,
    QUALITY_AUC_SQL,
    QUALITY_CLASSIFIER_SQL,
    QUALITY_SCORE_SQL,
    TOKENIZER_FERTILITY_SQL,
    IMPORTANCE_WEIGHTS_SQL_TEMPLATE,
    UNIGRAM_LOGPROB_SQL,
    REPETITION_SIGNALS_SQL,
    ROLLING_FINGERPRINT_SQL,
    TEXT_STATS_SQL,
    TFIDF_TOP_TERMS_SQL_TEMPLATE,
    TOKEN_COUNTS_SQL,
    TOKEN_HISTOGRAM_SQL_TEMPLATE,
    CORPUS_NGRAM_COUNTS_SQL_TEMPLATE,
    VOCAB_COVERAGE_SQL_TEMPLATE,
    bigram_logprob,
    corpus_ngram_counts,
    countmin_heavy_hitters,
    hashed_doc_knn,
    hashed_embedding,
    importance_weights,
    language_id,
    language_profile,
    CLASSIFIER_CALIBRATION_SQL_TEMPLATE,
    SOURCE_ENTROPY_SQL,
    ADAPTIVE_QUALITY_SQL_TEMPLATE,
    BLOCKLIST_FILTER_SQL,
    STOPWORD_DISCOVERY_SQL_TEMPLATE,
    TEXT_TILING_SQL_TEMPLATE,
    CHAR_ENTROPY_SQL,
    PREFIX_TEMPLATES_SQL_TEMPLATE,
    bm25_source_precision,
    char_entropy,
    hard_negative_mining,
    hard_negative_mining_sql,
    LENGTH_QUALITY_BIAS_SQL_TEMPLATE,
    TTR_BY_SOURCE_SQL,
    VOCAB_GROWTH_SQL_TEMPLATE,
    length_quality_bias,
    ttr_by_source,
    vocab_growth_curve,
    bm25_source_precision_sql,
    prefix_templates,
    stopword_discovery,
    blocklist_filter,
    adaptive_quality_cut,
    text_tiling,
    ZIPF_SLOPE_SQL_TEMPLATE,
    classifier_calibration,
    quality_auc,
    source_entropy,
    quality_classifier,
    zipf_slope,
    quality_score,
    tokenizer_fertility,
    repetition_signals,
    scrub_pii,
    unigram_logprob,
    rolling_fingerprint,
    text_stats,
    tfidf_top_terms,
    token_counts,
    token_histogram,
    vocab_coverage,
)
from .fixtures.oracle import with_prelude
from .sources.pydatasource import (
    STREAM_SYNTHETIC_SQL_TEMPLATE,
    SYNTHETIC_SOURCE_SQL_TEMPLATE,
    stream_synthetic_rollup,
    synthetic_source_rollup,
)
from .streaming.events import (
    STREAM_ATTRIBUTION_SQL,
    STREAM_DEDUP_SQL,
    STREAM_DISTINCT_USERS_SQL,
    STREAM_SEGMENT_ROLLUP_SQL,
    STREAM_SESSIONIZE_SQL,
    STREAM_COUNTMIN_SQL_TEMPLATE,
    STREAM_TOP_TYPES_SQL_TEMPLATE,
    STREAM_SLIDING_SQL,
    STREAM_WEEKLY_SQL,
    stream_dedup_events,
    stream_distinct_users,
    stream_purchase_attribution,
    stream_segment_rollup,
    stream_countmin_heavy,
    stream_drift_monitor,
    stream_hll_users,
    stream_sessionize,
    stream_user_ewma,
    stream_top_event_types,
    stream_sliding_rollup,
    stream_weekly_rollup,
)
from .models.trends import TERM_MOMENTUM_BODY, build_trends_relations, term_momentum
from .operators import analytics as A
from .operators import relational as R
from .operators import temporal as T
from .operators import txn_demo as TD


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> rows-only check


def _trends(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return build_trends_relations(spark, sf_dir)[name]

    return run


# --- mart oracle SQL (mirrors models/marts/*.sql over the staging CTEs) ----

_WEEKLY_CTES = """
international_trends AS (
    SELECT week, refresh_date, 'international_rising' AS trend_type,
           COUNT(*) AS total_terms, AVG(score) AS avg_score,
           AVG(percent_gain) AS avg_percent_gain, MAX(percent_gain) AS max_percent_gain,
           COUNT(DISTINCT country_name) AS unique_countries
    FROM stg_international_top_rising_terms
    GROUP BY week, refresh_date
    UNION ALL
    SELECT week, refresh_date, 'international_top' AS trend_type,
           COUNT(*) AS total_terms, AVG(score) AS avg_score,
           NULL AS avg_percent_gain, NULL AS max_percent_gain,
           COUNT(DISTINCT country_name) AS unique_countries
    FROM stg_international_top_terms
    GROUP BY week, refresh_date
),
us_trends AS (
    SELECT week, refresh_date, 'us_rising' AS trend_type,
           COUNT(*) AS total_terms, AVG(score) AS avg_score,
           AVG(percent_gain) AS avg_percent_gain, MAX(percent_gain) AS max_percent_gain,
           COUNT(DISTINCT dma_name) AS unique_geos
    FROM stg_top_rising_terms
    GROUP BY week, refresh_date
    UNION ALL
    SELECT week, refresh_date, 'us_top' AS trend_type,
           COUNT(*) AS total_terms, AVG(score) AS avg_score,
           NULL AS avg_percent_gain, NULL AS max_percent_gain,
           COUNT(DISTINCT dma_name) AS unique_geos
    FROM stg_top_terms
    GROUP BY week, refresh_date
),
combined_trends AS (
    SELECT week, refresh_date, trend_type, total_terms, avg_score,
           avg_percent_gain, max_percent_gain, unique_countries AS unique_geos
    FROM international_trends
    UNION ALL
    SELECT week, refresh_date, trend_type, total_terms, avg_score,
           avg_percent_gain, max_percent_gain, unique_geos
    FROM us_trends
)
""".strip()

_WEEKLY_BODY = """
SELECT week, refresh_date, trend_type, total_terms,
       ROUND(avg_score, 2) AS avg_score,
       ROUND(avg_percent_gain, 2) AS avg_percent_gain,
       max_percent_gain, unique_geos,
       CASE WHEN trend_type LIKE '%rising%' THEN 'Rising Trends'
            ELSE 'Top Trends' END AS trend_category,
       CASE WHEN trend_type LIKE 'international%' THEN 'International'
            ELSE 'US Market' END AS market_scope
FROM combined_trends
ORDER BY week DESC, trend_type
"""

_COMPARISON_CTES = """
international_top AS (
    SELECT 'international' AS scope, country_name AS geo_name, country_code AS geo_code,
           region_name, term, week, refresh_date, score, rank
    FROM stg_international_top_terms
),
us_top AS (
    SELECT 'us_dma' AS scope, dma_name AS geo_name, CAST(dma_id AS VARCHAR) AS geo_code,
           CAST(NULL AS VARCHAR) AS region_name, term, week, refresh_date, score, rank
    FROM stg_top_terms
),
all_top_terms AS (
    SELECT * FROM international_top
    UNION ALL
    SELECT * FROM us_top
)
""".strip()

_COMPARISON_BODY = """
SELECT scope, geo_name, geo_code, region_name, term, week, refresh_date, score, rank,
       CASE WHEN rank = 1 THEN '#1 Term'
            WHEN rank <= 5 THEN 'Top 5'
            WHEN rank <= 10 THEN 'Top 10'
            ELSE 'Other' END AS rank_category,
       CASE WHEN score >= 80 THEN 'Very High Interest'
            WHEN score >= 60 THEN 'High Interest'
            WHEN score >= 40 THEN 'Moderate Interest'
            WHEN score >= 20 THEN 'Low Interest'
            ELSE 'Very Low Interest' END AS interest_level
FROM all_top_terms
"""

_TRENDING_CTES = """
international_rising AS (
    SELECT 'international' AS scope, country_name AS geo_name, country_code AS geo_code,
           region_name, term, week, refresh_date, score, rank, percent_gain
    FROM stg_international_top_rising_terms
),
us_rising AS (
    SELECT 'us_dma' AS scope, dma_name AS geo_name, CAST(dma_id AS VARCHAR) AS geo_code,
           CAST(NULL AS VARCHAR) AS region_name, term, week, refresh_date, score, rank,
           percent_gain
    FROM stg_top_rising_terms
),
all_rising_terms AS (
    SELECT * FROM international_rising
    UNION ALL
    SELECT * FROM us_rising
)
""".strip()

_TRENDING_BODY = """
SELECT scope, geo_name, geo_code, region_name, term, week, refresh_date, score, rank,
       percent_gain,
       CASE WHEN rank <= 5 THEN 'Top 5'
            WHEN rank <= 10 THEN 'Top 10'
            WHEN rank <= 25 THEN 'Top 25'
            ELSE 'Other' END AS rank_tier,
       CASE WHEN percent_gain >= 1000 THEN 'Explosive (1000%+)'
            WHEN percent_gain >= 500 THEN 'Very High (500-999%)'
            WHEN percent_gain >= 200 THEN 'High (200-499%)'
            WHEN percent_gain >= 100 THEN 'Moderate (100-199%)'
            ELSE 'Low (<100%)' END AS growth_category
FROM all_rising_terms
"""


# --- extension query fns ----------------------------------------------------

_KNN_NUM_QUERIES = 10
_KNN_K = 5

# Fixed merge table for the BPE *application* query (the learned table is
# data-dependent; a pinned one keeps the Spark/oracle sides independently
# derivable). Ranks 1-5 of common-English BPE inductions.
_BPE_FIXED_MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r")]


def _x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(load_table(spark, sf_dir, "documents"))


def _x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(load_table(spark, sf_dir, "documents"))


def _x_language_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_profile(load_table(spark, sf_dir, "documents"))


def _x_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_NUM_QUERIES)
    return cosine_topk_bruteforce(emb, queries, k=_KNN_K)


_NGRAM_JACCARD_N = 3
_NGRAM_JACCARD_THRESHOLD = 0.2
_NEARDUP_COS_THRESHOLD = 0.4
_IVF_CELLS = 16


def _docs_q(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(load_table(spark, sf_dir, "documents"))

    return run


def _x_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        shingle_len=_NGRAM_JACCARD_N,
        threshold=_NGRAM_JACCARD_THRESHOLD,
    )


_DECON_SPLIT_ID = 20
_INC_DEDUP_SPLIT = 250
_SOURCE_CAP = 15
_STRAT_N = 10


_EVENT_METRICS = [
    # declared once, compiled to one grouped aggregate (core/metrics.py);
    # cents-scaled ints keep every output bit-stable for the DuckDB oracle
    Metric(
        name="total_value_cents", model="events", calculation_method="sum",
        expression="CAST(ROUND(value * 100, 0) AS BIGINT)", timestamp="ts",
    ),
    Metric(
        name="n_events", model="events", calculation_method="count",
        expression="*", timestamp="ts",
    ),
    Metric(
        name="purchases", model="events", calculation_method="count",
        expression="*", timestamp="ts", filters=("event_type = 'purchase'",),
    ),
    Metric(
        name="buyers", model="events", calculation_method="count_distinct",
        expression="user_id", timestamp="ts", filters=("event_type = 'purchase'",),
    ),
    Metric(
        name="cents_per_event", model="events", calculation_method="derived",
        expression="total_value_cents div greatest(n_events, 1)",
    ),
]


def _d_metrics_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    rel = load_table(spark, sf_dir, "events")
    return metric_frame(rel, _EVENT_METRICS, grain="week").orderBy("metric_time")


METRICS_EVENTS_SQL = """
SELECT CAST(date_trunc('week', ts) AS DATE) AS metric_time,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_value_cents,
       COUNT(*) AS n_events,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
       COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS buyers,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) // GREATEST(COUNT(*), 1) AS BIGINT)
           AS cents_per_event
FROM events
GROUP BY date_trunc('week', ts)
ORDER BY metric_time
"""
_TOKEN_BUDGET = 15_000
_BOILERPLATE_BLOCK = 10
_BOILERPLATE_MAX_DF = 2
# relative target weights over the 20 synthetic sources (non-uniform so the
# feasibility min actually binds on the highest-weight strata)
_MIXTURE_WEIGHTS = {f"src{i}": (i % 5) + 1 for i in range(20)}
# upsampling multipliers in ppm (1.0x .. 3.5x across the 20 sources)
_UPSAMPLE_PPM = {f"src{i}": 1_000_000 + (i % 6) * 500_000 for i in range(20)}


def _x_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, shingle_len=_NGRAM_JACCARD_N, threshold=0.5
    ).select("id_a", "id_b")
    return connected_components(pairs, docs.select("doc_id"))


SQL_UDF_MACROS_ORACLE = """
SELECT p_partkey,
       ROUND(CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) / 100, 2)
           AS price_dollars,
       CASE WHEN p_partkey % 30 <= 5 THEN 'Top 5'
            WHEN p_partkey % 30 <= 10 THEN 'Top 10'
            WHEN p_partkey % 30 <= 25 THEN 'Top 25'
            ELSE 'Other' END AS tier,
       md5(concat_ws('-', CAST(p_partkey AS VARCHAR), p_name)) AS sk
FROM part
ORDER BY p_partkey
"""


def _q_sql_udf_macros(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.macros import register_sql_macros

    register_sql_macros(spark)
    load_table(spark, sf_dir, "part").createOrReplaceTempView("_udf_part")
    return spark.sql(
        """
        SELECT p_partkey,
               cents_to_dollars(CAST(ROUND(p_retailprice * 100, 0) AS BIGINT))
                   AS price_dollars,
               rank_tier(p_partkey % 30) AS tier,
               surrogate_key(CAST(p_partkey AS STRING), p_name) AS sk
        FROM _udf_part
        ORDER BY p_partkey
        """
    )


def _x_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(
        docs.filter(F.col("doc_id") >= _DECON_SPLIT_ID),
        docs.filter(F.col("doc_id") < _DECON_SPLIT_ID),
        shingle_len=_NGRAM_JACCARD_N,
    )


def _x_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, shingle_len=_NGRAM_JACCARD_N, threshold=0.5
    ).select("id_a", "id_b")
    return dup_cluster_size_histogram(pairs, docs.select("doc_id"))


def _x_dedup_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, shingle_len=_NGRAM_JACCARD_N, threshold=0.5
    ).select("id_a", "id_b")
    return dedup_quality_canonical(pairs, docs, quality_classifier(docs))


def _x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < _DECON_SPLIT_ID)
    corpus = docs.filter(F.col("doc_id") >= _DECON_SPLIT_ID)
    return (
        decontaminate(corpus, bench, shingle_len=_NGRAM_JACCARD_N)
        .select("doc_id")
        .orderBy("doc_id")
    )


def _x_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < _DECON_SPLIT_ID)
    corpus = docs.filter(F.col("doc_id") >= _DECON_SPLIT_ID)
    return training_data_pipeline(
        corpus, bench, min_quality=3, capacity=512, shingle_len=_NGRAM_JACCARD_N
    )


def _x_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=_NEARDUP_COS_THRESHOLD
    )


def _x_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k through deterministic sign-random-projection LSH — the
    md5-seeded twin of the Spark ML path (:func:`cosine_topk_lsh`, kept as
    the library routine), chosen here so the approximate result itself is
    value-hash oracle-checked rather than rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_NUM_QUERIES)
    return cosine_topk_srp(emb, queries, k=_KNN_K)


def _x_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_assign(load_table(spark, sf_dir, "embeddings"), n_cells=_IVF_CELLS)


def _x_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_verified(docs, bands=8, jaccard_threshold=0.85)


_IVFPQ_SQL = IVFPQ_TOPK_SQL_TEMPLATE.format(
    ivf_assign=IVF_ASSIGN_SQL_TEMPLATE.format(n_cells=_IVF_CELLS),
    pq_encode=PQ_ENCODE_SQL_TEMPLATE.format(m=4, k=_IVF_CELLS).replace(
        "SELECT vec_id, CAST(b AS BIGINT) AS block", "SELECT vec_id, b AS block"
    ),
    num_queries=_KNN_NUM_QUERIES,
    n_cells=_IVF_CELLS,
    n_probe=4,
    m=4,
    k_codes=_IVF_CELLS,
    k=_KNN_K,
)


def _x_ivfpq_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the persisted IVF-PQ index (parquet: centroids + codebooks +
    cell-partitioned postings), then answer the standard query batch from it
    — bit-identical to the one-plan ``ivfpq_topk`` composition."""
    import tempfile

    from .ext.vector_index import build_ivfpq_index, search_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = os.path.join(
        tempfile.gettempdir(),
        f"ivfpq_index_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    build_ivfpq_index(emb, path, n_cells=_IVF_CELLS, n_blocks=4, n_codes=_IVF_CELLS)
    queries = emb.filter(F.col("vec_id") < _KNN_NUM_QUERIES)
    return search_ivfpq_index(spark, path, queries, k=_KNN_K, n_probe=4)


def _x_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the persisted BM25 inverted index (bucket-partitioned postings
    + doclens + meta), then answer the standard query batch from it —
    bit-identical to the one-plan ``bm25_search`` composition."""
    import tempfile

    from .ext.text_index import build_text_index, search_text_index

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(),
        f"bm25_index_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    build_text_index(docs, path, n_buckets=16)
    rows = docs.filter(F.col("doc_id") < 3).select("doc_id", "text").collect()
    qterms = sorted({(r.doc_id, t) for r in rows for t in r.text.split(" ")[:5]})
    return search_text_index(spark, path, qterms, k=10)


def _m_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_features(docs_as_media(load_table(spark, sf_dir, "documents")))


def _m_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return perceptual_hash_neardup(
        docs_as_media(load_table(spark, sf_dir, "documents")), hamming_max=3
    )


def _x_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc_chunks(load_table(spark, sf_dir, "documents"))


def _x_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ppl_buckets(load_table(spark, sf_dir, "documents"), n_buckets=10)


def _x_substring_contam(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return substring_contamination(
        docs.filter(F.col("doc_id") >= _DECON_SPLIT_ID),
        docs.filter(F.col("doc_id") < _DECON_SPLIT_ID),
    )


def _x_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_residual_topk(
        emb, emb.filter(F.col("vec_id") < 5),
        k=5, n_cells=_IVF_CELLS, n_probe=4, n_blocks=4, n_codes=_IVF_CELLS,
    )


def _x_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bm = bm25_search(docs, n_queries=3, q_terms=5, k=10).drop("score_micro")
    qsets = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.array_sort(
            F.array_distinct(F.slice(F.split("text", " "), 1, 5))
        ).alias("terms"),
    )
    return search_snippets(docs, bm.join(F.broadcast(qsets), "query_id"))


def _x_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_search(docs, n_queries=3, q_terms=5, k=10)
    vs = cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 3), k=10)
    return rrf_fuse([bm, vs], k=10)


_RAG_PIPELINE_SQL = '''
WITH fused AS ({rrf}),
qterms AS (
    SELECT DISTINCT doc_id AS query_id, unnest(STR_SPLIT(text, ' ')[1 : 5]) AS term
    FROM documents WHERE doc_id < 3
),
qsets AS (SELECT query_id, list(term ORDER BY term) AS terms FROM qterms GROUP BY query_id),
joined AS (
    SELECT f.query_id, f.hit_id, f.rank, q.terms, d.text AS t
    FROM fused f
    JOIN qsets q USING (query_id)
    JOIN documents d ON d.doc_id = f.hit_id
    WHERE f.rank <= 5
),
with_pos AS (
    -- unnest + MIN (not a t-capturing lambda): DuckDB 1.0 misaligns the
    -- captured outer column across vector chunks in join-heavy plans —
    -- see SEARCH_SNIPPETS_SQL_TEMPLATE (r6 unicode parity sweep)
    SELECT query_id, hit_id, rank,
           COALESCE(MIN(CASE WHEN p > 0 THEN p END), 0) AS pos,
           t
    FROM (
        SELECT query_id, hit_id, rank, t,
               CAST(POSITION(u.term IN t) AS BIGINT) AS p
        FROM joined, UNNEST(terms) AS u(term)
    )
    GROUP BY query_id, hit_id, rank, t
)
SELECT query_id, hit_id, rank, pos AS match_pos,
       CASE WHEN pos > 0
            THEN substring(t, CAST(GREATEST(1, pos - 30) AS INT), 60)
            ELSE substring(t, 1, 60) END AS snippet
FROM with_pos
ORDER BY query_id, rank
'''.format(
    rrf=HYBRID_RRF_SQL_TEMPLATE.format(
        bm25=BM25_SEARCH_SQL_TEMPLATE.format(
            n_queries=3, q_terms=5, k=10, k1=1.2, b=0.75
        ),
        cosine=COSINE_TOPK_SQL_TEMPLATE.format(num_queries=3, k=10),
        c=60, k=5,
    )
)


def _x_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full retrieval story as ONE lazy plan: BM25 + dense cosine fused
    by reciprocal rank, then result-page snippets for the fused top-k —
    Catalyst sees the whole DAG (the postings/tf relations build once and
    feed both the ranking and nothing else; only fused winners fetch
    text)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_search(docs, n_queries=3, q_terms=5, k=10)
    vs = cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 3), k=10)
    fused = rrf_fuse([bm, vs], k=5).drop("rrf_ppm")
    qsets = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.array_sort(
            F.array_distinct(F.slice(F.split("text", " "), 1, 5))
        ).alias("terms"),
    )
    return search_snippets(docs, fused.join(F.broadcast(qsets), "query_id"))


def _x_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return matryoshka_topk(
        emb, emb.filter(F.col("vec_id") < 5), prefix_dims=16, shortlist=50, k=10
    )


def _m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample_plan(docs_as_media(load_table(spark, sf_dir, "documents")), every_n=10)


def _m_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_plan(docs_as_media(load_table(spark, sf_dir, "documents")))


_TFIDF_K = 3


def _x_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=_TFIDF_K)


def _x_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_NUM_QUERIES)
    return ivf_topk(emb, queries, k=_KNN_K, n_cells=_IVF_CELLS, n_probe=4)


QUERIES: dict[str, QuerySpec] = {
    # --- the reference's 7 models -----------------------------------------
    "stg_top_terms": QuerySpec(
        _trends("stg_top_terms"), with_prelude("SELECT * FROM stg_top_terms")
    ),
    "stg_top_rising_terms": QuerySpec(
        _trends("stg_top_rising_terms"), with_prelude("SELECT * FROM stg_top_rising_terms")
    ),
    "stg_international_top_terms": QuerySpec(
        _trends("stg_international_top_terms"),
        with_prelude("SELECT * FROM stg_international_top_terms"),
    ),
    "stg_international_top_rising_terms": QuerySpec(
        _trends("stg_international_top_rising_terms"),
        with_prelude("SELECT * FROM stg_international_top_rising_terms"),
    ),
    "weekly_trends_summary": QuerySpec(
        _trends("weekly_trends_summary"), with_prelude(_WEEKLY_BODY, _WEEKLY_CTES)
    ),
    "top_terms_comparison": QuerySpec(
        _trends("top_terms_comparison"), with_prelude(_COMPARISON_BODY, _COMPARISON_CTES)
    ),
    "trending_terms_analysis": QuerySpec(
        _trends("trending_terms_analysis"), with_prelude(_TRENDING_BODY, _TRENDING_CTES)
    ),
    # --- relational harness operators -------------------------------------
    # term momentum over the staging layer (WoW risers, reference domain)
    "q_term_momentum": QuerySpec(
        term_momentum, with_prelude(TERM_MOMENTUM_BODY)
    ),
    "q_pricing_summary": QuerySpec(R.pricing_summary, R.PRICING_SUMMARY_SQL),
    "q_regional_revenue": QuerySpec(R.regional_revenue, R.REGIONAL_REVENUE_SQL),
    "q_top_customers": QuerySpec(R.top_customers, R.TOP_CUSTOMERS_SQL),
    # TPC-H Q3 shape: pushdown-filtered fact-fact join, integer-cents top-k
    "q_shipping_priority": QuerySpec(
        R.shipping_priority,
        R.SHIPPING_PRIORITY_SQL_TEMPLATE.format(cutoff="1998-06-15", k=10),
    ),
    # TPC-H Q10 shape: returned-item rollup before the dimension broadcasts
    "q_returned_revenue": QuerySpec(
        R.returned_item_revenue,
        R.RETURNED_ITEM_REVENUE_SQL_TEMPLATE.format(k=20),
    ),
    # TPC-H Q18 shape: HAVING-qualified set joined back to order headers
    "q_large_volume_orders": QuerySpec(
        lambda spark, sf_dir: R.large_volume_orders(spark, sf_dir, min_qty=300),
        R.LARGE_VOLUME_ORDERS_SQL_TEMPLATE.format(min_qty=300),
    ),
    # TPC-H Q4 shape: EXISTS -> left-semi with a lateness join condition
    "q_order_priority_counts": QuerySpec(
        R.order_priority_counts,
        R.ORDER_PRIORITY_COUNTS_SQL_TEMPLATE.format(
            date_from="1996-01-01", date_to="1996-04-01", late_days=60
        ),
    ),
    # TPC-H Q13 shape: outer-join count distribution incl. the zero bucket
    "q_custdist": QuerySpec(
        R.customer_order_distribution, R.CUSTOMER_ORDER_DISTRIBUTION_SQL
    ),
    # TPC-H Q14 shape: conditional/total sum pair in one pass, ppm ratio
    "q_promo_revenue": QuerySpec(
        R.promo_revenue_share,
        R.PROMO_REVENUE_SHARE_SQL_TEMPLATE.format(
            month_from="1997-09-01", month_to="1997-10-01"
        ),
    ),
    # TPC-H Q16 shape: NOT IN -> anti join, distinct pairs before count
    "q_brand_suppliers": QuerySpec(
        R.brand_type_size_suppliers,
        R.BRAND_TYPE_SIZE_SUPPLIERS_SQL_TEMPLATE.format(excluded_brand="Brand#15"),
    ),
    # TPC-H Q19 shape: disjunctive conjunction blocks + pushed hull bounds
    "q_disjunctive_revenue": QuerySpec(
        R.disjunctive_brand_revenue, R.DISJUNCTIVE_BRAND_REVENUE_SQL
    ),
    # TPC-H Q22 shape: scalar-subquery avg (int64 cross-multiplied) + NOT EXISTS
    "q_idle_rich_customers": QuerySpec(
        R.idle_positive_customers, R.IDLE_POSITIVE_CUSTOMERS_SQL
    ),
    # TPC-H Q15 shape: view -> scalar max -> join-back, ties kept
    "q_top_supplier": QuerySpec(
        R.top_supplier_by_revenue,
        R.TOP_SUPPLIER_SQL_TEMPLATE.format(q_from="1997-01-01", q_to="1997-04-01"),
    ),
    # TPC-H Q17 shape: correlated per-part avg as one rollup + int64 compare
    "q_small_qty_revenue": QuerySpec(
        R.small_quantity_revenue, R.SMALL_QUANTITY_REVENUE_SQL
    ),
    # TPC-H Q6 shape: single pushdown-filtered scan, scaled-int discount band
    "q_forecast_revenue": QuerySpec(
        R.forecast_revenue_change,
        R.FORECAST_REVENUE_SQL_TEMPLATE.format(
            year_from="1997-01-01", year_to="1998-01-01",
            disc_lo_c=5, disc_hi_c=7, max_qty=24,
        ),
    ),
    # TPC-H Q7 shape: bilateral nation trade, dims pre-filtered then broadcast
    "q_nation_trade": QuerySpec(
        R.nation_trade_volume,
        R.NATION_TRADE_VOLUME_SQL_TEMPLATE.format(
            nation_a="NATION_1", nation_b="NATION_2"
        ),
    ),
    # TPC-H Q8 shape: market-share ppm from ONE SUM(CASE) aggregate pass
    "q_market_share": QuerySpec(
        R.market_share,
        R.MARKET_SHARE_SQL_TEMPLATE.format(
            target_nation="NATION_3", market_region="ASIA", part_type="STANDARD"
        ),
    ),
    # TPC-H Q9 shape (adapted: retailprice*qty cost proxy, no partsupp table)
    "q_nation_profit": QuerySpec(
        R.nation_profit,
        R.NATION_PROFIT_SQL_TEMPLATE.format(name_like="%widget%"),
    ),
    # TPC-H Q2 shape (adapted: observed shipped cents replace ps_supplycost)
    "q_min_cost_supplier": QuerySpec(
        R.min_cost_supplier,
        R.MIN_COST_SUPPLIER_SQL_TEMPLATE.format(size_max=15, region="EUROPE"),
    ),
    # TPC-H Q11 shape (global-share HAVING via broadcast scalar total)
    "q_important_parts": QuerySpec(
        R.important_parts,
        R.IMPORTANT_PARTS_SQL_TEMPLATE.format(threshold_ppm=800),
    ),
    # TPC-H Q12 shape (delay buckets replace ship modes; SUM(CASE) one-pass)
    "q_late_shipments": QuerySpec(
        R.late_shipment_priority,
        R.LATE_SHIPMENT_PRIORITY_SQL_TEMPLATE.format(late_days=90),
    ),
    # TPC-H Q20 shape (dominant shipper semi-join chain, windowed total)
    "q_dominant_suppliers": QuerySpec(
        R.dominant_part_suppliers, R.DOMINANT_PART_SUPPLIERS_SQL
    ),
    # TPC-H Q21 shape (unique-last-shipper exists/not-exists as windows)
    "q_blocking_suppliers": QuerySpec(
        R.blocking_suppliers,
        R.BLOCKING_SUPPLIERS_SQL_TEMPLATE.format(top_n=20),
    ),
    # first-order Markov transitions over per-user event sequences
    "q_event_transitions": QuerySpec(
        A.event_transitions, A.EVENT_TRANSITIONS_SQL
    ),
    # weekly retention-cohort triangle with ppm-exact retention rates
    "q_retention_cohorts": QuerySpec(
        lambda spark, sf_dir: A.retention_cohorts(spark, sf_dir, max_weeks=5),
        A.RETENTION_COHORTS_SQL_TEMPLATE.format(max_weeks=5),
    ),
    # strict-ordering conversion funnel in one conditional-aggregation pass
    "q_funnel": QuerySpec(A.conversion_funnel, A.CONVERSION_FUNNEL_SQL),
    # mergeable fixed-bin histogram quantiles (bounded-state percentiles)
    "q_histogram_quantiles": QuerySpec(
        lambda spark, sf_dir: A.histogram_quantiles(spark, sf_dir, bin_dollars=500),
        A.HISTOGRAM_QUANTILES_SQL_TEMPLATE.format(bin_dollars=500),
    ),
    # true HyperLogLog (max-merged registers, exact int harmonic sum,
    # small-range correction) — estimate column value-hash checked
    "q_hll_users": QuerySpec(
        lambda spark, sf_dir: A.hll_weekly_users(spark, sf_dir, p_bits=8),
        A.HLL_WEEKLY_USERS_SQL_TEMPLATE.format(
            m=256, width=24, alpha_m2_2p32=202175761456818.4
        ),
    ),
    # weekly audience-overlap matrix with exact Jaccard ppm
    "q_audience_overlap": QuerySpec(
        A.audience_overlap, A.AUDIENCE_OVERLAP_SQL
    ),
    # linear-counting distinct estimates, estimate column value-hash checked
    "q_linear_counting": QuerySpec(
        lambda spark, sf_dir: A.linear_counting_users(spark, sf_dir, m=4096),
        A.LINEAR_COUNTING_SQL_TEMPLATE.format(m=4096),
    ),
    # 2-sigma volume anomalies via integer cross-multiplied z-test
    "q_weekly_anomalies": QuerySpec(A.weekly_anomalies, A.WEEKLY_ANOMALIES_SQL),
    # per-key sequential fold (EWMA recurrence as an array reduction)
    "q_user_ewma": QuerySpec(A.user_value_ewma, A.USER_VALUE_EWMA_SQL),
    # one-scan column profiling report (nulls/distincts/min/max per column)
    "q_profile_orders": QuerySpec(A.profile_orders, A.PROFILE_ORDERS_SQL),
    # Bloom-filter join pruning with an exact false-positive audit
    "q_bloom_prefilter": QuerySpec(
        lambda spark, sf_dir: A.bloom_join_prefilter(
            spark, sf_dir, min_acctbal=9000, m_bits=1984, k_hashes=3
        ),
        A.BLOOM_PREFILTER_SQL_TEMPLATE.format(min_acctbal=9000, n_words=32, k=3),
    ),
    # market-basket association rules (support/confidence/lift ppm)
    "q_association_rules": QuerySpec(
        A.association_rules, A.ASSOCIATION_RULES_SQL
    ),
    # decimal(38) escape-hatch rollup (arbitrary-precision revenue sums)
    "q_decimal_revenue": QuerySpec(
        A.decimal_revenue_rollup, A.DECIMAL_REVENUE_SQL
    ),
    # day-of-week multiplicative seasonality profile (exact ppm indices)
    "q_seasonality": QuerySpec(A.seasonality_index, A.SEASONALITY_SQL),
    # weekend-vs-weekday purchase-share z-test (experiment readout)
    "q_ab_ztest": QuerySpec(A.ab_proportion_ztest, A.AB_ZTEST_SQL),
    # Theil-Sen robust daily trend (median of pairwise slopes)
    "q_theilsen_trend": QuerySpec(A.theilsen_daily_trend, A.THEILSEN_SQL),
    # two-sample KS statistic (urgent vs low-priority price distributions)
    "q_ks_test": QuerySpec(A.ks_test_priority_prices, A.KS_TEST_SQL),
    # Benford first-digit audit of order totals (bookkeeping screen)
    "q_benford": QuerySpec(A.benford_audit, A.BENFORD_AUDIT_SQL),
    # Python DataSource STREAM reader drained through a windowless rollup
    "s_stream_pysource": QuerySpec(
        lambda spark, sf_dir: stream_synthetic_rollup(spark, rows=5000),
        STREAM_SYNTHETIC_SQL_TEMPLATE.format(rows=5000),
    ),
    # ClickHouse-style sequenceMatch (regex over compressed timelines)
    "q_sequence_match": QuerySpec(
        A.sequence_match_counts, A.SEQUENCE_MATCH_SQL
    ),
    # ClickHouse-style windowFunnel (chained steps, bounded time window)
    "q_window_funnel": QuerySpec(
        lambda spark, sf_dir: A.window_funnel(spark, sf_dir, window_hours=24),
        A.WINDOW_FUNNEL_SQL_TEMPLATE.format(w_us=24 * 3600 * 1000000),
    ),
    # Spearman rank correlation (tie-correct doubled ranks, all int64)
    "q_spearman": QuerySpec(A.spearman_volume_value, A.SPEARMAN_SQL),
    # Spark 4 Python DataSource API: custom connector, formula oracle
    "q_python_datasource": QuerySpec(
        lambda spark, sf_dir: synthetic_source_rollup(spark, rows=20000),
        SYNTHETIC_SOURCE_SQL_TEMPLATE.format(rows=20000),
    ),
    # weekly view->click->purchase throughput rates (exact ppm)
    "q_weekly_ctr": QuerySpec(A.weekly_ctr, A.WEEKLY_CTR_SQL),
    # weekend daily-rate lift per type (rates, not raw counts)
    "q_weekend_lift": QuerySpec(A.weekend_lift_by_type, A.WEEKEND_LIFT_SQL),
    # inter-event gap histogram (power-of-two minutes; session-gap evidence)
    "q_interarrival": QuerySpec(A.interarrival_histogram, A.INTERARRIVAL_SQL),
    # weekly type-mix shares with WoW deltas (composition shift)
    "q_weekly_mix_share": QuerySpec(A.weekly_mix_share, A.WEEKLY_MIX_SHARE_SQL),
    # seasonally adjusted daily series (dow index divided out)
    "q_seasonal_adjust": QuerySpec(
        A.seasonally_adjusted_daily, A.SEASONAL_ADJUST_SQL
    ),
    # cumulative distinct-user adoption curve (firsts + cumsum, no rescans)
    "q_adoption_curve": QuerySpec(
        A.cumulative_adoption, A.CUMULATIVE_ADOPTION_SQL
    ),
    # RANGE-frame rolling 3-day sums (value-interval window semantics)
    "q_range_frame": QuerySpec(A.range_frame_rolling, A.RANGE_FRAME_SQL),
    # Wald-Wolfowitz runs test on daily up/down moves
    "q_runs_test": QuerySpec(A.runs_test_daily, A.RUNS_TEST_SQL),
    # 3d/7d moving-average crossover signals (division-free state)
    "q_ma_crossover": QuerySpec(A.ma_crossover_signals, A.MA_CROSSOVER_SQL),
    # Tukey IQR outlier days (x8 integer fences, no float boundary)
    "q_iqr_outliers": QuerySpec(A.iqr_outlier_days, A.IQR_OUTLIERS_SQL),
    # A/B minimum-detectable-effect power analysis (80% power literals)
    "q_ab_power": QuerySpec(A.ab_power_analysis, A.AB_POWER_SQL),
    # hour x weekday activity punchcard (portable weekday ids)
    "q_punchcard": QuerySpec(A.activity_punchcard, A.PUNCHCARD_SQL),
    # Lorenz value-concentration curve in deciles (Gini's curve itself)
    "q_lorenz_curve": QuerySpec(A.lorenz_curve, A.LORENZ_CURVE_SQL),
    # weekly cart-abandonment rate (clicking sessions with no purchase)
    "q_cart_abandonment": QuerySpec(A.cart_abandonment, A.CART_ABANDONMENT_SQL),
    # weekly new vs returning decomposition (growth accounting)
    "q_new_vs_returning": QuerySpec(A.new_vs_returning, A.NEW_VS_RETURNING_SQL),
    # WAU/MAU stickiness ratio per week (exact, dedup-first)
    "q_stickiness": QuerySpec(A.weekly_stickiness, A.WEEKLY_STICKINESS_SQL),
    # RFM quartile segmentation (deterministic NTILEs, exact means)
    "q_rfm_segments": QuerySpec(A.rfm_segments, A.RFM_SEGMENTS_SQL),
    # stationary distribution of the event-type Markov chain (power iter)
    "q_markov_stationary": QuerySpec(
        lambda spark, sf_dir: A.markov_stationary(spark, sf_dir, n_iters=6),
        A.markov_stationary_sql(n_iters=6),
    ),
    # Kaplan-Meier view->purchase conversion survival (censoring-correct)
    "q_kaplan_meier": QuerySpec(A.kaplan_meier_conversion, A.KAPLAN_MEIER_SQL),
    # Gini inequality of per-user value (single-sort rank identity)
    "q_gini": QuerySpec(A.gini_user_value, A.GINI_SQL),
    # weekly churn ppm (dedup-first activity, next-week anti probe)
    "q_churn": QuerySpec(A.weekly_churn, A.WEEKLY_CHURN_SQL),
    # cohort LTV accumulation curves (cents-exact cumulative window)
    "q_ltv_cohorts": QuerySpec(A.ltv_cohort_curves, A.LTV_COHORT_SQL),
    # Holt double-exponential smoothing + 7d forecast (packed-int fold)
    "q_holt_forecast": QuerySpec(A.holt_forecast, A.HOLT_FORECAST_SQL),
    # Mann-Whitney U rank-sum test (urgent vs low-priority totals)
    "q_mannwhitney": QuerySpec(A.mannwhitney_order_values, A.MANNWHITNEY_SQL),
    # per-type OLS daily-volume trend (slope/intercept/R² from int sums)
    "q_ols_trend": QuerySpec(A.ols_daily_trend, A.OLS_TREND_SQL),
    # lag-1..7 autocorrelation of the daily series
    "q_autocorrelation": QuerySpec(A.autocorrelation_daily, A.AUTOCORR_SQL),
    # CUSUM change-point per event type (division-free integer argmax)
    "q_cusum": QuerySpec(A.cusum_changepoints, A.CUSUM_SQL),
    # top 3-step session paths (sequence mining, session-bounded leads)
    "q_session_paths": QuerySpec(
        lambda spark, sf_dir: A.session_paths(spark, sf_dir, k=15),
        A.SESSION_PATHS_SQL_TEMPLATE.format(k=15),
    ),
    # first-view -> first-purchase latency percentiles
    "q_conversion_lag": QuerySpec(
        A.conversion_lag_percentiles, A.CONVERSION_LAG_SQL
    ),
    # order-independent XOR table fingerprints for cross-env reconciliation
    "q_table_fingerprints": QuerySpec(
        A.table_fingerprints, A.TABLE_FINGERPRINTS_SQL
    ),
    # Wilson lower-bound proportion ranking (small-sample-safe rates)
    "q_wilson_ranking": QuerySpec(A.wilson_ranked_types, A.WILSON_RANKED_SQL),
    # Poisson bootstrap CI for the mean (the distributed bootstrap)
    "q_bootstrap_ci": QuerySpec(
        lambda spark, sf_dir: A.bootstrap_mean_ci(spark, sf_dir, n_replicas=32),
        A.bootstrap_mean_ci_sql(n_replicas=32),
    ),
    # per-week Pearson r from mergeable int64 sufficient statistics
    "q_weekly_correlation": QuerySpec(
        A.weekly_value_correlation, A.WEEKLY_VALUE_CORRELATION_SQL
    ),
    # chi-square independence (type x weekday), per-cell micro rounding
    "q_chisquare": QuerySpec(A.chisquare_type_weekday, A.CHISQUARE_SQL),
    # gap-filled daily series with exact-integer linear interpolation
    "q_interpolate_daily": QuerySpec(
        A.interpolate_daily_series, A.INTERPOLATE_DAILY_SQL
    ),
    # Z-order (Morton) clustering keys for two-dimensional data skipping
    "q_zorder_keys": QuerySpec(
        lambda spark, sf_dir: A.zorder_keys(spark, sf_dir, sample_mod=500),
        A.ZORDER_KEYS_SQL_TEMPLATE.format(
            morton=A._morton_sql("l_partkey", "l_suppkey"), sample_mod=500
        ),
    ),
    # blocked entity resolution with integer field-agreement scoring
    "q_record_linkage": QuerySpec(R.record_linkage, R.RECORD_LINKAGE_SQL),
    # content-defined chunking (FastCDC-style token-hash boundaries)
    "x_cdc_chunks": QuerySpec(_x_cdc_chunks, CDC_CHUNKS_SQL),
    # Efraimidis-Spirakis weighted sampling without replacement
    "x_weighted_sample": QuerySpec(
        lambda spark, sf_dir: weighted_sample(
            load_table(spark, sf_dir, "documents"), n=50
        ),
        WEIGHTED_SAMPLE_SQL_TEMPLATE.format(n=50, salt=""),
    ),
    # BM25 lexical retrieval over the corpus inverted index
    "x_bm25_search": QuerySpec(
        lambda spark, sf_dir: bm25_search(
            load_table(spark, sf_dir, "documents"), n_queries=3, q_terms=5, k=10
        ),
        BM25_SEARCH_SQL_TEMPLATE.format(n_queries=3, q_terms=5, k=10, k1=1.2, b=0.75),
    ),
    # same BM25 semantics over a PERSISTED inverted index (bucket-
    # partitioned postings; search prunes to query-term buckets) — shares
    # the one-plan composition's oracle verbatim
    "x_bm25_index_search": QuerySpec(
        _x_bm25_index_search,
        BM25_SEARCH_SQL_TEMPLATE.format(n_queries=3, q_terms=5, k=10, k1=1.2, b=0.75),
    ),
    # result-page snippet extraction around the first matched query term
    "x_search_snippets": QuerySpec(
        _x_search_snippets,
        SEARCH_SNIPPETS_SQL_TEMPLATE.format(
            bm25=BM25_SEARCH_SQL_TEMPLATE.format(
                n_queries=3, q_terms=5, k=10, k1=1.2, b=0.75
            ),
            n_queries=3, q_terms=5, w=30, w2=60,
        ),
    ),
    # hybrid retrieval: BM25 + dense cosine fused by reciprocal rank
    "x_hybrid_rrf": QuerySpec(
        _x_hybrid_rrf,
        HYBRID_RRF_SQL_TEMPLATE.format(
            bm25=BM25_SEARCH_SQL_TEMPLATE.format(
                n_queries=3, q_terms=5, k=10, k1=1.2, b=0.75
            ),
            cosine=COSINE_TOPK_SQL_TEMPLATE.format(num_queries=3, k=10),
            c=60, k=10,
        ),
    ),
    # margin-based bitext mining (LASER/CCMatrix ratio margin, all-integer)
    "x_bitext_mining": QuerySpec(
        lambda spark, sf_dir: bitext_margin_mining(
            load_table(spark, sf_dir, "embeddings"), knn=4, top_n=50
        ),
        BITEXT_MINING_SQL_TEMPLATE.format(knn=4, top_n=50),
    ),
    # end-to-end retrieval pipeline: hybrid fusion -> snippets, one plan
    "x_rag_pipeline": QuerySpec(
        _x_rag_pipeline,
        _RAG_PIPELINE_SQL,
    ),
    # winnowing fingerprint selection (MOSS local document fingerprints)
    "x_winnowing": QuerySpec(
        lambda spark, sf_dir: winnowing_fingerprints(
            load_table(spark, sf_dir, "documents"), k=3, w=4
        ),
        WINNOWING_SQL_TEMPLATE.format(k=3, w=4),
    ),
    # CCNet perplexity deciles with head/middle/tail segments
    "x_ppl_buckets": QuerySpec(
        _x_ppl_buckets, PPL_BUCKETS_SQL_TEMPLATE.format(n_buckets=10, third=3)
    ),
    # exact-substring benchmark contamination (complement of shingle overlap)
    "x_substring_contam": QuerySpec(
        _x_substring_contam,
        SUBSTRING_CONTAMINATION_SQL_TEMPLATE.format(
            split_id=_DECON_SPLIT_ID, needle_from=20, needle_len=30
        ),
    ),
    # matryoshka prefix-dims coarse rank + full-dims rerank funnel
    "x_matryoshka_topk": QuerySpec(
        _x_matryoshka_topk,
        MATRYOSHKA_TOPK_SQL_TEMPLATE.format(
            prefix_dims=16, num_queries=5, shortlist=50, k=10
        ),
    ),
    # FAISS-default residual IVF-PQ (per-(query, cell) LUT re-centering)
    "x_ivfpq_residual": QuerySpec(
        _x_ivfpq_residual,
        IVFPQ_RESIDUAL_SQL_TEMPLATE.format(
            ivf_assign=IVF_ASSIGN_SQL_TEMPLATE.format(n_cells=_IVF_CELLS),
            n_cells=_IVF_CELLS, m=4, k_codes=_IVF_CELLS,
            num_queries=5, n_probe=4, k=5,
        ),
    ),
    # per-patch intensity stats over payload tiles (ViT-preproc shape)
    "m_patch_stats": QuerySpec(
        lambda spark, sf_dir: patch_intensity_stats(
            docs_as_media(load_table(spark, sf_dir, "documents")), patch_bytes=64
        ),
        PATCH_INTENSITY_SQL_TEMPLATE.format(patch_bytes=64),
    ),
    # shot-boundary cuts from consecutive frame-mean jumps (narrow plan)
    "m_scene_changes": QuerySpec(
        lambda spark, sf_dir: scene_change_plan(
            docs_as_media(load_table(spark, sf_dir, "documents")),
            frame_bytes=32,
            threshold_milli=4000,
        ),
        SCENE_CHANGE_SQL_TEMPLATE.format(frame_bytes=32, threshold_milli=4000),
    ),
    # energy-threshold activity segments (VAD gaps-and-islands merge)
    "m_vad_segments": QuerySpec(
        lambda spark, sf_dir: vad_segments(
            docs_as_media(load_table(spark, sf_dir, "documents")),
            patch_bytes=64,
            threshold_milli=100000,
        ),
        VAD_SEGMENTS_SQL_TEMPLATE.format(
            patch_sql=PATCH_INTENSITY_SQL_TEMPLATE.format(patch_bytes=64),
            threshold_milli=100000,
        ),
    ),
    # patch-variance flatness/blur proxy (visual quality gate)
    "m_flatness": QuerySpec(
        lambda spark, sf_dir: flatness_stats(
            docs_as_media(load_table(spark, sf_dir, "documents")), patch_bytes=64
        ),
        FLATNESS_SQL_TEMPLATE.format(
            patch_sql=PATCH_INTENSITY_SQL_TEMPLATE.format(patch_bytes=64)
        ),
    ),
    # per-media shot count/length stats from the scene cuts
    "m_shot_stats": QuerySpec(
        lambda spark, sf_dir: shot_stats(
            docs_as_media(load_table(spark, sf_dir, "documents")),
            frame_bytes=32,
            threshold_milli=4000,
        ),
        SHOT_STATS_SQL_TEMPLATE.format(
            scene_sql=SCENE_CHANGE_SQL_TEMPLATE.format(
                frame_bytes=32, threshold_milli=4000
            ),
            frame_bytes=32,
        ),
    ),
    # packed-batch position layout (attention-mask boundaries per bin)
    "x_pack_positions": QuerySpec(
        lambda spark, sf_dir: pack_positions(
            load_table(spark, sf_dir, "documents").select(
                "doc_id",
                "source",
                F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
            ),
            capacity=512,
        ),
        PACK_POSITIONS_SQL_TEMPLATE.format(
            pack=PACK_DOCUMENTS_SQL_TEMPLATE.format(capacity=512)
        ),
    ),
    # dHash perceptual near-dup over media payloads (banded 64-bit hash)
    "m_phash_neardup": QuerySpec(
        _m_phash_neardup, PHASH_NEARDUP_SQL_TEMPLATE.format(hamming_max=3)
    ),
    # Spark 4 VARIANT semi-structured path (parse once, binary extraction)
    "q_variant_props": QuerySpec(
        A.variant_props_histogram, A.VARIANT_PROPS_HISTOGRAM_SQL
    ),
    # per-source curation dashboard (volume, quality, exact-dup rate)
    "x_corpus_report": QuerySpec(
        lambda spark, sf_dir: corpus_report(load_table(spark, sf_dir, "documents")),
        CORPUS_REPORT_SQL.format(quality_sql=QUALITY_SCORE_SQL),
    ),
    "q_customer_order_ranks": QuerySpec(R.customer_order_ranks, R.CUSTOMER_ORDER_RANKS_SQL),
    # average order value per market segment (broadcast dim rollup)
    "q_aov_by_segment": QuerySpec(R.aov_by_segment, R.AOV_BY_SEGMENT_SQL),
    # order-to-first-ship latency percentiles per priority (SLA readout)
    "q_fulfillment_latency": QuerySpec(
        R.fulfillment_latency, R.FULFILLMENT_LATENCY_SQL
    ),
    # returned-line share per ship month (count AND value ppm)
    "q_return_rate": QuerySpec(R.return_rate_by_month, R.RETURN_RATE_SQL),
    # ABC/Pareto part classification (integer cross-multiplied bands)
    "q_abc_analysis": QuerySpec(R.abc_analysis, R.ABC_ANALYSIS_SQL),
    "q_priority_large_qty": QuerySpec(R.priority_large_qty, R.PRIORITY_LARGE_QTY_SQL),
    "q_customers_without_orders": QuerySpec(
        R.customers_without_orders, R.CUSTOMERS_WITHOUT_ORDERS_SQL
    ),
    "q_part_dollars": QuerySpec(R.part_dollars, R.PART_DOLLARS_SQL),
    # the same macro surface as a Spark 4 SQL UDF (CREATE FUNCTION ... RETURN)
    "q_sql_udf_macros": QuerySpec(_q_sql_udf_macros, SQL_UDF_MACROS_ORACLE),
    "q_events_weekly": QuerySpec(R.events_weekly, R.EVENTS_WEEKLY_SQL),
    "q_weekly_activity_full_outer": QuerySpec(
        R.weekly_activity_full_outer, R.WEEKLY_ACTIVITY_FULL_OUTER_SQL
    ),
    "q_window_distributions": QuerySpec(
        R.window_distributions, R.WINDOW_DISTRIBUTIONS_SQL
    ),
    "q_revenue_percentiles": QuerySpec(
        R.revenue_percentiles, R.REVENUE_PERCENTILES_SQL
    ),
    # Reformulated r10 (VERDICT r9 #2): the scale-path percentile is now
    # the DETERMINISTIC value-distribution method (per-(group, value)
    # counts -> cumulative ranks -> percentile_cont interpolation), exact
    # and therefore fully value-hash oracled — the previous
    # approx_percentile t-digest could never carry a cross-engine oracle
    # and sat as a permanent no_oracle ledger row.  The t-digest variant
    # remains a pytest-only accuracy demo (R.revenue_percentiles_tdigest).
    "q_revenue_percentiles_approx": QuerySpec(
        R.revenue_percentiles_approx, R.REVENUE_PERCENTILES_APPROX_SQL
    ),
    "q_above_customer_avg": QuerySpec(
        R.above_customer_avg, R.ABOVE_CUSTOMER_AVG_SQL
    ),
    "q_event_value_moments": QuerySpec(
        R.event_value_moments, R.EVENT_VALUE_MOMENTS_SQL
    ),
    "q_weekday_except_all": QuerySpec(
        R.weekday_weekend_except_all, R.WEEKDAY_WEEKEND_EXCEPT_ALL_SQL
    ),
    "q_event_type_stats": QuerySpec(R.event_type_stats, R.EVENT_TYPE_STATS_SQL),
    "q_set_ops_cohorts": QuerySpec(
        R.purchasers_vs_clickers, R.PURCHASERS_VS_CLICKERS_SQL
    ),
    # --- dbt_utils / audit-helper surface + windowed analytics -------------
    "q_date_spine_events": QuerySpec(A.date_spine_events, A.DATE_SPINE_EVENTS_SQL),
    "q_pivot_events": QuerySpec(A.pivot_events, A.PIVOT_EVENTS_SQL),
    "q_unpivot_events": QuerySpec(A.unpivot_events, A.UNPIVOT_EVENTS_SQL),
    "q_surrogate_keys": QuerySpec(A.surrogate_keys, A.SURROGATE_KEYS_SQL),
    "q_compare_relations": QuerySpec(A.compare_relations, A.COMPARE_RELATIONS_SQL),
    "q_sessionize_events": QuerySpec(A.sessionize_events, A.SESSIONIZE_EVENTS_SQL),
    # the built-in session_window twin (streaming-ready gap sessions)
    "q_session_windows": QuerySpec(A.session_windows, A.SESSION_WINDOWS_SQL),
    "q_order_quartiles": QuerySpec(A.order_quartiles, A.ORDER_QUARTILES_SQL),
    "q_revenue_rollup": QuerySpec(A.revenue_rollup, A.REVENUE_ROLLUP_SQL),
    "q_rank_reconstruction": QuerySpec(A.rank_reconstruction, A.RANK_RECONSTRUCTION_SQL),
    "q_json_props_stats": QuerySpec(A.json_props_stats, A.JSON_PROPS_STATS_SQL),
    "q_revenue_cube": QuerySpec(A.revenue_cube, A.REVENUE_CUBE_SQL),
    "q_weekly_wow_change": QuerySpec(A.weekly_wow_change, A.WEEKLY_WOW_CHANGE_SQL),
    "q_rolling_7d_user_value": QuerySpec(
        A.rolling_7d_user_value, A.ROLLING_7D_USER_VALUE_SQL
    ),
    # Reformulated r10 (VERDICT r9 #2): the scale-path distinct estimate
    # is now a KMV bottom-k estimator over a cross-engine integer hash —
    # deterministic, so fully value-hash oracled where the previous
    # approx_count_distinct (HLL++) could only ever be rows-only checked.
    # The HLL++ variant remains a pytest-only accuracy demo
    # (A.weekly_unique_users_hll).
    "q_weekly_unique_users_approx": QuerySpec(
        A.weekly_unique_users_approx, A.WEEKLY_UNIQUE_USERS_APPROX_SQL
    ),
    # --- temporal joins (as-of, range/band) --------------------------------
    "q_asof_purchases": QuerySpec(T.asof_purchases, T.ASOF_PURCHASES_SQL),
    "q_range_join_bands": QuerySpec(T.range_join_value_bands, T.RANGE_JOIN_VALUE_BANDS_SQL),
    # --- LLM-data-pipeline extensions -------------------------------------
    "x_dedup_exact": QuerySpec(_x_dedup_exact, EXACT_DUPLICATES_SQL),
    "x_text_stats": QuerySpec(_x_text_stats, TEXT_STATS_SQL),
    "x_token_counts": QuerySpec(_docs_q(token_counts), TOKEN_COUNTS_SQL),
    "x_quality_score": QuerySpec(_docs_q(quality_score), QUALITY_SCORE_SQL),
    # frozen linear probe (fastText-style serving shape, milli-logit ints)
    "x_quality_classifier": QuerySpec(
        _docs_q(quality_classifier), QUALITY_CLASSIFIER_SQL
    ),
    # ROC-AUC of the classifier logit vs the English pseudo-label
    "x_quality_auc": QuerySpec(_docs_q(quality_auc), QUALITY_AUC_SQL),
    # per-language subword fertility / bytes-per-token equity audit
    "x_tokenizer_fertility": QuerySpec(
        _docs_q(tokenizer_fertility), TOKENIZER_FERTILITY_SQL
    ),
    # per-source Shannon token entropy (lexical-diversity audit)
    "x_source_entropy": QuerySpec(_docs_q(source_entropy), SOURCE_ENTROPY_SQL),
    # reliability diagram of the quality classifier (ppm positive rates)
    "x_calibration": QuerySpec(
        _docs_q(lambda d: classifier_calibration(d, n_bins=8)),
        CLASSIFIER_CALIBRATION_SQL_TEMPLATE.format(n_bins=8),
    ),
    # four-stage curation pipeline v2 as ONE lazy plan (blocklist ->
    # adaptive quality -> quality-canonical dedup -> curriculum order)
    "x_curation_pipeline_v2": QuerySpec(
        _docs_q(curation_pipeline_v2),
        curation_pipeline_v2_sql(QUALITY_CLASSIFIER_SQL, BLOCKLIST_FILTER_SQL),
    ),
    # BM25-hard negative mining (lexically close, cross-source pairs)
    "x_hard_negatives": QuerySpec(
        _docs_q(lambda d: hard_negative_mining(d, n_queries=3, q_terms=5,
                                               k=10, n_neg=3)),
        hard_negative_mining_sql(n_queries=3, q_terms=5, k=10, n_neg=3),
    ),
    # BM25 precision@k under source-match pseudo-relevance (IR eval)
    "x_bm25_precision": QuerySpec(
        _docs_q(lambda d: bm25_source_precision(d, n_queries=3, q_terms=5, k=10)),
        bm25_source_precision_sql(n_queries=3, q_terms=5, k=10),
    ),
    # per-doc character entropy (gibberish/binary detector)
    "x_char_entropy": QuerySpec(_docs_q(char_entropy), CHAR_ENTROPY_SQL),
    # shared-prefix template discovery (boilerplate seeds)
    "x_prefix_templates": QuerySpec(
        _docs_q(lambda d: prefix_templates(d, prefix_tokens=5, min_docs=2)),
        PREFIX_TEMPLATES_SQL_TEMPLATE.format(prefix_tokens=5, min_docs=2),
    ),
    # type-token ratio per source (lexical diversity)
    "x_ttr_by_source": QuerySpec(_docs_q(ttr_by_source), TTR_BY_SOURCE_SQL),
    # classifier length-bias audit (mean logit per length quintile)
    "x_length_bias": QuerySpec(
        _docs_q(lambda d: length_quality_bias(d, n_buckets=5)),
        LENGTH_QUALITY_BIAS_SQL_TEMPLATE.format(n_buckets=5),
    ),
    # Heaps-law vocabulary growth curve (first-occurrence attribution)
    "x_vocab_growth": QuerySpec(
        _docs_q(lambda d: vocab_growth_curve(d, n_buckets=10)),
        VOCAB_GROWTH_SQL_TEMPLATE.format(n_buckets=10),
    ),
    # corpus-driven stopword discovery (top-df types -> stop lists)
    "x_stopword_discovery": QuerySpec(
        _docs_q(lambda d: stopword_discovery(d, top_k=20)),
        STOPWORD_DISCOVERY_SQL_TEMPLATE.format(top_k=20),
    ),
    # lexicon blocklist screen (C4-style, per-category hit counts)
    "x_blocklist_filter": QuerySpec(_docs_q(blocklist_filter), BLOCKLIST_FILTER_SQL),
    # per-language adaptive quality thresholds (CCNet policy, int ×4)
    "x_adaptive_quality": QuerySpec(
        _docs_q(lambda d: adaptive_quality_cut(d, keep_quantile=0.25)),
        ADAPTIVE_QUALITY_SQL_TEMPLATE.format(keep_quantile=0.25),
    ),
    # TextTiling topic segmentation (hashed-bag block cosine boundaries)
    "x_text_tiling": QuerySpec(
        _docs_q(lambda d: text_tiling(d, block_tokens=20, dim=64,
                                      threshold_centi=30)),
        TEXT_TILING_SQL_TEMPLATE.format(block_tokens=20, dim=64, thr2=900),
    ),
    # Zipf rank-frequency OLS fit (micro-nat int points, corpus health)
    "x_zipf_slope": QuerySpec(
        _docs_q(lambda d: zipf_slope(d, top_r=100)),
        ZIPF_SLOPE_SQL_TEMPLATE.format(top_r=100),
    ),
    # one-pass per-stage keep/drop audit of the cleaning funnel
    "x_filter_funnel": QuerySpec(
        _docs_q(filter_funnel),
        FILTER_FUNNEL_SQL_TEMPLATE.format(stopwords=STOPWORDS[0].split()),
    ),
    # largest-feasible domain-mixture plan (integer ppm arithmetic)
    "x_mixture_plan": QuerySpec(
        lambda spark, sf_dir: mixture_plan(
            load_table(spark, sf_dir, "documents"), _MIXTURE_WEIGHTS
        ),
        MIXTURE_PLAN_SQL_TEMPLATE.format(
            values=", ".join(
                f"('{k}', {v})" for k, v in sorted(_MIXTURE_WEIGHTS.items())
            )
        ),
    ),
    # pre-shuffle skew audit: heaviest join/group keys vs uniform baseline
    "q_key_skew": QuerySpec(
        lambda spark, sf_dir: key_skew_profile(
            load_table(spark, sf_dir, "documents"), "source", top_n=10
        ),
        KEY_SKEW_PROFILE_SQL_TEMPLATE.format(
            key="source", table="documents", top_n=10
        ),
    ),
    # alpha=0.5 temperature-flattened mixture over a 100k-doc budget
    "x_temperature_mix": QuerySpec(
        lambda spark, sf_dir: temperature_mixture(
            load_table(spark, sf_dir, "documents"), budget=100_000
        ),
        TEMPERATURE_MIXTURE_SQL_TEMPLATE.format(budget=100_000),
    ),
    "x_repetition_signals": QuerySpec(
        _docs_q(repetition_signals), REPETITION_SIGNALS_SQL
    ),
    "x_unigram_logprob": QuerySpec(_docs_q(unigram_logprob), UNIGRAM_LOGPROB_SQL),
    # diversity-balanced subset: IVF cells -> exact-n hash draw per cell
    "x_cluster_sample": QuerySpec(
        lambda spark, sf_dir: cluster_balanced_sample(
            load_table(spark, sf_dir, "embeddings"), n_per_cell=8, n_cells=16
        ),
        CLUSTER_BALANCED_SAMPLE_SQL_TEMPLATE.format(
            n_cells=16, n_per_cell=8, salt=""
        ),
    ),
    # DSIR importance reweighting: target-vs-raw unigram LM log-ratio,
    # int64 micro-nat sums (Xie et al. 2023 data-selection shape)
    "x_importance_weights": QuerySpec(
        _docs_q(importance_weights),
        IMPORTANCE_WEIGHTS_SQL_TEMPLATE.format(target_lang="en"),
    ),
    # interpolated bigram LM pseudo-perplexity (one order up from unigram)
    "x_bigram_logprob": QuerySpec(
        _docs_q(bigram_logprob),
        BIGRAM_LOGPROB_SQL_TEMPLATE.format(lam10=9, inv10=1),
    ),
    "x_corpus_ngrams": QuerySpec(
        lambda spark, sf_dir: corpus_ngram_counts(
            load_table(spark, sf_dir, "documents"), n=2, k=20
        ),
        CORPUS_NGRAM_COUNTS_SQL_TEMPLATE.format(
            n=2, k=20, concat_expr="t[i + 1] || ' ' || t[i + 2]"
        ),
    ),
    "x_vocab_coverage": QuerySpec(
        lambda spark, sf_dir: vocab_coverage(
            load_table(spark, sf_dir, "documents"), vocab_sizes=(8, 16, 32)
        ),
        VOCAB_COVERAGE_SQL_TEMPLATE.format(vocab_values="(8), (16), (32)"),
    ),
    "x_token_histogram": QuerySpec(
        lambda spark, sf_dir: token_histogram(
            load_table(spark, sf_dir, "documents"), bucket=16
        ),
        TOKEN_HISTOGRAM_SQL_TEMPLATE.format(bucket=16),
    ),
    "x_dedup_canonical": QuerySpec(_docs_q(dedup_canonical), DEDUP_CANONICAL_SQL),
    "x_source_overlap": QuerySpec(
        lambda spark, sf_dir: source_overlap(
            load_table(spark, sf_dir, "documents"),
            shingle_len=_NGRAM_JACCARD_N,
            threshold=_NGRAM_JACCARD_THRESHOLD,
        ),
        SOURCE_OVERLAP_SQL_TEMPLATE.format(
            jaccard_pairs=NGRAM_JACCARD_SQL_TEMPLATE.format(
                n=_NGRAM_JACCARD_N, threshold=_NGRAM_JACCARD_THRESHOLD
            )
        ),
    ),
    "x_hash_sample": QuerySpec(
        lambda spark, sf_dir: hash_sample(
            load_table(spark, sf_dir, "documents"), "doc_id", fraction=0.25
        ),
        HASH_SAMPLE_SQL_TEMPLATE.format(salt="", thr=format(int(0.25 * 65536), "04x")),
    ),
    "x_chunk_documents": QuerySpec(
        lambda spark, sf_dir: chunk_documents(
            load_table(spark, sf_dir, "documents"), window=64, stride=48
        ),
        CHUNK_DOCUMENTS_SQL_TEMPLATE.format(window=64, stride=48),
    ),
    "x_pii_scrub": QuerySpec(
        lambda spark, sf_dir: scrub_pii(
            load_table(spark, sf_dir, "events"), text_col="props", id_col="event_id"
        ),
        PII_SCRUB_EVENTS_SQL,
    ),
    "x_pq_encode": QuerySpec(
        lambda spark, sf_dir: pq_encode(
            load_table(spark, sf_dir, "embeddings"), n_blocks=4, n_codes=_IVF_CELLS
        ),
        PQ_ENCODE_SQL_TEMPLATE.format(m=4, k=_IVF_CELLS),
    ),
    "x_semantic_search": QuerySpec(
        lambda spark, sf_dir: semantic_search(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "documents"),
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < _KNN_NUM_QUERIES
            ),
            k=_KNN_K,
        ),
        SEMANTIC_SEARCH_SQL_TEMPLATE.format(num_queries=_KNN_NUM_QUERIES, k=_KNN_K),
    ),
    "x_ivfpq_topk": QuerySpec(
        lambda spark, sf_dir: ivfpq_topk(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < _KNN_NUM_QUERIES
            ),
            k=_KNN_K,
            n_cells=_IVF_CELLS,
            n_probe=4,
            n_blocks=4,
            n_codes=_IVF_CELLS,
        ),
        _IVFPQ_SQL,
    ),
    # same ANN semantics over a PERSISTED index (build parquet tables once,
    # search via partition-pruned postings scan) — deterministic, so it
    # shares the one-plan composition's oracle verbatim
    "x_ivfpq_index_search": QuerySpec(_x_ivfpq_index_search, _IVFPQ_SQL),
    "x_pq_topk": QuerySpec(
        lambda spark, sf_dir: pq_topk(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < _KNN_NUM_QUERIES
            ),
            k=_KNN_K,
            n_blocks=4,
            n_codes=_IVF_CELLS,
        ),
        PQ_TOPK_SQL_TEMPLATE.format(
            pq_encode=PQ_ENCODE_SQL_TEMPLATE.format(m=4, k=_IVF_CELLS).replace(
                "SELECT vec_id, CAST(b AS BIGINT) AS block", "SELECT vec_id, b AS block"
            ),
            m=4,
            k_codes=_IVF_CELLS,
            num_queries=_KNN_NUM_QUERIES,
            k=_KNN_K,
        ),
    ),
    # SQ8 scalar quantization: 8-bit per-dim codes (4x memory vs float32)
    "x_sq8_encode": QuerySpec(
        lambda spark, sf_dir: sq8_encode(load_table(spark, sf_dir, "embeddings")),
        SQ8_ENCODE_SQL,
    ),
    # symmetric SQ8 L2 top-k: byte codes on both sides, integer distances
    "x_sq8_topk": QuerySpec(
        lambda spark, sf_dir: sq8_topk(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < _KNN_NUM_QUERIES
            ),
            k=_KNN_K,
        ),
        SQ8_TOPK_SQL_TEMPLATE.format(num_queries=_KNN_NUM_QUERIES, k=_KNN_K),
    ),
    # exact L2 ground truth in micro-unit int64 (value-hash-checkable ranks)
    # mutual-kNN degree distribution (graph health-check, exact int L2)
    "x_knn_graph": QuerySpec(
        lambda spark, sf_dir: knn_graph_mutual_degree(
            load_table(spark, sf_dir, "embeddings"), k=_KNN_K
        ),
        KNN_MUTUAL_DEGREE_SQL_TEMPLATE.format(k=_KNN_K),
    ),
    # per-label kNN homophily (embedding class-purity metric, exact ppm)
    "x_knn_homophily": QuerySpec(
        lambda spark, sf_dir: knn_label_homophily(
            load_table(spark, sf_dir, "embeddings"), k=_KNN_K
        ),
        KNN_HOMOPHILY_SQL_TEMPLATE.format(k=_KNN_K),
    ),
    # in-degree hubness audit of the kNN graph (anti-hub/hub masses)
    "x_knn_hubness": QuerySpec(
        lambda spark, sf_dir: knn_hubness(
            load_table(spark, sf_dir, "embeddings"), k=_KNN_K
        ),
        KNN_HUBNESS_SQL_TEMPLATE.format(k=_KNN_K),
    ),
    # PageRank centrality on the kNN graph (exact int64 micro-ranks)
    "x_knn_pagerank": QuerySpec(
        lambda spark, sf_dir: knn_pagerank(
            load_table(spark, sf_dir, "embeddings"), k=_KNN_K, n_iters=5
        ),
        knn_pagerank_sql(k=_KNN_K, n_iters=5),
    ),
    # triangles + local clustering coefficients on the mutual-kNN graph
    "x_knn_clustering": QuerySpec(
        lambda spark, sf_dir: knn_clustering_coefficients(
            load_table(spark, sf_dir, "embeddings"), k=_KNN_K
        ),
        KNN_CLUSTERING_SQL_TEMPLATE.format(k=_KNN_K),
    ),
    # nDCG@k + MRR under label relevance (frozen micro log2 discounts)
    "x_retrieval_ndcg": QuerySpec(
        lambda spark, sf_dir: retrieval_eval(
            load_table(spark, sf_dir, "embeddings"),
            num_queries=_KNN_NUM_QUERIES,
            k=_KNN_K,
        ),
        retrieval_eval_sql(num_queries=_KNN_NUM_QUERIES, k=_KNN_K),
    ),
    # SQ8 reconstruction-error fidelity audit (per-dim int64 exact)
    "x_sq8_recon_error": QuerySpec(
        lambda spark, sf_dir: sq8_reconstruction_error(
            load_table(spark, sf_dir, "embeddings")
        ),
        SQ8_RECON_ERROR_SQL,
    ),
    # top-k embedding outliers vs own-label centroids (mislabel screen)
    "x_embedding_outliers": QuerySpec(
        lambda spark, sf_dir: embedding_outliers(
            load_table(spark, sf_dir, "embeddings"), k=20
        ),
        EMBEDDING_OUTLIERS_SQL_TEMPLATE.format(k=20),
    ),
    # IVF cluster purity vs labels (index-as-clustering grade)
    "x_cluster_purity": QuerySpec(
        lambda spark, sf_dir: cluster_purity(
            load_table(spark, sf_dir, "embeddings"), n_cells=_IVF_CELLS
        ),
        CLUSTER_PURITY_SQL_TEMPLATE.format(
            ivf_sql=IVF_ASSIGN_SQL_TEMPLATE.format(n_cells=_IVF_CELLS)
        ),
    ),
    # Two-NN intrinsic-dimension estimate (Facco 2017, micro-nat sums)
    "x_intrinsic_dim": QuerySpec(
        lambda spark, sf_dir: intrinsic_dimension(
            load_table(spark, sf_dir, "embeddings"), num_queries=100
        ),
        intrinsic_dimension_sql(num_queries=100),
    ),
    # class-separation matrix (centroid gaps vs intra-class spread)
    "x_class_separation": QuerySpec(
        lambda spark, sf_dir: class_separation(
            load_table(spark, sf_dir, "embeddings")
        ),
        CLASS_SEPARATION_SQL,
    ),
    # top principal component by integer power iteration (exact eigenvector)
    "x_pca_power": QuerySpec(
        lambda spark, sf_dir: pca_top_component(
            load_table(spark, sf_dir, "embeddings"), n_iters=6
        ),
        pca_top_component_sql(n_iters=6),
    ),
    # BFS hop-distance histogram over the mutual-kNN graph (frontier loop)
    "x_knn_bfs": QuerySpec(
        lambda spark, sf_dir: knn_bfs_hops(
            load_table(spark, sf_dir, "embeddings"), source_id=0, k=_KNN_K
        ),
        knn_bfs_sql(source_id=0, k=_KNN_K),
    ),
    # 1-bit binary quantization + Hamming top-k (XOR+popcount retrieval)
    "x_binary_hamming": QuerySpec(
        lambda spark, sf_dir: binary_hamming_topk(
            load_table(spark, sf_dir, "embeddings"),
            num_queries=_KNN_NUM_QUERIES,
            k=_KNN_K,
        ),
        BINARY_HAMMING_SQL_TEMPLATE.format(
            num_queries=_KNN_NUM_QUERIES, k=_KNN_K
        ),
    ),
    "x_l2_topk": QuerySpec(
        lambda spark, sf_dir: l2_topk_exact(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < _KNN_NUM_QUERIES
            ),
            k=_KNN_K,
        ),
        L2_TOPK_SQL_TEMPLATE.format(num_queries=_KNN_NUM_QUERIES, k=_KNN_K),
    ),
    # recall@k audit: SQ8 ANN vs the exact L2 ranking, per query, exact ints
    "x_ann_recall": QuerySpec(
        lambda spark, sf_dir: ann_recall(
            sq8_topk(
                load_table(spark, sf_dir, "embeddings"),
                load_table(spark, sf_dir, "embeddings").filter(
                    F.col("vec_id") < _KNN_NUM_QUERIES
                ),
                k=_KNN_K,
            ),
            l2_topk_exact(
                load_table(spark, sf_dir, "embeddings"),
                load_table(spark, sf_dir, "embeddings").filter(
                    F.col("vec_id") < _KNN_NUM_QUERIES
                ),
                k=_KNN_K,
            ),
            k=_KNN_K,
        ),
        ANN_RECALL_SQL_TEMPLATE.format(
            approx_sql=SQ8_TOPK_SQL_TEMPLATE.format(
                num_queries=_KNN_NUM_QUERIES, k=_KNN_K
            ),
            exact_sql=L2_TOPK_SQL_TEMPLATE.format(
                num_queries=_KNN_NUM_QUERIES, k=_KNN_K
            ),
            k=_KNN_K,
        ),
    ),
    # MMR diversified top-k: greedy relevance-vs-redundancy picks, exact ints
    "x_mmr_topk": QuerySpec(
        lambda spark, sf_dir: mmr_topk(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < _KNN_NUM_QUERIES
            ),
            k=_KNN_K,
            pool=12,
            lam_tenths=7,
        ),
        mmr_topk_sql(k=_KNN_K, pool=12, lam_tenths=7, num_queries=_KNN_NUM_QUERIES),
    ),
    "x_semdedup": QuerySpec(
        lambda spark, sf_dir: semantic_dedup_pairs(
            load_table(spark, sf_dir, "embeddings"),
            n_cells=_IVF_CELLS,
            threshold=_NEARDUP_COS_THRESHOLD,
        ),
        SEMDEDUP_SQL_TEMPLATE.format(
            ivf_assign=IVF_ASSIGN_SQL_TEMPLATE.format(n_cells=_IVF_CELLS),
            threshold=_NEARDUP_COS_THRESHOLD,
        ),
    ),
    "x_language_id": QuerySpec(_docs_q(language_id), LANGUAGE_ID_SQL),
    "x_language_profile": QuerySpec(_x_language_profile, LANGUAGE_PROFILE_SQL),
    # classifier-eval confusion matrix of langid predictions vs labels
    "x_langid_confusion": QuerySpec(
        lambda spark, sf_dir: langid_confusion(
            load_table(spark, sf_dir, "documents")
        ),
        LANGID_CONFUSION_SQL_TEMPLATE.format(language_id=LANGUAGE_ID_SQL),
    ),
    # per-source KL divergence from the corpus blend (mix-drift screen)
    "x_source_divergence": QuerySpec(
        lambda spark, sf_dir: source_divergence(
            load_table(spark, sf_dir, "documents")
        ),
        SOURCE_DIVERGENCE_SQL,
    ),
    # per-dimension embedding stats (pre-indexing normalization audit)
    "x_embedding_dim_stats": QuerySpec(
        lambda spark, sf_dir: embedding_dim_stats(
            load_table(spark, sf_dir, "embeddings")
        ),
        EMBEDDING_DIM_STATS_SQL,
    ),
    # top-k PMI collocations (phrase-mining statistic)
    "x_pmi_collocations": QuerySpec(
        lambda spark, sf_dir: pmi_collocations(
            load_table(spark, sf_dir, "documents"), min_pair=5, k=30
        ),
        PMI_COLLOCATIONS_SQL_TEMPLATE.format(min_pair=5, k=30),
    ),
    "x_fingerprint": QuerySpec(_docs_q(rolling_fingerprint), ROLLING_FINGERPRINT_SQL),
    "x_knn_cosine_topk": QuerySpec(
        _x_knn, COSINE_TOPK_SQL_TEMPLATE.format(num_queries=_KNN_NUM_QUERIES, k=_KNN_K)
    ),
    "x_embedding_neardup": QuerySpec(
        _x_embedding_neardup,
        EMBEDDING_NEARDUP_SQL_TEMPLATE.format(threshold=_NEARDUP_COS_THRESHOLD),
    ),
    "x_ivf_assign": QuerySpec(
        _x_ivf_assign, IVF_ASSIGN_SQL_TEMPLATE.format(n_cells=_IVF_CELLS)
    ),
    # Lee et al. duplicated-text fraction: tokens covered by cross-doc
    # duplicated n-gram spans (partial-boilerplate metric)
    "x_dup_span_coverage": QuerySpec(
        lambda spark, sf_dir: dup_span_coverage(
            load_table(spark, sf_dir, "documents"), shingle_len=_NGRAM_JACCARD_N
        ),
        DUP_SPAN_COVERAGE_SQL_TEMPLATE.format(n=_NGRAM_JACCARD_N),
    ),
    # continuous-ingestion exact dedup: batch (doc_id >= split) dropped
    # against fingerprints the earlier corpus (doc_id < split) contributed
    # the full MinHash pipeline on the md5 minwise order — every stage
    # (signatures, banding, candidates, exact verify) value-hash checked
    "x_neardup_minhash_checked": QuerySpec(
        lambda spark, sf_dir: neardup_minhash_checked(
            load_table(spark, sf_dir, "documents"), jaccard_threshold=0.5
        ),
        neardup_minhash_checked_sql(jaccard_threshold=0.5),
    ),
    # deterministic train/val/test assignment: pure hash function of the
    # key (split-stable under corpus growth), shuffle-free, audit rollup
    "x_hash_split": QuerySpec(
        lambda spark, sf_dir: hash_split(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            val_ppm=50_000,
            test_ppm=50_000,
        ),
        HASH_SPLIT_SQL_TEMPLATE.format(
            val_thr=50_000 * 16**6 // 1_000_000,
            test_thr=100_000 * 16**6 // 1_000_000,
            salt="",
        ),
    ),
    # epoch-salted global training-order permutation (range-partitioned sort)
    "x_training_order": QuerySpec(
        lambda spark, sf_dir: training_order(
            load_table(spark, sf_dir, "documents"), "doc_id", epoch=3
        ),
        TRAINING_ORDER_SQL_TEMPLATE.format(epoch=3),
    ),
    # BPE tokenizer induction: vocab-bounded merge loop, 1-row argmax per
    # iteration; chained-CTE oracle replays the identical algorithm
    "x_bpe_merges": QuerySpec(
        lambda spark, sf_dir: bpe_merges(
            load_table(spark, sf_dir, "documents"), n_merges=8, max_vocab=2000
        ),
        bpe_merges_sql(n_merges=8, max_vocab=2000),
    ),
    # BPE application with a fixed merge table: shuffle-free narrow pass
    "x_bpe_segment": QuerySpec(
        lambda spark, sf_dir: bpe_segment(
            load_table(spark, sf_dir, "documents"), _BPE_FIXED_MERGES
        ),
        bpe_segment_sql(_BPE_FIXED_MERGES),
    ),
    # banded SimHash + exact Hamming verify on md5 token hashes — the
    # oracle-checked twin of the xxhash64 x_simhash_neardup
    "x_simhash_checked": QuerySpec(
        lambda spark, sf_dir: simhash_checked(
            load_table(spark, sf_dir, "documents"), max_hamming=3
        ),
        simhash_checked_sql(max_hamming=3),
    ),
    # continuous-ingestion near-dup vs a persisted band store (band
    # collision = duplicate; S-curve-bounded false positives by design)
    "x_incremental_neardup": QuerySpec(
        lambda spark, sf_dir: incremental_neardup(
            minhash_band_keys_md5(
                load_table(spark, sf_dir, "documents").filter(
                    F.col("doc_id") >= _INC_DEDUP_SPLIT
                )
            ),
            minhash_band_keys_md5(
                load_table(spark, sf_dir, "documents").filter(
                    F.col("doc_id") < _INC_DEDUP_SPLIT
                )
            ),
        )
        .select("doc_id")
        .distinct(),
        incremental_neardup_sql(split=_INC_DEDUP_SPLIT),
    ),
    "x_incremental_dedup": QuerySpec(
        lambda spark, sf_dir: incremental_dedup(
            load_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") >= _INC_DEDUP_SPLIT
            ),
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _INC_DEDUP_SPLIT)
            .select(F.md5(F.col("text").cast("binary")).alias("fingerprint")),
        ),
        INCREMENTAL_DEDUP_SQL_TEMPLATE.format(split=_INC_DEDUP_SPLIT),
    ),
    # Lloyd refinement of the IVF coarse quantizer (int64 micro-unit
    # arithmetic -> exact cross-engine assignment parity)
    "x_kmeans_refine": QuerySpec(
        lambda spark, sf_dir: kmeans_refine(
            load_table(spark, sf_dir, "embeddings"), n_cells=_IVF_CELLS, n_iters=2
        ),
        kmeans_refine_sql(n_cells=_IVF_CELLS, n_iters=2),
    ),
    "x_ngram_jaccard": QuerySpec(
        _x_ngram_jaccard,
        NGRAM_JACCARD_SQL_TEMPLATE.format(
            n=_NGRAM_JACCARD_N, threshold=_NGRAM_JACCARD_THRESHOLD
        ),
    ),
    "x_ngram_containment": QuerySpec(
        lambda spark, sf_dir: ngram_containment_pairs(
            load_table(spark, sf_dir, "documents"),
            shingle_len=_NGRAM_JACCARD_N,
            threshold=0.8,
        ),
        NGRAM_CONTAINMENT_SQL_TEMPLATE.format(n=_NGRAM_JACCARD_N, threshold=0.8),
    ),
    "x_ngram_jaccard_filtered": QuerySpec(
        lambda spark, sf_dir: ngram_jaccard_pairs_filtered(
            load_table(spark, sf_dir, "documents"),
            shingle_len=_NGRAM_JACCARD_N,
            threshold=_NGRAM_JACCARD_THRESHOLD,
            max_doc_freq=50,
        ),
        NGRAM_JACCARD_FILTERED_SQL_TEMPLATE.format(
            n=_NGRAM_JACCARD_N, threshold=_NGRAM_JACCARD_THRESHOLD, max_doc_freq=50
        ),
    ),
    # packing-efficiency audit (bin utilization deciles, padding waste)
    "x_pack_efficiency": QuerySpec(
        lambda spark, sf_dir: pack_efficiency(
            load_table(spark, sf_dir, "documents").select(
                "doc_id",
                "source",
                F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
            ),
            capacity=512,
        ),
        PACK_EFFICIENCY_SQL_TEMPLATE.format(
            pack_sql=PACK_DOCUMENTS_SQL_TEMPLATE.format(capacity=512),
            capacity=512,
        ),
    ),
    "x_pack_documents": QuerySpec(
        lambda spark, sf_dir: pack_documents(
            load_table(spark, sf_dir, "documents").select(
                "doc_id",
                "source",
                F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
            ),
            capacity=512,
            part_col="source",
        ),
        PACK_DOCUMENTS_SQL_TEMPLATE.format(capacity=512),
    ),
    "x_tfidf_top_terms": QuerySpec(
        _x_tfidf, TFIDF_TOP_TERMS_SQL_TEMPLATE.format(k=_TFIDF_K)
    ),
    "x_dedup_components": QuerySpec(
        _x_dedup_components,
        CONNECTED_COMPONENTS_SQL_TEMPLATE.format(
            jaccard_pairs=NGRAM_JACCARD_SQL_TEMPLATE.format(
                n=_NGRAM_JACCARD_N, threshold=0.5
            )
        ),
    ),
    # dup cluster-size histogram (CC labels -> size distribution)
    "x_dup_cluster_sizes": QuerySpec(
        _x_dup_cluster_sizes,
        DUP_CLUSTER_SIZES_SQL_TEMPLATE.format(
            jaccard_pairs=NGRAM_JACCARD_SQL_TEMPLATE.format(
                n=_NGRAM_JACCARD_N, threshold=0.5
            )
        ),
    ),
    # near-dup clusters keep their highest-quality member (CC + classifier)
    "x_dedup_quality_canonical": QuerySpec(
        _x_dedup_quality_canonical,
        DEDUP_QUALITY_CANONICAL_SQL_TEMPLATE.format(
            jaccard_pairs=NGRAM_JACCARD_SQL_TEMPLATE.format(
                n=_NGRAM_JACCARD_N, threshold=0.5
            ),
            quality_sql=QUALITY_CLASSIFIER_SQL,
        ),
    ),
    # curriculum training order (quality quartiles, in-bucket hash shuffle)
    "x_curriculum_order": QuerySpec(
        _docs_q(lambda d: curriculum_order(d, n_buckets=4)),
        CURRICULUM_ORDER_SQL_TEMPLATE.format(
            quality_sql=QUALITY_CLASSIFIER_SQL, n_buckets=4
        ),
    ),
    # greedy submodular max-coverage selection (representative subset)
    "x_coverage_select": QuerySpec(
        lambda spark, sf_dir: coverage_select(
            load_table(spark, sf_dir, "documents"), k=5,
            shingle_len=_NGRAM_JACCARD_N,
        ),
        coverage_select_sql(k=5, shingle_len=_NGRAM_JACCARD_N),
    ),
    # IDF-weighted Jaccard (rare shared shingles count more)
    "x_weighted_jaccard": QuerySpec(
        lambda spark, sf_dir: weighted_jaccard_pairs(
            load_table(spark, sf_dir, "documents"), shingle_len=_NGRAM_JACCARD_N
        ),
        WEIGHTED_JACCARD_SQL_TEMPLATE.format(
            n=_NGRAM_JACCARD_N, threshold_ppm=300000
        ),
    ),
    # overlap-inflation accounting for sliding-window chunking
    "x_chunk_inflation": QuerySpec(
        _docs_q(lambda d: chunk_inflation_report(d, window=64, stride=48)),
        CHUNK_INFLATION_SQL_TEMPLATE.format(
            chunk_sql=CHUNK_DOCUMENTS_SQL_TEMPLATE.format(window=64, stride=48)
        ),
    ),
    # sampler-neutrality audit (hash-sample mix vs corpus mix, ppm skew)
    "x_sample_bias": QuerySpec(
        _docs_q(lambda d: sample_bias_audit(d, fraction=0.25)),
        SAMPLE_BIAS_SQL_TEMPLATE.format(thr="4000"),
    ),
    # realize an upsampling plan (integer copies + hash-gated fraction)
    "x_upsample_realize": QuerySpec(
        lambda spark, sf_dir: upsample_realize(
            load_table(spark, sf_dir, "documents"), _UPSAMPLE_PPM
        ),
        upsample_realize_sql(_UPSAMPLE_PPM),
    ),
    # shingle df histogram (power-of-two buckets, stop-shingle evidence)
    "x_shingle_df_histogram": QuerySpec(
        lambda spark, sf_dir: shingle_df_histogram(
            load_table(spark, sf_dir, "documents"), shingle_len=_NGRAM_JACCARD_N
        ),
        SHINGLE_DF_HISTOGRAM_SQL_TEMPLATE.format(n=_NGRAM_JACCARD_N),
    ),
    # soft dedup: weight docs 1/|dup group| instead of dropping
    "x_soft_dedup": QuerySpec(
        lambda spark, sf_dir: soft_dedup_weights(
            load_table(spark, sf_dir, "documents")
        ),
        SOFT_DEDUP_SQL,
    ),
    # MinHash S-curve recall audit (measured vs theoretical per decile)
    "x_minhash_scurve": QuerySpec(
        lambda spark, sf_dir: minhash_scurve_audit(
            load_table(spark, sf_dir, "documents"), shingle_len=_NGRAM_JACCARD_N
        ),
        minhash_scurve_audit_sql(shingle_len=_NGRAM_JACCARD_N),
    ),
    # Jaccard threshold operating curve (dedup dial, one pair pass)
    "x_jaccard_curve": QuerySpec(
        lambda spark, sf_dir: jaccard_threshold_curve(
            load_table(spark, sf_dir, "documents"), shingle_len=_NGRAM_JACCARD_N
        ),
        jaccard_threshold_curve_sql(shingle_len=_NGRAM_JACCARD_N),
    ),
    # SimHash Hamming calibration histogram (radius-selection evidence)
    "x_simhash_calibration": QuerySpec(
        lambda spark, sf_dir: simhash_distance_histogram(
            load_table(spark, sf_dir, "documents")
        ),
        simhash_distance_histogram_sql(),
    ),
    # LSH band-bucket occupancy / pair-mass audit (stop-bucket pre-flight)
    "x_band_balance": QuerySpec(
        lambda spark, sf_dir: band_bucket_balance(
            load_table(spark, sf_dir, "documents"), shingle_len=_NGRAM_JACCARD_N
        ),
        band_bucket_balance_sql(shingle_len=_NGRAM_JACCARD_N),
    ),
    # MinHash sketch-accuracy audit (estimate vs exact Jaccard per pair)
    "x_minhash_audit": QuerySpec(
        lambda spark, sf_dir: minhash_estimate_audit(
            load_table(spark, sf_dir, "documents"), shingle_len=_NGRAM_JACCARD_N
        ),
        minhash_estimate_audit_sql(shingle_len=_NGRAM_JACCARD_N),
    ),
    # per-doc n-gram novelty vs the reference half (memorization audit)
    "x_ngram_novelty": QuerySpec(
        _x_ngram_novelty,
        NGRAM_NOVELTY_SQL_TEMPLATE.format(
            split_id=_DECON_SPLIT_ID, n=_NGRAM_JACCARD_N
        ),
    ),
    "x_decontaminate": QuerySpec(
        _x_decontaminate,
        DECONTAMINATE_SQL_TEMPLATE.format(split_id=_DECON_SPLIT_ID, n=_NGRAM_JACCARD_N),
    ),
    "x_training_pipeline": QuerySpec(
        _x_training_pipeline,
        TRAINING_PIPELINE_SQL_TEMPLATE.format(
            split_id=_DECON_SPLIT_ID,
            n=_NGRAM_JACCARD_N,
            min_quality=3,
            capacity=512,
            stopwords=repr(STOPWORDS[0].split()),
        ),
    ),
    # Default near-dup path = the native banded MinHash (signatures -> band
    # self-join -> exact Jaccard verify): same recall as the Spark-ML
    # approxSimilarityJoin formulation it replaced at ~2.3x less wall time
    # (round-1 bench 6.6 s vs 14.9 s at sf0.1).
    # VALUE-HASH ORACLE (upgraded from rows-only per VERDICT r2 #5): with
    # r=1/b=16 banding a true pair at Jaccard J misses every band with
    # probability (1-J)^16; the corpus' near-dup pairs all sit at J >= 0.888
    # (miss <= 0.112^16 ~ 4e-16), so candidates provably contain every pair
    # the exact verify keeps and output == brute-force Jaccard >= 0.5, which
    # DuckDB computes directly.  (b=4/r=4 stays the library default — the
    # r=1 config is the recall-1 operating point for this eval threshold.)
    # min_band_matches=4 of 16 raises the collision bar to a J~0.25 signature
    # estimate: recall over the J >= 0.888 true pairs is untouched (binomial
    # tail ~1e-13) while the single-hash random collisions that made every
    # doc a verify candidate are dropped pre-shuffle.
    "x_neardup_minhash": QuerySpec(  # banded-LSH candidates + exact verify
        lambda spark, sf_dir: neardup_minhash_native(
            load_table(spark, sf_dir, "documents"),
            num_hashes=16,
            bands=16,
            jaccard_threshold=0.5,
            min_band_matches=4,
        ),
        NGRAM_JACCARD_SQL_TEMPLATE.format(n=_NGRAM_JACCARD_N, threshold=0.5),
    ),
    # deterministic SRP-LSH ANN: the full approximate pipeline (integer
    # sign projections -> band buckets -> exact rerank) replays in SQL
    "x_knn_lsh": QuerySpec(
        _x_knn_lsh, cosine_topk_srp_sql(num_queries=_KNN_NUM_QUERIES, k=_KNN_K)
    ),
    # IVF ANN: approximate in recall, deterministic in result — probe
    # selection rounds d2 like ivf_assign, so the oracle replays it exactly
    "x_ivf_topk": QuerySpec(
        _x_ivf_topk,
        IVF_TOPK_SQL_TEMPLATE.format(
            ivf_assign=IVF_ASSIGN_SQL_TEMPLATE.format(n_cells=_IVF_CELLS),
            n_cells=_IVF_CELLS,
            num_queries=_KNN_NUM_QUERIES,
            n_probe=4,
            k=_KNN_K,
        ),
    ),
    # VALUE-HASH ORACLE (upgraded from rows-only per VERDICT r2 #5): banded
    # xxhash64 SimHash candidates -> exact Jaccard verify.  Pigeonhole
    # guarantees every pair within hamming bands-1 (=7) is a candidate; the
    # J >= 0.85 pairs the verify keeps sit at hamming <= ~9, so the output
    # equals brute-force Jaccard >= 0.85 (validated at sf0.001 and sf0.01).
    "x_simhash_neardup": QuerySpec(
        _x_simhash_neardup,
        NGRAM_JACCARD_SQL_TEMPLATE.format(n=_NGRAM_JACCARD_N, threshold=0.85),
    ),
    # --- multimodal plumbing (fake decoder -> fully oracle-checkable) ------
    "m_media_features": QuerySpec(_m_media_features, MEDIA_FEATURES_SQL),
    "m_patch_grid": QuerySpec(
        lambda spark, sf_dir: patch_grid_plan(
            docs_as_media(load_table(spark, sf_dir, "documents")), patch=16
        ),
        PATCH_GRID_SQL_TEMPLATE.format(patch=16),
    ),
    "m_frame_sample": QuerySpec(
        _m_frame_sample, FRAME_SAMPLE_SQL_TEMPLATE.format(every_n=10)
    ),
    "m_resize_plan": QuerySpec(_m_resize_plan, RESIZE_PLAN_SQL),
    # ASR-style sliding sample-window framing plan over audio blobs
    "m_audio_windows": QuerySpec(
        lambda spark, sf_dir: audio_window_plan(
            docs_as_media(load_table(spark, sf_dir, "documents")), window=400, hop=160
        ),
        AUDIO_WINDOW_SQL_TEMPLATE.format(window=400, hop=160),
    ),
    # --- structured streaming (availableNow-drained, batch-equivalent) -----
    "s_stream_weekly_rollup": QuerySpec(stream_weekly_rollup, STREAM_WEEKLY_SQL),
    # sliding 7d/1d windows: every event in 7 overlapping windows
    "s_stream_sliding_rollup": QuerySpec(
        stream_sliding_rollup, STREAM_SLIDING_SQL
    ),
    "s_stream_distinct_users": QuerySpec(stream_distinct_users, STREAM_DISTINCT_USERS_SQL),
    "s_stream_purchase_attribution": QuerySpec(
        stream_purchase_attribution, STREAM_ATTRIBUTION_SQL
    ),
    # watermark-bounded streaming dedup (state evicted past the watermark)
    "s_stream_dedup_events": QuerySpec(stream_dedup_events, STREAM_DEDUP_SQL),
    # custom stateful operator: applyInPandasWithState gap sessionizer; the
    # drained update-mode output == batch sessions minus each user's open one
    "s_stream_sessionize": QuerySpec(stream_sessionize, STREAM_SESSIONIZE_SQL),
    # stateful streaming EWMA: constant-size keyed state, last emission ==
    # the batch timeline fold, so it shares q_user_ewma's oracle verbatim
    "s_stream_ewma": QuerySpec(stream_user_ewma, A.USER_VALUE_EWMA_SQL),
    # HLL registers as a streaming MAX aggregation (bounded distinct state)
    "s_stream_hll": QuerySpec(
        lambda spark, sf_dir: stream_hll_users(spark, sf_dir, p_bits=8),
        A.HLL_WEEKLY_USERS_SQL_TEMPLATE.format(
            m=256, width=24, alpha_m2_2p32=202175761456818.4
        ),
    ),
    # per-day KL drift of the streaming type mix vs the reference blend
    "s_stream_drift": QuerySpec(stream_drift_monitor, A.STREAM_DRIFT_SQL),
    # Count-Min grid as a streaming aggregation (fixed-size sketch state)
    "s_stream_countmin": QuerySpec(
        lambda spark, sf_dir: stream_countmin_heavy(
            spark, sf_dir, depth=4, width=64, k=10
        ),
        STREAM_COUNTMIN_SQL_TEMPLATE.format(depth=4, width=64, k=10),
    ),
    # hashing-trick document vectors (signed feature hashing, model-free)
    "x_hashed_embedding": QuerySpec(
        lambda spark, sf_dir: hashed_embedding(
            load_table(spark, sf_dir, "documents"), dim=32
        ),
        HASHED_EMBEDDING_SQL_TEMPLATE.format(dim=32),
    ),
    # Count-Min sketch frequency estimates vs true counts (mergeable grid)
    "x_countmin_heavy": QuerySpec(
        lambda spark, sf_dir: countmin_heavy_hitters(
            load_table(spark, sf_dir, "documents"), depth=4, width=256, k=20
        ),
        COUNTMIN_HEAVY_SQL_TEMPLATE.format(depth=4, width=256, k=20),
    ),
    # sparse inverted-index dot-product kNN over the hashed vectors
    "x_hashed_knn": QuerySpec(
        lambda spark, sf_dir: hashed_doc_knn(
            load_table(spark, sf_dir, "documents"), k=5, num_queries=10, dim=32
        ),
        HASHED_DOC_KNN_SQL_TEMPLATE.format(k=5, num_queries=10, dim=32),
    ),
    # stream-static dimension enrichment: stateless join, dim broadcast
    "s_stream_segment_rollup": QuerySpec(
        stream_segment_rollup, STREAM_SEGMENT_ROLLUP_SQL
    ),
    # windowed heavy hitters: streamed rollup + rank-after-drain
    "s_stream_top_types": QuerySpec(
        lambda spark, sf_dir: stream_top_event_types(spark, sf_dir, k=3),
        STREAM_TOP_TYPES_SQL_TEMPLATE.format(k=3),
    ),
    # --- round-2 additions past the 50-entry window (verified next round) ---
    # RefinedWeb-style per-domain quota: slim (id, stratum, order) ranking
    "x_source_caps": QuerySpec(
        lambda spark, sf_dir: source_caps(
            load_table(spark, sf_dir, "documents"), cap=_SOURCE_CAP
        ),
        SOURCE_CAPS_SQL_TEMPLATE.format(cap=_SOURCE_CAP),
    ),
    # corpus token-budget selection without a global sort (two-phase cumsum)
    "x_token_budget_select": QuerySpec(
        lambda spark, sf_dir: token_budget_select(
            load_table(spark, sf_dir, "documents"), budget=_TOKEN_BUDGET
        ),
        TOKEN_BUDGET_SELECT_SQL_TEMPLATE.format(budget=_TOKEN_BUDGET),
    ),
    # exact-n per-stratum reproducible draw (hash-ordered reservoir twin)
    "x_stratified_exact_n": QuerySpec(
        lambda spark, sf_dir: stratified_exact_n(
            load_table(spark, sf_dir, "documents"), n_per_stratum=_STRAT_N
        ),
        STRATIFIED_EXACT_N_SQL_TEMPLATE.format(n=_STRAT_N, salt=""),
    ),
    # dbt semantic-layer metrics compiled to ONE grouped pass over events
    "d_metrics_events": QuerySpec(_d_metrics_events, METRICS_EVENTS_SQL),
    # cross-document boilerplate-block removal with text reassembly
    "x_boilerplate_strip": QuerySpec(
        lambda spark, sf_dir: boilerplate_strip(
            load_table(spark, sf_dir, "documents"),
            block_len=_BOILERPLATE_BLOCK,
            max_df=_BOILERPLATE_MAX_DF,
        ),
        BOILERPLATE_STRIP_SQL_TEMPLATE.format(
            block_len=_BOILERPLATE_BLOCK, max_df=_BOILERPLATE_MAX_DF
        ),
    ),
    # --- round-8 additions: txn-table ACID layer + embedding bridge --------
    # time travel across append/append/DELETE commits (audit query)
    "q_txn_timetravel": QuerySpec(
        TD.txn_timetravel_orders, TD.TXN_TIMETRAVEL_SQL
    ),
    # file-pruned MERGE of a CDC batch + post-merge reconciliation
    "q_txn_merge_cdc": QuerySpec(
        TD.txn_merge_latest_balance, TD.TXN_MERGE_SQL
    ),
    # log-stats data skipping over a range-clustered ingestion layout
    "q_txn_skipping_scan": QuerySpec(TD.txn_skipping_scan, TD.TXN_SKIPPING_SQL),
    # change-data-feed -> incremental dedup consumer (store rolls forward)
    "q_txn_cdf_dedup": QuerySpec(
        TD.txn_cdf_incremental_dedup, TD.TXN_CDF_DEDUP_SQL
    ),
    # Arrow-batched embedding-generation bridge, long-formed for the
    # value-hash oracle (float32-exact unit weights)
    "x_embed_bridge": QuerySpec(
        lambda spark, sf_dir: embed_bridge_longform(
            load_table(spark, sf_dir, "documents"), dim=16
        ),
        EMBED_BRIDGE_SQL_TEMPLATE.format(dim=16),
    ),
    # --- round-9 additions: txn DML/ops wave + rerank bridge + privacy -----
    # merge-on-read DELETE via deletion vectors (data files untouched)
    "q_txn_dv_delete": QuerySpec(TD.txn_dv_delete_orders, TD.TXN_DV_DELETE_SQL),
    # merge-on-read UPDATE (tombstones + changed-rows append only)
    "q_txn_dv_update": QuerySpec(TD.txn_dv_update_orders, TD.TXN_DV_UPDATE_SQL),
    # RESTORE rewinds rows AND metadata as one forward commit
    "q_txn_restore": QuerySpec(TD.txn_restore_orders, TD.TXN_RESTORE_SQL),
    # per-file Bloom index point lookups on an unclustered high-card key
    "q_txn_bloom_lookup": QuerySpec(
        TD.txn_bloom_point_lookups, TD.TXN_BLOOM_SQL
    ),
    # CDF-driven incremental aggregate MV (sync cost ~ changes, not table)
    "q_txn_incremental_mv": QuerySpec(
        TD.txn_incremental_mv, TD.TXN_INCREMENTAL_MV_SQL
    ),
    # streaming source tailing the commit log (offsets = versions)
    "s_stream_txn_tail": QuerySpec(
        TD.stream_txn_tail_rollup, TD.STREAM_TXN_TAIL_SQL
    ),
    # the dbt mart materialized as a txn table THROUGH the pipeline:
    # two builds = two commits; the query time-travels one build back and
    # must match the mart's own oracle (VERDICT r8 #5)
    "q_txn_mart_timetravel": QuerySpec(
        TD.txn_mart_timetravel, with_prelude(_WEEKLY_BODY, _WEEKLY_CTES)
    ),
    # cross-encoder rerank bridge: stage-2 pair scoring over stage-1
    # retrieval candidates (mapInPandas batch shape, swap-in inference)
    "x_rerank_bridge": QuerySpec(
        lambda spark, sf_dir: rerank_bridge_topk(
            load_table(spark, sf_dir, "documents")
        ),
        RERANK_BRIDGE_SQL_TEMPLATE.format(
            dim=32, num_queries=4, k_retrieve=10, k_final=5
        ),
    ),
    # privacy governance: the release-gate audits a training-data
    # pipeline runs before shipping a quasi-identifier join table
    "x_k_anonymity": QuerySpec(k_anonymity_customers, K_ANONYMITY_CUSTOMERS_SQL),
    "x_l_diversity": QuerySpec(l_diversity_customers, L_DIVERSITY_CUSTOMERS_SQL),
    # --- round-10 additions: the staged txn-ops wave (VERDICT r9 #1) -------
    # atomic predicate-scoped overwrite (Delta replaceWhere backfill)
    "q_txn_replace_where": QuerySpec(
        TD.txn_replace_where_backfill, TD.TXN_REPLACE_WHERE_SQL
    ),
    # Z-order (Morton) clustering compaction -> 2-D box scan prunes files
    "q_txn_zorder_box": QuerySpec(TD.txn_zorder_box_scan, TD.TXN_ZORDER_SQL),
    # vacuum lifecycle: retention sweep whose oracle re-reads the table
    "q_txn_vacuum": QuerySpec(TD.txn_vacuum_lifecycle, TD.TXN_VACUUM_SQL),
    # zero-copy shallow clone -> what-if mutation, source untouched
    "q_txn_clone": QuerySpec(TD.txn_clone_what_if, TD.TXN_CLONE_SQL),
    # streaming CDF source: per-commit change diffs drive a rollup
    "s_stream_txn_cdf": QuerySpec(
        TD.stream_txn_cdf_rollup, TD.STREAM_TXN_CDF_SQL
    ),
    # CDF-driven incremental re-embedding (sync cost ~ changed docs)
    "x_cdf_reembed": QuerySpec(TD.txn_cdf_reembed, TD.TXN_CDF_REEMBED_SQL),
    # RAG parent-document retrieval (child-chunk hits -> parent contexts)
    "x_parent_retrieval": QuerySpec(TD._parent_retrieval, TD._parent_retrieval_sql()),
    # --- round-11 additions: the staged wave (VERDICT r10 #1) --------------
    # generated columns, log-resident NDV stats, KMV sketch overlap, ColBERT
    # MaxSim rerank, semi-hard negative mining, bounded-state streaming KMV,
    # PRF query expansion, Spark 4 recursive CTE, left-outer stream-stream
    # attribution, PSI drift monitor, and the full MERGE grammar — the
    # (fn, oracle) pairs come from the named staging dict the pooled parity
    # scenario and the degenerate sweep have exercised since round 10.
    **{
        name: QuerySpec(fn, sql)
        for name, (fn, sql) in TD.ROUND11_STAGED.items()
    },
    # --- round-12 additions: the staged wave (VERDICT r11 #1/#3) -----------
    # the partitioned-table physical layer (partition pruning from pure log
    # arithmetic, dynamic partition overwrite, zero-I/O per-partition stats),
    # metadata-only RENAME COLUMN, GENERATED ALWAYS AS IDENTITY, the
    # partitioned streaming tail, two training-data composites (DPO
    # preference-pair mining, T5 span-corruption planning), and the
    # declared-clustering-keys declare -> compact -> box-scan-prune demo —
    # the (fn, oracle) pairs come from the named staging dict the pooled
    # parity scenario and the degenerate sweep exercise.
    **{
        name: QuerySpec(fn, sql)
        for name, (fn, sql) in TD.ROUND12_STAGED.items()
    },
    # --- round-13 additions: the staged wave (VERDICT r12 #1) --------------
    # label-propagation communities, Kneser-Ney bigram perplexity, the
    # partitioned-source incremental MV (partitioned-CDF composition), the
    # SentencePiece unigram-LM trilogy (EM seed -> pruning round ->
    # fertility report), session-trajectory near-dup (behavioral dedup),
    # and GRPO group-relative advantages — the (fn, oracle) pairs come from
    # the named staging dict the pooled parity scenario and the degenerate
    # sweep have exercised since round 12.
    **{
        name: QuerySpec(fn, sql)
        for name, (fn, sql) in TD.ROUND13_STAGED.items()
    },
}

# Verification order. Each verification run oracle-checks only the first 50
# entries, so the order picks what each verdict re-checks: the 7 reference
# models, then queries whose code changed after their latest green verdict,
# then the rest, oldest latest-green verdict first (stable, so ties keep
# registration order). A query's latest green verdict is the newest committed
# CORRECTNESS_r<N>.json that records it matching with no error; none is 0.
_REFERENCE_MODELS = (
    "stg_top_terms", "stg_top_rising_terms", "stg_international_top_terms",
    "stg_international_top_rising_terms", "weekly_trends_summary",
    "top_terms_comparison", "trending_terms_analysis",
)
# query -> verdict round of its last code change; an entry leads only until
# a verdict of that round or newer records the query green
_CHANGED_IN_ROUND = {
    **dict.fromkeys((
        "q_markov_stationary", "x_bm25_index_search", "x_pca_power",
        "x_knn_bfs", "x_mmr_topk", "x_bpe_merges", "x_dedup_components",
        "x_dup_cluster_sizes", "x_dedup_quality_canonical",
        "x_coverage_select", "q_txn_merge_cdc", "q_txn_clone",
        "x_cdf_reembed", "q_txn_ndv_stats", "q_txn_sketch_overlap",
        "q_txn_partitioned_prune", "q_txn_dynamic_overwrite",
        "q_txn_partition_stats",
    ), 14),
    **dict.fromkeys((
        "x_knn_pagerank", "x_label_propagation", "q_theilsen_trend",
        "q_ks_test", "q_mannwhitney", "x_length_bias", "q_txn_identity",
        "q_txn_zorder_box", "q_txn_cluster_prune", "x_unigram_lm_em",
        "x_unigram_fertility", "x_unigram_pruned",
        "s_stream_attribution_outer", "x_neardup_minhash",
        "x_neardup_minhash_checked", "x_trajectory_neardup",
        "x_minhash_audit", "x_minhash_scurve", "x_band_balance",
        "x_incremental_neardup", "x_simhash_neardup", "x_simhash_checked",
        "x_simhash_calibration",
    ), 15),
}


def _latest_green_round() -> dict[str, int]:
    latest: dict[str, int] = {}
    for path in Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"):
        tag = path.stem.removeprefix("CORRECTNESS_r")
        if not tag.isdigit():
            continue
        for name, v in json.loads(path.read_text()).items():
            if v.get("err") is None and all(
                v.get(k) is True for k in ("rows_match", "schema_match", "hash_match")
            ):
                latest[name] = max(latest.get(name, 0), int(tag))
    return latest


_LATEST_GREEN = _latest_green_round()


def _verify_order(name: str) -> tuple[int, int]:
    green = _LATEST_GREEN.get(name, 0)
    if name in _REFERENCE_MODELS:
        return (0, 0)
    return (1 if _CHANGED_IN_ROUND.get(name, 0) > green else 2, green)


QUERIES = {name: QUERIES[name] for name in sorted(QUERIES, key=_verify_order)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}
