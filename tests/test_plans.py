"""Physical-plan regression guards: the scale properties SCALE.md claims
(pushdown, pruning, broadcast dims, window elimination, partition pruning)
are asserted here so a refactor can't silently lose them."""

import tempfile

import pytest
from pyspark.sql import functions as F

from dbt_trill_shop_spark.catalog import load_table
from dbt_trill_shop_spark.core import Materialization, Model, Project
from dbt_trill_shop_spark.models.trends import build_trends_relations
from dbt_trill_shop_spark.operators.relational import pricing_summary, regional_revenue


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _plan(pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: the 16-column lineitem scan reads only the 7 needed
    assert "l_comment" not in plan and "l_partkey" not in plan


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = _plan(regional_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan  # dims all broadcast; no fact-fact SMJ here


def test_unused_rank_window_pruned_from_marts(spark, sf_dir):
    rels = build_trends_relations(spark, sf_dir)
    plan = _plan(rels["weekly_trends_summary"])
    assert "Window" not in plan  # staging rank windows pruned via view inlining


def test_partitioned_table_sink_prunes(spark, sf_dir):
    """A mart written partitionBy(week) must show partition pruning (not a
    full scan) when filtered on week."""
    p = Project(
        "pp",
        warehouse_dir=tempfile.mkdtemp(prefix="trillshop_pp_"),
        table_partition_cols={"ev_weekly": ["week"]},
    )
    p.add_model(
        Model(
            "ev_weekly",
            lambda s, ref: load_table(s, sf_dir, "events").select(
                F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
                "event_type",
                "value",
            ),
            materialization=Materialization.TABLE,
        )
    )
    p.build(spark, run_tests=False)
    weeks = [r.week for r in p.ref("ev_weekly").select("week").distinct().collect()]
    filtered = p.ref("ev_weekly").filter(F.col("week") == weeks[0])
    plan = _plan(filtered)
    assert "PartitionFilters: [isnotnull(week" in plan, plan[:2000]
    assert filtered.count() > 0
    p.drop_warehouse()


def test_chunk_documents_is_shuffle_free(spark, sf_dir):
    from dbt_trill_shop_spark.ext.sampling import chunk_documents

    plan = _plan(chunk_documents(load_table(spark, sf_dir, "documents")))
    assert "Exchange" not in plan  # narrow: explode + slice only


def test_semdedup_joins_on_cell(spark, sf_dir):
    from dbt_trill_shop_spark.ext.similarity import semantic_dedup_pairs

    plan = _plan(semantic_dedup_pairs(load_table(spark, sf_dir, "embeddings"), n_cells=8))
    # the quadratic kernel must be keyed on the cell, not a cross join
    assert "SortMergeJoin" in plan and "cell" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # only the tiny centroid assigns


def test_pq_topk_broadcasts_lut_and_codebook(spark, sf_dir):
    from dbt_trill_shop_spark.ext.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(pq_topk(emb, emb.filter(F.col("vec_id") < 3), k=3))
    assert plan.count("BroadcastExchange") >= 2  # codebook + lookup table
    assert "CartesianProduct" not in plan


def test_hash_sample_reaches_scan_without_shuffle(spark, sf_dir):
    from dbt_trill_shop_spark.ext.sampling import hash_sample

    plan = _plan(hash_sample(load_table(spark, sf_dir, "documents"), "doc_id", 0.25))
    assert "Exchange" not in plan  # pure filter stage



def test_quality_classifier_is_shuffle_free(spark, sf_dir):
    from dbt_trill_shop_spark.ext.textstats import quality_classifier

    plan = _plan(quality_classifier(load_table(spark, sf_dir, "documents")))
    assert "Exchange" not in plan  # per-row Column expressions only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_plan_broadcasts_literals(spark, sf_dir):
    from dbt_trill_shop_spark.ext.sampling import mixture_plan

    weights = {f"src{i}": (i % 5) + 1 for i in range(20)}
    plan = _plan(mixture_plan(load_table(spark, sf_dir, "documents"), weights))
    # weights + feasibility min ride as broadcasts; the only aggregation
    # shuffle is the per-stratum count
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" not in plan  # VALUES literal, not an RDD scan


def test_incremental_dedup_ships_hashes_not_text(spark, sf_dir):
    from dbt_trill_shop_spark.ext.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter("doc_id < 250").select(
        F.md5(F.col("text").cast("binary")).alias("fingerprint")
    )
    plan = _plan(incremental_dedup(docs.filter("doc_id >= 250"), seen))
    # the anti-join/groupBy exchanges must carry fingerprints, never text
    import re

    for exch in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in exch, exch


def test_dup_span_coverage_ships_hashes_not_text(spark, sf_dir):
    from dbt_trill_shop_spark.ext.dedup import dup_span_coverage

    plan = _plan(dup_span_coverage(load_table(spark, sf_dir, "documents")))
    import re

    for exch in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in exch and " s#" not in exch, exch


def test_source_caps_shuffle_never_carries_text(spark, sf_dir):
    from dbt_trill_shop_spark.ext.sampling import source_caps

    plan = _plan(source_caps(load_table(spark, sf_dir, "documents"), cap=5))
    # ranking runs on the slim (id, stratum, order) projection: the document
    # text column must be pruned before the window's hash exchange
    assert "Window" in plan and "Exchange" in plan
    assert "text" not in plan


def test_token_budget_select_has_no_corpus_global_window(spark, sf_dir):
    from dbt_trill_shop_spark.ext.sampling import token_budget_select

    df = token_budget_select(load_table(spark, sf_dir, "documents"), budget=5_000)
    plan = _plan(df)
    # per-score offsets ride a broadcast join; every SinglePartition exchange
    # feeds from the per-score HashAggregate (|distinct scores| rows), never
    # from the corpus scan directly
    assert "BroadcastExchange" in plan
    singles = plan.split("Exchange SinglePartition")[1:]
    assert singles, plan[:1500]
    for tail in singles:
        assert "HashAggregate(keys=[score" in tail[:300], tail[:400]


def test_boilerplate_strip_joins_on_hash(spark, sf_dir):
    from dbt_trill_shop_spark.ext.dedup import boilerplate_strip

    plan = _plan(boilerplate_strip(load_table(spark, sf_dir, "documents")))
    # flag join + document-frequency agg key on xxhash64, not the block string
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_sq8_topk_broadcasts_query_codes(spark, sf_dir):
    from dbt_trill_shop_spark.ext.similarity import sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(sq8_topk(emb, emb.filter(F.col("vec_id") < 3), k=3))
    # quantizer stats + query-side codes ride broadcasts; candidates never
    # cross-join (the only joins are dim-keyed broadcasts + the semi join)
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_mmr_greedy_trace_is_driver_side_local_relation(spark, sf_dir):
    """The k-step greedy trace runs driver-side over the collected
    (queries × pool) / (queries × pool²) tables — the returned relation
    must be a bounded LOCAL one (no joins, no exchanges: the corpus-sized
    work all happens upstream of the two collects), and its row count is
    capped at queries × k by construction."""
    from dbt_trill_shop_spark.ext.similarity import mmr_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = mmr_topk(emb, emb.filter(F.col("vec_id") < 3), k=3, pool=6)
    plan = _plan(out)
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    assert "Join" not in plan and "Exchange" not in plan
    assert out.count() <= 3 * 3


def test_incremental_neardup_shuffles_hashes_only(spark, sf_dir):
    from dbt_trill_shop_spark.ext.dedup import incremental_neardup, minhash_band_keys_md5

    docs = load_table(spark, sf_dir, "documents")
    out = incremental_neardup(
        minhash_band_keys_md5(docs.filter("doc_id >= 250")),
        minhash_band_keys_md5(docs.filter("doc_id < 250")),
    )
    plan = _plan(out)
    # the store probe and anti join carry (doc_id, bidx, bk) band rows only
    # — document text must never appear past the signature aggregation
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    last_stage = plan.split("LocalTableScan")[0]
    assert "text" not in last_stage.split("HashAggregate")[0]


def test_shipping_priority_pushes_both_date_filters(spark, sf_dir):
    from dbt_trill_shop_spark.operators.relational import shipping_priority

    plan = _plan(shipping_priority(spark, sf_dir))
    # both date filters reach their parquet scans before the fact-fact join
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan


def test_returned_revenue_rolls_up_before_broadcast_dims(spark, sf_dir):
    from dbt_trill_shop_spark.operators.relational import returned_item_revenue

    plan = _plan(returned_item_revenue(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation ride broadcast


def test_custdist_priority_filter_pushes_below_outer_join(spark, sf_dir):
    from dbt_trill_shop_spark.operators.relational import customer_order_distribution

    plan = _plan(customer_order_distribution(spark, sf_dir))
    # the priority predicate references only the null-producing side, so it
    # must reach the orders parquet scan, not run post-join
    assert "PushedFilters: [IsNotNull(o_orderpriority)" in plan
    # two shuffles total: per-customer count, then the tiny histogram
    assert plan.count("Exchange hashpartitioning") <= 3


def test_disjunctive_revenue_pushes_hull_bounds(spark, sf_dir):
    from dbt_trill_shop_spark.operators.relational import disjunctive_brand_revenue

    plan = _plan(disjunctive_brand_revenue(spark, sf_dir))
    # the manually-restated disjunction hull reaches both scans
    assert "LessThanOrEqual(l_quantity,30" in plan
    assert "LessThanOrEqual(p_size,15" in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_order_priority_counts_is_semi_join(spark, sf_dir):
    from dbt_trill_shop_spark.operators.relational import order_priority_counts

    plan = _plan(order_priority_counts(spark, sf_dir))
    assert "LeftSemi" in plan  # EXISTS stays a semi join; no distinct inflation
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_idle_rich_customers_anti_join_and_broadcast_stats(spark, sf_dir):
    from dbt_trill_shop_spark.operators.relational import idle_positive_customers

    plan = _plan(idle_positive_customers(spark, sf_dir))
    assert "LeftAnti" in plan  # NOT EXISTS compiled to anti join
    # the 1-row scalar stats and the 25-row nation dim both ride broadcast
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2


def test_hashed_knn_broadcasts_queries_corpus_never_shuffles_text(spark, sf_dir):
    from dbt_trill_shop_spark.ext.textstats import hashed_doc_knn

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(hashed_doc_knn(docs, k=5, num_queries=5, dim=32))
    # inverted-index join: query vectors broadcast; no sort-merge join of the
    # corpus side on dim_idx
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_audio_window_plan_is_narrow(spark, sf_dir):
    from dbt_trill_shop_spark.ext.multimodal import audio_window_plan, docs_as_media

    media = docs_as_media(load_table(spark, sf_dir, "documents"))
    plan = _plan(audio_window_plan(media))
    # metadata-only framing: scan -> project/explode, zero shuffles
    assert "Exchange" not in plan


def test_cdc_chunks_is_shuffle_free(spark, sf_dir):
    """Content-defined chunking is pure array expressions — no Exchange."""
    from dbt_trill_shop_spark.ext.sampling import cdc_chunks

    plan = _plan(cdc_chunks(load_table(spark, sf_dir, "documents")))
    assert "Exchange" not in plan


def test_matryoshka_broadcasts_queries(spark, sf_dir):
    """Both phases keep the corpus un-shuffled: queries broadcast, no
    CartesianProduct (the cross join is a broadcast nested loop)."""
    from dbt_trill_shop_spark.ext.similarity import matryoshka_topk

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(matryoshka_topk(emb, emb.filter(F.col("vec_id") < 5)))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_phash_neardup_joins_on_bands_not_all_pairs(spark, sf_dir):
    """Candidate generation is a banded equi-join: no cartesian/nested-loop
    pair explosion anywhere in the plan."""
    from dbt_trill_shop_spark.ext.multimodal import (
        docs_as_media,
        perceptual_hash_neardup,
    )

    media = docs_as_media(load_table(spark, sf_dir, "documents"))
    plan = _plan(perceptual_hash_neardup(media))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_contam_broadcasts_needles(spark, sf_dir):
    """The needle set broadcasts; the corpus text is probed in place and
    never shuffled before the per-doc aggregate."""
    from dbt_trill_shop_spark.ext.dedup import substring_contamination

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(
        substring_contamination(
            docs.filter(F.col("doc_id") >= 20), docs.filter(F.col("doc_id") < 20)
        )
    )
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_text_index_search_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted BM25 index's postings scan must prune to the query
    terms' bucket directories (PartitionFilters, not a full scan), and the
    result must be bit-identical to the one-plan bm25_search composition."""
    from dbt_trill_shop_spark.ext.text_index import (
        build_text_index,
        search_text_index,
    )
    from dbt_trill_shop_spark.ext.textstats import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25_index")
    build_text_index(docs, path, n_buckets=16)
    rows = docs.filter(F.col("doc_id") < 3).select("doc_id", "text").collect()
    qterms = sorted({(r.doc_id, t) for r in rows for t in r.text.split(" ")[:5]})
    res = search_text_index(spark, path, qterms, k=10)
    plan = _plan(res)
    assert "PartitionFilters" in plan
    pruned = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "term_bucket" in pruned
    got = sorted(map(tuple, (tuple(r) for r in res.collect())))
    want = sorted(
        map(tuple, (tuple(r) for r in bm25_search(docs, 3, 5, 10).collect()))
    )
    assert got == want


def test_bloom_prefilter_broadcasts_filter_words(spark, sf_dir):
    """The Bloom word array must broadcast to the fact side (it IS the
    point of the pre-filter: no fact shuffle before the membership test)."""
    from dbt_trill_shop_spark.operators.analytics import bloom_join_prefilter

    plan = _plan(bloom_join_prefilter(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_bm25_shuffles_never_carry_text(spark, sf_dir):
    """BM25's postings shuffles ship (term, id, counts) — the corpus text
    column must never appear in an exchange."""
    import re

    from dbt_trill_shop_spark.ext.textstats import bm25_search

    plan = _plan(bm25_search(load_table(spark, sf_dir, "documents")))
    for exch in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in exch, exch


def test_retention_cohorts_dedups_before_join(spark, sf_dir):
    """The activity relation must aggregate to (user, week) BEFORE joining
    the cohort map — no join of raw event rows."""
    from dbt_trill_shop_spark.operators.analytics import retention_cohorts

    plan = _plan(retention_cohorts(spark, sf_dir))
    # dedup (HashAggregate over user_id, week) appears below the join:
    # crude but effective — the event-grain columns (event_id, value)
    # never reach any join operator
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    join_section = plan[plan.find("Join"):]
    assert "event_id" not in join_section


def test_association_rules_pairs_from_distinct_baskets(spark, sf_dir):
    """Pair generation must operate on the deduplicated (user, type) basket
    relation — raw event rows (event_id grain) never reach the self-join."""
    from dbt_trill_shop_spark.operators.analytics import association_rules

    plan = _plan(association_rules(spark, sf_dir))
    join_section = plan[plan.find("Join"):]
    assert "event_id" not in join_section


def test_ks_test_no_partitionless_value_window(spark, sf_dir):
    """The KS CDF cumsum is two-phase (VERDICT r3): the only partition-less
    window runs over the tiny per-price-band relation; every window touching
    the per-distinct-value relation must be partitioned by the band key, so
    the corpus-sized sort never funnels through one task."""
    from dbt_trill_shop_spark.operators.analytics import ks_test_priority_prices

    plan = _plan(ks_test_priority_prices(spark, sf_dir))
    # an unpartitioned window over the value column would render as
    # windowspecdefinition(v#... — partitioned ones as (vb#..., v#...
    assert "windowspecdefinition(v#" not in plan
    assert "windowspecdefinition(vb#" in plan  # bounded per-band offsets


def test_theilsen_no_partitionless_slope_window(spark, sf_dir):
    """Theil-Sen's median rank is two-phase (VERDICT r3 #5): no global
    row_number over all O(days²) slopes; the rank window is partitioned by
    the slope bucket and only the boundary bucket is ranked."""
    from dbt_trill_shop_spark.operators.analytics import theilsen_daily_trend

    plan = _plan(theilsen_daily_trend(spark, sf_dir))
    assert "windowspecdefinition(slope#" not in plan
    assert "windowspecdefinition(bk#" in plan  # bounded per-bucket offsets


def test_statistics_wave_single_shuffle_shapes(spark, sf_dir):
    """MW-U's below-cumsum is two-phase (same $10k bands as KS): every
    window over the per-distinct-value relation is partitioned by the
    band key, only the tiny per-band offsets relation sorts globally;
    OLS reduces to one exchange keyed by the group column."""
    from dbt_trill_shop_spark.operators.analytics import (
        mannwhitney_order_values,
        ols_daily_trend,
    )

    mw = _plan(mannwhitney_order_values(spark, sf_dir))
    assert "windowspecdefinition(v#" not in mw
    assert "windowspecdefinition(__tp_bk#" in mw
    ols = _plan(ols_daily_trend(spark, sf_dir))
    # two grouped aggregations (daily, sufficient stats) + final sort only
    assert ols.count("Exchange hashpartitioning") <= 2


def test_abc_analysis_cumsum_is_two_phase(spark, sf_dir):
    """ABC's revenue cumsum runs over the |parts|-scaled rollup, so it is
    two-phase: the per-part window is partitioned by the revenue band and
    the only global sort covers the tiny per-band offsets relation."""
    from dbt_trill_shop_spark.operators.relational import abc_analysis

    plan = _plan(abc_analysis(spark, sf_dir))
    assert "windowspecdefinition(r#" not in plan
    assert "windowspecdefinition(__tp_bk#" in plan


def test_curation_v2_orders_are_two_phase(spark, sf_dir):
    """curation_pipeline_v2's NTILE and final rank ride bucketed two-phase
    windows (the curriculum_order posture): no partition-less window over
    the survivor relation — logit/bucket windows all carry __tp_bk."""
    from dbt_trill_shop_spark.ext.pipeline import curation_pipeline_v2

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(curation_pipeline_v2(docs))
    for line in plan.splitlines():
        if "windowspecdefinition" not in line:
            continue
        # allowed: the fp-dedup window (corpus-keyed by fingerprint), the
        # two-phase per-bucket windows, and the offsets relations
        assert (
            "windowspecdefinition(fp#" in line
            or "windowspecdefinition(__tp_bk#" in line
        ), line.strip()


def test_quality_auc_cumsum_is_two_phase(spark, sf_dir):
    """quality_auc's neg-below cumsum is two-phase (same posture as
    mannwhitney): no partition-less window over the per-distinct-logit
    relation — only __tp_bk-partitioned windows and the offsets pass."""
    from dbt_trill_shop_spark.ext.textstats import quality_auc

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(quality_auc(docs))
    assert "windowspecdefinition(logit_milli#" not in plan
    assert "windowspecdefinition(__tp_bk#" in plan


def test_dedup_exact_never_shuffles_text(spark, sf_dir):
    """dedup_exact groups by md5(text): the canonical-pick shuffle carries
    a 16-byte key, never the document payload."""
    from dbt_trill_shop_spark.ext.dedup import dedup_exact

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(dedup_exact(docs))
    for ex_chunk in plan.split("Exchange hashpartitioning")[1:]:
        assert "text#" not in ex_chunk.split("\n")[0]


def test_binary_hamming_corpus_side_not_shuffled(spark, sf_dir):
    """The code scan joins the broadcast query codes without exchanging the
    corpus side before the join; only (query, candidate) partials shuffle."""
    from dbt_trill_shop_spark.ext.similarity import binary_hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(binary_hamming_topk(emb, num_queries=5, k=3))
    assert "BroadcastHashJoin" in plan
    # no vector column ever reaches an exchange: codes are (id, word, w)
    for ex_chunk in plan.split("Exchange")[1:]:
        assert "embedding" not in ex_chunk.split("\n")[0]


def test_scene_change_single_window_after_narrow_frames(spark, sf_dir):
    """Frame means build in a narrow exploded projection; the differencing
    is exactly one lag window keyed by media id (the O(frames²)
    projection-collapse regression guard)."""
    from dbt_trill_shop_spark.ext.multimodal import docs_as_media, scene_change_plan

    media = docs_as_media(load_table(spark, sf_dir, "documents"))
    plan = _plan(scene_change_plan(media, frame_bytes=32, threshold_milli=4000))
    assert plan.count("Window [") <= 2  # lag window + final sort stage
    # the means expression must not appear duplicated into multiple
    # projections (the collapse bug computed it once per element access)
    assert plan.count("aggregate(sequence(start") <= 1


def test_pagerank_edges_checkpointed_once(spark, sf_dir):
    """Each PageRank iteration must consume the checkpointed edge relation,
    not replay the kNN gemm: the final plan contains no applyInPandas."""
    from dbt_trill_shop_spark.ext.similarity import knn_pagerank

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(knn_pagerank(emb, k=3, n_iters=2))
    assert "FlatMapGroupsInPandas" not in plan  # gemm ran before checkpoint


def test_knn_graph_ann_candidates_skip_gemm(spark, sf_dir):
    """The candidates-backed kNN-graph path must never run the all-pairs
    block gemm: with an IVF candidate relation the whole lineage (edges ->
    pagerank) is JVM-side joins + zip_with folds — no applyInPandas node
    anywhere, including the pre-checkpoint edge plan."""
    from dbt_trill_shop_spark.ext.similarity import (
        ivf_graph_candidates,
        knn_graph_edges,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cands = ivf_graph_candidates(emb, n_cells=8, n_probe=2)
    edges = knn_graph_edges(emb, k=3, candidates=cands)
    plan = _plan(edges)
    assert "FlatMapGroupsInPandas" not in plan  # no gemm tile kernel
    assert "zip_with" in plan or "ZipWith" in plan  # exact verify is JVM-side


def test_record_linkage_scoring_is_parallel(spark, sf_dir):
    """Pair scoring must run on the block-key repartition (explicit count),
    not collapse into the single-task scan stage behind the broadcast."""
    from dbt_trill_shop_spark.operators.relational import record_linkage

    plan = _plan(record_linkage(spark, sf_dir))
    assert "hashpartitioning(c_nationkey" in plan


def test_bootstrap_md5_load_is_parallel(spark, sf_dir):
    """The 8-digests-per-row bootstrap projection must sit above an explicit
    repartition of the narrow (key, cents) relation."""
    from dbt_trill_shop_spark.operators.analytics import bootstrap_mean_ci

    plan = _plan(bootstrap_mean_ci(spark, sf_dir, n_replicas=32))
    assert "hashpartitioning(o_orderkey" in plan


@pytest.mark.parametrize(
    "pipeline",
    ["simhash_neardup_verified", "neardup_minhash_native", "neardup_minhash_checked"],
)
def test_simhash_verified_scores_pairs_not_common_shingles(spark, sf_dir, pipeline):
    """Every banded near-dup pipeline's verify stage must score candidate
    pairs via set intersection (broadcast per-doc shingle sets), never
    re-generate pair rows through a common-shingle join (template
    collisions make that quadratic-ish), and the O(|set|) intersect must
    sit behind the integer size-ratio prefilter (J <= min/max bounds the
    reachable Jaccard — cheap to check first)."""
    from dbt_trill_shop_spark.ext import dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(getattr(dedup, pipeline)(docs))
    assert "array_intersect" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # both set bindings broadcast
    i_least = plan.find("least")
    i_inter = plan.find("array_intersect")
    assert 0 <= i_least  # the ratio prefilter survives optimization


def test_simhash_checked_verifies_before_pair_distinct(spark, sf_dir):
    """The Hamming verify (XOR+bit_count over broadcast fingerprints) must
    run BEFORE the pair dedup, so the distinct exchange only carries true
    near-dups, not every multi-band collision."""
    from dbt_trill_shop_spark.ext.dedup import simhash_checked

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(simhash_checked(docs))
    i_verify = plan.find("bit_count")
    i_distinct = plan.find("HashAggregate")
    assert i_verify != -1 and i_distinct != -1
    # executed plans print top-down: the pair-distinct aggregate must appear
    # ABOVE (before in the string) the bit_count verify it consumes
    assert i_distinct < i_verify


def test_pca_scatter_is_gemm_not_self_join(spark, sf_dir):
    """The scatter matrix must come from hash-grouped X.T@X Arrow partials
    (one slim exchange of the centered long form), never an id-keyed
    self-join that materializes |corpus|*dims^2 rows."""
    from dbt_trill_shop_spark.ext.similarity import _scatter_gemm

    emb = load_table(spark, sf_dir, "embeddings")
    # the centered long form (id, dim, c) the scatter consumes
    cent = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("x") * 1000, 0).cast("bigint").alias("c"),
    )
    # (pca_top_component collects the scatter driver-side, so it never
    # appears in the returned relation's plan — guard _scatter_gemm itself)
    plan = _plan(_scatter_gemm(cent, "vec_id"))
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # exactly the two aggregation exchanges (group hash + (i,j) sum) — the
    # self-join shape needed a third corpus-sized one
    assert plan.count("Exchange") <= 2


def test_two_phase_rewrites_no_partitionless_corpus_windows(spark, sf_dir):
    """VERDICT r4 #2: the 8 remaining single-task global windows (training
    order, curriculum, NTILE family, gini/lorenz cumsums) are two-phase —
    every per-row window is partitioned by the __tp_bk bucket key, and the
    only unpartitioned windows run over the tiny per-bucket offsets
    relation (windowspecdefinition(__tp_bk#...))."""
    from dbt_trill_shop_spark.ext.sampling import curriculum_order, training_order
    from dbt_trill_shop_spark.ext.textstats import length_quality_bias, ppl_buckets
    from dbt_trill_shop_spark.harness import QUERIES

    docs = load_table(spark, sf_dir, "documents")
    plans = {
        "training_order": _plan(training_order(docs, "doc_id")),
        "curriculum_order": _plan(curriculum_order(docs)),
        "ppl_buckets": _plan(ppl_buckets(docs)),
        "length_bias": _plan(length_quality_bias(docs)),
        "rfm": _plan(QUERIES["q_rfm_segments"].fn(spark, sf_dir)),
        "gini": _plan(QUERIES["q_gini"].fn(spark, sf_dir)),
        "lorenz": _plan(QUERIES["q_lorenz_curve"].fn(spark, sf_dir)),
    }
    # lorenz's final cumsum runs over the per-DECILE rollup (<= 10 rows) —
    # bounded by construction, not a corpus-scaled window
    allowed_tiny = {"lorenz": "windowspecdefinition(decile#"}
    for name, plan in plans.items():
        ok = ("windowspecdefinition(__tp_bk#", allowed_tiny.get(name, "\x00"))
        for line in plan.splitlines():
            if "windowspecdefinition" not in line:
                continue
            assert any(p in line for p in ok), (name, line.strip())


def test_filtered_topk_windows_are_limit_bounded(spark, sf_dir):
    """The blessed `rank <= literal` family: Spark pushes the filter as a
    distributed top-k (TakeOrderedAndProject BELOW the rank window), so the
    partition-less window sees only k rows, never the corpus relation.
    Guards the limit staying upstream if any of these queries is
    refactored — losing the pushdown silently reintroduces the single-task
    corpus funnel."""
    from dbt_trill_shop_spark.harness import QUERIES

    for name in (
        "x_stopword_discovery",
        "x_weighted_sample",
        "x_zipf_slope",
        "x_pmi_collocations",
    ):
        plan = _plan(QUERIES[name].fn(spark, sf_dir))
        i_window = plan.find("Window [")
        i_take = plan.find("TakeOrderedAndProject(limit=")
        assert i_window != -1 and i_take != -1, name
        # top-down print: the window consumes the limited relation below it
        assert i_window < i_take, name


def test_vocab_coverage_window_is_limit_bounded(spark, sf_dir):
    """x_vocab_coverage's rank window is fed by TakeOrderedAndProject
    (explicit .limit before the window), so the single-partition window
    sees max(vocab_sizes) rows — never the full type relation.  Guards the
    limit staying UPSTREAM of the window if the query is refactored."""
    from dbt_trill_shop_spark.ext.textstats import vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(vocab_coverage(docs))
    i_window = plan.find("Window [")
    i_take = plan.find("TakeOrderedAndProject(limit=32")
    assert i_window != -1 and i_take != -1
    # top-down print: the window consumes the limited relation below it
    assert i_window < i_take


def test_source_divergence_no_dense_grid(spark, sf_dir):
    """VERDICT r4 #4: KL-vs-corpus uses the closed-form unseen-term mass —
    only SEEN (src, term) pairs join (inner, term-keyed); no
    |sources| x |vocab| cross-join grid and no left-outer densification."""
    from dbt_trill_shop_spark.ext.textstats import source_divergence

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(source_divergence(docs))
    assert "LeftOuter" not in plan
    # the only nested-loop (cross) joins attach the two scalar rollups
    # (tot, sl); a grid would add a third with a non-scalar build side
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert plan.count("HashAggregate(keys=[], ") >= 2
