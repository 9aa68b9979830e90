"""Scale-posture regression tests: every headline operator's physical
plan must keep the properties its docstring claims (broadcasts stay
broadcasts, no cartesian products sneak in, filters keep reaching the
scan, aggregation stays map-side partial). Audits read AQE's *final*
plan, so they run at sf0.01 — at sf0.001 several dimension filters
produce empty relations and AQE legitimately collapses the whole plan
to a LocalTableScan, which would make the assertions vacuous.
"""

from __future__ import annotations

import pytest

from nimble_spark.plans.audit import assert_posture, audit
from tests.conftest import SF_MED


def _q(name):
    from nimble_spark.registry import QUERIES, _load_all

    _load_all()
    return QUERIES[name].fn


def test_q1_single_shuffle_partial_agg(spark):
    a = assert_posture(
        _q("q1_pricing_summary")(spark, SF_MED),
        max_shuffles=1,
        require_partial_agg=True,
        require_pushed_filters=True,
    )
    assert a.n_codegen_spans >= 1


def test_q5_all_dims_broadcast(spark):
    # customer/supplier/nation/region all broadcast; only the
    # lineitem-orders join may shuffle.
    assert_posture(
        _q("q5_local_supplier")(spark, SF_MED),
        max_shuffles=1,
        min_broadcast_joins=4,
        require_partial_agg=True,
    )


@pytest.mark.parametrize(
    "name,max_shuffles,min_bcast",
    [
        ("q2_min_cost_supplier", 3, 4),
        ("q7_volume_shipping", 1, 4),
        ("q8_market_share", 1, 5),
        ("q9_product_profit", 1, 3),
        ("q10_returned_items", 1, 2),
        ("q11_important_parts", 3, 1),
        ("q12_late_shipments", 1, 1),
        ("q13_customer_distribution", 2, 1),
        ("q15_top_supplier", 3, 2),
        ("q16_supplier_part_counts", 2, 1),
        ("q17_small_quantity_revenue", 2, 2),
        ("q19_discounted_revenue", 1, 1),
        ("q20_promo_suppliers", 2, 3),
        ("q22_dormant_customers", 2, 2),
    ],
)
def test_tpch_rest_posture(spark, name, max_shuffles, min_bcast):
    assert_posture(
        _q(name)(spark, SF_MED),
        max_shuffles=max_shuffles,
        min_broadcast_joins=min_bcast,
        require_partial_agg=True,
        require_pushed_filters=True,
    )


def test_q21_no_nested_loop(spark):
    # the EXISTS/NOT-EXISTS pair must stay equi-joins on orderkey with
    # residual supplier-inequality — never a nested-loop product.
    a = assert_posture(
        _q("q21_waiting_suppliers")(spark, SF_MED),
        max_shuffles=1,
        require_partial_agg=True,
    )
    assert a.n_bnl_joins == 0, a.plan


def test_dedup_exact_stays_jvm_side(spark):
    assert_posture(
        _q("q_dedup_exact")(spark, SF_MED),
        max_shuffles=1,
        require_partial_agg=True,
        forbid_python_eval=True,
    )


def test_cosine_topk_broadcast_nested_loop_by_design(spark):
    # brute-force top-k: the query set is broadcast and candidates
    # stream partition-local — a broadcast nested-loop, NOT a shuffled
    # cartesian. One shuffle total (the per-query top-k window).
    a = assert_posture(
        _q("q_cosine_topk")(spark, SF_MED),
        max_shuffles=1,
        forbid_python_eval=True,
    )
    assert a.n_bnl_joins >= 1 or a.n_broadcast_joins >= 1, a.plan
    assert a.n_cartesian == 0


def test_audit_counts_python_eval(spark):
    a = audit(_q("q_pandas_udf_normalize")(spark, SF_MED))
    assert a.n_python_evals >= 1  # it IS a pandas-UDF query — detector works


def test_partition_pruned_scan_has_partition_filters(spark):
    from nimble_spark.plans.audit import plan_string

    df = _q("q_partition_pruned_scan")(spark, SF_MED)
    p = plan_string(df)
    assert "PartitionFilters: [" in p and "event_type" in p.split("PartitionFilters:")[1][:200], p


def test_corpus_pipeline_posture(spark):
    # five stages, no document payload through a shuffle, no Python
    a = assert_posture(
        _q("q_corpus_pipeline")(spark, SF_MED),
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0


def test_simhash_near_pairs_banded_posture(spark):
    # banded Hamming LSH: bucket-equi join (no cartesian), signature
    # vote sums partial-aggregated map-side, everything JVM-side
    a = assert_posture(
        _q("q_simhash_near_pairs")(spark, SF_MED),
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0 and a.n_bnl_joins == 0, a.plan
    assert a.n_shuffled_hash_joins + a.n_sort_merge_joins >= 1


def test_embedding_neardup_lsh_posture(spark):
    # band join carries only ids; no cartesian/BNL anywhere — the
    # candidate join and both verify joins are all equi-joins
    a = assert_posture(
        _q("q_embedding_neardup_lsh")(spark, SF_MED),
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0 and a.n_bnl_joins == 0, a.plan


def test_row_range_scan_no_shuffle(spark):
    # seek is pruning + a per-file row filter: zero shuffles
    assert_posture(
        _q("q_row_range_scan")(spark, SF_MED),
        max_shuffles=0,
        forbid_python_eval=True,
    )


def test_decontaminate_broadcasts_benchmark(spark):
    # the benchmark n-gram set must broadcast — the corpus side stays
    # a single scan + one doc_id shuffle regardless of corpus size
    a = assert_posture(
        _q("q_decontaminate")(spark, SF_MED),
        min_broadcast_joins=1,
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0, a.plan


def test_paragraph_dedup_digest_shuffles_only(spark):
    # shuffles carry md5 digests, never paragraph text; the global
    # paragraph count and the per-doc rollup are both partial-agg'd
    assert_posture(
        _q("q_paragraph_dedup")(spark, SF_MED),
        max_shuffles=4,
        require_partial_agg=True,
        forbid_python_eval=True,
    )


def test_pii_scrub_is_scan_local(spark):
    # pure per-row regexp expressions: zero shuffles
    assert_posture(
        _q("q_pii_scrub")(spark, SF_MED),
        max_shuffles=0,
        forbid_python_eval=True,
    )


def test_repetition_ratio_single_rollup(spark):
    # explode → (doc,gram) partial count → per-doc rollup: ≤2 shuffles
    assert_posture(
        _q("q_repetition_ratio")(spark, SF_MED),
        max_shuffles=2,
        require_partial_agg=True,
        forbid_python_eval=True,
    )


def test_semantic_dedup_cell_local_pairs(spark):
    # within-cell pair join on label (equi, no cartesian), max-sim
    # regroup partial-agg'd; embeddings never cross cells
    a = assert_posture(
        _q("q_semantic_dedup")(spark, SF_MED),
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0 and a.n_bnl_joins == 0, a.plan


def test_token_budget_sample_one_source_shuffle(spark):
    # budget window + totals + rollup all ride one source partitioning
    assert_posture(
        _q("q_token_budget_sample")(spark, SF_MED),
        max_shuffles=2,
        forbid_python_eval=True,
    )


def test_sequence_pack_shard_local(spark):
    # packing window is shard-local; one shard shuffle + the rollup
    assert_posture(
        _q("q_sequence_pack")(spark, SF_MED),
        max_shuffles=2,
        require_partial_agg=True,
        forbid_python_eval=True,
    )


def test_shuffle_shards_shard_local(spark):
    # row_number per shard + rollup on the same key: ≤2 shuffles
    assert_posture(
        _q("q_shuffle_shards")(spark, SF_MED),
        max_shuffles=2,
        require_partial_agg=True,
        forbid_python_eval=True,
    )


def test_nested_struct_pruning(spark):
    """Selecting one struct leaf must prune the scan's ReadSchema to
    that leaf (nestedSchemaPruning) — partial reads of nested data
    never deserialize the whole struct."""
    import os

    from pyspark.sql import functions as F

    from nimble_spark.plans.audit import plan_string
    from nimble_spark.sources.cache import cached_path
    from nimble_spark.sources.table import read_table

    # the cache entry is built by q_nested_struct_roundtrip; build it
    # here if absent so the test stands alone
    from nimble_spark.registry import QUERIES, _load_all

    _load_all()
    QUERIES["q_nested_struct_roundtrip"].fn(spark, SF_MED)
    path = cached_path(SF_MED, "orders__nested_struct", ["orders"])
    assert os.path.isdir(path)

    leaf_only = read_table(spark, path).select(F.col("info.price"))
    plan = plan_string(leaf_only)
    assert "ReadSchema" in plan
    # pruned: price survives, the sibling leaves do not reach the scan
    rs = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "price" in rs
    assert "status" not in rs and "when" not in rs, rs


@pytest.mark.parametrize(
    "name,max_shuffles,partial_agg",
    [
        # map-only passes: the split/chunk/try surfaces must never shuffle
        ("q_train_split", 0, False),
        ("q_doc_chunking", 0, False),
        ("q_try_arith", 0, False),
        ("q_incremental_read", 0, False),
        # single hash-agg with map-side combine
        ("q_bpe_merge_pairs", 1, True),
        ("q_stats_moments", 1, True),
        ("q_bool_bitwise_agg", 1, True),
        # cascade: one shuffle per tier, no Expand from distinct aggs
        ("q_rollup_cascade", 3, True),
    ],
)
def test_round4_additions_posture(spark, name, max_shuffles, partial_agg):
    assert_posture(
        _q(name)(spark, SF_MED),
        max_shuffles=max_shuffles,
        require_partial_agg=partial_agg,
        forbid_python_eval=True,
    )


def test_ann_recall_eval_broadcasts_topk_sides(spark):
    # both top-k result sets are |Q|·k rows — the eval join must
    # broadcast, never shuffle, the comparison
    # 2 window shuffles per top-k side; exchange reuse can merge them
    # (observed 2 warm / 4 cold), so bound at the cold case
    a = assert_posture(
        _q("q_ann_recall_eval")(spark, SF_MED),
        max_shuffles=4,
        forbid_python_eval=True,
    )
    assert a.n_broadcast_joins >= 1, a.plan
    assert a.n_cartesian == 0


def test_embedding_covariance_numpy_partials(spark):
    # the covariance kernel IS a (vectorized, Arrow-batched) Python
    # stage by design; exactly one kernel evaluation. The partial-row
    # shuffle is one exchange; a SECOND exchange appears only when the
    # scan is narrower than defaultParallelism (the r12 scale-adaptive
    # spread — a small corpus arrives as one file/partition and would
    # otherwise run the kernel on one core; at scale the scan is
    # already wide and the spread is a no-op).
    a = assert_posture(
        _q("q_embedding_covariance")(spark, SF_MED),
        max_shuffles=2,
    )
    assert a.n_python_evals == 1, a.plan
    assert a.n_cartesian == 0 and a.n_bnl_joins == 0, a.plan


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("q_update_where", 1),
        ("q_partition_overwrite", 1),
        ("q_type_widening", 1),
        ("q_materialized_rollup", 1),
    ],
)
def test_mutation_and_rollup_posture(spark, name, max_shuffles):
    assert_posture(
        _q(name)(spark, SF_MED),
        max_shuffles=max_shuffles,
        require_partial_agg=True,
        forbid_python_eval=True,
    )


def test_skew_salted_join_stays_shuffle_hash(spark):
    # the whole point: the salted join must stay a shuffled hash join
    # (the demoed regime is dim-too-big-to-broadcast), fact spread
    # over (key, salt)
    a = assert_posture(
        _q("q_skew_salted_join")(spark, SF_MED),
        max_shuffles=4,
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_shuffled_hash_joins + a.n_sort_merge_joins >= 1, a.plan
    assert a.n_broadcast_joins == 0, a.plan


@pytest.mark.parametrize(
    "name",
    ["q_image_ahash", "q_video_motion", "q_audio_loudness"],
)
def test_media_kernels_scan_local(spark, name):
    # decode kernels: one Arrow-batched Python stage riding the scan,
    # zero shuffles — payloads never leave their partition
    a = assert_posture(_q(name)(spark, SF_MED), max_shuffles=0)
    assert a.n_python_evals == 1, a.plan


def test_pagerank_rounds_stay_bounded(spark):
    # 3 unrolled rounds: AQE broadcasts the (small) rank table into
    # the edge joins; shuffles are the per-round contribution aggs
    a = assert_posture(
        _q("q_pagerank")(spark, SF_MED),
        max_shuffles=6,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0, a.plan


def test_tpch_refresh_posture(spark):
    assert_posture(
        _q("q_tpch_refresh")(spark, SF_MED),
        max_shuffles=2,
        require_partial_agg=True,
        forbid_python_eval=True,
    )


def test_token_search_index_only(spark):
    # full-text lookup: zero shuffles — posting probe (pruned scan) +
    # broadcast semi-join into the doc scan
    a = assert_posture(
        _q("q_token_search")(spark, SF_MED),
        max_shuffles=0,
        forbid_python_eval=True,
    )
    assert a.n_broadcast_joins >= 1, a.plan


def test_kmeans_broadcasts_centroids(spark):
    # iterative rounds shuffle by design (one agg per assign/update);
    # centroids must broadcast into every assignment join, and nothing
    # may degenerate to a cartesian
    a = assert_posture(_q("q_kmeans_iter")(spark, SF_MED), forbid_python_eval=True)
    assert a.n_broadcast_joins >= 3, a.plan
    assert a.n_cartesian == 0, a.plan


def test_rag_pipeline_digest_shuffles(spark):
    # chunk expansion is scan-local; shuffles carry digests + rollups
    assert_posture(
        _q("q_rag_pipeline")(spark, SF_MED),
        max_shuffles=3,
        require_partial_agg=True,
        forbid_python_eval=True,
    )


def test_incremental_dedup_no_cartesian(spark):
    # digest probe + asymmetric banded join: everything key-equi,
    # batch-side aggregates broadcast, no products
    a = assert_posture(
        _q("q_incremental_dedup")(spark, SF_MED),
        max_shuffles=8,
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0, a.plan
    assert a.n_broadcast_joins >= 2, a.plan


def test_signature_index_probe_broadcast_probe(spark):
    # stored-index probe: the (small) batch side broadcasts into the
    # band join and the verify joins — one shuffle total
    a = assert_posture(
        _q("q_signature_index_probe")(spark, SF_MED),
        max_shuffles=2,
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_broadcast_joins >= 2, a.plan


def test_kmv_sketch_partial_agg(spark):
    # three computations in one query (global sketch, sharded+merged
    # sketch, exact NDV) — all hash aggs stay map-side partial and
    # nothing degenerates to a product
    a = assert_posture(
        _q("q_kmv_ndv_sketch")(spark, SF_MED),
        max_shuffles=9,
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0, a.plan


def test_image_neardup_single_kernel(spark):
    # the aHash decode kernel must run ONCE (ReusedExchange feeds both
    # self-join sides); band join is key-equi
    a = assert_posture(_q("q_image_neardup")(spark, SF_MED), max_shuffles=3)
    assert a.n_python_evals == 1, a.plan
    assert a.n_cartesian == 0, a.plan


def test_ohlc_single_exchange(spark):
    # both row_number windows and the final aggregation share one
    # Exchange(day) — the whole query is a single shuffle
    assert_posture(
        _q("q_ohlc_bars")(spark, SF_MED),
        max_shuffles=1,
        require_partial_agg=True,
    )


def test_funnel_reuses_user_partitioning(spark):
    # per-stage aggs + left joins all key on user_id; small stage
    # outputs broadcast; no products
    a = assert_posture(
        _q("q_funnel_steps")(spark, SF_MED),
        max_shuffles=6,
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0, a.plan


def test_retention_cohorts_posture(spark):
    assert_posture(
        _q("q_retention_cohorts")(spark, SF_MED),
        max_shuffles=4,
        require_partial_agg=True,
        require_pushed_filters=True,
        forbid_python_eval=True,
    )


def test_value_outliers_single_shuffle(spark):
    # moments agg + broadcast-join-back: one shuffle, no window/sort
    a = assert_posture(
        _q("q_value_outliers")(spark, SF_MED),
        max_shuffles=1,
        require_partial_agg=True,
        require_pushed_filters=True,
        forbid_python_eval=True,
    )
    assert a.n_broadcast_joins >= 1, a.plan


def test_hard_negatives_broadcast_queries(spark):
    # broadcast query set × partition-local candidates — the designed
    # BNL, never a shuffled cartesian; one shuffle (the rank window)
    a = assert_posture(_q("q_hard_negative_mining")(spark, SF_MED), max_shuffles=1)
    assert a.n_cartesian == 0, a.plan


def test_interval_overlap_no_cartesian(spark):
    # the whole point: interval×interval overlap WITHOUT a cartesian —
    # bin-equi join (broadcast at this scale) + one agg shuffle
    a = assert_posture(
        _q("q_interval_overlap_join")(spark, SF_MED),
        max_shuffles=2,
        require_partial_agg=True,
        require_pushed_filters=True,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0, a.plan


def test_keyword_extract_posture(spark):
    assert_posture(
        _q("q_keyword_extract")(spark, SF_MED),
        max_shuffles=7,
        require_partial_agg=True,
        forbid_python_eval=True,
    )


def test_grouped_sample_single_shuffle(spark):
    # WindowGroupLimit pre-prunes per-partition top-k before the one
    # per-group shuffle
    assert_posture(_q("q_grouped_sample")(spark, SF_MED), max_shuffles=1)


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("q_mode_stats", 2),
        ("q_winsorized_stats", 2),
        ("q_anomaly_windows", 3),
        ("q_class_scatter", 2),
        ("q_quality_profile", 2),
        ("q_collocations", 5),
        ("q_sequence_ngrams", 4),
    ],
)
def test_round4_statistics_postures(spark, name, max_shuffles):
    # all partial-agged, none degenerate to a cartesian product
    a = assert_posture(
        _q(name)(spark, SF_MED),
        max_shuffles=max_shuffles,
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0, a.plan


def test_serve_lookups_posture(spark):
    """Serving: a below-cap batch is read and encoded on the driver, so
    the served frame is a local relation — no shuffle, no join, no
    cartesian; the only Python stage is the query's mapInPandas decode.
    Building the served frame runs at most 1 Spark job: the request
    read. The hit files are read on the driver without one."""
    import uuid

    _q("q_serve_lookups")(spark, SF_MED)  # builds the cached table outside the count
    sc = spark.sparkContext
    group = f"serve-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "serve_lookups")
    try:
        df = _q("q_serve_lookups")(spark, SF_MED)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
    a = assert_posture(df, max_shuffles=0)
    assert a.n_cartesian == 0 and a.n_bnl_joins == 0
    assert a.n_broadcast_joins == a.n_sort_merge_joins == a.n_shuffled_hash_joins == 0
    assert a.n_python_evals == 1  # mapInPandas decode


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("q_cdc_commit_provenance", 1),
        ("q_dedup_columns_roundtrip", 1),
        ("q_snapshot_tag_read", 2),
        ("q_rollback_restore", 2),
        ("q_clone_table", 2),
        ("q_clone_deepen", 1),
        ("q_auto_maintenance", 1),
        ("q_alter_schema", 1),
    ],
)
def test_lifecycle_postures(spark, name, max_shuffles):
    # single-aggregation shapes; the 1-row-x-1-row totals crossJoin on
    # tag/rollback is the designed BNL, never a shuffled cartesian
    a = assert_posture(
        _q(name)(spark, SF_MED),
        max_shuffles=max_shuffles,
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0, a.plan


def test_substring_dedup_posture(spark):
    # anchors shuffle as (doc_id, pos, 60-bit hash) tuples — never
    # text; cross-doc anchor detection and run merging are equi-joins
    # and partition-local windows, no cartesian anywhere
    a = assert_posture(
        _q("q_substring_dedup")(spark, SF_MED),
        max_shuffles=6,
        require_partial_agg=True,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0 and a.n_bnl_joins == 0, a.plan


def test_ann_adc_topk_posture(spark):
    # quantized first pass: broadcast query set against a
    # partition-local candidate scan (BNL by design, like
    # q_cosine_topk); refine joins only |Q|*shortlist rows back
    a = assert_posture(
        _q("q_ann_adc_topk")(spark, SF_MED),
        forbid_python_eval=True,
    )
    assert a.n_bnl_joins >= 1 or a.n_broadcast_joins >= 1, a.plan
    assert a.n_cartesian == 0, a.plan


def test_wide_feature_projection_reads_only_projected_columns(spark):
    # the whole point of the columnar layout at 10k-column width:
    # ReadSchema carries the 4 projected fields, none of the other 62
    from nimble_spark.plans.audit import plan_string

    df = _q("q_wide_feature_projection")(spark, SF_MED)
    p = plan_string(df)
    read_schemas = [seg[:400] for seg in p.split("ReadSchema: ")[1:]]
    assert read_schemas, p
    wide_scan = [s for s in read_schemas if "f07" in s]
    assert wide_scan, p
    for s in wide_scan:
        assert "f31" in s and "f55" in s
        for other in ("f00", "f01", "f42", "f63", "vec_id"):
            assert other not in s, s


def test_ann_pq_topk_posture(spark):
    """r9 PQ: codebooks (M*K rows) and queries are BROADCAST — the
    only wide exchange is the train/encode argmin's window shuffle on
    (vec_id, s); no cartesian, no Python eval anywhere."""
    a = assert_posture(
        _q("q_ann_pq_topk")(spark, SF_MED),
        forbid_python_eval=True,
    )
    assert a.n_broadcast_joins >= 2, a.plan  # seeds/cent + qsub sides
    assert a.n_cartesian == 0, a.plan


def test_trigram_like_search_posture(spark):
    """r9: the LIKE index path is pure JVM — posting point scans, one
    AND-semijoin on doc_id, residual LIKE; no cartesian, no Python."""
    a = assert_posture(
        _q("q_trigram_like_search")(spark, SF_MED),
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0, a.plan


def test_trigram_like_escape_posture(spark):
    """r10: the escaped-pattern variant keeps the index posture —
    escape handling changed the FRAGMENTER, not the plan shape (point
    scans + semijoin + residual; no cartesian, no Python)."""
    a = assert_posture(
        _q("q_trigram_like_escape")(spark, SF_MED),
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0, a.plan


def test_ann_ivf_pq_topk_posture(spark):
    """r9 IVF+PQ: codebooks/centroids/queries broadcast; the cell
    probe's crossJoin is bounded by the centroid count; 0 cartesians
    beyond it (the audit counts broadcast-NL separately)."""
    a = assert_posture(
        _q("q_ann_ivf_pq_topk")(spark, SF_MED),
        forbid_python_eval=True,
    )
    assert a.n_broadcast_joins >= 2, a.plan
    assert a.n_cartesian == 0, a.plan


def test_ann_ivf_adc_topk_cell_prune_precedes_quantized_scan(spark):
    """The composed IVF+ADC serving pattern (r7): every query-side
    join broadcasts, no cartesian, and — the structural claim — the
    int8 code fold sits ABOVE the probed-cell join in the final plan
    (root-first text: the codes Project prints before the label
    BroadcastHashJoin), so only probed cells ever pay quantization."""
    from nimble_spark.plans.audit import plan_string

    df = _q("q_ann_ivf_adc_topk")(spark, SF_MED)
    a = assert_posture(df, min_broadcast_joins=3, execute=False)
    assert a.n_cartesian == 0, a.plan
    final = a.plan.split("== Initial Plan ==")[0]
    codes_at = final.find("greatest(-127.0")
    # r11: two label joins bracket the code fold — the per-query
    # FANOUT join above it (first in root-first text) and the
    # distinct-label PRUNE join below it (last). Codes between the two
    # proves both structural claims: only probed cells pay
    # quantization (prune first), and each candidate is encoded ONCE,
    # not once per probing query (fanout attaches to encoded rows).
    prune_join_at = final.rfind("BroadcastHashJoin [label")
    fanout_join_at = final.find("BroadcastHashJoin [label")
    assert codes_at != -1 and prune_join_at != -1, final
    assert fanout_join_at < codes_at < prune_join_at, (
        "codes fold must sit between the fanout join (parent) and the "
        "cell-prune join (child):\n" + final
    )


def test_ann_filtered_topk_prefilters_before_probe(spark):
    """Filtered ANN (r8): the cell-key predicate prunes the CENTROID
    set before the probe (pre-filtering, not post-filter-the-
    shortlist), the residual predicate pushes into the candidate
    scan, every query-side join broadcasts, and no cartesian. The
    structural claim: both filters appear below the top-k window in
    the final plan — filtering happens before ranking, so a selective
    predicate can never starve the shortlist."""
    df = _q("q_ann_filtered_topk")(spark, SF_MED)
    a = assert_posture(df, min_broadcast_joins=2, execute=False)
    assert a.n_cartesian == 0, a.plan
    final = a.plan.split("== Initial Plan ==")[0]
    # residual predicate reaches a Filter (pushed toward the scan)
    assert "% 7" in final, final
    # cell-key predicate applied to the centroid build side
    assert "% 2" in final, final


def test_stratified_split_posture(spark):
    """One window over the stratum key: at most the rank/count
    exchange pair, no join, no cartesian, nothing Python-side."""
    a = assert_posture(
        _q("q_stratified_split")(spark, SF_MED),
        max_shuffles=2,
        forbid_python_eval=True,
    )
    assert a.n_cartesian == 0 and a.n_bnl_joins == 0, a.plan


def test_ann_pq_index_probe_serving_plan_has_no_training(spark):
    """r11 (VERDICT r10 #2/#3): the persisted-PQ serving plan must
    consult the sidecar index, not rebuild it — the raw embeddings
    source appears exactly twice (the query set and the exact-refine
    tail), codes come from the stored index tables, codebook and
    query subvectors broadcast, no cartesian. The retired inline
    q_ann_pq_topk plan scanned embeddings 4+ times (seed pass, Lloyd
    pass, encode pass, refine) — that shape failing this gate is the
    point."""
    df = _q("q_ann_pq_index_probe")(spark, SF_MED)
    a = assert_posture(df, forbid_python_eval=True)
    assert a.n_broadcast_joins >= 2, a.plan
    assert a.n_cartesian == 0, a.plan
    final = a.plan.split("== Initial Plan ==")[0]
    # 3 raw-embedding scans, every one query- or shortlist-side: the
    # query set's subvector explode, the refine's query rejoin, and the
    # refine's candidate fetch (shortlist-pruned). Training/encoding
    # would add corpus-wide scans on top.
    n_raw = final.count("embeddings.parquet")
    assert n_raw <= 3, f"raw-embedding scans in serving plan: {n_raw}\n{final}"
    # the sidecar scans (codes + codebook) — plan Location strings
    # truncate long paths, so match on the cache-dir variant prefix
    n_idx = final.count("embeddings__pq_in")
    assert n_idx >= 2, f"index sidecar scans: {n_idx}\n{final}"
    # the inline variant (kept as the trainable spelling) really does
    # pay training scans per execution — the index is the fix
    b = assert_posture(
        _q("q_ann_pq_topk")(spark, SF_MED), forbid_python_eval=True,
        execute=False,
    )
    inline = b.plan.split("== Initial Plan ==")[0]
    assert inline.count("embeddings.parquet") > 2, inline


def test_ann_ivf_pq_index_probe_posture(spark):
    """r11 composed persisted index: the probe consults sidecars only
    (centroids + codebook + cell-partitioned codes — ≥3 sidecar
    scans), raw embeddings appear only query/shortlist-side (≤3
    scans), everything query-side broadcasts, no cartesian beyond the
    bounded centroid crossJoin, zero training stages."""
    df = _q("q_ann_ivf_pq_index_probe")(spark, SF_MED)
    a = assert_posture(df, forbid_python_eval=True)
    assert a.n_broadcast_joins >= 3, a.plan
    assert a.n_cartesian == 0, a.plan
    final = a.plan.split("== Initial Plan ==")[0]
    # 4 raw-embedding scans, each query-set (pushed vec_id<10) or
    # shortlist-side: the cell-probe query scan, the query subvector
    # explode, the refine's query rejoin, the refine's candidate
    # fetch. Training/encoding would add corpus-wide scans on top.
    n_raw = final.count("embeddings.parquet")
    assert n_raw <= 4, f"raw-embedding scans in serving plan: {n_raw}\n{final}"
    # Location strings truncate long paths at varying offsets — match
    # on the shortest stable prefix of the cache-dir variant
    n_idx = final.count("embeddings__ivf_")
    assert n_idx >= 3, f"index sidecar scans: {n_idx}\n{final}"
    # the cell-partitioned codes scan carries the DPP hook (at bench
    # scale the tiny index collapses it to true; at cluster scale it
    # skips unprobed cell directories) and a partition-column filter
    assert "dynamicpruningexpression" in final, final
