"""Physical-plan regression tests: the perf properties PERF.md documents,
asserted on explain() output so a refactor can't silently lose them."""

from __future__ import annotations

from hdfs_mr_spark.plans.audit import formatted_plan, plan_nodes
from hdfs_mr_spark.registry import all_specs
from tests.conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    return formatted_plan(all_specs()[name].fn(spark, SF_SMOKE))


def _nodes(plan: str) -> list[str]:
    return plan_nodes(plan)


def test_agg_groupby_pushdown(spark):
    plan = _plan(spark, "agg_groupby")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan
    # partial/final aggregate pair = the automatic combiner
    assert sum("HashAggregate" in n for n in _nodes(plan)) >= 2


def test_star_join_broadcasts_dims(spark):
    nodes = _nodes(_plan(spark, "join_multiway_star"))
    assert sum("BroadcastHashJoin" in n for n in nodes) >= 3
    assert not any("SortMergeJoin" in n for n in nodes)


def test_shuffle_join_is_sort_merge(spark):
    nodes = _nodes(_plan(spark, "join_shuffle_inner"))
    assert any("SortMergeJoin" in n for n in nodes)


def test_bucketed_join_has_single_exchange(spark):
    nodes = _nodes(_plan(spark, "join_bucketed_colocated"))
    # only the final presentation orderBy may exchange; the join itself
    # reads bucket-to-bucket
    assert sum("Exchange" in n for n in nodes) <= 1
    assert any("SortMergeJoin" in n for n in nodes)


def test_topk_single_window_exchange(spark):
    nodes = _nodes(_plan(spark, "win_topk_per_group"))
    assert sum("Exchange" in n for n in nodes) <= 1


def test_global_topk_uses_take_ordered(spark):
    plan = _plan(spark, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_products_anywhere(spark):
    """Cross products only where declared (join_cross; tiny broadcast
    nested loops for non-equi joins are fine — Cartesian is not)."""
    specs = all_specs()
    skip_families = ("2.10",)  # streaming fns execute on build
    skip = {
        "join_cross",  # the declared Cartesian
        "scan_stream", "sink_parquet", "scan_binaryfile",  # side effects
        "join_bucketed_colocated", "llm_dedup_clusters",  # multi-job builds
        "llm_dedup_near",  # runs two tiny scalar jobs while building
        "llm_lang_id", "llm_tfidf",  # scalar-count jobs while building
    }
    offenders = []
    for name, spec in sorted(specs.items()):
        if name in skip or any(spec.family.startswith(f) for f in skip_families):
            continue
        nodes = _nodes(_plan(spark, name))
        if any("CartesianProduct" in n for n in nodes):
            offenders.append(name)
    assert not offenders, f"unexpected CartesianProduct in: {offenders}"


def test_range_bucketed_join_is_equi(spark):
    """The banded range join must plan as a hash/merge EQUI-join on the
    bucket key — never a nested loop (PERF: the whole point of banding)."""
    nodes = _nodes(_plan(spark, "join_range_bucketed"))
    assert any(
        ("BroadcastHashJoin" in n) or ("SortMergeJoin" in n) or ("ShuffledHashJoin" in n)
        for n in nodes
    )
    assert not any("NestedLoop" in n or "Cartesian" in n for n in nodes)


def test_ivf_knn_broadcasts_centroids(spark):
    """IVF assignment and probe are broadcast joins against the tiny
    centroid set; the big side must never be the build side of a shuffle."""
    nodes = _nodes(_plan(spark, "llm_sim_knn_ivf"))
    assert sum("BroadcastHashJoin" in n for n in nodes) >= 2


def test_blocked_pair_kernel_plan(spark):
    """The blocked all-pairs kernel: one partial/final aggregate pair for
    the block packing and the python kernel node; no cartesian product."""
    nodes = _nodes(_plan(spark, "llm_sim_pairs"))
    assert any("MapInPandas" in n for n in nodes)
    assert not any("Cartesian" in n for n in nodes)


def test_map_in_arrow_is_arrow_not_pandas(spark):
    """r15 (VERDICT r14 item 3): udf_map_in_arrow must plan the
    RecordBatch-level MapInArrow node — NOT MapInPandas — while its
    sibling udf_map_in_pandas keeps the pandas node; the two extension
    tiers stay physically distinct."""
    arrow_nodes = _nodes(_plan(spark, "udf_map_in_arrow"))
    assert any("MapInArrow" in n for n in arrow_nodes)
    assert not any("MapInPandas" in n for n in arrow_nodes)
    pandas_nodes = _nodes(_plan(spark, "udf_map_in_pandas"))
    assert any("MapInPandas" in n for n in pandas_nodes)
    assert not any("MapInArrow" in n for n in pandas_nodes)


def test_repetition_gates_are_codegen_aggregates(spark):
    """Repetition quality gates: relational aggregates only — no python
    nodes on this hot path."""
    plan = _plan(spark, "llm_quality_repetition")
    nodes = _nodes(plan)
    assert sum("HashAggregate" in n for n in nodes) >= 4  # partial/final x2 levels
    assert not any("Python" in n or "MapInPandas" in n for n in nodes)


def test_partitioned_scan_prunes(spark):
    """The lang-partitioned read must prune at the partition level: the
    lang predicate appears in PartitionFilters, not as a data filter."""
    plan = _plan(spark, "scan_partition_pruned")
    assert "PartitionFilters" in plan
    after = plan.split("PartitionFilters", 1)[1][:160]
    assert "lang" in after and "IN (en,de)" in after.replace("'", "")


def test_skew_salted_join_shuffles_on_salt(spark):
    """The salted join must actually shuffle on (key, salt) — a broadcast
    would leave the salt machinery inert (never shuffles the fact side)."""
    nodes = _nodes(_plan(spark, "join_skew_salted"))
    assert any("ShuffledHashJoin" in n or "SortMergeJoin" in n for n in nodes)
    assert not any("BroadcastHashJoin" in n for n in nodes)


def test_global_rank_never_single_partitions(spark):
    """sort_global / mr_sort materialize a global rank WITHOUT the
    single-partition global window (VERDICT r1 item 2): every Window
    node must carry a partition spec and no exchange may collapse to
    SinglePartition."""
    for name in ("sort_global", "mr_sort"):
        plan = _plan(spark, name)
        nodes = _nodes(plan)
        assert not any(
            "Exchange SinglePartition" in n for n in nodes
        ), f"{name}: single-partition exchange\n{plan}"
        # the one Window node is the per-bucket row_number — partitioned
        assert any("Window" in n for n in nodes), name
        import re as _re

        for spec in _re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            assert "__bkt" in spec, f"{name}: unpartitioned window: {spec}"


def test_bloom_prefilter_probes_before_join(spark):
    """The bloom probe must be a pre-join Filter on the fact side (pure
    projection against the broadcast 1-row map), and the exact join a
    broadcast hash join — the fact table shuffles for nothing but the
    final aggregate."""
    nodes = _nodes(_plan(spark, "join_bloom_prefilter"))
    assert any("BroadcastHashJoin" in n for n in nodes)
    assert not any("SortMergeJoin" in n for n in nodes)
    assert not any("CartesianProduct" in n for n in nodes)


def test_null_safe_join_is_broadcast_hash(spark):
    """EqualNullSafe (<=>) must stay an extractable equi-join key: a
    BroadcastHashJoin, never the nested-loop degeneration the OR-spelled
    predicate produces."""
    nodes = _nodes(_plan(spark, "join_null_safe_eq"))
    assert any("BroadcastHashJoin" in n for n in nodes)
    assert not any("BroadcastNestedLoopJoin" in n for n in nodes)
    assert not any("CartesianProduct" in n for n in nodes)


def test_matmul_aggregates_before_join(spark):
    """mr_matrix_multiply must reduce both operands to their sparsity
    patterns BEFORE the k-join (partial HashAggregates upstream of the
    join) and broadcast the small operand."""
    plan = _plan(spark, "mr_matrix_multiply")
    nodes = _nodes(plan)
    assert any("BroadcastHashJoin" in n for n in nodes)
    assert not any("CartesianProduct" in n for n in nodes)
    assert sum("HashAggregate" in n for n in nodes) >= 4  # 2 per operand + final pair


def test_chunk_split_no_hash_shuffle(spark):
    """llm_chunk_split claims scan->generate->project with no hash
    exchange: chunk rows inherit the document partitioning. Only the
    declared output orderBy may range-exchange."""
    nodes = _nodes(_plan(spark, "llm_chunk_split"))
    assert not any(
        "Exchange hashpartitioning" in n for n in nodes
    ), "chunking must not hash-shuffle"


def test_dpp_join_prunes_fact_partitions(spark):
    """join_dpp_partition_pruned must show a dynamicpruning expression in
    the fact scan's PartitionFilters — runtime partition pruning driven
    by the broadcast dim, not a full fact scan."""
    plan = _plan(spark, "join_dpp_partition_pruned")
    assert "dynamicpruning" in plan.lower(), "no dynamic partition pruning in plan"


def test_spatial_grid_join_is_equi(spark):
    """The grid-cell decomposition must plan as a hash EQUI-join on the
    cell keys — the quadratic cross-join-with-distance-predicate form is
    exactly what the operator exists to avoid."""
    nodes = _nodes(_plan(spark, "join_spatial_grid"))
    assert any("BroadcastHashJoin" in n or "SortMergeJoin" in n for n in nodes)
    assert not any("CartesianProduct" in n for n in nodes)
    assert not any("BroadcastNestedLoopJoin" in n for n in nodes)


def test_bitmap_distinct_two_combiner_pairs(spark):
    """Both aggregation levels (bucket bit_or, then bit_count sum) must
    have map-side partials — 4 HashAggregate nodes, 2 exchanges."""
    nodes = _nodes(_plan(spark, "agg_bitmap_distinct"))
    assert sum("HashAggregate" in n for n in nodes) == 4
    assert sum("Exchange" in n for n in nodes) == 2


def test_scd2_single_partitioning(spark):
    """All three windows AND the span aggregate must reuse ONE hash
    partitioning on user_id (hashpartitioning(user_id) satisfies the
    grouped distribution because its keys are a subset of the group
    keys) — one Exchange total, the single-shuffle SCD2 claim."""
    nodes = _nodes(_plan(spark, "etl_scd2"))
    assert sum("Exchange" in n for n in nodes) == 1


def test_ewma_single_window_sort(spark):
    """Ten lag() columns must share one window sort — one Exchange, no
    self-joins."""
    nodes = _nodes(_plan(spark, "ts_ewma"))
    assert sum("Exchange" in n for n in nodes) == 1
    assert not any("Join" in n for n in nodes)


def test_running_distinct_single_exchange(spark):
    """Both windows (first-seen flag, running sum) must share the
    user_id partitioning — one Exchange, two in-partition sorts."""
    nodes = _nodes(_plan(spark, "win_running_distinct"))
    assert sum("Exchange" in n for n in nodes) == 1


def _plan_no_auto_broadcast(spark, name: str) -> str:
    """Plan with auto-broadcast disabled: any BroadcastExchange left is
    an EXPLICIT hint, so these tests see hints only — not the size-based
    choices Catalyst makes on tiny fixtures (which don't exist at 100 TB)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return _plan(spark, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_minhash_verify_join_never_broadcasts_shingles(spark):
    """The LSH verify join must NOT broadcast the shingle frame — it is
    O(corpus) and would OOM at 100 TB. All three joins (band-bucket
    candidates + the two verify sides) are unhinted equi-joins."""
    nodes = _nodes(_plan_no_auto_broadcast(spark, "llm_dedup_minhash_lsh"))
    assert not any("BroadcastExchange" in n for n in nodes)
    assert sum("SortMergeJoin" in n for n in nodes) >= 3


def test_tfidf_vocab_join_not_broadcast(spark):
    """The term->document-frequency join must stay a shuffle equi-join:
    the df table is vocabulary-sized and vocab grows with the corpus."""
    nodes = _nodes(_plan_no_auto_broadcast(spark, "llm_tfidf"))
    assert not any("BroadcastExchange" in n for n in nodes)
    assert any("SortMergeJoin" in n for n in nodes)


def test_lm_score_vocab_join_not_broadcast(spark):
    """The token->unigram-LM join must stay a shuffle equi-join (vocab-
    sized build side); only the single-row scalar frames (token total,
    keep-threshold) may ride explicit broadcasts — the token total shows
    up twice (main branch + threshold branch), so three single-row
    BroadcastExchanges total."""
    nodes = _nodes(_plan_no_auto_broadcast(spark, "llm_lm_score"))
    assert any("SortMergeJoin" in n for n in nodes)
    assert sum("BroadcastExchange" in n for n in nodes) <= 3


def test_tpch_topk_uses_take_ordered(spark):
    """The TPC-H composites' LIMIT-after-agg must plan as
    TakeOrderedAndProject (per-partition heaps), never a global sort."""
    for name in ("sql_tpch_q3_shipping_priority", "sql_tpch_q10_returned_items"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert not any("CartesianProduct" in n for n in _nodes(plan)), name


def test_substring_dedup_semi_join_not_broadcast(spark):
    """The duplicated-k-gram semi-join build side is corpus-sized
    (posting list) — must stay a shuffle join, like the other
    vocab-scale joins."""
    plan = _plan_no_auto_broadcast(spark, "llm_dedup_substring")
    nodes = _nodes(plan)
    assert not any("BroadcastExchange" in n for n in nodes)
    assert any("SortMergeJoin" in n for n in nodes)
    assert "LeftSemi" in plan


def test_countmin_cells_probe_is_broadcast(spark):
    """CMS probe join SHOULD broadcast: sketch state is fixed 1 Ki cells
    at any corpus size — the justified-broadcast counterexample to the
    vocab-table rule."""
    nodes = _nodes(_plan_no_auto_broadcast(spark, "agg_countmin_sketch"))
    assert any("BroadcastHashJoin" in n for n in nodes)


def test_near_dedup_shuffled_path_is_salted_sort_merge(spark):
    """VERDICT r3 item 1 gate: with broadcast disabled the bitmask
    near-dedup pair join degrades to the documented shuffled equi-join
    on (size, salt) — no BroadcastExchange feeds the pair join and the
    salt column participates in the sort-merge keys."""
    plan = _plan_no_auto_broadcast(spark, "llm_dedup_near")
    nodes = _nodes(plan)
    assert not any("BroadcastExchange" in n for n in nodes)
    assert any("SortMergeJoin" in n for n in nodes)
    assert "__salt" in plan


def test_agg_stats_is_combiner_shape_only(spark):
    """VERDICT r3 item 7 gate: agg_stats must carry no sort-buffer
    percentile aggregate — only hash aggregates (value-count histogram)
    plus bounded per-flag windows."""
    nodes = _nodes(_plan(spark, "agg_stats"))
    assert not any("ObjectHashAggregate" in n or "SortAggregate" in n for n in nodes)
    assert any("HashAggregate" in n for n in nodes)


def test_aqe_skew_join_splits_hot_partition(spark):
    """VERDICT r3 item 9: runtime evidence that AQE's skew-join handling
    fires. A deliberately skewed big x big join (90% of rows on one key,
    generated executor-side like scan_range_source) with skew thresholds
    tuned to fixture scale must execute with the hot partition SPLIT —
    `skew=true` on the final adaptive join. This is the runtime half of
    the salting story: join_skew_salted writes the salt out manually
    because persistent layouts (bucketing, writer partitioning) are
    beyond AQE's reach; for transient shuffles, AQE's split is the
    zero-code path demonstrated here."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "131072",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {}
    for k in confs:
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 300000, 1, 8).selectExpr(
            "CASE WHEN id % 10 < 9 THEN CAST(0 AS BIGINT) "
            "ELSE id % 1000 END AS k",
            "id AS v",
        )
        right = spark.range(0, 1000, 1, 4).selectExpr("id AS k", "id * 2 AS w")
        j = big.join(right, "k")
        # execute THIS DataFrame's plan (count() would wrap it in a new
        # QueryExecution and the adaptive plan would never finalize)
        n = len(j.collect())
        assert n == 300000  # every big row matches exactly one right key
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE skew split did not fire:\n{plan[:1500]}"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_q21_plans_semi_and_anti(spark):
    """Q21's EXISTS / NOT EXISTS pair must plan as LEFT SEMI + LEFT ANTI
    joins (never a Cartesian or a subquery re-execution per row)."""
    plan = _plan(spark, "sql_tpch_q21_waiting_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert not any("Cartesian" in n for n in _nodes(plan))


def test_q19_disjunction_keeps_equi_join(spark):
    """Q19's OR-of-ANDs must ride as a residual on the partkey equi-join
    — Catalyst must not fall back to a Cartesian for the disjunction."""
    nodes = _nodes(_plan(spark, "sql_tpch_q19_disjunctive_revenue"))
    assert any("Join" in n and "Cartesian" not in n for n in nodes)
    assert not any("Cartesian" in n for n in nodes)


def test_kmeans_final_assign_broadcasts_centroids(spark):
    """llm_cluster_kmeans' assignment joins against the fixed k*d
    centroid frame — a justified broadcast (size independent of n); the
    vector side must never be the build side."""
    nodes = _nodes(_plan(spark, "llm_cluster_kmeans"))
    assert any("BroadcastNestedLoopJoin" in n or "BroadcastHashJoin" in n for n in nodes)
    assert not any("CartesianProduct" in n for n in nodes)


def test_tpch_q1_is_one_combiner_pass(spark):
    """Q1's eight aggregates must ride ONE partial/final HashAggregate
    pair over the pushed-down scan — the map-side-combine showcase."""
    plan = _plan(spark, "sql_tpch_q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan
    assert sum("HashAggregate" in n for n in _nodes(plan)) == 2


def test_tpch_q2_topk_and_no_cartesian(spark):
    """Q2's LIMIT 100 over the min-cost probe must be a bounded
    TakeOrderedAndProject, and the double-equality min-cost probe must
    stay an equi-join."""
    plan = _plan(spark, "sql_tpch_q2_min_cost_supplier")
    assert "TakeOrderedAndProject" in plan
    assert not any("Cartesian" in n for n in _nodes(plan))


def test_tpch_q8_broadcasts_all_dims(spark):
    """Q8's 8-relation tree: every non-fact relation broadcasts; the
    only shuffle join is lineitem-orders on orderkey."""
    nodes = _nodes(_plan(spark, "sql_tpch_q8_market_share"))
    assert sum("BroadcastHashJoin" in n for n in nodes) >= 5
    assert sum("SortMergeJoin" in n for n in nodes) <= 1


def test_tpch_q15_scalar_max_broadcasts(spark):
    """Q15's scalar MAX threshold must come back as a broadcast — and
    Catalyst actually does one better: the crossJoin+filter collapses
    to a broadcast HASH join on the total_rev = m equi-condition. Gate
    on broadcast-anything, never a Cartesian."""
    nodes = _nodes(_plan(spark, "sql_tpch_q15_top_supplier"))
    assert any("BroadcastHashJoin" in n or "BroadcastNestedLoopJoin" in n for n in nodes)
    assert not any("CartesianProduct" in n for n in nodes)


def test_tpch_q16_plans_anti_join(spark):
    """Q16's NOT IN exclusion (non-null key) must plan as a broadcast
    LEFT ANTI join."""
    plan = _plan(spark, "sql_tpch_q16_supplier_part_counts")
    assert "LeftAnti" in plan


def test_tpch_q20_two_level_combiner_aggs(spark):
    """Q20's per-(part,supplier) and per-part aggregates are both
    combiner-shape (two partial/final pairs) and the threshold join
    stays equi on partkey."""
    nodes = _nodes(_plan(spark, "sql_tpch_q20_potential_promotion"))
    assert sum("HashAggregate" in n for n in nodes) >= 4
    assert not any("Cartesian" in n for n in nodes)


def test_pq_adc_scan_broadcasts_lookup_tables(spark):
    """The ADC scan must broadcast the m*k query lookup tables into the
    code join (their size is independent of n — the whole point) and
    never plan a Cartesian."""
    nodes = _nodes(_plan(spark, "llm_sim_knn_pq_adc"))
    assert any("BroadcastHashJoin" in n for n in nodes)
    assert not any("Cartesian" in n for n in nodes)


def test_cusum_single_window_exchange_then_combiner(spark):
    """ts_changepoint_cusum: one hash exchange on user_id serves both
    window specs, and the argmax collapses as a partial/final
    HashAggregate pair (no second window, no global sort before the
    presentation orderBy)."""
    nodes = _nodes(_plan(spark, "ts_changepoint_cusum"))
    # one hash exchange for the windows + the presentation range exchange
    assert sum(n == "Exchange" for n in nodes) <= 2
    # max(struct(...)) argmax plans as a Sort/HashAggregate partial+final pair
    assert sum("Aggregate" in n for n in nodes) >= 2
    assert sum(n == "Window" for n in nodes) <= 2


def test_containment_shuffled_path_is_salted(spark):
    """llm_dedup_containment: with broadcast disabled the subset-mask
    pair join degrades to the salted all-pairs equi-join (no
    BroadcastExchange — the build side is corpus-sized), the per-doc
    MIN(super) collapses combiner-shape, and nothing plans a
    Cartesian."""
    plan = _plan_no_auto_broadcast(spark, "llm_dedup_containment")
    nodes = _nodes(plan)
    assert not any("BroadcastExchange" in n for n in nodes)
    assert any("SortMergeJoin" in n for n in nodes)
    assert "__salt" in plan
    assert not any("Cartesian" in n for n in nodes)


def test_containment_sparse_path_no_all_pairs_join(spark):
    """VERDICT r4 item 1 gate: with the vocab cap forced below the
    fixture's vocabulary, llm_dedup_containment must take the
    posting-list prefix-filter path — no salted all-pairs join (no
    __bsalt explode), no Cartesian, only shuffle equi-joins — and the
    output must be row-identical to the dense mask kernel's."""
    from hdfs_mr_spark.operators.llm_dedup import _CONTAINMENT_VOCAB_CAP_CONF

    fn = all_specs()["llm_dedup_containment"].fn
    dense_rows = [tuple(r) for r in fn(spark, SF_SMOKE).collect()]
    prev = spark.conf.get(_CONTAINMENT_VOCAB_CAP_CONF, None)
    try:
        spark.conf.set(_CONTAINMENT_VOCAB_CAP_CONF, "1")
        sparse = fn(spark, SF_SMOKE)
        plan = formatted_plan(sparse)
        assert "__bsalt" not in plan
        assert not any("Cartesian" in n for n in _nodes(plan))
        sparse_rows = [tuple(r) for r in sparse.collect()]
    finally:
        if prev is None:
            spark.conf.unset(_CONTAINMENT_VOCAB_CAP_CONF)
        else:
            spark.conf.set(_CONTAINMENT_VOCAB_CAP_CONF, prev)
    assert sparse_rows == dense_rows


def test_bitmask_kernel_guards_mask_width(spark, monkeypatch):
    """The dense bitmask kernel must fail LOUDLY past the mask-width
    cap (naming the posting-list alternative), not at the catalyst
    column limit deep inside codegen."""
    import pytest

    from hdfs_mr_spark.operators import llm_dedup as L

    monkeypatch.setattr(L, "_MASK_WORDS_CAP", 0)
    with pytest.raises(ValueError, match="posting-list"):
        L._bitmask_encoded_docs(spark, SF_SMOKE)


def test_ivf_pq_broadcasts_index_sides(spark):
    """llm_sim_knn_ivf_pq: coarse centroids and ADC tables broadcast
    (O(sqrt n) / m*k rows); the corpus-sized sides (assignments, codes)
    flow through shuffle equi-joins; no Cartesian."""
    nodes = _nodes(_plan(spark, "llm_sim_knn_ivf_pq"))
    assert sum("BroadcastHashJoin" in n for n in nodes) >= 2
    assert not any("Cartesian" in n for n in nodes)


def test_profile_single_scan_single_aggregate(spark):
    """dq_profile_columns: ONE parquet scan feeds one multi-distinct
    Aggregate (Expand is the exact-multi-distinct shape); no join, no
    per-column re-scan."""
    nodes = _nodes(_plan(spark, "dq_profile_columns"))
    assert sum("Scan parquet" in n for n in nodes) == 1
    assert any("Expand" in n for n in nodes)
    assert not any("Join" in n for n in nodes)


def test_pipeline_clean_no_corpus_broadcast(spark):
    """llm_pipeline_clean: with broadcast disabled, no stage broadcasts
    a corpus-sized side (hash-dedup join, survivor joins, and the
    bitmask pair join are all shuffle equi-joins) and nothing plans a
    Cartesian."""
    plan = _plan_no_auto_broadcast(spark, "llm_pipeline_clean")
    nodes = _nodes(plan)
    assert not any("BroadcastExchange" in n for n in nodes)
    assert not any("Cartesian" in n for n in nodes)
    assert any("SortMergeJoin" in n for n in nodes)


def test_skew_kurtosis_one_combiner_pass(spark):
    """agg_skew_kurtosis: one scan, one partial/final HashAggregate
    pair — higher moments must not add passes."""
    nodes = _nodes(_plan(spark, "agg_skew_kurtosis"))
    assert sum("Scan parquet" in n for n in nodes) == 1
    assert sum("HashAggregate" in n for n in nodes) == 2
    assert not any("Join" in n for n in nodes)


def test_rag_retrieve_term_join_not_broadcast(spark):
    """llm_rag_retrieve: the tf/df/query joins on term must stay
    shuffle equi-joins with broadcast disabled (posting lists are
    corpus-sized) and the top-k window is qid-partitioned (no
    single-partition exchange)."""
    plan = _plan_no_auto_broadcast(spark, "llm_rag_retrieve")
    nodes = _nodes(plan)
    assert not any("BroadcastExchange" in n for n in nodes)
    assert any("SortMergeJoin" in n for n in nodes)
    assert not any("Exchange SinglePartition" in n for n in nodes)


def test_theilsen_user_local_pairs(spark):
    """ts_theilsen_trend: the slope pair join is an equi-join on
    user_id (user-local pairs — never a Cartesian), and the median
    selection collapses as a combiner aggregate."""
    nodes = _nodes(_plan(spark, "ts_theilsen_trend"))
    assert not any("Cartesian" in n for n in nodes)
    assert any("SortMergeJoin" in n or "ShuffledHashJoin" in n or "BroadcastHashJoin" in n for n in nodes)
    assert sum("HashAggregate" in n for n in nodes) >= 2


def test_phash_hamming_join_is_bounded_broadcast(spark):
    """llm_multimodal_phash: the Hamming dup join probes the bounded
    48-row hash table (explicit broadcast — a genuinely bounded
    fixture, like the ADC tables) and hashing itself is a python
    kernel with no pre-shuffle."""
    nodes = _nodes(_plan(spark, "llm_multimodal_phash"))
    # the hash frame is localCheckpoint'ed (ExistingRDD hides the
    # MapInPandas kernel); the non-equi Hamming probe must be the
    # bounded broadcast nested loop, never a Cartesian
    assert any("BroadcastNestedLoopJoin" in n for n in nodes)
    assert not any("Cartesian" in n for n in nodes)


def test_ivf_pq_rerank_narrow_fetch(spark):
    """llm_sim_knn_ivf_pq_rerank: the refinement stage broadcasts only
    the 10 query vectors; the shortlist fetch is an equi-join; no
    Cartesian anywhere."""
    nodes = _nodes(_plan(spark, "llm_sim_knn_ivf_pq_rerank"))
    assert sum("BroadcastHashJoin" in n for n in nodes) >= 2
    assert not any("Cartesian" in n for n in nodes)


def test_rolling_regression_single_window_exchange(spark):
    """win_rolling_regression: one hash exchange serves the sequencing
    row_number and all five frame sums; no join."""
    nodes = _nodes(_plan(spark, "win_rolling_regression"))
    assert sum(n == "Exchange" for n in nodes) <= 2  # hash + presentation
    assert not any("Join" in n for n in nodes)


def test_interval_merge_no_self_join(spark):
    """ts_interval_merge: the windowed formulation must plan WITHOUT a
    join (the naive overlap self-join is the Θ(n²) trap) and with a
    combiner aggregate pair."""
    nodes = _nodes(_plan(spark, "ts_interval_merge"))
    assert not any("Join" in n for n in nodes)
    assert sum("HashAggregate" in n for n in nodes) >= 2


def test_orphan_repair_dim_probe_broadcast(spark):
    """etl_orphan_repair: the dimension probe is a broadcast LEFT join
    at fixture scale; the aggregate is combiner-shape."""
    nodes = _nodes(_plan(spark, "etl_orphan_repair"))
    assert any("BroadcastHashJoin" in n for n in nodes)
    assert not any("Cartesian" in n for n in nodes)


def test_audio_vad_kernel_then_single_window(spark):
    """llm_multimodal_audio_vad: python kernel emits frame rows, then
    one doc_id window exchange serves lag + cumsum, rollups are
    combiner-shape, no Cartesian."""
    nodes = _nodes(_plan(spark, "llm_multimodal_audio_vad"))
    assert any("MapInPandas" in n for n in nodes)
    assert not any("Cartesian" in n for n in nodes)


def test_view_maintenance_pushes_slice_predicates(spark):
    """etl_view_maintenance: the base/delta slice predicates must reach
    the parquet scans (pushed filters), aggregates are combiner-shape,
    and the state merge is an equi FULL OUTER join."""
    plan = _plan(spark, "etl_view_maintenance")
    nodes = _nodes(plan)
    assert "PushedFilters" in plan
    assert sum("HashAggregate" in n for n in nodes) >= 6  # 3 slices x pair
    # node labels are bare ("SortMergeJoin"); the join type lives in
    # the plan detail text — require BOTH a merge/shuffled-hash join
    # node and the FullOuter detail, and forbid the nested-loop shape
    assert any("SortMergeJoin" in n or "ShuffledHashJoin" in n for n in nodes)
    assert "FullOuter" in plan
    assert not any("NestedLoop" in n for n in nodes)
    assert not any("Cartesian" in n for n in nodes)


def test_weighted_near_shuffled_path_is_salted(spark):
    """llm_dedup_near_weighted: with broadcast disabled the count-vector
    pair join degrades to the shared salted scaffold (no corpus-sized
    BroadcastExchange), and nothing plans a Cartesian."""
    plan = _plan_no_auto_broadcast(spark, "llm_dedup_near_weighted")
    nodes = _nodes(plan)
    assert not any("BroadcastExchange" in n for n in nodes)
    assert any("SortMergeJoin" in n for n in nodes)
    assert "__salt" in plan
    assert not any("Cartesian" in n for n in nodes)


def test_lpa_community_size_is_combiner_not_window(spark):
    """mr_label_propagation: community sizes must come from a
    partial/final aggregate + join, never a label-partitioned window
    (a dominant community would be one giant window partition)."""
    plan = _plan(spark, "mr_label_propagation")
    nodes = _nodes(plan)
    assert sum("HashAggregate" in n for n in nodes) >= 2
    import re as _re

    for spec in _re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "lbl" not in spec and "community" not in spec


def test_segment_family_joins_not_broadcast(spark):
    """The segment/prefix dedup ops join a corpus-sized hash-frequency
    frame back to the corpus — that build side must stay a shuffle
    equi-join (same Heaps'-law rule as the tf-idf df join), and the
    per-doc keyword df join likewise."""
    for name in (
        "llm_boilerplate_segments",
        "llm_dedup_prefix",
        "llm_keyword_extract",
    ):
        nodes = _nodes(_plan_no_auto_broadcast(spark, name))
        assert not any("BroadcastExchange" in n for n in nodes), name
        assert any("SortMergeJoin" in n for n in nodes), name
        assert not any("Cartesian" in n for n in nodes), name


def test_cross_source_overlap_is_equi_join(spark):
    """The source-pair overlap self-join must plan as a hash-keyed
    equi-join (fan-out bounded by |sources|), never a nested loop or
    Cartesian; nothing rides an explicit broadcast."""
    nodes = _nodes(_plan_no_auto_broadcast(spark, "llm_cross_source_overlap"))
    assert not any("BroadcastExchange" in n for n in nodes)
    assert sum("SortMergeJoin" in n for n in nodes) >= 3
    assert not any("Cartesian" in n for n in nodes)
    assert not any("BroadcastNestedLoop" in n for n in nodes)


def test_cusum_shares_event_type_partitioning(spark):
    """ts_cusum_changepoint: hourly agg + all windows key on
    event_type, so the whole query needs few exchanges and no join;
    the CUSUM statistic stays integer (no float accumulation node)."""
    plan = _plan(spark, "ts_cusum_changepoint")
    nodes = _nodes(plan)
    assert not any("Join" in n for n in nodes)
    assert sum("Exchange" in n for n in nodes) <= 3


def test_skew_profiled_join_switches_both_ways(spark):
    """VERDICT r4 item 7 gate: skew_profiled_join must pick its physical
    strategy FROM the measured key statistics — salted (key, salt)
    shuffle on a synthetic 90%-one-key fact, plain shuffled equi-join on
    a uniform fact — with identical join results either way (the salt is
    routing-only)."""
    from pyspark.sql import functions as F

    from hdfs_mr_spark.operators.joins import skew_profiled_join

    dim = spark.range(1200).select(
        F.col("id").alias("dk"), (F.col("id") % 7).alias("dval")
    )
    # 90% of rows on key 0, the rest unique -> skew_ratio >> threshold
    skewed = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise(F.col("id") % 1200).alias("k"),
        F.col("id").alias("rid"),
    )
    j1, s1 = skew_profiled_join(skewed, dim, "k", "dk", salt_cols=["rid"])
    assert s1 == "salted"
    plan1 = formatted_plan(j1)
    assert "__skew_salt" in plan1
    assert not any("BroadcastHashJoin" in n for n in _nodes(plan1))
    # uniform keys, cardinality >= parallelism -> plain shuffle, no salt
    uniform = spark.range(10_000).select(
        (F.col("id") % 1200).alias("k"), F.col("id").alias("rid")
    )
    j2, s2 = skew_profiled_join(uniform, dim, "k", "dk", salt_cols=["rid"])
    assert s2 == "plain"
    plan2 = formatted_plan(j2)
    assert "__skew_salt" not in plan2
    assert not any("BroadcastHashJoin" in n for n in _nodes(plan2))
    # semantics are strategy-independent
    c1 = j1.groupBy("k").count().orderBy("k").collect()
    j1u, _ = skew_profiled_join(skewed, dim, "k", "dk", salt_cols=["rid"],
                                skew_threshold=1e18)
    c1u = j1u.groupBy("k").count().orderBy("k").collect()
    assert c1 == c1u


def test_jpeg_pixels_kernel_no_preshuffle(spark):
    """llm_multimodal_pixels_jpeg: one MapInPandas decode kernel
    straight off the scan — no shuffle exchange upstream of the python
    node (the only exchanges are the round-robin fan-out and the final
    presentation sort), no Cartesian."""
    plan = _plan(spark, "llm_multimodal_pixels_jpeg")
    nodes = _nodes(plan)
    assert any("MapInPandas" in n for n in nodes)
    assert not any("Cartesian" in n for n in nodes)
    assert not any(
        "Exchange hashpartitioning" in n for n in nodes
    ), "decode kernel must not require a hash shuffle"


def test_phash_banded_is_equi_join_not_all_pairs(spark):
    """llm_multimodal_phash_banded: the MIH candidate stage must be an
    EQUI-join on (band, value) — with broadcast disabled it degrades to
    a shuffled sort-merge join, never a Cartesian/nested-loop all-pairs
    — and its output must be row-identical to the broadcast twin's."""
    fn = all_specs()["llm_multimodal_phash_banded"].fn
    twin = all_specs()["llm_multimodal_phash_mixed"].fn
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = fn(spark, SF_SMOKE)
        plan = formatted_plan(df)
        nodes = _nodes(plan)
        assert any("SortMergeJoin" in n or "ShuffledHashJoin" in n for n in nodes)
        assert not any("Cartesian" in n or "NestedLoop" in n for n in nodes)
        banded = [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert banded == [tuple(r) for r in twin(spark, SF_SMOKE).collect()]


def test_ivf_stored_probe_is_partition_pruned(spark):
    """llm_sim_knn_ivf_stored: the probe must reach the persisted index
    as a PARTITION filter on the cell column (pruned directories, not a
    post-scan data filter), and results must equal the in-flight IVF
    twin's."""
    fn = all_specs()["llm_sim_knn_ivf_stored"].fn
    df = fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    after = plan.split("PartitionFilters", 1)[1][:200]
    assert "cell" in after
    # VERDICT r6 item 4: the probe must be a LAZY dynamicpruning
    # subquery injected by Catalyst, not a driver-collected literal IN
    assert "dynamicpruning" in after
    stored = [tuple(r) for r in df.collect()]
    twin = [tuple(r) for r in
            all_specs()["llm_sim_knn_ivf"].fn(spark, SF_SMOKE).collect()]
    assert stored == twin


def test_ivf_pq_stored_probe_is_partition_pruned(spark):
    """llm_sim_knn_ivf_pq_stored (r8): the probe must reach the
    persisted CODE store as a lazy dynamicpruning PartitionFilter on
    the cell column, and results must be bit-identical to the
    in-flight IVFADC composite's."""
    df = all_specs()["llm_sim_knn_ivf_pq_stored"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    after = plan.split("PartitionFilters", 1)[1][:250]
    assert "cell" in after and "dynamicpruning" in after
    stored = [tuple(r) for r in df.collect()]
    twin = [tuple(r) for r in
            all_specs()["llm_sim_knn_ivf_pq"].fn(spark, SF_SMOKE).collect()]
    assert stored == twin


def test_ivf_pq_delta_probe_is_partition_pruned(spark):
    """llm_sim_knn_ivf_pq_delta (r8): after the frozen-codebook absorb,
    the probe must still reach the code store via lazy dynamicpruning
    PartitionFilters on cell (the absorb must not regress the scan to
    full-store reads)."""
    df = all_specs()["llm_sim_knn_ivf_pq_delta"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    after = plan.split("PartitionFilters", 1)[1][:250]
    assert "cell" in after and "dynamicpruning" in after


# Documented exemptions from the registry-wide no-mid-plan-action gate
# (VERDICT r7 item 5's explicit list). Each category is a DELIBERATE
# driver round-trip, not an accident:
_GATE_EXEMPT = {
    # Driver-coordinated iterative loops — each round's scalar result
    # (top merge pair, changed-label count, star roots) feeds the NEXT
    # round's plan; the sequence is inherently serial (same discipline
    # as mr_pagerank's convergence checks). exprs.relax reads its
    # improved count from the round checkpoint's own job (an observe
    # metric), so its callers mr_bfs and mr_sssp trip no trap and stay
    # gated; llm_dedup_clusters is here for its round-bound count.
    "llm_bpe_train_rounds",     # k-round BPE trainer (top-1 per round)
    "llm_embed_opq",            # OPQ rotation train: 64-dim model state
                                # (4096-row cov + 64-row direction per
                                # stage) collected per round, feeds the
                                # next round's plan (r14)
    "llm_topic_lsa",            # LSA: <=64^2-row Gram collected ONCE,
                                # 8 requantized power rounds driver-
                                # side in exact ints, directions
                                # broadcast back (r15)
    "llm_embed_whitening",      # whitening: 64^2 covariance + corpus
                                # count collected ONCE, same driver-
                                # side eigen recipe (r15)
    "llm_quality_classifier_train",  # GD trainer: 69 int partials per
                                # round collected, trunc-div weight
                                # step on the driver feeds the next
                                # round's kernel closure (r15-opt)
    "llm_quality_classifier_apply",  # replays the same weight chain
                                # before the serving tail (r15-opt)
    "llm_tokenizer_unigram_train",  # unigram EM: vocab-sized piece
                                # partials collected per round, pruned
                                # cost table feeds the next round's
                                # kernel closure (r15-opt)
    "llm_sim_knn_hnsw",         # graph-ANN beam search: state bounded
                                # by O(entries + rounds*beam*cap) per
                                # query INDEPENDENT of n (the op's own
                                # scale contract); each round is two
                                # IN-filtered bounded point-lookups
                                # (r15-opt)
    "llm_sim_knn_hnsw_compact",  # same shared driver search over the
                                # compacted edge store (r15-opt)
    "llm_sim_knn_hnsw_delta",   # same shared driver search over the
                                # base/delta merged edge frame (r15-opt)
    "ts_anomaly_esd",           # Rosner rounds: the calendar-bounded
                                # daily rollup (types x days) collected
                                # ONCE, 3 remove-and-retest rounds in
                                # exact driver ints (r15-opt)
    "ts_seasonal_hybrid_esd",   # same rounds on the STL-deseasonalized
                                # hourly frame (types x hours, collected
                                # ONCE after the corpus-sized resample)
                                # (r15-opt)
    "llm_bpe_apply",            # loads the shared cached trainer
    "llm_dedup_clusters",       # n_docs count bounds relax's rounds
    "llm_dedup_clusters_star",  # star-contraction round scalars
    # Physical-strategy stats reads — broadcast-vs-shuffle decisions
    # from a count of an already-localCheckpoint'd frame (the count is
    # a cached-materialization metadata read, the query-at-a-time
    # analogue of Catalyst picking a join strategy from table stats).
    "llm_dedup_near", "llm_dedup_near_decision", "llm_dedup_near_weighted",
    "llm_dedup_containment", "llm_dedup_keep_best", "llm_pipeline_clean",
    "llm_dedup_ppjoin",  # dense branch shares the bitmask kernel above
    # Skew-profile stats read feeding the salt factor (joins.py,
    # documented at the call site).
    "join_skew_salted",
    # Catalog-statistics metadata read (r14, the r13-verdict nit (a)
    # fix): the broadcast threshold derives from the ANALYZE'd
    # Statistics row via DESCRIBE TABLE EXTENDED — a catalog-metadata
    # collect (what the planner itself reads), never a data scan.
    "join_cbo_broadcast",
    # (agg_chi2_independence and dq_distribution_drift were de-exempted
    # r9 — their scalars were plan PARAMETERS mislabeled as branch
    # guards; both now use broadcast 1-row aggregates, and the drift
    # op's empty-cohort degenerate case is a when() mask in-plan.
    # VERDICT r8 item 6.)
}


def test_no_mid_plan_driver_actions(spark, monkeypatch):
    """Registry-wide gate (VERDICT r7 item 5): constructing ANY
    registered batch query must submit NO driver-materializing action —
    no .collect()/.first()/.toPandas()/.count()/.isEmpty() during plan
    construction — except the documented _GATE_EXEMPT categories.

    The traps patch pyspark.sql.classic.dataframe.DataFrame — the class
    Spark 4 actually instantiates. The r7 version of this gate patched
    the pyspark.sql.DataFrame BASE class, whose action methods the
    classic subclass overrides, so the traps never fired and the gate
    was vacuously green (found r8 by probing with the classic patch).

    Streaming-family queries (2.10) are out of scope: their
    construction IS execution (foreachBatch drains micro-batches under
    the streaming engine's own coordination); their batch twins gate
    plan discipline here.

    Corpus-stat caches (stats.py, embed_stats) are pre-warmed first —
    those are the once-per-session table-statistics reads the cache
    module exists for, and are documented there."""
    from pyspark.sql.classic.dataframe import DataFrame

    from hdfs_mr_spark import stats as corpus_stats

    corpus_stats.n_docs(spark, SF_SMOKE)
    corpus_stats.n_tokens(spark, SF_SMOKE)
    corpus_stats.vocab_size(spark, SF_SMOKE)
    corpus_stats.max_shingle_df(spark, SF_SMOKE)
    corpus_stats.embed_stats(spark, SF_SMOKE)
    # pre-build the persisted index/table stores (one-time builds, not
    # query-time work — the lakehouse stores commit their whole version
    # history on first touch, then every query is a pure snapshot read)
    for store_q in ("llm_sim_knn_ivf_stored", "llm_sim_knn_ivf_delta",
                    "llm_dedup_lsh_stored", "llm_dedup_lsh_compact",
                    "lake_txn_append", "lake_merge_txn",
                    "lake_txn_conflict", "lake_vacuum", "lake_checkpoint",
                    "lake_stats_skipping", "lake_schema_evolution",
                    "lake_compact_optimize", "lake_delete_vectors",
                    "lake_change_feed", "lake_zorder_skipping",
                    "lake_restore_version", "lake_clone_shallow",
                    "lake_bloom_index", "lake_partition_pruned",
                    "lake_partition_overwrite", "lake_partition_evolution",
                    "lake_concurrent_disjoint", "lake_timestamp_travel",
                    "llm_sim_knn_ivf_pq_stored", "llm_sim_knn_ivf_pq_delta",
                    "llm_sim_knn_ivf_pq_compact", "llm_sim_knn_hnsw",
                    "llm_sim_knn_hnsw_delta", "llm_sim_knn_hnsw_compact"):
        all_specs()[store_q].fn(spark, SF_SMOKE)

    calls: dict[str, list[str]] = {}
    cur: list = [None]
    orig = {
        k: getattr(DataFrame, k)
        for k in ("collect", "first", "toPandas", "count", "isEmpty")
    }

    def _trap(kind):
        def _f(self, *a, **k):
            if cur[0] is not None:
                calls.setdefault(cur[0], []).append(kind)
            return orig[kind](self, *a, **k)
        return _f

    for kind in orig:
        monkeypatch.setattr(DataFrame, kind, _trap(kind))

    for name, spec in sorted(all_specs().items()):
        if name in _GATE_EXEMPT or spec.family.startswith("2.10"):
            continue
        cur[0] = name
        df = spec.fn(spark, SF_SMOKE)
        cur[0] = None
        assert df is not None, name
    assert calls == {}


def test_stl_loess_banded_joins_no_cartesian(spark):
    """ts_stl_loess (r15): both LOESS passes must plan as banded
    EQUI-joins (3-bucket explode on the regression abscissa) — never a
    per-key cross product or nested-loop — and the corpus-sized work
    stays in the hourly combiner aggregate."""
    nodes = _nodes(_plan(spark, "ts_stl_loess"))
    assert not any("Cartesian" in n or "NestedLoop" in n for n in nodes)
    # the visible tail (the seasonal pass sits behind the des
    # localCheckpoint): trend banded join + final left join, both
    # equi-joins
    joins = [n for n in nodes if "Join" in n]
    assert len(joins) >= 2, joins


def test_hnsw_delta_store_discipline(spark):
    """llm_sim_knn_hnsw_delta (r15 — VERDICT r14 item 5b): the absorb
    must be a BOUNDED RE-LINK of the stored base graph, not a rebuild:
    (a) every adjacency in the delta store belongs to a delta vector or
    an affected (reverse-edge-receiving) base node; (b) every src in
    the served graph respects the degree cap; (c) delta vectors are
    actually REACHABLE — at least one appears in the top-5 results at
    smoke scale (reverse-edge insertion is the whole point: without it
    new nodes are invisible to the stored graph)."""
    from pathlib import Path

    import pyarrow.parquet as pq_
    from pyspark.sql import functions as F

    from hdfs_mr_spark.operators.llm_similarity import (_HNSW_CAP,
                                                        _n_embeddings)
    from hdfs_mr_spark.sources.scans import _fixture_dir

    df = all_specs()["llm_sim_knn_hnsw_delta"].fn(spark, SF_SMOKE)
    rows = df.collect()
    n_total = _n_embeddings(spark, SF_SMOKE)
    n_base = n_total - n_total // 8
    store = Path(_fixture_dir(SF_SMOKE)) / "hnsw_delta_store"
    assert (store / "_built").exists()
    aff = {
        r["src"]
        for f in (store / "affected").glob("*.parquet")
        for r in pq_.read_table(str(f)).to_pylist()
    }
    delta_srcs = {
        r["src"]
        for f in (store / "delta").glob("*.parquet")
        for r in pq_.read_table(str(f)).to_pylist()
    }
    # (a) the delta store holds ONLY new-node and affected adjacencies
    assert all(s >= n_base or s in aff for s in delta_srcs)
    assert all(s < n_base for s in aff)
    # (b) served degree cap
    served = (
        spark.read.parquet(str(store / "edges_base"))
        .join(spark.createDataFrame(
            [(int(s),) for s in aff] or [(-1,)], "src long"),
            "src", "left_anti")
        .unionByName(spark.read.parquet(str(store / "delta")))
        .groupBy("src").count().agg(F.max("count")).collect()[0][0]
    )
    assert served <= _HNSW_CAP
    # (c) delta vectors reachable in results; absorb facts pinned
    assert any(r["vec_id"] >= n_base for r in rows)
    assert rows[0]["n_delta_absorbed"] == n_total // 8
    assert rows[0]["n_base_relinked"] == len(aff)


def test_ivf_delta_absorb_touches_only_delta_cells(spark):
    """llm_sim_knn_ivf_delta (VERDICT r5 item 4): the insert-delta is
    absorbed by APPENDING to the partitioned corpus — only the cell
    partitions the delta's vectors land in may receive new files, base
    partitions stay untouched; the probe stays partition-pruned; and
    base+delta must be bit-identical to the one-shot stored index (the
    self-audit vs a full rebuild)."""
    import shutil
    from pathlib import Path

    from pyspark.sql import functions as F

    from hdfs_mr_spark.operators.llm_similarity import _ann_params, _norm, _dot
    from hdfs_mr_spark.sources.scans import _fixture_dir

    store = Path(_fixture_dir(SF_SMOKE)) / "ivf_store_delta"
    shutil.rmtree(store, ignore_errors=True)  # force a fresh lifecycle

    fn = all_specs()["llm_sim_knn_ivf_delta"].fn
    # stage the base by snapshotting the corpus file set right after the
    # first call materializes the full store (base + delta): re-derive
    # the delta's expected cell set independently and check the file
    # layout against it
    df = fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    # ADVICE r7: the delta twin got the same collect()->DPP rewrite as
    # the stored op — gate its plan shape too, so a regression back to
    # a post-scan join filter (full-corpus scan) can't slip in silently
    after = plan.split("PartitionFilters", 1)[1][:200]
    assert "cell" in after and "dynamicpruning" in after
    rows = [tuple(r) for r in df.collect()]

    # independently recompute which cells the delta's vectors belong to
    from hdfs_mr_spark.io import table

    e = table(spark, SF_SMOKE, "embeddings")
    n_total = e.count()
    cells, _, _ = _ann_params(n_total)
    n_base = max(cells, n_total - n_total // 8)
    n = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    c = n.filter(F.col("vec_id") < cells).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    from pyspark.sql import Window

    ccos = n.join(F.broadcast(c)).select(
        "vec_id", "cid",
        (_dot(F.col("embedding"), F.col("ce"))
         / (F.col("nrm") * F.col("cn"))).alias("ccos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cid").asc()
    )
    assign = (
        ccos.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cid")
    )
    delta_cells = {
        r.cid for r in assign.filter(F.col("vec_id") >= n_base).collect()
    }
    base_cells = {
        r.cid for r in assign.filter(F.col("vec_id") < n_base).collect()
    }
    # file-layout audit: cell dirs NOT in the delta's set hold exactly
    # the base write's files (1 parquet part); delta cells hold more
    corpus = store / "corpus"
    for d in corpus.glob("cell=*"):
        cell = int(d.name.split("=")[1])
        parts = list(d.glob("*.parquet"))
        if cell in delta_cells and cell in base_cells:
            assert len(parts) >= 2, f"delta cell {cell} missing append file"
        elif cell in base_cells:
            assert len(parts) == 1, f"base-only cell {cell} was rewritten"

    # self-audit vs the full rebuild: identical to the one-shot stored
    # index and the in-flight twin
    twin = [tuple(r) for r in
            all_specs()["llm_sim_knn_ivf"].fn(spark, SF_SMOKE).collect()]
    assert rows == twin


def test_lsh_stored_absorb_is_append_only(spark):
    """llm_dedup_lsh_stored: the batch absorb must APPEND to the
    persisted banding index — every band partition holds exactly one
    file from the base build plus the batch's appended file(s), and
    the query's verdicts must match the exact all-pairs oracle twin
    (checked by parity); here we pin the storage lifecycle."""
    import shutil
    from pathlib import Path

    from hdfs_mr_spark.sources.scans import _fixture_dir

    store = Path(_fixture_dir(SF_SMOKE)) / "lsh_store"
    shutil.rmtree(store, ignore_errors=True)  # force a fresh lifecycle

    fn = all_specs()["llm_dedup_lsh_stored"].fn
    rows = fn(spark, SF_SMOKE).collect()
    assert (store / "_built").exists() and (store / "_batch_done").exists()
    bands = sorted((store / "postings").glob("band=*"))
    assert len(bands) == 12
    for d in bands:
        parts = list(d.glob("*.parquet"))
        # base write (1+ files) + batch append (1+ files), never a rewrite
        assert len(parts) >= 2, f"{d.name}: batch absorb did not append"
    # verdicts are exhaustive over the batch and deterministic
    verdicts = {r.verdict for r in rows}
    assert verdicts <= {"dup_base", "dup_batch", "keep"}
    assert all(r.verdict != "keep" or r.matched_doc is None for r in rows)


def test_cdc_candidates_are_equi_joined(spark):
    """llm_dedup_cdc: candidate pairs must come from EQUI-joins on the
    chunk hash — never a Cartesian/nested-loop pairing (the
    sub-quadratic claim). Broadcast vs shuffle strategy is left to
    size estimates/AQE, per the repo's unhinted-vocabulary-join
    stance (the oracle's correctness doesn't depend on it)."""
    fn = all_specs()["llm_dedup_cdc"].fn
    plan = formatted_plan(fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]


def test_bpe_apply_is_mapside_replace_chain(spark):
    """llm_bpe_apply: after the (cached, serial) training pass, the
    ENCODE itself must be a pure projection over the exploded token
    stream plus aggregate exchanges — NO joins of any kind (the merges
    are plan literals, not a joined model table)."""
    fn = all_specs()["llm_bpe_apply"].fn
    plan = formatted_plan(fn(spark, SF_SMOKE))
    assert "Join" not in plan, plan[:800]
    # partial/final agg exchange + presentation sort (+AQE reads)
    assert plan.count("Exchange") <= 4, plan[:800]


def test_lsh_compact_one_file_per_band_and_v1_intact(spark):
    """llm_dedup_lsh_compact: the compacted v2 must hold exactly one
    parquet file per band, the fragmented v1 must remain on disk
    (snapshot discipline: compaction publishes a NEW version behind
    the pointer, never rewrites under readers), and _CURRENT must
    point at v2."""
    import shutil
    from pathlib import Path

    from hdfs_mr_spark.sources.scans import _fixture_dir

    store = Path(_fixture_dir(SF_SMOKE)) / "lsh_store_compact"
    shutil.rmtree(store, ignore_errors=True)  # fresh lifecycle

    fn = all_specs()["llm_dedup_lsh_compact"].fn
    rows = fn(spark, SF_SMOKE).collect()
    assert (store / "_CURRENT").read_text().strip() == "v2"
    v1_bands = sorted((store / "v1").glob("band=*"))
    v2_bands = sorted((store / "v2").glob("band=*"))
    assert len(v1_bands) == 12 and len(v2_bands) == 12
    for d in v2_bands:
        assert len(list(d.glob("*.parquet"))) == 1, f"{d.name} not compacted"
    for d in v1_bands:
        assert len(list(d.glob("*.parquet"))) >= 2, f"{d.name} v1 rewritten?"
    # lossless: identical verdicts to the fragmented-index twin
    twin = [tuple(r) for r in
            all_specs()["llm_dedup_lsh_stored"].fn(spark, SF_SMOKE).collect()]
    assert [tuple(r) for r in rows] == twin


def test_ppjoin_equals_bitmask_near_pairs(spark):
    """llm_dedup_ppjoin (r8): prefix filtering is recall-LOSSLESS for
    J >= 0.8 — the pair set must equal llm_dedup_near's exactly (the
    two ops are regime twins: dense bitmask vs sparse prefix join),
    and the prefix join must stay an equi-join, never a cartesian."""
    pp_df = all_specs()["llm_dedup_ppjoin"].fn(spark, SF_SMOKE)
    nodes = _nodes(formatted_plan(pp_df))
    assert not any("Cartesian" in n for n in nodes)
    pp = {(r.d1, r.d2) for r in pp_df.collect()}
    nr = {(r.d1, r.d2) for r in
          all_specs()["llm_dedup_near"].fn(spark, SF_SMOKE).collect()}
    assert pp == nr and len(pp) > 0


def test_lake_stats_skipping_scans_one_file(spark):
    """Data skipping must reach the PHYSICAL scan: on the real
    year-clustered store the 1997-predicate read plans exactly 1 of the
    7 live files as its input (the scan_partition_pruned discipline,
    applied to commit-log stats instead of directory partitions) — and
    the pruned scan still pushes the residual predicate down."""
    from datetime import datetime

    from hdfs_mr_spark.sources.lake import _prune, _snapshot
    from hdfs_mr_spark.sources.scans import _fixture_dir

    # build (or reuse) the store, then interrogate the layout directly
    df = all_specs()["lake_stats_skipping"].fn(spark, SF_SMOKE)
    snap = _snapshot(_fixture_dir(SF_SMOKE) / "lake_stats")
    files = _prune(snap, {"o_orderdate": (
        datetime(1997, 1, 1), datetime(1997, 12, 31, 23, 59, 59, 999999),
    )})
    live = len(snap)
    assert live == 7 and len(files) == 1, (live, files)
    # the op's own plan reads exactly that one file
    inputs = df.inputFiles()
    assert len(inputs) == 1 and files[0] in inputs[0], inputs
    plan = formatted_plan(df)
    assert "PushedFilters" in plan and "o_orderdate" in plan.split(
        "PushedFilters", 1)[1][:200]


def test_lake_delete_vectors_broadcast_anti_join_no_rewrite(spark):
    """The MOR delete read must (a) leave the data layout untouched —
    all 6 base data files are scanned, none rewritten — and (b) apply
    the deletion vector as a BROADCAST left-anti hash join (the sidecar
    is delete-cardinality-sized by contract; a shuffle or NL join here
    would re-partition the 100 TB scan side)."""
    from hdfs_mr_spark.sources.lake import _delete_files, _snapshot
    from hdfs_mr_spark.sources.scans import _fixture_dir

    df = all_specs()["lake_delete_vectors"].fn(spark, SF_SMOKE)
    root = _fixture_dir(SF_SMOKE) / "lake_dv"
    assert len(_snapshot(root)) == 6
    assert len(_delete_files(root)) == 1
    inputs = df.inputFiles()
    data_inputs = [f for f in inputs if "/data/" in f]
    dv_inputs = [f for f in inputs if "/dv/" in f]
    assert len(data_inputs) == 6 and len(dv_inputs) == 1, inputs
    plan = formatted_plan(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_lake_change_feed_drops_carried_rewrites(spark):
    """The COW merge rewrites EVERY file in full, so pre/post images
    each contain every order — a key-level (rather than row-content)
    diff would report the whole table as changed. The CDF must emit
    exactly one pre+post pair per row whose content actually changed
    (%7 keys not already urgent) and nothing else at the merge
    version."""
    from pyspark.sql import functions as F

    from hdfs_mr_spark.io import table

    rows = all_specs()["lake_change_feed"].fn(spark, SF_SMOKE).collect()
    o = table(spark, SF_SMOKE, "orders")
    n_orders = o.count()
    n_changed = o.filter(
        (F.col("o_orderkey") % 7 == 0)
        & (F.col("o_orderpriority") != "1-URGENT")
    ).count()
    v3 = {r._change_type: r.n_rows for r in rows if r._commit_version == 3}
    assert set(v3) == {"update_preimage", "update_postimage"}, v3
    assert v3["update_preimage"] == v3["update_postimage"] == n_changed
    assert sum(v3.values()) < n_orders  # carried rewrites dropped


def test_lake_zorder_prunes_both_dimensions(spark):
    """The z-ordered layout must beat the single-column clustering at
    the PHYSICAL scan: the 2-D predicate read plans exactly 1 of the 8
    z-files as input (vs 2 for the linear layout, metadata-asserted),
    and the residual predicate still reaches PushedFilters."""
    df = all_specs()["lake_zorder_skipping"].fn(spark, SF_SMOKE)
    inputs = df.inputFiles()
    assert len(inputs) == 1 and "/z/" in inputs[0], inputs
    plan = formatted_plan(df)
    assert "PushedFilters" in plan
    row = df.collect()
    assert all(r.z_files_2d == 1 and r.lin_files_2d == 2
               and r.z_files_date == 4 and r.lin_files_date == 8
               for r in row)


def test_join_knn_grid_both_tiers_fire(spark):
    """The kNN join's exactness argument has two tiers — grid-certified
    and brute-force fallback. Both must FIRE on a real fixture (a dead
    fallback branch would make the certificate logic untestable): at
    sf0.01 the supplier density leaves a real fraction of probes
    uncertified, and the union of the two tiers covers every probe
    exactly k times."""
    from pyspark.sql import functions as F

    from hdfs_mr_spark.io import table

    sf = "/root/testdata/sf0.01"
    df = all_specs()["join_knn_grid"].fn(spark, sf)
    per = df.groupBy("c_custkey").agg(F.count("*").alias("n"))
    assert per.filter(F.col("n") != 3).isEmpty()
    ncust = table(spark, sf, "customer").count()
    assert per.count() == ncust
    plan = formatted_plan(df)
    # fallback tier: broadcast nested loop against the corpus;
    # grid tier: an equi-join on the cell keys
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_lake_vacuum_respects_restore(spark):
    """RESTORE re-adds files that an earlier merge tombstoned; a vacuum
    computed as (all-ever-added minus LATEST-live) must therefore keep
    the re-added v1 files — an implementation that folded only remove
    actions (ignoring later re-adds) would delete live data."""
    from hdfs_mr_spark.sources.lake import _replay, _snapshot, _vacuum_dead
    from hdfs_mr_spark.sources.scans import _fixture_dir

    all_specs()["lake_restore_version"].fn(spark, SF_SMOKE)
    root = _fixture_dir(SF_SMOKE) / "lake_restore"
    live = set(_snapshot(root))
    removed_ever = set()
    for _, acts in _replay(root):
        removed_ever.update(acts.get("remove", []))
    dead = set(_vacuum_dead(root)[1])
    # every latest-live file was BOTH added and (by the merge) removed
    # at some version — the naive remove-fold would kill all of them
    assert live <= removed_ever
    assert not (live & dead)
    # the dead set = the merge's 6 rewrites + the 2 batch-2 originals
    # the restore-to-v1 dropped; the 4 restored v1 files stay live
    assert len(dead) == 8, sorted(dead)
    assert len(live) == 4


def test_lake_bloom_index_scans_one_file(spark):
    """The bloom point lookup must reach the physical scan: exactly 1
    of the 7 year-clustered files is planned as input (min/max stats
    could never prune an orderkey lookup on this layout — the bloom
    sidecar is what makes the needle read O(1 file))."""
    df = all_specs()["lake_bloom_index"].fn(spark, SF_SMOKE)
    inputs = df.inputFiles()
    assert len(inputs) == 1, inputs
    rows = df.collect()
    assert rows and all(
        r.files_live == 7 and r.files_scanned == 1 and r.n_rows >= 1
        for r in rows
    )


def test_pq_delta_store_immune_to_reuse_cache(spark):
    """r10 regression: the assign/rsubs index-cache keys must carry
    train_below. In a reuse-enabled session that runs the full-trained
    ivf_pq first, the base-trained delta-store build used to be served
    the FULL-trained coarse assignment from cache — persisting a store
    whose codes used full-trained cells against base-trained centroids
    (caught by the r10 sf0.1 sweep after bench, a reuse session, built
    the store cold). The delta op's result must be identical whether
    built inside a polluted reuse session or a fresh reuse-off one."""
    import shutil

    from hdfs_mr_spark.sources.scans import _fixture_dir

    store = _fixture_dir(SF_SMOKE) / "ivf_pq_store_delta_cl1"
    specs = all_specs()
    shutil.rmtree(store, ignore_errors=True)
    spark.conf.set("spark.hdfs_mr.pq.reuseIndex", "true")
    try:
        specs["llm_sim_knn_ivf_pq"].fn(spark, SF_SMOKE).collect()
        d1 = sorted(
            map(tuple, specs["llm_sim_knn_ivf_pq_delta"]
                .fn(spark, SF_SMOKE).collect())
        )
    finally:
        spark.conf.set("spark.hdfs_mr.pq.reuseIndex", "false")
    shutil.rmtree(store, ignore_errors=True)
    d2 = sorted(
        map(tuple, specs["llm_sim_knn_ivf_pq_delta"]
            .fn(spark, SF_SMOKE).collect())
    )
    assert d1 == d2


def test_headline_exchange_counts_pinned(spark):
    """Exchange-count regression gate (r11 — VERDICT r10 item 6): every
    bench-headline query's shuffle/join-strategy fingerprint (exchange
    count, broadcast-hash vs sort-merge vs nested-loop join counts,
    cartesian products) is pinned against tests/exchange_counts.json,
    so a silent plan regression — a broadcast flipping to sort-merge, a
    new shuffle sneaking under a refactor (the r8 drift scare) — fails
    THIS test instead of surfacing as bench forensics two rounds later.

    Deliberate plan changes are blessed by regenerating the JSON with
    `python tools/exchange_counts.py` and reviewing the diff
    query-by-query. Canary (verified r11, measured and documented in
    PERF.md): with the broadcast hint stripped from
    join_broadcast_inner and autoBroadcastJoinThreshold=-1, this gate
    goes RED on that query (broadcast_hash_joins 1 -> 0,
    sort_merge_joins 0 -> 1, exchanges 1 -> 2) — the exact failure
    class it exists to catch."""
    import json
    from pathlib import Path

    from bench import HEADLINE
    from hdfs_mr_spark.plans.audit import plan_summary

    pinned = json.loads(
        (Path(__file__).parent / "exchange_counts.json").read_text()
    )
    keys = pinned["keys"]
    specs = all_specs()
    drifted = {}
    missing = [n for n in HEADLINE if n not in pinned["queries"]]
    assert missing == [], (
        f"headline queries with no pinned fingerprint: {missing} — "
        "run tools/exchange_counts.py"
    )
    for name in HEADLINE:
        s = plan_summary(specs[name].fn(spark, SF_SMOKE))
        got = {k: s[k] for k in keys}
        want = pinned["queries"][name]
        if got != want:
            drifted[name] = {"pinned": want, "now": got}
    assert drifted == {}, (
        "plan fingerprints drifted (deliberate? regenerate via "
        f"tools/exchange_counts.py and review): {drifted}"
    )


def _single_partition_exchanges_outside_broadcast(plan: str) -> list[str]:
    """Ids of `Exchange SinglePartition` nodes with no BroadcastExchange
    above them in the plan tree. A 1-row scalar aggregate that is
    broadcast into a join is fine; anything else puts a whole stage on
    one task."""
    import re

    ids = re.findall(
        r"^\((\d+)\) Exchange\n(?:.+\n)*?Arguments: SinglePartition", plan, re.M
    )
    tree = plan.split("\n\n", 1)[0].splitlines()
    bad = []
    for i in ids:
        row = next(k for k, ln in enumerate(tree) if ln.endswith(f" Exchange ({i})"))
        col = re.search(r"[A-Za-z]", tree[row]).start()
        for ln in reversed(tree[:row]):
            m = re.search(r"[A-Za-z]\w*", ln)
            if m and m.start() < col:
                col = m.start()
                if m.group() == "BroadcastExchange":
                    break
        else:
            bad.append(i)
    return bad


def test_sequential_folds_run_in_jvm(spark):
    """The per-key sequential folds (Viterbi DP, WordPiece walk,
    Croston, Holt and damped-ETS recurrences, DTW) run through
    exprs.fold_by_key: no pandas grouped-map kernel, no stage on a
    single partition, and no fixed hash-bucket constant left at those
    sites. No operator module calls applyInPandas at all; the grouped-
    map API is exercised on purpose only outside operators/ (the
    udf_grouped_map query and the streaming applyInPandasWithState
    operators)."""
    import inspect
    import re
    from pathlib import Path

    from hdfs_mr_spark.operators import llm_text, windows

    names = ("llm_tokenizer_viterbi", "llm_tokenizer_wordpiece",
             "ts_forecast_croston", "ts_holt_winters",
             "ts_forecast_ets_damped", "ts_dtw")
    specs = all_specs()
    for name in names:
        plan = _plan(spark, name)
        assert "FlatMapGroupsInPandas" not in plan, name
        assert _single_partition_exchanges_outside_broadcast(plan) == [], name
    sources = [inspect.getsource(specs[n].fn) for n in names] + [
        inspect.getsource(llm_text._viterbi_fold),
        inspect.getsource(llm_text._wordpiece_fold),
        inspect.getsource(windows._smoothed_status_forecast),
    ]
    for src in sources:
        assert not re.search(r"%\s*256\b|pmod\([^)]*\b256\b", src)
    ops = Path(windows.__file__).parent
    calls = [str(f.relative_to(ops)) for f in sorted(ops.rglob("*.py"))
             if ".applyInPandas(" in f.read_text()]
    assert calls == [], calls


def test_ann_index_layer_written_once():
    """Every operator store publishes through scans._publish_store (no
    hand-rolled os.rename outside llm_dedup_lsh_compact, whose CAS
    pointer store recovers from a crash on its own), and the IVF
    quantizer lives at module level in llm_similarity: no operator
    re-declares a nested _nearest_cells / _assign / _cell_ranks."""
    import ast
    from pathlib import Path

    import hdfs_mr_spark.operators as ops

    closures = {"_nearest_cells", "_assign", "_cell_ranks"}
    offenders = []
    for path in sorted(Path(ops.__file__).parent.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "rename"
                        and isinstance(node.func.value, ast.Name)
                        and node.func.value.id in ("os", "_os")
                        and owner != "llm_dedup_lsh_compact"):
                    offenders.append(f"{path.name}:{node.lineno} os.rename in {owner}")
                if (node is not top
                        and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                        and node.name in closures):
                    offenders.append(f"{path.name}:{node.lineno} nested {node.name} in {owner}")
    assert offenders == []


def test_stream_drains_written_once():
    """Every bounded drain in streaming/queries.py runs through the
    harness: no temp dir is made and no query is named, started or
    waited for outside _drain_root / _drain."""
    import ast
    from pathlib import Path

    from hdfs_mr_spark.streaming import queries

    harness = {"_drain", "_drain_root"}
    banned = {"mkdtemp", "awaitTermination", "processAllAvailable",
              "queryName", "start"}
    tree = ast.parse(Path(queries.__file__).read_text())
    offenders = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        if owner in harness:
            continue
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            fn = getattr(node.func, "attr", getattr(node.func, "id", None))
            if fn in banned:
                offenders.append(f"queries.py:{node.lineno} {fn}( in {owner}")
    assert offenders == []


def test_lake_log_format_written_once():
    """The lake commit-log format lives in the log layer of
    sources/lake.py: across hdfs_mr_spark/ and tools/ the "_log"
    directory literal appears only in _log_dir and the v{...:010d}.json
    version-file format only in _version_path; DataSourceStreamReader
    is subclassed in one place (lake_source.lake_stream_source); and no
    assert statement appears anywhere under hdfs_mr_spark/ or tools/,
    so python -O strips no commit and no check."""
    import ast
    import re
    from pathlib import Path

    import hdfs_mr_spark

    repo = Path(hdfs_mr_spark.__file__).resolve().parents[1]
    version_file = re.compile(r"v\{[^{}]*:010d\}\.json")
    offenders, readers = [], []
    files = [*(repo / "hdfs_mr_spark").rglob("*.py"),
             *(repo / "tools").glob("*.py")]
    for path in sorted(files):
        rel = str(path.relative_to(repo))
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", "<module>")
            layer = rel == "hdfs_mr_spark/sources/lake.py" and owner
            for node in ast.walk(top):
                where = f"{rel}:{getattr(node, 'lineno', 0)} in {owner}"
                if (isinstance(node, ast.Constant) and node.value == "_log"
                        and layer != "_log_dir"):
                    offenders.append(f"{where}: '_log'")
                if (isinstance(node, ast.JoinedStr)
                        and version_file.search(ast.unparse(node))
                        and layer != "_version_path"):
                    offenders.append(f"{where}: version-file name")
                if isinstance(node, ast.ClassDef) and any(
                        getattr(b, "id", getattr(b, "attr", None))
                        == "DataSourceStreamReader" for b in node.bases):
                    readers.append(where)
                if isinstance(node, ast.Assert):
                    offenders.append(f"{where}: assert statement")
    assert offenders == []
    assert [r.split(":")[0] for r in readers] == [
        "hdfs_mr_spark/streaming/lake_source.py"], readers


def test_udfs_decode_through_media_codecs():
    """functions/udfs.py decodes every payload through the tested codecs
    in sources/media.py: no kernel re-declares a codec piece as a
    nested function (paeth, idct, Huffman reads, WAV/PNG/JPEG header
    walks, decode*) or a zigzag / IDCT table, and the only worker
    sys.path injection is the one inside repo_kernel."""
    import ast
    from pathlib import Path

    from hdfs_mr_spark.functions import udfs

    twins = {"paeth", "idct", "huff_map", "huff_read", "extend",
             "wav_parse", "png_dims", "jpeg_dims", "fake_decode"}
    tree = ast.parse(Path(udfs.__file__).read_text())
    offenders = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            where = f"udfs.py:{getattr(node, 'lineno', 0)} in {owner}"
            if (node is not top
                    and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and (node.name in twins or node.name.startswith("decode"))):
                offenders.append(f"{where}: nested {node.name}")
            if (isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store)
                    and node.id in ("ZIG", "COS")):
                offenders.append(f"{where}: {node.id} table")
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "insert"
                    and ast.unparse(node.func.value).endswith("sys.path")
                    and owner != "repo_kernel"):
                offenders.append(f"{where}: sys.path.insert")
    assert offenders == []


def test_graph_rounds_written_once():
    """Each graph-round decision is written once: the l_quantity >= 40
    purchase incidence is built only in mrjobs._purchase_graph; no
    mrjobs round picks a label with min(struct(...)) (LPA is one mode
    aggregate); and across mrjobs.py, llm_dedup.py and exprs.py the
    frontier merge (a full outer join) and a loop-borne driver stop
    test (a count, isEmpty, first or Observation inside a loop) live
    only in exprs.relax, with _cc_star_components (large-star /
    small-star, a different algorithm) the one other such loop."""
    import ast
    from pathlib import Path

    import hdfs_mr_spark

    pkg = Path(hdfs_mr_spark.__file__).resolve().parent

    def name(call):
        return getattr(call.func, "attr", getattr(call.func, "id", None))

    def calls(tree):
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    yield owner, node

    mr = ast.parse((pkg / "operators" / "mrjobs.py").read_text())
    incidence = [
        owner for owner, c in calls(mr)
        if name(c) == "filter" and c.args
        and isinstance(c.args[0], ast.Compare)
        and "l_quantity" in ast.unparse(c.args[0].left)
    ]
    assert incidence == ["_purchase_graph"]
    assert [
        f"mrjobs.py:{c.lineno} in {owner}" for owner, c in calls(mr)
        if name(c) == "min" and c.args and isinstance(c.args[0], ast.Call)
        and name(c.args[0]) == "struct"
    ] == []

    full = {"full", "outer", "fullouter", "full_outer"}
    stop_calls = {"count", "isEmpty", "first", "Observation"}
    merges, stops = [], []
    for rel in ("operators/mrjobs.py", "operators/llm_dedup.py", "exprs.py"):
        tree = ast.parse((pkg / rel).read_text())
        for owner, c in calls(tree):
            how = [*c.args[2:3], *(k.value for k in c.keywords if k.arg == "how")]
            if name(c) == "join" and any(
                    isinstance(h, ast.Constant) and h.value in full for h in how):
                merges.append(f"{rel} {owner}")
        for top in tree.body:
            for loop in ast.walk(top):
                if isinstance(loop, (ast.For, ast.While)) and any(
                        isinstance(n, ast.Call) and name(n) in stop_calls
                        for n in ast.walk(loop)):
                    stops.append(f"{rel} {getattr(top, 'name', '<module>')}")
    assert merges == ["exprs.py relax"]
    assert sorted(set(stops)) == [
        "exprs.py relax", "operators/llm_dedup.py _cc_star_components"]
