"""Physical-plan assertions: the 100 TB posture is checked here, not
eyeballed. Filters/projections must reach the parquet scan, small dims
must broadcast, Python UDFs must be Arrow-batched, and nothing may fall
back to an unblocked cartesian product."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, _plan, _specs


def test_parquet_scan_pushes_filter_and_prunes_columns(spark):
    plan = _plan(_specs()["scan_parquet"].fn(spark, SF_SMOKE))
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: the wide columns never enter the scan schema
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_extendedprice" not in read_schema
    assert "l_comment" not in read_schema


def test_flagship_broadcasts_group_averages(spark):
    plan = _plan(_specs()["flagship_cluster_avg"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    # pre-execution AQE plans don't render WholeStageCodegen spans;
    # codegen coverage is asserted on the executed plan instead
    df = _specs()["flagship_cluster_avg"].fn(spark, SF_SMOKE)
    df.collect()  # tiny result; executes THIS queryExecution
    final = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "isFinalPlan=true" in final


def test_small_dim_join_is_broadcast(spark):
    plan = _plan(_specs()["join_inner"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_pandas_udf_is_arrow_not_row_python(spark):
    plan = _plan(_specs()["udf_pandas"].fn(spark, SF_SMOKE))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time fallback


def test_no_unblocked_cartesian_products(spark):
    """Pairwise operators must block before joining: a CartesianProduct
    node over two data-sized inputs is the anti-pattern. The only cross
    joins allowed are against provably-tiny broadcast sides."""
    for name in ("dedup_jaccard", "dedup_minhash", "sim_lsh",
                 "dedup_minhash_checked", "dedup_simhash_checked",
                 "sim_lsh_realistic", "dedup_minhash_realistic",
                 "dedup_minhash_incremental"):
        plan = _plan(_specs()[name].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketed on the join key -> the sort-merge join must
    read buckets directly: no Exchange anywhere in the join subtree."""
    df = _specs()["join_bucketed"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    join_section = plan.split("HashAggregate")[0]  # below the final agg
    assert "Exchange" not in join_section, join_section
    assert "SelectedBucketsCount" in plan


def test_group_aggregates_are_partial(spark):
    """Hash aggregates must have a partial (map-side combine) phase."""
    plan = _plan(_specs()["agg_avg_groupby"].fn(spark, SF_SMOKE))
    assert "partial_" in plan  # partial_count / partial_sum


def test_tpch_q1_scan_bound(spark):
    """Q1: the date predicate reaches the parquet scan, the aggregate
    has a map-side partial phase, and no join appears anywhere."""
    plan = _plan(_specs()["tpch_q1"].fn(spark, SF_SMOKE))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    assert "partial_" in plan
    assert "Join" not in plan


def test_tpch_q3_broadcasts_filtered_customer(spark):
    """Q3: the segment-filtered customer side must broadcast, and the
    top-10 must plan as TakeOrderedAndProject (no global sort)."""
    plan = _plan(_specs()["tpch_q3"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort" not in plan.replace("TakeOrderedAndProject", "")


def test_tpch_q5_single_fact_shuffle(spark):
    """Q5: all four dimension sides broadcast -- the only shuffle
    exchanges feed the lineitem<->orders join and the final agg."""
    plan = _plan(_specs()["tpch_q5"].fn(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_tpch_q18_preaggregates_before_join(spark):
    """Q18: the quantity rollup must happen BEFORE the orders join
    (partial agg below the join), and the rare-order side broadcasts."""
    plan = _plan(_specs()["tpch_q18"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_tpch_q7_broadcasts_both_dimension_paths(spark):
    """Q7: supplier-path and customer-path nation filters shrink both
    dims to broadcast size; the fact shuffles at most once."""
    plan = _plan(_specs()["tpch_q7"].fn(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_partitioned_sink_read_prunes_partitions(spark):
    """sink_partition_prune: the o_year predicate must appear as a
    PartitionFilter (directory pruning at planning time), not a data
    filter -- one directory listed and scanned."""
    plan = _plan(_specs()["sink_partition_prune"].fn(spark, SF_SMOKE))
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "o_year" in seg


def test_pack_sequences_no_global_token_window(spark):
    """pipeline_pack_sequences: the prefix-sum window runs over doc
    rows only -- the plan's Window must sit above the doc-count
    aggregate, and no Window may consume the exploded token stream."""
    plan = _plan(_specs()["pipeline_pack_sequences"].fn(spark, SF_SMOKE))
    assert "Window" in plan
    # the token explode (Generate) must not feed directly into a Window:
    # between them sits the doc-level HashAggregate
    gen_pos = plan.find("Generate")
    assert gen_pos != -1
    assert "partial_count" in plan
    # two-level offsets: the only SinglePartition exchange is the
    # shard-total table -- neither token rows (pos/token) nor doc rows
    # (doc_id) may funnel through one reducer
    for block in plan.split("\n\n"):
        if "SinglePartition" in block:
            for col in ("doc_id", "token", "pos"):
                assert col not in block, (col, block)


def test_grouped_pandas_plans_as_flatmap_groups(spark):
    """udf_grouped_pandas must plan as FlatMapGroupsInPandas (one
    Arrow batch per group), never a row-python fallback."""
    plan = _plan(_specs()["udf_grouped_pandas"].fn(spark, SF_SMOKE))
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_sessionize_single_shuffle_on_user(spark):
    """Both windows (lag flag + running sum) must share ONE exchange on
    user_id -- a second shuffle would double the cost of the most
    common telemetry query."""
    import re
    plan = _plan(_specs()["sessionize_events"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_stable_row_ids_broadcasts_offsets_no_global_sort(spark):
    """The per-bucket offsets (tiny) must broadcast back, and nothing
    may plan a global (non-bucketed) sort of the row-sized side."""
    plan = _plan(_specs()["stable_row_ids"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    # the only rangepartitioning allowed is the n_buckets-row offset
    # window; the row-sized side sorts within hash partitions only
    for line in plan.splitlines():
        if "Exchange rangepartitioning" in line:
            # global sort of the data rows would list o_orderkey ASC
            # with the full row schema; offsets sort on bucket only
            assert "bucket" in line and "o_orderkey ASC" not in line


def test_pipeline_docs_text_never_shuffles(spark):
    """pipeline_docs dedups via keeper-ids + join-back: every Exchange
    in the plan must carry digests/ids only -- the text column riding
    a shuffle is the regression this guards against."""
    plan = _plan(_specs()["pipeline_docs"].fn(spark, SF_SMOKE))
    for block in plan.split("\n\n"):
        if ") Exchange" in block or ") BroadcastExchange" in block:
            assert "text#" not in block, block


def test_window_ntile_no_global_row_window(spark):
    """window_ntile: the row-sized side must rank inside hash
    partitions (bucket) and get its global rank via a broadcast
    offset join; the only SinglePartition exchange allowed is the
    n_buckets-row count table (no row columns in its input)."""
    plan = _plan(_specs()["window_ntile"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    for block in plan.split("\n\n"):
        if "SinglePartition" in block:
            assert "c_custkey" not in block and "c_acctbal" not in block
    # no rangepartitioning global sort of the customer rows either
    assert "Exchange rangepartitioning" not in plan


def test_scd2_history_single_window_shuffle(spark):
    import re
    plan = _plan(_specs()["scd2_history"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_arrow_batch_udf_pushes_filter_below_python(spark):
    """mapInArrow is a plan node; the returnflag filter and column
    pruning must still reach the parquet scan underneath it."""
    plan = _plan(_specs()["udf_arrow_batch"].fn(spark, SF_SMOKE))
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1].split("\n")[0]
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_tax" not in read_schema


def test_decontaminate_broadcasts_benchmark_shingles(spark):
    """The benchmark shingle set must BROADCAST: corpus-side shingles
    stream past it map-side. A sort-merge join here would shuffle the
    full corpus shingle explosion -- the 100 TB killer."""
    plan = _plan(_specs()["pipeline_decontaminate"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_unigram_logprob_broadcasts_vocab_no_python(spark):
    """Vocabulary joins back via broadcast (it is tiny vs the corpus)
    and the whole scoring path stays JVM-side."""
    plan = _plan(_specs()["text_unigram_logprob"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total scalar
    assert "EvalPython" not in plan


def test_pii_redact_is_pure_map_no_shuffle_no_python(spark):
    """Redaction is a regex map inside codegen: no Exchange, no Python
    eval anywhere in the plan."""
    plan = _plan(_specs()["text_pii_redact"].fn(spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_sq8_is_expression_only(spark):
    """Quantize -> decode -> score is higher-order array expressions;
    no Python eval may appear."""
    plan = _plan(_specs()["sim_sq8"].fn(spark, SF_SMOKE))
    assert "EvalPython" not in plan


def test_incremental_merge_partials_are_partial_aggregates(spark):
    """Both the state build and the merge re-aggregate must plan
    map-side partial phases (the algebra that makes the states
    mergeable at all)."""
    plan = _plan(_specs()["agg_incremental_merge"].fn(spark, SF_SMOKE))
    assert "partial_count" in plan or "partial_sum" in plan


def test_observed_metrics_match_aggregate(spark):
    """The observe() metrics collected during the run must equal the
    query's own aggregate totals -- the free-ingest-validation
    contract scan_observed documents."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from recommendation_system_spark_ml_spark.sources.catalog import load

    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    obs = Observation("qc")
    df = (load(spark, SF_SMOKE, "lineitem")
          .select(cents.alias("cents"))
          .observe(obs, F.count(F.lit(1)).alias("rows_seen"),
                   F.sum("cents").alias("cents_seen")))
    agg = df.agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")).first()
    got = obs.get
    assert got["rows_seen"] == agg.n
    assert got["cents_seen"] == agg.c


def test_bottom_k_sample_pushes_partial_limit(spark):
    """sample_bottom_k's rank<=k predicate must become a
    WindowGroupLimit so each partition forwards at most k rows per
    group BEFORE the shuffle -- the mergeable bottom-k property."""
    plan = _plan(_specs()["sample_bottom_k"].fn(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan


def test_bloom_pruned_join_filters_before_exchange(spark):
    """join_bloom_pruned: the probe side's bloom test must run as a
    plain Filter on the scan side of the join Exchange (map-side
    pruning), and the 1-row bloom table must arrive by broadcast --
    never a row-sized shuffle of its own."""
    plan = _plan(_specs()["join_bloom_pruned"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the bitwise membership test is a Filter expression, pre-join
    assert plan.count("Filter") >= 1 and "bloom" in plan


def test_pagerank_plan_has_no_cartesian_and_bounded_lineage(spark):
    plan = _plan(_specs()["graph_pagerank"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # mid-loop localCheckpoint cuts lineage: the final plan must NOT
    # contain 10 stacked iterations of the edge join (scans appear for
    # at most N_ITER - CHECKPOINT_EVERY iterations above the cut)
    from recommendation_system_spark_ml_spark.operators import graph
    assert plan.count("HashAggregate") <= 4 * (graph.N_ITER - graph.CHECKPOINT_EVERY) + 8


def test_gapfill_single_exchange_per_key(spark):
    """ts_gapfill: groupBy, spine explode, and both fill windows all
    key on user_id -- the plan must not re-shuffle between the window
    frames (both windows share one sort/exchange)."""
    plan = _plan(_specs()["ts_gapfill"].fn(spark, SF_SMOKE))
    # two window frames (asc rows-preceding + following) over the same
    # partitioning: at most 3 exchanges total (scan agg + spine join +
    # window), not one per window function
    assert plan.count("Exchange") <= 6


def test_curriculum_no_global_row_sort(spark):
    """pipeline_curriculum: global curriculum ranks must come from
    bucket-parallel windows + a broadcast offset join; the only
    SinglePartition structure allowed is the bucket-count table (no
    doc-sized columns through it), and no rangepartitioning sort of
    the documents."""
    plan = _plan(_specs()["pipeline_curriculum"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    for block in plan.split("\n\n"):
        if "SinglePartition" in block:
            assert "doc_id" not in block and "text" not in block
    assert "Exchange rangepartitioning" not in plan


def test_semantic_dedup_assignment_is_map_side(spark):
    """dedup_semantic: the top-2 cell assignment must be MAP-SIDE
    (Arrow-batched NumPy matmul against the broadcast centroid
    matrix + explode), NOT the old crossJoin + row_number() window
    that shuffled corpus x nlist rows with their vectors. No Window
    node anywhere; the only per-vector hash partitioning allowed is
    the within-cell pair join on `cell` (and the final group-by)."""
    from recommendation_system_spark_ml_spark.operators.dedup import (
        dedup_semantic_removals)

    plan = _plan(dedup_semantic_removals(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "hashpartitioning(vec_id" not in plan
    # the assignment is Arrow-vectorized, never row-at-a-time Python
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # the sliced assignment feeds the join through an explode
    assert "Generate" in plan and "explode" in plan


def test_token_budget_no_global_row_sort(spark):
    """pipeline_token_budget: the global cumulative token sum must be
    the two-level recipe (bucket-parallel cumsum + broadcast offsets),
    never a rangepartitioning sort of the documents; the only
    SinglePartition structure allowed is the bucket-total table."""
    plan = _plan(_specs()["pipeline_token_budget"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "Exchange rangepartitioning" not in plan
    for block in plan.split("\n\n"):
        if "SinglePartition" in block:
            assert "doc_id" not in block and "text" not in block


def test_knn_graph_arrow_probe_no_cartesian(spark):
    """sim_knn_graph: candidates must come from the cell-id equi-join
    (never a cross product), the probe assignment must be the Arrow
    matmul UDF, and the norms must ride as columns (no per-pair norm
    aggregates -- the plan's join output carries qnrm/nnrm)."""
    plan = _plan(_specs()["sim_knn_graph"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "qnrm" in plan and "nnrm" in plan


def test_gopher_rules_pure_map_no_shuffle_no_python(spark):
    """text_gopher_rules is one scan projection: every rule is integer
    arithmetic over per-row arrays inside codegen -- no Exchange, no
    Python eval anywhere in the plan."""
    plan = _plan(_specs()["text_gopher_rules"].fn(spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_domain_mixture_gate_is_broadcast_map_filter(spark):
    """pipeline_domain_mixture: the per-domain cutoff table joins back
    via BROADCAST and the keep gate filters map-side -- the corpus
    itself must never ride an Exchange (only the tiny lang-count
    aggregate shuffles, and its rows are (lang, cnt) pairs)."""
    plan = _plan(_specs()["pipeline_domain_mixture"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for block in plan.split("\n\n"):
        if ") Exchange" in block:
            assert "doc_id" not in block, block


def test_funnel_report_text_never_shuffles(spark):
    """pipeline_funnel_report: stage counts are map-side-combinable
    partial aggregates and the dedup stage shuffles digests only --
    the text column must not appear in any Exchange input."""
    plan = _plan(_specs()["pipeline_funnel_report"].fn(spark, SF_SMOKE))
    assert "partial_" in plan
    for block in plan.split("\n\n"):
        if ") Exchange" in block or ") BroadcastExchange" in block:
            assert "text#" not in block, block


def test_containment_ids_first_no_text_on_exchanges(spark):
    """dedup_containment: the inverted-index self-join and the pair
    aggregate must carry (shingle, doc_id) only -- the document text
    never rides an Exchange -- and no cross product may appear."""
    plan = _plan(_specs()["dedup_containment"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    for block in plan.split("\n\n"):
        if ") Exchange" in block or ") BroadcastExchange" in block:
            assert "text#" not in block, block


def test_kmv_sketch_bottom_k_is_group_limit_pushed(spark):
    """agg_kmv_jaccard: the per-group bottom-k sketch build must plan
    as WindowGroupLimit (partial limit below the shuffle, the
    sample_bottom_k pattern), and the tiny pair table must broadcast."""
    plan = _plan(_specs()["agg_kmv_jaccard"].fn(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_late_data_metadata_sized_window_only(spark):
    """stream_late_data: the only unpartitioned window frame runs over
    the per-micro-batch max table (metadata-sized -- its input carries
    batch/mx only, never event rows), and the per-row join back to the
    watermark table is a broadcast."""
    plan = _plan(_specs()["stream_late_data"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    for block in plan.split("\n\n"):
        if "SinglePartition" in block:
            assert "event_id" not in block and "es#" not in block, block


def test_dpp_join_prunes_fact_partitions_at_runtime(spark):
    """join_dpp_partitioned: the era predicate lives on the dimension,
    so the fact scan must carry a dynamicpruningexpression partition
    filter (runtime pruning from the broadcast dim), not a full scan."""
    plan = _plan(_specs()["join_dpp_partitioned"].fn(spark, SF_SMOKE))
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "BroadcastHashJoin" in plan


def test_ohlc_single_exchange_serves_window_and_rollup(spark):
    """ts_resample_ohlc: the open/close window partitions by
    (user_id, hour) and the bar aggregate groups by the same keys, so
    the whole query must run off ONE Exchange with a partial aggregate
    above the window (the map-reduce bar build)."""
    import re
    plan = _plan(_specs()["ts_resample_ohlc"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "partial_max" in plan or "partial_" in plan


def test_span_merge_shuffles_shingle_hashes_not_strings(spark):
    """dedup_span_merge (r5): the duplicated-shingle count and the
    survivor semi-join both key on xxhash64(shingle) -- no Exchange
    anywhere in the plan may partition on, or carry, the 8-gram
    string (the ids-first plan the docstring used to defer to 100 TB).
    Same discipline for dedup_ngram_spans' count Exchange, whose only
    string-bearing shuffle is the survivors-only final dedup fed by a
    broadcast of the survivor stats."""
    plan = _plan(_specs()["dedup_span_merge"].fn(spark, SF_SMOKE))
    assert "hashpartitioning(h#" in plan
    assert "hashpartitioning(shingle" not in plan
    for block in plan.split("\n\n"):
        if ") Exchange" in block or ") BroadcastExchange" in block:
            assert "shingle#" not in block, block

    plan = _plan(_specs()["dedup_ngram_spans"].fn(spark, SF_SMOKE))
    assert "hashpartitioning(shingle" not in plan
    assert "BroadcastExchange" in plan  # survivor stats rejoin strings
    string_exchanges = [
        b for b in plan.split("\n\n")
        if ") Exchange" in b and "shingle#" in b]
    # only the survivors-only one-row-per-shingle dedup may carry it
    assert len(string_exchanges) <= 1, plan


def test_rrf_and_sampler_use_topk_heaps_not_global_sorts(spark):
    """The r5 ranking operators must never plan a global sort
    Exchange: sim_hybrid_rrf's two candidate lists and
    sample_weighted_aes's top-k are TakeOrderedAndProject
    (per-partition heaps + driver merge); the sampler's whole plan is
    zero-Exchange (map expression + heaps)."""
    plan = _plan(_specs()["sim_hybrid_rrf"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan

    import re
    plan = _plan(_specs()["sample_weighted_aes"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0, plan


def test_contamination_matrix_no_string_shingles_on_exchanges(spark):
    """pipeline_contamination_matrix: per-source distinct and the
    source<source self-join key on xxhash64(shingle) -- no Exchange
    carries an 8-gram string (dedup_span_merge's r5 discipline)."""
    plan = _plan(_specs()["pipeline_contamination_matrix"].fn(
        spark, SF_SMOKE))
    assert "hashpartitioning(shingle" not in plan
    for block in plan.split("\n\n"):
        if ") Exchange" in block or ") BroadcastExchange" in block:
            assert "shingle#" not in block, block


def test_table_stats_single_scan_expand(spark):
    """analyze_table_stats: all four columns' stats ride ONE lineitem
    scan -- the multi-distinct plans through Expand, and exactly one
    'Scan parquet' node appears."""
    import re
    plan = _plan(_specs()["analyze_table_stats"].fn(spark, SF_SMOKE))
    assert "Expand" in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan


def test_domain_quota_rank_limit_is_pushed_below_exchange(spark):
    """pipeline_domain_quota's row_number()<=K must compile to
    WindowGroupLimit so a hot mega-domain never materializes more
    than K candidate rows per upstream partition."""
    plan = _plan(_specs()["pipeline_domain_quota"].fn(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan


def test_rolling_median_single_keyed_exchange_no_python(spark):
    """window_rolling_median's in-frame sort is an expression over
    <= ROLLMED_SPAN elements, not a shuffle or a UDF: exactly one
    Exchange (the per-user window partitioning), no Python nodes,
    no global (unpartitioned) sort."""
    plan = _plan(_specs()["window_rolling_median"].fn(spark, SF_SMOKE))
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "SinglePartition" not in plan
    assert "EvalPython" not in plan
    assert plan.count("collect_list") == 1  # one window expression
    assert plan.count("array_sort") == 1    # frame sorted once


def test_ts_decompose_trend_is_grouped_not_global_window(spark):
    """ts_decompose's moving-average trend must run as the explode +
    groupBy restatement (partial-aggregated, data-parallel), never an
    unpartitioned ordered Window over the whole series."""
    plan = _plan(_specs()["ts_decompose"].fn(spark, SF_SMOKE))
    assert "Window" not in plan          # no global ordered window
    assert "explode" in plan             # membership restatement
    assert "Scan parquet" not in plan    # branches read the bounded
    #                                      checkpointed bucket table


def test_dq_expectations_single_scan(spark):
    """All 8 data-quality rules must ride ONE lineitem scan as
    conditional sums; the per-rule unpivot is a stack() over finished
    scalars, never a second pass."""
    import re
    plan = _plan(_specs()["dq_expectations"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan


def test_top_terms_rank_limit_is_pushed_below_exchange(spark):
    """text_top_terms' row_number()<=K must compile to
    WindowGroupLimit so a long document never materializes its full
    term list on the reduce side."""
    plan = _plan(_specs()["text_top_terms"].fn(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan


def test_mutual_information_reads_checkpointed_joint_once(spark):
    """agg_mutual_information's four branches (cells, margins, total)
    must re-read the 100-cell checkpointed joint table, never re-scan
    documents; margins join back broadcast."""
    plan = _plan(_specs()["agg_mutual_information"].fn(spark, SF_SMOKE))
    assert "Scan parquet" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_autocorrelation_no_window_no_rescan(spark):
    """ts_autocorrelation is a broadcast lag-join over the bounded
    checkpointed bucket table: no ordered Window, no parquet re-scan,
    no sort-merge join."""
    plan = _plan(_specs()["ts_autocorrelation"].fn(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "Scan parquet" not in plan
    assert "SortMergeJoin" not in plan


def test_class_centroids_partial_agg_no_python(spark):
    """vec_class_centroids' explode rides map-side into a
    partial-combined aggregate: one Exchange (the 640-cell keyspace),
    no Python nodes."""
    import re
    plan = _plan(_specs()["vec_class_centroids"].fn(spark, SF_SMOKE))
    assert "EvalPython" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_degree_histogram_single_edge_materialization(spark):
    """graph_degree_histogram's two degree directions must derive
    from ONE checkpointed distinct-edge set, never re-scan lineitem."""
    plan = _plan(_specs()["graph_degree_histogram"].fn(spark, SF_SMOKE))
    assert "Scan parquet" not in plan


def test_corr_matrix_single_scan(spark):
    """All 6 pairwise co-moment aggregates must ride ONE lineitem
    scan; the unpivot is a stack() over finished scalars."""
    import re
    plan = _plan(_specs()["agg_corr_matrix"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan


def test_vec_normalize_is_map_only(spark):
    """vec_normalize is pure per-row array expressions: no Exchange,
    no Python nodes anywhere."""
    plan = _plan(_specs()["vec_normalize"].fn(spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_lang_confusion_normalizes_over_cells_not_rows(spark):
    """text_lang_confusion's row normalization must window over the
    25 finished cells, never the document rows: the only row-data
    stage is the map-side scoring scan feeding a partial agg."""
    plan = _plan(_specs()["text_lang_confusion"].fn(spark, SF_SMOKE))
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_changepoint_reads_checkpointed_hourly_once(spark):
    """ts_changepoint's CUSUM branches must re-read the bounded
    checkpointed hourly table, never re-scan events."""
    plan = _plan(_specs()["ts_changepoint"].fn(spark, SF_SMOKE))
    assert "Scan parquet" not in plan
    assert "EvalPython" not in plan


def test_gini_row_stage_is_partial_agg(spark):
    """agg_gini_concentration's only row-data stage is the
    partial-combined per-source count; the ranked window runs over
    the |sources|-sized table."""
    plan = _plan(_specs()["agg_gini_concentration"].fn(spark, SF_SMOKE))
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_weighted_median_no_single_reducer_rows(spark):
    """agg_weighted_median's cumulative weight is the two-level
    recipe: the only SinglePartition exchange is the per-bucket
    offset table -- row-sized columns never funnel through one
    reducer, and no global row sort exists."""
    plan = _plan(_specs()["agg_weighted_median"].fn(spark, SF_SMOKE))
    for block in plan.split("\n\n"):
        if "SinglePartition" in block:
            assert "price_c" not in block or "__bucket" in block, block
    assert "rangepartitioning" not in plan.lower()


def test_basket_lift_topk_heap_and_broadcast_counts(spark):
    """agg_basket_lift's final cut is TakeOrderedAndProject (per-
    partition heaps, never a global row sort) and the per-item count
    joins onto the aggregated pair table broadcast."""
    plan = _plan(_specs()["agg_basket_lift"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_triangle_count_no_cartesian_no_python(spark):
    """graph_triangle_count's wedge and closure joins are hash
    equi-joins on ids; nothing may fall back to a cartesian."""
    plan = _plan(_specs()["graph_triangle_count"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_calendar_profile_partial_agg_bounded_window(spark):
    """ts_calendar_profile partial-aggregates event rows map-side;
    the peak window ranks finished cells only."""
    plan = _plan(_specs()["ts_calendar_profile"].fn(spark, SF_SMOKE))
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_rfm_scans_events_once(spark):
    """agg_rfm_scores reads events for the per-user aggregate and the
    scalar anchor -- at most two scans of the same pruned columns, no
    Python, and the ntile windows run over the per-user table."""
    import re
    plan = _plan(_specs()["agg_rfm_scores"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) <= 2, plan
    assert "EvalPython" not in plan


def test_fertility_single_scan_partial_agg(spark):
    """pipeline_tokenizer_fertility is one scan into one partial-
    combined groupBy."""
    import re
    plan = _plan(_specs()["pipeline_tokenizer_fertility"].fn(spark, SF_SMOKE))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_readability_is_map_only(spark):
    """text_readability is pure per-row regexp counting: no Exchange,
    no Python nodes."""
    plan = _plan(_specs()["text_readability"].fn(spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_anisotropy_bounded_keyspace_no_python(spark):
    """vec_anisotropy_report's only data-sized shuffle feeds the
    64-cell per-dim sum (partial-combined); the scalar combine is a
    broadcast cross of single-row frames."""
    plan = _plan(_specs()["vec_anisotropy_report"].fn(spark, SF_SMOKE))
    assert "partial_sum" in plan
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the scalar cross only


def test_top_pc_covariance_partial_aggregates(spark):
    """vec_top_pc's data-sized stage -- the covariance cell table --
    partial-combines each task to the d^2 keyspace before its
    Exchange; the registered query then iterates driver-side on the
    bounded collected matrix (its own plan is a LocalTableScan)."""
    from recommendation_system_spark_ml_spark.operators.similarity import (
        embedding_covariance)
    plan = _plan(embedding_covariance(spark, SF_SMOKE))
    assert "partial_sum" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_phash_candidates_from_equi_join(spark):
    """multimodal_dedup_phash's pair stage is a (band, key) hash
    equi-join -- never an all-pairs product -- and the only Python is
    the Arrow-batched decode."""
    plan = _plan(_specs()["multimodal_dedup_phash"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_item_item_cf_caps_and_cuts_with_window_group_limit(spark):
    """ml_item_item_cf's per-user cap and per-item neighbor cut both
    compile to WindowGroupLimit; the pair stage is a hash equi-join."""
    plan = _plan(_specs()["ml_item_item_cf"].fn(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_user_recs_anti_join_and_bounded_cut(spark):
    """ml_user_topn_recs filters seen items with a left-anti join and
    cuts per-user lists via WindowGroupLimit."""
    plan = _plan(_specs()["ml_user_topn_recs"].fn(spark, SF_SMOKE))
    assert "LeftAnti" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_elbow_joint_sweep_is_broadcast_bounded(spark):
    """The k=2..10 elbow runs all nine Lloyd fits in ONE plan: every
    per-round assignment joins the corpus against the 54-row joint
    centroid table as a BROADCAST nested loop (never a cartesian
    between data-sized sides), and the per-(k, vector) argmin is a
    WindowGroupLimit-class window, not a global sort."""
    plan = _plan(_specs()["ml_kmeans_elbow"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
