"""Physical-plan shape assertions — the 100 TB discipline, enforced:
filters must reach the Parquet scan, small dims must broadcast, hot paths
must stay in whole-stage codegen."""

from awscommunityday_2025_iceberg_snowfalke_spark.operators import relational, tpch
from awscommunityday_2025_iceberg_snowfalke_spark.plans import (
    codegen_stage_count,
    has_broadcast_join,
    has_partition_filters,
    has_pushed_filters,
    shuffle_count,
)
from awscommunityday_2025_iceberg_snowfalke_spark.sources import writers

from conftest import SF_DIR


def test_region_join_agg_broadcasts_and_pushes(spark):
    df = relational.region_join_agg(spark, SF_DIR)
    assert has_broadcast_join(df), "profile dim must broadcast"
    assert has_pushed_filters(df, "ts"), "ts predicate must reach the events scan"


def test_filtered_counts_pushdown(spark):
    df = relational.filtered_counts_7d(spark, SF_DIR)
    assert has_pushed_filters(df, "ts")


def test_q1_pushdown_and_codegen(spark):
    df = tpch.q1_pricing_summary(spark, SF_DIR)
    assert has_pushed_filters(df, "l_shipdate")
    assert codegen_stage_count(df) >= 1


def test_q6_is_scan_plus_single_agg_exchange(spark):
    df = tpch.q6_forecast_revenue(spark, SF_DIR)
    assert has_pushed_filters(df, "l_shipdate")
    # global agg: one exchange for the final single-partition reduce
    assert shuffle_count(df) <= 1, "q6 must not shuffle more than the final reduce"


def test_q5_broadcasts_all_dims(spark):
    df = tpch.q5_regional_revenue(spark, SF_DIR)
    assert has_broadcast_join(df)
    # fact table must not be exchanged for the joins: only the final groupBy
    # (+ possible AQE reads) — allow a small bound, not one per join
    assert shuffle_count(df) <= 3, "dims must broadcast, not shuffle the fact"


def test_activity_summary_broadcasts(spark):
    df = relational.activity_summary(spark, SF_DIR)
    assert has_broadcast_join(df)
    # the left-outer dim join must build on the broadcast *aggregate* side:
    # no sort-merge join of the raw fact against profiles
    assert "SortMergeJoin" not in df._jdf.queryExecution().executedPlan().toString()


def test_partition_pruned_scan_prunes(spark):
    df = writers.partition_pruned_scan(spark, SF_DIR)
    assert has_partition_filters(df, "day"), "day predicate must prune partitions"


def test_user_sessions_single_shuffle(spark):
    # lag window, running-sum window, and groupBy all share the user_id
    # partitioning → exactly one exchange end-to-end
    df = relational.user_sessions(spark, SF_DIR)
    assert shuffle_count(df) <= 1, "windows+agg must reuse the user_id exchange"


def test_q18_single_scan_window_having(spark):
    # the HAVING subquery is expressed as a window over l_orderkey: one
    # lineitem scan (semi-join decorrelation would scan twice)
    import re

    df = tpch.q18_large_volume_customers(spark, SF_DIR)
    plan = _final_plan(df)
    n = len(re.findall(r"parquet[^\n]*lineitem", plan))
    assert n == 1, f"q18: {n} lineitem scans (want 1)"
    assert has_broadcast_join(df)


def test_q17_single_scan_window_avg(spark):
    import re

    df = tpch.q17_small_quantity_revenue(spark, SF_DIR)
    plan = _final_plan(df)
    n = len(re.findall(r"parquet[^\n]*lineitem", plan))
    assert n == 1, f"q17: {n} lineitem scans (want 1)"


def test_q22_anti_join(spark):
    df = tpch.q22_inactive_customers(spark, SF_DIR)
    assert "LeftAnti" in str(df._jdf.queryExecution().optimizedPlan())


def _final_plan(df) -> str:
    """Executed plan with AQE's '== Initial Plan ==' echo stripped."""
    df.collect()
    return (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )


def test_single_fact_scan_window_rewrites(spark):
    # q2/q11/q15 reference their own aggregate twice (best-per-group, global
    # total, global max). The window formulation must keep exactly ONE
    # lineitem scan — a join-back against a re-aggregation would scan twice.
    import re

    for q in ["q2_min_cost_supplier", "q11_important_parts", "q15_top_supplier"]:
        plan = _final_plan(tpch.QUERIES[q](spark, SF_DIR))
        n = len(re.findall(r"parquet[^\n]*lineitem", plan))
        assert n == 1, f"{q}: {n} lineitem scans (want 1)"


def test_q21_self_join_types(spark):
    df = tpch.q21_last_shippers(spark, SF_DIR)
    plan = str(df._jdf.queryExecution().optimizedPlan())
    assert plan.count("LeftSemi") == 2, "orders filter + EXISTS must be semi joins"
    assert plan.count("LeftAnti") == 1, "NOT EXISTS must be an anti join"


def test_q13_left_join_on_filter_keeps_outer(spark):
    # the ON-clause predicate must NOT convert the left join to inner —
    # customers with zero qualifying orders still appear with c_count = 0
    df = tpch.q13_customer_distribution(spark, SF_DIR)
    plan = str(df._jdf.queryExecution().optimizedPlan())
    assert "LeftOuter" in plan


def test_execution_metrics_populated(spark):
    from awscommunityday_2025_iceberg_snowfalke_spark.plans import execution_metrics

    m = execution_metrics(relational.activity_summary(spark, SF_DIR))
    assert m["scan_output_rows"] > 0
    assert m["scan_files_read"] > 0
    assert m["scan_bytes_read"] > 0
    assert m["shuffle_bytes_written"] > 0  # the ev_agg exchange


def test_asof_join_single_exchange(spark):
    # the union+window as-of join must shuffle exactly once (user_id hash
    # exchange for the window) — no join of the two sides at all
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import temporal

    df = temporal.asof_purchase_signup(spark, SF_DIR)
    assert shuffle_count(df) <= 1, "as-of join must be union+window, one exchange"
    plan = str(df._jdf.queryExecution().optimizedPlan())
    assert "Join" not in plan, "as-of must not use a join operator"


def test_bucketed_join_has_no_exchange(spark):
    # both sides bucketed+sorted by user_id → the join must be a bucket-local
    # SortMergeJoin: zero Exchange, zero Sort before the join
    from awscommunityday_2025_iceberg_snowfalke_spark import scale

    scale.bucketed_user_join(spark, SF_DIR)  # ensures tables exist
    tag = SF_DIR.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(f"b_events_{tag}").join(
            spark.table(f"b_profiles_{tag}"), "user_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join must not shuffle"


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.scale import salted_join
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    ev = load(spark, SF_DIR, "events")
    # manufacture skew: collapse most keys onto one hot user
    skewed = ev.withColumn(
        "user_id", F.when(F.col("event_id") % 3 != 0, 7).otherwise(F.col("user_id"))
    )
    dim = (
        load(spark, SF_DIR, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_name")
    )
    plain = skewed.join(dim, "user_id", "left").select("event_id", "user_id", "c_name")
    salted = salted_join(skewed, dim, "user_id", n_salts=8, how="left").select(
        "event_id", "user_id", "c_name"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_snowsql_qualify_plans_like_dataframe_twin(spark):
    """The dialect-shim QUALIFY rewrite must produce the same plan shape as
    the hand-written rank-then-filter: one window exchange, no extra."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import snowsql

    df_sql = snowsql.QUERIES["snowsql_qualify_top5"](spark, SF_DIR)
    df_api = relational.top5_per_user(spark, SF_DIR)
    assert shuffle_count(df_sql) == shuffle_count(df_api)


def test_dedup_pair_join_is_hash_not_nested_loop(spark):
    """The shingle inverted-index join must stay an equi hash join — a
    nested-loop/cartesian here is the O(n^2) failure mode at scale."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    plan = (
        dedup.dedup_ngram_jaccard(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shingle_expression_stays_behind_checkpoint(spark):
    """Regression guard for the InferFiltersFromGenerate pushdown hazard
    (SCALE.md): the consumer plan must read the materialized shingle index
    (RDD scan), never re-derive shingles from the documents parquet scan."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    plan = (
        dedup.dedup_ngram_jaccard(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "documents.parquet" not in plan, "shingles must come from the checkpoint"


def test_semantic_dedup_pair_join_is_cell_keyed(spark):
    """SemDeDup's within-cell pair work must be keyed by cell — a
    nested-loop or cartesian product over the assignment would be the
    corpus cross-join the cell bucketing exists to avoid. The per-cell
    dgemm runs after one exchange on the cell key."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity

    plan = (
        similarity.semantic_dedup(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas [cell" in plan
    assert "hashpartitioning(cell" in plan


def test_dsir_weights_broadcast_and_bounded_shuffles(spark):
    """DSIR: bucket-model agg, per-doc scoring agg, and the 1-row
    corpus-totals agg (r16: rides the plan as a broadcast instead of an
    eager collect job) are the ONLY exchanges; the ≤1024-row weight
    dictionary must broadcast — a shuffled scoring join would re-key
    the whole token stream."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.dsir_importance_weights(spark, SF_DIR)
    assert has_broadcast_join(df), "weight dictionary must broadcast"
    assert shuffle_count(df) <= 3


def test_quota_sample_single_keyed_window(spark):
    """Token-budget quota fill: one lang-keyed window exchange, never a
    global sort."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import pipeline

    df = pipeline.quota_sample_tokens_budget(spark, SF_DIR)
    assert shuffle_count(df) <= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_quota_skewsafe_prunes_before_window(spark):
    """Skew-escalated quota fill: the hash-bucket prefix filter must sit
    BELOW the lang-keyed window exchange (map-side on the staged scan), so
    the hot stratum's sort only ever sees the ~budget-sized survivor
    prefix; still exactly one window exchange and no global sort."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import pipeline

    df = pipeline.quota_sample_tokens_budget_skewsafe(spark, SF_DIR)
    assert shuffle_count(df) <= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    filter_pos = plan.find("(bkt")
    window_pos = plan.find("Window")
    assert filter_pos != -1, "bucket-prefix filter missing from the plan"
    assert window_pos != -1 and window_pos < filter_pos, (
        "bucket filter must be below (after, in toString order) the window"
    )


def test_dim_stats_single_triple_agg(spark):
    """Per-dimension stats: one narrow-triple agg exchange."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity

    df = similarity.embedding_dim_stats(spark, SF_DIR)
    assert shuffle_count(df) <= 1


def test_ivf_partitioned_probe_prunes_cells(spark):
    """The cell-partitioned IVF probe must resolve its cell predicate
    against hive directory names (PartitionFilters) — the whole point of
    the storage layout is that non-probed cells are never even listed."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity
    from awscommunityday_2025_iceberg_snowfalke_spark.plans import (
        has_partition_filters,
    )

    df = similarity.ann_ivf_partitioned_probe(spark, SF_DIR)
    assert has_partition_filters(df, "cell")


def test_hll_rollup_single_agg_exchange(spark):
    """Daily sketch layer: one partial->final agg exchange over the facts;
    the merge stage operates on ~30 materialized sketch rows."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import analytics

    df = analytics.hll_user_rollup(spark, SF_DIR)
    # per-day agg + ALL-row global reduce + the gate-only exact-total
    # distinct (2 exchanges). The production sketch path — daily layer +
    # union merge — still costs ≤2; the exact column is gate harness.
    assert shuffle_count(df) <= 4


def test_pack_docs_sequences_no_global_sort(spark):
    """Hierarchical packing: the running sum must run per range-shard —
    no single-partition exchange (the global-window scale-killer) may
    appear anywhere in the executed plan."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.pipeline import (
        pack_docs_sequences,
    )

    df = pack_docs_sequences(spark, SF_DIR)
    assert "SinglePartition" not in _final_plan(df)


def test_query_log_records_cost_columns(spark):
    """H2/S12: the query log must carry the reference's cost accounting —
    bytes scanned, shuffle traffic, and the credit-proxy spend
    (cores x elapsed at the XS-warehouse rate)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.plans import QueryLog

    log = QueryLog()
    log.run("activity_summary", relational.activity_summary(spark, SF_DIR))
    row = log.history(spark).collect()[0]
    assert row["status"] == "SUCCESS"
    assert row["bytes_scanned"] > 0
    assert row["shuffle_bytes"] > 0
    assert row["est_credits"] > 0
    assert row["elapsed_sec"] > 0


def test_gram_matrix_single_bounded_exchange(spark):
    """Gram accumulation: the only exchange is the (i,j)-keyed final agg,
    and map-side partial aggregation must collapse each partition to
    ≤ d(d+1)/2 rows before it (a plan without partial agg would shuffle
    2,080 rows PER VECTOR). Pins the UNSTAGED plan — the registry entry
    memoizes/stages its output, so its returned plan is a parquet scan."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity

    df = similarity._gram_plan(spark, SF_DIR)
    assert shuffle_count(df) <= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, "partial+final agg expected"


def test_epoch_shard_single_exchange(spark):
    """Per-epoch shard assignment: epochs explode map-side from a literal
    sequence; the only exchange carries (epoch, shard)-keyed partials."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import pipeline

    df = pipeline.epoch_shard_assignment(spark, SF_DIR)
    assert shuffle_count(df) <= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "epoch fan-out must be a generator, not a join"


def test_pmi_topk_no_global_sort(spark):
    """PMI collocations: unigram dictionaries broadcast onto the bigram
    aggregate, and the top-k is TakeOrderedAndProject (per-partition heap
    + driver merge), never a global sort."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.pmi_collocations(spark, SF_DIR)
    assert has_broadcast_join(df), "unigram counts must broadcast"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_editdist_verify_no_cartesian(spark):
    """Edit-distance verify runs over the banded LSH candidate set only:
    joins everywhere, never a cartesian pairing of documents."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    df = dedup.dedup_editdist_verify(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan.lower()


def test_exact_substrings_linear_shuffles_only(spark):
    """Exact-substring dedup must stay two-linear-shuffle shaped: the
    window explode is in-row (no join of any kind in the plan), shuffles
    carry only (digest, doc_id, pos), and there is no corpus-wide sort
    outside the per-key window sorts."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    df = dedup.dedup_exact_substrings(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, "span derivation must be join-free"
    assert shuffle_count(df) <= 4, plan


def test_pq_search_broadcasts_shortlist_and_refines(spark):
    """IVF-PQ: the ADC pass is one MapInPandas over the corpus; the
    refine stage joins the bounded shortlist back by BROADCAST — a
    shuffle join there would drag the whole corpus through the exchange
    for a constant-sized candidate set."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity

    df = similarity.ann_ivf_pq_cosine(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert has_broadcast_join(df), "refine shortlist must broadcast"


def test_pq_codes_map_only(spark):
    """The PQ storage artifact is a pure map pass: no exchange at all —
    codebooks ride the UDF closure."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity

    df = similarity.embedding_pq_codes(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert shuffle_count(df) == 0, plan


def test_contamination_substrings_broadcast_screen(spark):
    """Substring decontamination screens the training window stream
    against the eval-bounded benchmark set by broadcast — never a
    shuffle join of two corpus-sized relations."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    df = dedup.benchmark_contamination_substrings(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df), "benchmark window set must broadcast"


def test_grouping_sets_single_expand_single_exchange(spark):
    """GROUPING SETS compiles to ONE Expand (map-side row replication per
    set) feeding one keyed exchange — never a union of per-set scans."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import analytics

    df = analytics.grouping_sets_type_dow(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1, plan
    assert shuffle_count(df) <= 1
    assert "Union" not in plan, "must not rewrite to a union of scans"


def test_temperature_reweight_scans_corpus_once(spark):
    """Temperature reweighting: the per-source aggregate is staged, so
    the corpus scan runs ONCE — totals and the weight sum re-read the
    |sources|-row artifact, and both ride broadcast 1-row cross joins."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import pipeline

    df = pipeline.domain_temperature_reweight(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the corpus scan ran once, eagerly, at stage() time: the final plan
    # reads only the staged |sources|-row artifact
    assert plan.count("documents.parquet") == 0, "corpus must not rescan"
    assert "sparkgraft-stage" in plan
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_encode_type_dictionary_shape(spark):
    """BPE encoding runs its replace chain over the distinct-TYPE
    relation (r16), never per occurrence: the type table must attach by
    BROADCAST join (the occurrence stream is never re-keyed by word),
    and the only exchanges are the type distinct, the doc-keyed sum,
    and the doc-keyed attach of the bounded per-doc counts."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.bpe_encode_fixed_merges(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "type table must broadcast"
    assert shuffle_count(df) <= 4


def test_range_search_no_rank_exchange(spark):
    """Range search must be strictly cheaper than top-k: broadcast query
    batch, no window/rank exchange anywhere in the plan."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity

    df = similarity.ann_range_search_cosine(spark, SF_DIR)
    assert shuffle_count(df) == 0, "radius filter replaces the rank exchange"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, "query batch must broadcast"
    assert "Window" not in plan


def test_vocab_oov_topk_heap_and_broadcast(spark):
    """Vocabulary build must be TakeOrderedAndProject (per-partition heap),
    and the k-row vocab must broadcast into the scoring join."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.vocab_oov_rate(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert has_broadcast_join(df), "vocab must broadcast"
    assert "SortMergeJoin" not in plan


def test_vocab_coverage_curve_bounded_rank_window(spark):
    """The coverage curve's vocabulary ranking must NOT be a
    single-partition window over the full type vocabulary (the r13
    scale flag): head selection is TakeOrderedAndProject (per-partition
    heap, ≤ max(sizes) rows survive) and the only Window in the plan
    sits above that bounded GlobalLimit; the ranked head broadcasts
    into the scoring join."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.vocab_coverage_curve(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, "head must be a heap top-k"
    assert has_broadcast_join(df), "ranked head must broadcast"
    assert "SortMergeJoin" not in plan
    # the window input is the limited head, never the raw vocabulary:
    # with the limit in place the Window subtree contains the
    # TakeOrderedAndProject; strip everything above the Window node and
    # check the ordering
    win_at = plan.index("Window")
    assert "TakeOrderedAndProject" in plan[win_at:], (
        "rank window must consume the bounded top-k head"
    )


def test_ccnet_buckets_no_corpus_window(spark):
    """The CCNet tercile entry must carry NO window over corpus rows (the
    r13 scale flag: per-language NTILE put the dominant language's
    billions of rows on one task): bucketing is a broadcast join of the
    ≤|langs|-row cutpoint table + a map-side double compare."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.ccnet_perplexity_buckets(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "cutpoint bucketing must be map-side"
    assert has_broadcast_join(df), "cutpoint table must broadcast"
    assert "SortMergeJoin" not in plan


def test_kneser_ney_broadcasts_context_tables(spark):
    """KN scoring: c_a / N1+(a.) / N1+(.b) are vocabulary-bounded and must
    all broadcast; only the bigram table joins by key."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.kneser_ney_bigram_score(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3, plan[:500]


def test_partition_evolution_prunes_new_filters_old(spark):
    """Partition evolution: the post-evolution generation must prune via
    PartitionFilters on the spec columns while the pre-evolution files
    push the ts predicate to the parquet scan — one logical table, two
    physical disciplines."""
    import re

    df = writers.partition_evolution_scan(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    parted = [
        s
        for s in re.findall(r"PartitionFilters: \[[^\]]*", plan)
        if "day" in s
    ]
    assert parted, "new generation must partition-prune on the spec columns"
    legacy = [
        s for s in re.findall(r"PushedFilters: \[[^\]]*\]", plan) if "ts" in s
    ]
    assert legacy, "legacy generation must push ts to the scan"


def test_token_chunks_generator_no_shuffle(spark):
    """Chunking is a pure generator over the scan: zero exchanges."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.doc_token_chunks(spark, SF_DIR)
    assert shuffle_count(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan and "Join" not in plan


def test_hybrid_rrf_legs_bounded(spark):
    """Hybrid RRF: the vector leg must take its top-k via
    TakeOrderedAndProject (heap, no global sort of the corpus) with the
    1-row query BROADCAST, and the fusion join runs over two ≤k-row
    relations — no corpus-sized exchange may feed the final sort."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import similarity

    df = similarity.hybrid_search_rrf(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, "top-k must be heap-based"
    assert plan.count("Sort ") <= 2, plan  # rank windows over <=k rows only
    rows = df.collect()
    assert 0 < len(rows) <= similarity.RRF_TOPK
    for r in rows:
        expect = 0.0
        if r["lex_rank"] is not None:
            expect += 1.0 / (similarity.RRF_K + r["lex_rank"])
        if r["vec_rank"] is not None:
            expect += 1.0 / (similarity.RRF_K + r["vec_rank"])
        assert abs(r["rrf_score"] - expect) < 1e-8, r
    # fused-in-both must outrank single-leg at equal ranks: verify the
    # ordering is by the recomputed score
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_quality_classifier_broadcast_and_bounded_shuffles(spark):
    """FastText-style classifier inference: bucket-weight agg + per-doc
    scoring agg are the ONLY exchanges; the ≤2048-row weight dictionary
    must broadcast (a shuffled scoring join would re-key the whole
    feature stream) — same contract as the DSIR scorer it generalizes."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.quality_classifier_score(spark, SF_DIR)
    assert has_broadcast_join(df), "weight dictionary must broadcast"
    # 3 = the deliberate doc_id scan-spread + bucket-weight agg + per-doc
    # scoring agg; nothing else may shuffle
    assert shuffle_count(df) <= 3


def test_ppjoin_no_cartesian_and_bounded_shuffles(spark):
    """PPJoin: every join is an equi-join (prefix hash join, verify hash
    joins) — no cartesian anywhere; exchanges stay bounded (df-count agg,
    per-doc sort agg, prefix self-join, pair agg, verify joins + agg)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import dedup

    df = dedup.dedup_jaccard_prefix_filter(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert shuffle_count(df) <= 8, shuffle_count(df)


def test_unigram_fertility_broadcast_join(spark):
    """The fertility rollup joins the bounded (word type → n_pieces)
    table back onto the occurrence stream as a BROADCAST — a shuffle
    join here would hash-exchange the full token stream on the word key
    at 100 TB."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.unigram_fertility_by_lang(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:500]
    assert "SortMergeJoin" not in plan, plan[:500]


def test_unigram_segment_maponly_dp(spark):
    """The segmentation histogram plans exactly two aggregations (the
    distinct-type build and the bounded histogram) around the map-only
    Arrow DP — no join, no window, no extra exchange."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.unigram_viterbi_segment(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:500]
    assert "Window" not in plan, plan[:500]


def test_wordpiece_segment_maponly_greedy(spark):
    """The WordPiece encode histogram (the unigram pin's twin): the
    distinct-type build and the bounded histogram are the only
    aggregations around the map-only Arrow greedy pass — no join, no
    window, no extra exchange."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.wordpiece_encode_greedy(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:500]
    assert "Window" not in plan, plan[:500]


def test_tokenizer_compare_broadcasts_type_table(spark):
    """The fertility-compare rollup must BROADCAST the bounded
    three-segmenter type table onto the occurrence stream — a shuffle
    join here would hash-exchange the full token stream at 100 TB —
    and must not plan a single SortMergeJoin anywhere (the three
    segmenter outputs join on the same bounded type relation)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import textstats

    df = textstats.tokenizer_fertility_compare(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:500]
    assert "SortMergeJoin" not in plan, plan[:500]


def test_ann_store_snapshot_probe_manifest_pruned(spark):
    """The snapshot-backed vector store's probe must plan its scan from
    MANIFEST stats alone: one file per cell per generation, so a
    single-cell probe reads exactly |generations| files at the current
    version and exactly one at the time-traveled pre-append version —
    every other cell's files skipped with zero data-file footer reads.
    Also pins that the ingested files keep the readable `cell` column
    (the chunk key `_c` is the one partitionBy consumes)."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        _write_chunked,
        make_table,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        _assign_frozen,
        _centroids,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    emb = load(spark, SF_DIR, "embeddings")
    standing = emb.filter(F.col("vec_id") % 2 == 0)
    arriving = emb.filter(F.col("vec_id") % 2 == 1)
    frozen = _centroids(standing).orderBy("label").collect()
    tbl = make_table(spark, "annstore_plan_", stats_col="cell")
    stand_df = _assign_frozen(standing, frozen, with_embedding=True).withColumn(
        "_c", F.col("cell")
    )
    stand_cells = _write_chunked(tbl, stand_df, chunk_col="_c")
    v_pre = tbl.current_version
    arr_df = _assign_frozen(arriving, frozen, with_embedding=True).withColumn(
        "_c", F.col("cell")
    )
    arr_cells = _write_chunked(tbl, arr_df, chunk_col="_c")
    v_post = tbl.current_version

    c0 = stand_cells[0]
    gens = 1 + (1 if c0 in arr_cells else 0)
    plan_post = tbl.plan_scan_manifests(
        predicates={"cell": (c0, c0)}, version=v_post
    )
    assert plan_post["files_total"] == len(stand_cells) + len(arr_cells)
    assert len(plan_post["files_read"]) == gens, plan_post
    plan_pre = tbl.plan_scan_manifests(
        predicates={"cell": (c0, c0)}, version=v_pre
    )
    assert plan_pre["files_total"] == len(stand_cells)
    assert len(plan_pre["files_read"]) == 1, plan_pre
    # the pruned read sees ONLY the probed cell, with cell readable
    got = tbl.read_files(plan_post["files_read"])
    assert [r["cell"] for r in got.select("cell").distinct().collect()] == [c0]


def test_centroids_frozen_full_bit_equal_to_two_pass(spark):
    """r17 fused centroid collect: _centroids_frozen_full's single
    corpus aggregation must reproduce BOTH _centroids(standing) and
    _centroids(emb) bit-for-bit — decimal sums are exact and
    commutative, so the conditional even-row sums equal the filtered
    aggregation's, and the cast/divide is the identical double op. A
    ulp of drift anywhere would silently move an IVF cell boundary."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.similarity import (
        _centroids,
        _centroids_frozen_full,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    emb = load(spark, SF_DIR, "embeddings")
    frozen_got, full_got = _centroids_frozen_full(emb)
    frozen_exp = (
        _centroids(emb.filter(F.col("vec_id") % 2 == 0))
        .orderBy("label")
        .collect()
    )
    full_exp = _centroids(emb).orderBy("label").collect()
    for got, exp in ((frozen_got, frozen_exp), (full_got, full_exp)):
        assert [r["label"] for r in got] == [r["label"] for r in exp]
        for g, e in zip(got, exp):
            assert list(g["centroid"]) == list(e["centroid"]), g["label"]
