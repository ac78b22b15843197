"""Plan-quality regression tests: assert the physical plans keep the
shapes SCALE.md promises — pushdown reaching the scan, dims
broadcast, digests (not documents) in the dedup shuffle. A plan
regression here is a silent 10-100x cost at 100 TB even when results
stay correct.
"""

from __future__ import annotations

import pytest

from utils_infra_spark.queries import REGISTRY, _load

_load()


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q6_predicates_reach_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "forecast_revenue_filter")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, "no PushedFilters in scan"
    line = pushed[0]
    for fragment in ("l_shipdate", "l_discount", "l_quantity"):
        assert fragment in line, f"{fragment} not pushed: {line}"


def test_pricing_summary_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pricing_summary")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read and "l_orderkey" not in read
    assert "l_quantity" in read and "l_returnflag" in read


def test_nation_revenue_broadcasts_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "nation_revenue")
    assert "BroadcastHashJoin" in plan
    # no dim should arrive via a sort-merge join at this scale
    assert plan.count("BroadcastExchange") >= 2


def test_dedup_shuffles_digests_not_text(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_exact_documents")
    exchange_lines = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Arguments: hashpartitioning")
    ]
    assert exchange_lines, "no hash exchange found"
    assert any("fp" in ln for ln in exchange_lines), exchange_lines
    # the raw text column must not appear in any exchange
    assert not any("text" in ln for ln in exchange_lines), exchange_lines


def test_semi_join_stays_semi(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orders_semi_building")
    assert "LeftSemi" in plan


def plan_of_df(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_bucketed_pairs_single_shuffle_no_broadcast(spark, sf_dir):
    """The pair kernel shuffles the corpus ONCE on the bucket key and
    never broadcasts or joins: scale-safe regardless of corpus size
    (parallelism = nlist by IVF contract)."""
    from utils_infra_spark.pipeline.similarity import bucketed_pairs
    from utils_infra_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = bucketed_pairs(emb, vec_col="embedding", id_col="vec_id", bucket_col="label", threshold=0.25)
    plan = plan_of_df(spark, df)
    assert "FlatMapGroupsInArrow" in plan
    # tree lines render as "Exchange (N)"; detail headers as "(N) Exchange"
    assert plan.count("Exchange (") == 1, plan
    assert "Broadcast" not in plan
    assert "Join" not in plan


def test_minhash_leaves_no_cached_rdds(spark, sf_dir):
    """minhash_near_duplicates is a single-consumption plan: nothing
    persisted, so a long session never accumulates sketch memory."""
    from utils_infra_spark.pipeline.dedup import minhash_near_duplicates
    from utils_infra_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    # delta, not absolute: other operators in the shared session
    # (connected_components) legitimately hold a checkpointed edge set
    # alive for their result's lineage.
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out = minhash_near_duplicates(docs, "text", "doc_id", threshold=0.4)
    out.collect()
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after <= before, f"{after - before} cached RDDs leaked by minhash"
    plan = plan_of_df(spark, out)
    assert "InMemoryRelation" not in plan


def test_q10_shape_takes_ordered_no_full_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "returned_items_customers")
    assert "TakeOrderedAndProject" in plan
    # returnflag filter pushed into the lineitem scan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "l_returnflag" in ln]
    assert pushed, "l_returnflag not pushed to scan"


def test_q7_shape_dims_broadcast_fact_merge(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "nation_pair_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # cust, supp, 2x nation (AQE may fold)
    assert "SortMergeJoin" in plan  # li x orders never broadcasts


def test_ivf_assign_is_projection_no_shuffle_before_join(spark, sf_dir):
    """The coarse-quantize kernel adds NO exchange of its own — the
    only exchanges in ivf_assign_lists serve the id re-join."""
    plan = plan_of(spark, sf_dir, "ivf_assign_lists")
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan or "PythonMapInArrow" in plan, plan[:500]


def test_asof_join_single_exchange_no_nested_loop(spark, sf_dir):
    """The as-of join must be the union+window form: ONE hash exchange
    on the key, and never an inequality BroadcastNestedLoopJoin."""
    plan = plan_of(spark, sf_dir, "asof_click_purchase")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    exchanges = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Arguments: hashpartitioning")
    ]
    assert len(exchanges) == 1, exchanges
    assert "__k" in exchanges[0]


def test_range_join_is_equi_join_on_bin(spark, sf_dir):
    """Binned range join must run as an equi join keyed on the bin id,
    not a nested-loop inequality join."""
    plan = plan_of(spark, sf_dir, "events_in_user_window")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "__bin" in plan


def test_rollup_single_aggregate_pass(spark, sf_dir):
    """ROLLUP expands grouping sets map-side (Expand), with the
    customer dim broadcast — one shuffle total for all grouping sets."""
    plan = plan_of(spark, sf_dir, "rollup_segment_priority")
    assert "Expand" in plan
    assert "BroadcastHashJoin" in plan
    exchanges = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Arguments: hashpartitioning")
    ]
    assert len(exchanges) == 1, exchanges


def test_large_orders_having_prunes_before_joins(spark, sf_dir):
    """Q18 shape: the HAVING-filtered aggregate must sit BELOW the
    joins (prune first), and the customer dim must broadcast."""
    plan = plan_of(spark, sf_dir, "large_orders")
    assert "BroadcastExchange" in plan
    lines = plan.splitlines()
    agg_idx = min(i for i, ln in enumerate(lines) if "HashAggregate" in ln)
    join_idx = min(i for i, ln in enumerate(lines) if "Join" in ln and "Broadcast" not in ln)
    assert agg_idx > 0 and join_idx > 0


def test_deterministic_sample_no_shuffle(spark, sf_dir):
    # md5-threshold sampling must stay a narrow filter: scan -> filter
    # -> project, with zero exchanges (at 100 TB an accidental shuffle
    # here would move the whole corpus to sample 5% of it)
    plan = plan_of(spark, sf_dir, "deterministic_sample_docs")
    assert "Exchange" not in plan, plan


def test_contamination_broadcasts_benchmark_grams(spark, sf_dir):
    # the benchmark gram set is bounded-small; the corpus side must
    # join against it map-side, never shuffle its grams
    plan = plan_of(spark, sf_dir, "benchmark_contamination")
    assert "BroadcastHashJoin" in plan
    # the only hash exchanges should be on doc_id/gram dedup + final
    # count agg, never a sort-merge join of the corpus grams
    assert "SortMergeJoin" not in plan


def test_split_assignment_single_aggregate_exchange(spark, sf_dir):
    # split label is a pure projection; only the final 3-row aggregate
    # shuffles, and it shuffles the label, not doc rows pre-agg
    plan = plan_of(spark, sf_dir, "train_val_test_split")
    exchange_lines = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Arguments: hashpartitioning")
    ]
    assert len(exchange_lines) == 1, exchange_lines
    assert "split" in exchange_lines[0]
    assert "HashAggregate" in plan  # partial agg before the exchange


def test_chunking_generates_after_scan_partition(spark, sf_dir):
    # the row expansion is a Generate over sequence() with no exchange
    # in front of it: chunks fan out inside the scan partition
    plan = plan_of(spark, sf_dir, "doc_token_chunks")
    assert "Generate" in plan
    assert "Exchange" not in plan, plan


def test_prefix_filter_join_no_nested_loop(spark, sf_dir):
    # the whole point of prefix filtering: candidates come from an
    # EQUI-join on rare shingles, never a quadratic nested loop.
    plan = plan_of(spark, sf_dir, "jaccard_prefix_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_running_total_single_window_exchange(spark, sf_dir):
    # one hash exchange on custkey feeds the window; no global sort.
    plan = plan_of(spark, sf_dir, "running_customer_revenue")
    assert plan.count("Exchange") <= 2  # custkey hash + AQE read
    assert "Window" in plan


def test_histogram_partial_aggregates(spark, sf_dir):
    # map-side combine: a partial HashAggregate must appear below the
    # exchange so the shuffle carries (bin, partials), not rows.
    plan = plan_of(spark, sf_dir, "event_value_histogram")
    # formatted explain prints root-first, so the partial aggregate
    # (map side) must appear AFTER the shuffle exchange in the text.
    assert "partial_count" in plan or "partial" in plan.lower()
    assert plan.rindex("HashAggregate") > plan.index("Exchange")


def test_bm25_topk_takes_ordered_no_global_window_sort(spark, sf_dir):
    """Top-10 ranking must be TakeOrderedAndProject (parallel partial
    heaps), not a row_number over an unpartitioned window funneling
    every scored doc through one task."""
    plan = plan_of(spark, sf_dir, "bm25_search")
    assert "TakeOrderedAndProject" in plan
    # the only Window left runs over the already-limited 10-row frame,
    # i.e. downstream of the TakeOrdered, never over the scored set
    take_pos = plan.index("TakeOrderedAndProject")
    win_pos = plan.find("Window")
    assert win_pos == -1 or win_pos < take_pos  # formatted plans list parents first


def test_global_topn_takes_ordered(spark, sf_dir):
    """top_n_per_group with partition=[] routes through
    orderBy().limit(n), so the heavy input never crosses a
    single-partition window Exchange."""
    plan = plan_of(spark, sf_dir, "top_customers_by_balance")
    assert "TakeOrderedAndProject" in plan


def test_prepared_plan_cache_reserves_same_object(spark, sf_dir):
    # the registry memoizes built plans per (session, input, query):
    # a DataFrame is an immutable logical plan, so re-serving it is
    # semantically a no-op that skips only driver-side rebuild cost
    q = REGISTRY["pricing_summary"]
    a = q.plan(spark, sf_dir)
    b = q.plan(spark, sf_dir)
    assert a is b
    # distinct inputs never share a cache slot
    c = q.plan(spark, "/root/testdata/sf0.01")
    assert c is not a
    # the cached plan still executes correctly
    assert a.count() > 0


def test_fresh_select_reexecutes_map_stages(spark, sf_dir):
    """bench.py's warm rule: a fresh QueryExecution per run
    (`select("*")`) re-runs ALL stages. Re-executing the HELD Dataset
    would reuse shuffle outputs and silently skip the scan/map stages
    — this test pins both behaviors so the bench never regresses into
    measuring reduce-only work.
    """
    st = spark.sparkContext.statusTracker()

    def completed_tasks_since(prev: set[int]) -> tuple[int, set[int]]:
        ids = set(st.getJobIdsForGroup())
        total = 0
        for j in ids - prev:
            info = st.getJobInfo(j)
            if info is None:
                continue
            total += sum(
                (st.getStageInfo(s).numCompletedTasks if st.getStageInfo(s) else 0)
                for s in info.stageIds
            )
        return total, ids

    df = REGISTRY["pricing_summary"].plan(spark, sf_dir)
    seen = set(st.getJobIdsForGroup())
    a = df.select("*").toPandas()
    full, seen = completed_tasks_since(seen)
    b = df.select("*").toPandas()
    again, seen = completed_tasks_since(seen)
    assert again == full, f"fresh select skipped stages: {again} vs {full} tasks"
    # contrast: re-running the held Dataset reuses its shuffle outputs
    # — the second run completes fewer tasks (map stages skipped)
    df.toPandas()
    _, seen = completed_tasks_since(seen)
    df.toPandas()
    held_again, seen = completed_tasks_since(seen)
    assert held_again < full, f"expected shuffle reuse on held Dataset ({held_again} vs {full})"
    assert a.equals(b)


def test_grouping_sets_single_aggregate_pass(spark, sf_dir):
    """GROUPING SETS expands map-side (Expand) with the customer dim
    broadcast — one shuffle total, same contract as rollup/cube."""
    plan = plan_of(spark, sf_dir, "grouping_sets_segment_priority")
    assert "Expand" in plan
    assert "BroadcastHashJoin" in plan
    exchanges = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Arguments: hashpartitioning")
    ]
    assert len(exchanges) == 1, exchanges


def test_fuzzy_pairs_equi_join_on_block_key(spark, sf_dir):
    """Blocking must run as an equi join on the block key — a regression
    to a nested-loop join over the levenshtein predicate would be
    all-pairs at 100 TB."""
    plan = plan_of(spark, sf_dir, "fuzzy_part_name_pairs")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "blk" in plan


def test_funnel_pushes_stage_type_filters(spark, sf_dir):
    """Each funnel stage scans only its own event_type: the equality
    filter must reach the parquet scan."""
    plan = plan_of(spark, sf_dir, "purchase_funnel")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "event_type" in ln]
    assert len(pushed) >= 3, f"expected >=3 pushed event_type filters, got {len(pushed)}"


def test_cached_input_fresh_select_reexecutes(spark, sf_dir):
    """Extends the fresh-QueryExecution honesty rule to the warm-path
    input cache (sources/tables.py:cache_base_tables). Input caching
    prepays ONLY parquet decode — a fresh select over the cached copy
    must still run its full task counts (scan of every cached
    partition + shuffle map + reduce), or the bench would be timing
    reduce-only work again. Also pins the plan/parallelism shape:
    the cached mode scans ExistingRDD (no parquet scan) at the
    repartitioned width, and results are identical to parquet mode.
    """
    from utils_infra_spark.sources.tables import (
        cache_base_tables,
        set_input_mode,
        uncache_base_tables,
    )

    st = spark.sparkContext.statusTracker()

    def completed_tasks_since(prev: set[int]) -> tuple[int, set[int]]:
        ids = set(st.getJobIdsForGroup())
        total = 0
        for j in ids - prev:
            info = st.getJobInfo(j)
            if info is None:
                continue
            total += sum(
                (st.getStageInfo(s).numCompletedTasks if st.getStageInfo(s) else 0)
                for s in info.stageIds
            )
        return total, ids

    parquet_res = REGISTRY["pricing_summary"].plan(spark, sf_dir).toPandas()
    # force every table into >1 cached partition so the map-stage
    # parallelism assertion is meaningful even at sf0.001 sizes
    placed = cache_base_tables(spark, sf_dir, partitions=4, bytes_per_split=1)
    assert placed["lineitem"] == 4
    set_input_mode("cached")
    try:
        df = REGISTRY["pricing_summary"].plan(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "ExistingRDD" in plan
        assert "Scan parquet" not in plan
        seen = set(st.getJobIdsForGroup())
        a = df.select("*").toPandas()
        full, seen = completed_tasks_since(seen)
        b = df.select("*").toPandas()
        again, seen = completed_tasks_since(seen)
        # full re-execution per run — identical task counts, and at
        # least the 4 cached lineitem partitions' scan tasks
        assert again == full, f"fresh select over cached input skipped stages: {again} vs {full}"
        assert full >= 4, f"expected >=4 map tasks over the cached partitions, got {full}"
        assert a.equals(b)
        # cached copy answers exactly like the parquet scan
        cols = list(parquet_res.columns)
        assert (
            a.sort_values(cols).reset_index(drop=True).equals(
                parquet_res.sort_values(cols).reset_index(drop=True)
            )
        )
    finally:
        set_input_mode("parquet")
        uncache_base_tables(spark)


def test_cached_input_headline_equivalence(spark, sf_dir):
    """Every headline query the bench times against the block-manager
    input cache must answer EXACTLY as it does over the parquet scan —
    otherwise the timed artifact measures a different computation.
    Doubles as a partitioning-independence pin for the Arrow kernels
    (top-k, bucketed pairs) and the minhash pipeline: the cached
    copies are round-robin repartitioned, so any partition-order
    sensitivity in a kernel or a quantization rule would surface here.
    """
    from bench import HEADLINE
    from utils_infra_spark.sources.tables import (
        cache_base_tables,
        set_input_mode,
        uncache_base_tables,
    )

    parquet_res = {}
    for name in HEADLINE:
        parquet_res[name] = REGISTRY[name].fn(spark, sf_dir).toPandas()
    cache_base_tables(spark, sf_dir, partitions=4, bytes_per_split=1)
    set_input_mode("cached")
    try:
        for name in HEADLINE:
            got = REGISTRY[name].fn(spark, sf_dir).toPandas()
            want = parquet_res[name]
            cols = list(want.columns)
            assert list(got.columns) == cols, name
            got = got.sort_values(cols).reset_index(drop=True)
            want = want.sort_values(cols).reset_index(drop=True)
            assert got.equals(want), f"{name}: cached-input result differs from parquet"
    finally:
        set_input_mode("parquet")
        uncache_base_tables(spark)


def test_input_cache_survives_clear_cache(spark, sf_dir):
    """bench.py calls spark.catalog.clearCache() between runs to drop
    per-query persisted intermediates; the base-table input cache
    lives at the RDD layer (localCheckpoint) precisely so that sweep
    cannot silently evict it mid-bench."""
    from utils_infra_spark.sources.tables import (
        cache_base_tables,
        load_table,
        set_input_mode,
        uncache_base_tables,
    )

    cache_base_tables(spark, sf_dir, partitions=2, bytes_per_split=1)
    set_input_mode("cached")
    try:
        before = load_table(spark, sf_dir, "orders").count()
        spark.catalog.clearCache()
        df = load_table(spark, sf_dir, "orders")
        # still the block-manager copy (not silently rebuilt parquet)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "ExistingRDD" in plan
        assert df.count() == before
    finally:
        set_input_mode("parquet")
        uncache_base_tables(spark)


def test_enrich_customer_nation_literal_map_no_join(spark, sf_dir):
    """The 25x5-row snowflake micro-dims bake into create_map literals
    (operators/joins.py:literal_lookup_maps): the plan must be a pure
    projection over the customer scan — no join operator, no broadcast
    build, no exchange. A regression to a per-execution broadcast
    join is ~0.1 s of pure fixed overhead for a 25-row lookup."""
    plan = plan_of(spark, sf_dir, "enrich_customer_nation")
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "keys:" in plan or "map(" in plan.lower() or "Project" in plan


def test_order_revenue_semi_filter_and_size_driven_join(spark, sf_dir):
    """order_revenue_top10 expresses its customer join as a broadcast
    LEFT SEMI (c_custkey is the PK and no customer column survives, so
    the join is purely a filter on orders — one whole fact-side wide
    join removed). The one remaining join, li ⋈ orders, has filtered
    BASE TABLES on both sides, so its strategy comes from Catalyst's
    file-size estimates: broadcast at KB scale; with broadcast off the
    fallback must be the spill-safe sort-merge, never a plan that
    materializes an intermediate through the driver."""
    plan = plan_of(spark, sf_dir, "order_revenue_top10")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, sf_dir, "order_revenue_top10")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    # tiny-measured session: SAME plan as the default — the r10
    # SHUFFLE_HASH special-case was dropped in r12 after its measured
    # advantage stopped reproducing (re-A/B at sf0.1: mins 0.2405 SHJ
    # vs 0.2394 broadcast, medians favoring broadcast); Catalyst's
    # stats-based choice now rules at every scale
    from utils_infra_spark.session import TINY_INPUT_CONF

    spark.conf.set(TINY_INPUT_CONF, "true")
    try:
        plan = plan_of(spark, sf_dir, "order_revenue_top10")
        assert "ShuffledHashJoin" not in plan
        assert "BroadcastHashJoin" in plan
        assert "LeftSemi" in plan
    finally:
        spark.conf.set(TINY_INPUT_CONF, "false")


def test_nation_revenue_micro_dims_are_literal_maps(spark, sf_dir):
    """nation_revenue folds the 25x5-row nation⋈region snowflake into
    create_map literals: at most TWO join operators may remain in the
    plan (li⋈orders, ⋈customer) — a regression to broadcast-joining
    the micro-dims re-adds two per-execution BroadcastExchange builds
    (each its own job, ~40-60 ms of scheduling for a 25-row build)."""
    plan = plan_of(spark, sf_dir, "nation_revenue")
    import re

    # formatted explain shows each operator twice (tree + numbered
    # detail); count the numbered detail headers only
    joins = re.findall(r"\(\d+\) (?:\w*HashJoin|SortMergeJoin)", plan)
    assert len(joins) <= 2, joins


def test_literal_lookup_maps_empty_dim_falls_back(spark):
    """A 0-row (or all-NULL-key) dim must return None — an
    argument-less create_map() types as map<void,void> and any probe
    against it fails analysis; the join path returns the correct
    empty/all-NULL result instead."""
    from utils_infra_spark.operators.joins import literal_lookup_maps

    empty = spark.createDataFrame([], "k bigint, v string")
    assert literal_lookup_maps(empty, "k", ["v"]) is None
    all_null = spark.createDataFrame([(None, "x")], "k bigint, v string")
    assert literal_lookup_maps(all_null, "k", ["v"]) is None


def test_literal_map_inner_semantics_keep_null_values(spark):
    """Key-membership (not value nullness) reproduces inner-join
    drops: a dim row with matching keys but a NULL value must survive
    and group under NULL, exactly as the broadcast join has it."""
    from pyspark.sql import functions as F

    from utils_infra_spark.operators.joins import literal_lookup_maps

    dim = spark.createDataFrame([(1, None), (2, "b")], "k bigint, name string")
    fact = spark.createDataFrame([(1,), (2,), (3,)], "k bigint")
    maps = literal_lookup_maps(dim, "k", ["name"])
    in_dim = F.array_contains(F.map_keys(maps["name"]), F.col("k"))
    got = sorted(
        (r.k, r.name)
        for r in fact.where(in_dim).select("k", maps["name"][F.col("k")].alias("name")).collect()
    )
    want = sorted(
        (r.k, r.name)
        for r in fact.join(F.broadcast(dim), "k").select("k", "name").collect()
    )
    assert got == want == [(1, None), (2, "b")]


def test_plan_cache_keys_on_tiny_input_measurement(spark, sf_dir):
    """Builders bake size-gated physical hints into the plan, so the
    prepared-plan cache must rebuild when the tune_for_input
    measurement changes — not re-serve the stale strategy."""
    from utils_infra_spark.session import TINY_INPUT_CONF
    from utils_infra_spark.sources.tables import (
        cache_base_tables,
        set_input_mode,
        uncache_base_tables,
    )

    # exemplar: text_stats_documents' spread() over the input cache.
    # A 2-partition copy has fewer partitions than cores, so the
    # untuned plan adds the round-robin exchange; a measured-tiny
    # session skips it as pure latency.
    q = REGISTRY["text_stats_documents"]
    cache_base_tables(spark, sf_dir, partitions=2, bytes_per_split=1)
    set_input_mode("cached")
    spark.conf.set(TINY_INPUT_CONF, "false")
    try:
        untuned = q.plan(spark, sf_dir)
        spark.conf.set(TINY_INPUT_CONF, "true")
        tuned = q.plan(spark, sf_dir)
        assert tuned is not untuned
        assert "RoundRobinPartitioning" in plan_of_df(spark, untuned)
        assert "RoundRobinPartitioning" not in plan_of_df(spark, tuned)
        # same measurement -> same prepared object
        assert q.plan(spark, sf_dir) is tuned
    finally:
        spark.conf.set(TINY_INPUT_CONF, "false")
        set_input_mode("parquet")
        uncache_base_tables(spark)


def test_uncache_frees_block_manager_copies(spark, sf_dir, persistent_rdd_ids):
    """uncache_base_tables must free the actual checkpoint blocks:
    the persistent-RDD set returns to its baseline (df.rdd.unpersist
    on a derived RDD was a silent no-op)."""
    from utils_infra_spark.sources.tables import (
        cache_base_tables,
        set_input_mode,
        uncache_base_tables,
    )

    base = persistent_rdd_ids()
    cache_base_tables(spark, sf_dir, partitions=2, bytes_per_split=1)
    set_input_mode("parquet")
    after = persistent_rdd_ids()
    assert after - base, "cache_base_tables left nothing persisted"
    uncache_base_tables(spark)
    assert persistent_rdd_ids() - base == set()


def test_recache_after_uncache_serves_fresh_plan(spark, sf_dir):
    """A cached-mode prepared plan reads the input copies' checkpoint
    blocks, so uncache_base_tables must drop it with them: after a
    re-cache the same call has to build over the new copies, not
    re-serve a plan whose blocks are gone."""
    from utils_infra_spark.sources.tables import (
        cache_base_tables,
        set_input_mode,
        uncache_base_tables,
    )

    q = REGISTRY["pricing_summary"]
    want = q.fn(spark, sf_dir).toPandas()
    cols = list(want.columns)
    want = want.sort_values(cols).reset_index(drop=True)
    try:
        for _ in range(2):
            cache_base_tables(spark, sf_dir, partitions=2, bytes_per_split=1)
            set_input_mode("cached")
            got = q.plan(spark, sf_dir).select("*").toPandas()
            set_input_mode("parquet")
            uncache_base_tables(spark)
            assert got.sort_values(cols).reset_index(drop=True).equals(want)
    finally:
        set_input_mode("parquet")
        uncache_base_tables(spark)


def test_md5_band_keys_twin_shuffles_sketches_not_text(spark, sf_dir):
    """The md5 LSH twin must keep the production sketch plan shape:
    map-side-combined MIN partials, a doc_id exchange that carries the
    sketch signature (never the document text or shingles), and no
    joins anywhere in candidate generation."""
    from utils_infra_spark.pipeline.dedup import minhash_band_keys
    from utils_infra_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = minhash_band_keys(docs, "text", "doc_id", hash_family="md5")
    plan = plan_of_df(spark, df)
    # min(string) buffers aren't hash-mappable, so Spark plans
    # SortAggregate here (the xxhash64 production path gets
    # HashAggregate over longs); either way a partial/final pair must
    # straddle the exchange — map-side combine is the point
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2
    exchange_lines = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Arguments: hashpartitioning")
    ]
    assert exchange_lines and all("doc_id" in ln for ln in exchange_lines), exchange_lines
    assert not any("text" in ln or "shingle" in ln for ln in exchange_lines), exchange_lines
    assert "Join" not in plan


def test_md5_simhash_twin_groups_votes_map_side(spark, sf_dir):
    """The md5 simhash twin keeps the staged-votes shape: exploded
    nibble projection, 16 codegen'd SUM votes combined map-side, one
    doc_id shuffle of partial votes."""
    from utils_infra_spark.pipeline.dedup import simhash16_md5
    from utils_infra_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = simhash16_md5(docs, "text", "doc_id")
    plan = plan_of_df(spark, df)
    assert "HashAggregate" in plan
    exchange_lines = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Arguments: hashpartitioning")
    ]
    assert exchange_lines and all("doc_id" in ln for ln in exchange_lines), exchange_lines
    assert not any("text" in ln or "tok" in ln for ln in exchange_lines), exchange_lines


def test_line_dedup_aggregates_not_window(spark, sf_dir):
    """Corpus line dedup must be hash AGGREGATES, never a window over
    the line key: min(struct(doc_id, line_no)) partial-combines a
    10^7-occurrence boilerplate line map-side, where row_number()
    would sort every occurrence on one reducer (the hot-key mode).
    Three hash exchanges (winner agg, reassembly, per-doc totals) and
    the dropped-count join — no Window, no sort of the line rows, no
    cartesian."""
    from utils_infra_spark.pipeline.dedup import line_dedup_corpus
    from utils_infra_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = line_dedup_corpus(docs, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") <= 4, plan[:2000]
    assert "partial_min" in plan or "partial min" in plan.lower(), plan[:2000]
    assert "CartesianProduct" not in plan
    # struct-min compiles to SortAggregate (per-task LOCAL sorts —
    # fine); what must never appear is a sort keyed on `line` that is
    # NOT immediately under an aggregate, i.e. a window-style global
    # ordering of the line rows. Pin: every Sort over `line` in the
    # plan belongs to a SortAggregate pair.
    import re as _re
    sorts_on_line = _re.findall(r"Sort \[line", plan)
    assert len(sorts_on_line) <= 2, plan[:2000]  # map-side + reduce-side agg sorts only


def test_char_lm_scoring_joins_broadcast(spark, sf_dir):
    """The model — bounded by charset^3 regardless of corpus size —
    must reach the scoring join as a single broadcast local relation
    (collected + quantized driver-side): nothing about scoring may
    shuffle or re-aggregate the corpus-side trigrams for a join.
    (A zero-shuffle in-row variant via `aggregate` HOF was measured
    2.5x slower — HOF lambdas run interpreted — so the codegen'd
    explode+join shape is the pinned one.)"""
    from utils_infra_spark.pipeline.text import char_trigram_lm_scores
    from utils_infra_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        char_trigram_lm_scores(docs, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastExchange") == 1, plan[:1500]
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # the model reached the plan as a COLLECTED local relation...
    assert "LocalTableScan" in plan, plan[:1500]
    # ...so scoring must never re-run the fit: no aggregate keyed on
    # the trigram anywhere in the score plan (the per-doc reduction
    # keys on doc_id only). String-level but materialization-proof —
    # it holds whether tris prints as a live explode or as the
    # persisted InMemoryRelation.
    assert "keys=[tri" not in plan, plan[:1500]


def test_uncacheable_plan_rebuilds_per_call(spark, sf_dir):
    """char_lm's builder EXECUTES the model fit at build time, so its
    plan must never be re-served from the cache — otherwise a timing
    loop over plan() silently stops paying the fit after run 1 (the
    result-cache-in-disguise failure mode the bench methodology
    forbids). Cached queries keep returning the same object."""
    from utils_infra_spark.queries import REGISTRY, _load

    _load()
    q = REGISTRY["char_lm_quality_documents"]
    assert q.plan(spark, sf_dir) is not q.plan(spark, sf_dir)
    qc = REGISTRY["pricing_summary"]
    assert qc.plan(spark, sf_dir) is qc.plan(spark, sf_dir)


def test_plan_rebuilt_when_build_runs_a_job(spark, sf_dir):
    """The registry re-serves a plan only if building it ran no Spark
    job: a builder that collects is rebuilt on every call, and a pure
    builder gets the same object back."""
    from utils_infra_spark.queries import Query

    def collecting(spark, sf_dir):
        return spark.range(len(spark.range(3).collect()))

    def pure(spark, sf_dir):
        return spark.range(3)

    q = Query("throwaway_collecting", collecting, None)
    assert q.plan(spark, sf_dir) is not q.plan(spark, sf_dir)
    q = Query("throwaway_pure", pure, None)
    assert q.plan(spark, sf_dir) is q.plan(spark, sf_dir)


def test_registry_reserves_only_job_free_builds(spark, sf_dir):
    """bloom's split and the top-k query-vector collect run jobs at
    build, so their plans are rebuilt per call. The literal micro-dim
    fold is the one exception: its jobs carry FOLD_TAG, so the two
    literal-map builders stay cached."""
    for name in ("bloom_novelty_documents", "embedding_topk_cosine"):
        q = REGISTRY[name]
        assert q.plan(spark, sf_dir) is not q.plan(spark, sf_dir), name
    for name in ("enrich_customer_nation", "nation_revenue"):
        q = REGISTRY[name]
        assert q.plan(spark, sf_dir) is q.plan(spark, sf_dir), name


def _job_ids_during(spark, fn):
    """fn()'s result and the ids of the Spark jobs it ran (job tag)."""
    import uuid

    sc = spark.sparkContext
    tag = f"test-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return out, list(jsc.statusTracker().getJobIdsForTag(tag))


def test_load_table_schema_equals_inference_without_a_job(spark, sf_dir, tmp_path):
    """load_table reads one footer on the driver: for every table file,
    for nanosecond events.ts (read as long, converted to a microsecond
    timestamp) and for a Spark-written table directory, its schema
    equals what spark.read.parquet infers, and the read runs no job. A
    sibling session starts with an empty table cache, so every read
    here is a first read."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from utils_infra_spark.sources.tables import TABLE_NAMES, load_table

    fresh = spark.newSession()
    got, jobs = _job_ids_during(fresh, lambda: {t: load_table(fresh, sf_dir, t) for t in TABLE_NAMES})
    assert jobs == []
    for t in TABLE_NAMES:
        assert got[t].schema == fresh.read.parquet(f"{sf_dir}/{t}.parquet").schema, t

    events = pq.read_table(f"{sf_dir}/events.parquet")
    nanos = events.set_column(
        events.schema.get_field_index("ts"), "ts", events["ts"].cast(pa.timestamp("ns"))
    )
    pq.write_table(nanos, tmp_path / "events.parquet")
    ev, jobs = _job_ids_during(fresh, lambda: load_table(fresh, str(tmp_path), "events"))
    assert jobs == []
    inferred = fresh.read.parquet(str(tmp_path / "events.parquet"))
    assert dict(inferred.dtypes)["ts"] == "bigint"
    assert ev.schema == inferred.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))).schema
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    as_text = lambda df: sorted(r[0] for r in df.select(F.col("ts").cast("string")).collect())  # noqa: E731
    assert as_text(ev) == as_text(got["events"])

    spark_dir = tmp_path / "spark_written"
    got["events"].repartition(3).write.parquet(str(spark_dir / "events.parquet"))
    ev, jobs = _job_ids_during(fresh, lambda: load_table(fresh, str(spark_dir), "events"))
    assert jobs == []
    assert ev.schema == fresh.read.parquet(str(spark_dir / "events.parquet")).schema
    assert ev.count() == got["events"].count()


def test_fresh_session_reserves_table_reading_plans(spark, sf_dir):
    """A session that never preloaded its tables (the driver contract's
    vanilla session) builds a table-reading query once: the first
    build reads footers without a job, so its plan is re-served."""
    fresh = spark.newSession()
    for name in ("enrich_customer_nation", "quality_decile_stats", "last_nonnull_state_events"):
        q = REGISTRY[name]
        assert q.plan(fresh, sf_dir) is q.plan(fresh, sf_dir), name


def test_dup_span_coverage_shuffles_hashes_not_text(spark, sf_dir):
    """Window hashing happens in-row; every exchange downstream
    carries hashes or (doc_id, idx) pairs. No Window operator, no
    cartesian, and the dup-set reduction is a partial-combined hash
    aggregate."""
    from utils_infra_spark.pipeline.dedup import dup_span_coverage
    from utils_infra_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        dup_span_coverage(docs, "text", "doc_id", window=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan, plan[:1500]
    assert "partial_count" in plan or "partial count" in plan.lower(), plan[:1500]
    # the claimed invariant, actually pinned: no exchange carries the
    # token array or raw text — hashes, positions, ids only
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "toks" not in ln and "text" not in ln, ln


def test_bench_summary_median_iqr_and_cold_split():
    """bench.py's summary rule on known samples: sample 0 is cold and
    kept apart, the other 7 are warm; each query reports the median
    and the exclusive-quartile IQR (2nd to 6th smallest of 7) of its
    warm samples, `value` sums the medians, `value_iqr` is the IQR of
    the warm pass totals, and both ratios pair Spark and DuckDB medians
    over the oracle-backed queries (r1-r5 subset for `ratio_warm`)."""
    from bench import median_iqr, summarize

    assert median_iqr([7, 1, 6, 2, 5, 3, 4]) == (4, 4)
    spark_runs = {
        "pricing_summary": [9.0, 0.1, 0.7, 0.2, 0.6, 0.3, 0.5, 0.4],
        "char_lm_quality_documents": [5.0] + [1.0] * 7,
        # rows-only (no oracle); one slow warm run moves neither figure
        "minhash_near_dup_documents": [2.0] + [0.2] * 6 + [3.0],
    }
    duck_runs = {
        "pricing_summary": [0.9] + [0.1] * 7,
        "char_lm_quality_documents": [0.8, 0.4, 0.6, 0.5, 0.5, 0.5, 0.4, 0.6],
    }
    s = summarize(spark_runs, duck_runs)
    approx = pytest.approx
    assert s["queries"] == approx(
        {"pricing_summary": 0.4, "char_lm_quality_documents": 1.0, "minhash_near_dup_documents": 0.2}
    )
    assert s["queries_iqr"] == approx(
        {"pricing_summary": 0.4, "char_lm_quality_documents": 0.0, "minhash_near_dup_documents": 0.0}
    )
    assert s["cold_queries"] == approx(
        {"pricing_summary": 9.0, "char_lm_quality_documents": 5.0, "minhash_near_dup_documents": 2.0}
    )
    assert s["cold_total"] == approx(16.0)
    assert s["value"] == approx(1.6)
    # pass totals 1.3 1.9 1.4 1.8 1.5 1.7 4.4 -> Q1 1.4, Q3 1.9
    assert s["value_iqr"] == approx(0.5)
    assert s["duck_queries"] == approx({"pricing_summary": 0.1, "char_lm_quality_documents": 0.5})
    assert s["duck_queries_iqr"] == approx({"pricing_summary": 0.0, "char_lm_quality_documents": 0.2})
    assert (s["spark_oracle_subset_total"], s["duck_total"], s["ratio_warm"]) == approx((0.4, 0.1, 4.0))
    assert (s["spark_full_total"], s["duck_full_total"], s["ratio_warm_full"]) == approx((1.4, 0.6, 2.33))
    assert s["spark_runs"] is spark_runs and s["duck_runs"] is duck_runs


def test_bench_stdout_line_fits_driver_capture():
    """The driver json-parses the LAST 2000 bytes of bench.py's
    output; r4-r6 all shipped `parsed: null` because the line carried
    per-query dicts and methodology prose past that window. Pin the
    contract on a payload built by bench's own summary from synthetic
    samples (current headline set, worst-case-width values): the line
    parses, carries exactly the scalar key set plus `queries`, and
    stays under the capture budget."""
    import json

    from bench import _LINE_BUDGET, _LINE_KEYS, DETAIL, HEADLINE, RUNS, compact_line, summarize

    spark_runs = {name: [123.4567] * RUNS for name in HEADLINE}
    duck_runs = {name: [12.3456] * RUNS for name in HEADLINE if REGISTRY[name].oracle is not None}
    payload = {
        "metric": "headline_queries_total_runtime_warm",
        "unit": "sec",
        "sf": 0.1,
        **summarize(spark_runs, duck_runs),
        "floor_sec": 0.1234,
        "loadavg_1m": [12.34, 12.34],
        "session_start_sec": 123.456,
        "input_bytes": 17504410,
        "input_cached": True,
        "input_cache_build_sec": 12.345,
        "input_cache_partitions": {name: 20 for name in HEADLINE},
        "tuned_confs": {"spark.sql.shuffle.partitions": "8", "spark.sql.adaptive.enabled": "false"},
        "detail": DETAIL,
        "process_wall_sec": 1234.567,
    }
    line = compact_line(payload)
    assert len(line) <= _LINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert set(parsed) == set(_LINE_KEYS)
    for k in ("metric", "value", "unit", "queries", "sf", "ratio_warm", "ratio_warm_full"):
        assert k in parsed, k
    assert set(parsed["queries"]) == set(HEADLINE)


def test_bench_cli_prints_result_line(sf_dir):
    """`python bench.py` end to end on the test data: exit 0, a last
    stdout line inside the harness's 2000-byte capture that parses with
    the contract keys, and no banked-candidate or per-round files
    written beside it."""
    import glob
    import json
    import os
    import subprocess
    import sys

    from bench import HEADLINE

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def leftovers() -> dict[str, float]:
        pats = ("BENCH_candidates.jsonl", "BENCH_result_r*.json")
        return {p: os.path.getmtime(p) for pat in pats for p in glob.glob(os.path.join(root, pat))}

    before = leftovers()
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY="2g",
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"], cwd=root, env=env, capture_output=True, text=True, timeout=1200
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = proc.stdout.rstrip("\n").splitlines()[-1]
    assert len(line.encode()) <= 2000, len(line.encode())
    parsed = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf", "ratio_warm", "ratio_warm_full"):
        assert k in parsed, k
    assert set(parsed["queries"]) == set(HEADLINE)
    assert parsed["value"] > 0 and parsed["value_iqr"] >= 0
    assert leftovers() == before


def test_char_lm_rebuild_never_reuses_previous_cache(spark, sf_dir, persistent_rdd_ids):
    """char_lm persists its trigram stream so fit+score share one
    explode WITHIN a build. Across builds the pin must hold: each
    rebuild unpersists the predecessor (Spark's CacheManager matches
    by logical-plan equality, so a stale entry would silently serve
    the old run's explode — cross-run amortization the registry's
    rebuild-per-call rule for job-running builders forbids).
    Observable contract: persistent-RDD count grows by at most ONE
    cached tris no matter how many times the builder runs."""
    from utils_infra_spark.pipeline.text import char_trigram_lm_scores
    from utils_infra_spark.sources import load_table

    spark.catalog.clearCache()
    base = len(persistent_rdd_ids())
    docs = load_table(spark, sf_dir, "documents")
    for _ in range(3):
        char_trigram_lm_scores(docs, "text", "doc_id").collect()
    assert len(persistent_rdd_ids()) <= base + 1
    spark.catalog.clearCache()


def test_pretrain_pipeline_fused_gates_shape(spark, sf_dir):
    """The capstone's three in-row gates (C4 / Gopher quality /
    encoding screen) are fused into ONE projection riding the dup
    digest's scan — the r7 shape materialized each gate as its own
    branch and equi-joined back on doc_id (9 documents scans, 8 joins,
    13 exchanges); fused it is 5 scans (2 outside the repetition
    branch), 4 joins, 9 exchanges. At 100 TB the delta is 4 corpus
    scans and 3 corpus-wide shuffle joins. Sf0.1 timing: ~1.29 s →
    ~1.06 s warm (the structural win is what matters at 100x)."""
    import re

    plan = plan_of(spark, sf_dir, "pretrain_pipeline_documents")
    # formatted mode prints each scan twice (tree row + detail block);
    # count the numbered detail headers only
    scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert scans <= 5, f"documents scanned {scans}x — gate fusion regressed"
    joins = len(
        re.findall(
            r"^\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan, re.M
        )
    )
    assert joins <= 4, f"{joins} joins — the in-row gates grew join-backs again"
    # skew guard: the dup flag must stay an aggregate + join-back,
    # never a window partitioned by the text digest (unbounded
    # partitions when one document repeats corpus-wide)
    win = [ln for ln in plan.splitlines() if "Window" in ln and "__dig" in ln]
    assert not win, f"window over digest: {win}"


def test_embedding_topk_cosine_is_all_jvm(spark, sf_dir):
    """r10 rewrite: the bench headliner's warm cost was two Python
    Arrow crossings; the codegen path must keep the whole plan JVM-side
    — no Python eval nodes, no window over a per-query hot key, and
    the dot-product aggregate keyed on the candidate id (map-side
    partial combine collapses 64 exploded rows to one per candidate
    before the exchange)."""
    from utils_infra_spark.queries import REGISTRY, _load

    _load()
    plan = (
        REGISTRY["embedding_topk_cosine"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for bad in ("ArrowEval", "MapInArrow", "BatchEval", "PythonUDF", "MapInPandas", "Window"):
        assert bad not in plan, f"{bad} in plan:\n{plan[:2000]}"
    assert "Generate explode" in plan or "Generate posexplode" in plan, plan[:1500]
    assert plan.count("Exchange") <= 3, plan[:2000]


def test_rrf_top20_is_take_ordered(spark, sf_dir):
    """The fused top-20 must be a TakeOrderedAndProject (bounded
    per-partition heaps), never a global Sort over the ranked corpus."""
    plan = plan_of(spark, sf_dir, "rrf_orders_value_recency")
    assert "TakeOrderedAndProject" in plan
    # the only Sorts allowed are the local window sorts (partitioned by
    # __bin) — no global Exchange rangepartitioning for the final order
    assert "rangepartitioning(rrf_score" not in plan


def test_frequent_item_pairs_joins_on_order_not_item(spark, sf_dir):
    """The basket self-join must key on the order id (work bounded by
    basket size squared) — keying on the item would funnel hot items;
    and the A-priori prune must stay a semi-join below it."""
    import re

    plan = (
        REGISTRY["frequent_item_pairs"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    sj = [ln for ln in plan.splitlines() if re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", ln)]
    inner = [ln for ln in sj if "LeftSemi" not in ln]
    assert inner, "no basket self-join found"
    assert any("l_orderkey" in ln for ln in inner), inner
    assert any("LeftSemi" in ln for ln in sj), "A-priori semi-join prune missing"


def test_entity_resolution_no_nested_loop(spark, sf_dir):
    """Blocking must keep the pair generation an equi-join: no
    BroadcastNestedLoopJoin (the all-pairs fallback) anywhere in the
    capstone plan."""
    plan = plan_of(spark, sf_dir, "entity_resolution_parts")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_equi_depth_no_unpartitioned_window_over_data(spark, sf_dir):
    """Ranks must ride bin-partitioned windows (global_rank); the only
    unpartitioned window sits over the aggregated bin table. The
    equi-depth rank is per (flag, bin), the quality deciles' per bin."""
    import re

    for name in ("equi_depth_price_histogram", "quality_decile_stats"):
        plan = REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        ranks = list(re.finditer(r"Window \[[^\]]*(?:row_number|ntile)[^\]]*\], \[([^\]]*)\]", plan))
        assert ranks, f"{name}: no rank window in plan"
        for m in ranks:
            assert "__bin" in m.group(0), f"{name}: rank window without bin partition:\n{m.group(0)}"
