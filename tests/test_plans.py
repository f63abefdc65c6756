"""Plan-shape assertions: the properties that make these plans survive
a 100× scale-up.  Results being right is necessary; these tests check
the execution is the one we designed (pushdown, pruning, broadcast,
bounded shuffles)."""

from __future__ import annotations

from pyspark.sql import functions as F

from alpaca_pyspark_spark.plans import (
    count_broadcasts,
    count_shuffles,
    formatted_plan,
    has_whole_stage_codegen,
    pushed_filters,
    read_schemas,
)
from alpaca_pyspark_spark.queries import QUERIES

from .conftest import SF_DIR


def test_q01_filter_pushdown_and_pruning(spark):
    df = QUERIES["q01_scan_filter_project"](spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "event_type" in pushed, f"event_type filter not pushed: {pushed}"
    # props is never used -> must not be read from parquet
    schemas = " ".join(read_schemas(df))
    assert "props" not in schemas, f"column pruning failed: {schemas}"


def test_q02_single_shuffle_bar_agg(spark):
    df = QUERIES["q02_bars_tumbling"](spark, SF_DIR)
    # one hash agg -> exactly one exchange on the group keys
    assert count_shuffles(df) == 1, formatted_plan(df)
    assert has_whole_stage_codegen(df)


def test_q05_dimension_joins_broadcast(spark):
    df = QUERIES["q05_groupby_rollup"](spark, SF_DIR)
    assert count_broadcasts(df) >= 2, "nation/region should broadcast"


def test_q06_asof_single_shuffle(spark):
    df = QUERIES["q06_asof_join"](spark, SF_DIR)
    # union + window + filter -> one exchange on user_id, no join shuffle
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q07_adjustment_single_shuffle(spark):
    df = QUERIES["q07_adjustment"](spark, SF_DIR)
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q14_sessionize_single_shuffle(spark):
    df = QUERIES["q14_stream_session"](spark, SF_DIR)
    # two windows + final agg all share the user_id partitioning
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q13_corpus_not_shuffled(spark):
    df = QUERIES["q13_embedding_sim"](spark, SF_DIR)
    plan = formatted_plan(df)
    # Arrow fast path: queries ride the UDF closure (no broadcast/join
    # node at all); the corpus is scored in one MapInPandas pass and
    # only the per-query top-k window shuffles.  spread() may add one
    # narrow repartition when the local scan under-parallelizes.
    assert "MapInPandas" in plan, plan
    assert count_shuffles(df) <= 2, plan


def test_scan_filter_stays_codegen(spark):
    e = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = e.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    assert has_whole_stage_codegen(df)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed


def test_q23_star_join_all_dims_broadcast(spark):
    df = QUERIES["q23_star_join"](spark, SF_DIR)
    # every dimension broadcasts; the fact table never shuffles for the
    # joins — only the final agg exchanges
    assert count_broadcasts(df) >= 3, formatted_plan(df)
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q30_rollup_reaggregates_bars_not_ticks(spark):
    df = QUERIES["q30_bar_rollup"](spark, SF_DIR)
    # one exchange per bar level (hourly from ticks, daily from hourly)
    # and nothing else: the rollup never revisits the tick stream
    assert count_shuffles(df) == 2, formatted_plan(df)


def test_q04_topk_partial_group_limit_before_exchange(spark):
    df = QUERIES["q04_sort_limit_topk"](spark, SF_DIR)
    plan = formatted_plan(df)
    # WindowGroupLimit rewrite: map-side Partial prune -> ONE exchange
    # carrying <= partitions*groups*k survivors -> Final rank
    assert count_shuffles(df) == 1, plan
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_q31_token_count_no_shuffle(spark):
    df = QUERIES["q31_token_count"](spark, SF_DIR)
    # per-row regexp counting is scan -> project, shuffle-free
    assert count_shuffles(df) == 0, formatted_plan(df)
    assert has_whole_stage_codegen(df)


def test_minhash_signature_partial_aggregation(spark):
    from alpaca_pyspark_spark.operators.dedup import minhash_signatures
    from alpaca_pyspark_spark.tables import load

    sigs = minhash_signatures(load(spark, SF_DIR, "documents"), id_col="doc_id")
    plan = formatted_plan(sigs)
    # partial + final HashAggregate pairs: the shuffle carries one
    # 64-long row per (doc x partition), never the exploded shingles
    assert plan.count("HashAggregate") >= 4, plan


def test_q34_salted_agg_spreads_hot_keys(spark):
    df = QUERIES["q34_salted_heavy_hitters"](spark, SF_DIR)
    plan = formatted_plan(df)
    # phase 1 exchanges on (key, salt) — hot keys spread over 32
    # reducers; phase 2 exchanges 96 partial rows on the key alone
    assert count_shuffles(df) == 2, plan
    assert "__salt" in plan, plan


def test_q35_pivot_two_bounded_exchanges(spark):
    df = QUERIES["q35_pivot"](spark, SF_DIR)
    plan = formatted_plan(df)
    # explicit pivot values -> no distinct-discovery job; pivot plans
    # as pre-agg on (year, flag) then pivotfirst on year, so the
    # second exchange carries only |years x flags| partial rows
    assert count_shuffles(df) == 2, plan
    assert "pivotfirst" in plan, plan


def test_q36_unpivot_single_shuffle(spark):
    df = QUERIES["q36_unpivot"](spark, SF_DIR)
    # melt is a codegen Expand; only the final agg exchanges
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q40_range_join_is_hash_not_nested_loop(spark):
    df = QUERIES["q40_range_join_no_key"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the bucketed rewrite must eliminate the O(n*m) fallback plans
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_interval_joins_keep_equality_hash_path(spark):
    """q03/q26 carry a key equality besides the time containment, so
    they must plan as hash joins with the range as a residual
    condition — never the O(n*m) nested-loop fallback."""
    for qid in ("q03_interval_join_agg", "q26_sql_interval_join"):
        plan = formatted_plan(QUERIES[qid](spark, SF_DIR))
        assert "NestedLoop" not in plan, (qid, plan)
        assert "HashJoin" in plan or "SortMergeJoin" in plan, (qid, plan)


def test_q03_adaptive_cold_path_is_pure_pair_join(spark):
    """At sf0.01 no key crosses the dispatch floor, so q03's adaptive
    plan must be EXACTLY the naive equi+range pair join — no Generate
    (the decomposition's sequence/explode fan-out), no union of
    branches, and no nested-loop fallback (VERDICT r10 item 5 pins
    the cold-path shape)."""
    df = QUERIES["q03_interval_join_agg"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "Generate" not in plan, plan  # no explode: naive branch only
    assert "Union" not in plan, plan


def test_interval_adaptive_hot_dispatch_splits_plan(spark, monkeypatch):
    """With a forced-hot key the dispatched plan must carry BOTH
    branches: the decomposition's Generate fan-out for the hot keys
    and a Union with the cold pair join — still no nested loop."""
    from alpaca_pyspark_spark.operators import intervalagg as ia
    from alpaca_pyspark_spark.tables import load

    monkeypatch.setattr(ia, "PAIR_FLOOR", 10)
    e = load(spark, SF_DIR, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("s_ts"),
    )
    f = e.select(
        "user_id",
        F.col("ts").alias("f_ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("__cents"),
    )
    df = ia.trailing_interval_agg_adaptive(
        s, f, key="user_id", anchor_ts="s_ts", event_ts="f_ts",
        window_seconds=86400, sum_col="__cents",
    )
    plan = formatted_plan(df)
    assert "Union" in plan, plan
    assert "Generate" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_q52_twap_single_shuffle(spark):
    df = QUERIES["q52_twap"](spark, SF_DIR)
    # the lead() window and the (user, day) agg share one exchange
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q53_chunking_map_only(spark):
    df = QUERIES["q53_document_chunking"](spark, SF_DIR)
    # tokenize -> explode -> slice is a pure map pipeline: NO exchange
    assert count_shuffles(df) == 0, formatted_plan(df)
    assert has_whole_stage_codegen(df)


def test_q54_pii_scrub_map_only(spark):
    df = QUERIES["q54_pii_scrub"](spark, SF_DIR)
    assert count_shuffles(df) == 0, formatted_plan(df)


def test_q55_bloom_prunes_before_join_shuffle(spark):
    df = QUERIES["q55_bloom_join_prune"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the bitmap rides a broadcast; the fact side is filtered by the
    # bit tests (xxhash64 against the broadcast array) below the join
    assert count_broadcasts(df) >= 2, plan
    assert "xxhash64" in plan, plan


def test_q51_drawdown_single_shuffle(spark):
    df = QUERIES["q51_drawdown"](spark, SF_DIR)
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q67_interval_coalesce_single_shuffle(spark):
    df = QUERIES["q67_interval_coalesce"](spark, SF_DIR)
    # both windows and the island aggregate share the user_id hash
    # partitioning (HashPartitioning(user_id) satisfies the
    # (user_id, island) clustering) -> exactly one exchange
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q70_lineitem_never_shuffles(spark):
    df = QUERIES["q70_small_quantity_revenue"](spark, SF_DIR)
    plan = formatted_plan(df)
    # part list AND per-part stats both broadcast; the only exchanges
    # are the stats aggregate and the final one-row agg
    assert count_broadcasts(df) >= 2, plan
    assert count_shuffles(df) <= 2, plan


def test_q71_argmax_partial_aggregatable(spark):
    df = QUERIES["q71_argmax_event"](spark, SF_DIR)
    # max_by combines map-side: one exchange, codegen end-to-end
    assert count_shuffles(df) == 1, formatted_plan(df)
    assert has_whole_stage_codegen(df)


def test_q73_weighted_sample_map_only(spark):
    df = QUERIES["q73_weighted_sample"](spark, SF_DIR)
    # Lehmer-hash filter is scan-side arithmetic: NO exchange
    assert count_shuffles(df) == 0, formatted_plan(df)
    assert has_whole_stage_codegen(df)


def test_q75_hopping_window_expand_one_shuffle(spark):
    df = QUERIES["q75_hopping_window"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the width/slide fan-out is a map-side Expand, not a join; only
    # the aggregate exchanges
    assert "Expand" in plan, plan
    assert count_shuffles(df) == 1, plan


def test_q74_cohort_skew_safe_shape(spark):
    """Round-11 rework: distinct (user, day) FIRST (map-side partials
    collapse a hot key before anything per-user), then the cohort min
    + join-back on the per-user-day table, then the matrix aggregate.
    Three bounded exchanges — and critically NO whole-partition window
    (the old shape's Window node buffered the hot key on one task,
    measured 1.96x/1.60x hot-over-uniform before the fix)."""
    df = QUERIES["q74_cohort_retention"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert count_shuffles(df) <= 3, plan


def test_q76_ewma_single_shuffle(spark):
    df = QUERIES["q76_ewma"](spark, SF_DIR)
    # per-user collect_list aggregate; the fold itself is expression-level
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q77_bitmap_rollup_fact_shuffle_is_partial(spark):
    df = QUERIES["q77_bitmap_distinct_rollup"](spark, SF_DIR)
    plan = formatted_plan(df)
    # only the first exchange sees fact-table volume, and it carries
    # map-side partial bitmaps, not raw rows
    assert "partial_bitmap_construct_agg" in plan, plan
    assert count_shuffles(df) == 3, plan


def test_q78_fuzzy_block_join_broadcasts(spark):
    df = QUERIES["q78_fuzzy_name_pairs"](spark, SF_DIR)
    plan = formatted_plan(df)
    # blocked candidate join is a broadcast HASH join (never O(n^2)
    # nested loop); the only shuffles are the two name-distincts
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan
    assert count_shuffles(df) == 2, plan


def test_q80_skyline_windows_share_exchange(spark):
    df = QUERIES["q80_brand_skyline"](spark, SF_DIR)
    # both dominance windows (brand) and (brand, size) run on the one
    # brand-hash exchange
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q82_sole_late_shipper_single_fact_scan(spark):
    df = QUERIES["q82_sole_late_shipper"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the EXISTS/NOT-EXISTS pair is decorrelated into counts: the
    # fact table is scanned exactly once and no nested loop appears
    assert plan.count("lineitem.parquet") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q83_scalar_threshold_broadcasts_one_row(spark):
    df = QUERIES["q83_revenue_share_threshold"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the global total joins in as a broadcast single-row build, not a
    # single-partition window over the per-part table
    assert count_broadcasts(df) >= 1, plan
    assert "Window" not in plan, plan


def test_q84_pricing_summary_partial_agg(spark):
    df = QUERIES["q84_pricing_summary"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the agg exchange carries |groups| partial rows; the only other
    # exchange is the final ORDER BY range partitioning
    assert "partial_sum" in plan, plan
    assert count_shuffles(df) == 2, plan
    assert plan.count("lineitem.parquet") == 1, plan


def test_q85_filter_before_join_and_broadcasts(spark):
    df = QUERIES["q85_large_volume_orders"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the HAVING aggregate prunes lineitem before any join; both
    # attach joins are broadcasts, so no join re-shuffles survivors
    assert count_broadcasts(df) >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_q86_disjunction_keeps_hash_join(spark):
    df = QUERIES["q86_disjunctive_predicate_join"](spark, SF_DIR)
    plan = formatted_plan(df)
    # OR-of-clauses must not force a nested loop: the common partkey
    # equi-key drives a broadcast hash join
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q87_fact_shuffle_carries_aggregates(spark):
    df = QUERIES["q87_dominant_supplier_parts"](spark, SF_DIR)
    plan = formatted_plan(df)
    # exactly one scan of lineitem, partial-aggregated before its
    # exchange; the share-of-total window runs on aggregated rows
    assert plan.count("lineitem.parquet") == 1, plan
    assert "partial_sum" in plan, plan


def test_q88_anti_join_no_fact_rescan(spark):
    df = QUERIES["q88_idle_rich_customers"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the scalar average is a one-row broadcast; customer scanned for
    # the avg and for the probe side, orders only as the anti build
    assert count_broadcasts(df) >= 2, plan
    assert "LeftAnti" in plan, plan


def test_q89_inverted_index_single_shuffle(spark):
    df = QUERIES["q89_inverted_index"](spark, SF_DIR)
    plan = formatted_plan(df)
    # collect_set is partial-aggregated object hash agg: the exchange
    # carries per-token partial sets, not the exploded token stream
    assert count_shuffles(df) == 1, plan
    assert "partial_collect_set" in plan, plan


def test_q90_bm25_one_pass_one_shuffle(spark):
    df = QUERIES["q90_bm25_topk"](spark, SF_DIR)
    plan = formatted_plan(df)
    # per-term tf columns come from size(filter(...)) in the map
    # stage — no explode, no per-term shuffle; stats broadcast back;
    # top-k is TakeOrdered, not a global sort exchange
    assert count_shuffles(df) == 1, plan
    assert "Generate" not in plan, plan  # no explode anywhere
    assert "TakeOrderedAndProject" in plan, plan


def test_q91_pagerank_bounded_iteration_shuffles(spark):
    df = QUERIES["q91_pagerank_suppliers"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the rank side of every iteration joins broadcast (|V| rows);
    # the symmetrized edge table is built once and never re-shuffled
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q93_pair_counts_run_on_vocab_not_corpus(spark):
    df = QUERIES["q93_bpe_merge_pairs"](spark, SF_DIR)
    plan = formatted_plan(df)
    # word collapse partial-aggregates the exploded token stream;
    # bigram fan-out happens after, on distinct words only; top-30
    # never global-sorts
    assert count_shuffles(df) == 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q94_dimensions_never_shuffle(spark):
    df = QUERIES["q94_returned_revenue_customers"](spark, SF_DIR)
    plan = formatted_plan(df)
    # fact aggregates to custkeys before customer/nation attach; the
    # returnflag filter reaches the lineitem scan
    assert "BroadcastHashJoin" in plan, plan
    assert any("l_returnflag" in f for f in pushed_filters(df)), pushed_filters(df)


def test_q96_promo_share_single_fact_pass(spark):
    df = QUERIES["q96_promo_revenue_share"](spark, SF_DIR)
    plan = formatted_plan(df)
    # conditional + total sums come from ONE aggregation: lineitem is
    # scanned once and part joins broadcast
    assert plan.count("lineitem.parquet") == 1, plan
    assert count_broadcasts(df) >= 1, plan


def test_q99_profit_one_fact_exchange(spark):
    df = QUERIES["q99_profit_by_nation"](spark, SF_DIR)
    plan = formatted_plan(df)
    # all three dimensions broadcast; the only wide exchanges are the
    # (nation, year) partial agg and the final order
    assert plan.count("lineitem.parquet") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert count_shuffles(df) == 2, plan


def test_q100_semi_probe_broadcast(spark):
    df = QUERIES["q100_market_share"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the EUROPE customer set probes as a broadcast semi-join (the
    # fact-fact lineitem x orders join is rightly left to SMJ/AQE)
    assert "BroadcastHashJoin LeftSemi" in plan, plan


def test_q120_lift_single_corpus_exchange(spark):
    df = QUERIES["q120_domain_distinctive_tokens"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the corpus is scanned/shuffled once into the cached vocab x
    # domain table (scoped_persist — released at the query boundary);
    # corpus counts, domain totals and the grand total all attach back
    # by broadcast; top-5-per-source uses the rank pushdown
    # (WindowGroupLimit), not a full per-group sort+filter
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert count_broadcasts(df) >= 3, plan
    assert "WindowGroupLimit" in plan, plan


def test_q182_lm_broadcast_scoring(spark):
    df = QUERIES["q182_perplexity_filter"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the vocab-bounded bigram LM attaches to the corpus transition
    # stream as a BROADCAST join (CCNet ships a fixed LM for the same
    # reason); the per-doc score exchange partial-aggregates map-side,
    # so no corpus-scale SMJ anywhere
    assert count_broadcasts(df) >= 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_q184_stop_set_broadcasts(spark):
    df = QUERIES["q184_stopword_filter"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the 20-row learned stop set attaches to the exploded corpus as a
    # broadcast; per-doc scoring partial-aggregates before exchanging
    assert count_broadcasts(df) >= 1, plan
    assert "partial_count" in plan, plan


def test_q186_span_rewrite_three_exchanges(spark):
    df = QUERIES["q186_span_dedup_rewrite"](spark, SF_DIR)
    plan = formatted_plan(df)
    # one exchange keyed by span (global first-occurrence window), one
    # for the (doc, tok_idx) distinct, one for the per-doc count — and
    # never a sort-merge join on the corpus-sized side
    assert count_shuffles(df) <= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert has_whole_stage_codegen(df), plan


def test_q187_dsir_lms_broadcast(spark, assert_no_cache_residue):
    from alpaca_pyspark_spark.queries.llm import _q187_scored

    # scoring stage: both vocab-bounded LMs attach to the corpus-sized
    # pass as broadcasts; the corpus side never sort-merge joins.
    # (asserted on the stage — the distributed rank that follows starts
    # with a localCheckpoint, which truncates the full query's visible
    # plan to the post-checkpoint part)
    scored = _q187_scored(spark, SF_DIR)
    splan = formatted_plan(scored)
    assert count_broadcasts(scored) >= 2, splan
    assert "SortMergeJoin" not in splan, splan
    assert has_whole_stage_codegen(scored), splan
    # full query: the top-20% select rides the distributed range-
    # partition rank (map-only Arrow numbering), NOT a single-partition
    # global window
    df = QUERIES["q187_dsir_importance"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" not in plan, plan


def test_q188_classifier_centroid_broadcast(spark):
    from alpaca_pyspark_spark.queries.llm import _q188_scored

    # scoring stage: the dim-bounded (64-row) centroid attaches to the
    # corpus-sized pass as a broadcast; the corpus never sort-merge
    # joins (stage-level assert — see q187 note on checkpoint
    # truncation)
    scored = _q188_scored(spark, SF_DIR)
    splan = formatted_plan(scored)
    assert count_broadcasts(scored) >= 1, splan
    assert "SortMergeJoin" not in splan, splan
    assert has_whole_stage_codegen(scored), splan
    # full query: distributed rank, no single-partition window
    df = QUERIES["q188_classifier_quality_filter"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" not in plan, plan


def test_q189_pipeline_broadcasts_no_cartesian(spark):
    from alpaca_pyspark_spark.queries.llm import _q189_stages

    # stage-level: the DSIR weights branch sits behind the distributed
    # rank's localCheckpoint in the full query, so its broadcast-LM
    # shape is pinned on the stage itself — both vocab-bounded LMs
    # broadcast, and the (w1, w2)-keyed joins never sort-merge the
    # corpus-scale transition table
    _, _, weights = _q189_stages(spark, SF_DIR)
    wplan = formatted_plan(weights)
    assert count_broadcasts(weights) >= 2, wplan
    assert "SortMergeJoin [w1" not in wplan, wplan
    # full query: stop-set broadcast + ledger joins; no nested-loop
    df = QUERIES["q189_curation_pipeline"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert count_broadcasts(df) >= 1, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert has_whole_stage_codegen(df), plan


def test_q191_stream_plan_stateless(spark, tmp_path):
    """q191's streaming ledger must hold ZERO state: every stage is a
    row-local projection, a mapInPandas over broadcast LM dicts, or a
    stream-static join — no stateful streaming operator anywhere, so
    ingest memory is flat at any corpus size.  Pinned on BOTH the
    analyzed streaming plan (no stateful node classes) and the
    batch-equivalent physical plan (map-only scoring, no global
    window/single-partition exchange)."""
    from alpaca_pyspark_spark.queries.llm import _q191_artifacts, _q191_transform
    from alpaca_pyspark_spark.session import release_scoped_caches
    from alpaca_pyspark_spark.tables import load

    stops, canon_fp, lm, cutoff = _q191_artifacts(spark, SF_DIR)
    release_scoped_caches()
    bc = spark.sparkContext.broadcast(lm)
    try:
        docs = load(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
        src = str(tmp_path / "docs")
        docs.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        out = _q191_transform(stops, canon_fp, bc, cutoff)(stream)
        assert out.isStreaming
        logical = out._jdf.queryExecution().analyzed().toString()
        for stateful in (
            "Aggregate [",  # grouped agg => state store (the row-local
            # fold prints lowercase 'aggregate(' — a HOF, not a node)
            "Deduplicate",
            "FlatMapGroupsWithState",
            "TransformWithState",
            "EventTimeWatermark",
        ):
            assert stateful not in logical, (stateful, logical)
        # batch-equivalent physical plan: Arrow scoring stage present,
        # no global rank artifacts; the only join is the canon enrich
        bout = _q191_transform(stops, canon_fp, bc, cutoff)(docs)
        plan = formatted_plan(bout)
        assert "MapInPandas" in plan, plan
        assert "Exchange SinglePartition" not in plan, plan
        assert "Window" not in plan, plan
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    finally:
        bc.unpersist(blocking=False)


def test_q121_cusum_single_shuffle(spark):
    df = QUERIES["q121_cusum_changepoint"](spark, SF_DIR)
    # totals window, cumsum window and argmax window all share the
    # event_type partitioning: exactly one exchange, no self-join
    assert count_shuffles(df) == 1, formatted_plan(df)
    assert "Join" not in formatted_plan(df)


def test_q122_audio_featurizer_map_only(spark):
    df = QUERIES["q122_audio_energy"](spark, SF_DIR)
    plan = formatted_plan(df)
    # Arrow-batched fan-out inside the Python worker: the only
    # exchange is the spread() round-robin repartition (no hash
    # shuffle, no join); featurizer runs via mapInArrow (round 6:
    # pandas layer dropped, measured 1.23x — ARROW_PROBE_r6.json)
    assert "MapInArrow" in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_q123_bpe_corpus_scanned_once(spark):
    df = QUERIES["q123_bpe_train"](spark, SF_DIR)
    plan = formatted_plan(df)
    # every merge round plans against the localCheckpoint of the
    # previous round's vocab ("Scan ExistingRDD"), so the final plan
    # contains NO corpus parquet scan at all and — the flat-lineage
    # pin the round-3 verdict asked for — the shuffle count stays
    # bounded per round instead of growing 25-for-3-rounds like the
    # un-truncated lineage did.  Each round's selected pair still
    # attaches by broadcast.
    # (the per-round broadcast of the selected pair now lives inside
    # each checkpoint's build plan, so it no longer shows in the final
    # plan string — no broadcast assertion here.)
    assert "ExistingRDD" in plan, plan
    assert "parquet" not in plan.lower(), plan
    assert count_shuffles(df) <= 12, plan


def test_q135_quantization_map_only(spark):
    df = QUERIES["q135_embedding_quantization"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the int8 round-trip audit is pure per-row codegen: no exchange,
    # no Python workers anywhere
    assert count_shuffles(df) == 0, plan
    assert "EvalPython" not in plan, plan
    assert has_whole_stage_codegen(df)


def test_q136_split_audit_train_grams_build_one_side(spark):
    df = QUERIES["q136_split_leakage_audit"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the leak probe is a LeftSemi on the gram (train side deduped
    # first); the per-doc ratio re-attach is a small LEFT join
    assert "LeftSemi" in plan, plan


def test_q137_collocation_df_dimension_broadcasts(spark):
    df = QUERIES["q137_collocation_lift"](spark, SF_DIR)
    # df_t and n_docs attach to surviving pairs by broadcast — the
    # pair aggregate's output never re-shuffles for the dimensions
    assert count_broadcasts(df) >= 3, formatted_plan(df)


def test_q138_pareto_single_exchange(spark):
    df = QUERIES["q138_pareto_frontier"](spark, SF_DIR)
    # both windows (min-at-price, strict-prior running min) share the
    # brand hash partitioning: ONE exchange total, no self-join
    assert count_shuffles(df) == 1, formatted_plan(df)
    assert "Join" not in formatted_plan(df), "skyline must not self-join"


def test_q142_attribution_single_exchange_no_range_join(spark):
    df = QUERIES["q142_last_touch_attribution"](spark, SF_DIR)
    plan = formatted_plan(df)
    # click-collapse agg + as-of union/window share the user_id
    # partitioning; a correlated/range-join rewrite would show a Join
    assert count_shuffles(df) <= 2, plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_q141_overlap_pairs_fan_out_on_gram_sources(spark):
    df = QUERIES["q141_cross_source_overlap"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the pair join runs on (gram)-keyed DISTINCT (gram, source) rows —
    # the matrix never sees raw corpus rows
    assert "HashAggregate" in plan, plan


def test_q139_quantiles_single_exchange(spark):
    df = QUERIES["q139_exact_group_quantiles"](spark, SF_DIR)
    # rank window, count window, and the final agg all share the
    # event_type hash partitioning: one exchange, one sort, no join
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q140_knn_corpus_never_shuffles(spark):
    df = QUERIES["q140_knn_label_vote"](spark, SF_DIR)
    plan = formatted_plan(df)
    # scoring is the Arrow closure kernel (queries ride inside it);
    # labels and truth attach by broadcast
    assert "MapInPandas" in plan, plan
    assert count_broadcasts(df) >= 2, plan


def test_q143_seasonal_join_stays_on_hour_key(spark):
    df = QUERIES["q143_seasonal_naive_error"](spark, SF_DIR)
    plan = formatted_plan(df)
    # equi-join on (type, shifted hour) — never a range/NLJ shape
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert count_shuffles(df) <= 4, plan


def test_q144_stratified_single_exchange(spark):
    df = QUERIES["q144_stratified_sample"](spark, SF_DIR)
    # rank and stratum-size windows share the source partitioning
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_q147_cc_edges_built_once(spark):
    df = QUERIES["q147_clustering_coefficient"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the edge list is localCheckpointed and feeds wedge/close/degree
    # consumers from the materialized RDD — the co-order self-join
    # runs once and its lineage never re-expands into the plan
    assert "ExistingRDD" in plan, plan
    assert "parquet" not in plan.lower(), plan


def test_q148_frame_fanout_is_arrow_generator(spark):
    df = QUERIES["q148_frame_sampling"](spark, SF_DIR)
    plan = formatted_plan(df)
    # 1->N frame expansion happens inside mapInArrow (round 6: raw
    # RecordBatches, no pandas layer — measured 1.26x,
    # ARROW_PROBE_r6.json), never a per-row Python UDF, and nothing
    # shuffles
    assert "MapInArrow" in plan, plan
    assert count_shuffles(df) == 0, plan


def test_q149_stream_static_dim_broadcasts(spark):
    df = QUERIES["q149_stream_static_enrich_executed"](spark, SF_DIR)
    # executed query returns the sink table; the broadcast property is
    # pinned on the streaming plan's batch twin instead
    from alpaca_pyspark_spark.streaming.enrich import enrich_stream
    from alpaca_pyspark_spark.tables import load

    e = load(spark, SF_DIR, "events")
    dim = e.groupBy("user_id").count()
    plan = formatted_plan(enrich_stream(e, dim, on="user_id"))
    assert "BroadcastHashJoin" in plan, plan
    assert df.count() >= 0


def test_q150_partition_pruning_reaches_scan(spark):
    import tempfile

    from alpaca_pyspark_spark.tables import load

    e = load(spark, SF_DIR, "events")
    out = tempfile.mkdtemp(prefix="prune_probe_")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = formatted_plan(back.groupBy().count())
    # the type filter must resolve as a partition-directory prune, not
    # a data filter evaluated after reading every row
    assert "PartitionFilters: [isnotnull(event_type" in plan or "event_type#" in plan.split("PartitionFilters")[1][:200], plan


def test_q151_rfm_ranks_run_on_user_aggregate(spark):
    df = QUERIES["q151_rfm_segments"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the quintile windows sort the per-user AGGREGATE, so the global
    # sort touches |users| rows, never raw events.  Formatted plans
    # number nodes bottom-up: every upstream HashAggregate must carry
    # a smaller node id than every Window.
    import re

    aggs = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    wins = [int(m) for m in re.findall(r"\((\d+)\) Window", plan)]
    assert aggs and wins and max(aggs) < min(wins), plan


def test_q152_delay_quantiles_partition_by_day(spark):
    df = QUERIES["q152_conversion_delay"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the selection windows hash-partition on the day key — the
    # quantile sort is distributed, no single-partition global window
    assert "partitioning: [day" in plan or "hashpartitioning(day" in plan, plan


def test_q192_hybrid_retrieval_plan(spark):
    """q192: the |Q|-row query token sets ride a broadcast (corpus
    scores map-side, never shuffles to score), both rank windows get
    per-partition WindowGroupLimit pruning (the rank exchange moves
    <= partitions*k candidate rows, not |corpus|x|Q|), and the dense
    branch runs the Arrow kernel."""
    df = QUERIES["q192_hybrid_retrieval"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert count_broadcasts(df) >= 1, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("WindowGroupLimit") >= 4, plan
    assert "MapInPandas" in plan, plan


def test_q193_stream_plan_stateless(spark, tmp_path):
    """q193's ingest near-dup gate must hold ZERO state: row-local
    signature/banding HOFs, two stream-static joins against the
    checkpointed index/shingle artifacts, and the first-matching-band
    predicate instead of a stateful DISTINCT.  Pinned on the analyzed
    streaming plan (no stateful node classes)."""
    from pyspark.sql import functions as F

    from alpaca_pyspark_spark.queries.llm import _q193_artifacts, _q193_transform
    from alpaca_pyspark_spark.session import release_scoped_caches
    from alpaca_pyspark_spark.tables import load

    index, docinfo = _q193_artifacts(spark, SF_DIR)
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    src = str(tmp_path / "delta")
    delta.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = _q193_transform(index, docinfo)(stream)
    assert out.isStreaming
    logical = out._jdf.queryExecution().analyzed().toString()
    for stateful in (
        "Aggregate [",
        "Deduplicate",
        "FlatMapGroupsWithState",
        "TransformWithState",
        "EventTimeWatermark",
    ):
        assert stateful not in logical, (stateful, logical)
    # batch-equivalent physical plan: no cartesian blowup, no window
    bout = _q193_transform(index, docinfo)(delta)
    plan = formatted_plan(bout)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "Window" not in plan, plan


def test_q193_first_band_predicate_respects_pruned_buckets(spark):
    """The first-matching-band pair dedup must skip bands whose corpus
    bucket was PRUNED at index build: with band 0 removed from the
    index and masked out in okb, an identical-doc pair (all 16 bands
    sig-matching) must still surface EXACTLY ONCE (at band 1).  A
    maskless min-matching-band predicate would compute first=0, find
    no band-0 row, and silently drop the pair."""
    from pyspark.sql import functions as F

    from alpaca_pyspark_spark.queries.llm import _q193_artifacts, _q193_transform
    from alpaca_pyspark_spark.session import release_scoped_caches

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, text), (5, text)], "doc_id bigint, text string"
    )
    import alpaca_pyspark_spark.queries.llm as llm

    orig = llm.load
    try:
        llm.load = lambda sp, sf, name: docs  # the artifacts read 'documents'
        index, docinfo = _q193_artifacts(spark, "unused")
    finally:
        llm.load = orig
    pruned_index = index.filter(F.col("band") != 0)
    pruned_info = docinfo.withColumn(
        "okb", F.concat(F.array(F.lit(0)), F.slice("okb", 2, 15))
    )
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    out = _q193_transform(pruned_index, pruned_info)(delta)
    rows = out.collect()
    assert [(r["new_id"], r["old_id"], r["jaccard_sim"]) for r in rows] == [
        (5, 1, 1.0)
    ], rows
    # and with the full index the pair still appears exactly once
    assert _q193_transform(index, docinfo)(delta).count() == 1


def test_q194_budget_selection_plan_distributed(spark):
    """q194's cumulative token count must ride the distributed
    prefix-sum, not a corpus-wide window: no Exchange SinglePartition,
    no Window node — and since the budget scalar falls out of the
    prefix sum's own driver aggregation (weight_total_col), the plan
    has no join at all (the corpus is scanned exactly once)."""
    df = QUERIES["q194_token_budget_selection"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan


def test_q195_quota_selection_plan_distributed(spark):
    """q195: the floor rank is a per-source window and the global fill
    rank rides the distributed prefix rank — no single-partition
    exchange anywhere; scalars broadcast."""
    df = QUERIES["q195_coverage_quota_selection"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Exchange SinglePartition" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert count_broadcasts(df) >= 1, plan


def test_q196_stream_plan_stateless(spark, tmp_path):
    """q196's online vector search must hold ZERO state: row-local
    quantizer assignment, nprobe fixed stream-static joins against the
    packed cell table, row-local score/sort/slice top-k — no window,
    no per-query aggregation, no stateful streaming node."""
    from pyspark.sql import functions as F

    from alpaca_pyspark_spark.queries.llm import _q196_artifacts, _q196_transform
    from alpaca_pyspark_spark.session import release_scoped_caches
    from alpaca_pyspark_spark.tables import load

    centroids, cells = _q196_artifacts(spark, SF_DIR)
    release_scoped_caches()
    emb = load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select("vec_id", "embedding")
    src = str(tmp_path / "queries")
    queries.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = _q196_transform(centroids, cells)(stream)
    assert out.isStreaming
    logical = out._jdf.queryExecution().analyzed().toString()
    for stateful in (
        "Aggregate [",
        "Deduplicate",
        "FlatMapGroupsWithState",
        "TransformWithState",
        "EventTimeWatermark",
    ):
        assert stateful not in logical, (stateful, logical)
    # batch-equivalent physical plan: row-local top-k, no rank window
    bout = _q196_transform(centroids, cells)(queries)
    plan = formatted_plan(bout)
    assert "Window" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q196_stream_probe_is_the_batch_ivf_probe(spark):
    """The q196 stream probe, applied to the batch query frame, returns
    exactly the rows of the batch ``ivf_topk`` over the same corpus
    split, seed, nprobe and k: the stateless stream-static rewrite and
    the explode + window probe are one IVF search."""
    from pyspark.sql import functions as F

    from alpaca_pyspark_spark.canon import driver_canon_hash
    from alpaca_pyspark_spark.operators.similarity import ivf_topk, seed_centroids
    from alpaca_pyspark_spark.queries.llm import _q196_artifacts, _q196_transform
    from alpaca_pyspark_spark.tables import load_vectors

    centroids, cells = _q196_artifacts(spark, SF_DIR)
    emb = load_vectors(spark, SF_DIR)
    queries = emb.filter(F.col("vec_id") % 25 == 0).select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    batch = ivf_topk(
        corpus,
        queries.withColumnRenamed("vec_id", "query_id"),
        centroids=seed_centroids(corpus, 16)[1],
        nprobe=4,
        k=10,
    )
    cols = ["query_id", "vec_id", "rank", "cos_sim"]
    stream_rows = _q196_transform(centroids, cells)(queries).select(cols).collect()
    batch_rows = batch.select(cols).collect()
    assert len(stream_rows) == len(batch_rows) > 0
    assert driver_canon_hash(stream_rows, cols) == driver_canon_hash(batch_rows, cols)


def test_q197_readback_plan_broadcasts_manifest(spark):
    """q197's returned plan reads the LANDED shard files, not the
    curation lineage (the ledger/pack stages ran at sink time): the
    bin rollup is one partial-aggregated exchange over the read-back
    scan, the |langs x shards|-row manifest attaches as a broadcast,
    and nothing funnels through a single partition or a window (the
    packing window happened before the sink and must not leak into
    the read side)."""
    df = QUERIES["q197_corpus_build"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" not in plan, plan
    assert count_broadcasts(df) >= 1, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_q198_pq_training_and_scan_broadcast(spark):
    """Every PQ stage meets the corpus through a broadcast of a
    model-bounded artifact (128-row seed table, K*M-row codebook,
    |Q|*K*M-row LUT) — never a shuffled join against the corpus side
    and never an all-pairs product; the argmins are struct-min
    partial aggregates, not corpus-wide windows (the one window is
    the final per-query top-k over |Q|*|corpus| scored rows)."""
    df = QUERIES["q198_pq_adc_topk"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert count_broadcasts(df) >= 3, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "partial_min" in plan or "partial_sum" in plan, plan


def test_q200_maintenance_delta_proportional_plan(spark):
    """q200's two assignment passes are map-only Arrow batches (the
    quantizer rides in the closure — no shuffle before the per-cell
    partial aggregate), the 16-row centroid table attaches as a
    broadcast on both stat branches, and nothing multiplies corpus x
    delta: no cartesian/nested-loop joins anywhere."""
    df = QUERIES["q200_ivf_index_maintenance"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert count_broadcasts(df) >= 2, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_q201_ivfpq_probe_pruned_plan(spark):
    """q201's serving join must prune by probed cell: the LUT (cell,
    subspace, code keyed) attaches as a broadcast so unprobed cells
    never join; the coarse assignment is a map-only Arrow batch; the
    codes<->cell attach is an equi-join — no cartesian/nested-loop
    anywhere and no corpus-wide window except the final per-query
    top-k."""
    df = QUERIES["q201_ivfpq_search"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert count_broadcasts(df) >= 3, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_q199_stream_plan_minimal_state(spark, tmp_path):
    """q199's admission stream must carry exactly ONE stateful
    operator — the keyed FlatMapGroupsInPandasWithState fold — and
    nothing else that accumulates (no watermark, no dedup, no
    aggregate): the state footprint is the one-BIGINT-per-key
    contract.  Token counting must happen BEFORE the stream (the
    staged frame carries n_tokens; the streaming plan has no
    tokenizer expressions)."""
    from pyspark.sql import functions as F

    from alpaca_pyspark_spark.functions import tokens
    from alpaca_pyspark_spark.streaming.stateful import budgeted_admission
    from alpaca_pyspark_spark.tables import load

    docs = load(spark, SF_DIR, "documents").select(
        "source",
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    src = str(tmp_path / "admit_docs")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = budgeted_admission(
        stream, key="source", order="doc_id", weight="n_tokens", budget=800
    )
    assert out.isStreaming
    logical = out._jdf.queryExecution().analyzed().toString()
    assert logical.count("FlatMapGroupsInPandasWithState") == 1, logical
    for stateful in (
        "Aggregate [",
        "Deduplicate",
        "EventTimeWatermark",
        "regexp",
        "split",
    ):
        assert stateful not in logical, (stateful, logical)


def test_q202_stream_plan_stateless(spark, tmp_path):
    """q202's compressed-index serving stream must hold ZERO state:
    nprobe stream-static joins against the packed code payloads +
    the 16-row centroid table, the Arrow ADC scorer, and a row-local
    sort/slice — no aggregate, no dedup, no watermark, and no raw
    corpus vectors anywhere on the stream side."""
    from pyspark.sql import functions as F

    from alpaca_pyspark_spark.queries.llm import _q202_artifacts, _q202_transform
    from alpaca_pyspark_spark.session import release_scoped_caches
    from alpaca_pyspark_spark.tables import load

    centroids, centq, cellpay, cb_py = _q202_artifacts(spark, SF_DIR)
    release_scoped_caches()
    emb = load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select("vec_id", "embedding")
    src = str(tmp_path / "q202_queries")
    queries.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = _q202_transform(centroids, centq, cellpay, cb_py)(stream)
    assert out.isStreaming
    logical = out._jdf.queryExecution().analyzed().toString()
    for stateful in (
        "Aggregate [",
        "Deduplicate",
        "FlatMapGroupsWithState",
        "TransformWithState",
        "EventTimeWatermark",
    ):
        assert stateful not in logical, (stateful, logical)
    # batch twin of the same transform: no cartesian blowup, no window
    bout = _q202_transform(centroids, centq, cellpay, cb_py)(queries)
    plan = formatted_plan(bout)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "Window" not in plan, plan


def test_q203_landed_bar_plan_is_q02_shape(spark):
    """q203's read-back bar construction must keep the q02 physical
    shape on the LANDED data: exactly one exchange (the partial→final
    bar aggregation) and whole-stage codegen — the connector loop may
    not degrade the flagship aggregation, and nothing in the landed
    plan may collect or cartesian."""
    df = QUERIES["q203_connector_roundtrip"](spark, SF_DIR)
    assert count_shuffles(df) == 1, formatted_plan(df)
    assert has_whole_stage_codegen(df), formatted_plan(df)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_dial_matches_oracle_nc_cte_for_all_n(oracle):
    """The Python dial rule and the dial fragment the q202_dialed
    oracle embeds (``_IVF_DIAL_SQL``, run here with ``n`` bound) must
    derive the IDENTICAL cell count at EVERY corpus size — including
    the power-of-4 boundaries where a float log/sqrt derivation would
    be one ulp away from flipping, and the 65536 cap where the SQL
    candidate list ends."""
    from alpaca_pyspark_spark.queries.llm import (
        _IVF_DIAL_SQL,
        _Q202_DIALED_SQL,
        _ivf_dial,
    )

    assert _IVF_DIAL_SQL in _Q202_DIALED_SQL
    sql = f"SELECT {_IVF_DIAL_SQL} FROM (SELECT CAST(? AS BIGINT) AS n)"
    boundary = [0, 1, 255, 256, 257, 480, 1023, 1024, 1025, 1920]
    boundary += [4**k + d for k in range(4, 18) for d in (-1, 0, 1)]
    boundary += [2 * 4**k for k in range(4, 18)]  # non-power-of-4 mids
    for n in boundary:
        want = oracle.execute(sql, [n]).fetchone()[0]
        assert _ivf_dial(n) == want, n


def test_q205_interval_decomposition_all_equi_joins(spark):
    """The hierarchical interval decomposition exists to REPLACE the
    pair-materializing theta join: every stratum must join on
    (key, bucket) equality — no cartesian product, no nested loop —
    and the anchor fan-out must stay bounded (explode over sequences,
    not a join against the event stream)."""
    df = QUERIES["q205_interval_agg_decomposed"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the event stream is pre-aggregated per bucket before any join:
    # partial aggregation must appear below the stratum joins
    assert "HashAggregate" in plan, plan


def test_sessionize_presplit_no_nested_loop_and_island_reuse(spark):
    """The forced pre-split plan must stay a pure exchange/window/agg
    pipeline (no joins at all until the final per-anchor assembly) and
    the island table must be REUSED (cached) by its two consumers —
    without the persist each branch re-ran the event-level windows
    (measured 2x on the hot side)."""
    from alpaca_pyspark_spark.operators.sessionize import (
        session_summary_skew_safe,
    )
    from alpaca_pyspark_spark.session import release_scoped_caches
    from alpaca_pyspark_spark.tables import load

    e = load(spark, SF_DIR, "events").select("user_id", "ts")
    df = session_summary_skew_safe(e, key="user_id", ts="ts", gap="30 minutes")
    plan = formatted_plan(df)
    release_scoped_caches()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("InMemoryTableScan") >= 2, plan
