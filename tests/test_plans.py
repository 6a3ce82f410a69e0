"""Plan-regression tests — the reference's explain.txt capture, as asserts.

The reference locks plans by diffing EXPLAIN output across runs (SURVEY
§5); here the load-bearing physical properties are asserted directly so a
config or code change that silently degrades a plan (lost pushdown, lost
broadcast, lost TopN) fails the suite.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMALL
from dblab_ece_trino_spark.session import explain_str


def _plan(spark, name):
    from dblab_ece_trino_spark.entrypoints import build_queries

    return explain_str(build_queries()[name](spark, SF_SMALL))


def test_q001_pushdown_and_partial_agg(spark):
    plan = _plan(spark, "q001")
    # range predicate reaches the parquet scan (reference q001: whole
    # sum+filter pushed into PostgreSQL — explain.txt:9)
    assert "GreaterThanOrEqual(l_orderkey,1000)" in plan
    assert "LessThanOrEqual(l_orderkey,9000)" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_q003_broadcast_join_and_topn(spark):
    plan = _plan(spark, "q003")
    # REPLICATED build side (reference q003 explain.txt:49-62)
    assert "BroadcastHashJoin" in plan
    # TopN as a bounded heap, not global sort (explain.txt:9)
    assert "TakeOrderedAndProject" in plan
    assert "ShuffleExchange" not in plan.split("TakeOrderedAndProject")[0].split(
        "BroadcastHashJoin"
    )[0]


def test_q004_left_join_eliminated_and_topn(spark):
    plan = _plan(spark, "q004")
    # the null-rejecting inner join after the LEFT JOIN lets Catalyst
    # convert it to inner (the SURVEY §7.5 trap, optimized correctly)
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # derived-table filter pushed


def test_q005_except_as_anti_join(spark):
    plan = _plan(spark, "q005")
    # EXCEPT (distinct) → chained left-anti joins
    # (Catalyst ReplaceExceptWithAntiJoin; reference decorrelates to
    # marker aggregation instead — same semantics, SURVEY §4)
    assert plan.count("LeftAnti") >= 2


def test_column_pruning_reaches_scan(spark):
    # a 2-column projection over lineitem must not read all 11 columns
    from dblab_ece_trino_spark.entrypoints import engine_for

    eng = engine_for(spark, SF_SMALL)
    df = eng.sql(
        "SELECT l_orderkey, l_extendedprice FROM psql.tpch.lineitem "
        "WHERE l_orderkey < 100"
    )
    plan = explain_str(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>" in plan


def test_runtime_bloom_filter_dynamic_filtering(spark):
    """Trino's dynamic filtering analog (reference q003 explain.txt:53):
    with a selective build side, Spark injects a bloom-filter semi-join
    reduction (might_contain) into the probe-side scan filter."""
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.entrypoints import engine_for

    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        eng = engine_for(spark, SF_SMALL)
        li = eng.catalogs.table("psql.tpch.lineitem")
        o = eng.catalogs.table("mongodb.tpch.orders").filter(
            F.col("o_totalprice") > 300000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = explain_str(j, "formatted")
        assert "might_contain" in plan, "no runtime bloom filter injected"
        assert j.count() > 0
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                # conf.get(k, None) returns None for unset keys; leaving
                # the override in place would disable broadcast joins for
                # every later test in the session
                spark.conf.unset(k)


def test_q17_decorrelates_to_aggregate_joins(spark):
    # correlated scalar subqueries must become per-key aggregates joined
    # back (Catalyst RewriteCorrelatedScalarSubquery) — never a per-row
    # nested-loop re-scan of lineitem
    plan = _plan(spark, "tpch_q17")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # 2 subquery aggs x partial/final


def test_q21_exists_as_semi_and_anti_join(spark):
    plan = _plan(spark, "tpch_q21")
    assert "ExistenceJoin" in plan or "LeftSemi" in plan
    assert "LeftAnti" in plan or "ExistenceJoin" in plan
    assert "CartesianProduct" not in plan


def test_q4_exists_semi_join_with_pushed_filter(spark):
    plan = _plan(spark, "tpch_q4")
    assert "LeftSemi" in plan or "ExistenceJoin" in plan
    # the EXISTS branch's own predicate reaches its scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_explode_is_generate_not_join(spark):
    plan = _plan(spark, "op_explode")
    assert "Generate" in plan  # lateral view explode → GenerateExec
    assert "Join" not in plan


def test_q1_agg_pushes_filter_and_partial_agg(spark):
    plan = _plan(spark, "tpch_q1")
    # shipdate predicate reaches the parquet scan footer
    assert "LessThanOrEqual(l_shipdate" in plan
    assert plan.count("HashAggregate") >= 2


def test_q2_correlated_min_no_cartesian(spark):
    """The Q2 correlated scalar MIN must decorrelate to an aggregate
    joined back on partkey — never a per-row re-scan."""
    plan = _plan(spark, "tpch_q2")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # the decorrelated MIN agg


def test_q8_dims_broadcast(spark):
    """Every dimension side of the 8-way join should broadcast; the only
    shuffles are fact-fact and the final year aggregation."""
    plan = _plan(spark, "tpch_q8")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan


def test_q20_single_fact_pass(spark):
    """The window form must aggregate the fact once — the 2-CTE form
    (Spark inlines CTE references) scanned lineitem twice."""
    plan = _plan(spark, "tpch_q20")
    # formatted explain prints each node twice (tree + details):
    # 2 logical scans (lineitem, supplier) → ≤4 occurrences
    assert plan.count("Scan parquet") <= 4
    assert "Window" in plan


def test_q13_left_join_preserved(spark):
    plan = _plan(spark, "tpch_q13")
    # the filtered LEFT JOIN must stay outer (zero-order customers count)
    assert "LeftOuter" in plan or "RightOuter" in plan


def test_decontaminate_broadcasts_benchmark(spark):
    plan = _plan(spark, "decontaminate")
    # the eval-set shingles must be the broadcast side; the corpus must
    # never shuffle on the shingle key
    assert "BroadcastHashJoin" in plan


def test_sample_split_is_projection(spark):
    """Split assignment must be a pure scan+project — a shuffle here
    would mean the sampling layer scales with cluster topology."""
    plan = _plan(spark, "sample_split")
    head = plan.split("HashAggregate")[0]
    assert "Exchange" not in head  # no shuffle before the count-by-split agg


def test_llm_chunking_is_projection(spark):
    """Chunking must be scan → project → generate — any Exchange means
    the chunker shuffles the corpus for a per-row operation."""
    plan = _plan(spark, "llm_chunk_documents")
    assert "Exchange" not in plan
    assert "Generate" in plan  # posexplode of chunk starts


def test_llm_pii_redact_is_projection(spark):
    plan = _plan(spark, "llm_pii_redact")
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_llm_train_order_no_global_sort(spark):
    """The two-phase rank must not fall back to a single-partition global
    Sort over the corpus: per-bucket windows shuffle on the bucket key,
    offsets arrive via broadcast."""
    plan = _plan(spark, "llm_train_order")
    assert "BroadcastHashJoin" in plan
    # rangepartitioning over the full corpus = the global-sort shape we
    # designed away (hashpartitioning on the bucket key is expected)
    assert "rangepartitioning" not in plan.lower()


def test_llm_tf_cosine_bounded_and_shuffled_on_token(spark):
    plan = _plan(spark, "llm_tf_cosine_dup")
    # the id-slice filter must reach the scan
    assert "PushedFilters: [" in plan and "LessThan(doc_id" in plan
    assert "CartesianProduct" not in plan


def test_ann_invariant_entries_broadcast_queries(spark):
    for name in ("sim_search_lsh", "sim_search_ivf"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_llm_quality_rules_is_projection(spark):
    """The Gopher gate must stay a single codegen'd projection — any
    Exchange means the cheapest pre-filter in the pipeline shuffles."""
    plan = _plan(spark, "llm_quality_rules")
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_llm_domain_mix_broadcasts_keep_counts(spark):
    """keep_n (|domains| rows) must arrive at the ranked corpus via
    broadcast, and nothing may degenerate into a cartesian product."""
    plan = _plan(spark, "llm_domain_mix")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_llm_budget_select_sharded_cumsum(spark):
    """The running token total must be the two-level sharded cumsum:
    the data-frame window is partitioned by the range-shard id (parallel
    per-shard prefix sums), never a single-partition global window, and
    at most one SinglePartition exchange may appear — the grand-total
    aggregate over the ~32-row shard-totals frame (metadata-scale).
    The sort inputs stay on the narrow stats frame, never the document
    payload."""
    plan = _plan(spark, "llm_budget_select")
    assert "CartesianProduct" not in plan
    # shard offsets + total_tokens arrive via broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the per-row cumsum window is per-shard, not global
    assert "hashpartitioning(__shard" in plan
    assert plan.count("Exchange SinglePartition") <= 1
    for m in re.finditer(r"\(\d+\) Sort\nInput \[\d+\]: \[([^\]]*)\]", plan):
        assert "text#" not in m.group(1)


def test_llm_vocab_topk_partial_aggregates(spark):
    """Token counting must partial-aggregate map-side before the
    shuffle (HashAggregate appears both below and above the Exchange)."""
    plan = _plan(spark, "llm_vocab_topk")
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning(tok" in plan
    # Catalyst pushes the rk<=k filter through the window into a top-k
    # heap — the vocab never fully sorts
    assert "TakeOrderedAndProject" in plan


def test_upsert_latest_prunes_before_shuffle(spark):
    """rank<=1 must push into a WindowGroupLimit on BOTH sides of the
    exchange — each map task ships at most one row per key, so the
    shuffle carries O(keys), not O(rows).  The difference between an
    upsert resolution that works at 100 TB and one that doesn't."""
    plan = _plan(spark, "op_upsert_latest")
    tree = plan.split("\n\n")[0]
    assert tree.count("WindowGroupLimit") == 2
    assert tree.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()


def test_scd2_single_exchange_for_both_windows(spark):
    """lag-change-detect and lead-close share the same (key, order), so
    Catalyst must plan ONE sort+exchange serving both Window operators."""
    plan = _plan(spark, "op_scd2_intervals")
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 2
    assert tree.count("Exchange") == 1


def test_snapshot_diff_joins_hashed_narrow(spark):
    """The full-outer diff must join on the key with the per-side
    content hash already computed below the join — the join input is
    (key, hash), never the wide row."""
    plan = _plan(spark, "op_snapshot_diff")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    # each side's pre-join Project emits exactly 2 columns: the key and
    # the inlined content hash — the wide row never reaches the shuffle
    sides = re.findall(
        r"\(\d+\) Project\nOutput \[2\]: \[event_id#\d+L, md5\(.*AS __h_(?:old|new)#\d+\]",
        plan,
    )
    assert len(sides) == 2


def test_llm_chunk_dedup_one_shuffle_per_stage(spark):
    """Chunker stays a shuffle-free explode; dedup adds exactly one
    hash shuffle on chunk_md5 plus the per-doc agg shuffle — no global
    sort anywhere."""
    plan = _plan(spark, "llm_chunk_dedup")
    tree = plan.split("\n\n")[0]
    assert "Generate" in tree
    assert "rangepartitioning" not in plan.lower()
    assert tree.count("Exchange") <= 2  # chunk_md5 window + doc agg


def test_curation_pipeline_fuses_no_cartesian(spark):
    """The composed pipeline must stay broadcast/hash-join shaped —
    the |domains|² keep_n computation and the total_tokens scalar ride
    broadcasts, never a cartesian product."""
    plan = _plan(spark, "pipeline_curate_corpus")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "rangepartitioning" not in plan.lower().replace(
        "rangepartitioning(quality", ""
    )  # only the final narrow budget sort may range-partition


def test_generator_dims_broadcast(spark):
    plan = _plan(spark, "gen_fact_dim_join_invariants")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Exchange hashpartitioning" not in plan.split("HashAggregate")[0]


def test_bigram_lm_no_positional_self_join(spark):
    """Bigrams must come from the array projection (Generate/explode),
    never a positional self-join; the only joins are the two corpus
    count joins, all equi."""
    plan = _plan(spark, "llm_bigram_lm_score")
    assert "Generate" in plan  # explode of the transform() array
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ewma_single_window_no_join(spark):
    """The unrolled-lag EWMA is one window operator over one scan —
    no join, no second pass (the CTE-join formulation Catalyst inlines
    into two window passes was measured and discarded)."""
    plan = _plan(spark, "ts_ewma")
    assert "Join" not in plan
    assert plan.count(") Window") == 1
    assert plan.count(") Scan parquet") == 1


def test_zscore_single_window_operator(spark):
    """All three moment sums share one window spec — one Window node,
    one Exchange on the key."""
    plan = _plan(spark, "ts_zscore_anomaly")
    assert plan.count(") Window") == 1  # the physical node header "(n) Window"


def test_fuzzy_match_blocked_equi_join(spark):
    """ER join hash-partitions on the block key; levenshtein is a
    residual inside blocks."""
    plan = _plan(spark, "op_fuzzy_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_ohlc_single_aggregation(spark):
    """OHLC bars are one partial+final hash agg — no window, no join."""
    plan = _plan(spark, "ts_ohlc_bars")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_equidepth_hist_sharded_rank(spark):
    """The exact equi-depth histogram must compute its global rank with
    the two-level sharded form: per-shard row_number windows (never a
    single-partition ntile sort over the data) and at most one
    SinglePartition exchange — the one-row-per-shard grand total."""
    plan = _plan(spark, "op_equidepth_hist")
    assert "hashpartitioning(__shard" in plan
    assert plan.count("Exchange SinglePartition") <= 1
    assert "ntile" not in plan.lower()


def test_funnel_single_key_partitioning(spark):
    """The funnel is the single-scan stacked-window form: one events
    scan, every hash partitioning on user_id, three window passes, and
    no join anywhere (the join formulation re-derived the events lineage
    once per stage — 6 scans)."""
    plan = _plan(spark, "op_funnel_conversion")
    assert "CartesianProduct" not in plan and "Join" not in plan
    assert len(re.findall(r"\(\d+\) (?:Batch)?Scan\b", plan)) == 1
    for m in re.finditer(r"hashpartitioning\((\w+)#", plan):
        assert m.group(1) == "user_id", plan


def test_bm25_single_pass(spark):
    """BM25 is the single-pass form: the token explode and the
    per-document pivoted aggregation run ONCE inside the materialized
    narrow frame, so the visible plan reads the checkpoint (no Generate,
    no parquet scan), carries at most one exchange (the one-row corpus
    stats), and broadcasts the stats back."""
    plan = _plan(spark, "text_bm25_score")
    assert "Scan parquet" not in plan, plan  # payload read once, inside
    assert "Generate" not in plan, plan  # the checkpointed lineage
    assert plan.count(") Exchange") <= 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_plan_census_budgets(spark):
    """Every registered entry's physical plan stays within its recorded
    node budget (scans, exchanges, windows, sorts) — the automated form
    of the manual explain-sweep that caught the round-3 EWMA double
    window pass and the 20-scan curation-pipeline lineage blow-up.  A
    new entry must add a row to tests/plan_budgets.py (regenerate with
    scripts/plan_census.py); an entry exceeding its ceiling is a plan
    regression.

    The census runs twice: at the session's own shuffle.partitions
    (max(cores, 8)) and at 32, the partition count the budgets were
    recorded with.  Join strategy depends on the per-partition build
    size, so a plan that fits at one end of that range can overrun at the
    other (op_theta_sketch fell back to SortMergeJoin at 8 partitions)."""
    from scripts.plan_census import census_counts
    from tests.plan_budgets import PLAN_BUDGETS
    from dblab_ece_trino_spark.entrypoints import build_queries

    qs = build_queries()
    missing = sorted(set(qs) - set(PLAN_BUDGETS))
    assert not missing, (
        f"entries without a plan budget (run scripts/plan_census.py and "
        f"add rows to tests/plan_budgets.py): {missing}"
    )
    key = "spark.sql.shuffle.partitions"
    own = spark.conf.get(key)
    over: list[str] = []
    try:
        for partitions in dict.fromkeys((own, "32")):
            spark.conf.set(key, partitions)
            for name, fn in qs.items():
                c = census_counts(explain_str(fn(spark, SF_SMALL)))
                got = (c["scans"], c["exchanges"], c["windows"], c["sorts"])
                budget = PLAN_BUDGETS[name]
                if any(g > b for g, b in zip(got, budget)):
                    over.append(
                        f"{name} at {partitions} partitions: "
                        f"{got} > budget {budget}"
                    )
    finally:
        spark.conf.set(key, own)
    assert not over, "plan census regressions:\n" + "\n".join(over)
