"""Physical-plan guard rails: these tests fail when a plan regression
(lost pushdown, lost broadcast, accidental cartesian, codegen break) sneaks
in — the 100TB failure modes that small-data correctness tests can't see.
"""

from __future__ import annotations

import pytest

from platform_etl_backend_spark.catalog import QUERIES
from platform_etl_backend_spark.plans import explain_str
from spark_helpers import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_wholestage_codegen,
    shuffle_count,
)


def q(name, spark, sf_dir):
    return QUERIES[name].fn(spark, sf_dir)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = q("q_scalar_filter_sum", spark, sf_dir)
    assert_pushed_filters(df, "IsNotNull(l_quantity)")
    assert_pushed_filters(df, "LessThan(l_quantity,24.0)")


def test_partition_filters_and_codegen_agg(spark, sf_dir):
    df = q("q_agg_basic", spark, sf_dir)
    assert_wholestage_codegen(df)
    # one shuffle for the groupBy, nothing else
    assert shuffle_count(df) <= 1


def test_lut_joins_broadcast(spark, sf_dir):
    df = q("q_join_lut_broadcast", spark, sf_dir)
    assert_broadcast_join(df, at_least=2)
    assert_no_cartesian(df)


def test_multi_join_broadcasts_dim(spark, sf_dir):
    df = q("q_join_multi", spark, sf_dir)
    assert_broadcast_join(df, at_least=1)
    assert_no_cartesian(df)


def test_column_pruning(spark, sf_dir):
    from platform_etl_backend_spark.plans import explain_str

    df = q("q_scalar_filter_sum", spark, sf_dir)
    plan = explain_str(df, "formatted")
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, plan
    # only the needed columns are read, not all 11 lineitem columns
    assert "l_extendedprice" in scan_lines[0]
    assert "l_orderkey" not in scan_lines[0]
    assert "l_returnflag" not in scan_lines[0]


def test_semi_and_anti_joins_no_cartesian(spark, sf_dir):
    assert_no_cartesian(q("q_semi_join", spark, sf_dir))
    assert_no_cartesian(q("q_anti_join", spark, sf_dir))


def test_topk_is_take_ordered(spark, sf_dir):
    from platform_etl_backend_spark.plans import explain_str

    df = q("q_order_limit", spark, sf_dir)
    # global order+limit must plan as TakeOrderedAndProject (no full sort)
    assert "TakeOrderedAndProject" in explain_str(df, "simple")


def test_brute_force_topk_plan_shapes(spark, sf_dir):
    """The pair dots run in the Arrow cell kernel: the plan carries a
    FlatMapGroupsInPandas stage and no cartesian."""
    df = q("q_cosine_topk", spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_llr_contingency_broadcast_totals(spark, sf_dir):
    df = q("q_llr_contingency", spark, sf_dir)
    assert_broadcast_join(df, at_least=2)


@pytest.mark.parametrize(
    "name", ["q_tfidf_top_terms", "q_bm25_top_terms", "q_bpe_encode"]
)
def test_vocabulary_join_is_not_hint_forced_broadcast(spark, sf_dir, name):
    """The per-term document-frequency table is unbounded at corpus scale
    (billions of distinct terms at 100 TB), so its join must not be FORCED
    broadcast by a hint. Catalyst/AQE choosing broadcast from measured size
    is the graceful path (and happens at test scale); a hint would be the
    driver-OOM path. Simulate 'vocabulary too big to broadcast' by disabling
    the size-based threshold: an unhinted plan degrades to a shuffle join,
    a hinted one would stay BroadcastHashJoin regardless."""
    from platform_etl_backend_spark.plans import explain_str

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(q(name, spark, sf_dir), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    """spark.sql EXISTS must become a semi join, never a per-row subquery
    or nested-loop plan."""
    plan = explain_str(q("q_exists_subquery", spark, sf_dir), "simple")
    assert "LeftSemi" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scalar_subquery_decorrelates_to_aggregate_join(spark, sf_dir):
    """Correlated scalar aggregate: Catalyst rewrites to a grouped
    aggregate joined back on the correlation key."""
    plan = explain_str(q("q_scalar_subquery", spark, sf_dir), "simple")
    assert "Aggregate" in plan or "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_star_joins_broadcast_all_dims(spark, sf_dir):
    """Q5's five dimension joins must all be broadcast (single fact-fact
    shuffle); Q10's top-20 must plan as TakeOrderedAndProject."""
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.plans.inspect import explain_str

    q5 = QUERIES["q_tpch_q5"].fn(spark, sf_dir)
    plan5 = explain_str(q5, "simple")
    assert plan5.count("BroadcastHashJoin") >= 5, plan5
    assert "CartesianProduct" not in plan5

    q10 = QUERIES["q_tpch_q10"].fn(spark, sf_dir)
    plan10 = explain_str(q10, "simple")
    assert "TakeOrderedAndProject" in plan10, plan10
    assert plan10.count("BroadcastHashJoin") >= 2, plan10


def test_sentence_split_is_pure_map_side(spark, sf_dir):
    """Segmentation is protect-mark-split + explode: zero shuffles, no
    joins — the plan an embarrassingly-parallel operator must keep."""
    df = q("q_sentence_split", spark, sf_dir)
    plan = explain_str(df, "simple")
    assert shuffle_count(df) <= 1  # only the spread() repartition, if any
    assert "Join" not in plan, plan
    assert_no_cartesian(df)


def test_skipgram_single_shuffle_take_ordered(spark, sf_dir):
    """Pair extraction is map-side (shifted zips); the only wide stages are
    the pair aggregation and the global top-k, which must plan as
    TakeOrderedAndProject (never a global sort)."""
    df = q("q_skipgram_pairs", spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan
    assert shuffle_count(df) <= 2  # spread() + pair groupBy


def test_tpch_q3_q18_plan_shapes(spark, sf_dir):
    """Q3: customer dim broadcast, top-10 as TakeOrderedAndProject.
    Q18: IN-set as a semi join, top-100 as TakeOrderedAndProject, no
    cartesian anywhere."""
    p3 = explain_str(q("q_tpch_q3", spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in p3, p3
    assert "BroadcastHashJoin" in p3, p3
    assert "CartesianProduct" not in p3
    p18 = explain_str(q("q_tpch_q18", spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in p18, p18
    assert "LeftSemi" in p18, p18
    assert "CartesianProduct" not in p18


def test_rouge_gram_joins_no_cartesian(spark, sf_dir):
    df = q("q_rouge_overlap", spark, sf_dir)
    assert_no_cartesian(df)


def test_jpeg_roundtrip_is_map_side_arrow(spark, sf_dir):
    """The codec runs inside one Arrow mapInPandas stage whose input is
    the ≤128-row distinct id%128 residue frame (the plane is a pure
    function of the residue), broadcast-joined back to the pruned
    single-column id scan — the join must be a broadcast hash join (the
    corpus side is never shuffled by the codec attach)."""
    df = q("q_jpeg_roundtrip", spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "MapInPandas" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # the only exchanges allowed: the ≤128-key residue repartition that
    # keeps the python stage parallel, and the distinct's own exchange
    assert shuffle_count(df) <= 2, plan


def test_embedding_covariance_is_map_side_fanout(spark, sf_dir):
    """Partials come from one Arrow mapInPandas stage (no self-join in the
    plan); the single shuffle carries only the (i, j) groups."""
    df = q("q_embedding_covariance", spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert shuffle_count(df) <= 1, plan


def test_interval_overlap_is_equi_join(spark, sf_dir):
    """Grid blocking must plan as a plain hash equi-join on (key, cell) —
    never an inequality BroadcastNestedLoopJoin or cartesian."""
    df = q("q_interval_overlap", spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert_no_cartesian(df)


def test_tpch_round5_plan_shapes(spark, sf_dir):
    """Q7/Q8: every dimension join broadcasts (one fact-fact shuffle at
    most); Q15: the revenue CTE's argmax probe must not become a cartesian
    (1-row broadcast equality join); Q19: partkey equi-join broadcasts with
    the disjunction as a post-join filter, never a nested loop."""
    p7 = explain_str(q("q_tpch_q7", spark, sf_dir), "simple")
    assert p7.count("BroadcastHashJoin") >= 4, p7
    assert "CartesianProduct" not in p7
    p8 = explain_str(q("q_tpch_q8", spark, sf_dir), "simple")
    assert p8.count("BroadcastHashJoin") >= 6, p8
    assert "CartesianProduct" not in p8
    p15 = explain_str(q("q_tpch_q15", spark, sf_dir), "simple")
    assert "CartesianProduct" not in p15
    assert "BroadcastNestedLoopJoin" not in p15
    p19 = explain_str(q("q_tpch_q19", spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p19, p19
    assert "CartesianProduct" not in p19
    assert "BroadcastNestedLoopJoin" not in p19


def test_tpch_suite_completion_plan_shapes(spark, sf_dir):
    """The catalog/tpch.py adaptations completing all 22 TPC-H shapes:
    Q4's EXISTS must decorrelate to a semi join, Q21's EXISTS/NOT-EXISTS
    pair to semi+anti hash joins (the orderkey equi-component keeps them
    off BNLJ), Q20's nested INs to two semi joins, Q16's NOT-IN to an
    anti join, Q6 must stay a pure scan-agg with pushed filters, and Q2's
    decorrelated min-cost probe must not go cartesian."""
    p4 = explain_str(q("q_tpch_q4", spark, sf_dir), "simple")
    assert "LeftSemi" in p4, p4
    assert "BroadcastNestedLoopJoin" not in p4

    p21 = explain_str(q("q_tpch_q21", spark, sf_dir), "simple")
    assert "LeftSemi" in p21, p21
    assert "LeftAnti" in p21, p21
    assert "BroadcastNestedLoopJoin" not in p21
    assert "CartesianProduct" not in p21

    p20 = explain_str(q("q_tpch_q20", spark, sf_dir), "simple")
    assert p20.count("LeftSemi") >= 2, p20
    assert "CartesianProduct" not in p20

    p16 = explain_str(q("q_tpch_q16", spark, sf_dir), "simple")
    assert "LeftAnti" in p16, p16
    assert "CartesianProduct" not in p16

    df6 = q("q_tpch_q6", spark, sf_dir)
    p6 = explain_str(df6, "simple")
    assert "Join" not in p6, p6
    assert_pushed_filters(df6, "IsNotNull(l_discount)")

    p2 = explain_str(q("q_tpch_q2", spark, sf_dir), "simple")
    assert "CartesianProduct" not in p2
    assert "BroadcastHashJoin" in p2, p2

    p9 = explain_str(q("q_tpch_q9", spark, sf_dir), "simple")
    assert p9.count("BroadcastHashJoin") >= 3, p9
    assert "CartesianProduct" not in p9

    p17 = explain_str(q("q_tpch_q17", spark, sf_dir), "simple")
    assert "CartesianProduct" not in p17
    assert "BroadcastNestedLoopJoin" not in p17


def test_tpch_q13_left_join_keeps_zero_order_customers(spark, sf_dir):
    """The c_count=0 bucket exists iff the join stayed left-outer — a
    correctness property the oracle also pins, asserted here so a future
    'optimization' to inner join fails fast."""
    rows = {r["c_count"]: r["custdist"] for r in q("q_tpch_q13", spark, sf_dir).collect()}
    assert sum(rows.values()) > 0
    plan = explain_str(q("q_tpch_q13", spark, sf_dir), "simple")
    assert "LeftOuter" in plan or "left_outer" in plan.lower(), plan


def test_cdc_chunks_is_map_side_arrow(spark, sf_dir):
    """The chunker runs in one Arrow mapInPandas stage over a two-column
    scan; the only shuffle in the ratio query is the distinct rollup."""
    df = q("q_cdc_chunks", spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan
    ratio = q("q_cdc_dedup_ratio", spark, sf_dir)
    assert_no_cartesian(ratio)


def test_attribution_no_cartesian_bounded_shuffles(spark, sf_dir):
    df = q("q_attribution", spark, sf_dir)
    assert_no_cartesian(df)
    assert shuffle_count(df) <= 6  # user window, (user,journey) windows, conv join, channel agg


def test_bloom_probe_broadcasts_words_no_cartesian(spark, sf_dir):
    df = q("q_bloom_probe", spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert_no_cartesian(df)


def test_html_extract_is_pure_map_side(spark, sf_dir):
    df = q("q_html_extract", spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "Join" not in plan, plan
    assert shuffle_count(df) == 0


def test_entity_resolution_no_cartesian(spark, sf_dir):
    df = q("q_entity_resolution", spark, sf_dir)
    assert_no_cartesian(df)


def test_merge_upsert_single_key_shuffle_full_outer(spark, sf_dir):
    df = q("q_merge_upsert", spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "FullOuter" in plan, plan
    assert_no_cartesian(df)


def test_bmp_decode_is_map_side_arrow(spark, sf_dir):
    df = q("q_bmp_decode", spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan


def test_pq_adc_no_cartesian_codebooks_broadcast(spark, sf_dir):
    df = q("q_pq_adc_topk", spark, sf_dir)
    assert_no_cartesian(df)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_skyline_band_merge_and_item_similarity_shapes(spark, sf_dir):
    """Skyline: the banded local pass runs on parallel (band-keyed)
    windows so the single-partition global stage only sees survivors.
    Item similarity: degree tables broadcast, no cartesian."""
    sky = q("q_skyline_2d", spark, sf_dir)
    assert_no_cartesian(sky)
    sim = q("q_item_similarity", spark, sf_dir)
    plan = explain_str(sim, "simple")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert_no_cartesian(sim)


def test_sequential_patterns_pattern_frame_broadcast_no_cartesian(spark, sf_dir):
    """Round-11 relational rewire: the greedy match is user-keyed
    equi-joins (supported-pair frame + last-occurrence probe), so the
    plan must contain NO cross/nested-loop join at all — the former
    pattern-frame crossJoins (and their hint obligations) are gone, and
    no interpreted HOF lambda survives in the pattern stage."""
    df = q("q_sequential_patterns", spark, sf_dir)
    assert_no_cartesian(df)
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LambdaFunction" not in explain_str(df, "extended")
