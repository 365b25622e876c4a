"""Semantics tests for the as-of join operator and TF-IDF scoring on
crafted inline data (the catalog queries cover synthetic-table integration).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from platform_etl_backend_spark.operators.asof import asof_join_backward
from platform_etl_backend_spark.operators.textqa import tfidf_top_terms


def _asof(spark, probe_rows, build_rows):
    probe = spark.createDataFrame(probe_rows, ["pid", "k", "t"])
    build = spark.createDataFrame(build_rows, ["k", "t", "bid", "val"])
    return {
        r.pid: (r.asof_bid, r.asof_val)
        for r in asof_join_backward(
            probe, build, on="k", probe_ts="t", build_ts="t",
            payload=["bid", "val"], tiebreak="bid",
        ).collect()
    }


def test_asof_basic_backward(spark):
    out = _asof(
        spark,
        [(1, "u", 10), (2, "u", 25), (3, "u", 5)],
        [("u", 8, 100, 1.0), ("u", 20, 200, 2.0), ("u", 30, 300, 3.0)],
    )
    assert out[1] == (100, 1.0)  # latest build <= 10 is t=8
    assert out[2] == (200, 2.0)  # latest build <= 25 is t=20
    assert out[3] == (None, None)  # nothing at or before t=5


def test_asof_tie_at_equal_ts_includes_build(spark):
    out = _asof(spark, [(1, "u", 10)], [("u", 10, 100, 1.0)])
    assert out[1] == (100, 1.0)  # <= semantics: equal timestamp matches


def test_asof_duplicate_build_ts_resolved_by_tiebreak(spark):
    out = _asof(
        spark, [(1, "u", 10)], [("u", 9, 100, 1.0), ("u", 9, 200, 2.0)]
    )
    assert out[1] == (200, 2.0)  # highest tiebreak wins deterministically


def test_asof_keys_do_not_leak(spark):
    out = _asof(
        spark,
        [(1, "a", 10), (2, "b", 10)],
        [("a", 5, 100, 1.0)],
    )
    assert out[1] == (100, 1.0)
    assert out[2] == (None, None)


def test_asof_null_payload_not_backfilled_from_farther_row(spark):
    """A NULL payload value in the matched build row must come through as
    NULL — per-column carries would backfill it from a farther-away build
    row, mixing columns from different rows (the struct-packed carry makes
    row selection atomic)."""
    probe = spark.createDataFrame([(1, "u", 10)], ["pid", "k", "t"])
    build = spark.createDataFrame(
        [("u", 5, 100, 1.0), ("u", 8, 200, None)],
        "k string, t long, bid long, val double",
    )
    row = asof_join_backward(
        probe, build, on="k", probe_ts="t", build_ts="t", payload=["bid", "val"]
    ).collect()[0]
    assert row.asof_bid == 200  # matched row is t=8
    assert row.asof_val is None  # its null val must NOT be backfilled from t=5


def test_asof_nearest_null_payload_row_is_atomic(spark):
    """Nearest: the distance decision (__mt) and the returned payload must
    come from the same build row even when that row has null payload."""
    from platform_etl_backend_spark.operators.asof import asof_join_nearest

    probe = spark.createDataFrame([(1, "u", 10)], ["pid", "k", "t"])
    build = spark.createDataFrame(
        [("u", 4, 2, 9.0), ("u", 9, 1, None), ("u", 30, 3, 7.0)],
        "k string, t long, bid long, val double",
    )
    row = asof_join_nearest(
        probe, build, on="k", probe_ts="t", build_ts="t", payload=["bid", "val"]
    ).collect()[0]
    # nearest to t=10 is the t=9 row (distance 1 beats 20); its val is null
    assert row.asof_bid == 1
    assert row.asof_val is None


def test_asof_plan_has_no_cartesian_or_bnlj(spark):
    """The whole point: an as-of must NOT plan as an inequality join."""
    probe = spark.createDataFrame([(1, "u", 10)], ["pid", "k", "t"])
    build = spark.createDataFrame([("u", 8, 100, 1.0)], ["k", "t", "bid", "val"])
    plan = (
        asof_join_backward(probe, build, "k", "t", "t", ["bid", "val"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_range_join_boundaries_and_bucket_span(spark):
    from platform_etl_backend_spark.operators.asof import range_join_points_in_intervals

    # bucket=10: interval [8, 23) spans buckets 0,1,2; checks half-open ends
    points = spark.createDataFrame(
        [(1, "u", 7), (2, "u", 8), (3, "u", 15), (4, "u", 22), (5, "u", 23)],
        ["pid", "k", "t"],
    )
    intervals = spark.createDataFrame([("u", 8, 23, 900)], ["k", "s", "en", "iid"])
    out = range_join_points_in_intervals(
        points, intervals, on="k", point_ts="t", start_col="s", end_col="en",
        payload=["iid"], bucket=10,
    )
    assert {r.pid: r.in_iid for r in out.collect()} == {2: 900, 3: 900, 4: 900}


def test_range_join_tiebreak_picks_highest(spark):
    from platform_etl_backend_spark.operators.asof import range_join_points_in_intervals

    points = spark.createDataFrame([(1, "u", 5)], ["pid", "k", "t"])
    intervals = spark.createDataFrame(
        [("u", 0, 10, 1), ("u", 4, 9, 2)], ["k", "s", "en", "iid"]
    )
    out = range_join_points_in_intervals(
        points, intervals, on="k", point_ts="t", start_col="s", end_col="en",
        payload=["iid"], bucket=10, tiebreak="iid",
    ).collect()
    assert len(out) == 1 and out[0].in_iid == 2


def test_range_join_plan_is_equi_join(spark):
    from platform_etl_backend_spark.operators.asof import range_join_points_in_intervals

    points = spark.createDataFrame([(1, "u", 5)], ["pid", "k", "t"])
    intervals = spark.createDataFrame([("u", 0, 10, 1)], ["k", "s", "en", "iid"])
    plan = (
        range_join_points_in_intervals(
            points, intervals, on="k", point_ts="t", start_col="s", end_col="en",
            payload=["iid"], bucket=10,
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_tfidf_math(spark):
    import math

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry")], ["doc_id", "text"]
    )
    rows = tfidf_top_terms(df, "doc_id", "text").collect()
    by_key = {(r.doc_id, r.term): r for r in rows}
    # df: apple 1 doc, banana 2 docs, cherry 1 doc; N = 2
    idf_apple = round(math.log(2 / 1), 6)
    idf_banana = round(math.log(2 / 2), 6)
    assert by_key[(1, "apple")].tf == 2
    assert by_key[(1, "apple")].score == round(2 * idf_apple, 6)
    assert by_key[(1, "banana")].idf == idf_banana == 0.0
    assert by_key[(2, "cherry")].score == round(1 * math.log(2), 6)


def test_asof_matches_bruteforce_property(spark):
    """Property check: the union+window formulation equals the quadratic
    brute-force definition on randomized inputs (keys collide, ts collide,
    empty sides) — pinned via hypothesis."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    row_p = st.tuples(st.integers(0, 3), st.integers(0, 20))  # (key, ts)
    row_b = st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(0, 99))

    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        probes=st.lists(row_p, min_size=1, max_size=8),
        builds=st.lists(row_b, max_size=8),
    )
    def run(probes, builds):
        probe = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(probes)], ["pid", "k", "t"]
        )
        if builds:
            build = spark.createDataFrame(builds, ["k", "t", "bid"])
        else:
            build = spark.createDataFrame([], "k int, t int, bid int")
        got = {
            r.pid: r.asof_bid
            for r in asof_join_backward(
                probe, build, "k", "t", "t", ["bid"], tiebreak="bid"
            ).collect()
        }
        for i, (k, t) in enumerate(probes):
            cands = [(bt, bid) for bk, bt, bid in builds if bk == k and bt <= t]
            expected = max(cands)[1] if cands else None
            assert got[i] == expected, (i, k, t, cands)

    run()


def test_tfidf_tiebreak_is_term_asc(spark):
    df = spark.createDataFrame([(1, "b a c d e f")], ["doc_id", "text"])
    rows = tfidf_top_terms(df, "doc_id", "text").collect()
    # all terms have identical tf and idf -> top-3 must be a, b, c
    assert sorted(r.term for r in rows) == ["a", "b", "c"]


def test_asof_forward_and_nearest_match_bruteforce_property(spark):
    """Same randomized brute-force pinning for the forward and nearest
    directions (nearest ties resolve backward)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from platform_etl_backend_spark.operators.asof import (
        asof_join_forward,
        asof_join_nearest,
    )

    row_p = st.tuples(st.integers(0, 3), st.integers(0, 20))
    row_b = st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(0, 99))

    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        probes=st.lists(row_p, min_size=1, max_size=8),
        builds=st.lists(row_b, max_size=8),
    )
    def run(probes, builds):
        probe = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(probes)], ["pid", "k", "t"]
        )
        if builds:
            build = spark.createDataFrame(builds, ["k", "t", "bid"])
        else:
            build = spark.createDataFrame([], "k int, t int, bid int")

        # dedup builds per (k, t) by highest bid — the tiebreak contract
        best = {}
        for bk, bt, bid in builds:
            best[(bk, bt)] = max(best.get((bk, bt), -1), bid)

        fwd = {
            r.pid: r.asof_bid
            for r in asof_join_forward(
                probe, build, "k", "t", "t", ["bid"], tiebreak="bid"
            ).collect()
        }
        near = {
            r.pid: r.asof_bid
            for r in asof_join_nearest(
                probe, build, "k", "t", "t", ["bid"], tiebreak="bid"
            ).collect()
        }
        for i, (k, t) in enumerate(probes):
            after = [(bt, bid) for (bk, bt), bid in best.items() if bk == k and bt >= t]
            f_exp = min(after)[1] if after else None
            assert fwd[i] == f_exp, ("forward", i, k, t, after)

            cands = [(bt, bid) for (bk, bt), bid in best.items() if bk == k]
            n_exp = None
            if cands:
                # min |dt|; tie -> backward (bt <= t preferred)
                bt, bid = min(cands, key=lambda c: (abs(c[0] - t), 0 if c[0] <= t else 1))
                n_exp = bid
            assert near[i] == n_exp, ("nearest", i, k, t, cands)

    run()


def test_interval_overlap_join_matches_quadratic(spark):
    """Grid-blocked overlap join == the quadratic formulation, including
    touching intervals (overlap 0) and multi-cell-spanning intervals."""
    from platform_etl_backend_spark.operators.asof import interval_overlap_join

    a_rows = [(1, 10, 0, 50), (1, 11, 100, 2600), (2, 12, 0, 10)]
    b_rows = [(1, 20, 40, 60), (1, 21, 50, 99), (1, 22, 2550, 2700),
              (1, 23, 3000, 3100), (2, 24, 11, 20)]
    a = spark.createDataFrame(a_rows, "user_id: bigint, a_id: bigint, a_start: bigint, a_end: bigint")
    b = spark.createDataFrame(b_rows, "user_id: bigint, b_id: bigint, b_start: bigint, b_end: bigint")
    out = {(r.a_id, r.b_id): r.overlap
           for r in interval_overlap_join(a, b, ["user_id"],
                                          "a_start", "a_end", "b_start", "b_end",
                                          bucket=64).collect()}
    expect = {}
    for (u1, ai, s1, e1) in a_rows:
        for (u2, bi, s2, e2) in b_rows:
            if u1 == u2 and s1 <= e2 and s2 <= e1:
                expect[(ai, bi)] = min(e1, e2) - max(s1, s2)
    assert out == expect
    assert (10, 21) in out and out[(10, 21)] == 0   # touching counts, overlap 0
    assert (11, 22) in out and out[(11, 22)] == 50  # spans many 64s cells, deduped
