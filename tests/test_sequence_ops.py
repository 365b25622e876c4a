"""Unit tests for the ordered-sequence analytics operators
(operators/sequence.py) and the late-round-3 catalog additions: funnel
fold semantics (incl. timestamp-tie rules), SCD2 interval construction,
bounded-window EWMA vs a plain-Python model, cohort retention, and BFS
hop distances."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_backend_spark.operators.graph import bfs_distances
from platform_etl_backend_spark.operators.sequence import (
    cohort_retention,
    ewma,
    funnel_stages,
    scd2_intervals,
)
from spark_helpers import shuffle_count


SCHEMA = "user_id bigint, event_id bigint, ep bigint, event_type string, value double"


def _events(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


class TestFunnel:
    STAGES = ("signup", "click", "purchase")

    def _stages(self, spark, rows):
        df = _events(spark, rows)
        out = funnel_stages(df, "user_id", "ep", "event_id", "event_type", self.STAGES)
        return {r["user_id"]: r["funnel_stage"] for r in out.collect()}

    def test_full_funnel(self, spark):
        rows = [
            (1, 1, 10, "signup", 0.0),
            (1, 2, 20, "click", 0.0),
            (1, 3, 30, "purchase", 0.0),
        ]
        assert self._stages(spark, rows) == {1: 3}

    def test_order_matters(self, spark):
        # purchase before click: funnel stalls at click-missing stage
        rows = [
            (1, 1, 10, "signup", 0.0),
            (1, 2, 20, "purchase", 0.0),
            (1, 3, 30, "click", 0.0),
        ]
        assert self._stages(spark, rows) == {1: 2}

    def test_equal_timestamp_never_advances(self, spark):
        # click at the same second as signup does not count (strict >)
        rows = [
            (1, 1, 10, "signup", 0.0),
            (1, 2, 10, "click", 0.0),
        ]
        assert self._stages(spark, rows) == {1: 1}

    def test_earliest_anchor_wins(self, spark):
        # second signup later must not reset the anchor: click at 15 counts
        # against the FIRST signup (10), not the second (20)
        rows = [
            (1, 1, 10, "signup", 0.0),
            (1, 2, 20, "signup", 0.0),
            (1, 3, 15, "click", 0.0),
        ]
        assert self._stages(spark, rows) == {1: 2}

    def test_no_signup_stage_zero(self, spark):
        rows = [(1, 1, 10, "click", 0.0), (1, 2, 20, "purchase", 0.0)]
        assert self._stages(spark, rows) == {1: 0}

    def test_single_shuffle(self, spark):
        df = _events(spark, [(1, 1, 10, "signup", 0.0)])
        out = funnel_stages(df, "user_id", "ep", "event_id", "event_type", self.STAGES)
        # one user-keyed exchange for the whole funnel — the design claim
        assert shuffle_count(out) == 1


class TestScd2:
    def test_intervals(self, spark):
        rows = [
            (1, 1, 10, "a", 0.0),
            (1, 2, 20, "a", 0.0),
            (1, 3, 30, "b", 0.0),
            (1, 4, 40, "a", 0.0),
        ]
        out = scd2_intervals(_events(spark, rows), "user_id", "ep", "event_id", "event_type")
        got = sorted(
            (r["version"], r["state"], r["valid_from"], r["valid_to"], r["n_events"])
            for r in out.collect()
        )
        assert got == [
            (1, "a", 10, 30, 2),
            (2, "b", 30, 40, 1),
            (3, "a", 40, None, 1),  # open (current) interval
        ]

    def test_single_state_one_open_interval(self, spark):
        rows = [(1, 1, 10, "a", 0.0), (1, 2, 20, "a", 0.0)]
        out = scd2_intervals(_events(spark, rows), "user_id", "ep", "event_id", "event_type")
        got = [(r["version"], r["valid_to"]) for r in out.collect()]
        assert got == [(1, None)]


class TestEwma:
    def test_matches_python_model(self, spark):
        alpha, lookback = 0.2, 3
        vals = [10.0, 20.0, 5.0, 40.0, 1.0]
        rows = [(1, i, 10 * i, "view", v) for i, v in enumerate(vals)]
        out = ewma(
            _events(spark, rows), "user_id", "ep", "event_id", "value",
            alpha=alpha, lookback=lookback,
        ).orderBy("event_id")
        got = [r["ewma"] for r in out.collect()]

        def model(i):
            window = vals[max(0, i - lookback + 1): i + 1]
            s = window[0]
            for x in window[1:]:
                s = s * (1 - alpha) + x * alpha
            return round(s, 6)

        assert got == pytest.approx([model(i) for i in range(len(vals))])

    def test_seeded_with_first_value(self, spark):
        rows = [(1, 0, 0, "view", 42.0)]
        out = ewma(_events(spark, rows), "user_id", "ep", "event_id", "value")
        assert out.collect()[0]["ewma"] == 42.0


class TestCohort:
    def test_retention_matrix(self, spark):
        # u1 first day 0, active days {0, 1}; u2 first day 1, active {1}
        rows = [
            (1, 1, 0 * 86400, "view", 0.0),
            (1, 2, 1 * 86400, "view", 0.0),
            (1, 3, 1 * 86400 + 5, "view", 0.0),  # same day, no double count
            (2, 4, 1 * 86400, "view", 0.0),
        ]
        df = _events(spark, rows)
        out = cohort_retention(df, "user_id", F.expr("ep div 86400").cast("bigint"))
        got = {(r["cohort_day"], r["day_offset"]): r["n_active"] for r in out.collect()}
        assert got == {(0, 0): 1, (0, 1): 1, (1, 0): 1}


class TestBfs:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src bigint, dst bigint")

    def test_chain_distances_and_bound(self, spark):
        e = self._edges(spark, [(i, i + 1) for i in range(10)])
        out = bfs_distances(e, sources=[0], max_hops=4)
        got = {r["node"]: r["dist"] for r in out.collect()}
        assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}  # bounded at 4 hops

    def test_min_hop_wins_on_diamond(self, spark):
        # 0->1->3 and 0->3: node 3 is dist 1, not 2
        e = self._edges(spark, [(0, 1), (1, 3), (0, 3)])
        out = bfs_distances(e, sources=[0], max_hops=5)
        got = {r["node"]: r["dist"] for r in out.collect()}
        assert got == {0: 0, 1: 1, 3: 1}

    def test_multi_source(self, spark):
        e = self._edges(spark, [(0, 1), (5, 6)])
        out = bfs_distances(e, sources=[0, 5], max_hops=3)
        got = {r["node"]: r["dist"] for r in out.collect()}
        assert got == {0: 0, 5: 0, 1: 1, 6: 1}

    def test_unreachable_absent(self, spark):
        e = self._edges(spark, [(0, 1), (7, 8)])
        out = bfs_distances(e, sources=[0], max_hops=3)
        assert {r["node"] for r in out.collect()} == {0, 1}


class TestProfile:
    def test_profile_counts_and_bounds(self, spark):
        from platform_etl_backend_spark.operators.profile import profile_table

        df = spark.createDataFrame(
            [(1, "a", 2.5), (2, None, -1.0), (3, "a", None), (4, "b", 7.0)],
            "id bigint, s string, v double",
        )
        got = {r["column"]: r for r in profile_table(df).collect()}
        assert set(got) == {"id", "s", "v"}
        assert all(r["n_rows"] == 4 for r in got.values())
        assert (got["s"]["n_nulls"], got["s"]["n_distinct"]) == (1, 2)
        assert (got["v"]["n_nulls"], got["v"]["n_distinct"]) == (1, 3)
        assert (got["v"]["min_val"], got["v"]["max_val"]) == (-1.0, 7.0)
        assert got["s"]["min_val"] is None and got["s"]["max_val"] is None
        assert (got["id"]["min_val"], got["id"]["max_val"]) == (1.0, 4.0)

    def test_profile_single_aggregation_pass(self, spark):
        from platform_etl_backend_spark.operators.profile import profile_table
        from platform_etl_backend_spark.plans.inspect import explain_str

        df = spark.createDataFrame([(1, 2.0)], "a bigint, b double")
        plan = explain_str(profile_table(df, approx=True), "simple")
        # with approx distincts there is exactly one aggregate over one scan
        assert plan.count("Scan") == 1


class TestWindowedFunnel:
    def test_gap_bound_blocks_late_step(self, spark):
        from platform_etl_backend_spark.operators.sequence import funnel_stages

        rows = [
            (1, 1, 0, "signup", 0.0),
            (1, 2, 100, "click", 0.0),      # within gap
            (1, 3, 100 + 7000, "purchase", 0.0),  # beyond gap from click
            (2, 4, 0, "signup", 0.0),
            (2, 5, 100, "click", 0.0),
            (2, 6, 200, "purchase", 0.0),   # all within gap
        ]
        df = spark.createDataFrame(
            rows, "user_id bigint, event_id bigint, ep bigint, event_type string, value double"
        )
        out = funnel_stages(
            df, "user_id", "ep", "event_id", "event_type",
            stages=("signup", "click", "purchase"), max_gap=1000,
        )
        got = {r["user_id"]: r["funnel_stage"] for r in out.collect()}
        assert got == {1: 2, 2: 3}

    def test_earliest_anchor_first_touch_can_fail(self, spark):
        """Greedy earliest-anchor: the FIRST click sets the window even if a
        later click would have enabled the purchase — documented semantics."""
        from platform_etl_backend_spark.operators.sequence import funnel_stages

        rows = [
            (1, 1, 0, "signup", 0.0),
            (1, 2, 10, "click", 0.0),       # anchor = 10
            (1, 3, 5000, "click", 0.0),     # ignored (already at stage 2)
            (1, 4, 5500, "purchase", 0.0),  # > 10 + 1000 — blocked
        ]
        df = spark.createDataFrame(
            rows, "user_id bigint, event_id bigint, ep bigint, event_type string, value double"
        )
        out = funnel_stages(
            df, "user_id", "ep", "event_id", "event_type",
            stages=("signup", "click", "purchase"), max_gap=1000,
        )
        assert out.collect()[0]["funnel_stage"] == 2


class TestDegenerateInputs:
    """Empty/singleton inputs must not crash or mislabel (the round-2
    habit: every iterative/grouped operator gets a degenerate test)."""

    def test_empty_events(self, spark):
        from platform_etl_backend_spark.operators.sequence import (
            cohort_retention, ewma, funnel_stages, scd2_intervals,
        )

        empty = spark.createDataFrame([], SCHEMA)
        assert funnel_stages(
            empty, "user_id", "ep", "event_id", "event_type", ("signup",)
        ).count() == 0
        assert scd2_intervals(empty, "user_id", "ep", "event_id", "event_type").count() == 0
        assert ewma(empty, "user_id", "ep", "event_id", "value").count() == 0
        assert cohort_retention(
            empty, "user_id", F.expr("ep div 86400").cast("bigint")
        ).count() == 0

    def test_empty_graph(self, spark):
        from platform_etl_backend_spark.operators.graph import (
            bfs_distances, label_propagation,
        )

        edges = spark.createDataFrame([], "src bigint, dst bigint")
        assert label_propagation(edges, iterations=2).count() == 0
        # BFS from a source with no edges: just the source at dist 0
        got = {(r["node"], r["dist"]) for r in bfs_distances(edges, sources=[7]).collect()}
        assert got == {(7, 0)}

    def test_self_loops_only_graph(self, spark):
        from platform_etl_backend_spark.operators.graph import label_propagation

        edges = spark.createDataFrame([(1, 1), (2, 2)], "src bigint, dst bigint")
        assert label_propagation(edges, iterations=2).count() == 0  # loops dropped

    def test_profile_empty_table(self, spark):
        from platform_etl_backend_spark.operators.profile import profile_table

        df = spark.createDataFrame([], "a bigint, b string")
        got = {r["column"]: r for r in profile_table(df).collect()}
        assert set(got) == {"a", "b"}
        assert all(r["n_rows"] == 0 and r["n_nulls"] == 0 for r in got.values())
