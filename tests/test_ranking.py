"""Two-pass distributed ranking == the single-partition window, exactly.

Each helper in ``operators/ranking.py`` is pinned against the naive
``Window.orderBy(...)`` (no partitionBy) formulation it replaces, on
frames deliberately larger than the partition count so every range
partition is non-trivial, plus edge shapes (n < buckets, ties broken by
the ordering, single row).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from platform_etl_backend_spark.operators.ranking import (
    two_pass_cdf,
    two_pass_cumsum,
    two_pass_ntile,
    two_pass_row_number,
)


def _frame(spark, n=997, seed=7):
    # deterministic pseudo-random values with heavy ties: v in [0, 50)
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.xxhash64(F.col("id") + seed) % 50).alias("v"),
        (F.xxhash64(F.col("id") * 31 + seed) % 13).alias("w"),
    )


def test_two_pass_row_number_matches_window(spark):
    df = _frame(spark)
    got = two_pass_row_number(df, ["v", "k"], rn_col="rn", num_partitions=8)
    want = df.withColumn("rn", F.row_number().over(Window.orderBy("v", "k")))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_two_pass_row_number_total(spark):
    df = _frame(spark, n=101)
    got = two_pass_row_number(df, ["v", "k"], rn_col="rn", total_col="n",
                              num_partitions=5)
    rows = got.select("n").distinct().collect()
    assert rows == [Row(n=101)]


@pytest.mark.parametrize("n,b", [(997, 10), (7, 10), (10, 10), (96, 7), (1, 3)])
def test_two_pass_ntile_matches_window(spark, n, b):
    df = _frame(spark, n=n)
    got = two_pass_ntile(df, ["v", "k"], b, bucket_col="bkt", num_partitions=4)
    want = df.withColumn("bkt", F.ntile(b).over(Window.orderBy("v", "k")))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_two_pass_cumsum_matches_window(spark):
    df = _frame(spark)
    got = two_pass_cumsum(df, ["v", "k"], ["w"], num_partitions=8,
                          total_prefix="tot_")
    w = Window.orderBy("v", "k").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    want = df.withColumn("cum_w", F.sum("w").over(w).cast("bigint")).withColumn(
        "tot_w", F.sum("w").over(wall).cast("bigint")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_two_pass_cdf_matches_windows(spark):
    df = _frame(spark, n=500).groupBy("v").agg(
        F.sum("w").alias("a"), F.count(F.lit(1)).alias("b")
    )
    got = two_pass_cdf(df, ["v"], ["a", "b"], "v", "v_next", num_partitions=6)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    want = (
        df.withColumn("cum_a", F.sum("a").over(w).cast("bigint"))
        .withColumn("tot_a", F.sum("a").over(wall).cast("bigint"))
        .withColumn("cum_b", F.sum("b").over(w).cast("bigint"))
        .withColumn("tot_b", F.sum("b").over(wall).cast("bigint"))
        .withColumn("v_next", F.lead("v").over(Window.orderBy("v")))
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_two_pass_plan_has_no_global_sort_on_data(spark):
    """The data-frame window must be partitioned by pid (partition-local);
    only the tiny per-partition offsets frame may see an unpartitioned
    window."""
    df = _frame(spark)
    got = two_pass_row_number(df, ["v", "k"], num_partitions=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the range exchange must be present, and the local window must key on pid
    assert "rangepartitioning" in plan.lower()
    assert "__tp_pid" in plan
