"""Scale-pattern verification: bucketed co-located joins, partitioned-write
pruning, salted aggregation equivalence — the techniques that matter at
100TB, checked at test scale via plan inspection.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_backend_spark.plans import explain_str
from spark_helpers import shuffle_count


def test_bucketed_join_is_colocated(spark, sf_dir, tmp_path):
    """Pre-bucketed tables join with ZERO exchanges — the co-location
    strategy for repeated big-big joins."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").saveAsTable("orders_b"))
    (lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").saveAsTable("lineitem_b"))
    from spark_helpers import session_scoped_conf

    try:
        ob = spark.table("orders_b")
        lb = spark.table("lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).select(
            "o_orderkey", "l_quantity"
        )
        # force SMJ (at real scale both sides are too big to broadcast)
        with session_scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            plan = explain_str(joined, "simple")
            # co-located: bucketed scans feed the sort-merge join with no
            # hash-partition shuffle on either side
            assert "Exchange hashpartitioning" not in plan, plan
            assert "SortMergeJoin" in plan, plan
            assert "Bucketed: true" in explain_str(joined, "formatted")
            assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """partitionBy output + partition-filter scan (S7 + pruning)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = str(tmp_path / "li_part")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out).where(F.col("l_returnflag") == "R")
    plan = explain_str(back, "formatted")
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "l_returnflag" in part_lines[0], plan[:2000]
    expected = li.where(F.col("l_returnflag") == "R").count()
    assert back.count() == expected


def test_salted_agg_matches_plain(spark, sf_dir):
    from platform_etl_backend_spark.catalog import QUERIES

    salted = {
        r.l_returnflag: (r.cnt, r.total_qty, r.max_price)
        for r in QUERIES["q_salted_agg"].fn(spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plain = {
        r.l_returnflag: (r.cnt, float(r.tq), r.mp)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("tq"),
            F.max("l_extendedprice").alias("mp"),
        )
        .collect()
    }
    assert salted == plain


def test_repartition_by_range_output_clustering(spark, sf_dir):
    """repartitionByRange (Interaction.scala:440) plans a range exchange."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    clustered = li.repartitionByRange(8, "l_orderkey", "l_linenumber")
    assert "Exchange range" in explain_str(clustered, "simple")
    assert shuffle_count(clustered) == 1


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling: a hot join key whose shuffle partition
    dwarfs the median is split at runtime (SortMergeJoin(skew=true)) —
    the no-code-change skew remedy the engine relies on at 100 TB (the
    manual salting operator in operators/skew.py is the fallback for
    aggregations, where AQE cannot help)."""
    from spark_helpers import session_scoped_conf

    skew = spark.range(0, 300000).select(
        F.when(F.col("id") < 250000, 0).otherwise(F.col("id")).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    other = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    with session_scoped_conf(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # scaled-down thresholds so test-sized data exhibits the 100TB behavior
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }):
        j = skew.join(other, "k")
        rows = j.collect()  # finalize THIS frame's adaptive plan
        assert len(rows) == 250000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:1500]


def test_runtime_bloom_filter_prunes_probe_side(spark, tmp_path):
    """Runtime bloom-filter join pruning: a selective filter on the build
    side injects might_contain(bloom_filter_agg(...)) onto the probe-side
    scan, so most of the 100TB fact table is dropped before the shuffle —
    Spark's runtime answer to semi-join reduction."""
    from spark_helpers import session_scoped_conf

    big_p = str(tmp_path / "big")
    dim_p = str(tmp_path / "dim")
    spark.range(0, 200000).select(
        F.col("id").alias("l_k"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    ).write.mode("overwrite").parquet(big_p)
    spark.range(0, 50000).select(
        F.col("id").alias("d_k"), (F.col("id") % 100).alias("cat")
    ).write.mode("overwrite").parquet(dim_p)
    big = spark.read.parquet(big_p)
    dim = spark.read.parquet(dim_p).where(F.col("cat") == 7)
    with session_scoped_conf(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }):
        j = big.join(dim, big.l_k == dim.d_k)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt[:1500]
        assert "bloom_filter_agg" in opt
        assert j.count() == 500  # correctness unchanged by the runtime filter


def test_max_records_per_file_controls_file_sizing(spark, sf_dir, tmp_path):
    """Output file sizing (the small-file/giant-file control at 100 TB):
    maxRecordsPerFile bounds rows per output file without changing
    partitioning."""
    import glob

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = li.count()
    out = str(tmp_path / "sized")
    (li.repartition(2).write.mode("overwrite")
       .option("maxRecordsPerFile", 1000).parquet(out))
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) >= n // 1000  # bounded rows per file forces a split
    for f in files:
        assert spark.read.parquet(f).count() <= 1000
    assert spark.read.parquet(out).count() == n
