"""Hash-bucketed table writes: the amortize-one-shuffle strategy. Two
tables bucketed identically on their join key must join WITHOUT any
Exchange in the plan — at 100 TB this turns every repeated big-big join on
the bucket key into a local sort-merge."""

from __future__ import annotations


def test_cobucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """lineitem and orders bucketed on the order key: the join plan must
    contain zero Exchange operators — the scans themselves provide the
    hash partitioning."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    for name, df, key in (
        ("bkt_lineitem", li, "l_orderkey"),
        ("bkt_orders", orders, "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.mode("overwrite").option("path", str(tmp_path / name))
         .bucketBy(8, key).sortBy(key).saveAsTable(name))
    a = spark.table("bkt_lineitem")
    b = spark.table("bkt_orders")
    with_conf = spark.conf
    old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, a.l_orderkey == b.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and it computes the right thing
        expected = (
            li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        )
        assert joined.count() == expected
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for name in ("bkt_lineitem", "bkt_orders"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
