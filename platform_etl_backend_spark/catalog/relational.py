"""Relational operator coverage (SURVEY.md §2.2–§2.8) as oracle-paired queries.

Each query is the PySpark-native expression of an operator family the
reference uses, exercised on the driver's TPC-H-ish tables. Reference sites
are cited per query. Oracles follow the determinism conventions in
``catalog/__init__.py``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platform_etl_backend_spark.catalog.registry import register, table, dec2, dbl
from platform_etl_backend_spark.functions.columns import (
    flatten_cat,
    harmonic_fn,
    transpose_dataframe,
)

# ---------------------------------------------------------------------------
# Aggregation family (A3, P3) — TPC-H Q1 flavour. Reference: grouped
# statistical aggs à la Search.scala:140,817; Expression.scala:83-86.
# ---------------------------------------------------------------------------

_DEC_ONE = "cast(1 as decimal(4,2))"


@register(
    "q_agg_basic",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST({_DEC_ONE} - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
               AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST({_DEC_ONE} - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
                    * CAST({_DEC_ONE} + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
               AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="Grouped statistical aggregation with exact decimal arithmetic (TPC-H Q1 shape)",
    tags=("agg", "filter"),
)
def q_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    one_minus_disc = (F.expr(_DEC_ONE) - F.col("l_discount").cast("decimal(4,2)")).cast("decimal(4,2)")
    one_plus_tax = (F.expr(_DEC_ONE) + F.col("l_tax").cast("decimal(4,2)")).cast("decimal(4,2)")
    return (
        li.where(F.col("l_shipdate").cast("date") <= F.lit("1998-09-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dbl(F.sum(dec2("l_quantity"))).alias("sum_qty"),
            dbl(F.sum(dec2("l_extendedprice"))).alias("sum_base_price"),
            dbl(F.sum(dec2("l_extendedprice") * one_minus_disc)).alias("sum_disc_price"),
            dbl(F.sum(dec2("l_extendedprice") * one_minus_disc * one_plus_tax)).alias("sum_charge"),
            (dbl(F.sum(dec2("l_quantity"))) / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q_scalar_filter_sum",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    description="Whole-table scalar aggregate with selective pushdown filters (TPC-H Q6 shape; A7)",
    tags=("agg", "filter"),
)
def q_scalar_filter_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dbl(F.sum(dec2("l_extendedprice") * F.col("l_discount").cast("decimal(4,2)"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Projection / predicates / conditionals (P1-P7)
# ---------------------------------------------------------------------------


@register(
    "q_case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice > 150000 THEN 'high'
                WHEN o_totalprice > 50000 THEN 'mid'
                ELSE 'low' END AS bucket,
           o_orderstatus,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY bucket, o_orderstatus
    """,
    description="when/otherwise conditional buckets (P4; Vectors.scala:29-33)",
    tags=("projection",),
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") > 150000, "high")
        .when(F.col("o_totalprice") > 50000, "mid")
        .otherwise("low")
        .alias("bucket")
    )
    return (
        o.select(bucket, "o_orderstatus", "o_totalprice")
        .groupBy("bucket", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"), dbl(F.sum(dec2("o_totalprice"))).alias("total"))
    )


@register(
    "q_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    description="distinct projection (P6; Ensembl.scala:54)",
    tags=("projection",),
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "q_latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate
    FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders) WHERE rn = 1
    """,
    description="Deterministic dedup-by-latest — the engine's fix for the reference's "
    "arbitrary-row dropDuplicates (SURVEY §4 caveat; PreProcessing.scala:8-16)",
    tags=("window", "dedup"),
)
def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("odate"))
    )


@register(
    "q_left_join_fill",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
    description="left_outer accretion + na.fill (J2, P7; Target.scala:107-167, Processing.scala:100-103)",
    tags=("join", "agg"),
)
def q_left_join_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    joined = c.join(o, c.c_custkey == o.o_custkey, "left")
    out = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        dbl(F.sum(dec2("o_totalprice"))).alias("spend"),
    )
    return out.na.fill({"spend": 0.0})


# ---------------------------------------------------------------------------
# Join family (J1-J10)
# ---------------------------------------------------------------------------


@register(
    "q_join_multi",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           CAST(o.o_orderdate AS DATE) AS odate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
    GROUP BY l.l_orderkey, odate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    description="3-way inner join + grouped revenue + global top-k (J1; TPC-H Q3 shape; "
    "broadcast of the small dim side, Target.scala:342-346)",
    tags=("join", "agg", "topk"),
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").cast("date") < F.lit("1998-03-15").cast("date")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").cast("date") > F.lit("1998-03-15").cast("date")
    )
    one_minus_disc = (F.expr(_DEC_ONE) - F.col("l_discount").cast("decimal(4,2)")).cast("decimal(4,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("odate"))
        .agg(dbl(F.sum(dec2("l_extendedprice") * one_minus_disc)).alias("revenue"))
        .select("l_orderkey", "revenue", "odate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q_full_outer",
    oracle="""
    WITH cc AS (SELECT c_nationkey AS nk, COUNT(*) AS c_cnt FROM customer GROUP BY 1),
         sc AS (SELECT s_nationkey AS nk, COUNT(*) AS s_cnt FROM supplier GROUP BY 1)
    SELECT COALESCE(cc.nk, sc.nk) AS nationkey,
           COALESCE(cc.c_cnt, 0) AS c_cnt,
           COALESCE(sc.s_cnt, 0) AS s_cnt
    FROM cc FULL OUTER JOIN sc ON cc.nk = sc.nk
    """,
    description="full_outer join with coalesced keys (J3; Search.scala:342, Expression.scala:103)",
    tags=("join",),
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("c_cnt"))
    )
    sc = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("s_cnt"))
    )
    return (
        cc.join(sc, cc.nk == sc.nk, "full")
        .select(
            F.coalesce(cc.nk, sc.nk).alias("nationkey"),
            F.coalesce("c_cnt", F.lit(0)).alias("c_cnt"),
            F.coalesce("s_cnt", F.lit(0)).alias("s_cnt"),
        )
    )


@register(
    "q_anti_join",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
    """,
    description="left_anti exclusion (J4; EventsFiltering.scala:10-15, Ensembl.scala:220-224)",
    tags=("join",),
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select("p_partkey", "p_name")


@register(
    "q_semi_join",
    oracle="""
    SELECT n.n_nationkey, n.n_name FROM nation n
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 5000)
    """,
    description="left_semi existence join (exclusion dual of J4)",
    tags=("join",),
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000)
    return n.join(c, n.n_nationkey == c.c_nationkey, "left_semi").select("n_nationkey", "n_name")


@register(
    "q_expr_join",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS late_lines
    FROM orders o JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY
    GROUP BY o.o_orderpriority
    """,
    description="expression join with non-equi conjunct (J6; Ensembl.scala:72-77, Target.scala:432)",
    tags=("join",),
)
def q_expr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate.cast("date") > F.date_add(o.o_orderdate.cast("date"), 60)
    )
    return o.join(li, cond).groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("late_lines"))


@register(
    "q_nullsafe_join",
    oracle="""
    WITH a AS (SELECT NULLIF(l_returnflag, 'N') AS k, COUNT(*) AS cnt_a
               FROM lineitem GROUP BY 1),
         b AS (SELECT NULLIF(l_returnflag, 'N') AS k,
                      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_b
               FROM lineitem GROUP BY 1)
    SELECT a.k, a.cnt_a, b.qty_b FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    description="null-safe equality join (J7; PreProcessing.scala:23-27 <=>)",
    tags=("join",),
)
def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    k = F.nullif(F.col("l_returnflag"), F.lit("N")).alias("k")
    a = li.groupBy(k).agg(F.count(F.lit(1)).alias("cnt_a"))
    b = li.groupBy(k).agg(dbl(F.sum(dec2("l_quantity"))).alias("qty_b"))
    return a.join(b, a.k.eqNullSafe(b.k)).select(a.k.alias("k"), "cnt_a", "qty_b")


@register(
    "q_self_join",
    oracle="""
    SELECT n1.n_regionkey AS regionkey, n1.n_name AS nation_a, n2.n_name AS nation_b
    FROM nation n1 JOIN nation n2
      ON n1.n_regionkey = n2.n_regionkey AND n1.n_name < n2.n_name
    """,
    description="self-join, same table in two roles (J9; Search.scala:295-311)",
    tags=("join",),
)
def q_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    n1 = n.alias("n1")
    n2 = n.alias("n2")
    return (
        n1.join(
            n2,
            (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
            & (F.col("n1.n_name") < F.col("n2.n_name")),
        )
        .select(
            F.col("n1.n_regionkey").alias("regionkey"),
            F.col("n1.n_name").alias("nation_a"),
            F.col("n2.n_name").alias("nation_b"),
        )
    )


@register(
    "q_join_lut_broadcast",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY region, nation
    """,
    description="LUT joins with explicit broadcast hints (J8/J10; GeneOntology.scala:64-73)",
    tags=("join", "agg"),
)
def q_join_lut_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dbl(F.sum(dec2("c_acctbal"))).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# collect_set / collect_list nesting family (A1, A2, A4)
# ---------------------------------------------------------------------------


@register(
    "q_collect_set",
    oracle="""
    SELECT n.n_name,
           array_to_string(list_sort(list_distinct(list(c.c_mktsegment))), '|') AS segments
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    description="groupBy + collect_set, the reference's workhorse nesting agg "
    "(A1; target/Reactome.scala:52-63, GeneOntology.scala:174-176). Output array "
    "serialized with '|' so value-hash canonicalizers that cannot sort list cells "
    "(pandas) still work; the aggregation under test is unchanged.",
    tags=("agg", "nesting"),
)
def q_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sort_array(F.collect_set("c_mktsegment")).alias("segments_arr"))
        .select("n_name", F.concat_ws("|", "segments_arr").alias("segments"))
    )


@register(
    "q_flatten_collect",
    oracle="""
    SELECT p_brand,
           array_to_string(
               list_sort(list_distinct(flatten(list(string_split(p_name, ' '))))), '|') AS words
    FROM part GROUP BY p_brand
    """,
    description="flatten(collect_set(array)) merge (A2; Target.scala:240-251, Ncbi.scala:44-49). "
    "'|'-serialized output (canonicalizer-proof contract).",
    tags=("agg", "nesting"),
)
def q_flatten_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").withColumn("words", F.split("p_name", " "))
    return (
        p.groupBy("p_brand")
        .agg(F.sort_array(F.array_distinct(F.flatten(F.collect_list("words")))).alias("words_arr"))
        .select("p_brand", F.concat_ws("|", "words_arr").alias("words"))
    )


@register(
    "q_topk_banded_labels",
    oracle="""
    SELECT n_name,
           array_to_string(
               list(c_name ORDER BY c_acctbal DESC, c_custkey) FILTER (WHERE rnk <= 3),
               '|') AS top_names
    FROM (SELECT n.n_name, c.c_name, c.c_acctbal, c.c_custkey,
                 RANK() OVER (PARTITION BY n.n_name
                              ORDER BY c.c_acctbal DESC, c.c_custkey) AS rnk
          FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
    GROUP BY n_name
    """,
    description="top-k-banded label aggregation: collect_list(when(rank<=k, label)) "
    "(A4+W1; Search.scala:128-141,347-359). '|'-serialized output "
    "(canonicalizer-proof contract).",
    tags=("agg", "window", "nesting"),
)
def q_topk_banded_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    ranked = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rnk", F.rank().over(w))
    )
    # collect in rank order deterministically: collect structs, sort, project label
    item = F.when(F.col("rnk") <= 3, F.struct("rnk", "c_name"))
    return (
        ranked.groupBy("n_name")
        .agg(
            F.transform(F.array_sort(F.collect_list(item)), lambda x: x["c_name"]).alias("top_arr")
        )
        .select("n_name", F.concat_ws("|", "top_arr").alias("top_names"))
    )


@register(
    "q_stats_per_group",
    oracle="""
    SELECT n_name,
           COUNT(*) AS cnt,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal,
           COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
    """,
    description="statistical aggs incl. exact distinct count (A3; Search.scala:140,358,817)",
    tags=("agg",),
)
def q_stats_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            dbl(F.sum(dec2("c_acctbal"))).alias("sum_bal"),
            (dbl(F.sum(dec2("c_acctbal"))) / F.count(F.lit(1))).alias("avg_bal"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


@register(
    "q_rowwise_sum",
    oracle="""
    SELECT p_brand,
           CAST(SUM(CAST(p_size AS DECIMAL(18,2)) + CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_metric
    FROM part GROUP BY p_brand
    """,
    description="horizontal fold across N columns (A9; ProjectScores.scala:31-39)",
    tags=("agg",),
)
def q_rowwise_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    cols = [dec2(F.col("p_size").cast("double")), dec2("p_retailprice")]
    rowsum = reduce(lambda a, b: a + b, cols)
    return p.groupBy("p_brand").agg(dbl(F.sum(rowsum)).alias("total_metric"))


@register(
    "q_global_agg",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    """,
    description="whole-table agg → driver scalar (A7; Search.scala:605,794)",
    tags=("agg",),
)
def q_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        dbl(F.sum(dec2("l_quantity"))).alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# Window family (W1-W7)
# ---------------------------------------------------------------------------


@register(
    "q_rank_topk",
    oracle="""
    SELECT n_name, rnk, c_name, c_acctbal
    FROM (SELECT n.n_name, c.c_name, c.c_acctbal,
                 CAST(RANK() OVER (PARTITION BY n.n_name
                                   ORDER BY c.c_acctbal DESC, c.c_custkey) AS BIGINT) AS rnk
          FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
    WHERE rnk <= 3
    """,
    description="rank over partition + top-k filter (W1/O2; Search.scala:118-126,335-344)",
    tags=("window", "topk"),
)
def q_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rnk", F.rank().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("n_name", "rnk", "c_name", "c_acctbal")
    )


@register(
    "q_dense_rank_best",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS dr
          FROM orders)
    WHERE dr = 1
    """,
    description="dense_rank keep-best (W3; Grounding.scala:187-194)",
    tags=("window",),
)
def q_dense_rank_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (
        o.withColumn("dr", F.dense_rank().over(w))
        .where(F.col("dr") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "q_ntile_buckets",
    oracle="""
    SELECT bucket, COUNT(*) AS cnt, MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi
    FROM (SELECT p_retailprice,
                 CAST(NTILE(6) OVER (ORDER BY p_retailprice, p_partkey) AS BIGINT) AS bucket
          FROM part)
    GROUP BY bucket
    """,
    description="ntile sextile binning (W4; GeneticConstraints.scala:48-50) "
    "— via the two-pass distributed NTILE (operators/ranking.py), no "
    "single-partition sort",
    tags=("window",),
)
def q_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_ntile

    p = table(spark, sf_dir, "part")
    return (
        two_pass_ntile(
            p.select("p_retailprice", "p_partkey"),
            ["p_retailprice", "p_partkey"], 6, bucket_col="b",
        )
        .select("p_retailprice", F.col("b").cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("p_retailprice").alias("lo"),
            F.max("p_retailprice").alias("hi"),
        )
    )


@register(
    "q_min_over_windows",
    oracle="""
    SELECT DISTINCT o_custkey,
           MIN(o_totalprice) OVER (PARTITION BY o_custkey) AS min_cust,
           MIN(o_totalprice) OVER () AS min_all
    FROM orders
    """,
    description="min over two nested windows (W5; Grounding.scala:107-130) "
    "— the global MIN() OVER () rides a 1-row broadcast scalar agg "
    "instead of an O(n) single-partition window (same result, identical "
    "oracle; the per-customer window is key-partitioned and fine)",
    tags=("window",),
)
def q_min_over_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w_cust = Window.partitionBy("o_custkey")
    min_all = o.agg(F.min("o_totalprice").alias("min_all"))
    return (
        o.select(
            "o_custkey",
            F.min("o_totalprice").over(w_cust).alias("min_cust"),
        )
        .distinct()
        .crossJoin(F.broadcast(min_all))
        .select("o_custkey", "min_cust", "min_all")
    )


@register(
    "q_global_rank_multiplier",
    oracle="""
    SELECT o_orderkey, rnk,
           1 + (CAST(mx - rnk AS DOUBLE) / (mx - 1)) AS mult
    FROM (SELECT o_orderkey,
                 CAST(RANK() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk,
                 CAST(COUNT(*) OVER () AS BIGINT) AS mx
          FROM orders WHERE o_totalprice > 150000)
    """,
    description="global unpartitioned rank + relevance multiplier 1+((max-rank)/(max-1)) "
    "(W2; Search.scala:600-606). Single-partition sort confined to a pre-filtered subset.",
    tags=("window",),
)
def q_global_rank_multiplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 150000)
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    ranked = o.select(
        "o_orderkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("mx"),
    )
    return ranked.select(
        "o_orderkey",
        "rnk",
        (F.lit(1) + (F.col("mx") - F.col("rnk")).cast("double") / (F.col("mx") - 1)).alias("mult"),
    )


# ---------------------------------------------------------------------------
# Sort / top-k / array-sort family (O1-O5)
# ---------------------------------------------------------------------------


@register(
    "q_order_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    description="global order + limit top-k (O1; Spark plans this as TakeOrderedAndProject — "
    "no full sort at scale)",
    tags=("topk",),
)
def q_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice").orderBy(F.desc("o_totalprice"), "o_orderkey").limit(10)


@register(
    "q_sorted_names_array",
    oracle="""
    SELECT n.n_name,
           array_to_string(list(c.c_name ORDER BY c.c_acctbal DESC, c.c_custkey), '|') AS names
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    description="array_sort with custom comparator lambda — pure Catalyst, no UDF "
    "(O4/X2; Target.scala:331-361 speciesDistanceSort). '|'-serialized output "
    "(canonicalizer-proof contract).",
    tags=("agg", "array"),
)
def q_sorted_names_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    items = F.collect_list(F.struct(F.col("c_acctbal").alias("bal"),
                                    F.col("c_custkey").alias("k"),
                                    F.col("c_name").alias("name")))
    comparator = (
        "array_sort(items, (x, y) -> CASE WHEN x.bal > y.bal THEN -1 WHEN x.bal < y.bal THEN 1 "
        "WHEN x.k < y.k THEN -1 WHEN x.k > y.k THEN 1 ELSE 0 END)"
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(items.alias("items"))
        .select(
            "n_name",
            F.concat_ws(
                "|", F.transform(F.expr(comparator), lambda x: x["name"])
            ).alias("names"),
        )
    )


# ---------------------------------------------------------------------------
# Set ops / reshaping (U1-U9)
# ---------------------------------------------------------------------------


@register(
    "q_union_parties",
    oracle="""
    SELECT c_name AS name, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
           c_nationkey AS nationkey, 'customer' AS kind, c_mktsegment AS segment
    FROM customer
    UNION ALL
    SELECT s_name, CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE),
           s_nationkey, 'supplier', NULL
    FROM supplier
    """,
    description="unionByName with null-padding for missing columns (U2/U3/U4; "
    "Grounding.scala:266,325, Helpers.scala:209-239)",
    tags=("setop",),
)
def q_union_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        dbl(dec2("c_acctbal")).alias("acctbal"),
        F.col("c_nationkey").alias("nationkey"),
        F.lit("customer").alias("kind"),
        F.col("c_mktsegment").alias("segment"),
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"),
        dbl(dec2("s_acctbal")).alias("acctbal"),
        F.col("s_nationkey").alias("nationkey"),
        F.lit("supplier").alias("kind"),
    )
    return c.unionByName(s, allowMissingColumns=True)


@register(
    "q_except_nations",
    oracle="""
    SELECT n_name FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
    EXCEPT
    SELECT n_name FROM nation WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
    """,
    description="except / subtract set-difference (U5; Expression.scala:133)",
    tags=("setop",),
)
def q_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    with_cust = n.join(c, n.n_nationkey == c.c_nationkey, "left_semi").select("n_name")
    with_supp = n.join(s, n.n_nationkey == s.s_nationkey, "left_semi").select("n_name")
    return with_cust.subtract(with_supp)


@register(
    "q_intersect_nations",
    oracle="""
    SELECT n_name FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
    INTERSECT
    SELECT n_name FROM nation WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
    """,
    description="intersect set operation (companion of U5)",
    tags=("setop",),
)
def q_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    with_cust = n.join(c, n.n_nationkey == c.c_nationkey, "left_semi").select("n_name")
    with_supp = n.join(s, n.n_nationkey == s.s_nationkey, "left_semi").select("n_name")
    return with_cust.intersect(with_supp)


@register(
    "q_melt_metrics",
    oracle="""
    WITH wide AS (
      SELECT n.n_name,
             CAST(COUNT(DISTINCT c.c_custkey) AS DOUBLE) AS n_customers,
             CAST(COALESCE(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_bal
      FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name)
    SELECT n_name, 'n_customers' AS row_name, n_customers AS value FROM wide
    UNION ALL
    SELECT n_name, 'total_bal', total_bal FROM wide
    """,
    description="melt / unpivot wide→long (U6; Helpers.scala:186-200 transposeDataframe, "
    "Expression.scala:70-72)",
    tags=("reshape",),
)
def q_melt_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    wide = (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_custkey").cast("double").alias("n_customers"),
            F.coalesce(dbl(F.sum(dec2("c_acctbal"))), F.lit(0.0)).alias("total_bal"),
        )
    )
    return transpose_dataframe(wide, ["n_name"])


@register(
    "q_explode_words",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
    GROUP BY word
    """,
    description="explode over split arrays (§2.8 explode; Search.scala:196)",
    tags=("reshape", "array"),
)
def q_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q_flatten_cat_labels",
    oracle="""
    WITH lab AS (
      SELECT n.n_name,
             list_filter(list_distinct(list_transform(flatten([
                 coalesce(string_split(c.c_name, '#'), []),
                 coalesce(string_split(c.c_mktsegment, '#'), [])]),
                 s -> replace(trim(s), ',', ''))),
                 x -> x IS NOT NULL AND x <> '') AS lbl
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
    SELECT n_name,
           array_to_string(list_sort(list_distinct(flatten(list(lbl)))), '|') AS labels
    FROM lab GROUP BY n_name
    """,
    description="flattenCat label-merging primitive over multiple array columns "
    "(Helpers.scala:154-167, used ~30x in Search). '|'-serialized output "
    "(canonicalizer-proof contract).",
    tags=("array", "nesting"),
)
def q_flatten_cat_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "n_name", flatten_cat(F.split("c_name", "#"), F.split("c_mktsegment", "#")).alias("lbl")
    )
    return (
        df.groupBy("n_name")
        .agg(F.sort_array(F.array_distinct(F.flatten(F.collect_list("lbl")))).alias("labels_arr"))
        .select("n_name", F.concat_ws("|", "labels_arr").alias("labels"))
    )


# ---------------------------------------------------------------------------
# Scalar function catalog (§2.8)
# ---------------------------------------------------------------------------


@register(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, 'Customer#(\\d+)', 1) AS digits,
           CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT) AS id_num,
           split_part(c_name, '#', 1) AS prefix,
           translate(c_name, '#', '_') AS underscored,
           concat_ws('|', c_mktsegment, c_name) AS tag,
           CAST(length(c_name) AS BIGINT) AS name_len,
           lower(c_mktsegment) AS seg_lower,
           upper(split_part(c_name, '#', 1)) AS prefix_upper,
           trim(concat(' ', c_mktsegment, ' ')) AS seg_trim
    FROM customer
    """,
    description="string function catalog: regexp_extract, substring_index, translate, "
    "concat_ws, length, case ops (§2.8; Grounding.scala:148-150, GeneCode.scala:22-35)",
    tags=("scalar",),
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    digits = F.regexp_extract("c_name", r"Customer#(\d+)", 1)
    return c.select(
        "c_custkey",
        digits.alias("digits"),
        digits.cast("bigint").alias("id_num"),
        F.substring_index("c_name", "#", 1).alias("prefix"),
        F.translate("c_name", "#", "_").alias("underscored"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("tag"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.upper(F.substring_index("c_name", "#", 1)).alias("prefix_upper"),
        F.trim(F.concat(F.lit(" "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
    )


@register(
    "q_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           MAX(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    description="skew-safe two-phase salted aggregation — semantics-preserving, so the "
    "oracle is the plain groupBy (explicit fallback beside AQE skew handling)",
    tags=("agg", "skew"),
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.skew import salted_aggregate

    li = table(spark, sf_dir, "lineitem")
    return salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "cnt": (F.count(F.lit(1)), F.sum("cnt")),
            "total_qty": (F.sum(dec2("l_quantity")), dbl(F.sum("total_qty"))),
            "max_price": (F.max("l_extendedprice"), F.max("max_price")),
        },
    )


@register(
    "q_file_provenance",
    oracle="""
    SELECT 'documents.parquet' AS file_name, COUNT(*) AS cnt FROM documents
    """,
    description="input_file_name provenance column (S11; Grounding.scala:340)",
    tags=("scan",),
)
def q_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.substring_index(F.input_file_name(), "/", -1).alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q_selectexpr_fragments",
    oracle="""
    SELECT c_custkey,
           ifnull(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           trim(translate(lower(c_name), '#', ' ')) AS clean_name
    FROM customer
    """,
    description="selectExpr with SQL fragments (P2; PrepareAdverseEventData.scala:18-31 "
    "ifnull/trim/translate idiom)",
    tags=("projection", "scalar"),
)
def q_selectexpr_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        "ifnull(nullif(c_mktsegment, 'BUILDING'), 'OTHER') as seg_or_other",
        "trim(translate(lower(c_name), '#', ' ')) as clean_name",
    )


@register(
    "q_approx_distinct",
    oracle=None,  # HLL sketches differ across engines by design (A5 preserves
    # the approximation; exact-distinct twins live in q_stats_per_group)
    description="approx_count_distinct per group (A5; PrepareSummaryStatistics.scala:38-46, "
    "Grounding.scala:198-200 — approximation intentionally preserved)",
    tags=("agg", "approx"),
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.05).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
    )


@register(
    "q_date_parts",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           MIN(CAST(o_orderdate AS DATE)) AS first_day
    FROM orders GROUP BY yr, mo
    """,
    description="date part extraction + grouping (§2.8 date/time; Grounding.scala:349-354)",
    tags=("scalar", "agg"),
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dbl(F.sum(dec2("o_totalprice"))).alias("total"),
            F.min(F.col("o_orderdate").cast("date")).alias("first_day"),
        )
    )


@register(
    "q_math_funcs",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(SUM(ln(1 + l_discount)) AS DOUBLE), 6) AS sum_log1p_disc,
           ROUND(CAST(SUM(sqrt(l_quantity)) AS DOUBLE), 6) AS sum_sqrt_qty,
           CAST(SUM(CAST(pow(l_quantity, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty_sq
    FROM lineitem GROUP BY l_returnflag
    """,
    description="math catalog: log1p, sqrt, pow (§2.8; Search.scala:290,425,558, "
    "PrepareForMontecarlo.scala:30-33). Transcendental outputs rounded per convention.",
    tags=("scalar", "agg"),
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.log1p("l_discount")), 6).alias("sum_log1p_disc"),
        F.round(F.sum(F.sqrt("l_quantity")), 6).alias("sum_sqrt_qty"),
        dbl(F.sum(F.pow("l_quantity", F.lit(2)).cast("decimal(18,2)"))).alias("sum_qty_sq"),
    )


@register(
    "q_harmonic_scores",
    oracle="""
    SELECT n_name, ROUND(SUM(bal / (rn * rn)), 6) AS harmonic
    FROM (SELECT n.n_name, CAST(c.c_acctbal AS DOUBLE) AS bal,
                 CAST(ROW_NUMBER() OVER (PARTITION BY n.n_name
                                         ORDER BY c.c_acctbal DESC) AS DOUBLE) AS rn
          FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
    GROUP BY n_name
    """,
    description="harmonic-sum scoring via sort_array + zip_with + aggregate, pure Catalyst "
    "(Helpers.scala:262-267 harmonicFn; Processing.scala:18-23)",
    tags=("array", "agg"),
)
def q_harmonic_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.collect_list(F.col("c_acctbal").cast("double")).alias("bals"))
        .select("n_name", harmonic_fn("bals", precision=6).alias("harmonic"))
    )


@register(
    "q_hash_sample",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, l_quantity,
             ((strpos('0123456789abcdef',
                      substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                                 || CAST(l_linenumber AS VARCHAR)), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef',
                        substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                                   || CAST(l_linenumber AS VARCHAR)), 2, 1)) - 1))
             / 256.0 AS u
      FROM lineitem)
    SELECT l_returnflag,
           COUNT(*) AS n_sampled,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sampled_qty
    FROM s WHERE u < l_quantity / 100.0
    GROUP BY l_returnflag
    """,
    description="deterministic weighted Bernoulli sampling by content hash (keep-prob "
    "= l_quantity/100): reproducible on any cluster size / engine, unlike seeded "
    "df.sample whose result depends on partitioning; pure map-side filter",
    tags=("sampling", "filter"),
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.sampling import hash_bernoulli_sample

    li = table(spark, sf_dir, "lineitem")
    sampled = hash_bernoulli_sample(
        li, ["l_orderkey", "l_linenumber"], F.col("l_quantity") / 100.0
    )
    return sampled.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        dbl(F.sum(dec2("l_quantity"))).alias("sampled_qty"),
    )


# ---------------------------------------------------------------------------
# SQL surface: correlated subqueries (Catalyst decorrelation). The engine's
# spark.sql() entry point accepts the same ANSI text an analyst would run on
# the reference warehouse; Catalyst rewrites EXISTS to a left-semi hash join
# and a correlated scalar aggregate to a grouped join — no per-row
# re-execution (the plan is asserted shuffle-join-shaped in tests).
# ---------------------------------------------------------------------------

_EXISTS_SQL = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
"""


@register(
    "q_exists_subquery",
    oracle=_EXISTS_SQL,
    description="correlated EXISTS subquery (TPC-H Q4 shape) through the "
    "spark.sql SQL surface — Catalyst decorrelates to a left-semi join; "
    "identical ANSI text runs on both engines",
    tags=("relational", "sql", "subquery"),
)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_EXISTS_SQL)


# decimal-sum average (sum exact, one final division) so the correlated
# threshold comparison cannot flip with aggregation order on either engine
_SCALAR_SUBQ_SQL = """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6)
               AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size < 15
      AND l.l_quantity < (SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                                 / (5 * COUNT(*))
                          FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
"""


@register(
    "q_scalar_subquery",
    oracle=_SCALAR_SUBQ_SQL,
    description="correlated scalar aggregate subquery (TPC-H Q17 shape: "
    "small-quantity orders below 0.2x the part's average) through spark.sql — "
    "Catalyst decorrelates to a grouped aggregate join, not per-row re-execution",
    tags=("relational", "sql", "subquery"),
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_SCALAR_SUBQ_SQL)


_LATERAL_SQL = """
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2) t
"""


@register(
    "q_lateral_topk",
    oracle=_LATERAL_SQL,
    description="LATERAL correlated subquery (per-nation top-2 customers by "
    "balance) through spark.sql — Catalyst decorrelates the ORDER BY/LIMIT "
    "lateral into a WindowGroupLimit (partial top-k before the shuffle) plus "
    "one broadcast join, NOT per-outer-row re-execution; identical ANSI text "
    "runs on both engines",
    tags=("relational", "sql", "subquery", "lateral"),
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# TPC-H classic shapes beyond Q3/Q4/Q17 (already covered by q_join_multi /
# q_exists_subquery / q_scalar_subquery): local-supplier volume (Q5),
# returned-item ranking (Q10), promotion revenue share (Q14). Engine
# extensions for relational completeness — the reference has no multi-dim
# star joins, but an analyst moving a warehouse onto this engine does.
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q5",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY n.n_name
    """,
    description="TPC-H Q5 (local supplier volume): 6-table star join with the "
    "customer-nation = supplier-nation locality predicate; all dims broadcast, "
    "the only shuffle is the fact-fact orderkey join + final nation rollup; "
    "decimal revenue",
    tags=("join", "agg", "tpch"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    one_minus_disc = (
        F.expr(_DEC_ONE) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(4,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dbl(F.sum(dec2("l_extendedprice") * one_minus_disc)).alias("revenue"))
    )


@register(
    "q_tpch_q10",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           CAST(MAX(c.c_acctbal) AS DOUBLE) AS c_acctbal,
           MAX(n.n_name) AS n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1996-04-01'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    description="TPC-H Q10 (returned-item ranking): quarter of orders x "
    "returned lines, per-customer lost revenue, global top-20 — plans as "
    "TakeOrderedAndProject over a broadcast-dim star join; returnflag filter "
    "pushed to the lineitem scan",
    tags=("join", "agg", "topk", "tpch"),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    one_minus_disc = (
        F.expr(_DEC_ONE) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(4,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            dbl(F.sum(dec2("l_extendedprice") * one_minus_disc)).alias("revenue"),
            F.max("c_acctbal").cast("double").alias("c_acctbal"),
            F.max("n_name").alias("n_name"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_q14",
    oracle="""
    WITH l AS (
      SELECT CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * CAST(CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
                  AS DECIMAL(28,4)) AS rev,
             CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS is_promo
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-09-01'
        AND CAST(l.l_shipdate AS DATE) < DATE '1996-10-01')
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN is_promo = 1 THEN rev ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 6) AS promo_revenue_pct,
           COUNT(*) AS n_lines
    FROM l
    """,
    description="TPC-H Q14 (promotion effect): one month of lineitem x part, "
    "conditional revenue share — part joins broadcast, ship-date range pushed "
    "to the scan, both revenue sums ride one decimal aggregation pass",
    tags=("join", "agg", "tpch"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-09-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-10-01").cast("date"))
    )
    p = table(spark, sf_dir, "part")
    one_minus_disc = (
        F.expr(_DEC_ONE) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(4,2)")
    rev = (dec2("l_extendedprice") * one_minus_disc).cast("decimal(28,4)")
    zero = F.lit(0).cast("decimal(28,4)")
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(zero)
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        rev.alias("rev"), promo.alias("promo_rev")
    )
    return j.agg(
        F.round(
            F.lit(100.0) * F.sum("promo_rev").cast("double")
            / F.sum("rev").cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def _profile_oracle() -> str:
    cols = [
        ("c_custkey", True), ("c_name", False), ("c_nationkey", True),
        ("c_acctbal", True), ("c_mktsegment", False),
    ]
    branches = []
    for c, numeric in cols:
        mn = f"CAST(MIN({c}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(MAX({c}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        branches.append(
            f"SELECT '{c}' AS column, COUNT(*) AS n_rows, "
            f"COUNT(*) - COUNT({c}) AS n_nulls, "
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            f"{mn} AS min_val, {mx} AS max_val FROM customer"
        )
    return " UNION ALL ".join(branches)


@register(
    "q_profile_table",
    oracle=_profile_oracle(),
    description="single-pass table profiling (per-column nulls, exact "
    "distincts, numeric min/max) — ONE aggregation over the data computes "
    "every column's metrics, then stack() unpivots the wide row; numeric "
    "bounds stay typed DOUBLE (never stringified — float formatting is not "
    "engine-portable); the oracle is the naive one-scan-per-column UNION",
    tags=("relational", "profiling"),
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.profile import profile_table

    return profile_table(table(spark, sf_dir, "customer"))


@register(
    "q_item_cooccur",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (SELECT l_partkey, COUNT(*) AS n FROM b GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2, COUNT(*) AS co
      FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
                        AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2),
    sym AS (SELECT p1 AS p, p2 AS q, co FROM pairs
            UNION ALL SELECT p2, p1, co FROM pairs),
    scored AS (
      SELECT s.p, s.q, s.co,
             ROUND(CAST(s.co AS DOUBLE)
                   / sqrt(CAST(dp.n AS DOUBLE) * CAST(dq.n AS DOUBLE)), 6) AS cosine
      FROM sym s JOIN deg dp ON s.p = dp.l_partkey JOIN deg dq ON s.q = dq.l_partkey
      WHERE s.co >= 2)
    SELECT p AS part, rk, q AS similar_part, co AS n_cobaskets, cosine
    FROM (SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY p ORDER BY cosine DESC, co DESC, q) AS BIGINT) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    description="item-item co-purchase similarity (the collaborative-"
    "filtering precompute): distinct (order, part) baskets self-joined on "
    "the order key — pair fan-out quadratic in BASKET size (bounded ~7 in "
    "TPC-H, never corpus size) — cosine-normalized by item degrees "
    "(broadcast), min-support filter BEFORE the degree joins, top-3 "
    "neighbors per item by window rank; the 'customers also bought' "
    "preprocessing at 100 TB. cosine = co/sqrt(n_p*n_q) is pure IEEE "
    "mul/div/sqrt — deterministic without scaffolding",
    tags=("join", "agg", "recommendation"),
)
def q_item_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    deg = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = b.alias("a")
    c = b.alias("c")
    pairs = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("c.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("co"))
        .where(F.col("co") >= 2)
    )
    sym = pairs.select(
        F.col("p1").alias("p"), F.col("p2").alias("q"), "co"
    ).unionByName(pairs.select(F.col("p2").alias("p"), F.col("p1").alias("q"), "co"))
    dp = deg.select(F.col("l_partkey").alias("p"), F.col("n").alias("np"))
    dq = deg.select(F.col("l_partkey").alias("q"), F.col("n").alias("nq"))
    scored = (
        sym.join(F.broadcast(dp), "p")
        .join(F.broadcast(dq), "q")
        .select(
            "p", "q", "co",
            F.round(
                F.col("co").cast("double")
                / F.sqrt(F.col("np").cast("double") * F.col("nq").cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("p").orderBy(F.desc("cosine"), F.desc("co"), "q")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 3)
        .select(
            F.col("p").alias("part"), "rk", F.col("q").alias("similar_part"),
            F.col("co").alias("n_cobaskets"), "cosine",
        )
    )


# Two deterministic "snapshots" derived from orders: v2 drops ~1/16 of rows
# by content hash and bumps the price of another ~1/16 — the
# reconciliation shapes (removed / changed / unchanged) with exact parity
# on both engines (md5-hex bucket arithmetic, no RNG).
_SNAP_BUCKET = (
    "(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1)"
)


@register(
    "q_snapshot_diff",
    oracle=f"""
    WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN {_SNAP_BUCKET} = 1
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            + CAST(1 AS DECIMAL(18,2)) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE {_SNAP_BUCKET} <> 0),
    j AS (
      SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS k,
             v1.o_orderkey IS NULL AS added,
             v2.o_orderkey IS NULL AS removed,
             v1.o_orderkey IS NOT NULL AND v2.o_orderkey IS NOT NULL
               AND v1.o_totalprice <> v2.o_totalprice AS changed
      FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
    SELECT CAST(COUNT(*) FILTER (WHERE added) AS BIGINT) AS n_added,
           CAST(COUNT(*) FILTER (WHERE removed) AS BIGINT) AS n_removed,
           CAST(COUNT(*) FILTER (WHERE changed) AS BIGINT) AS n_changed,
           CAST(COUNT(*) FILTER (WHERE NOT added AND NOT removed AND NOT changed)
                AS BIGINT) AS n_unchanged
    FROM j
    """,
    description="snapshot diff / data reconciliation (the CDC-validation "
    "primitive: classify every key across two table versions as added / "
    "removed / changed / unchanged): ONE key-keyed full-outer join + one "
    "count pass — never row-by-row comparison loops; the second snapshot is "
    "derived deterministically from the first by content-hash buckets so "
    "both engines reconcile the identical pair of versions. The per-column "
    "change predicate generalizes to a struct comparison at width",
    tags=("join", "reconciliation", "relational"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bucket = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1),
        )
        - 1
    )
    v2 = o.where(bucket != 0).select(
        "o_orderkey",
        F.when(
            bucket == 1,
            (F.col("o_totalprice").cast("decimal(18,2)")
             + F.lit(1).cast("decimal(18,2)")).cast("double"),
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    v1 = o.alias("v1")
    v2 = v2.alias("v2")
    j = v1.join(v2, F.col("v1.o_orderkey") == F.col("v2.o_orderkey"), "full_outer")
    added = F.col("v1.o_orderkey").isNull()
    removed = F.col("v2.o_orderkey").isNull()
    changed = (
        F.col("v1.o_orderkey").isNotNull()
        & F.col("v2.o_orderkey").isNotNull()
        & (F.col("v1.o_totalprice") != F.col("v2.o_totalprice"))
    )
    return j.agg(
        F.sum(added.cast("int")).cast("bigint").alias("n_added"),
        F.sum(removed.cast("int")).cast("bigint").alias("n_removed"),
        F.sum(changed.cast("int")).cast("bigint").alias("n_changed"),
        F.sum((~added & ~removed & ~changed).cast("int")).cast("bigint").alias("n_unchanged"),
    )


@register(
    "q_tpch_q3",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           CAST(MAX(o.o_orderdate) AS DATE) AS o_orderdate,
           MAX(o.o_orderpriority) AS o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-06-01'
      AND CAST(l.l_shipdate AS DATE) > DATE '1997-06-01'
    GROUP BY l.l_orderkey
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    description="TPC-H Q3 (shipping priority, o_orderpriority standing in for "
    "the -ish schema's missing o_shippriority): segment-filtered customer "
    "broadcast onto the orders-lineitem fact join, per-order revenue rollup, "
    "global top-10 as TakeOrderedAndProject; both date filters pushed to scans",
    tags=("join", "agg", "topk", "tpch"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").cast("date") < F.lit("1997-06-01").cast("date")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").cast("date") > F.lit("1997-06-01").cast("date")
    )
    one_minus_disc = (
        F.expr(_DEC_ONE) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(4,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            dbl(F.sum(dec2("l_extendedprice") * one_minus_disc)).alias("revenue"),
            F.max(F.col("o_orderdate").cast("date")).alias("o_orderdate"),
            F.max("o_orderpriority").alias("o_orderpriority"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q_tpch_q18",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    description="TPC-H Q18 (large-volume customers): HAVING-filtered orderkey "
    "set re-joined to the fact as a LEFT-SEMI (the IN-subquery decorrelates; "
    "the big-order set is small so AQE broadcasts it), customer dim broadcast, "
    "top-100 as TakeOrderedAndProject with a unique orderkey tiebreak",
    tags=("join", "agg", "subquery", "topk", "tpch"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec2("l_quantity")).alias("q"))
        .where(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(dbl(F.sum(dec2("l_quantity"))).alias("sum_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H round-5 breadth: Q7 volume shipping, Q8 market share, Q13 customer
# order distribution, Q15 top supplier, Q19 disjunctive-predicate revenue.
# The -ish schema has no partsupp/commitdate/shipinstruct, so Q2/Q4/Q9/Q11/
# Q12/Q16/Q20 stay out of reach and Q19 drops its shipmode/shipinstruct
# conjuncts (brand/size/quantity disjunction preserved — the part that
# stresses the optimizer). Nation pair and target nation are chosen from
# nations that actually have suppliers in the synthetic data.
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM CAST(l.l_shipdate AS DATE)) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND CAST(l.l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    GROUP BY n1.n_name, n2.n_name, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    description="TPC-H Q7 (volume shipping): two-nation bilateral trade by "
    "ship year — the nation pair disjunction lands AFTER both nation joins "
    "(each broadcast), so the fact side is filtered by two broadcast semi "
    "probes rather than a cross-filter; year extraction from the pushed "
    "ship-date range; decimal revenue",
    tags=("join", "agg", "tpch"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").cast("date").between(
            F.lit("1996-01-01").cast("date"), F.lit("1997-12-31").cast("date")
        )
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    one_minus_disc = (
        F.expr(_DEC_ONE) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(4,2)")
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).cast("bigint").alias("l_year"),
        )
        .agg(dbl(F.sum(dec2("l_extendedprice") * one_minus_disc)).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q_tpch_q8",
    oracle="""
    WITH v AS (
      SELECT CAST(EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) AS BIGINT) AS o_year,
             CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * CAST(CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
                  AS DECIMAL(28,4)) AS rev,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31')
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_18' THEN rev ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_lines
    FROM v GROUP BY o_year ORDER BY o_year
    """,
    description="TPC-H Q8 (national market share): 8-table snowflake — part "
    "type + customer-region filters broadcast onto the fact, supplier nation "
    "drives the conditional numerator; share = two exact decimal sums cast to "
    "double, one IEEE division (no rounding scaffolding needed)",
    tags=("join", "agg", "tpch"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").cast("date").between(
            F.lit("1996-01-01").cast("date"), F.lit("1997-12-31").cast("date")
        )
    )
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("c_regionkey")
    )
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    one_minus_disc = (
        F.expr(_DEC_ONE) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(4,2)")
    rev = (dec2("l_extendedprice") * one_minus_disc).cast("decimal(28,4)")
    zero = F.lit(0).cast("decimal(28,4)")
    v = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("c_regionkey") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .select(
            F.year(F.col("o_orderdate").cast("date")).cast("bigint").alias("o_year"),
            rev.alias("rev"),
            F.col("supp_nation"),
        )
    )
    return (
        v.groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_18", F.col("rev")).otherwise(zero)
                ).cast("double")
                / F.sum("rev").cast("double")
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


@register(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    description="TPC-H Q13 (customer order distribution): left-outer join so "
    "zero-order customers survive into the c_count=0 bucket, double "
    "aggregation (per-customer count, then histogram of counts) — the second "
    "groupBy keys on a tiny domain so AQE coalesces its shuffle to a few "
    "partitions",
    tags=("join", "agg", "tpch"),
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS total_revenue
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    description="TPC-H Q15 (top supplier): quarter revenue per supplier, "
    "argmax via an uncorrelated scalar subquery — the revenue CTE is computed "
    "once and reused for both the probe and the MAX (exchange reuse), and the "
    "equality compares exact decimals so ties are engine-portable",
    tags=("join", "agg", "subquery", "tpch"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    one_minus_disc = (
        F.expr(_DEC_ONE) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(4,2)")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(dec2("l_extendedprice") * one_minus_disc).alias("total_revenue")
    )
    best = revenue.agg(F.max("total_revenue").alias("best_rev"))
    return (
        revenue.join(F.broadcast(best), F.col("total_revenue") == F.col("best_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "q_tpch_q19",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * CAST(CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 21)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40)
    """,
    description="TPC-H Q19 (discounted revenue, shipmode/shipinstruct "
    "conjuncts dropped — not in the -ish schema): three-branch disjunction "
    "mixing part and lineitem columns — the partkey equi-join stays a "
    "broadcast hash join and the OR lands as a post-join filter; the "
    "brand-set union (Brand#12|23|4) is derivable for part-side pre-pruning "
    "but Catalyst already prunes via the broadcast side",
    tags=("join", "agg", "tpch"),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    one_minus_disc = (
        F.expr(_DEC_ONE) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(4,2)")
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 35) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(branch)
        .agg(
            dbl(F.sum(dec2("l_extendedprice") * one_minus_disc)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_tpch_q22",
    oracle="""
    WITH pos AS (SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS bal, c_custkey, c_nationkey
                 FROM customer WHERE c_acctbal > 0.0),
    avg_bal AS (SELECT CAST(SUM(bal) AS DOUBLE) / COUNT(*) AS a FROM pos),
    cand AS (
      SELECT c_custkey, c_nationkey % 5 AS cntry_band,
             CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer WHERE CAST(c_acctbal AS DOUBLE) > (SELECT a FROM avg_bal)),
    lonely AS (
      SELECT * FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    SELECT cntry_band, COUNT(*) AS numcust,
           CAST(SUM(bal) AS DOUBLE) AS totacctbal
    FROM lonely GROUP BY cntry_band ORDER BY cntry_band
    """,
    description="TPC-H Q22 (global sales opportunity; nationkey band stands "
    "in for the missing phone country code): above-average positive-balance "
    "customers with NO orders — 1-row broadcast scalar threshold (decimal "
    "sum, one IEEE division), LEFT-ANTI join against orders, tiny band "
    "rollup; the anti join's build side is the filtered candidate set",
    tags=("join", "agg", "subquery", "tpch"),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    pos = c.where(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg(
        (F.sum(dec2("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("a")
    )
    cand = (
        c.crossJoin(F.broadcast(avg_bal))  # 1-row scalar frame
        .where(F.col("c_acctbal").cast("double") > F.col("a"))
        .select(
            "c_custkey",
            (F.col("c_nationkey") % 5).alias("cntry_band"),
            dec2("c_acctbal").alias("bal"),
        )
    )
    lonely = cand.join(o, cand.c_custkey == o.o_custkey, "left_anti")
    return (
        lonely.groupBy("cntry_band")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dbl(F.sum("bal")).alias("totacctbal"),
        )
        .orderBy("cntry_band")
    )


@register(
    "q_window_distribution",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CAST(l_quantity AS DOUBLE) AS qty,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           CAST(nth_value(l_quantity, 2) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity, l_orderkey, l_linenumber
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE)
               AS second_qty
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber)
    """,
    description="analytic distribution functions (percent_rank, cume_dist, "
    "nth_value over an unbounded frame) with a fully unique ordering key so "
    "every rank is engine-portable; percent_rank's (r-1)/(N-1) and "
    "cume_dist's c/N are single IEEE divisions of exact integers — "
    "deterministic without rounding scaffolding",
    tags=("window", "relational"),
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity", "l_orderkey", "l_linenumber")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_quantity").cast("double").alias("qty"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.expr("nth_value(l_quantity, 2)").over(wfull).cast("double").alias("second_qty"),
    )


@register(
    "q_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 4 <> 0),
    changes AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 8 = 0 THEN 'D' ELSE 'U' END AS op,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST(1 AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 2 = 0),
    merged AS (
      SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS k,
             CASE WHEN c.op = 'U' THEN c.price ELSE b.price END AS price,
             CASE WHEN c.o_orderkey IS NULL THEN 'kept'
                  WHEN c.op = 'D' THEN 'deleted'
                  WHEN b.o_orderkey IS NULL THEN 'inserted'
                  ELSE 'updated' END AS outcome
      FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey)
    SELECT outcome, COUNT(*) AS n,
           CAST(SUM(CASE WHEN outcome <> 'deleted' THEN price END) AS DOUBLE) AS total_price
    FROM merged GROUP BY outcome ORDER BY outcome
    """,
    description="MERGE INTO semantics as one full-outer join (the batch "
    "CDC-apply / upsert primitive): matched+U -> update, matched+D -> "
    "delete, unmatched change -> insert, untouched base -> keep — audited "
    "by outcome with exact decimal totals; ONE key-partitioned shuffle "
    "joins base and changes, the same plan a Delta/Iceberg MERGE lowers to",
    tags=("relational", "join", "merge"),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    base = o.where(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias("bk"), dec2("o_totalprice").alias("bprice")
    )
    changes = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("ck"),
        F.when(F.col("o_orderkey") % 8 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        (dec2("o_totalprice") + F.lit(1).cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("cprice"),
    )
    merged = base.join(changes, F.col("bk") == F.col("ck"), "full_outer").select(
        F.when(F.col("op") == "U", F.col("cprice")).otherwise(F.col("bprice")).alias("price"),
        F.when(F.col("ck").isNull(), "kept")
        .when(F.col("op") == "D", "deleted")
        .when(F.col("bk").isNull(), "inserted")
        .otherwise("updated")
        .alias("outcome"),
    )
    return (
        merged.groupBy("outcome")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("outcome") != "deleted", F.col("price")))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("outcome")
    )


@register(
    "q_dq_checks",
    oracle="""
    SELECT 'orders_custkey_not_null' AS check_name,
           (SELECT COUNT(*) FROM orders) AS n_rows,
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS n_failed
    UNION ALL
    SELECT 'orders_orderkey_unique',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
    UNION ALL
    SELECT 'orders_custkey_references_customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'orders_status_accepted_values',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
    UNION ALL
    SELECT 'orders_totalprice_positive',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0.0)
    UNION ALL
    SELECT 'lineitem_orderkey_references_orders',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    ORDER BY check_name
    """,
    description="data-quality expectation suite (the dbt-tests / "
    "Great-Expectations shape): not-null, uniqueness, referential "
    "integrity (anti-join probes), accepted values, and range checks as "
    "ONE relational result — each check a (name, n_rows, n_failed) row; "
    "the FK probes are left-anti joins with the dimension broadcast, the "
    "uniqueness check one distinct aggregation; at scale every check "
    "shares the same base scans via exchange reuse",
    tags=("relational", "quality", "composite"),
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")

    def row(name: str, n_rows: DataFrame, n_failed: DataFrame) -> DataFrame:
        a = n_rows.select(F.count(F.lit(1)).alias("n_rows"))
        b = n_failed
        return (
            a.crossJoin(F.broadcast(b))
            .select(F.lit(name).alias("check_name"), "n_rows", "n_failed")
        )

    not_null = row(
        "orders_custkey_not_null",
        o,
        o.agg(F.sum(F.col("o_custkey").isNull().cast("int")).cast("bigint").alias("n_failed")),
    )
    unique = row(
        "orders_orderkey_unique",
        o,
        o.agg((F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_failed")),
    )
    fk_cust = row(
        "orders_custkey_references_customer",
        o,
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_failed")),
    )
    accepted = row(
        "orders_status_accepted_values",
        o,
        o.agg(
            F.sum((~F.col("o_orderstatus").isin("F", "O", "P")).cast("int"))
            .cast("bigint")
            .alias("n_failed")
        ),
    )
    positive = row(
        "orders_totalprice_positive",
        o,
        o.agg(F.sum((F.col("o_totalprice") <= 0.0).cast("int")).cast("bigint").alias("n_failed")),
    )
    fk_li = row(
        "lineitem_orderkey_references_orders",
        li,
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_failed")),
    )
    return (
        not_null.unionAll(unique)
        .unionAll(fk_cust)
        .unionAll(accepted)
        .unionAll(positive)
        .unionAll(fk_li)
        .orderBy("check_name")
    )


@register(
    "q_skyline_2d",
    oracle="""
    WITH p AS (
      SELECT p_partkey, CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents,
             CAST(p_size AS BIGINT) AS size
      FROM part)
    SELECT a.p_partkey, a.cents, a.size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.cents <= a.cents AND b.size >= a.size
        AND (b.cents < a.cents OR b.size > a.size))
    ORDER BY a.cents, a.size DESC, a.p_partkey
    """,
    description="2-D skyline / Pareto frontier (cheapest-for-the-size "
    "parts), computed band-then-merge: a LOCAL skyline per price band "
    "(parallel windows keyed on the band — the global skyline is always a "
    "subset of local skylines) followed by the same two window passes over "
    "the small survivor set — so the only single-partition stage sees "
    "survivors, not the corpus; survive iff size exceeds the running max "
    "over all STRICTLY cheaper rows (integer-cents RANGE frame ending at "
    "-1) and equals the max within the same price; the oracle is the "
    "independent quadratic NOT-EXISTS dominance definition",
    tags=("relational", "window", "skyline"),
)
def q_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
        F.col("p_size").cast("bigint").alias("size"),
    )

    def skyline_pass(df, extra_part, cols):
        w_strict = (
            Window.partitionBy(*extra_part)
            .orderBy("cents")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w_same = Window.partitionBy(*extra_part, "cents")
        scored = df.select(
            *cols,
            *extra_part,
            F.max("size").over(w_strict).alias("prev_max"),
            F.max("size").over(w_same).alias("same_max"),
        )
        return scored.where(
            (F.col("prev_max").isNull() | (F.col("size") > F.col("prev_max")))
            & (F.col("size") == F.col("same_max"))
        ).select(*cols)

    local = skyline_pass(
        p.withColumn("band", F.expr("cents div 1000")),
        ["band"],
        ["p_partkey", "cents", "size"],
    )
    # Merge decision over DISTINCT (cents, size) pairs only: ties at the
    # same point collapse to one row, so the single-partition merge frame
    # is bounded by the distinct-pair cardinality (not tie-inflated — the
    # round-7 VERDICT caveat) and the plan classifier sees the reducing
    # aggregate. Tied part keys are recovered by a broadcast semi join
    # (survivor set is the frontier — tiny by construction).
    pairs = local.select("cents", "size").distinct()
    surv = skyline_pass(pairs, [], ["cents", "size"])
    return (
        local.join(F.broadcast(surv), ["cents", "size"], "left_semi")
        .select("p_partkey", "cents", "size")
        .orderBy("cents", F.desc("size"), "p_partkey")
    )


@register(
    "q_item_similarity",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (SELECT l_partkey, COUNT(*) AS n FROM b GROUP BY l_partkey),
    co AS (
      SELECT x.l_partkey AS item_a, y.l_partkey AS item_b, COUNT(*) AS co
      FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY item_a, item_b),
    sim AS (
      SELECT item_a, item_b, co,
             ROUND(CAST(co AS DOUBLE) / sqrt(CAST(da.n AS DOUBLE) * CAST(db.n AS DOUBLE)), 6) AS cos_sim
      FROM co JOIN deg da ON co.item_a = da.l_partkey
              JOIN deg db ON co.item_b = db.l_partkey)
    SELECT item_a, rn, item_b, co, cos_sim
    FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY item_a
                                            ORDER BY cos_sim DESC, item_b) AS BIGINT) AS rn
          FROM sim)
    WHERE rn <= 3
    ORDER BY item_a, rn
    """,
    description="item-item collaborative-filtering similarity ('customers "
    "also bought'): basket co-occurrence normalized by sqrt(deg_a*deg_b) — "
    "the bipartite-projection cosine; pair fan-out is per-basket (quadratic "
    "in basket size, not corpus), degree tables broadcast, per-item top-3 "
    "with id ties; sqrt and one division are IEEE-exact, ROUND(6) applied "
    "identically",
    tags=("relational", "join", "recommendation"),
)
def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-11 (§2.4 remove shuffles): baskets come from ONE
    # order-keyed collect_set (sorted) instead of a global
    # (order, part) distinct PLUS a two-sided self-join on the order key
    # — three exchanges of the 600k-row frame collapse into one, and the
    # in-basket pair fan-out is the codegen posexplode+slice expansion
    # (quadratic in basket size only, exactly like the oracle's
    # x.l_partkey < y.l_partkey self-join; each unordered pair appears
    # once per containing order, so the pair counts are identical).
    li = table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
    )
    deg = (
        baskets.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ex = baskets.select("items", F.posexplode("items").alias("i", "item_a"))
    co = (
        ex.select(
            "item_a",
            F.explode(F.slice("items", F.col("i") + 2, F.size("items"))).alias(
                "item_b"
            ),
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    da = deg.select(F.col("l_partkey").alias("item_a"), F.col("n").alias("na"))
    db = deg.select(F.col("l_partkey").alias("item_b"), F.col("n").alias("nb"))
    sim = (
        co.join(F.broadcast(da), "item_a")
        .join(F.broadcast(db), "item_b")
        .select(
            "item_a",
            "item_b",
            "co",
            F.round(
                F.col("co").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("item_a").orderBy(F.desc("cos_sim"), "item_b")
    return (
        sim.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= 3)
        .select("item_a", "rn", "item_b", "co", "cos_sim")
        .orderBy("item_a", "rn")
    )


@register(
    "q_rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_order,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey,
             NTILE(5) OVER (ORDER BY last_order DESC, o_custkey) AS r,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f,
             NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m,
             monetary
      FROM per_cust)
    SELECT r, f, m, COUNT(*) AS n_customers,
           CAST(SUM(monetary) AS DOUBLE) AS total_monetary
    FROM scored GROUP BY r, f, m
    ORDER BY r, f, m
    """,
    description="RFM segmentation (recency/frequency/monetary quintiles — "
    "the classic CRM scoring): per-customer rollup, three NTILE(5) "
    "rankings each with a unique custkey tiebreak (NTILE boundary "
    "placement is deterministic only under a total order), segment-level "
    "counts + decimal revenue; the single-partition NTILE carries the "
    "documented W2 caveat — at scale, percentile-threshold banding from "
    "approx quantiles replaces the global sort",
    tags=("relational", "window", "segmentation"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(dec2("o_totalprice")).alias("monetary"),
    )
    scored = per_cust.select(
        "o_custkey",
        "monetary",
        F.ntile(5).over(Window.orderBy(F.desc("last_order"), "o_custkey")).alias("r"),
        F.ntile(5).over(Window.orderBy(F.desc("frequency"), "o_custkey")).alias("f"),
        F.ntile(5).over(Window.orderBy(F.desc("monetary"), "o_custkey")).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dbl(F.sum("monetary")).alias("total_monetary"),
        )
        .orderBy("r", "f", "m")
    )


@register(
    "q_gini",
    oracle="""
    WITH x AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT spend, ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM x)
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           ROUND((2.0 * CAST(SUM(CAST(i AS DECIMAL(12,0)) * CAST(spend AS DECIMAL(18,2))) AS DOUBLE))
                 / (MAX(n) * CAST(SUM(spend) AS DOUBLE))
                 - (CAST(MAX(n) AS DOUBLE) + 1.0) / MAX(n), 6) AS gini
    FROM ranked
    """,
    description="Gini coefficient of customer spend concentration (the "
    "Lorenz-curve inequality measure): G = 2*sum(i*x_i)/(n*sum(x)) - "
    "(n+1)/n over rank-ordered spend — rank weights are integers, both "
    "sums ride DECIMAL, the final expression is a fixed IEEE chain + "
    "ROUND(6); the ranking needs a total order (custkey tiebreak) or ties "
    "make G itself ill-defined",
    tags=("relational", "window", "stats"),
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    x = o.groupBy("o_custkey").agg(F.sum(dec2("o_totalprice")).alias("spend"))
    wr = Window.orderBy("spend", "o_custkey")
    ranked = x.select(
        "spend",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.round(
            # (12,0)x(18,2) stays inside precision 38 — the product is EXACT
            # (wide-decimal products get engine-divergent scale reduction)
            (F.lit(2.0) * F.sum(
                F.col("i").cast("decimal(12,0)") * F.col("spend").cast("decimal(18,2)")
            ).cast("double"))
            / (F.max("n") * F.sum("spend").cast("double"))
            - (F.max("n").cast("double") + F.lit(1.0)) / F.max("n"),
            6,
        ).alias("gini"),
    )


# --- Recursive CTE (Spark 4 WITH RECURSIVE) --------------------------------

# Binary-tree ancestor walk over suppliers: node k's parent is k div 2, so
# every supplier contributes one row per level until the walk reaches the
# root. Exercises Spark 4's recursive CTE execution (UNION ALL recursion,
# SPARK-24497) through the plain SQL surface; DuckDB runs the same shape.
_RECURSIVE_SPARK = """
    WITH RECURSIVE walk(suppkey, node, depth) AS (
      SELECT s_suppkey, CAST(s_suppkey AS BIGINT), 0 FROM supplier
      UNION ALL
      SELECT suppkey, node div 2, depth + 1 FROM walk WHERE node > 1
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(suppkey) AS BIGINT) AS sum_supp
    FROM walk GROUP BY depth ORDER BY depth
"""


@register(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE walk(suppkey, node, depth) AS (
      SELECT s_suppkey, CAST(s_suppkey AS BIGINT), 0 FROM supplier
      UNION ALL
      SELECT suppkey, node // 2, depth + 1 FROM walk WHERE node > 1
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(suppkey) AS BIGINT) AS sum_supp
    FROM walk GROUP BY depth ORDER BY depth
    """,
    description="recursive CTE through the SQL surface (Spark 4 WITH "
    "RECURSIVE, SPARK-24497): per-supplier ancestor walk up the implicit "
    "binary tree (parent = key div 2) — a hierarchy/bill-of-materials "
    "traversal no single join can express; aggregated per depth with exact "
    "integer sums. The iteration count is data-bounded (log2(max key)); "
    "each recursion step is one map-side projection + filter of the "
    "previous frontier, the same BSP shape as the hand-built BFS operator",
    tags=("relational", "sql", "recursive", "graph"),
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(_RECURSIVE_SPARK)


# --- out-of-fold smoothed target encoding ---------------------------------------

_TE_FOLDS = 5
_TE_M = 10  # smoothing pseudo-count toward the global prior


@register(
    "q_target_encoding",
    oracle=f"""
    WITH o AS (
      SELECT o_orderpriority AS cat, o_orderkey % {_TE_FOLDS} AS fold,
             CASE WHEN o_totalprice >= 150000 THEN 1 ELSE 0 END AS y
      FROM orders),
    cf AS (SELECT cat, fold, CAST(COUNT(*) AS BIGINT) AS n_cf,
                  CAST(SUM(y) AS BIGINT) AS s_cf
           FROM o GROUP BY cat, fold),
    c AS (SELECT cat, CAST(SUM(n_cf) AS BIGINT) AS n_c,
                 CAST(SUM(s_cf) AS BIGINT) AS s_c
          FROM cf GROUP BY cat),
    g AS (SELECT CAST(SUM(n_cf) AS BIGINT) AS n_g,
                 CAST(SUM(s_cf) AS BIGINT) AS s_g
          FROM cf)
    SELECT cf.cat AS category, CAST(cf.fold AS BIGINT) AS fold,
           CAST(c.n_c - cf.n_cf AS BIGINT) AS n_oof,
           CAST((2 * 1000000 * ((c.s_c - cf.s_cf) * g.n_g + {_TE_M} * g.s_g)
                 + (((c.n_c - cf.n_cf) + {_TE_M}) * g.n_g))
                // (2 * (((c.n_c - cf.n_cf) + {_TE_M}) * g.n_g))
                AS BIGINT) AS enc_micro
    FROM cf JOIN c ON cf.cat = c.cat CROSS JOIN g
    ORDER BY category, fold
    """,
    description="out-of-fold smoothed target (mean) encoding — the "
    "leak-free categorical feature every tabular training pipeline "
    "needs: per (category, fold), encode from the OTHER folds' label "
    "statistics only (enc = (s_oof + M*prior) / (n_oof + M), M=10 "
    "pseudo-counts toward the global prior; prior kept as the exact "
    "rational s_g/n_g so the whole encoding is ONE round-half-away "
    "integer micro division — zero floats). Deterministic fold "
    "assignment by key modulus. SCALE: two tiny rollups ((cat, fold) "
    "then cat) + a broadcast-sized join back — the raw table is "
    "touched once map-side; at 100 TB the (cat, fold) frame is "
    "cardinality-bounded, never row-bounded",
    tags=("relational", "ml-prep", "encoding"),
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        (F.col("o_orderkey") % _TE_FOLDS).alias("fold"),
        F.when(F.col("o_totalprice") >= 150000, 1).otherwise(0).alias("y"),
    )
    cf = o.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cf"),
        F.sum("y").cast("bigint").alias("s_cf"),
    )
    c = cf.groupBy("cat").agg(
        F.sum("n_cf").cast("bigint").alias("n_c"),
        F.sum("s_cf").cast("bigint").alias("s_c"),
    )
    g = cf.agg(
        F.sum("n_cf").cast("bigint").alias("n_g"),
        F.sum("s_cf").cast("bigint").alias("s_g"),
    )
    return (
        cf.join(F.broadcast(c), "cat")
        .crossJoin(F.broadcast(g))
        .selectExpr(
            "cat AS category",
            "CAST(fold AS BIGINT) AS fold",
            "CAST(n_c - n_cf AS BIGINT) AS n_oof",
            f"CAST((2 * 1000000 * ((s_c - s_cf) * n_g + {_TE_M} * s_g)"
            f" + (((n_c - n_cf) + {_TE_M}) * n_g))"
            f" div (2 * (((n_c - n_cf) + {_TE_M}) * n_g)) AS BIGINT) AS enc_micro",
        )
        .orderBy("category", "fold")
    )


# --- k-anonymity / l-diversity audit ----------------------------------------------

_KANON_K = 5
_KANON_L = 2


@register(
    "q_k_anonymity",
    oracle=f"""
    WITH q AS (
      SELECT c_nationkey AS nat, CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             c_mktsegment AS sensitive
      FROM customer),
    g AS (
      SELECT nat, bal_band, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l_div
      FROM q GROUP BY nat, bal_band)
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(n) AS BIGINT) AS min_group_size,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS k_violating_groups,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
             AS k_violating_rows,
           CAST((2 * 1000000 * SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END)
                 + SUM(n)) // (2 * SUM(n)) AS BIGINT) AS risk_pct_micro,
           CAST(SUM(CASE WHEN l_div < {_KANON_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS l_violating_groups
    FROM g
    """,
    description="k-anonymity / l-diversity privacy audit (Sweeney 2002; "
    "Machanavajjhala 2007) over the customer table: quasi-identifier = "
    "(nation, account-balance band), sensitive attribute = market "
    "segment; reports the groups (and row share, round-half-away micro) "
    "smaller than k=5 — the re-identification risk surface a training-"
    "data release review needs — plus groups whose sensitive attribute "
    "has fewer than l=2 distinct values (homogeneity attack exposure). "
    "SCALE: one QI-keyed rollup (count + count-distinct) then a "
    "7-integer reduction; the QI frame is cardinality-bounded",
    tags=("relational", "privacy", "audit"),
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    q = c.select(
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    g = q.groupBy("nat", "bal_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("sensitive").cast("bigint").alias("l_div"),
    )
    return g.selectExpr(
        "CAST(SUM(n) AS BIGINT) AS n_rows",
        "CAST(COUNT(*) AS BIGINT) AS n_groups",
        "CAST(MIN(n) AS BIGINT) AS min_group_size",
        f"CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)"
        " AS k_violating_groups",
        f"CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)"
        " AS k_violating_rows",
        f"CAST((2 * 1000000 * SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END)"
        f" + SUM(n)) div (2 * SUM(n)) AS BIGINT) AS risk_pct_micro",
        f"CAST(SUM(CASE WHEN l_div < {_KANON_L} THEN 1 ELSE 0 END) AS BIGINT)"
        " AS l_violating_groups",
    )


# --- t-closeness privacy audit ----------------------------------------------


@register(
    "q_t_closeness",
    oracle="""
    WITH q AS (
      SELECT c_nationkey AS nat,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             c_mktsegment AS sensitive
      FROM customer),
    tot AS (
      SELECT sensitive, CAST(COUNT(*) AS BIGINT) AS big_c FROM q
      GROUP BY sensitive),
    n_all AS (SELECT CAST(SUM(big_c) AS BIGINT) AS big_n FROM tot),
    gc AS (
      SELECT nat, bal_band, sensitive, CAST(COUNT(*) AS BIGINT) AS c
      FROM q GROUP BY nat, bal_band, sensitive),
    gn AS (
      SELECT nat, bal_band, CAST(SUM(c) AS BIGINT) AS n_g
      FROM gc GROUP BY nat, bal_band),
    dist AS (
      SELECT gn.nat, gn.bal_band, gn.n_g, t.sensitive, t.big_c,
             COALESCE(gc.c, 0) AS c, (SELECT big_n FROM n_all) AS big_n
      FROM gn CROSS JOIN tot t
      LEFT JOIN gc ON gc.nat = gn.nat AND gc.bal_band = gn.bal_band
                  AND gc.sensitive = t.sensitive),
    tvd AS (
      SELECT nat, bal_band, CAST(MAX(n_g) AS BIGINT) AS n_g,
             CAST(SUM(ABS(c * big_n - big_c * n_g)) AS BIGINT) AS num,
             CAST(MAX(big_n) AS BIGINT) AS big_n
      FROM dist GROUP BY nat, bal_band)
    SELECT nat, bal_band, n_g,
           CAST((2 * 1000000 * num + 2 * n_g * big_n)
                // (2 * 2 * n_g * big_n) AS BIGINT) AS tvd_micro
    FROM tvd
    ORDER BY tvd_micro DESC, nat, bal_band LIMIT 10
    """,
    description="t-closeness privacy audit (Li 2007 — completes the "
    "k-anonymity / l-diversity / DP release-review family): for each "
    "quasi-identifier group (nation, balance band), the earth-mover "
    "distance between the group's sensitive-attribute (market segment) "
    "distribution and the global one — for categorical attributes with "
    "uniform ground distance EMD = total variation = (1/2) sum|p_i - q_i|, "
    "computed as the EXACT integer sum |c_i*N - C_i*n_g| over the common "
    "denominator n_g*N, emitted as a round-half-away micro; worst 10 "
    "groups (the t threshold a release would check). SCALE: one "
    "(QI, sensitive) rollup + a cross join against the |segments|-row "
    "global frame — QI cardinality is bounded, so every frame is tiny",
    tags=("relational", "privacy", "audit"),
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    q = c.select(
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    tot = q.groupBy("sensitive").agg(
        F.count(F.lit(1)).cast("bigint").alias("big_c")
    )
    gc = q.groupBy("nat", "bal_band", "sensitive").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    gn = gc.groupBy("nat", "bal_band").agg(
        F.sum("c").cast("bigint").alias("n_g")
    )
    n_all = tot.agg(F.sum("big_c").cast("bigint").alias("big_n"))
    full = (
        gn.crossJoin(F.broadcast(tot))
        .join(gc, ["nat", "bal_band", "sensitive"], "left")
        .na.fill({"c": 0})
        .crossJoin(F.broadcast(n_all))
    )
    tvd = full.groupBy("nat", "bal_band").agg(
        F.max("n_g").cast("bigint").alias("n_g"),
        F.sum(F.abs(F.col("c") * F.col("big_n") - F.col("big_c") * F.col("n_g")))
        .cast("bigint").alias("num"),
        F.max("big_n").cast("bigint").alias("big_n"),
    )
    return (
        tvd.selectExpr(
            "nat", "bal_band", "n_g",
            "CAST((2 * 1000000 * num + 2 * n_g * big_n)"
            " div (2 * 2 * n_g * big_n) AS BIGINT) AS tvd_micro",
        )
        .orderBy(F.desc("tvd_micro"), "nat", "bal_band")
        .limit(10)
    )


# --- decision-tree split search (Gini impurity) -------------------------------------

@register(
    "q_gini_split",
    oracle="""
    WITH o AS (
      SELECT o_totalprice AS x,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders),
    pts AS (
      SELECT x, CAST(SUM(y) AS BIGINT) AS p, CAST(COUNT(*) - SUM(y) AS BIGINT) AS q
      FROM o GROUP BY x),
    cum AS (
      SELECT x,
             CAST(SUM(p) OVER w AS BIGINT) AS cp,
             CAST(SUM(q) OVER w AS BIGINT) AS cq,
             CAST(SUM(p) OVER () AS BIGINT) AS tp,
             CAST(SUM(q) OVER () AS BIGINT) AS tq
      FROM pts
      WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    cand AS (
      SELECT x AS threshold, cp, cq, tp, tq,
             cp + cq AS nl, (tp + tq) - (cp + cq) AS nr,
             (CAST(cp + cq AS DOUBLE)
              - CAST(cp * cp + cq * cq AS DOUBLE) / CAST(cp + cq AS DOUBLE))
             + (CAST((tp + tq) - (cp + cq) AS DOUBLE)
                - CAST((tp - cp) * (tp - cp) + (tq - cq) * (tq - cq) AS DOUBLE)
                  / CAST((tp + tq) - (cp + cq) AS DOUBLE)) AS score
      FROM cum WHERE (tp + tq) - (cp + cq) > 0)
    SELECT threshold, CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           CAST(cp AS BIGINT) AS pos_left, CAST(tp - cp AS BIGINT) AS pos_right,
           score AS weighted_gini_x_n
    FROM cand ORDER BY score, threshold LIMIT 1
    """,
    description="decision-tree best-split search (CART's core primitive, "
    "Breiman 1984): the numeric split of order price that minimizes "
    "weighted Gini impurity against the urgent-priority label — every "
    "candidate threshold evaluated from ONE sorted prefix-sum pass "
    "(cumulative pos/neg counts per distinct value), impurity as one "
    "fixed-order IEEE expression of exact integers (n_s - (pos^2 + "
    "neg^2)/n_s summed over sides — the n*Gini form, monotone in Gini, "
    "division-minimal), argmin by (score, threshold) unique order. "
    "SCALE: one value rollup + the two-pass distributed prefix sum "
    "(operators/ranking.py: range exchange + broadcast per-partition "
    "offsets, grand totals riding the same tiny frame — no single-"
    "partition sort, no O(n) SUM OVER () window) + TakeOrdered(1) — "
    "the same shape per feature when looping a forest's split search",
    tags=("relational", "ml-prep", "tree"),
)
def q_gini_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_cumsum

    o = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("y"),
    )
    pts = o.groupBy("x").agg(
        F.sum("y").cast("bigint").alias("p"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("q"),
    )
    cum = two_pass_cumsum(
        pts, ["x"], ["p", "q"], total_prefix="tot_"
    ).select(
        "x",
        F.col("cum_p").alias("cp"),
        F.col("cum_q").alias("cq"),
        F.col("tot_p").alias("tp"),
        F.col("tot_q").alias("tq"),
    )
    cand = cum.where(
        (F.col("tp") + F.col("tq")) - (F.col("cp") + F.col("cq")) > 0
    ).selectExpr(
        "x AS threshold",
        "cp + cq AS nl",
        "(tp + tq) - (cp + cq) AS nr",
        "cp", "tp", "cq", "tq",
        "(CAST(cp + cq AS DOUBLE)"
        " - CAST(cp * cp + cq * cq AS DOUBLE) / CAST(cp + cq AS DOUBLE))"
        " + (CAST((tp + tq) - (cp + cq) AS DOUBLE)"
        "    - CAST((tp - cp) * (tp - cp) + (tq - cq) * (tq - cq) AS DOUBLE)"
        "      / CAST((tp + tq) - (cp + cq) AS DOUBLE)) AS score",
    )
    return (
        cand.orderBy("score", "threshold")
        .limit(1)
        .selectExpr(
            "threshold",
            "CAST(nl AS BIGINT) AS n_left",
            "CAST(nr AS BIGINT) AS n_right",
            "CAST(cp AS BIGINT) AS pos_left",
            "CAST(tp - cp AS BIGINT) AS pos_right",
            "score AS weighted_gini_x_n",
        )
    )


# --- distributed logistic-regression gradient descent ---------------------------

_LR_STEPS = 3
_LR_RATE = "2.0"


def _logreg_oracle() -> str:
    pts = """
    pts AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) / 10000000.0 AS x1,
             CAST(MONTH(o_orderdate) AS BIGINT) / 12.0 AS x2,
             CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
      FROM orders),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts),
    w0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c)"""
    ctes = [pts]
    for i in range(_LR_STEPS):
        ctes.append(f"""
    z{i} AS (
      SELECT y, x1, x2,
             (0.5 + 0.5 * (a + b * x1 + c * x2)
                    / (1 + abs(a + b * x1 + c * x2))) AS sig
      FROM pts, w{i}),
    s{i} AS (
      SELECT SUM(CAST(ROUND(sig - y, 9) AS DECIMAL(28,9))) AS g0,
             SUM(CAST(ROUND((sig - y) * x1, 9) AS DECIMAL(28,9))) AS g1,
             SUM(CAST(ROUND((sig - y) * x2, 9) AS DECIMAL(28,9))) AS g2
      FROM z{i}),
    w{i + 1} AS (
      SELECT a - {_LR_RATE} * (CAST(g0 AS DOUBLE) / n) AS a,
             b - {_LR_RATE} * (CAST(g1 AS DOUBLE) / n) AS b,
             c - {_LR_RATE} * (CAST(g2 AS DOUBLE) / n) AS c
      FROM w{i}, s{i}, nn)""")
    return f"""
    WITH {','.join(ctes)}
    SELECT a AS w_bias, b AS w_price, c AS w_month,
           (SELECT CAST(SUM(CASE WHEN (a + b * x1 + c * x2 > 0)
                                      = (y = 1) THEN 1 ELSE 0 END) AS BIGINT)
            FROM pts) AS n_correct,
           (SELECT n FROM nn) AS n
    FROM w{_LR_STEPS}
    """


@register(
    "q_logreg_gd",
    oracle=_logreg_oracle(),
    description="DISTRIBUTED logistic-regression training: 3 full-batch "
    "gradient-descent steps over the orders table (features: scaled "
    "price + month, bias; label: totalprice > 150k — learnably "
    "separable, accuracy beats the majority class after 3 steps). Each "
    "step is ONE map-side pass + a 3-term decimal-sum reduction; the "
    "weight vector rides as a 1-row broadcast frame between steps — no "
    "collect, no driver loop, the exact shape a billion-row GLM step "
    "takes on a cluster. Engine-portability: the activation is the "
    "Elliott sigmoid 0.5 + 0.5·z/(1+|z|) — division/abs are IEEE-exact, "
    "unlike libm exp whose last ulp diverges across engines (the "
    "portable-ln lesson applied to training); per-row gradient terms "
    "round to 9 d.p. and sum as DECIMAL(28,9) so the distributed sum is "
    "order-free; weight updates are IEEE-exact chains. The oracle "
    "unrolls all 3 steps as CTEs (the Holt-Winters recipe). SCALE: "
    "steps·(one scan + one scalar agg) — embarrassingly parallel; at "
    "100 TB you would mini-batch by partition pruning, same plan shape",
    tags=("relational", "ml-train", "glm"),
)
def q_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    pts = o.select(
        (F.round(F.col("o_totalprice") * 100).cast("bigint") / 10000000.0).alias("x1"),
        (F.month("o_orderdate").cast("bigint") / 12.0).alias("x2"),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("y"),
    ).persist()
    # lazy checkpoints (round-11): the count frame and each step's weight
    # frame still cut lineage, but materialize inside the NEXT step's
    # gradient-broadcast job instead of paying one eager driver job each
    # (the query was construction-bound: 2.7 s of eager 1-row jobs vs
    # 0.1 s of execution at sf0.1)
    nn = pts.agg(F.count(F.lit(1)).cast("bigint").alias("n")).localCheckpoint(
        eager=False
    )
    w = spark.sql("SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c")
    lr = float(_LR_RATE)
    for _ in range(_LR_STEPS):
        z = pts.crossJoin(F.broadcast(w)).select(
            "y", "x1", "x2",
            (
                0.5
                + 0.5 * (F.col("a") + F.col("b") * F.col("x1") + F.col("c") * F.col("x2"))
                / (1 + F.abs(F.col("a") + F.col("b") * F.col("x1") + F.col("c") * F.col("x2")))
            ).alias("sig"),
        )
        s = z.agg(
            F.sum(F.round(F.col("sig") - F.col("y"), 9).cast("decimal(28,9)")).alias("g0"),
            F.sum(F.round((F.col("sig") - F.col("y")) * F.col("x1"), 9).cast("decimal(28,9)")).alias("g1"),
            F.sum(F.round((F.col("sig") - F.col("y")) * F.col("x2"), 9).cast("decimal(28,9)")).alias("g2"),
        )
        w = (
            w.crossJoin(F.broadcast(s))
            .crossJoin(F.broadcast(nn))
            .select(
                (F.col("a") - lr * (F.col("g0").cast("double") / F.col("n"))).alias("a"),
                (F.col("b") - lr * (F.col("g1").cast("double") / F.col("n"))).alias("b"),
                (F.col("c") - lr * (F.col("g2").cast("double") / F.col("n"))).alias("c"),
            )
            # 1-row weight frame: checkpoint per step, or the final plan
            # nests every step's aggregation and Catalyst replans the
            # whole chain at the end (measured 5.2 -> 3.8 s warm at
            # sf0.1); eager=False so the materialization rides the next
            # step's broadcast build instead of its own job
            .localCheckpoint(eager=False)
        )
    acc = pts.crossJoin(F.broadcast(w)).agg(
        F.sum(
            F.when(
                (F.col("a") + F.col("b") * F.col("x1") + F.col("c") * F.col("x2") > 0)
                == (F.col("y") == 1),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_correct"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return w.crossJoin(F.broadcast(acc)).select(
        F.col("a").alias("w_bias"),
        F.col("b").alias("w_price"),
        F.col("c").alias("w_month"),
        "n_correct",
        "n",
    )


# --- split-conformal prediction intervals ----------------------------------------


@register(
    "q_conformal_interval",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 3 AS split
      FROM orders),
    j AS (SELECT o.*, c.c_mktsegment AS seg
          FROM o JOIN customer c ON o.o_custkey = c.c_custkey),
    pred AS (
      SELECT seg,
             CAST((2 * SUM(cents) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
               AS pred_cents
      FROM j WHERE split = 0 GROUP BY seg),
    cal AS (
      SELECT ABS(j.cents - p.pred_cents) AS resid, j.o_orderkey
      FROM j JOIN pred p ON j.seg = p.seg WHERE j.split = 1),
    ncal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
    rk AS (SELECT resid,
                  ROW_NUMBER() OVER (ORDER BY resid, o_orderkey) AS rn
           FROM cal),
    qhat AS (
      SELECT CAST(resid AS BIGINT) AS qhat_cents FROM rk
      WHERE rn = ((SELECT n_cal FROM ncal) + 1) * 9 // 10
              + CASE WHEN ((SELECT n_cal FROM ncal) + 1) * 9 % 10 > 0
                     THEN 1 ELSE 0 END),
    test AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN ABS(j.cents - p.pred_cents)
                                <= (SELECT qhat_cents FROM qhat)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM j JOIN pred p ON j.seg = p.seg WHERE j.split = 2)
    SELECT (SELECT n_cal FROM ncal) AS n_cal, n_test,
           (SELECT qhat_cents FROM qhat) AS qhat_cents, n_covered,
           CAST((2 * 1000000 * n_covered + n_test) // (2 * n_test) AS BIGINT)
             AS coverage_micro
    FROM test
    """,
    description="split-conformal prediction interval (Vovk; the "
    "distribution-free uncertainty wrapper any model in the repo can "
    "wear), on a THREE-way key split (round-7 ADVICE — split conformal "
    "requires the calibration set disjoint from the fitting set): a "
    "per-segment mean price predictor is FIT on split 0, the conformal "
    "radius is the exact ceil((n+1)(1-alpha))-th smallest residual "
    "(alpha=0.1) on the disjoint CALIBRATION split 1 picked by RANK — "
    "via the two-pass distributed row_number, no single-partition sort — "
    "and marginal coverage is audited on the held-out TEST split 2; "
    ">= 90% in expectation by exchangeability (now formally valid). "
    "ENTIRELY integer arithmetic: predictions are round-half-away cent "
    "means, residuals integer cents, coverage a micro ratio. SCALE: one "
    "broadcast dim join + a grouped mean + one two-pass rank pick + a "
    "map-side coverage rollup",
    tags=("relational", "ml-eval", "conformal", "uncertainty"),
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_row_number

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.col("o_orderkey") % 3).alias("split"),
    )
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("seg")
    )
    j = o.join(F.broadcast(c), "o_custkey").persist()
    pred = (
        j.where(F.col("split") == 0)
        .groupBy("seg")
        .agg(F.expr("CAST((2 * SUM(cents) + COUNT(*)) div (2 * COUNT(*)) AS BIGINT)")
             .alias("pred_cents"))
    )
    cal = (
        j.where(F.col("split") == 1)
        .join(F.broadcast(pred), "seg")
        .select(F.abs(F.col("cents") - F.col("pred_cents")).alias("resid"),
                "o_orderkey")
    )
    rk = two_pass_row_number(
        cal, ["resid", "o_orderkey"], rn_col="rn", total_col="n_cal"
    )
    qhat = rk.where(
        F.expr("rn = (n_cal + 1) * 9 div 10"
               " + CASE WHEN (n_cal + 1) * 9 % 10 > 0 THEN 1 ELSE 0 END")
    ).select(F.col("resid").cast("bigint").alias("qhat_cents"),
             F.col("n_cal").cast("bigint").alias("n_cal"))
    test = (
        j.where(F.col("split") == 2)
        .join(F.broadcast(pred), "seg")
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("cents") - F.col("pred_cents"))
                    <= F.col("qhat_cents"), 1,
                ).otherwise(0)
            ).cast("bigint").alias("n_covered"),
            F.first("n_cal").alias("n_cal"),
            F.first("qhat_cents").alias("qhat_cents"),
        )
    )
    return test.selectExpr(
        "n_cal", "n_test", "qhat_cents", "n_covered",
        "CAST((2 * 1000000 * n_covered + n_test) div (2 * n_test) AS BIGINT)"
        " AS coverage_micro",
    )


# --- gradient-boosted stumps (squared loss, 2 rounds) ----------------------------


def _stump_sql(src: str, xcol: str, ycol: str, out: str) -> str:
    """CTE chain fitting one regression stump on (xcol -> ycol) over src:
    emits {out}(thr, ml, mr) — threshold + signed round-half-away left/
    right means. Prefix sums over the distinct-x rollup; score =
    S_L^2/n_L + S_R^2/n_R maximized (equivalently SSE minimized), argmax
    by (score DESC, thr) unique order."""
    return f"""
    {out}_pts AS (
      SELECT {xcol} AS x, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM({ycol}) AS BIGINT) AS s
      FROM {src} GROUP BY {xcol}),
    {out}_cum AS (
      SELECT x,
             CAST(SUM(n) OVER w AS BIGINT) AS nl,
             CAST(SUM(s) OVER w AS BIGINT) AS sl,
             CAST(SUM(n) OVER () AS BIGINT) AS nt,
             CAST(SUM(s) OVER () AS BIGINT) AS st
      FROM {out}_pts
      WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    {out}_sc AS (
      SELECT x AS thr, nl, sl, nt, st,
             (CAST(sl AS DOUBLE) * sl / nl)
               + (CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl)) AS score
      FROM {out}_cum WHERE nt - nl > 0),
    {out} AS (
      SELECT thr,
             CAST((CASE WHEN sl < 0 THEN -1 ELSE 1 END)
                  * ((2 * ABS(sl) + nl) // (2 * nl)) AS BIGINT) AS ml,
             CAST((CASE WHEN st - sl < 0 THEN -1 ELSE 1 END)
                  * ((2 * ABS(st - sl) + (nt - nl)) // (2 * (nt - nl)))
                  AS BIGINT) AS mr
      FROM {out}_sc ORDER BY score DESC, thr LIMIT 1)"""


@register(
    "q_boosted_stumps",
    oracle=f"""
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS disc,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    {_stump_sql('base', 'q', 'y', 'st1')},
    resid AS (
      SELECT b.disc,
             b.y - (CASE WHEN b.q <= s.thr THEN s.ml ELSE s.mr END) AS r
      FROM base b, st1 s),
    {_stump_sql('resid', 'disc', 'r', 'st2')}
    SELECT s1.thr AS thr1, s1.ml AS mean_l1, s1.mr AS mean_r1,
           s2.thr AS thr2, s2.ml AS mean_l2, s2.mr AS mean_r2
    FROM st1 s1, st2 s2
    """,
    description="gradient-boosted regression stumps (Friedman 2001, "
    "squared loss, 2 rounds): round 1 fits the best quantity split for "
    "extended price by SSE (score S_L²/n_L + S_R²/n_R maximized from ONE "
    "prefix-sum pass over the distinct-value rollup — the q_gini_split "
    "machinery with sums instead of class counts, prefix sums via the "
    "two-pass distributed cumsum); round 2 fits a discount stump on the "
    "INTEGER-CENT residuals (boosting's additive structure, exact by "
    "construction: predictions are signed round-half-away cent means, "
    "abs-first — the signed-division lesson). All comparisons and "
    "residuals exact integers; the only doubles are the fixed-order "
    "score expressions. SCALE: per round one value rollup + two-pass "
    "cumsum + TakeOrdered(1) + a broadcast 1-row stump join — the "
    "per-feature, per-round shape of a distributed GBDT fit",
    tags=("relational", "ml-train", "tree", "boosting"),
)
def q_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_cumsum

    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    ).persist()

    def stump(src: DataFrame, xcol: str, ycol: str) -> DataFrame:
        pts = src.groupBy(F.col(xcol).alias("x")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(ycol).cast("bigint").alias("s"),
        )
        cum = two_pass_cumsum(
            pts, ["x"], ["n", "s"], total_prefix="tot_"
        ).select(
            "x",
            F.col("cum_n").alias("nl"), F.col("cum_s").alias("sl"),
            F.col("tot_n").alias("nt"), F.col("tot_s").alias("st"),
        )
        sc = cum.where(F.col("nt") - F.col("nl") > 0).selectExpr(
            "x AS thr", "nl", "sl", "nt", "st",
            "(CAST(sl AS DOUBLE) * sl / nl)"
            " + (CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl)) AS score",
        )
        return (
            sc.orderBy(F.desc("score"), F.asc("thr")).limit(1)
            .selectExpr(
                "thr",
                "CAST((CASE WHEN sl < 0 THEN -1 ELSE 1 END)"
                " * ((2 * ABS(sl) + nl) div (2 * nl)) AS BIGINT) AS ml",
                "CAST((CASE WHEN st - sl < 0 THEN -1 ELSE 1 END)"
                " * ((2 * ABS(st - sl) + (nt - nl)) div (2 * (nt - nl)))"
                " AS BIGINT) AS mr",
            )
        )

    st1 = stump(base, "q", "y")
    resid = base.crossJoin(F.broadcast(st1)).select(
        "disc",
        (
            F.col("y")
            - F.when(F.col("q") <= F.col("thr"), F.col("ml")).otherwise(F.col("mr"))
        ).alias("r"),
    )
    st2 = stump(resid, "disc", "r")
    return (
        st1.selectExpr("thr AS thr1", "ml AS mean_l1", "mr AS mean_r1")
        .crossJoin(
            F.broadcast(
                st2.selectExpr("thr AS thr2", "ml AS mean_l2", "mr AS mean_r2")
            )
        )
    )


# --- mutual-information feature ranking -------------------------------------------


def _mi_sql(xexpr: str, fname: str) -> str:
    from platform_etl_backend_spark.functions.portable_math import (
        duck_portable_ln_ratio,
    )

    ln = duck_portable_ln_ratio("cxy * nn", "cx * cy")
    return f"""
    SELECT '{fname}' AS feature,
           ROUND(CAST(SUM(CAST(ROUND({ln} * (CAST(cxy AS DOUBLE) / nn), 9)
                               AS DECIMAL(18,9))) AS DOUBLE), 6) AS mi_nats
    FROM (
      SELECT c.cxy, x.cx, y.cy, g.nn
      FROM (SELECT {xexpr} AS x,
                   CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END AS y,
                   CAST(COUNT(*) AS BIGINT) AS cxy
            FROM orders GROUP BY 1, 2) c
      JOIN (SELECT {xexpr} AS x, CAST(COUNT(*) AS BIGINT) AS cx
            FROM orders GROUP BY 1) x ON c.x = x.x
      JOIN (SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END AS y,
                   CAST(COUNT(*) AS BIGINT) AS cy
            FROM orders GROUP BY 1) y ON c.y = y.y
      CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM orders) g)
    """


@register(
    "q_mutual_information",
    oracle=f"""
    {_mi_sql("CAST(FLOOR(o_totalprice / 50000) AS BIGINT)", "price_bin")}
    UNION ALL
    {_mi_sql("CAST(MONTH(o_orderdate) AS BIGINT)", "order_month")}
    ORDER BY feature
    """,
    description="mutual-information feature ranking against the urgent-"
    "priority label (the filter-method feature selector beside "
    "q_gini_split's embedded split and q_target_encoding's encoding): "
    "MI(X;Y) = Σ (c_xy/N)·ln(c_xy·N / (c_x·c_y)) per feature — every log "
    "an exact integer ratio on the engine-portable ln, contributions "
    "rounded then decimal-summed (order-free); binned price vs order "
    "month, one row per feature. SCALE: per feature one (x,y) rollup + "
    "two broadcast marginal joins — map-side after the rollups; the "
    "per-feature loop is the embarrassingly parallel axis of a "
    "1000-feature selection pass",
    tags=("relational", "ml-prep", "feature-selection"),
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    o = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("price_bin"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("y"),
    ).persist()

    def mi(xcol: str) -> DataFrame:
        c = o.groupBy(F.col(xcol).alias("x"), "y").agg(
            F.count(F.lit(1)).cast("bigint").alias("cxy")
        )
        mx = o.groupBy(F.col(xcol).alias("x")).agg(
            F.count(F.lit(1)).cast("bigint").alias("cx")
        )
        my = o.groupBy("y").agg(F.count(F.lit(1)).cast("bigint").alias("cy"))
        g = o.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
        contrib = F.round(
            portable_ln_ratio(F.col("cxy") * F.col("nn"), F.col("cx") * F.col("cy"))
            * (F.col("cxy").cast("double") / F.col("nn")),
            9,
        ).cast("decimal(18,9)")
        return (
            c.join(F.broadcast(mx), "x")
            .join(F.broadcast(my), "y")
            .crossJoin(F.broadcast(g))
            .agg(F.round(F.sum(contrib).cast("double"), 6).alias("mi_nats"))
            .select(F.lit(xcol).alias("feature"), "mi_nats")
        )

    return mi("price_bin").unionByName(mi("order_month")).orderBy("feature")


# --- depth-2 CART tree -------------------------------------------------------------


@register(
    "q_tree_depth2",
    oracle="""
    WITH base AS (
      SELECT o_totalprice AS x1, CAST(MONTH(o_orderdate) AS BIGINT) AS x2,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders),
    pts AS (SELECT x1 AS x, CAST(SUM(y) AS BIGINT) AS p,
                   CAST(COUNT(*) - SUM(y) AS BIGINT) AS q
            FROM base GROUP BY x1),
    cum AS (SELECT x, CAST(SUM(p) OVER w AS BIGINT) AS cp,
                   CAST(SUM(q) OVER w AS BIGINT) AS cq,
                   CAST(SUM(p) OVER () AS BIGINT) AS tp,
                   CAST(SUM(q) OVER () AS BIGINT) AS tq
            FROM pts WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND CURRENT ROW)),
    root AS (
      SELECT x AS thr FROM (
        SELECT x, cp, cq, tp, tq,
               (CAST(cp + cq AS DOUBLE)
                - CAST(cp * cp + cq * cq AS DOUBLE) / CAST(cp + cq AS DOUBLE))
               + (CAST((tp + tq) - (cp + cq) AS DOUBLE)
                  - CAST((tp - cp) * (tp - cp) + (tq - cq) * (tq - cq)
                         AS DOUBLE) / CAST((tp + tq) - (cp + cq) AS DOUBLE))
                 AS score
        FROM cum WHERE (tp + tq) - (cp + cq) > 0)
      ORDER BY score, thr LIMIT 1),
    sided AS (
      SELECT CASE WHEN b.x1 <= r.thr THEN 0 ELSE 1 END AS side, b.x2, b.y
      FROM base b, root r),
    pts2 AS (SELECT side, x2 AS x, CAST(SUM(y) AS BIGINT) AS p,
                    CAST(COUNT(*) - SUM(y) AS BIGINT) AS q
             FROM sided GROUP BY side, x2),
    cum2 AS (SELECT side, x,
                    CAST(SUM(p) OVER w AS BIGINT) AS cp,
                    CAST(SUM(q) OVER w AS BIGINT) AS cq,
                    CAST(SUM(p) OVER (PARTITION BY side) AS BIGINT) AS tp,
                    CAST(SUM(q) OVER (PARTITION BY side) AS BIGINT) AS tq
             FROM pts2 WINDOW w AS (PARTITION BY side ORDER BY x
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)),
    sc2 AS (
      SELECT side, x AS thr2, cp + cq AS nl, (tp + tq) - (cp + cq) AS nr,
             cp AS pos_left, tp - cp AS pos_right,
             (CAST(cp + cq AS DOUBLE)
              - CAST(cp * cp + cq * cq AS DOUBLE) / CAST(cp + cq AS DOUBLE))
             + (CAST((tp + tq) - (cp + cq) AS DOUBLE)
                - CAST((tp - cp) * (tp - cp) + (tq - cq) * (tq - cq)
                       AS DOUBLE) / CAST((tp + tq) - (cp + cq) AS DOUBLE))
               AS score,
             ROW_NUMBER() OVER (PARTITION BY side ORDER BY
               (CAST(cp + cq AS DOUBLE)
                - CAST(cp * cp + cq * cq AS DOUBLE) / CAST(cp + cq AS DOUBLE))
               + (CAST((tp + tq) - (cp + cq) AS DOUBLE)
                  - CAST((tp - cp) * (tp - cp) + (tq - cq) * (tq - cq)
                         AS DOUBLE) / CAST((tp + tq) - (cp + cq) AS DOUBLE)),
               x) AS rn
      FROM cum2 WHERE (tp + tq) - (cp + cq) > 0)
    SELECT CAST(s.side AS INTEGER) AS side, r.thr AS root_threshold,
           CAST(s.thr2 AS BIGINT) AS month_threshold,
           CAST(s.nl AS BIGINT) AS n_left, CAST(s.nr AS BIGINT) AS n_right,
           CAST(s.pos_left AS BIGINT) AS pos_left,
           CAST(s.pos_right AS BIGINT) AS pos_right,
           s.score AS weighted_gini_x_n
    FROM sc2 s, root r WHERE s.rn = 1 ORDER BY side
    """,
    description="depth-2 CART tree fit: the q_gini_split root search on "
    "order price, then the best month split WITHIN EACH SIDE — the "
    "per-node axis of a distributed tree fit made explicit: level-2 "
    "windows are PARTITIONED BY side (key-parallel; frame bounded by "
    "the 12-month calendar per side), root threshold rides a 1-row "
    "broadcast, per-side argmin by (score, threshold) row_number. Same "
    "exact integer prefix-sum Gini machinery as the root (root's "
    "distinct-price prefix sums via the two-pass distributed cumsum). "
    "SCALE: one rollup + cumsum per LEVEL (not per node) — level-"
    "synchronous tree building, the classic distributed CART shape",
    tags=("relational", "ml-train", "tree"),
)
def q_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_cumsum

    o = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x1"),
        F.month("o_orderdate").cast("bigint").alias("x2"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("y"),
    ).persist()
    pts = o.groupBy(F.col("x1").alias("x")).agg(
        F.sum("y").cast("bigint").alias("p"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("q"),
    )
    cum = two_pass_cumsum(pts, ["x"], ["p", "q"], total_prefix="tot_").select(
        "x", F.col("cum_p").alias("cp"), F.col("cum_q").alias("cq"),
        F.col("tot_p").alias("tp"), F.col("tot_q").alias("tq"),
    )
    gini = (
        "(CAST(cp + cq AS DOUBLE)"
        " - CAST(cp * cp + cq * cq AS DOUBLE) / CAST(cp + cq AS DOUBLE))"
        " + (CAST((tp + tq) - (cp + cq) AS DOUBLE)"
        "    - CAST((tp - cp) * (tp - cp) + (tq - cq) * (tq - cq) AS DOUBLE)"
        "      / CAST((tp + tq) - (cp + cq) AS DOUBLE))"
    )
    root = (
        cum.where((F.col("tp") + F.col("tq")) - (F.col("cp") + F.col("cq")) > 0)
        .selectExpr("x AS thr", f"{gini} AS score")
        .orderBy("score", "thr").limit(1).select("thr")
        # the 1-row root feeds BOTH the level-2 split and the final output —
        # cut the lineage or the whole two-pass cumsum chain re-executes
        # (the q_hits double-consumer rule)
        .localCheckpoint()
    )
    sided = o.crossJoin(F.broadcast(root)).select(
        F.when(F.col("x1") <= F.col("thr"), 0).otherwise(1).alias("side"),
        "x2", "y",
    )
    pts2 = sided.groupBy("side", F.col("x2").alias("x")).agg(
        F.sum("y").cast("bigint").alias("p"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("q"),
    )
    w = Window.partitionBy("side").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("side")
    cum2 = pts2.select(
        "side", "x",
        F.sum("p").over(w).cast("bigint").alias("cp"),
        F.sum("q").over(w).cast("bigint").alias("cq"),
        F.sum("p").over(wt).cast("bigint").alias("tp"),
        F.sum("q").over(wt).cast("bigint").alias("tq"),
    )
    sc2 = cum2.where(
        (F.col("tp") + F.col("tq")) - (F.col("cp") + F.col("cq")) > 0
    ).selectExpr(
        "side", "x AS thr2", "cp + cq AS nl", "(tp + tq) - (cp + cq) AS nr",
        "cp AS pos_left", "tp - cp AS pos_right", f"{gini} AS score",
    )
    wr = Window.partitionBy("side").orderBy("score", "thr2")
    return (
        sc2.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .crossJoin(F.broadcast(root))
        .selectExpr(
            "CAST(side AS INTEGER) AS side",
            "thr AS root_threshold",
            "CAST(thr2 AS BIGINT) AS month_threshold",
            "CAST(nl AS BIGINT) AS n_left", "CAST(nr AS BIGINT) AS n_right",
            "CAST(pos_left AS BIGINT) AS pos_left",
            "CAST(pos_right AS BIGINT) AS pos_right",
            "score AS weighted_gini_x_n",
        )
        .orderBy("side")
    )


# --- inequality / concentration metrics ---------------------------------------------


# Lifetime spend per customer in exact cents, 0 for customers without orders.
_SPEND_DUCK = """
    WITH spend AS (
      SELECT c.c_custkey,
             CAST(COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
                                AS BIGINT), 0) AS BIGINT) AS cents
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey),
"""


def _customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per ``c_custkey``: lifetime order spend in exact ``cents`` (0 when
    the customer has no orders)."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                (F.sum(dec2("o_totalprice")) * 100).cast("bigint"), F.lit(0)
            ).alias("cents")
        )
    )
    return spend


@register(
    "q_lorenz_gini",
    oracle=_SPEND_DUCK + """
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, c_custkey) AS i
      FROM spend),
    agg AS (
      SELECT COUNT(*) AS n, SUM(cents) AS sx, SUM(i * cents) AS sixi
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS BIGINT) AS total_cents,
           CAST((2 * 1000000 * (2 * sixi - (n + 1) * sx) + n * sx)
                // (2 * n * sx) AS BIGINT) AS gini_micro
    FROM agg
    """,
    description="Gini coefficient of customer spend (the inequality / "
    "data-skew audit number — the same arithmetic grades label or token "
    "imbalance in a training corpus): per-customer lifetime spend in exact "
    "DECIMAL cents (zero-order customers included at 0), global spend rank "
    "via the TWO-PASS distributed row_number (operators/ranking.py — no "
    "O(n) single-partition sort anywhere), Gini = (2*Sum(i*x) - (n+1)*"
    "Sum(x)) / (n*Sum(x)) on exact integer accumulators (DECIMAL(38,0) "
    "products on the Spark side; the oracle rides DuckDB's HUGEINT), "
    "emitted as round-half-away integer micro. SCALE: one join-rollup + "
    "the two-pass rank's two bounded shuffles + a scalar agg",
    tags=("relational", "stats", "skew"),
)
def q_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.ranking import two_pass_row_number

    spend = _customer_spend(spark, sf_dir)
    ranked = two_pass_row_number(spend, ["cents", "c_custkey"], rn_col="i")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(19,0)")).alias("sx"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        ).alias("sixi"),
    )
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_customers",
        "CAST(sx AS BIGINT) AS total_cents",
        "CAST((2 * 1000000 * (2 * sixi - (n + 1) * sx) + n * sx)"
        " div (2 * n * sx) AS BIGINT) AS gini_micro",
    )


@register(
    "q_herfindahl",
    oracle="""
    WITH spend AS (
      SELECT n.n_name, c.c_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, c.c_custkey),
    agg AS (
      SELECT n_name, COUNT(*) AS n_customers,
             SUM(cents) AS s, SUM(cents * cents) AS s2
      FROM spend GROUP BY n_name)
    SELECT n_name, CAST(n_customers AS BIGINT) AS n_customers,
           CAST((2 * 1000000 * s2 + s * s) // (2 * s * s) AS BIGINT)
             AS hhi_micro
    FROM agg ORDER BY n_name
    """,
    description="Herfindahl-Hirschman concentration index of customer "
    "spend within each nation (the source-concentration audit: the same "
    "number flags a training mixture dominated by one domain): per-"
    "(nation, customer) exact DECIMAL cents, HHI = Sum(share^2) computed "
    "as Sum(c^2)/S^2 on exact integer accumulators (DECIMAL(38,0) "
    "squares Spark-side, HUGEINT in the oracle), round-half-away integer "
    "micro. SCALE: two key-rollups, no window, no global order",
    tags=("relational", "stats", "skew"),
)
def q_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg((F.sum(dec2("o_totalprice")) * 100).cast("bigint").alias("cents"))
    )
    agg = spend.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("cents").cast("decimal(19,0)")).alias("s"),
        F.sum(
            F.col("cents").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        ).alias("s2"),
    )
    return agg.selectExpr(
        "n_name",
        "CAST(n_customers AS BIGINT) AS n_customers",
        "CAST((2 * 1000000 * s2 + s * s) div (2 * s * s) AS BIGINT) AS hhi_micro",
    ).orderBy("n_name")


@register(
    "q_cramers_v",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS r, CAST(MONTH(o_orderdate) AS BIGINT) AS c,
             COUNT(*) AS obs
      FROM orders GROUP BY 1, 2),
    rt AS (SELECT r, CAST(SUM(obs) AS BIGINT) AS rn FROM o GROUP BY r),
    ct AS (SELECT c, CAST(SUM(obs) AS BIGINT) AS cn FROM o GROUP BY c),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS nn FROM o),
    grid AS (
      SELECT rt.r, rt.rn, ct.c, ct.cn, COALESCE(o.obs, 0) AS obs
      FROM rt CROSS JOIN ct
      LEFT JOIN o ON o.r = rt.r AND o.c = ct.c),
    terms AS (
      SELECT CAST(round(
               CAST(obs AS DOUBLE) * CAST(obs AS DOUBLE)
               / (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE)), 9)
             AS DECIMAL(28,9)) AS t
      FROM grid),
    dims AS (SELECT (SELECT COUNT(*) FROM rt) AS nr,
                    (SELECT COUNT(*) FROM ct) AS nc)
    SELECT CAST(nn AS BIGINT) AS n,
           ROUND(CAST(nn AS DOUBLE) * (CAST(SUM(t) AS DOUBLE) - 1.0), 6)
             AS chi2,
           ROUND(sqrt(CAST(nn AS DOUBLE) * (CAST(SUM(t) AS DOUBLE) - 1.0)
                      / (CAST(nn AS DOUBLE)
                         * ((SELECT LEAST(nr, nc) FROM dims) - 1))), 6)
             AS cramers_v
    FROM terms, n GROUP BY nn, (SELECT LEAST(nr, nc) FROM dims)
    """,
    description="Cramer's V association strength between order priority "
    "and order month (the categorical-feature redundancy screen beside "
    "q_mutual_information): chi-square via the identity chi2 = "
    "n*(Sum obs^2/(r*c) - 1) — zero cells contribute exactly 0 to the "
    "sum, so the margin cross-grid needs no imputation — per-cell terms "
    "as fixed-order IEEE doubles rounded to DECIMAL(28,9) contributions "
    "(order-free sum), V = sqrt(chi2/(n*(min(r,c)-1))) with the "
    "correctly-rounded IEEE sqrt. SCALE: one rollup + two tiny margin "
    "frames broadcast back onto the bounded cell grid",
    tags=("relational", "stats", "ml-eval"),
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("r"),
            F.month("o_orderdate").cast("bigint").alias("c"),
        )
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    rt = o.groupBy("r").agg(F.sum("obs").cast("bigint").alias("rn"))
    ct = o.groupBy("c").agg(F.sum("obs").cast("bigint").alias("cn"))
    nn = o.agg(F.sum("obs").cast("bigint").alias("nn"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(o, ["r", "c"], "left")
        .select("rn", "cn", F.coalesce(F.col("obs"), F.lit(0)).alias("obs"))
    )
    terms = grid.select(
        F.round(
            F.col("obs").cast("double") * F.col("obs").cast("double")
            / (F.col("rn").cast("double") * F.col("cn").cast("double")),
            9,
        ).cast("decimal(28,9)").alias("t")
    )
    dims = rt.agg(F.count(F.lit(1)).alias("nr")).crossJoin(
        F.broadcast(ct.agg(F.count(F.lit(1)).alias("nc")))
    ).select(F.least("nr", "nc").alias("k"))
    return (
        terms.agg(F.sum("t").alias("s"))
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(dims))
        .selectExpr(
            "CAST(nn AS BIGINT) AS n",
            "ROUND(CAST(nn AS DOUBLE) * (CAST(s AS DOUBLE) - 1.0), 6) AS chi2",
            "ROUND(sqrt(CAST(nn AS DOUBLE) * (CAST(s AS DOUBLE) - 1.0)"
            " / (CAST(nn AS DOUBLE) * (k - 1))), 6) AS cramers_v",
        )
    )


from platform_etl_backend_spark.functions.portable_math import (  # noqa: E402
    duck_portable_ln_ratio as _duck_ln,
)

_HILL_LN = _duck_ln("cents", "m")


@register(
    "q_hill_tail_index",
    oracle=f"""
    WITH topk AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders ORDER BY cents DESC, o_orderkey LIMIT 64),
    xk AS (SELECT MIN(cents) AS m FROM topk),
    terms AS (
      SELECT CAST(round({_HILL_LN}, 9) AS DECIMAL(28,9)) AS t
      FROM topk, xk)
    SELECT (SELECT CAST(m AS BIGINT) FROM xk) AS xk_cents,
           ROUND(CAST(SUM(t) AS DOUBLE) / 63, 6) AS hill_gamma,
           CASE WHEN SUM(t) > 0
                THEN ROUND(63 / CAST(SUM(t) AS DOUBLE), 6) END AS hill_alpha
    FROM terms
    """,
    description="Hill estimator of the heavy-tail index of the order-value "
    "distribution (the extreme-value audit: is the value column "
    "power-law-tailed, and how fat — the number that decides whether "
    "mean-based stats are even defined): top-64 order statistics via "
    "TakeOrderedAndProject (per-partition top-k + driver merge, never a "
    "global sort), gamma = mean ln(x_i/x_k) over the 63 upper stats on "
    "the ENGINE-PORTABLE ratio ln (exact integer cents in, "
    "DECIMAL(28,9) contributions), alpha = 1/gamma. SCALE: k is a "
    "constant; one bounded top-k + a 64-row fold",
    tags=("relational", "stats", "tail"),
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    o = table(spark, sf_dir, "orders").select(
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"), "o_orderkey"
    )
    topk = o.orderBy(F.desc("cents"), "o_orderkey").limit(64).select("cents")
    xk = topk.agg(F.min("cents").alias("m"))
    terms = topk.crossJoin(F.broadcast(xk)).select(
        "m",
        F.round(portable_ln_ratio(F.col("cents"), F.col("m")), 9)
        .cast("decimal(28,9)")
        .alias("t"),
    )
    return terms.groupBy("m").agg(F.sum("t").alias("s")).selectExpr(
        "CAST(m AS BIGINT) AS xk_cents",
        "ROUND(CAST(s AS DOUBLE) / 63, 6) AS hill_gamma",
        "CASE WHEN s > 0 THEN ROUND(63 / CAST(s AS DOUBLE), 6) END AS hill_alpha",
    )


# --- closed-form ridge regression ---------------------------------------------------

_RIDGE_LAMBDA = 1000


def _det3(m: list[list[str]]) -> str:
    """3x3 determinant as ONE generated fixed-order text over moment
    columns (the q_jaro_winkler shared-text rule — both engines run the
    identical IEEE expression)."""
    a, b, c = m[0]
    d, e, f = m[1]
    g, h, i = m[2]
    return (
        f"({a} * ({e} * {i} - {f} * {h})"
        f" - {b} * ({d} * {i} - {f} * {g})"
        f" + {c} * ({d} * {h} - {e} * {g}))"
    )


def _ridge_selects() -> str:
    """Shared final projection: Cramer's rule on the penalized normal
    equations (intercept unpenalized — the standard ridge convention)."""
    lam = f"CAST({_RIDGE_LAMBDA} AS DOUBLE)"
    cols = {
        "n": "CAST(n AS DOUBLE)", "sx1": "CAST(sx1 AS DOUBLE)",
        "sx2": "CAST(sx2 AS DOUBLE)", "sy": "CAST(sy AS DOUBLE)",
        "s11": f"(CAST(s11 AS DOUBLE) + {lam})",
        "s22": f"(CAST(s22 AS DOUBLE) + {lam})",
        "s12": "CAST(s12 AS DOUBLE)",
        "s1y": "CAST(s1y AS DOUBLE)", "s2y": "CAST(s2y AS DOUBLE)",
    }
    m = [
        [cols["n"], cols["sx1"], cols["sx2"]],
        [cols["sx1"], cols["s11"], cols["s12"]],
        [cols["sx2"], cols["s12"], cols["s22"]],
    ]
    rhs = [cols["sy"], cols["s1y"], cols["s2y"]]
    det = _det3(m)
    outs = []
    for j, name in enumerate(("beta0", "beta1", "beta2")):
        mj = [row[:] for row in m]
        for r in range(3):
            mj[r][j] = rhs[r]
        outs.append(f"ROUND({_det3(mj)} / {det}, 6) AS {name}")
    return (
        "SELECT CAST(n AS BIGINT) AS n, "
        + f"CAST({_RIDGE_LAMBDA} AS BIGINT) AS lambda, "
        + ", ".join(outs)
    )


@register(
    "q_ridge_regression",
    oracle=f"""
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM lineitem),
    mom AS (
      SELECT COUNT(*) AS n, SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
             SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22, SUM(x1 * x2) AS s12,
             SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
      FROM base)
    {_ridge_selects()}
    FROM mom
    """,
    description="closed-form ridge regression (price-cents ~ quantity + "
    "discount-pct, lambda = 1000, intercept unpenalized): all nine "
    "moments are EXACT integer sums off one map-side pass (HUGEINT "
    "oracle / DECIMAL(38,0)-class Spark headroom), the penalized 3x3 "
    "normal equations solved by Cramer's rule as ONE generated fixed-"
    "order IEEE text shared verbatim by both engines — the distributed-"
    "training shape where the NETWORK sees only d^2 numbers however "
    "large the data (the same moment-sketch contract as q_ols_by_group/"
    "q_embedding_covariance). SCALE: one scan, one scalar agg, zero "
    "windows/joins",
    tags=("relational", "ml-train", "regression"),
)
def q_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        (dec2("l_discount") * 100).cast("bigint").alias("x2"),
        (dec2("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    mom = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x1").cast("decimal(19,0)")).alias("sx1"),
        F.sum(F.col("x2").cast("decimal(19,0)")).alias("sx2"),
        F.sum(F.col("y").cast("decimal(19,0)")).alias("sy"),
        F.sum(F.col("x1").cast("decimal(19,0)") * F.col("x1").cast("decimal(19,0)")).alias("s11"),
        F.sum(F.col("x2").cast("decimal(19,0)") * F.col("x2").cast("decimal(19,0)")).alias("s22"),
        F.sum(F.col("x1").cast("decimal(19,0)") * F.col("x2").cast("decimal(19,0)")).alias("s12"),
        F.sum(F.col("x1").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")).alias("s1y"),
        F.sum(F.col("x2").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")).alias("s2y"),
    )
    return mom.selectExpr(
        "CAST(n AS BIGINT) AS n",
        f"CAST({_RIDGE_LAMBDA} AS BIGINT) AS lambda",
        *_ridge_outs(),
    )


def _ridge_outs() -> list[str]:
    """The three beta projections from _ridge_selects, as a list."""
    sel = _ridge_selects()
    body = sel.split("AS lambda, ", 1)[1]
    # split on ', ROUND' boundaries, re-prefixing
    parts = body.split(", ROUND(")
    return [parts[0]] + ["ROUND(" + p for p in parts[1:]]


_THEIL_LN = _duck_ln("cents * n", "sx")


@register(
    "q_theil_index",
    oracle=_SPEND_DUCK + f"""
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS sx
           FROM spend),
    terms AS (
      SELECT CAST(round(
               (CAST(cents AS DOUBLE) * n / sx) * {_THEIL_LN}, 9)
             AS DECIMAL(28,9)) AS t
      FROM spend, st WHERE cents > 0)
    SELECT (SELECT n FROM st) AS n_customers,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM spend WHERE cents = 0)
             AS n_zero,
           ROUND(CAST(SUM(t) AS DOUBLE) / (SELECT n FROM st), 6) AS theil_t
    FROM terms
    """,
    description="Theil T inequality index of customer spend — the "
    "decomposable companion of q_lorenz_gini (Theil splits exactly into "
    "within-group + between-group terms, the property Gini lacks): "
    "T = (1/n) Sum (x/mu) ln(x/mu) with x/mu carried as the exact "
    "integer rational x*n/S, the log on the engine-portable ratio ln, "
    "per-customer terms as DECIMAL(28,9) contributions (zero-spend "
    "customers contribute the x->0 limit 0 and are reported). SCALE: "
    "one join-rollup + a scalar frame + a map-side term projection",
    tags=("relational", "stats", "skew"),
)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.functions.portable_math import portable_ln_ratio

    spend = _customer_spend(spark, sf_dir)
    st = spend.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
    )
    joined = spend.crossJoin(F.broadcast(st))
    terms = joined.where(F.col("cents") > 0).select(
        F.round(
            (F.col("cents").cast("double") * F.col("n") / F.col("sx"))
            * portable_ln_ratio(F.col("cents") * F.col("n"), F.col("sx")),
            9,
        ).cast("decimal(28,9)").alias("t")
    )
    nz = joined.where(F.col("cents") == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_zero")
    )
    return (
        terms.agg(F.sum("t").alias("s"))
        .crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(nz))
        .selectExpr(
            "n AS n_customers",
            "n_zero",
            "ROUND(CAST(s AS DOUBLE) / n, 6) AS theil_t",
        )
    )
